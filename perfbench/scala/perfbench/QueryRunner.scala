package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}

/** Closed-loop driver of the declared queries: one client, each op starts
  * when the previous one returns. An op is one query as the program's own
  * bench runs it: the `SparkEntry.queries(name)` build call, then a
  * noop-format write of the result.
  *
  * Usage: `QueryRunner <dataDir> <orderFile> <seconds> <trace 0|1> <outDir>`
  *
  * `orderFile` holds one pass per line (comma-separated query names; line
  * 1 is the warm-up order, line 2 the check order). Phases:
  *
  *   1. set-up: `GraftSession.build`, then one warm-up pass of ops, with
  *      streaming starts and durable writes observed per op. A warm-up
  *      op writes its result to `<outDir>/warm/<query>` as parquet
  *      instead of the noop sink: that is the correctness record;
  *   2. timed: whole passes until `seconds` have elapsed (at least one);
  *      with trace on, the first half runs untraced and the rest with the
  *      span listeners registered, so their overhead can be read off;
  *   3. check: every query runs once more and writes its result to
  *      `<outDir>/check/<query>`, so a result that changes once a query's
  *      artifacts exist shows against the record.
  *
  * Writes `<outDir>/result.json` and, with trace on, `<outDir>/spans.jsonl`.
  */
object QueryRunner {

  final case class Op(pass: Int, name: String, start: Long, built: Long, end: Long,
      traced: Boolean, error: Option[String])

  private def now(): Long = System.currentTimeMillis()

  /** Declaring module of a query: the object its run function lives in. */
  private def family(fn: AnyRef): String =
    fn.getClass.getName.stripPrefix("graft.queries.").takeWhile(_ != '$')

  private def timed(spark: SparkSession, pass: Int, name: String,
      fn: (SparkSession, String) => DataFrame, dir: String, traced: Boolean,
      write: DataFrame => Unit): Op = {
    def failure(e: Throwable) = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    val t0 = now()
    var built = -1L
    var df: DataFrame = null
    val err = try {
      df = fn(spark, dir)
      built = now()
      write(df)
      None
    } catch { case NonFatal(e) => failure(e) }
    Op(pass, name, t0, if (built < 0) now() else built, now(), traced, err)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def dumpTo(path: String)(df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  def main(args: Array[String]): Unit = {
    val Array(dataDir, orderFile, secondsArg, traceArg, outDir) = args.take(5)
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    import scala.jdk.CollectionConverters._
    val passes = Files.readAllLines(Paths.get(orderFile)).asScala.toSeq
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).filter(_.nonEmpty)

    val t0 = now()
    val spark = GraftSession.build()
    GraftSession.quietNoisyLoggers()
    val sessionMs = now() - t0
    val queries = SparkEntry.queries
    val families = queries.map { case (n, fn) => n -> family(fn) }

    // warm-up: observe streaming starts and durable writes per op
    val plans = new PlanTracer
    val streams = new StreamTracer
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
    val warm = passes.head.map(n =>
      timed(spark, 0, n, queries(n), dataDir, traced = false, dumpTo(s"$outDir/warm/$n")))
    PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
    val warmSpans = Trace.all
    Trace.clear()
    val setupMs = now() - t0
    val observed = warm.map { op =>
      val in = warmSpans.filter(s => s.start >= op.start && s.start <= op.end)
      op.name -> Map(
        "stream_starts" -> in.count(_.kind == "stream"),
        "durable_writes" -> in.count(s => s.kind == "plan" &&
          s.attrs.get("durable_write").contains(true) && !s.attrs.get("target").exists(
            _.toString.contains(s"$outDir/warm/${op.name}"))))
    }

    // timed passes
    val ops = ArrayBuffer[Op]()
    val jobs = new JobTracer
    val tStart = now()
    var traced = false
    var p = 1
    while (p == 1 || now() - tStart < seconds * 1000 || (trace && !ops.exists(_.traced))) {
      if (trace && !traced && p > 1 && now() - tStart >= seconds * 500) {
        spark.sparkContext.addSparkListener(jobs)
        spark.listenerManager.register(plans)
        spark.streams.addListener(streams)
        traced = true
      }
      val order = passes((p - 1) % (passes.size - 2) + 2)
      order.foreach { n =>
        val id = Trace.nextId()
        if (traced) spark.sparkContext.setLocalProperty(Trace.OpProperty, id.toString)
        val op = timed(spark, p, n, queries(n), dataDir, traced, noop)
        ops += op
        if (traced) {
          Trace.add(Span(id, n, "op", op.start, op.end, 0L,
            Map("pass" -> p, "family" -> families(n), "error" -> op.error)))
          Trace.span("build", "build", op.start, op.built, id)
          Trace.span("exec", "exec", op.built, op.end, id)
        }
      }
      p += 1
    }
    val tEnd = now()
    if (traced) {
      PerfbenchBus.drain(spark.sparkContext)
      Trace.dump(s"$outDir/spans.jsonl")
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
      spark.streams.removeListener(streams)
    }
    val checks = passes(1).map(n =>
      timed(spark, -1, n, queries(n), dataDir, traced = false, dumpTo(s"$outDir/check/$n")))

    graft.Verify.writeOracleJson(s"$outDir/oracle_sql.json")

    def opJson(o: Op): Map[String, Any] = Map("pass" -> o.pass, "name" -> o.name,
      "start" -> o.start, "built" -> o.built, "end" -> o.end, "traced" -> o.traced,
      "error" -> o.error, "family" -> families.getOrElse(o.name, "unknown"))
    val result = Json.obj(Seq(
      "session_s" -> sessionMs / 1000.0,
      "setup_s" -> setupMs / 1000.0,
      "timed_start" -> tStart, "timed_end" -> tEnd,
      "warm" -> warm.map(opJson),
      "observed" -> observed.toMap,
      "ops" -> ops.map(opJson),
      "checks" -> checks.map(opJson),
      "jvm" -> Jvm.stats()))
    Files.writeString(Paths.get(s"$outDir/result.json"), result)
    spark.stop()
  }
}
