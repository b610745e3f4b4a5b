package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.pipeline.MedallionJob
import graft.sinks.TableSink

/** Closed-loop driver of the medallion pipeline inside one JVM: one
  * client, each op is one `MedallionJob.run(spark, dropDir)` call and
  * starts when the previous one (and its output check) returned.
  *
  * Usage: `MedallionRunner <warehouseDir> <dropsFile> <seconds> <trace 0|1> <outDir>`
  *
  * `dropsFile` holds one drop directory per line: the multi-day backfill
  * first, then the single-day drops. The session is the one
  * `MedallionJob.main` builds (Hive catalog with a derby metastore inside
  * the warehouse). Phases:
  *
  *   1. set-up: the session, then the backfill op, which also warms the
  *      JVM up (it is the first call);
  *   2. timed: whole passes over the daily drops, in order, until
  *      `seconds` have elapsed (at least one). Before every later pass
  *      the databases are dropped and the backfill is loaded again,
  *      untimed. With trace on, the first pass runs untraced and the
  *      rest with the span listeners registered.
  *
  * After every op the runner prints `PERFBENCH <json>` with the op's
  * times and the pipeline's report, and waits for a line on stdin: the
  * caller checks the warehouse in between, outside the op's time.
  * Writes `<outDir>/result.json` and, with trace on, `<outDir>/spans.jsonl`.
  */
object MedallionRunner {

  final case class Op(pass: Int, drop: Int, start: Long, end: Long, timed: Boolean,
      traced: Boolean, report: Option[MedallionJob.RunReport], error: Option[String])

  private def now(): Long = System.currentTimeMillis()

  private def reportJson(r: MedallionJob.RunReport): Map[String, Any] = Map(
    "source" -> r.source.map(s =>
      s.country -> Map("loaded" -> s.loaded, "skipped" -> s.skipped)).toMap,
    "curated_total" -> r.curated.toMap,
    "fact_rows_added" -> r.fact)

  def main(args: Array[String]): Unit = {
    val Array(warehouse, dropsFile, secondsArg, traceArg, outDir) = args.take(5)
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    import scala.jdk.CollectionConverters._
    val drops = Files.readAllLines(Paths.get(dropsFile)).asScala.toSeq.map(_.trim).filter(_.nonEmpty)
    val caller = new BufferedReader(new InputStreamReader(System.in))

    val t0 = now()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(Runtime.getRuntime.availableProcessors, 32).toString)
    // the session MedallionJob.main builds
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.expr.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$warehouse/_metastore;create=true")
      .config("spark.ui.enabled", "false")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = now() - t0

    val ops = ArrayBuffer[Op]()
    def op(pass: Int, drop: Int, timed: Boolean, traced: Boolean): Unit = {
      val id = Trace.nextId()
      if (traced) spark.sparkContext.setLocalProperty(Trace.OpProperty, id.toString)
      val s = now()
      val (report, err) =
        try (Some(MedallionJob.run(spark, drops(drop))), None)
        catch { case NonFatal(e) => (None, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
      val o = Op(pass, drop, s, now(), timed, traced, report, err)
      ops += o
      if (traced) {
        Trace.add(Span(id, s"drop $drop", "op", o.start, o.end, 0L, Map("pass" -> pass)))
        PerfbenchBus.drain(spark.sparkContext)
      }
      println("PERFBENCH " + Json.obj(Seq("pass" -> o.pass, "drop" -> o.drop,
        "start" -> o.start, "end" -> o.end, "timed" -> timed, "error" -> o.error,
        "report" -> o.report.map(reportJson))))
      System.out.flush()
      caller.readLine()
    }

    op(0, 0, timed = false, traced = false)
    val setupMs = now() - t0

    val jobs = new JobTracer
    val plans = new PlanTracer
    val tStart = now()
    var traced = false
    var p = 1
    while (p == 1 || now() - tStart < seconds * 1000 || (trace && !traced)) {
      if (trace && p > 1 && !traced) {
        spark.sparkContext.addSparkListener(jobs)
        spark.listenerManager.register(plans)
        traced = true
      }
      if (p > 1) {
        TableSink.Databases.foreach(db => spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE"))
        op(p, 0, timed = false, traced)
      }
      drops.indices.drop(1).foreach(i => op(p, i, timed = true, traced))
      p += 1
    }
    if (traced) {
      PerfbenchBus.drain(spark.sparkContext)
      Trace.dump(s"$outDir/spans.jsonl")
    }

    def opJson(o: Op): Map[String, Any] = Map("pass" -> o.pass, "drop" -> o.drop,
      "start" -> o.start, "end" -> o.end, "timed" -> o.timed, "traced" -> o.traced,
      "error" -> o.error)
    val result = Json.obj(Seq(
      "session_s" -> sessionMs / 1000.0,
      "setup_s" -> setupMs / 1000.0,
      "ops" -> ops.map(opJson),
      "jvm" -> Jvm.stats()))
    Files.writeString(Paths.get(s"$outDir/result.json"), result)
    spark.stop()
  }
}
