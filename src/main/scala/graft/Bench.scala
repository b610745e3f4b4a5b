package graft

import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Benchmark main. Runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints ONE machine-parseable JSON line (also written to
  * `bench_out.json` as a belt-and-braces copy — round-1's number was lost
  * to sbt log decoration).
  *
  * Methodology (round-3 revision, per VERDICT.md round 2):
  *   - one untimed warm-up pass first, so JVM/codegen/datasource init cost
  *     is not attributed to whichever query happens to run first;
  *   - queries run in stable (sorted-by-name) order;
  *   - each query is timed `iters` (default 5) times and the MIN is
  *     reported: this sandbox injects intermittent multi-ten-second stalls
  *     (round-2 verdict measured q1 at {9.8,2.0,1.6,68.3,5.6,2.0}s for an
  *     identical plan), so median-of-3 frequently lands on a spike; min-of-k
  *     is the standard robust statistic for noisy environments. ALL samples
  *     are emitted per query (in bench_out.json) so spikes stay visible;
  *   - iterations are interleaved round-robin across queries (round-4
  *     revision): one stall window then poisons at most one sample per
  *     query instead of all k samples of whichever query it spans;
  *   - the action is a noop-format write, not count(): count() lets
  *     Catalyst prune every computed column, turning projection-heavy
  *     queries into dead code. The noop sink materializes every row and
  *     column without disk cost;
  *   - a failing query is reported as `null` in the queries map (never a
  *     sentinel a naive consumer could sum) plus an entry in `"failed"`,
  *     and flips the exit code;
  *   - only NonFatal errors are swallowed per-query: a fatal JVM error
  *     (OOM etc.) aborts the whole run rather than "timing" later queries
  *     in a degraded JVM.
  */
object Bench {

  private def runOnce(spark: SparkSession, sfDir: String,
      name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "5").toInt
    // session confs + rationale live in ONE place (round-16 advice):
    // GraftSession — Bench/Verify/ScaleGen/ScaleGate all build there,
    // and Drain.withStreamConfs pins GraftSession.InitialPartitionsKey.
    val spark = GraftSession.build()
    // The driver parses the LAST ~2000 chars of stdout+stderr for the
    // bench line; chatty-but-intentional WARNs (global bounded-small
    // windows, locally-checkpointed staging RDDs, per-stream AQE
    // advisories) would crowd that tail window — silence the emitting
    // loggers only (history: rounds 8/9, see GraftSession).
    GraftSession.quietNoisyLoggers()

    // optional comma-separated filter for local iteration on a subset
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val failed = scala.collection.mutable.ArrayBuffer[String]()

    // Warm-up: one full untimed pass (JIT, codegen cache, FS metadata).
    names.foreach { n =>
      try runOnce(spark, sfDir, n)
      catch { case NonFatal(_) => () } // recorded on the timed pass
    }

    // Interleave iterations round-robin (outer loop = pass number, inner
    // = query) so one sandbox stall window cannot own all k samples of a
    // single query: consecutive same-query iterations put every sample
    // inside the window (round-3 driver run: q12, a trivial 20k-row
    // scan, "measured" min 7.4s that way). With round-robin, a window
    // poisons at most one sample per query and min-of-k recovers.
    val samples = scala.collection.mutable.LinkedHashMap(
      names.map(_ -> scala.collection.mutable.ArrayBuffer[Double]()): _*)
    for (_ <- 1 to iters; n <- names) {
      val t0 = System.nanoTime()
      try { runOnce(spark, sfDir, n); samples(n) += (System.nanoTime() - t0) / 1e9 }
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] $n failed: ${e.getMessage}")
      }
    }
    val results: Seq[(String, Seq[Double])] = names.map { n =>
      if (samples(n).isEmpty) failed += n
      n -> samples(n).toSeq
    }

    val compact = compactJson(results, failed.toSeq, sfDir)
    println(compact)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"),
      fullJson(results, failed.toSeq, iters, sfDir, peakHeapMb()))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  private def f(d: Double, scale: Int): String =
    BigDecimal(d).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString

  /** The ONE stdout line the driver parses. The driver's harness keeps only
    * the LAST ~2000 characters of the run's output (sbt's trailing
    * "[success] Total time ..." line included), and json-parses what it
    * finds there — rounds 1/3/4 each lost their bench numbers because this
    * line carried per-query samples arrays and ran ~6 KB, so the tail
    * window cut its head off and the parse failed (BENCH_r0{1,3,4}.json:
    * `"parsed": null`; round 2's short 14-query line parsed fine). So:
    * 1-decimal minima only, no samples, sf as basename, and (round-7
    * revision, after the worst-case budget went 1884 > 1880 at 81
    * queries) per-query keys are the short `qNN` prefix — the contract's
    * own example shape (`{"q1":sec,...}`). Each query now costs
    * ~len("qNN")+8 chars, giving >25% headroom at 100 queries. Full
    * names + full-precision samples live in bench_out.json, which is
    * committed with the repo. BenchFormatSpec asserts the budget.
    */
  /** Compact stdout key for a query name: `q114_foo` -> `114`. The `q`
    * prefix is dropped on the one-line driver-facing summary only
    * (~150 chars back inside the driver's 2000-char tail window at the
    * current query count — BenchFormatSpec's growth guard was within a
    * few chars of its ceiling with the prefix on); `bench_out.json`
    * keeps full query names. */
  def shortName(n: String): String = {
    val p = n.takeWhile(_ != '_')
    if (p.length > 1 && p.head == 'q' && p.tail.forall(_.isDigit)) p.tail else n
  }

  def compactJson(results: Seq[(String, Seq[Double])], failed: Seq[String],
      sfDir: String): String = {
    val qs = results.map { case (k, ss) =>
      val v = if (ss.isEmpty) "null" else f(ss.min, 1)
      s""""${shortName(k)}":$v"""
    }.mkString("{", ",", "}")
    val fs = failed.map(x => s""""${shortName(x)}"""").mkString("[", ",", "]")
    val total = results.flatMap { case (_, ss) => ss.minOption }.sum
    val sfLabel = new java.io.File(sfDir).getName
    s"""{"metric":"total","value":${f(total, 2)},"unit":"sec","queries":$qs,"failed":$fs,"sf":"$sfLabel"}"""
  }

  /** High-water heap across all pools — the cross-scale memory-headroom
    * evidence (an sf1 run fitting the same heap as sf0.1 is the no-OOM
    * claim made measurable). Peak-usage counters, not current usage, so
    * GC timing doesn't hide the high-water mark. */
  def peakHeapMb(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L))
      .sum / (1024 * 1024)
  }

  /** Belt-and-braces full-precision record written to bench_out.json:
    * 4-decimal minima plus ALL samples so stall spikes stay visible. */
  def fullJson(results: Seq[(String, Seq[Double])], failed: Seq[String],
      iters: Int, sfDir: String, peakMb: Long = -1L): String = {
    val qs = results.map { case (k, ss) =>
      val v = if (ss.isEmpty) "null" else f(ss.min, 4)
      s""""$k":$v"""
    }.mkString("{", ",", "}")
    val samplesJson = results.map { case (k, ss) =>
      s""""$k":[${ss.map(f(_, 4)).mkString(",")}]"""
    }.mkString("{", ",", "}")
    val fs = failed.map(x => s""""$x"""").mkString("[", ",", "]")
    val total = results.flatMap { case (_, ss) => ss.minOption }.sum
    val peak = if (peakMb >= 0) s""","peak_heap_mb":$peakMb""" else ""
    s"""{"metric":"total","value":${f(total, 4)},"unit":"sec","queries":$qs,"samples":$samplesJson,"failed":$fs,"iters":$iters,"stat":"min"$peak,"sf":"$sfDir"}"""
  }
}
