package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** The REPEATABLE sf10 scale gate (round-16 verdict #1): round 16's
  * sf10 campaign was a manual one — ad-hoc ScaleGen invocations,
  * targeted Verify runs, results hand-recorded in COVERAGE.md — which
  * is exactly how q125's 19x payload-shuffle regression stayed
  * invisible until someone went looking. This main makes the campaign
  * a per-round artifact the way Bench is:
  *
  *   runMain graft.tools.ScaleGate <workDir> [flags]
  *     --skip-skew    skip the sf10-skew leg
  *     --skip-sf1     skip the sf1 leg (ratios then gate on walls only)
  *     --only=qA,qB   restrict the curve to the named families
  *     --out=path     where the JSON verdict lands (default
  *                    <workDir>/SCALE.json)
  *     --leg=curve|skew  (internal) run ONE leg in this JVM — the
  *                    orchestrator forks a fresh JVM per leg, because
  *                    a leg that OOMs must only take itself down and
  *                    accumulated driver state must not tip a later
  *                    leg over (both observed on the first full run)
  *
  * What it does, in order:
  *   1. REFUSES to run with any engine force flag set (pinned gates
  *      measure a route, not the engine) — the no-force-flags claim is
  *      enforced, not asserted after the fact;
  *   2. generates-or-reuses three corpora under <workDir>: sf1
  *      (x10 of sf0.1), sf10 (x100), sf10skew (x100 + skew blocks) —
  *      reuse keys on ScaleGen's _scalegen_meta.json marker (params +
  *      GenVersion), so a content change regenerates instead of gating
  *      stale data;
  *   3. runs the 11-family curve + the q125 bulk-serving route at sf1
  *      and sf10 (1 sample each + one retry if the band trips — this
  *      sandbox injects multi-ten-second stalls, and a single poisoned
  *      sample must not fail a round). Each LEG starts from a wiped
  *      warehouse and runs the families in curve order against the
  *      shared one — the round-16 reference semantics: the first
  *      query needing an artifact pays its build, later families
  *      attach, and the maintenance/patch queries measure their own
  *      contract instead of a from-nothing stack rebuild. The action
  *      is Verify's own (coalesce(1) parquet write), and the sf10
  *      dumps double as the CC-oracle inputs (#4);
  *   4. dumps oracle_sql.json alongside the sf10 results so
  *      `tools/cc_oracle.py <sf10Dir> <workDir>/dump_sf10` can verify
  *      the CC trio (q134/q154/q159) against a DuckDB-pairs +
  *      union-find oracle — the independent check DuckDB's recursive
  *      CTE could not deliver at 500k docs (round-16 verdict #2);
  *   5. runs the 6-query skew leg on sf10skew (band: wall vs the
  *      recorded reference, one retry), asserting non-empty results —
  *      q117's sf10-uniform vacuity is also closed corpus-side (the
  *      ScaleGen hh block), and the gate asserts rows > 0 everywhere;
  *   6. emits ONE machine-readable verdict (SCALE.json): per-leg
  *      walls, rows, ratios, band outcomes, peak heap, and a global
  *      `ok` — and exits non-zero if any family failed its band, any
  *      result was empty, or any query threw.
  *
  * Band rule per family: the sf10/sf1 ratio may drift to
  * ratioBand = refRatio * 2 + 2 before it FAILS — unless the absolute
  * sf10 wall is still within 1.75x of the recorded reference (a
  * stalled sf1 denominator must not fail the round). Anything past
  * [[HardRatioCap]] fails regardless: at 10x data that is the
  * quadratic scream threshold, the thing this gate exists to catch.
  * Reference walls are the round-18 measurements (SCALE_r18.json,
  * post the sorted-bucket layout fix) — re-baselined from round 16
  * so the bands track the engine as it speeds up.
  */
object ScaleGate {

  /** (family, sf1 reference wall s, sf10 reference wall s) — the
    * round-19 recorded curve (SCALE_r19.json, the final-tree full
    * gate). Re-baselined each round per the standing r18 practice:
    * gating against stale refs would let a 2x regression from TODAY's
    * walls pass (band = ratio*2+2 or wall*1.75). q134's 167.2 was the
    * round's drawn sample from a 160-222s single-sample spread — the
    * drain families now gate on median-of-3 (see [[DrainFamilies]])
    * precisely so one draw neither sets nor trips the band. */
  val Curve: Seq[(String, Double, Double)] = Seq(
    ("q93_incremental_dedup", 19.3, 42.9),
    ("q105_stream_incremental_dedup", 10.7, 43.0),
    ("q107_stream_index_bootstrap", 19.3, 144.3),
    ("q117_heavy_hitters", 3.8, 7.1),
    ("q125_ann_index_serve_large", 6.5, 65.0),
    ("q126_stream_ann_serve", 6.1, 82.3),
    ("q134_stream_components", 18.9, 167.2),
    ("q142_incremental_ngram", 29.6, 146.2),
    ("q147_ann_retraction", 3.4, 76.4),
    ("q154_retraction_publish", 3.1, 5.7),
    ("q159_retraction_publish_rebuild", 3.9, 6.8),
    ("q161_bench_retirement", 7.9, 18.5))

  /** (query, sf10-skew reference wall s) — round-19 recorded
    * (SCALE_r19.json), re-baselined with the curve. */
  val SkewLeg: Seq[(String, Double)] = Seq(
    ("q23_dedup_exact", 6.2),
    ("q26_ngram_jaccard", 101.3),
    ("q117_heavy_hitters", 12.8),
    ("q142_incremental_ngram", 141.8),
    ("q145_incremental_ngram_large", 97.2),
    ("q150_ngram_retraction", 69.8))

  /** Streaming-drain families whose sf10 walls are MULTI-SAMPLE
    * (round-19 verdict #3): single-sample drain walls on this box
    * swing ±25%+ — round 19's own A/B measured q107 at 140.1s and
    * 177.7s on identical code an hour apart, and q134 spanned
    * 160-222s across all three candidate plan shapes with rows exact
    * every time. A band verdict for these families must not hinge on
    * one draw: the gate takes median-of-3 within the leg's fresh JVM
    * and records the per-sample walls in the verdict JSON. */
  val DrainFamilies: Set[String] = Set(
    "q107_stream_index_bootstrap",
    "q134_stream_components",
    "q142_incremental_ngram")

  /** sf10/sf1 past this is quadratic-shaped whatever the reference
    * says (10x data; quadratic would read ~100x). */
  val HardRatioCap = 35.0

  /** Families whose sf1 REFERENCE wall is below this gate on the
    * absolute sf10 wall band only: a ~3s denominator makes the ratio
    * pure noise (q147 read 26.0 in round 18 with a flat sf10 wall —
    * the ratio moved because its sf1 wall shrank, not because anything
    * scaled badly). */
  val SmallDenominatorS = 5.0

  /** Gate-pinning env vars: a run with any of these set measures a
    * pinned route, not the engine's own gates. */
  val ForceFlags: Seq[String] = Seq(
    "SPARK_GRAFT_CC_DRIVER_MAX_BYTES",
    "SPARK_GRAFT_DELTA_BROADCAST_MAX_DOCS",
    "SPARK_GRAFT_DELTA_BROADCAST_MAX_BYTES",
    "SPARK_GRAFT_SEM_REBUILD_DEBT_FRACTION",
    "SPARK_GRAFT_RETRACT_REBUILD_DEBT_FRACTION",
    "SPARK_GRAFT_NGRAM_REBUILD_DEBT_FRACTION",
    "SPARK_GRAFT_STREAM_PARTITIONS",
    "SPARK_GRAFT_INITIAL_PARTITIONS")

  private def f(d: Double): String =
    if (d.isNaN) "NaN" // --skip-sf1 ratios; BigDecimal(NaN) throws
    else BigDecimal(d).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString

  /** Heap-cliff symptom taxonomy (round-17 verdict #6): a leg whose
    * first sample dies with an OOM SHAPE must fail the gate even when
    * the warm retry happens to pass — the retry exists for this
    * sandbox's multi-ten-second stalls, not to paper over memory
    * regressions. The shapes are the ones the 8 GiB cliff actually
    * produced across rounds 16-17: plain executor/driver OOMs, the
    * kryo-on-eviction crash (kryo has no serializer for the
    * HeapByteBuffer inside evicted storage blocks), and GC-overhead
    * deaths. */
  private[tools] def oomShaped(msg: String): Boolean = {
    val m = String.valueOf(msg)
    Seq("OutOfMemoryError", "Java heap space", "GC overhead",
      "HeapByteBuffer", "Unable to create serializer",
      "Total size of serialized results", "Not enough memory")
      .exists(m.contains)
  }

  /** Throwable form: walks the getCause chain AND suppressed exceptions
    * concatenating messages + class names before matching (round-18
    * ADVICE: an OOM wrapped in a driver-side exception whose message
    * omits the cause text would ride the lucky-retry path unflagged —
    * e.g. SparkException("Job aborted") caused by an OutOfMemoryError
    * with a null message, where only the CLASS NAME carries the shape). */
  private[tools] def oomShaped(e: Throwable): Boolean = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Throwable, java.lang.Boolean]())
    def walk(t: Throwable): Iterator[String] =
      if (t == null || !seen.add(t)) Iterator.empty
      else Iterator(t.getClass.getName, String.valueOf(t.getMessage)) ++
        t.getSuppressed.iterator.flatMap(walk) ++ walk(t.getCause)
    walk(e).exists(oomShaped)
  }

  /** Fork one leg into a FRESH JVM (same classpath, JDK17 add-opens
    * derived from this JVM's own args, same heap budget), streaming
    * its output through. A leg that OOMs or dies only takes its own
    * process down — the first full gate run proved why this matters:
    * all three legs shared one JVM, and ~2000 accumulated stages of
    * driver-side state (listener events, codegen caches, AQE stats)
    * tipped q142@skew into a task OOM that a fresh process never hits,
    * then took q145/q150 down with the stopped SparkContext. */
  private def forkLeg(leg: String, workDir: String,
      extraFlags: Seq[String]): Int = {
    import scala.jdk.CollectionConverters._
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .sliding(2).collect { case Seq("--add-opens", v) => Seq("--add-opens", v) }
      .flatten.toSeq
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",
      "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.ScaleGate", workDir, s"--leg=$leg") ++ extraFlags).asJava
    val p = new ProcessBuilder(cmd).redirectErrorStream(true).start()
    scala.io.Source.fromInputStream(p.getInputStream).getLines()
      .foreach(l => if (l.startsWith("[scalegate]")) println(l))
    p.waitFor()
  }

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse(
      sys.error("usage: ScaleGate <workDir> [--skip-skew] [--skip-sf1] [--only=..] [--out=..]"))
    val flags = args.drop(1)
    val skipSkew = flags.contains("--skip-skew")
    val skipSf1 = flags.contains("--skip-sf1")
    // plumbing-only mode: tiny corpora off sf0.001 (the bands still
    // evaluate, and pass trivially via the absolute-wall alternative —
    // this exercises generation/reuse/runs/dumps/JSON, not the bands)
    val smoke = flags.contains("--smoke")
    val leg = flags.find(_.startsWith("--leg="))
      .map(_.stripPrefix("--leg="))
    val only = flags.find(_.startsWith("--only="))
      .map(_.stripPrefix("--only=").split(",").map(_.trim).toSet)
    val outPath = flags.find(_.startsWith("--out="))
      .map(_.stripPrefix("--out=")).getOrElse(s"$workDir/SCALE.json")

    val forced = ForceFlags.filter(sys.env.contains)
    require(forced.isEmpty,
      s"refusing to gate with force flags set: ${forced.mkString(", ")}")

    // smoke skips the skew leg: full-size skew blocks (the gates are
    // fixed absolute contracts) dwarf a tiny base; SkewSpec covers the
    // skew machinery at spec scale
    val runSkew = !skipSkew && !smoke

    // ---- ORCHESTRATOR (no --leg): corpora, then one JVM per leg ----
    if (leg.isEmpty) {
      Files.createDirectories(Paths.get(workDir))
      val gen = graft.GraftSession.build(Some(s"$workDir/warehouse"))
      graft.GraftSession.quietNoisyLoggers()
      val src = if (smoke) "/root/testdata/sf0.001" else "/root/testdata/sf0.1"
      val (loCopies, hiCopies) = if (smoke) (2, 4) else (10, 100)
      ensureCorpus(gen, src, s"$workDir/sf1", loCopies, skew = false)
      ensureCorpus(gen, src, s"$workDir/sf10", hiCopies, skew = false)
      if (runSkew) ensureCorpus(gen, src, s"$workDir/sf10skew", 100, skew = true)
      gen.stop()

      val fwd = flags.filter(fl => fl.startsWith("--only=")
        || fl == "--smoke" || fl == "--skip-sf1")
      val curveRc = forkLeg("curve", workDir, fwd)
      val skewRc = if (runSkew) forkLeg("skew", workDir, fwd.filterNot(_ == "--skip-sf1"))
        else 0
      val ok = curveRc == 0 && skewRc == 0
      def part(p: String, fallback: String): String = {
        val f0 = Paths.get(workDir, p)
        if (Files.exists(f0)) Files.readString(f0) else fallback
      }
      val json = s"""{"metric":"scale_gate","ok":$ok,"work_dir":"$workDir",""" +
        s""""curve":${part("SCALE_curve.json", s"""{"ok":false,"rc":$curveRc}""")},""" +
        s""""skew":${part("SCALE_skew.json",
          if (runSkew) s"""{"ok":false,"rc":$skewRc}""" else "null")}}"""
      Files.writeString(Paths.get(outPath), json)
      println(json)
      if (!ok) sys.exit(1)
      return
    }

    // ---- LEG WORKER (--leg=curve | --leg=skew) ----
    // artifacts live under the gate's own warehouse so wipes are scoped
    // (static conf — set at build; leg workers are fresh JVMs)
    val warehouse = s"$workDir/warehouse"
    val spark = graft.GraftSession.build(Some(warehouse))
    graft.GraftSession.quietNoisyLoggers()
    val sf1Dir = s"$workDir/sf1"
    val sf10Dir = s"$workDir/sf10"
    val skewDir = s"$workDir/sf10skew"

    def wipeWarehouse(): Unit = {
      spark.catalog.clearCache()
      // bucketed artifacts are CATALOG tables over warehouse paths —
      // deleting the files alone leaves ghost tables in the same-JVM
      // catalog, and the next run attaches to them (tableExists short-
      // circuits the rebuild) and dies with FAILED_READ_FILE
      spark.sql(
        s"DROP DATABASE IF EXISTS ${graft.sources.DurableIndex.IndexDb} CASCADE")
      graft.streaming.Drain.rmQuietly(warehouse)
      // a rebuilt artifact lands at the SAME fingerprint-keyed path, so
      // the session's FileStatusCache would otherwise serve the wiped
      // generation's listing
      spark.catalog.refreshByPath(warehouse)
    }

    /** One timed run against the leg's SHARED warehouse (wiped once at
      * leg start, not per query): the round-16 reference campaign ran
      * the families sequentially against one fresh warehouse per
      * corpus, so the FIRST query needing an artifact pays its build
      * and later families attach — the maintenance/patch queries
      * (q154's O(|D|+affected) contract) measure their own work, not a
      * from-nothing rebuild of the whole artifact stack. The action is
      * Verify's own (coalesce(1) parquet write); rows counted untimed
      * off the dump. */
    def run(name: String, dir: String, dumpDir: String): (Double, Long) = {
      val dest = s"$dumpDir/$name"
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .coalesce(1).write.mode("overwrite").parquet(dest)
      val wall = (System.nanoTime() - t0) / 1e9
      // release the finished query's staged blocks (localCheckpoints)
      // NOW instead of waiting for GC + ContextCleaner: the round-16
      // reference campaign ran each query in its own process (zero
      // storage carryover), and without this the leg's later heavies
      // ran against megabytes-to-gigabytes of dead predecessors'
      // blocks — q145@skew died evicting them (passes alone) while
      // every durable artifact it actually needs is on disk
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      (wall, spark.read.parquet(dest).count())
    }

    val curve = Curve.filter { case (n, _, _) => only.forall(_.contains(n)) }
    val failures = scala.collection.mutable.ArrayBuffer[String]()

    // ---- sf1 leg (one fresh warehouse, families in curve order) ----
    val sf1Walls: Map[String, Double] =
      if (skipSf1 || leg.contains("skew")) Map.empty
      else {
        wipeWarehouse()
        curve.map { case (name, _, _) =>
          try {
            val w = run(name, sf1Dir, s"$workDir/dump_sf1")._1
            println(s"[scalegate] sf1 $name ${f(w)}s")
            name -> w
          } catch { case NonFatal(e) =>
            failures += s"$name@sf1: ${e.getMessage}"
            name -> Double.NaN
          }
        }.toMap
      }

    // ---- sf10 leg (one fresh warehouse; 1 sample per family; retry
    // once — warm — if the band trips, as stall mitigation) ----
    val sf10Dump = s"$workDir/dump_sf10"
    if (leg.contains("curve")) wipeWarehouse()
    val results = if (!leg.contains("curve")) Seq.empty
    else curve.map { case (name, refSf1, refSf10) =>
      def sample(): (Double, Long) = run(name, sf10Dir, sf10Dump)
      try {
        // one retry on a thrown first sample too (not only band trips):
        // transient stalls occasionally fail a task outright while the
        // context survives — the artifacts are durable, so a warm
        // second shot is sound; a dead context rethrows. An OOM-SHAPED
        // first sample is NOT retryable-away: it is recorded as a gate
        // failure even when the retry passes (round-17 verdict #6 —
        // a heap regression must fail loudly, not ride a lucky retry).
        var (wall, rows) =
          try sample() catch { case NonFatal(e)
              if !spark.sparkContext.isStopped =>
            val msg = String.valueOf(e.getMessage)
            if (oomShaped(e)) failures +=
              s"$name@sf10: OOM-shaped first sample (${msg.take(200)})"
            System.err.println(s"[scalegate] $name@sf10 first sample threw " +
              s"(${msg.take(120)}) — one retry")
            sample()
          }
        // drain families: median-of-3, per-sample walls recorded (see
        // [[DrainFamilies]] — a single draw must neither set nor trip
        // the band). The two extra samples rerun the full maintenance
        // contract against the standing artifacts, the same shape the
        // round-19 A/B campaigns compared.
        // each extra sample gets the SAME transient-retry mitigation as
        // the first (round-20 ADVICE: a bare sample() here let one
        // transient hiccup during sample 2 or 3 fail the whole family
        // as NaN); the OOM-shaped-loudness rule applies identically
        def sampleRetried(): Double =
          try sample()._1 catch { case NonFatal(e)
              if !spark.sparkContext.isStopped =>
            val msg = String.valueOf(e.getMessage)
            if (oomShaped(e)) failures +=
              s"$name@sf10: OOM-shaped extra sample (${msg.take(200)})"
            System.err.println(s"[scalegate] $name@sf10 extra sample threw " +
              s"(${msg.take(120)}) — one retry")
            sample()._1
          }
        val samples: Seq[Double] =
          if (DrainFamilies(name)) {
            val extra = Seq(sampleRetried(), sampleRetried())
            val all = wall +: extra
            wall = all.sorted.apply(all.size / 2)
            all
          } else Seq(wall)
        def ratio(w: Double): Double =
          sf1Walls.get(name).filterNot(_.isNaN).map(w / _).getOrElse(Double.NaN)
        val refRatio = refSf10 / refSf1
        def inBand(w: Double): Boolean = {
          val r = ratio(w)
          val wallOk = w <= refSf10 * 1.75
          // no sf1 denominator (--skip-sf1 / thrown sf1 sample): the
          // wall is the ONLY gate — a NaN ratio must not vacuously pass
          // (round-17 ADVICE: `r.isNaN || ...` disabled HardRatioCap
          // and the whole band under --skip-sf1)
          if (r.isNaN) wallOk
          // SMALL sf1 denominator (round-18 verdict #3): a family whose
          // reference sf1 wall is a few seconds has a MEANINGLESS ratio
          // — q147's sf1 dropped to 2.8s in r18 and its healthy, flat
          // sf10 wall read as ratio 26 against HardRatioCap 35, one
          // ambient stall from failing a round on denominator noise.
          // Below ~5s the absolute sf10 wall band is the whole gate.
          else if (refSf1 < SmallDenominatorS) wallOk
          else ((r <= refRatio * 2 + 2) || wallOk) && r <= HardRatioCap
        }
        var retried = false
        if (!inBand(wall) && !DrainFamilies(name)) {
          // single-sample families keep the one stall-mitigation
          // retry; a drain family's median-of-3 IS its mitigation —
          // a median outside the band is a real verdict, not a stall
          val (w2, _) = sample()
          wall = math.min(wall, w2); retried = true
        }
        val ok = inBand(wall) && rows > 0
        if (rows == 0) failures += s"$name@sf10: 0 rows (vacuous)"
        else if (!ok) failures +=
          f"$name@sf10: wall ${f(wall)}s ratio ${f(ratio(wall))} outside band (ref ${f(refSf10)}s / ${f(refRatio)}x)"
        println(s"[scalegate] sf10 $name ${f(wall)}s rows=$rows " +
          s"ratio=${f(ratio(wall))} ${if (ok) "OK" else "FAIL"}" +
          (if (retried) " (retried)" else "") +
          (if (samples.size > 1)
            s" (median of ${samples.map(f).mkString("/")})" else ""))
        (name, wall, rows, ratio(wall), ok, retried, samples)
      } catch { case NonFatal(e) =>
        val tag = if (oomShaped(e)) "[OOM-shaped] " else ""
        failures += s"$name@sf10: $tag${e.getMessage}"
        (name, Double.NaN, 0L, Double.NaN, false, false, Seq.empty[Double])
      }
    }
    // the CC-trio oracle inputs: the dumps above + the oracle SQL
    if (leg.contains("curve"))
      graft.Verify.writeOracleJson(s"$sf10Dump/oracle_sql.json")

    // ---- skew leg (one fresh warehouse) ----
    val doSkew = leg.contains("skew")
    if (doSkew) wipeWarehouse()
    val skewResults =
      if (!doSkew) Seq.empty
      else SkewLeg.filter { case (n, _) => only.forall(_.contains(n)) }
        .map { case (name, refWall) =>
          def sample(): (Double, Long) = run(name, skewDir, s"$workDir/dump_skew")
          try {
            // same thrown-sample retry + OOM-shape rules as the sf10 leg
            var (wall, rows) =
              try sample() catch { case NonFatal(e)
                  if !spark.sparkContext.isStopped =>
                val msg = String.valueOf(e.getMessage)
                if (oomShaped(e)) failures +=
                  s"$name@skew: OOM-shaped first sample (${msg.take(200)})"
                System.err.println(s"[scalegate] $name@skew first sample " +
                  s"threw (${msg.take(120)}) — one retry")
                sample()
              }
            def inBand(w: Double) = w <= refWall * 2 + 30
            var retried = false
            if (!inBand(wall)) { wall = math.min(wall, sample()._1); retried = true }
            val ok = inBand(wall) && rows > 0
            if (rows == 0) failures += s"$name@skew: 0 rows (vacuous)"
            else if (!ok) failures +=
              s"$name@skew: wall ${f(wall)}s outside band (ref ${f(refWall)}s)"
            println(s"[scalegate] skew $name ${f(wall)}s rows=$rows " +
              s"${if (ok) "OK" else "FAIL"}${if (retried) " (retried)" else ""}")
            (name, wall, rows, ok, retried)
          } catch { case NonFatal(e) =>
            val tag = if (oomShaped(e)) "[OOM-shaped] " else ""
            failures += s"$name@skew: $tag${e.getMessage}"
            (name, Double.NaN, 0L, false, false)
          }
        }

    val ok = failures.isEmpty
    def jm(entries: Seq[(String, String)]): String =
      entries.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    def jnum(d: Double): String = if (d.isNaN) "null" else f(d)
    val legEntries =
      if (doSkew) Seq(
        "skew" -> jm(skewResults.map(r => r._1 -> jm(Seq(
          "wall" -> jnum(r._2), "rows" -> r._3.toString,
          "ok" -> r._4.toString, "retried" -> r._5.toString)))))
      else Seq(
        "sf1" -> jm(sf1Walls.toSeq.sortBy(_._1).map { case (k, v) => k -> jnum(v) }),
        "sf10" -> jm(results.map(r => r._1 -> jm(Seq(
          "wall" -> jnum(r._2), "rows" -> r._3.toString,
          "ratio" -> jnum(r._4), "ok" -> r._5.toString,
          "retried" -> r._6.toString) ++
          (if (r._7.size > 1)
            Seq("samples" -> r._7.map(jnum).mkString("[", ",", "]"))
          else Seq.empty)))))
    val json = jm(Seq("ok" -> ok.toString) ++ legEntries ++ Seq(
      "failures" -> failures.map(s =>
          "\"" + s.replace("\\", "/").replace("\"", "'")
            .replace("\n", " ").replace("\r", " ").replace("\t", " ")
            .filter(_ >= ' ').take(400) + "\"")
        .mkString("[", ",", "]"),
      "peak_heap_mb" -> graft.Bench.peakHeapMb().toString))
    Files.writeString(Paths.get(s"$workDir/SCALE_${leg.get}.json"), json)
    println(json)
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Generate the corpus unless a matching ScaleGen marker proves the
    * existing one current (params + content version). */
  private def ensureCorpus(spark: SparkSession, src: String, out: String,
      copies: Int, skew: Boolean): Unit = {
    val marker = Paths.get(out).resolve(ScaleGen.MetaFile)
    val want = ScaleGen.metaJson(src, copies, skew)
    val current = Files.exists(marker) && Files.readString(marker) == want
    if (current) println(s"[scalegate] reusing $out")
    else {
      println(s"[scalegate] generating $out (x$copies${if (skew) " skew" else ""})")
      graft.streaming.Drain.rmQuietly(out)
      ScaleGen.generate(spark, src, out, copies, skew)
    }
  }
}
