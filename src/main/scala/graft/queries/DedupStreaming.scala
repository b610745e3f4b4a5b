package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CrossEngine._
import graft.sources.{DurableIndex, Tables}
import graft.streaming.Drain

/** The dedup family's streaming drains (q105/q107/q113/q114/q116/q134/q151)
  * over the [[graft.streaming.Drain]] skeleton, and the family's size
  * gates.
  *
  * Pure round-16 refactor: split out of the 3,300-line DedupQueries.scala
  * verbatim (self-typed to the object so cross-family references keep
  * resolving; `private` widened to `private[queries]` — traits cannot
  * share plain-private members — and derived vals made lazy so trait
  * initialization order can never observe an unset field). */
trait DedupStreaming { self: DedupQueries.type =>

  // ---- streaming drains (q105/q107/q113/q114) --------------------------

  /** The stream-grown band index's column spec for
    * [[DurableIndex.compactBucketed]]. */
  private[graft] lazy val BandIndexCols = Seq("doc_id", "band_idx", "band_key")

  /** Pre-create the EMPTY stream-grown band index: band schema,
    * batch_id partitioning (replay idempotency), 16-bucket band_key
    * layout — pure DDL, replacing the limit(0) bucketed write that
    * cost a job + commit per q107/q134 invocation. */
  private def bandIndexSink(s: SparkSession, name: String): Drain.Sink =
    Drain.Sink(name, table => s.sql(s"""CREATE TABLE $table
             |(doc_id BIGINT, band_idx INT, band_key STRING, batch_id BIGINT)
             |USING parquet PARTITIONED BY (batch_id)
             |CLUSTERED BY (band_key) SORTED BY (band_key) INTO 16 BUCKETS
             |""".stripMargin): Unit)

  /** q151's body: the q143 retraction LIVE — a takedown FEED (DMCA
    * notices, licensing pulls) drained as 3 ordered drops of delete
    * ids. Each micro-batch lands only its delete-id shard into the
    * DELETE LOG (the audit trail a real pipeline must keep anyway),
    * batch_id-overwritten for replay idempotency — though retraction
    * is the one maintenance direction that is idempotent BY NATURE:
    * anti-joins absorb duplicate delete ids, so even a double-applied
    * shard could not corrupt the result (the partition overwrite is
    * defense-in-depth, not the load-bearing wall it is for the
    * add-merge sinks). Post-drain, ONE [[retractMaintain]] over the
    * union of shards — sound because deletions COMMUTE and FOLD:
    * retract(retract(S, D1), D2) == retract(S, D1 ∪ D2), both equal
    * the rebuild over corpus-minus-all (RetractionSpec proves the
    * sequential form). == batch q143, verbatim oracle. */
  private[graft] def streamRetraction(s: SparkSession, dir: String,
      chaos: Long => Unit = _ => (),
      scratch: Option[(String, String)] = None,
      resume: Boolean = false): DataFrame = {
    val docs = Tables.documents(s, dir)
    // the standing artifacts exist before a takedown stream starts
    bandIndexTable(s, dir)
    pairIndexTable(s, dir)
    ccIndexTable(s, dir)
    val log = Drain.batchSink(s, "stream_delete_log", "doc_id" -> "bigint")
    val dels = docs.filter(col("doc_id") % 10 === 3).select("doc_id")
    Drain.drops(s, dir, "q151", "documents.parquet", Seq(log),
        chaos, scratch, resume)(
      i => dels.filter(pmod(col("doc_id"), lit(3)) === i)) { (batch, batchId) =>
      Drain.shard(batch.select("doc_id"), log.table, batchId)
    }
    DurableIndex.compactSink(s, log.table): Unit
    val (_, _, labels1) = retractMaintain(bandIndexTable(s, dir),
      pairIndexTable(s, dir), ccIndexTable(s, dir),
      s.table(log.table).select("doc_id"))
    labelCorpus(
      docs.filter(col("doc_id") % 10 =!= 3 && col("doc_id") % 10 =!= 7),
      labels1)
  }

  /** q105's body: the incremental contract LIVE. The arriving batch
    * lands as 3 parquet file drops; each micro-batch runs the identical
    * delta-vs-index probe and lands its own batch_id shard of the
    * sink. */
  private[graft] def streamIncrementalDedup(s: SparkSession, dir: String,
      chaos: Long => Unit = _ => (),
      scratch: Option[(String, String)] = None,
      resume: Boolean = false): DataFrame = {
    // force-build the index on THIS session before the stream starts
    // (micro-batches run on a cloned session sharing the catalog)
    bandIndexTable(s, dir)
    val out = Drain.batchSink(s, "stream_inc_dedup",
      "delta_id" -> "bigint", "corpus_id" -> "bigint", "jaccard" -> "double")
    // the arriving batch staged as 3 file drops (split by doc_id)
    val delta = Tables.documents(s, dir).filter(col("doc_id") % 10 === 7)
    Drain.drops(s, dir, "q105", "documents.parquet", Seq(out),
        chaos, scratch, resume, width = Drain.textStreamWidth(s, dir))(
      i => delta.filter(pmod(col("doc_id"), lit(3)) === i)) { (batch, batchId) =>
      // batch.sparkSession is the stream's clone — shares the
      // catalog, so the index resolves without a rebuild
      Drain.shard(incrementalMatches(batch.sparkSession, dir, batch),
        out.table, batchId)
    }
    s.table(out.table).select("delta_id", "corpus_id", "jaccard")
  }

  /** q113's body: the semantic incremental contract LIVE — q105's
    * drain shape with the per-micro-batch work swapped for the
    * semantic probe: assign the batch through the persisted codebook,
    * broadcast-probe the persisted block index, keeper-reduce. The
    * keeper argmin is safe per-batch because the index is static
    * corpus-side and the drops partition the delta — each delta vector
    * is scored against the FULL standing corpus in exactly one batch. */
  private[graft] def streamSemanticDedup(s: SparkSession, dir: String,
      chaos: Long => Unit = _ => (),
      scratch: Option[(String, String)] = None,
      resume: Boolean = false): DataFrame = {
    // force-build codebook + block index on THIS session before the
    // stream starts (micro-batches run on a clone sharing the catalog)
    SimilarityQueries.semBlockIndexTable(s, dir)
    val out = Drain.batchSink(s, "stream_sem_dedup",
      "vec_id" -> "bigint", "keeper_id" -> "bigint", "cosine" -> "double")
    val delta = Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 7)
    Drain.drops(s, dir, "q113", "embeddings.parquet", Seq(out),
        chaos, scratch, resume)(
      i => delta.filter(pmod(col("vec_id"), lit(3)) === i)) { (batch, batchId) =>
      val hits = SimilarityQueries.semIndexProbeOf(batch.sparkSession, dir, batch)
        .localCheckpoint()
      val keep = hits.groupBy("d_id").agg(min(col("c_id")).as("keeper_id"))
      Drain.shard(hits.join(keep, Seq("d_id"))
        .filter(col("c_id") === col("keeper_id"))
        .select(col("d_id").as("vec_id"), col("keeper_id"), col("cosine")),
        out.table, batchId)
    }
    s.table(out.table).select("vec_id", "keeper_id", "cosine")
  }

  /** q134's body: streaming COMPONENT maintenance — q107's drain shape
    * (ordered drops, stream-grown band index, index-minus-own-partition
    * replay rule) emitting EDGE SHARDS instead of match rows, folded
    * post-drain into the q131 star-edge merge. Edge completeness per
    * batch: within-batch pairs from the all-pairs pipeline on the
    * batch's own shingles; cross pairs from ONE probe against the
    * UNION of the standing corpus band index and the grown delta index
    * so far (earlier drops' bands) — so a delta-delta pair across
    * drops is mined exactly once, by the later drop's batch. Shards
    * are a pure function of (batch, committed prior state), so the
    * batch_id dynamic overwrite makes replays idempotent. */
  private[graft] def streamComponents(s: SparkSession, dir: String,
      chaos: Long => Unit = _ => (),
      scratch: Option[(String, String)] = None,
      resume: Boolean = false,
      compact: Boolean = true,
      forceLarge: Option[Boolean] = None): DataFrame = {
    val docs = Tables.documents(s, dir)
    // the standing artifacts exist before a maintenance stream starts
    bandIndexTable(s, dir)
    ccIndexTable(s, dir)
    val idx = bandIndexSink(s, "stream_cc_bands")
    val out = Drain.batchSink(s, "stream_cc_edges",
      "doc_a" -> "bigint", "doc_b" -> "bigint")
    val delta = docs.filter(col("doc_id") % 10 === 7)
    Drain.drops(s, dir, "q134", "documents.parquet", Seq(idx, out),
        chaos, scratch, resume, width = Drain.textStreamWidth(s, dir),
        schema = Some(docs.schema))(
      i => delta.filter(pmod(col("doc_id"), lit(3)) === i)) { (batch, batchId) =>
      val ss = batch.sparkSession
      ss.catalog.refreshTable(idx.table)
      val batchSh = shingle(batch).localCheckpoint()
      // the batch's bands feed THREE consumers (cross probe,
      // within-batch self-join, index append): staged once.
      // LAZY (the q158 rule): the first consuming job
      // materializes the blocks — consumers inside one job share
      // the RDD (one stage), so laziness saves the dedicated
      // staging job per micro-batch without recompute
      val batchBands = sigBands(batchSh).localCheckpoint(eager = false)
      val soFar = ss.table(idx.table)
        .filter(col("batch_id") =!= batchId)
        .select("doc_id", "band_idx", "band_key")
      // standing index and stream-grown index probed as SEPARATE
      // bucketed relations: their union has no partitioning, so
      // EnsureRequirements re-Exchanged the corpus-sized standing
      // bands every micro-batch — free on local[32] (no network),
      // a corpus-sized network shuffle per batch on a real
      // cluster (see matchesAgainstIndex.extraIndexes)
      val cross = matchesAgainstIndex(ss, dir, batchSh,
          bandIndexTable(ss, dir), forceLarge,
          deltaBandsOpt = Some(batchBands),
          extraIndexes = Seq(soFar))
        .select(least(col("delta_id"), col("corpus_id")).as("doc_a"),
          greatest(col("delta_id"), col("corpus_id")).as("doc_b"))
      val within = minhashPairsOf(batchSh, Some(batchBands))
        .select("doc_a", "doc_b")
      // edge-shard write and index append overlapped (guide
      // §2.6; see Drain.overlapWrites): independent sinks, both
      // batch_id dynamic overwrites, replay-safe in either
      // commit order. The append's repartition into the bucket
      // hash lands 16 files (one per bucket), not one per
      // (task x bucket) — the batch is drop-sized, the shuffle
      // trivial, and the commit fans out 4x fewer files
      Drain.overlapWrites {
        Drain.shard(within.unionByName(cross), out.table, batchId)
      } {
        Drain.shard(batchBands.repartition(16, col("band_key")), idx.table, batchId)
      }
    }
    if (compact) {
      // the checkpoint barrier has passed: fold both stream-grown
      // artifacts' per-batch fragments — the grown band index through
      // the bucket spec, the edge shards as a plain sink. The two
      // folds touch DIFFERENT tables and publish write-aside with a
      // pointer flip each, so they run concurrently (overlapWrites,
      // guide §2.6) like the per-batch writes do
      Drain.overlapWrites {
        DurableIndex.compactBucketed(s, idx.table, BandIndexCols, "band_key"): Unit
      } {
        DurableIndex.compactSink(s, out.table): Unit
      }
    }
    val standing = ccIndexTable(s, dir)
    val starEdges = standing.filter(col("doc_id") =!= col("label"))
      .select(col("doc_id").as("doc_a"), col("label").as("doc_b"))
    val (labels, _) = connectedComponents(
      starEdges.unionByName(s.table(out.table).select("doc_a", "doc_b")))
    labelCorpus(docs, labels)
  }

  /** q107's body: streaming INDEX MAINTENANCE — an initially empty
    * bucketed band index grown by the stream itself, each micro-batch
    * matched against the index so far and then appended to it.
    *
    * Idempotency under foreachBatch's at-least-once replay: both the
    * match sink and the index are batch_id-partitioned and
    * dynamic-overwritten, and the probe reads the index MINUS the
    * current batch's own partition — a replayed batch has already
    * appended its bands once, and probing them back would self-match
    * the batch. Post-drain, [[DurableIndex.compactBucketed]] folds the
    * per-batch partition fragments into one compacted generation
    * (disable via `compact = false` to inspect the fragmented state). */
  private[graft] def streamIndexBootstrap(s: SparkSession, dir: String,
      chaos: Long => Unit = _ => (),
      scratch: Option[(String, String)] = None,
      resume: Boolean = false,
      compact: Boolean = true): DataFrame = {
    val docs = Tables.documents(s, dir)
    // initially EMPTY index: band schema + batch_id partitioning
    // (replay idempotency) + the 16-bucket band_key layout
    val idx = bandIndexSink(s, "stream_band_index")
    val out = Drain.batchSink(s, "stream_bootstrap_out",
      "doc_id" -> "bigint", "dup_of" -> "bigint", "jaccard" -> "double")
    // the whole corpus as 3 drops: q107's semantics — unlike q105's —
    // depend on the processing order the drop mtimes pin
    Drain.drops(s, dir, "q107", "documents.parquet", Seq(idx, out),
        chaos, scratch, resume, width = Drain.textStreamWidth(s, dir),
        schema = Some(docs.schema))(
      i => docs.filter(pmod(col("doc_id"), lit(3)) === i)) { (batch, batchId) =>
      val ss = batch.sparkSession
      ss.catalog.refreshTable(idx.table)
      val batchSh = shingle(batch).localCheckpoint()
      // the batch's bands feed BOTH the probe and the index
      // append: staged once per batch, not re-signed per
      // consumer. LAZY (the q158 rule): the probe's broadcast
      // materializes the blocks, the append reuses them — no
      // dedicated staging job per micro-batch
      val batchBands = sigBands(batchSh).localCheckpoint(eager = false)
      // the match and the index append run CONCURRENTLY
      // (overlapWrites, guide §2.6): the probe reads the index
      // so far MINUS this batch's own partition (empty on first
      // delivery; populated — and self-matching if probed — on a
      // replay; pruned at planning either way, so the racing
      // append is invisible to it), and both sinks are batch_id
      // dynamic overwrites, replay-safe in either commit order.
      // The append's repartition into the bucket hash lands 16
      // files (one per bucket), not one per (task x bucket)
      val soFar = ss.table(idx.table).filter(col("batch_id") =!= batchId)
      Drain.overlapWrites {
        Drain.shard(matchesAgainstIndex(ss, dir, batchSh, soFar,
            deltaBandsOpt = Some(batchBands))
          .select(col("delta_id").as("doc_id"),
            col("corpus_id").as("dup_of"), col("jaccard")), out.table, batchId)
      } {
        Drain.shard(batchBands.repartition(16, col("band_key")), idx.table, batchId)
      }
    }
    // maintenance half: fold the per-batch file fragments back into
    // one generation per bucket (safe here — the drain is quiesced)
    if (compact)
      DurableIndex.compactBucketed(s, idx.table, BandIndexCols, "band_key"): Unit
    s.table(out.table).select("doc_id", "dup_of", "jaccard")
  }

  /** q114's body: streaming SEMANTIC index maintenance — q107's drain
    * shape with the per-micro-batch work swapped for the block-index
    * pipeline. The codebook is trained ONCE before the stream starts
    * (full-corpus Lloyd, q90's arithmetic) and staged as a tiny table
    * the cloned micro-batch sessions re-read; the initially empty
    * block index is batch_id-partitioned + 16-bucket block_key
    * bucketed. Per batch: assign via the staged codebook, match
    * against the index MINUS this batch's partition (replay safety),
    * append via insertInto (bucketizes per the catalog spec). */
  private[graft] def streamSemIndexBootstrap(s: SparkSession, dir: String,
      chaos: Long => Unit = _ => (),
      scratch: Option[(String, String)] = None,
      resume: Boolean = false,
      compact: Boolean = true): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // offline-train/online-serve: the codebook is learned once PER
    // CORPUS (durable, fingerprint-keyed — round-10 verdict #6:
    // repeated bootstraps re-read the sidecar instead of re-running
    // the two-scan Lloyd train) and staged for the micro-batches
    val cb = Drain.Sink("stream_sem_codebook", t =>
      SimilarityQueries.semCodebookAllTable(s, dir).coalesce(1)
        .write.format("parquet").saveAsTable(t))
    // initially EMPTY block index: batch_id partitioning (replay
    // idempotency) + the 16-bucket block_key layout
    val idx = Drain.Sink("stream_block_index", t =>
      SimilarityQueries.blocksOfRaw(emb.limit(0), s.table(cb.table))
        .withColumn("batch_id", lit(-1L))
        .write.format("parquet").partitionBy("batch_id")
        .bucketBy(16, "block_key").sortBy("block_key")
        .saveAsTable(t))
    val out = Drain.batchSink(s, "stream_sem_boot_out",
      "vec_id" -> "bigint", "dup_of" -> "bigint", "cosine" -> "double")
    // the corpus as 3 drops with EXPLICIT strictly-increasing
    // mtimes (the FileStreamSource processing order, q107's shape)
    Drain.drops(s, dir, "q114", "embeddings.parquet", Seq(cb, idx, out),
        chaos, scratch, resume)(
      i => emb.filter(pmod(col("vec_id"), lit(3)) === i)) { (batch, batchId) =>
      val ss = batch.sparkSession
      ss.catalog.refreshTable(idx.table)
      val staged = SimilarityQueries
        .blocksOfRaw(batch, ss.table(cb.table)).localCheckpoint()
      // match FIRST, against the index so far minus this batch's
      // own partition (populated only on a replay)...
      val soFar = ss.table(idx.table).filter(col("batch_id") =!= batchId)
      val d = staged.select(col("vec_id").as("d_id"),
        col("v").as("dv"), col("block_key"))
      // the q112/q115 size gate, live per micro-batch: drops are
      // delta-sized so broadcast is the steady state, but an
      // oversized arrival falls back to the bucket merge-join.
      // The gate reads the staged blocks' byte size from
      // driver-side storage metadata — zero jobs per micro-batch
      // (round-12 verdict #6); the count runs only if the stage
      // somehow left no block metadata
      val large = stagedBytes(staged)
        .map(_ > SimilarityQueries.SemDeltaBroadcastMaxBytes)
        .getOrElse(staged.count() >
          SimilarityQueries.SemDeltaBroadcastMaxVecs)
      // probe-sink write and index append overlapped (guide
      // §2.6; see Drain.overlapWrites): independent sinks, both
      // batch_id dynamic overwrites, replay-safe in either
      // commit order (the probe prunes its own partition at
      // planning, so the racing append is invisible to it)
      Drain.overlapWrites {
        Drain.shard((if (large) soFar.hint("merge").join(d, Seq("block_key"))
           else soFar.join(broadcast(d), Seq("block_key")))
          .select(col("d_id").as("vec_id"), col("vec_id").as("dup_of"),
            graft.functions.CrossEngine.cosine(col("dv"), col("v")).as("cosine"))
          .filter(col("cosine") >= SimilarityQueries.NearDupThreshold),
          out.table, batchId)
      } {
        Drain.shard(staged, idx.table, batchId)
      }
    }
    if (compact) DurableIndex.compactBucketed(s, idx.table,
      Seq("vec_id", "v", "block_key"), "block_key"): Unit
    s.table(out.table).select("vec_id", "dup_of", "cosine")
  }

  /** q116's body: streaming decontamination — q105's drain shape with
    * the per-micro-batch work swapped for the q86 probe. The benchmark
    * span-hash set is staged ONCE before the stream starts (the small,
    * rarely-changing side — at 100 TB it is a few thousand eval docs,
    * always broadcast range); the corpus arrives as 3 drops. Per
    * batch: span-hash the arriving docs through the same expressions
    * as batch q86, broadcast-join the staged benchmark table, count
    * distinct shared hashes per (doc, bench doc) pair. Batch-local
    * aggregation is globally exact: the drops partition docs, so a
    * doc's span hashes never split across batches. */
  private[graft] def streamDecontaminate(s: SparkSession, dir: String,
      chaos: Long => Unit = _ => (),
      scratch: Option[(String, String)] = None,
      resume: Boolean = false): DataFrame = {
    val docs = Tables.documents(s, dir)
    // the standing artifact: benchmark span hashes, staged once
    val bench = Drain.Sink("stream_bench_hashes", t =>
      spanHashes13Of(docs.filter(col("doc_id") % 5 === 0))
        .withColumnRenamed("doc_id", "bench_id")
        .withColumnRenamed("h", "bh")
        .coalesce(1).write.format("parquet").saveAsTable(t))
    val out = Drain.batchSink(s, "stream_decon_out",
      "doc_id" -> "bigint", "bench_id" -> "bigint", "n_shared" -> "bigint")
    // the whole corpus as 3 drops (batch independence makes the
    // processing order irrelevant here — the probe side is static)
    Drain.drops(s, dir, "q116", "documents.parquet", Seq(bench, out),
        chaos, scratch, resume, width = Drain.textStreamWidth(s, dir))(
      i => docs.filter(pmod(col("doc_id"), lit(3)) === i)
        .select("doc_id", "text")) { (batch, batchId) =>
      Drain.shard(spanHashes13Of(batch)
        .join(broadcast(batch.sparkSession.table(bench.table)),
          col("h") === col("bh") && col("doc_id") =!= col("bench_id"))
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).as("n_shared")), out.table, batchId)
    }
    s.table(out.table).select("doc_id", "bench_id", "n_shared")
  }

  /** Above this many distinct delta documents the incremental probe
    * stops broadcasting the delta's bands and shuffles them once into
    * the index's own 16-bucket band_key layout instead (the bucket
    * join). 64k docs x 6 bands x ~60 B is ~25 MB of broadcast — past
    * the point where per-executor copies stop being free. At true
    * 100-TB scale a day's-crawl delta is far beyond this and takes the
    * bucket-join path; the per-micro-batch streaming deltas sit far
    * below it and keep the broadcast plan. */
  private[queries] lazy val DeltaBroadcastMaxDocs =
    sys.env.getOrElse("SPARK_GRAFT_DELTA_BROADCAST_MAX_DOCS", "65536").toLong

  /** The byte form of the same gate, used when the delta is already
    * STAGED (localCheckpoint'd): ~32 MB of staged delta stops
    * broadcasting — the same order as the [[DeltaBroadcastMaxDocs]]
    * doc arithmetic (64k docs x 6 bands x ~60 B ≈ 25 MB), stated in
    * the unit that actually matters for a broadcast. */
  private[queries] lazy val DeltaBroadcastMaxBytes =
    sys.env.getOrElse("SPARK_GRAFT_DELTA_BROADCAST_MAX_BYTES",
      (32L << 20).toString).toLong

  /** Below this many DOUBLED-edge-equivalent staged bytes, the
    * connected-components labeling runs as a driver union-find instead
    * of the distributed fixpoint — 64 MB is ~2M pairs, far beyond any
    * per-batch near-dup graph and trivially driver-sized, while a
    * corpus-scale graph blows past it and keeps the join fixpoint.
    * (The staging is the UNDOUBLED pair list since round 22, so the
    * gate compares staged bytes against HALF this constant — same
    * admission set, half the staged/collected volume.) */
  private[queries] lazy val CcDriverMaxBytes =
    sys.env.getOrElse("SPARK_GRAFT_CC_DRIVER_MAX_BYTES",
      (64L << 20).toString).toLong

  /** Driver-side DESERIALIZED-EQUIVALENT storage size of an
    * already-staged (localCheckpoint'd) relation, read from
    * block-manager metadata — ZERO jobs. None when the relation is not
    * a staged LogicalRDD (synthetic spec inputs), or its blocks are
    * not registered.
    *
    * Storage-level normalization (the round-17 q142@skew root cause):
    * big-corpus stagings store DISK_ONLY serialized blocks
    * (DedupCore.stageSer), which are 3-5x smaller than the
    * deserialized rows — but the gate's criterion is the DESERIALIZED
    * footprint the relation would occupy as a per-executor broadcast
    * hash relation. Comparing raw serialized bytes against the 32 MB
    * broadcast cap silently re-opened the broadcast route for
    * skew-scale deltas (q142@skew kryo/OOM at the 8 GiB contract heap,
    * while forced-large q145 passed the same corpus); serialized block
    * sizes scale by 5x — the CONSERVATIVE end of the measured 3-5x
    * range (round-18 ADVICE: a 5x-compressed skew delta normalized at
    * 4x and sitting near the cap could still under-estimate and
    * re-open the exact route this gate closes). */
  private[queries] def stagedBytes(df: DataFrame): Option[Long] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.flatMap { rdd =>
      val factor = if (rdd.getStorageLevel.deserialized) 1L else 5L
      df.sparkSession.sparkContext.getRDDStorageInfo.find(_.id == rdd.id)
        .filter(i => i.memSize + i.diskSize > 0)
        .map(i => (i.memSize + i.diskSize) * factor)
    }

  /** The shared large-delta gate (round-12 verdict #6): every
    * maintenance tick used to pay a full delta scan + driver hop
    * (`distinct().count()`) just to decide broadcast-vs-bucket-join.
    * The delta is staged by every production caller, so the decision
    * now reads the staged blocks' byte size from driver-side storage
    * METADATA — one fewer job per tick, and bytes are the broadcast
    * criterion anyway. Un-staged (spec) inputs fall back to the count
    * gate. */
  private[queries] def deltaIsLarge(delta: DataFrame): Boolean =
    stagedBytes(delta) match {
      case Some(bytes) => bytes > DeltaBroadcastMaxBytes
      case None =>
        delta.select("doc_id").distinct().count() > DeltaBroadcastMaxDocs
    }

  /** The q93/q105/q108 shared pipeline: match `deltaDocs` (an arriving
    * batch, any size) against the persisted corpus band index.
    *
    * The delta is shingled + minhashed fresh (delta-sized); the
    * candidate join is delta-bands against the bucketed index TABLE, so
    * per-batch cost scales with the delta and the matched buckets,
    * never with corpus^2 or a corpus re-minhash (PlanAuditSpec asserts
    * zero corpus-side Exchange on q93's plan). Exact-Jaccard
    * verification touches only candidate pairs, and the candidates'
    * shingles come OUT OF THE POSTINGS ARTIFACT (the standing shingle
    * set, verbatim — the q142/q150 zero-text rule applied to the
    * MinHash probes): the probe reads two durable artifacts and the
    * delta, never corpus text. */
  private[queries] def incrementalMatches(s: SparkSession, dir: String,
      deltaDocs: DataFrame, forceLarge: Option[Boolean] = None): DataFrame =
    matchesAgainstIndex(s, dir, shingle(deltaDocs).localCheckpoint(),
      bandIndexTable(s, dir), forceLarge, candShFromPostings = true)

  /** The index-probe half of [[incrementalMatches]], parameterized over
    * the index relation so q107 can probe (and then grow) its own
    * stream-maintained copy: `deltaSh` is the arriving batch's staged
    * shingle set, `corpusBands` whatever standing band index the caller
    * maintains.
    *
    * SIZE-GATED (round-9 verdict #1): while the delta is genuinely
    * delta-sized ([[deltaIsLarge]] reads the staged blocks' byte size
    * from driver-side storage metadata — zero jobs), its bands and
    * the candidate set broadcast. A LARGE
    * delta instead pays ONE shuffle into the index's own
    * HashPartitioning(band_key, 16) layout and merge-joins the bucketed
    * scan with ZERO index-side Exchange (the q41 bucket property —
    * EnsureRequirements shuffles only the non-bucketed side), and the
    * downstream verify joins drop their broadcast hints too, letting
    * AQE pick by runtime size. `forceLarge` pins the path for q108 and
    * the plan audit. */
  private[graft] def matchesAgainstIndex(s: SparkSession, dir: String,
      deltaSh: DataFrame, corpusBands: DataFrame,
      forceLarge: Option[Boolean] = None,
      deltaBandsOpt: Option[DataFrame] = None,
      candShFromPostings: Boolean = false,
      extraIndexes: Seq[DataFrame] = Nil): DataFrame = {
    val large = forceLarge.getOrElse(deltaIsLarge(deltaSh))
    // deltaBandsOpt: a caller that also writes/self-joins the delta's
    // bands (the q107/q134 drains) stages them ONCE per batch and
    // passes them in, instead of re-running the 12-min-agg signature
    // pipeline per consumer
    val deltaBands = deltaBandsOpt.getOrElse(sigBands(deltaSh))
      .select(col("doc_id").as("dd"), col("band_key"))
    // extraIndexes (round-18 verdict #6): a drain probing BOTH a
    // standing index and its own stream-grown one used to pass their
    // UNION — whose unknown partitioning made EnsureRequirements
    // re-Exchange + re-sort the corpus-sized standing bands EVERY
    // micro-batch. Probing each bucketed relation separately keeps
    // every index side Exchange-free (the q41 bucket property) and
    // unions only the CANDIDATES; the verify pass below still runs
    // once over the deduplicated pair set.
    val parts = corpusBands +: extraIndexes
    val cand = parts.map { p =>
      (if (large) p.hint("merge").join(deltaBands, Seq("band_key"))
       else p.join(broadcast(deltaBands), Seq("band_key")))
        .select(col("dd"), col("doc_id").as("cd"))
    }.reduce(_ unionByName _)
      .distinct()
    val candIds = cand.select(col("cd").as("doc_id")).distinct()
    // candShFromPostings: when the probed index is the durable STANDING
    // band index, its documents' shingles are exactly the postings
    // artifact's (doc_id, sg) rows — the verify pass then reads a
    // 2-column columnar artifact scan instead of semi-join-pruned TEXT
    // plus a re-tokenize (the q142/q150 zero-text rule). Stream-grown
    // indexes (q107/q134) keep the text path: their candidates include
    // docs outside the artifact's standing slice.
    def prunedIds(df: DataFrame): DataFrame = df.join(
      if (large) candIds else broadcast(candIds), Seq("doc_id"), "left_semi")
    val candSh =
      (if (candShFromPostings)
        prunedIds(ngramPostingsTable(s, dir).select("doc_id", "sg"))
      else
        // the semi-join prunes TEXT before the tokenize, not after
        shingle(prunedIds(Tables.documents(s, dir))))
      .localCheckpoint()
    val cnt = deltaSh.unionByName(candSh)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val x = deltaSh.select(col("doc_id").as("xd"), col("sg"))
    val y = candSh.select(col("doc_id").as("yd"), col("sg").as("ysg"))
    val common = (if (large) cand else broadcast(cand))
      .join(x, col("xd") === col("dd"))
      .join(y, col("yd") === col("cd") && col("ysg") === col("sg"))
      .groupBy("dd", "cd").agg(count(lit(1)).as("c"))
    val jac = col("c").cast("double") / (col("xn") + col("yn") - col("c"))
    common
      .join(cnt.select(col("doc_id").as("xd2"), col("n").as("xn")), col("xd2") === col("dd"))
      .join(cnt.select(col("doc_id").as("yd2"), col("n").as("yn")), col("yd2") === col("cd"))
      .filter(jac >= JaccardThreshold.toDouble)
      .select(col("dd").as("delta_id"), col("cd").as("corpus_id"), jac.as("jaccard"))
  }
}
