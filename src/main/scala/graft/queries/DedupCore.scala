package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CrossEngine._
import graft.sources.Tables

/** Shared shingle stage + MinHash tuning constants — the base every dedup family builds on.
  *
  * Pure round-16 refactor: split out of the 3,300-line DedupQueries.scala
  * verbatim (self-typed to the object so cross-family references keep
  * resolving; `private` widened to `private[queries]` — traits cannot
  * share plain-private members — and derived vals made lazy so trait
  * initialization order can never observe an unset field). */
trait DedupCore { self: DedupQueries.type =>
  private[queries] val ShingleN = 3
  private[queries] val NumPerms = 12 // 6 bands x 2 rows
  private[queries] val Bands = 6
  private[queries] lazy val RowsPerBand = NumPerms / Bands
  private[queries] val JaccardThreshold = "0.8"
  private[queries] val DfCut = 50 // inverted-index document-frequency cut

  /** Delta/R-bounded staging that must SURVIVE memory pressure: the
    * round-17/18 scale gates found q142's fate at the default 8 GiB
    * heap decided by its staged shingle relations. Round 17 flipped
    * them from deserialized MEMORY_AND_DISK to MEMORY_AND_DISK_SER
    * (3-5x smaller) and the gate still failed ~half its cold builds:
    * ANY memory-resident storage block is a double hazard under the
    * build's sort/window pressure — it occupies the unified region
    * the sorts need, and when execution evicts it, the eviction-time
    * serialization is exactly where the JVM dies (the recurring
    * kryo/HeapByteBuffer crash). DISK_ONLY removes the hazard
    * structurally: zero storage-memory occupancy, nothing to evict,
    * execution borrows the whole unified region, and the
    * serialize-on-the-way-down path ceases to exist. The price is
    * read-back I/O on re-consumption — bounded, local, and paid only
    * at gate scale.
    *
    * DATA-ADAPTIVE like [[graft.streaming.Drain.textStreamWidth]]: the level
    * flips to disk once the corpus passes [[StageSerMinBytes]] —
    * sf0.1 and below stay deserialized in memory (the bench protocol;
    * disk staging there costs ~+1.5s on q142 for nothing). At 100 TB
    * the staged "delta" is a day's crawl and must never be the thing
    * that OOMs the job. */
  private[queries] def stageSer(s: SparkSession, dir: String,
      df: DataFrame): DataFrame =
    if (corpusBytes(s, dir) >= StageSerMinBytes)
      df.localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    else df.localCheckpoint()

  /** documents.parquet size past which shingle-scale stagings store
    * serialized (sf0.1 ~0.6 MB stays deserialized; sf10 ~60 MB flips). */
  private[queries] val StageSerMinBytes: Long = 16L << 20

  /** dir -> (mtime, size): ONE entry per dir (round-18 ADVICE — keying
    * the map by (dir, mtime) never evicted old generations, and on
    * coarse-mtime filesystems a same-tick regeneration served the stale
    * size with nothing bounding the map). */
  private val corpusBytesCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, java.lang.Long)]()

  /** documents.parquet content length, memoized per dir with the mtime
    * stored IN the entry — a corpus REGENERATED at the same path
    * in-session (ScaleGen in specs) replaces the entry when its mtime
    * differs, so the map stays bounded at one entry per dir and the
    * staleness window is exactly the filesystem's mtime resolution.
    * Per-call cost is one cheap getFileStatus; the memo keeps the
    * recursive content summary to one call per generation. */
  private[queries] def corpusBytes(s: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir, "documents.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val mtime =
      try fs.getFileStatus(p).getModificationTime catch {
        case _: java.io.FileNotFoundException => return 0L
      }
    corpusBytesCache.compute(dir, (_, prev) =>
      if (prev != null && prev._1 == mtime) prev
      else (mtime, java.lang.Long.valueOf(fs.getContentSummary(p).getLength))
    )._2
  }

  /** (doc_id, sg): distinct word-3-gram shingles per document. */
  private[graft] def shingle(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= ShingleN)
      .select(col("doc_id"), explode(shinglesOf(col("t"), ShingleN)).as("sg"))
      .distinct()

  private[queries] def shingleDf(s: SparkSession, dir: String): DataFrame =
    shingle(Tables.documents(s, dir))

  /** The shingle CTE restricted to `docWhere` (empty = full corpus) —
    * parameterized so the retraction oracle (q143) can state the same
    * pipeline over corpus-minus-deleted. */
  private[queries] def sqlShingleCteFor(docWhere: String): String = {
    val pred = if (docWhere.isEmpty) "" else s" AND $docWhere"
    s"""toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents
       |         WHERE len(string_split(text, ' ')) >= $ShingleN$pred),
       |sh AS (SELECT DISTINCT doc_id,
       |         unnest(${sqlShingles("t", ShingleN)}) AS sg FROM toks)""".stripMargin
  }

  private[queries] lazy val sqlShingleCte = sqlShingleCteFor("")
}
