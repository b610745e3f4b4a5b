package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.Drain

/** The drop-cache key/lifecycle contract (round-15 advice): cached
  * streaming-drain drops are a pure function of (corpus content, slice
  * LOGIC) — so the cache key must fold the slice plan in, a change to
  * a family's slicing must miss rather than silently serve the old
  * drops, and a reader racing the global idle sweep must rebuild
  * instead of failing (or worse, half-reading). */
class DropCacheSpec extends SparkSpec {

  private def docs = graft.sources.Tables.documents(spark, sfDir)

  // the per-JVM cache base (round-21 verdict #2: fixture staging is
  // memoized within a JVM only, never across processes)
  private def cacheBase = Drain.dropCacheBase

  private val me = ProcessHandle.current()
  private val myStart = me.info().startInstant().get.toEpochMilli

  test("the cache base is scoped to this JVM (no cross-process reuse)") {
    // round-21 verdict #2: a cache surviving the JVM lets one run's
    // staging pre-compute another run's declared work. The base lives
    // under the JVM's scratch root, keyed by pid AND start instant, so
    // a fresh process — even one that reuses a dead JVM's pid — can
    // never find a warm entry.
    assert(cacheBase == Drain.root.resolve("drop_cache"),
      s"cache base $cacheBase is not under the JVM's scratch root")
    assert(Drain.root.getFileName.toString == s"graft_jvm${me.pid()}_$myStart",
      s"scratch root ${Drain.root} is not keyed by this JVM's pid and start")
  }

  test("a root left by an earlier JVM with this pid is swept, the live one kept") {
    // pid reuse: a kill -9'd JVM skipped its shutdown hook, and a later
    // process received its pid. Only the start instant tells them apart.
    val parent = Files.createTempDirectory("graft_sweep")
    try {
      val live = Files.createDirectory(parent.resolve(s"graft_jvm${me.pid()}_$myStart"))
      val reused = Files.createDirectory(
        parent.resolve(s"graft_jvm${me.pid()}_${myStart - 60000L}"))
      val other = Files.createDirectory(parent.resolve("graft_other"))
      Drain.sweep(parent)
      assert(!Files.exists(reused), "a dead JVM's root survived because its pid is reused")
      assert(Files.exists(live), "the sweep removed a live JVM's root")
      assert(Files.exists(other), "the sweep removed a dir that is not a scratch root")
    } finally Drain.rmQuietly(parent.toString)
  }

  test("a slice-logic change invalidates the cache instead of serving stale drops") {
    val srcDir = Files.createTempDirectory("graft_dropkey").toString
    try {
      Drain.stageDropsCached(spark, sfDir, "dropkeyspec",
        "documents.parquet", srcDir, 1)(
        _ => docs.filter(col("doc_id") % 10 === 1).select("doc_id"))
      val first = spark.read.parquet(s"$srcDir/drop_0.parquet")
      assert(first.filter(col("doc_id") % 10 =!= 1).isEmpty
        && first.count() > 0, "first slice staged wrong rows")
      // same (family, dir, corpus) — ONLY the slice predicate changes.
      // Before the slice-plan key component this silently re-served
      // slice A's cached file.
      Drain.stageDropsCached(spark, sfDir, "dropkeyspec",
        "documents.parquet", srcDir, 1)(
        _ => docs.filter(col("doc_id") % 10 === 2).select("doc_id"))
      val second = spark.read.parquet(s"$srcDir/drop_0.parquet")
      assert(second.filter(col("doc_id") % 10 =!= 2).isEmpty
        && second.count() > 0,
        "a re-sliced family was served the previous slicing's cached drops")
    } finally Drain.rmQuietly(srcDir)
  }

  test("identical invocations hit the cache (one published entry, reused)") {
    val srcDir = Files.createTempDirectory("graft_drophit").toString
    try {
      def stage(): Unit = Drain.stageDropsCached(spark, sfDir,
        "drophitspec", "documents.parquet", srcDir, 2)(
        i => docs.filter(col("doc_id") % 10 === i).select("doc_id"))
      stage()
      val entries = Files.list(cacheBase).iterator()
      val mine = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
      while (entries.hasNext) {
        val p = entries.next()
        if (p.getFileName.toString.startsWith("drophitspec_")) mine += p
      }
      assert(mine.size == 1, s"expected one cache entry, found ${mine.size}")
      val fileTime = Files.getLastModifiedTime(
        mine.head.resolve("drop_0.parquet"))
      stage() // must reuse: the cached part file is not rewritten
      assert(Files.getLastModifiedTime(
        mine.head.resolve("drop_0.parquet")) == fileTime,
        "a cache hit rebuilt the published drops")
    } finally Drain.rmQuietly(srcDir)
  }

  test("a reader racing the idle sweep rebuilds instead of failing") {
    val srcDir = Files.createTempDirectory("graft_dropswept").toString
    try {
      def stage(): Unit = Drain.stageDropsCached(spark, sfDir,
        "dropsweptspec", "documents.parquet", srcDir, 1)(
        _ => docs.filter(col("doc_id") % 10 === 3).select("doc_id"))
      stage()
      // simulate the sweep firing between the publish check and the
      // copy: the entry dir survives but its files are gone — the
      // reader's copy throws NoSuchFileException mid-read
      val entries = Files.list(cacheBase).iterator()
      while (entries.hasNext) {
        val p = entries.next()
        if (p.getFileName.toString.startsWith("dropsweptspec_"))
          Files.deleteIfExists(p.resolve("drop_0.parquet")): Unit
      }
      stage() // must rebuild once and serve the correct drops
      val got = spark.read.parquet(s"$srcDir/drop_0.parquet")
      assert(got.filter(col("doc_id") % 10 =!= 3).isEmpty && got.count() > 0,
        "post-race rebuild served wrong drops")
    } finally Drain.rmQuietly(srcDir)
  }
}
