package graft.streaming

import graft.SparkSpec

/** Every scratch dir a query makes lives under the JVM's one scratch
  * root and is gone once the query's result has been collected: the
  * stream sources and checkpoints of q34/q45/q67/q105, the staged inputs
  * of q53/q162. Nothing lands beside the root in its RAM-backed parent,
  * where it would outlive the JVM. */
class ScratchLeakSpec extends SparkSpec {

  test("queries leave no graft_* dir beside the scratch root and no drain dir under it") {
    val parent = Drain.root.getParent
    def graftEntries: Set[String] = Drain.listDir(parent)
      .map(_.getFileName.toString).filter(_.startsWith("graft_")).toSet
    val before = graftEntries
    Seq("q34_stream_hourly", "q45_stream_foreachbatch", "q67_streamdim",
        "q53_file_roundtrip", "q162_split_csv", "q105_stream_incremental_dedup")
      .foreach(q => graft.SparkEntry.queries(q)(spark, sfDir).collect())
    // other test JVMs running concurrently make their own roots
    val leaked = (graftEntries -- before).filterNot(_.matches("graft_jvm\\d+_\\d+"))
    assert(leaked.isEmpty, s"scratch left beside the root in $parent: $leaked")
    val drainDirs = Drain.listDir(Drain.root).map(_.getFileName.toString)
      .filter(n => n.contains("_src") || n.contains("_ckpt"))
    assert(drainDirs.isEmpty, s"stream dirs left under ${Drain.root}: $drainDirs")
  }
}
