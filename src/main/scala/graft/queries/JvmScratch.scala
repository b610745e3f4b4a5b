package graft.queries

import org.apache.spark.sql.SparkSession

/** Per-JVM scratch database for queries that materialize managed tables
  * mid-plan (q41's bucketed join, the q93 band-index stage table).
  *
  * A fixed machine-global name/path would let two concurrent JVMs
  * (Verify running while a Bench run is live, say) drop or overwrite
  * each other's tables mid-read; a fresh directory per invocation would
  * leak a table copy every bench iteration. Per-JVM name + location is
  * the bounded middle: repeated in-JVM invocations overwrite one disk
  * footprint, concurrent JVMs never share a path, and the location sits
  * under the JVM's scratch root ([[graft.streaming.Drain.root]]), which
  * goes with the JVM. This database is LOCAL bench/test scratch by
  * contract — a production pipeline's sinks are real tables on durable
  * shared storage.
  */
object JvmScratch {

  private val pid = ProcessHandle.current().pid()

  /** Per-JVM database name — distinct across JVMs, stable within one. */
  val dbName = s"graft_scratch_$pid"

  private lazy val location: String = graft.streaming.Drain.scratchDir("scratch_db")

  /** Ensure the scratch database exists; returns its name. */
  def ensure(s: SparkSession): String = synchronized {
    s.sql(s"CREATE DATABASE IF NOT EXISTS $dbName LOCATION '$location'")
    dbName
  }

  /** Drop any prior catalog entry and on-disk copy of `table`, returning
    * the fully qualified name ready for a fresh write. */
  def resetTable(s: SparkSession, table: String): String = synchronized {
    ensure(s)
    s.sql(s"DROP TABLE IF EXISTS $dbName.$table")
    val loc = new org.apache.hadoop.fs.Path(s"$location/$table")
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    s"$dbName.$table"
  }

  /** Fully qualified name of an existing scratch table. */
  def tableName(table: String): String = s"$dbName.$table"
}
