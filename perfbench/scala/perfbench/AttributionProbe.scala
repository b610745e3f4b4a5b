package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Drives two program entry points under the job tracer and prints every
  * recorded span as one JSON line: a `call` span per entry point, and the
  * `job` spans that ran inside it with their attributed layers. The
  * benchmark's attribution tests read this output.
  *
  * Usage: `AttributionProbe <warehouseDir>`
  */
object AttributionProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.warehouse.dir", args(0))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(new JobTracer)
    import spark.implicits._
    val candidates = Seq(("IN", "APAC"), ("US", "AMER"), ("IN", "APAC")).toDF("country", "region")

    def call(name: String)(body: => Unit): Unit = {
      val t0 = System.currentTimeMillis()
      body
      PerfbenchBus.drain(spark.sparkContext)
      Trace.span(name, "call", t0, System.currentTimeMillis())
    }
    spark.sql("CREATE DATABASE IF NOT EXISTS consumption")
    call("DimBuilder.build") {
      graft.consume.DimBuilder.build(spark, "consumption.region_dim", "region_id_pk",
        candidates, Seq("country", "region"))
    }
    call("SurrogateKeys.dense") {
      graft.keys.SurrogateKeys.dense(candidates, Seq(col("country")), "k").collect()
    }
    PerfbenchBus.drain(spark.sparkContext)
    Trace.all.sortBy(_.id).foreach { s =>
      println(Json.obj(Seq("name" -> s.name, "kind" -> s.kind, "start" -> s.start,
        "end" -> s.end) ++ s.attrs.toSeq))
    }
    spark.stop()
  }
}
