package graftbench

import org.apache.spark.sql.SparkSession
import graft.model._

/** Reads a MongoHttpSource endpoint in batch mode, both snapshot and
  * oplog, and prints every row as one `@@ `-prefixed JSON line. The
  * benchmark's self-test points it at the stub sidecar.
  *
  * usage: graftbench.SidecarRead <url> <db.collection>
  */
object SidecarRead {
  def main(args: Array[String]): Unit = {
    val Array(url, ns) = args
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val src = spark.read.format("graft.source.v2.MongoHttpSource").option("url", url)
    // small pages and two shards, so paging and sharding both run
    src.option("mode", "snapshot").option("collection", ns)
      .option("numShards", "2").option("batchRows", "2").load()
      .collect().sortBy(_.getString(0)).foreach { r =>
        println("@@ " + DObj("kind" -> DStr("snapshot"), "id" -> DStr(r.getString(0)),
          "doc" -> DStr(r.getString(1))).render)
      }
    src.option("mode", "oplog").option("ns", ns).option("batchRows", "2").load()
      .select("ts", "op", "id", "doc").collect().sortBy(_.getLong(0)).foreach { r =>
        println("@@ " + DObj("kind" -> DStr("oplog"), "ts" -> DInt(r.getLong(0)),
          "op" -> DStr(r.getString(1)), "id" -> DStr(r.getString(2)),
          "doc" -> DStr(r.getString(3))).render)
      }
    spark.stop()
  }
}
