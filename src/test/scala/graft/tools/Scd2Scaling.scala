package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.Scd2BucketedTable

/** Dev-only probe for the bucketed SCD2 history's scaling claim
  * (round-10 delivery of r9 verdict "What's wrong" #1): with a
  * PRE-SEEDED history of K keys and fixed-size update batches of B
  * changed keys, per-trigger wall of [[Scd2BucketedTable]] must track
  * B, not K.
  *
  * Run: SPARK_GRAFT_CPUS=16 sbt "Test/runMain graft.tools.Scd2Scaling 1000000 10000 5 64"
  *      args: [keys] [batchSize] [numBatches] [nBuckets]
  */
object Scd2Scaling {
  def main(args: Array[String]): Unit = {
    val keys = args.headOption.map(_.toLong).getOrElse(1000000L)
    val batchSize = args.lift(1).map(_.toInt).getOrElse(10000)
    val numBatches = args.lift(2).map(_.toInt).getOrElse(5)
    val nBuckets = args.lift(3).map(_.toInt).getOrElse(64)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // seed batch: every key opens version 1 at sec=10
    def seedBatch: DataFrame = spark.range(keys).select(
      col("id").as("key"), lit("a").as("attr"), lit(10L).as("sec"), col("id").as("event_id"))

    // batch i: B keys change attr (hot contiguous range — the CDC
    // working-set regime; sec strictly increasing so merges are ordered)
    def batch(i: Int): DataFrame = spark.range(batchSize.toLong).select(
      ((col("id") + lit(i.toLong * batchSize)) % keys).as("key"),
      concat(lit("v"), lit(i)).as("attr"),
      lit(10L + i).as("sec"),
      (col("id") + lit(i.toLong * batchSize) + lit(1000000000L)).as("event_id"))

    val t = new Scd2BucketedTable(spark,
      Files.createTempDirectory("scd2_bucketed").toString, nBuckets = nBuckets)
    val t0 = System.nanoTime()
    t.applyIfNew(seedBatch, 0L)
    println(f"""{"probe":"scd2_scaling","path":"bucketed","event":"seed","keys":$keys,"sec":${(System.nanoTime() - t0) / 1e9}%.3f}""")
    (1 to numBatches).foreach { i =>
      val b = batch(i).persist()
      b.count()
      val t1 = System.nanoTime()
      t.applyIfNew(b, i.toLong)
      val sec = (System.nanoTime() - t1) / 1e9
      println(f"""{"probe":"scd2_scaling","path":"bucketed","keys":$keys,"batch":$batchSize,"i":$i,"sec":$sec%.3f}""")
      b.unpersist()
    }
    spark.stop()
  }
}
