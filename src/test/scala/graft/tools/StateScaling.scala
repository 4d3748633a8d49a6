package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.{BucketedStateStore, OplogRow}
import graft.model.{BsonTs, TaskSpec}

/** Dev-only probe for the incremental state store's scaling claim: with
  * a PRE-SEEDED large state (K keys) and small update batches (B
  * events), per-batch wall must track B, not K.
  *
  * Two key distributions per batch:
  *  - `local`:  batch i updates the contiguous range [iB, iB+B) — the
  *    hot-working-set regime real CDC traffic exhibits; dirty buckets
  *    ≈ B/bucketSize, so reads prune to a fraction of the buckets AND
  *    parquet row-group stats prune inside them (bases are id-sorted).
  *  - `uniform`: batch keys spread over all K — the adversarial case;
  *    every bucket is dirty, so the read side scans ~all bucket files
  *    (columnar, join-filtered, no shuffle) but the WRITE stays O(B).
  *
  * Run: SPARK_GRAFT_CPUS=16 sbt "Test/runMain graft.tools.StateScaling 2000000 20000 5 256 local"
  *      args: [keys] [batchSize] [numBatches] [nBuckets] [local|uniform] [docBytes]
  * `docBytes` pads every document to roughly that size — the
  * write-dominant regime (real sink docs are ~KBs, not the probe's
  * default ~60 B).
  */
object StateScaling {
  def main(args: Array[String]): Unit = {
    val keys = args.headOption.map(_.toLong).getOrElse(2000000L)
    val batchSize = args.lift(1).map(_.toInt).getOrElse(20000)
    val numBatches = args.lift(2).map(_.toInt).getOrElse(5)
    val nBuckets = args.lift(3).map(_.toInt).getOrElse(256)
    val dist = args.lift(4).getOrElse("local")
    val docBytes = args.lift(5).map(_.toInt).getOrElse(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val task = TaskSpec(Vector("value" -> "value"))

    // pad with repeated per-key md5 hex (not a constant — a constant
    // would compress to nothing and mask the per-byte costs)
    val padCol =
      if (docBytes > 0)
        concat(lit(""","pad":""""),
          expr(s"repeat(md5(cast(id AS string)), ${math.max(1, docBytes / 32)})"), lit("\""))
      else lit("")
    def seedState: DataFrame = spark.range(keys).select(
      format_string("k%09d", col("id")).as("id"),
      concat(
        format_string("""{"_id":"k%09d","value":%d.0""", col("id"), col("id")),
        padCol, lit("}")).as("doc"),
      lit(null).cast("string").as("parent"),
      lit(1L).as("ts"))

    // batch i: B "u" events; ts strictly after the seed
    def batch(i: Int): org.apache.spark.sql.Dataset[OplogRow] = {
      import OplogRow.encoder
      val ks = dist match {
        case "uniform" =>
          // deterministic uniform spread: stride the key space
          spark.range(batchSize.toLong)
            .select((pmod(col("id") * lit(2654435761L) + lit(i), lit(keys))).as("k"))
        case _ =>
          spark.range(batchSize.toLong)
            .select(((col("id") + lit(i.toLong * batchSize)) % keys).as("k"))
      }
      ks.select(
        lit(BsonTs(100 + i, 0).toLong).as("ts"),
        lit("u").as("op"),
        lit("app.users").as("ns"),
        format_string("k%09d", col("k")).as("id"),
        format_string("""{"$set":{"value":%d.5}}""", col("k")).as("doc"),
        lit(false).as("fromMigrate")).as[OplogRow]
    }

    val dir = Files.createTempDirectory("scal_bucketed").toString
    val spec = BucketedStateStore.Spec(nBuckets = nBuckets, compactThreshold = 8)
    val t0 = System.nanoTime()
    BucketedStateStore.seed(seedState, dir, spec)
    println(f"""{"probe":"state_scaling","path":"bucketed","event":"seed","keys":$keys,"sec":${(System.nanoTime() - t0) / 1e9}%.3f}""")
    (1 to numBatches).foreach { i =>
      val b = batch(i).persist()
      b.count() // materialize input outside the timed window
      val t1 = System.nanoTime()
      BucketedStateStore.applyBatch(b, task, dir, spec)
      val sec = (System.nanoTime() - t1) / 1e9
      println(f"""{"probe":"state_scaling","path":"bucketed","keys":$keys,"batch":$batchSize,"dist":"$dist","i":$i,"sec":$sec%.3f}""")
      b.unpersist()
    }
    spark.stop()
  }
}
