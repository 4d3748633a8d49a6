package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.model.{BsonTs, TaskSpec}
import graft.pipeline.Runner

/** Streaming soak probe (VERDICT r16 #4): the per-query bench is
  * saturated — the untested axis is TIME. This drives the tail pipeline
  * through hundreds/thousands of triggers against a FIXED key space
  * with the bucketed store's delta/compaction/vacuum machinery cycling,
  * injecting periodic restarts, and records what a long-lived CDC
  * deployment cares about:
  *
  *   - per-trigger latency p50/p95/p99 (flat over the run = per-trigger
  *     cost tracks the BATCH, not accumulated history — the property
  *     the bucketed store exists for)
  *   - state directory size over time (flat = compaction+vacuum keep
  *     the log-structured store bounded; the key space is fixed, so any
  *     growth is retained garbage)
  *   - restart recovery (each restart resumes from the checkpoint and
  *     the post-restart latency band matches the pre-restart band —
  *     reference behavior: replay-overlap + idempotent upsert,
  *     src/processor.ts:384-396)
  *
  * Usage:
  *   SPARK_GRAFT_CPUS=16 sbt "Test/runMain graft.tools.StreamSoak \
  *     <keys> <eventsPerBatch> <nBatches> <restartEvery> <nBuckets>"
  *
  * Prints one JSON line with the phase-by-phase latency bands and the
  * state-size trajectory (recorded every vacuum-sized stride).
  */
object StreamSoak {

  private def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val walk = Files.walk(root)
      try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally walk.close()
    }
  }

  private def pct(xs: Seq[Long], q: Double): Long =
    if (xs.isEmpty) 0L
    else xs.sorted.apply(math.min(xs.size - 1, math.ceil(q * xs.size).toInt - 1).max(0))

  def main(args: Array[String]): Unit = {
    val keys = if (args.length > 0) args(0).toInt else 20000
    val perBatch = if (args.length > 1) args(1).toInt else 500
    val nBatches = if (args.length > 2) args(2).toInt else 400
    val restartEvery = if (args.length > 3) args(3).toInt else 100
    val nBuckets = if (args.length > 4) args(4).toInt else 8
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-stream-soak")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // micro-batch shuffles size to batch volume (the Main.scala knob)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val base = Files.createTempDirectory("stream-soak").toString
    val inDir = s"$base/in"
    Files.createDirectories(Paths.get(inDir))
    val task = TaskSpec(Vector("value" -> "value", "n" -> "n"))
    val cfg = Runner.TaskPipeline(task, "db.c", s"$base/state", s"$base/ckpt",
      triggerMs = 50L,
      spec = graft.cdc.BucketedStateStore.Spec(
        nBuckets = nBuckets, compactThreshold = 4, retainManifests = 2))

    val rnd = new scala.util.Random(17)
    var fileNo = 0
    def writeBatch(): Unit = {
      fileNo += 1
      val lines = (1 to perBatch).map { i =>
        val id = s"k${rnd.nextInt(keys)}"
        val ts = BsonTs(fileNo, i).toLong
        if (rnd.nextInt(20) == 0)
          s"""{"ts":$ts,"op":"d","ns":"db.c","id":"$id","doc":{"_id":"$id"}}"""
        else if (rnd.nextInt(3) == 0)
          s"""{"ts":$ts,"op":"i","ns":"db.c","id":"$id","doc":{"_id":"$id","value":${rnd.nextInt(1000)}.0,"n":$fileNo}}"""
        else
          s"""{"ts":$ts,"op":"u","ns":"db.c","id":"$id","doc":{"$$set":{"value":${rnd.nextInt(1000)}.0,"n":$fileNo}}}"""
      }
      val tmp = Paths.get(s"$inDir/.b$fileNo.jsonl.tmp")
      Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
      Files.move(tmp, Paths.get(s"$inDir/b$fileNo.jsonl"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }

    // latency capture: triggerExecution per completed non-empty batch
    val latencies = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    @volatile var phase = 0
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        if (e.progress.numInputRows > 0)
          Option(e.progress.durationMs.get("triggerExecution"))
            .foreach(d => latencies.add((phase, d.toLong)))
      }
    })

    def stream() = spark.readStream
      .format("graft.source.v2.OplogJsonSource")
      .option("maxFilesPerTrigger", "1")
      .option("path", inDir)
      .load()
    val snapshot = graft.cdc.StateStore.empty(spark).select("id", "doc")

    val stateSizes = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    val t0 = System.nanoTime()
    var produced = 0
    var restarts = 0
    while (produced < nBatches) {
      phase = restarts
      val q = Runner.bootstrapAndTail(spark, snapshot, stream(), cfg)
      val target = math.min(produced + restartEvery, nBatches)
      while (produced < target) {
        writeBatch(); produced += 1
        // pace production so the query keeps up without unbounded lag
        if (produced % 10 == 0) q.processAllAvailable()
        if (produced % 25 == 0) stateSizes += ((produced, dirBytes(cfg.stateDir)))
      }
      q.processAllAvailable()
      q.stop() // restart injection: next loop iteration re-bootstraps
      restarts += 1
    }
    stateSizes += ((produced, dirBytes(cfg.stateDir)))
    val wallSec = (System.nanoTime() - t0) / 1e9

    import scala.jdk.CollectionConverters._
    val lats = latencies.asScala.toVector
    val byPhase = lats.groupBy(_._1).toSeq.sortBy(_._1).map { case (ph, xs) =>
      val ms = xs.map(_._2)
      s""""phase$ph":{"triggers":${ms.size},"p50_ms":${pct(ms, 0.5)},"p95_ms":${pct(ms, 0.95)},"p99_ms":${pct(ms, 0.99)}}"""
    }
    val all = lats.map(_._2)
    val sizes = stateSizes.map { case (b, s) => s"[$b,$s]" }.mkString("[", ",", "]")
    val keyCount = graft.cdc.StateStore.read(spark, cfg.stateDir).count()
    println(
      s"""{"metric":"stream_soak","batches":$produced,"events":${produced.toLong * perBatch},""" +
      s""""keys":$keys,"n_buckets":$nBuckets,"restarts":$restarts,"wall_sec":${math.round(wallSec * 10) / 10.0},""" +
      s""""triggers":${all.size},"p50_ms":${pct(all, 0.5)},"p95_ms":${pct(all, 0.95)},"p99_ms":${pct(all, 0.99)},""" +
      byPhase.mkString(",") + "," +
      s""""state_keys":$keyCount,"state_bytes_trajectory":$sizes}""")
    spark.stop()
  }
}
