package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import graft.cdc.{BucketedStateStore, IRRow, StateStore}
import graft.core.Transformer
import graft.model.{Json, TaskSpec}

/** The batch scan phase (reference src/processor.ts:299-330, SURVEY.md
  * §3.2): full collection backfill with resume predicate and mapped
  * projection, producing upsert IRs.
  *
  * The resume predicate `id >= checkpoint` (P2, reference
  * src/mongodb.ts:35-39) and the projection (P1) are plain
  * filter/select, so Catalyst pushes both into the source scan
  * (parquet min/max skipping here; DSv2 pushdown on a real connector).
  * Checkpointing per micro-batch is replaced by Spark's per-partition
  * task retry — a failed partition re-runs, and the idempotent sink
  * merge (StateStore LWW) absorbs replays, the same correctness
  * contract as the reference's idempotent bulk `index` (O10).
  */
object ScanJob {

  /** Dynamic-document path: `source` has columns (id string, doc string)
    * where doc is source-shaped JSON. */
  def run(source: DataFrame, task: TaskSpec, resumeFromId: Option[String] = None): Dataset[IRRow] = {
    val resumed = resumeFromId match {
      case Some(ckpt) => source.filter(col("id") >= lit(ckpt)) // P2: pushed down
      case None       => source
    }
    implicit val enc = IRRow.encoder
    resumed.select(col("id"), col("doc")).as[(String, String)](Encoders.product[(String, String)])
      .flatMap { case (_, doc) =>
        Transformer.transformer(task, "upsert", Json.parseObj(doc)).map(IRRow.fromCore)
      }
  }

  /** Backfill: scan -> IRs -> seed the state store (phase transition L5
    * start; reference src/index.ts:27-32). Returns the seeded state.
    * Seeds the incremental [[BucketedStateStore]]: one id-sorted base
    * file per bucket, manifest seq 0. */
  def backfill(
      source: DataFrame,
      task: TaskSpec,
      stateDir: String,
      spec: BucketedStateStore.Spec = BucketedStateStore.Spec(),
      // load leg for the scan phase too: the reference bulk-indexes the
      // backfill (src/index.ts:27-32 scans and ships _bulk bodies), so
      // with a BulkSpec the seeded state mirrors out as one
      // `batch-scan/` bulk directory before tailing begins
      bulk: Option[TailQuery.BulkSpec] = None,
  ): DataFrame = {
    val spark = source.sparkSession
    StateStore.requireNoLegacyLayout(stateDir)
    val irs = run(source, task)
    val state = StateStore.applyIRs(StateStore.empty(spark), irs)
    BucketedStateStore.seed(state, stateDir, spec)
    val seeded = StateStore.read(spark, stateDir)
    bulk.foreach { b =>
      import org.apache.spark.sql.functions.{col, lit}
      seeded
        .select(lit("upsert").as("action"), col("id"), col("doc").as("data"),
          col("parent"), col("ts"))
        .write.format("graft.source.v2.BulkJsonSink")
        .option("path", s"${b.dir}/batch-scan")
        .option("index", b.index).option("type", b.esType)
        .mode("append").save()
      // live leg, like the tail's: a delivery failure fails the
      // backfill before any tailing starts (reference src/index.ts:27-32
      // bulk-indexes the scan through the same client)
      TailQuery.deliverBulkDir(spark, s"${b.dir}/batch-scan", b)
    }
    seeded
  }
}
