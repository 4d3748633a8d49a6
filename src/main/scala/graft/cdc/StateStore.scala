package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.{DObj, DStr, Json}

/** Engine-owned sink state — the architectural replacement for the
  * reference's sink read-back (S6/S7, reference src/elasticsearch.ts:30-148)
  * and its idempotent-overwrite recovery contract (O10,
  * reference src/processor.ts:233-243).
  *
  * State schema: `(id string, doc string, parent string, ts long)` where
  * `doc` is the sink-shaped JSON document including `_id`.
  *
  * [[applyIRs]] is a MERGE: last-writer-wins by `ts` with upsert/delete
  * semantics — replay-safe (O9: the reference re-reads a 10 s overlap on
  * restart and relies on idempotent upserts; here the ts guard makes
  * replays exact no-ops). Expressed relationally (union + window) so
  * Catalyst plans a single shuffle on `id`. The incremental form of the
  * same MERGE — touching only the batch's buckets, the way a
  * Delta/Iceberg `MERGE INTO` would inside `foreachBatch` — is
  * implemented by [[BucketedStateStore.applyBatch]], which every tail
  * and backfill persists through.
  */
object StateStore {

  val schemaCols = Seq("id", "doc", "parent", "ts")

  def empty(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("id", StringType),
        StructField("doc", StringType),
        StructField("parent", StringType),
        StructField("ts", LongType),
      )))
  }

  /** MERGE the IR batch into the state: per id keep the latest (ts) among
    * {existing state row, IR rows}; IR wins ts ties (idempotent replay of
    * the same event re-applies the same value); deletes remove the key.
    */
  def applyIRs(state: DataFrame, irs: Dataset[IRRow]): DataFrame = {
    val irDf = irs.toDF()
      .withColumn("doc", sinkDocUdf(col("id"), col("data")))
      .select(col("id"), col("doc"), col("parent"), col("ts"),
        col("action"), lit(1).as("__prio"))
    val stDf = state.select(col("id"), col("doc"), col("parent"), col("ts"),
      lit("upsert").as("action"), lit(0).as("__prio"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("ts").desc, col("__prio").desc)
    stDf.union(irDf)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("action") =!= "delete")
      .select(schemaCols.map(col): _*)
  }

  /** Sink doc = `{_id: id} ++ data` — what the reference's ES `index` op
    * materializes (`_id` metadata + `_source` data,
    * reference src/processor.ts:233-241, src/elasticsearch.ts:150-157). */
  private val sinkDocUdf = udf { (id: String, data: String) =>
    if (data == null) null
    else DObj(("_id" -> DStr(id)) +: Json.parseObj(data).fields.filterNot(_._1 == "_id")).render
  }

  // ---- persistence: the bucketed manifest+delta store ----

  /** Refuse a directory that still holds the retired full-rewrite
    * layout (a `VERSION` pointer over `v_N` parquet directories). The
    * bucketed reader would see such a directory as empty and a Runner
    * would re-backfill into it, so every entry point that opens a
    * state or SCD2 history directory calls this first. The layout is
    * converted in place, once, by [[graft.tools.MigrateState]]; the
    * `v_N` data is never touched here. */
  def requireNoLegacyLayout(dir: String): Unit =
    if (StateIO.exists(s"$dir/VERSION"))
      throw new IllegalStateException(
        s"$dir holds a legacy VERSION/v_N state layout, which the engine no longer " +
          "reads or writes; convert it in place first with " +
          s"`graft.tools.MigrateState <cdc|scd2> $dir` (the v_N data is left as is)")

  /** Current state (id, doc, parent, ts) of the [[BucketedStateStore]]
    * at `dir`; empty when nothing has been committed yet. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    requireNoLegacyLayout(dir)
    BucketedStateStore.read(spark, dir)
  }

  /** Has the backfill initialized this state directory? (The Runner's
    * "backfill already ran" phase checkpoint: the manifest pointer.) */
  def exists(dir: String): Boolean = {
    requireNoLegacyLayout(dir)
    BucketedStateStore.exists(dir)
  }

  /** Time-travel read: the state AS OF retained manifest commit
    * `version` — what a debugging/backfill session uses to diff state
    * across triggers (the table-format `VERSION AS OF` analog). None
    * once vacuum dropped that manifest (`retainManifests`). */
  def readAt(spark: SparkSession, dir: String, version: Long): Option[DataFrame] = {
    requireNoLegacyLayout(dir)
    BucketedStateStore.readAt(spark, dir, version)
  }
}
