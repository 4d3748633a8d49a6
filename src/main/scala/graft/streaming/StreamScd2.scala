package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental SCD Type-2 maintenance — the streaming twin of the
  * `cdc_scd2_history` batch build (graft.ops.CdcQueries), completing
  * the batch/streaming twin set (exact dedup, near-dedup, sessions,
  * anomaly, ... and now dimension history).
  *
  * Each micro-batch of change events MERGEs into the history table:
  * no-op updates collapse (an event whose tracked attribute equals the
  * key's open version's attribute opens nothing — including across
  * batch boundaries, which a naive per-batch window can't see), the
  * open version closes at the first genuine change's timestamp, and
  * each change appends a version row numbered after the key's last.
  *
  * State discipline: history is corpus-sized, so it lives in a
  * mergeable TABLE, never the streaming state store (DESIGN.md) — the
  * same doctrine as the CDC tail's document state. [[applyBatch]] is
  * the pure MERGE; wiring is `foreachBatch` + the bucketed persistence
  * of [[Scd2BucketedTable]] (opened by [[table]]), which runs this
  * MERGE over only the batch's keys' history — the files holding
  * matched keys, as a `MERGE INTO` would; the per-batch dataflow — one
  * hash exchange on the key for the batch's windows, a key-equi join
  * against open versions — is unchanged.
  *
  * Ordering contract: batches must arrive in event-time order per key
  * (the oplog total-order guarantee the serial micro-batch tail
  * preserves); within a batch, (sec, event_id) orders ties.
  */
object StreamScd2 {

  /** `keyType` generalizes the key column: the harness twin uses the
    * fixture's long user ids; the CDC tail's doc ids are strings. */
  def historySchema(keyType: DataType = LongType): StructType = StructType(Seq(
    StructField("key", keyType),
    StructField("version", LongType),
    StructField("attr", StringType),
    StructField("valid_from", LongType),
    StructField("valid_to", LongType),
  ))

  private val historyCols = historySchema().fieldNames.toSeq

  def emptyHistory(spark: SparkSession, keyType: DataType = LongType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], historySchema(keyType))

  /** MERGE one ordered micro-batch of changes into the history.
    *
    * `batch` columns: `key, attr, sec, event_id`. Returns the new
    * history (closed rows untouched; open rows closed where the batch
    * opens a newer version; new versions appended, last one open).
    */
  def applyBatch(history: DataFrame, batch: DataFrame): DataFrame = {
    val open = history.filter(col("valid_to").isNull)
      .select(col("key"), col("attr").as("open_attr"),
        col("version").as("open_version"))

    // change detection: the previous attribute is the batch-local lag,
    // or the key's open version's attribute for the batch's first event
    val wOrd = Window.partitionBy(col("key")).orderBy(col("sec"), col("event_id"))
    val kept = batch
      .withColumn("prev", lag(col("attr"), 1).over(wOrd))
      .join(open, Seq("key"), "left")
      .withColumn("prev0", coalesce(col("prev"), col("open_attr")))
      .filter(col("prev0").isNull || col("attr") =!= col("prev0"))

    // interval build over the surviving changes, versions continuing
    // from the key's open version (0 for brand-new keys)
    val fresh = kept
      .withColumn("version",
        coalesce(col("open_version"), lit(0L)) + row_number().over(wOrd))
      .withColumn("valid_to", lead(col("sec"), 1).over(wOrd))
      .select(col("key"), col("version"), col("attr"),
        col("sec").as("valid_from"), col("valid_to"))

    // close each open version at its key's first fresh change (keys the
    // batch didn't genuinely change keep valid_to null — still open)
    val firstFresh = fresh.groupBy(col("key"))
      .agg(min(col("valid_from")).as("next_from"))
    val openRows = history.filter(col("valid_to").isNull)
      .drop("valid_to")
      .join(firstFresh, Seq("key"), "left")
      .withColumnRenamed("next_from", "valid_to")
      .select(historyCols.map(col): _*)

    history.filter(col("valid_to").isNotNull)
      .unionByName(openRows)
      .unionByName(fresh)
  }

  /** Read-side projection matching `cdc_scd2_history`'s output shape. */
  def asQueryResult(history: DataFrame): DataFrame =
    history
      .select(col("key"), col("version"), col("attr"),
        col("valid_from"), col("valid_to"), col("valid_to").isNull.as("is_current"))
      .orderBy(col("key"), col("version"))

  /** Open the persisted history at `dir`: the bucketed
    * [[Scd2BucketedTable]] (O(batch) per trigger). An existing
    * layout's recorded key type is authoritative (it shapes the files'
    * schema); `keyType` only types a fresh directory. A directory
    * still in the retired VERSION/v_N layout is refused
    * ([[graft.cdc.StateStore.requireNoLegacyLayout]]). */
  def table(spark: SparkSession, dir: String,
      keyType: DataType = LongType): Scd2BucketedTable = {
    graft.cdc.StateStore.requireNoLegacyLayout(dir)
    val kt = if (graft.cdc.StateIO.exists(s"$dir/KEYTYPE"))
      DataType.fromDDL(graft.cdc.StateIO.readString(s"$dir/KEYTYPE").trim)
    else keyType
    new Scd2BucketedTable(spark, dir, keyType = kt)
  }
}
