package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.LongType
import graft.cdc.{BucketedStateStore, StateIO}
import graft.streaming.{Scd2BucketedTable, StreamScd2}

/** Offline, one-way migration from the retired full-rewrite layout
  * (a `VERSION` pointer over `v_N` parquet directories, used by the CDC
  * state and by SCD2 history) to the bucketed manifest+delta layout
  * the engine reads and writes. The engine refuses a directory that
  * still holds a `VERSION` pointer
  * ([[graft.cdc.StateStore.requireNoLegacyLayout]]), and this tool is
  * the only code that still reads `v_N`: it reads the legacy store
  * read-only, writes an equivalent bucketed base + manifest INTO THE
  * SAME directory, verifies row-level equality, and only then retires
  * the legacy pointer.
  *
  * Crash safety: the pointer-delete at the end IS the swap. Before it,
  * the `VERSION` pointer is still in place, so after a crash at any
  * earlier step (bucketed files written, manifest written, verify
  * running) the engine refuses the directory instead of reading it,
  * and the legacy `v_N` data is untouched; a re-run refuses too once
  * the manifest was written. The pointer's content is preserved in
  * `VERSION.premigration` and the `v_N` directories stay on disk for
  * manual rollback (restore the pointer file and delete MANIFEST,
  * manifest/, data/ and, for SCD2, KEYTYPE).
  *
  * Run: `sbt "runMain graft.tools.MigrateState <cdc|scd2> <dir> [nBuckets]"`.
  */
object MigrateState {

  final case class Report(kind: String, dir: String, rows: Long, nBuckets: Int,
      lastBatchId: Long)

  /** Row-level diff both directions; 0 ⇔ multiset-equal modulo exact
    * duplicate multiplicity (the state/history stores never hold
    * duplicate full rows: CDC state is unique by id, SCD2 history by
    * (key, version)). */
  private def diffCount(a: DataFrame, b: DataFrame): Long = {
    val cols = a.columns.sorted.toSeq
    val an = a.select(cols.map(org.apache.spark.sql.functions.col): _*)
    val bn = b.select(cols.map(org.apache.spark.sql.functions.col): _*)
    an.exceptAll(bn).count() + bn.exceptAll(an).count()
  }

  /** The legacy `VERSION` pointer's content, if `dir` holds one. */
  private def legacyPointer(dir: String): Option[String] =
    if (StateIO.exists(s"$dir/VERSION")) Some(StateIO.readString(s"$dir/VERSION").trim)
    else None

  /** Migrate a legacy CDC state (`VERSION` holds "N", the state is the
    * `v_N` parquet directory) to the incremental [[BucketedStateStore]]
    * layout in place. Error if the dir holds no legacy store. */
  def migrateCdc(spark: SparkSession, dir: String,
      spec: BucketedStateStore.Spec = BucketedStateStore.Spec()): Report = {
    // snapshot the pointer ONCE; everything below (legacy read, seed,
    // verify, swap) is keyed to this content so a live writer moving the
    // pointer mid-migration is caught by the CAS in swapOutLegacy
    val pointer0 = legacyPointer(dir).getOrElse(
      throw new IllegalStateException(s"$dir holds no legacy VERSION store to migrate"))
    require(!BucketedStateStore.exists(dir),
      s"$dir already holds a bucketed manifest — refusing to overwrite " +
        "(an earlier migration may have been interrupted after its swap; " +
        "inspect VERSION.premigration)")
    val legacy = spark.read.parquet(s"$dir/v_${pointer0.toInt}")
    BucketedStateStore.seed(legacy, dir, spec)
    val diff = diffCount(legacy, BucketedStateStore.read(spark, dir))
    if (diff != 0) {
      // verification failed: withdraw the half-built bucketed layout so
      // the directory stays unambiguously legacy
      StateIO.delete(s"$dir/MANIFEST")
      throw new IllegalStateException(
        s"migration verification failed for $dir: $diff differing rows; legacy store untouched")
    }
    swapOutLegacy(dir, pointer0)
    Report("cdc", dir, legacy.count(), spec.nBuckets, -1L)
  }

  /** Migrate a legacy SCD2 history (`VERSION` holds "N lastBatchId",
    * the history is the `v_N` parquet directory; N = -1 before the
    * first data commit) to [[Scd2BucketedTable]] in place. The legacy
    * lastBatchId is carried into the bucketed pointer, so a resuming
    * tail's foreachBatch replay guard is preserved exactly across the
    * layout switch. */
  def migrateScd2(spark: SparkSession, dir: String, nBuckets: Int = 16): Report = {
    val pointer0 = legacyPointer(dir).getOrElse(
      throw new IllegalStateException(s"$dir holds no legacy VERSION history to migrate"))
    require(!Scd2BucketedTable.exists(dir),
      s"$dir already holds a bucketed manifest — refusing to overwrite " +
        "(an earlier migration may have been interrupted after its swap; " +
        "inspect VERSION.premigration)")
    val (version, lastBatchId) = pointer0.split(' ') match {
      case Array(v, b) => (v.toInt, b.toLong)
      case Array(v)    => (v.toInt, -1L)
    }
    // the legacy layout records no KEYTYPE: the current version's
    // parquet schema carries the key type; the explicit history schema
    // then reads the data
    val (legacy, keyType) =
      if (version < 0) (StreamScd2.emptyHistory(spark), LongType)
      else {
        val path = s"$dir/v_$version"
        val kt = spark.read.parquet(path).schema("key").dataType
        (spark.read.schema(StreamScd2.historySchema(kt)).parquet(path), kt)
      }
    val bucketed = new Scd2BucketedTable(spark, dir, nBuckets = nBuckets, keyType = keyType)
    bucketed.seed(legacy, lastBatchId)
    val diff = diffCount(legacy, bucketed.read())
    if (diff != 0) {
      StateIO.delete(s"$dir/MANIFEST")
      throw new IllegalStateException(
        s"migration verification failed for $dir: $diff differing rows; legacy history untouched")
    }
    swapOutLegacy(dir, pointer0)
    Report("scd2", dir, legacy.count(), nBuckets, lastBatchId)
  }

  /** Test hook: runs immediately before the pointer-swap CAS check,
    * letting the spec interpose a concurrent legacy writer (the same
    * discipline as the online commits' preSwap hooks). */
  private[tools] var preSwapHook: () => Unit = () => ()

  /** The swap: CAS-check that the legacy pointer still holds the exact
    * content the migration snapshotted at start (the tool is documented
    * offline, but nothing else enforces it — a live tail committing a
    * new legacy version mid-migration would otherwise be silently
    * dropped from the bucketed layout), preserve the pointer content
    * for rollback, then remove the pointer — from here the engine opens
    * the directory as the bucketed layout. The v_N data dirs stay on
    * disk. Mirrors the online commits' checkPointerUnmoved. */
  private def swapOutLegacy(dir: String, pointerAtStart: String): Unit = {
    preSwapHook()
    val now = StateIO.readString(s"$dir/VERSION").trim
    if (now != pointerAtStart) {
      // withdraw the half-built bucketed layout so the directory stays
      // unambiguously legacy, exactly like a failed verification
      StateIO.delete(s"$dir/MANIFEST")
      throw new IllegalStateException(
        s"concurrent writer on legacy store at $dir during migration: " +
          s"VERSION moved from '$pointerAtStart' to '$now'; bucketed manifest " +
          "withdrawn, legacy store untouched — quiesce writers and re-run")
    }
    StateIO.writeStringAtomic(s"$dir/VERSION.premigration", pointerAtStart)
    StateIO.delete(s"$dir/VERSION")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: MigrateState <cdc|scd2> <dir> [nBuckets]")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .appName("graft-migrate-state")
      .getOrCreate()
    try {
      val r = args(0) match {
        case "cdc" =>
          val spec = if (args.length > 2)
            BucketedStateStore.Spec(nBuckets = args(2).toInt)
          else BucketedStateStore.Spec()
          migrateCdc(spark, args(1), spec)
        case "scd2" =>
          migrateScd2(spark, args(1),
            if (args.length > 2) args(2).toInt else 16)
        case other => throw new IllegalArgumentException(s"unknown store kind '$other'")
      }
      println(s"""{"migrated":"${r.kind}","dir":"${r.dir}","rows":${r.rows},""" +
        s""""n_buckets":${r.nBuckets},"last_batch_id":${r.lastBatchId}}""")
    } finally spark.stop()
  }
}
