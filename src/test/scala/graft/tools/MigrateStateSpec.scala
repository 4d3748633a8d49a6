package graft.tools

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.cdc.{BucketedStateStore, StateIO, StateStore}
import graft.streaming.{Scd2BucketedTable, StreamScd2}

/** The offline legacy→bucketed migration: post-migration reads must be
  * row-identical, the legacy pointer must be retired only after the
  * verification pass, and a resuming tail must land on the bucketed
  * path with its replay guard intact. Legacy fixtures are written and
  * read through [[LegacyLayout]]. */
class MigrateStateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("cdc: legacy VERSION store migrates to bucketed, reads identical, tail resumes bucketed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mig_cdc").toString + "/state"
    // two legacy commits so the migration reads a non-trivial chain tip
    LegacyLayout.writeCdc(Seq(
      ("a", """{"_id":"a","x":1}""", null: String, 10L),
      ("b", """{"_id":"b","x":2}""", null: String, 11L),
    ).toDF("id", "doc", "parent", "ts"), dir)
    LegacyLayout.writeCdc(Seq(
      ("a", """{"_id":"a","x":5}""", null: String, 20L),
      ("b", """{"_id":"b","x":2}""", null: String, 11L),
      ("c", """{"_id":"c","x":3}""", "p1", 21L),
    ).toDF("id", "doc", "parent", "ts"), dir)
    val before = sortedRows(LegacyLayout.readCdc(spark, dir))

    val spec = BucketedStateStore.Spec(nBuckets = 4)
    val rep = MigrateState.migrateCdc(spark, dir, spec)
    assert(rep.rows === 3L)

    // the swap happened: legacy pointer retired (content preserved),
    // bucketed manifest authoritative, reads identical
    assert(!StateIO.exists(s"$dir/VERSION"))
    assert(StateIO.exists(s"$dir/VERSION.premigration"))
    assert(BucketedStateStore.exists(dir))
    assert(sortedRows(StateStore.read(spark, dir)) === before)
    // a restarting Runner now opens the directory as backfilled state
    assert(StateStore.exists(dir))

    // and the bucketed path accepts the next micro-batch's commit
    val delta = Seq(
      ("a", """{"_id":"a","x":9}""", null: String, 30L, "upsert"),
      ("b", null: String, null: String, 31L, "delete"),
    ).toDF("id", "doc", "parent", "ts", "action")
    val dirty = delta.select(BucketedStateStore.bucketCol(4).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    BucketedStateStore.commitDelta(delta, dir, spec, dirty)
    val after = StateStore.read(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(after === Map("a" -> 30L, "c" -> 21L)) // b deleted, a advanced

    // a second migration attempt refuses instead of overwriting
    intercept[IllegalStateException] { MigrateState.migrateCdc(spark, dir, spec) }
  }

  test("scd2: legacy history migrates with lastBatchId preserved; tail resumes with replay guard") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mig_scd2").toString + "/hist"
    def batch(rs: (Long, String, Long, Long)*) =
      rs.toDF("key", "attr", "sec", "event_id")
    LegacyLayout.writeScd2(spark, dir, batch((1L, "a", 10L, 1L)), batchId = 0L)
    LegacyLayout.writeScd2(spark, dir, batch((1L, "b", 20L, 2L), (2L, "x", 5L, 3L)), batchId = 1L)
    val before = sortedRows(StreamScd2.asQueryResult(LegacyLayout.readScd2(spark, dir)))

    val rep = MigrateState.migrateScd2(spark, dir, nBuckets = 4)
    assert(rep.lastBatchId === 1L)
    assert(rep.rows === 3L) // (1,a) closed, (1,b) open, (2,x) open

    // the factory opens the migrated history with identical content and
    // the replay guard carried over
    assert(!StateIO.exists(s"$dir/VERSION"))
    val t2 = StreamScd2.table(spark, dir)
    assert(t2.lastBatchId === 1L)
    assert(sortedRows(StreamScd2.asQueryResult(t2.read())) === before)

    // a re-offered in-flight batch (crash replay) is skipped...
    assert(!t2.applyIfNew(batch((1L, "b", 20L, 2L)), batchId = 1L))
    assert(sortedRows(StreamScd2.asQueryResult(t2.read())) === before)
    // ...and genuinely new batches merge on the O(batch) path
    assert(t2.applyIfNew(batch((1L, "c", 30L, 4L)), batchId = 2L))
    val rows = StreamScd2.asQueryResult(t2.read()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted
    assert(rows === Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "c"), (2L, 1L, "x")))
  }

  test("cdc: a legacy commit landing mid-migration aborts the swap (single-writer CAS)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mig_cas").toString + "/state"
    LegacyLayout.writeCdc(Seq(
      ("a", """{"_id":"a","x":1}""", null: String, 10L),
    ).toDF("id", "doc", "parent", "ts"), dir)

    // interpose a live tail's commit between the migration's snapshot
    // and its pointer swap — exactly the window the CAS must close
    MigrateState.preSwapHook = () => LegacyLayout.writeCdc(Seq(
      ("a", """{"_id":"a","x":1}""", null: String, 10L),
      ("z", """{"_id":"z","x":9}""", null: String, 99L),
    ).toDF("id", "doc", "parent", "ts"), dir)
    try {
      val ex = intercept[IllegalStateException] {
        MigrateState.migrateCdc(spark, dir, BucketedStateStore.Spec(nBuckets = 4))
      }
      assert(ex.getMessage.contains("concurrent writer"))
    } finally MigrateState.preSwapHook = () => ()

    // the aborted migration withdrew its manifest: the directory is
    // unambiguously legacy and the interposed commit is fully visible
    assert(!BucketedStateStore.exists(dir))
    assert(StateIO.exists(s"$dir/VERSION"))
    val ids = LegacyLayout.readCdc(spark, dir).collect().map(_.getString(0)).toSet
    assert(ids === Set("a", "z"))

    // with the writer quiesced, a re-run succeeds and carries the
    // interposed commit into the bucketed layout
    val rep = MigrateState.migrateCdc(spark, dir, BucketedStateStore.Spec(nBuckets = 4))
    assert(rep.rows === 2L)
    assert(StateStore.read(spark, dir).collect().map(_.getString(0)).toSet === Set("a", "z"))
  }

  test("cdc: a crash between seed and swap leaves legacy authoritative; re-run refuses") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mig_crash").toString + "/state"
    val df = Seq(("a", """{"_id":"a","x":1}""", null: String, 10L))
      .toDF("id", "doc", "parent", "ts")
    LegacyLayout.writeCdc(df, dir)
    val before = sortedRows(LegacyLayout.readCdc(spark, dir))

    // simulate the crash: the bucketed layout was fully seeded but the
    // run died before verify/swap — manifest AND legacy pointer coexist
    BucketedStateStore.seed(LegacyLayout.readCdc(spark, dir), dir,
      BucketedStateStore.Spec(nBuckets = 4))
    assert(BucketedStateStore.exists(dir) && StateIO.exists(s"$dir/VERSION"))

    // the engine refuses the half-migrated directory; legacy data intact
    val refused = intercept[IllegalStateException](StateStore.read(spark, dir))
    assert(refused.getMessage.contains("MigrateState"))
    assert(sortedRows(LegacyLayout.readCdc(spark, dir)) === before)

    // a re-run must refuse with the remediation pointer, not overwrite
    val ex = intercept[IllegalArgumentException] {
      MigrateState.migrateCdc(spark, dir, BucketedStateStore.Spec(nBuckets = 4))
    }
    assert(ex.getMessage.contains("inspect VERSION.premigration"))
    assert(StateIO.exists(s"$dir/VERSION"), "legacy pointer must survive a refused re-run")
    assert(sortedRows(LegacyLayout.readCdc(spark, dir)) === before)
  }

  test("scd2: a legacy commit landing mid-migration aborts the swap (single-writer CAS)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mig_scd2_cas").toString + "/hist"
    LegacyLayout.writeScd2(spark, dir,
      Seq((1L, "a", 10L, 1L)).toDF("key", "attr", "sec", "event_id"), batchId = 0L)

    // a live tail commits batch 1 between the snapshot and the swap
    MigrateState.preSwapHook = () => LegacyLayout.writeScd2(spark, dir,
      Seq((2L, "x", 20L, 2L)).toDF("key", "attr", "sec", "event_id"), batchId = 1L)
    try {
      val ex = intercept[IllegalStateException] { MigrateState.migrateScd2(spark, dir, 4) }
      assert(ex.getMessage.contains("concurrent writer"))
    } finally MigrateState.preSwapHook = () => ()

    // unambiguously legacy, interposed commit intact; quiesced re-run
    // succeeds and carries it (replay guard included)
    assert(!Scd2BucketedTable.exists(dir))
    assert(StateIO.exists(s"$dir/VERSION"))
    val rep = MigrateState.migrateScd2(spark, dir, 4)
    assert(rep.lastBatchId === 1L)
    val t2 = StreamScd2.table(spark, dir)
    assert(t2.lastBatchId === 1L)
    assert(t2.read().select("key").distinct().count() === 2L)
  }

  test("scd2: a failed verification leaves the directory unambiguously legacy") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mig_fail").toString + "/hist"
    LegacyLayout.writeScd2(spark, dir,
      Seq((1L, "a", 10L, 1L)).toDF("key", "attr", "sec", "event_id"), batchId = 0L)
    // no bucketed layout and no retired pointer may survive a failed
    // attempt; simulate one by pre-planting a foreign manifest, which
    // the tool must refuse outright
    StateIO.writeStringAtomic(s"$dir/MANIFEST", "999 0")
    intercept[IllegalArgumentException] { MigrateState.migrateScd2(spark, dir) }
    assert(StateIO.exists(s"$dir/VERSION"), "legacy pointer must survive a refused migration")
  }
}
