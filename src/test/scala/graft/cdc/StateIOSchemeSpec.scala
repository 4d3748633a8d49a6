package graft.cdc

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.model.{BsonTs, TaskSpec}

/** A local filesystem registered under a NON-default scheme — proves the
  * state stores resolve their metadata plane through the Hadoop
  * `FileSystem` API (configured per-session), not through `java.nio`
  * against the driver's disk. */
class GraftTestFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

/** The stores' metadata IO (manifest/pointer/version files, listings,
  * vacuum deletes) must run wherever the data lives: against explicit
  * `file:` URIs and against a scheme that ONLY exists in the session's
  * Hadoop configuration. A java.nio implementation fails both the
  * graftfs tests (no such local path handling) — this is the spec for
  * VERDICT r7 #1. */
class StateIOSchemeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def registerScheme(): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)

  private def ev(sec: Int, ord: Int, op: String, id: String, doc: String) =
    OplogRow(BsonTs(sec, ord).toLong, op, "db.c", id, doc)

  val task = TaskSpec(Vector("value" -> "value"))
  val spec = BucketedStateStore.Spec(nBuckets = 4, compactThreshold = 2, retainManifests = 2)

  test("bucketed store: full lifecycle (commit, compaction, vacuum, restart read) over graftfs:") {
    registerScheme()
    val dir = s"graftfs:${Files.createTempDirectory("graftfs-bucketed")}"
    assert(!BucketedStateStore.exists(dir))
    // enough commits to cross the compaction threshold and vacuum
    (1 to 5).foreach { sec =>
      val op =
        if (sec == 3) ev(sec, 0, "d", "a", """{"_id":"a"}""")
        else ev(sec, 0, "i", "a", s"""{"_id":"a","value":$sec.0}""")
      BucketedStateStore.applyBatch(
        spark.createDataset(Seq(op,
          ev(sec, 1, "i", s"k$sec", s"""{"_id":"k$sec","value":$sec.0}"""))),
        task, dir, spec)
    }
    assert(BucketedStateStore.exists(dir))
    val got = StateStore.read(spark, dir).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("doc")).toMap
    assert(got("a") === """{"_id":"a","value":5.0}""")
    assert((1 to 5).forall(i => got.contains(s"k$i")))
    // vacuum ran through the same scheme: manifest count is bounded
    val manifests = StateIO.list(s"$dir/manifest").size
    assert(manifests <= spec.retainManifests, s"vacuum must bound manifests, found $manifests")
    // point lookups resolve through graftfs: too
    val prior = BucketedStateStore.priorFor(spark, dir, Seq("a", "k2").toDF("id"))
    assert(prior.collect().map(_.getAs[String]("id")).toSet === Set("a", "k2"))
  }

  test("both stores accept explicit file: URIs") {
    val bdir = s"file:${Files.createTempDirectory("fileuri-bucketed")}"
    BucketedStateStore.applyBatch(
      spark.createDataset(Seq(ev(1, 0, "i", "x", """{"_id":"x","value":1.0}"""))),
      task, bdir, spec)
    assert(StateStore.read(spark, bdir).collect().map(_.getAs[String]("id")).toSet === Set("x"))

    val hdir = s"file:${Files.createTempDirectory("fileuri-scd2")}/hist"
    val hist = graft.streaming.StreamScd2.table(spark, hdir)
    assert(hist.applyIfNew(Seq((1L, "a", 10L, 1L)).toDF("key", "attr", "sec", "event_id"), 0L))
    assert(graft.streaming.StreamScd2.table(spark, hdir).read()
      .collect().map(_.getAs[Long]("key")).toSet === Set(1L))
  }
}
