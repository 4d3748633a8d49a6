package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Cross-batch property: for ANY positional split of a (sec, event_id)-
  * ordered event sequence into micro-batches, folding
  * StreamScd2.applyBatch equals a pure in-memory SCD2 model — no-op
  * collapse, version numbering and interval closure must not depend on
  * where batch boundaries fall (including boundaries inside same-sec
  * tie groups and keys absent from some batches).
  */
class Scd2PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private case class Ev(key: Long, attr: String, sec: Long, eventId: Long)

  /** Pure SCD2 model over the full ordered sequence. */
  private def model(evs: Seq[Ev]): Seq[(Long, Long, String, Long, Option[Long], Boolean)] =
    evs.groupBy(_.key).toSeq.sortBy(_._1).flatMap { case (key, ks0) =>
      val ks = ks0.sortBy(e => (e.sec, e.eventId))
      val changes = ks.foldLeft(Vector.empty[Ev]) { (acc, e) =>
        if (acc.lastOption.exists(_.attr == e.attr)) acc else acc :+ e
      }
      changes.zipWithIndex.map { case (e, i) =>
        val validTo = changes.lift(i + 1).map(_.sec)
        (key, (i + 1).toLong, e.attr, e.sec, validTo, validTo.isEmpty)
      }
    }

  private def fold(batches: Seq[Seq[Ev]]): Seq[(Long, Long, String, Long, Option[Long], Boolean)] = {
    import spark.implicits._
    var h = StreamScd2.emptyHistory(spark)
    batches.filter(_.nonEmpty).foreach { b =>
      val df = b.map(e => (e.key, e.attr, e.sec, e.eventId))
        .toDF("key", "attr", "sec", "event_id")
      h = StreamScd2.applyBatch(h, df).localCheckpoint()
    }
    StreamScd2.asQueryResult(h).collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5)))
  }

  /** Same fold, but PERSISTED through the bucketed table per batch —
    * the property then also covers its point-lookup + replace-all-delta
    * dataflow (prior history restricted to the batch's keys must
    * reproduce the pure fold exactly). */
  private def foldPersisted(
      batches: Seq[Seq[Ev]],
      mk: String => Scd2BucketedTable): Seq[(Long, Long, String, Long, Option[Long], Boolean)] = {
    import spark.implicits._
    val t = mk(java.nio.file.Files.createTempDirectory("scd2prop").toString + "/hist")
    batches.filter(_.nonEmpty).zipWithIndex.foreach { case (b, i) =>
      val df = b.map(e => (e.key, e.attr, e.sec, e.eventId))
        .toDF("key", "attr", "sec", "event_id")
      t.applyIfNew(df, i.toLong)
    }
    StreamScd2.asQueryResult(t.read()).collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5)))
  }

  test("any micro-batch split through the BUCKETED persistence equals the model") {
    val rnd = new scala.util.Random(
      sys.env.get("GRAFT_SEED").map(_.toLong).getOrElse(20260814L))
    for (trial <- 1 to 3) {
      val n = 30 + rnd.nextInt(40)
      val evs = (0 until n).map { i =>
        Ev(rnd.nextInt(4).toLong, s"a${rnd.nextInt(4)}",
          rnd.nextInt(15).toLong, i.toLong)
      }
      val ordered = evs.sortBy(e => (e.sec, e.eventId))
      val nCuts = 1 + rnd.nextInt(4)
      val cuts = (Seq.fill(nCuts)(rnd.nextInt(n + 1)).sorted :+ n).distinct
      val batches = (0 +: cuts).sliding(2).map {
        case Seq(a, b) => ordered.slice(a, b)
        case _         => Seq.empty
      }.toSeq
      // low compactThreshold so compaction fires mid-fold too
      val got = foldPersisted(batches,
        d => new Scd2BucketedTable(spark, d, nBuckets = 3, compactThreshold = 2))
      assert(got === model(evs),
        s"bucketed trial $trial (n=$n cuts=$cuts) diverged from the model")
    }
  }

  test("any micro-batch split folds to the full-sequence SCD2 build") {
    val rnd = new scala.util.Random(
      sys.env.get("GRAFT_SEED").map(_.toLong).getOrElse(20260814L))
    for (trial <- 1 to 8) {
      val n = 30 + rnd.nextInt(40)
      val evs = (0 until n).map { i =>
        Ev(rnd.nextInt(4).toLong, s"a${rnd.nextInt(4)}",
          rnd.nextInt(15).toLong, i.toLong)
      }
      val ordered = evs.sortBy(e => (e.sec, e.eventId))
      // 1..5 batches at random positional cut points (cuts may land
      // inside same-sec tie groups — per-key order is still preserved
      // because subsequences of an ordered sequence stay ordered)
      val nCuts = rnd.nextInt(5)
      val cuts = (Seq.fill(nCuts)(rnd.nextInt(n + 1)).sorted :+ n).distinct
      val batches = (0 +: cuts).sliding(2).map {
        case Seq(a, b) => ordered.slice(a, b)
        case _         => Seq.empty
      }.toSeq
      assert(fold(batches) === model(evs),
        s"trial $trial (n=$n cuts=$cuts) diverged from the model")
    }
  }
}
