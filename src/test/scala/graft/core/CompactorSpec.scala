package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.model._

/** The five golden `mergeOplogs` compaction scenarios
  * (reference test/processor.test.ts:132-396) + seeded property tests
  * (SURVEY.md §5).
  */
class CompactorSpec extends AnyFunSuite {
  val id = "aaaaaaaaaaaaaaaaaaaaaaaa"
  val task = TaskSpec(Vector("field0.field1" -> "field1", "field0.field2" -> "field2"))

  def ins(ts: (Int, Int), o: DObj, ns: String = "example1") =
    Oplog(BsonTs(ts._2, ts._1), "i", ns, o)
  def upd(ts: (Int, Int), o: DObj, ns: String = "example1") =
    Oplog(BsonTs(ts._2, ts._1), "u", ns, o, Some(DObj("_id" -> DStr(id))))
  def del(ts: (Int, Int), ns: String = "example1") =
    Oplog(BsonTs(ts._2, ts._1), "d", ns, DObj("_id" -> DStr(id)))
  // NOTE: reference fixtures use `new Timestamp(low, high)` = (ord, seconds).

  test("mergeOplogs insert then update (test/processor.test.ts:132-184)") {
    val got = Transformer.mergeOplogs(task, Seq(
      ins((0, 0), DObj("_id" -> DStr(id), "field0.field1" -> DInt(0))),
      upd((1, 0), DObj(
        "$set" -> DObj("field0.field1" -> DInt(1)),
        "$unset" -> DObj("field0.field2" -> DInt(1)))),
    ))
    assert(got === Seq(
      ins((1, 0), DObj("_id" -> DStr(id), "field0.field1" -> DInt(1)))))
  }

  test("mergeOplogs update then update deep-merge, out-of-order ts (test/processor.test.ts:186-247)") {
    val got = Transformer.mergeOplogs(task, Seq(
      upd((1, 0), DObj(
        "field0.field1" -> DInt(1),
        "$set" -> DObj("field0.field2" -> DInt(1)))),
      upd((0, 0), DObj(
        "$set" -> DObj("field0.field1" -> DInt(3), "field0.field2" -> DInt(2)))),
    ))
    assert(got === Seq(
      upd((1, 0), DObj(
        "$set" -> DObj("field0.field1" -> DInt(3), "field0.field2" -> DInt(1)),
        "field0.field1" -> DInt(1)))))
  }

  test("mergeOplogs update then delete (test/processor.test.ts:249-297)") {
    val got = Transformer.mergeOplogs(task, Seq(
      upd((0, 0), DObj(
        "field0.field1" -> DInt(1),
        "$set" -> DObj("field0.field2" -> DInt(1)))),
      del((1, 0)),
    ))
    assert(got === Seq(del((1, 0))))
  }

  test("mergeOplogs insert then delete annihilates (test/processor.test.ts:299-333)") {
    val got = Transformer.mergeOplogs(task, Seq(
      ins((0, 0), DObj("_id" -> DStr(id), "field0" -> DInt(1))),
      del((1, 0)),
    ))
    assert(got === Seq.empty)
  }

  test("mergeOplogs insert+update+update with shuffled ts (test/processor.test.ts:335-396)") {
    val t = TaskSpec(Vector("field0.field1" -> "field1"))
    val got = Transformer.mergeOplogs(t, Seq(
      ins((0, 0), DObj("_id" -> DStr(id), "field0.field1" -> DInt(0))),
      upd((2, 0), DObj("$set" -> DObj("field0.field1" -> DInt(2)))),
      upd((1, 0), DObj("$set" -> DObj("field0.field1" -> DInt(1)))),
    ))
    assert(got === Seq(
      ins((2, 0), DObj("_id" -> DStr(id), "field0.field1" -> DInt(2)))))
  }

  // --- deep-merge golden note: u+u merge uses the whole event body ---
  test("u+u merge: later $set keys override, earlier keys survive") {
    val got = Transformer.mergeOplogs(task, Seq(
      upd((0, 0), DObj("$set" -> DObj("field0.field1" -> DInt(10), "keep" -> DStr("a")))),
      upd((1, 0), DObj("$set" -> DObj("field0.field1" -> DInt(20)))),
    ))
    assert(got === Seq(
      upd((1, 0), DObj("$set" -> DObj("field0.field1" -> DInt(20), "keep" -> DStr("a"))))))
  }

  // --- full-document replacements: goldens written by hand from Mongo
  // semantics (the reference folds these as `$set`s and loses updates) ---
  test("insert then full replacement: the replacement body becomes the insert") {
    val got = Transformer.mergeOplogs(task, Seq(
      ins((0, 0), DObj("_id" -> DStr(id), "field0" -> DObj("field1" -> DInt(0)), "x" -> DInt(1))),
      upd((1, 0), DObj("_id" -> DStr(id), "field0" -> DObj("field2" -> DInt(5)))),
    ))
    assert(got === Seq(
      ins((1, 0), DObj("_id" -> DStr(id), "field0" -> DObj("field2" -> DInt(5))))))
  }

  test("full replacement then $set/$unset: the update folds into the replacement body") {
    val got = Transformer.mergeOplogs(task, Seq(
      upd((0, 0), DObj("_id" -> DStr(id),
        "field0" -> DObj("field1" -> DInt(1), "field2" -> DInt(2)))),
      upd((1, 0), DObj(
        "$set" -> DObj("field0.field1" -> DInt(9)),
        "$unset" -> DObj("field0.field2" -> DInt(1)))),
    ))
    assert(got === Seq(
      upd((1, 0), DObj("_id" -> DStr(id), "field0" -> DObj("field1" -> DInt(9))))))
  }

  test("$set then full replacement: the replacement wins outright") {
    val got = Transformer.mergeOplogs(task, Seq(
      upd((0, 0), DObj("$set" -> DObj("field0.field1" -> DInt(1)))),
      upd((1, 0), DObj("_id" -> DStr(id), "field0" -> DObj("field2" -> DInt(2)))),
    ))
    assert(got === Seq(
      upd((1, 0), DObj("_id" -> DStr(id), "field0" -> DObj("field2" -> DInt(2))))))
  }

  test("full replacement then full replacement: the later body wins, nothing merges") {
    val got = Transformer.mergeOplogs(task, Seq(
      upd((0, 0), DObj("_id" -> DStr(id),
        "field0" -> DObj("field1" -> DInt(1), "field2" -> DInt(2)))),
      upd((1, 0), DObj("_id" -> DStr(id), "field0" -> DObj("field1" -> DInt(3)))),
    ))
    assert(got === Seq(
      upd((1, 0), DObj("_id" -> DStr(id), "field0" -> DObj("field1" -> DInt(3))))))
  }

  test("insert, full replacement, $set: one insert carrying both") {
    val got = Transformer.mergeOplogs(task, Seq(
      ins((0, 0), DObj("_id" -> DStr(id), "field0" -> DObj("field1" -> DInt(0)))),
      upd((1, 0), DObj("_id" -> DStr(id), "field0" -> DObj("field2" -> DInt(2)))),
      upd((2, 0), DObj("$set" -> DObj("field0.field1" -> DInt(7)))),
    ))
    assert(got === Seq(
      ins((2, 0), DObj("_id" -> DStr(id),
        "field0" -> DObj("field2" -> DInt(2), "field1" -> DInt(7))))))
  }

  // --- seeded property tests (SURVEY.md §5) ---
  private def randomOplog(rnd: scala.util.Random): Oplog = {
    val ts = BsonTs(rnd.nextInt(6), rnd.nextInt(6))
    val key = s"k${rnd.nextInt(3)}"
    val v = rnd.nextInt(10).toLong
    rnd.nextInt(3) match {
      case 0 => Oplog(ts, "i", "ns", DObj("_id" -> DStr(key), "field0" -> DObj("field1" -> DInt(v))))
      case 1 => Oplog(ts, "u", "ns", DObj("$set" -> DObj("field0.field1" -> DInt(v))),
        Some(DObj("_id" -> DStr(key))))
      case _ => Oplog(ts, "d", "ns", DObj("_id" -> DStr(key)))
    }
  }

  test("property: compaction is idempotent") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 300) {
      val logs = Vector.fill(rnd.nextInt(9))(randomOplog(rnd))
      val once = Transformer.mergeOplogs(task, logs)
      val twice = Transformer.mergeOplogs(task, once)
      assert(twice === once, s"not idempotent for $logs")
    }
  }

  test("property: at most one surviving event per (ns, id)") {
    val rnd = new scala.util.Random(43)
    for (_ <- 1 to 300) {
      val logs = Vector.fill(10)(randomOplog(rnd))
      val out = Transformer.mergeOplogs(task, logs)
      val keys = out.flatMap(o => o.docId.map(o.ns + _))
      assert(keys.distinct.size === keys.size)
    }
  }

  test("property: permutation-invariant under distinct ts") {
    val rnd = new scala.util.Random(44)
    for (_ <- 1 to 300) {
      val logs = Vector.fill(8)(randomOplog(rnd)).zipWithIndex
        .map { case (l, i) => l.copy(ts = BsonTs(i, 0)) }
      val base = Transformer.mergeOplogs(task, logs)
      val shuffled = Transformer.mergeOplogs(task, rnd.shuffle(logs))
      assert(shuffled === base)
    }
  }
}
