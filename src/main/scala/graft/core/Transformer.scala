package graft.core

import graft.model._

/** The pure transform/compaction core — the reference's `Processor`
  * methods that carry all CDC semantics, re-expressed as pure functions
  * over the [[graft.model.DVal]] document model. No Spark here: these
  * functions are unit-tested against the reference's goldens and invoked
  * from inside typed Spark operators (`flatMapGroups`, `map`) by the
  * `graft.cdc` layer.
  *
  * Reference: src/processor.ts:51-132 (transform), 260-297 (compaction).
  */
object Transformer {

  /** `transformer(action, doc, timestamp, isESDoc)` — the field-mapping
    * projection T1–T3/T6/T7 (reference src/processor.ts:51-89).
    *
    * Upsert: output = static seed + {dstPath <- doc(srcPath) | srcPath in
    * mapping, path present}; empty output => None (P5). When `isESDoc`,
    * mapping keys are re-aimed dst->dst (T2, reference
    * src/processor.ts:69-71). Delete: id/parent/timestamp only.
    */
  def transformer(
      task: TaskSpec,
      action: String,
      doc: DObj,
      timestamp: Option[BsonTs] = None,
      isESDoc: Boolean = false,
  ): Option[IR] = {
    val ts = timestamp.map(_.seconds.toLong).getOrElse(0L)
    val id = doc.get("_id") match {
      case Some(DStr(s)) => s
      case Some(DInt(i)) => i.toString
      case Some(other)   => other.render
      case None          => return None
    }
    val parent = task.parent.flatMap(p => Paths.get(doc, p))
    if (action == "delete") {
      Some(IR("delete", id, None, parent, ts))
    } else {
      val data = task.mapping.foldLeft(task.static) { case (obj, (srcKey, dstPath)) =>
        val key = if (isESDoc) dstPath else srcKey
        Paths.get(doc, key) match {
          case Some(v) => Paths.set(obj, dstPath, v)
          case None    => obj
        }
      }
      if (data.isEmpty) None
      else Some(IR("upsert", id, Some(data), parent, ts))
    }
  }

  /** `applyUpdateMongoDoc` (T4, reference src/processor.ts:91-105): apply
    * `$set`/`$unset` to a source-shaped doc, restricted to mapped src
    * paths; `$unset` values are tested for truthiness, `$set` for
    * presence.
    */
  def applyUpdateMongoDoc(task: TaskSpec, doc: DObj, set: DObj, unset: DObj): DObj =
    task.mapping.foldLeft(doc) { case (d, (srcKey, _)) =>
      val afterUnset =
        if (Paths.get(unset, srcKey).exists(_.truthy)) Paths.unset(d, srcKey) else d
      Paths.get(set, srcKey) match {
        case Some(v) => Paths.set(afterUnset, srcKey, v)
        case None    => afterUnset
      }
    }

  /** `applyUpdateESDoc` (T5, reference src/processor.ts:107-121): same,
    * but reads the src path from the event and writes the mapped dst path
    * on a sink-shaped doc.
    */
  def applyUpdateESDoc(task: TaskSpec, doc: DObj, set: DObj, unset: DObj): DObj =
    task.mapping.foldLeft(doc) { case (d, (srcKey, dstPath)) =>
      val afterUnset =
        if (Paths.get(unset, srcKey).exists(_.truthy)) Paths.unset(d, dstPath) else d
      Paths.get(set, srcKey) match {
        case Some(v) => Paths.set(afterUnset, dstPath, v)
        case None    => afterUnset
      }
    }

  /** `ignoreUpdate` (P4/O5, reference src/processor.ts:123-132): an update
    * event is irrelevant iff no mapped src path occurs in its replacement
    * body, `$set` (presence), or `$unset` (truthiness).
    */
  def ignoreUpdate(task: TaskSpec, oplog: Oplog): Boolean = {
    if (oplog.op != "u") return true
    val set = oplog.o.get("$set")
    val unset = oplog.o.get("$unset")
    task.mapping.forall { case (srcKey, _) =>
      val inBody = Paths.has(oplog.o, srcKey)
      val inSet = set.exists(Paths.has(_, srcKey))
      val inUnset = unset.flatMap(Paths.get(_, srcKey)).exists(_.truthy)
      !(inBody || inSet || inUnset)
    }
  }

  private def objAt(o: DObj, k: String): DObj = o.get(k) match {
    case Some(obj: DObj) => obj
    case _               => DObj.empty
  }

  /** A `u` body with no update operator is a full-document replacement. */
  private def isReplacement(o: DObj): Boolean =
    !o.isEmpty && o.keys.forall(k => !k.startsWith("$"))

  /** `mergeOplogs` (C2/O4, reference src/processor.ts:260-297) — per-key
    * micro-batch compaction, the reference's only aggregation. Per key
    * `ns + _id`, events sorted by full 64-bit `ts`:
    *   - i overwrites;
    *   - u after i: a replacement becomes the inserted doc (keeping its
    *     `_id`); a `$set`/`$unset` folds into it (T4). Either advances ts;
    *   - a replacement u after u replaces the stored event;
    *   - a `$set`/`$unset` u after a replacement u folds into the
    *     replacement body (T4), which dispatch's fast path then reads;
    *   - any other u after u deep-merges the event bodies (later keys
    *     win) and advances ts;
    *   - u after d (or nothing) replaces the stored event;
    *   - d after i annihilates both; d otherwise wins.
    * The reference folds every u after i as a `$set` (dropping a
    * replacement) and deep-merges every u after u (so dispatch's
    * replacement fast path ignores a later `$set`); both lost updates.
    * Output re-sorted by ts (stable, preserving first-touch key order for
    * equal timestamps, like the reference's JS object iteration).
    */
  def mergeOplogs(task: TaskSpec, oplogs: Seq[Oplog]): Seq[Oplog] = {
    val store = scala.collection.mutable.LinkedHashMap.empty[String, Oplog]
    for (oplog <- oplogs.sortBy(_.ts)) {
      oplog.op match {
        case "i" =>
          oplog.docId.foreach { id => store(oplog.ns + id) = oplog }
        case "u" =>
          oplog.docId match {
            case None => // cannot key it; dropped later by validity filters
            case Some(id) =>
              val key = oplog.ns + id
              def folded(doc: DObj) =
                applyUpdateMongoDoc(task, doc, objAt(oplog.o, "$set"), objAt(oplog.o, "$unset"))
              store.get(key) match {
                case Some(log) if log.op == "i" =>
                  val newDoc =
                    if (isReplacement(oplog.o))
                      DObj(log.o.fields.filter(_._1 == "_id") ++ oplog.o.fields.filterNot(_._1 == "_id"))
                    else folded(log.o)
                  store(key) = log.copy(o = newDoc, ts = oplog.ts)
                case Some(log) if log.op == "u" && !isReplacement(oplog.o) =>
                  val o =
                    if (isReplacement(log.o)) folded(log.o)
                    else Paths.merge(log.o, oplog.o).asInstanceOf[DObj]
                  store(key) = log.copy(o = o, ts = oplog.ts)
                case _ => // a replacement after u, or any u after d / nothing
                  store(key) = oplog
              }
          }
        case "d" =>
          oplog.docId.foreach { id =>
            val key = oplog.ns + id
            store.get(key) match {
              case Some(log) if log.op == "i" => store.remove(key)
              case _                          => store(key) = oplog
            }
          }
        case _ => // unknown op: dropped (reference src/processor.ts:215-217)
      }
    }
    store.values.toVector.sortBy(_.ts)
  }

  /** The per-event dispatch C1 (reference src/processor.ts:171-223),
    * *given* the already-resolved current sink/source state — the I/O
    * (S5–S7 lookups) is replaced by joins in the Spark layer, which then
    * calls this pure arm per row.
    *
    * @param sinkDoc  current sink-shaped doc for this id, if any (ES state)
    * @param sourceDoc current source-shaped doc for this id, if any
    *                  (Mongo fallback)
    */
  def dispatch(
      task: TaskSpec,
      oplog: Oplog,
      sinkDoc: => Option[DObj] = None,
      sourceDoc: => Option[DObj] = None,
  ): Option[IR] = oplog.op match {
    case "i" => transformer(task, "upsert", oplog.o, Some(oplog.ts))
    case "u" =>
      val id = oplog.docId
      if (id.isEmpty) None // validity filter P6 (src/processor.ts:178-181)
      else if (ignoreUpdate(task, oplog)) None // O5 (src/processor.ts:182-185)
      else if (oplog.o.keys.exists(k => !k.startsWith("$"))) {
        // full-replacement fast path O7 (src/processor.ts:186-195)
        val full = DObj(("_id" -> DStr(id.get)) +: oplog.o.fields.filterNot(_._1 == "_id"))
        transformer(task, "upsert", full, Some(oplog.ts))
      } else {
        val set = objAt(oplog.o, "$set")
        val unset = objAt(oplog.o, "$unset")
        sinkDoc match {
          case Some(old) =>
            val updated = applyUpdateESDoc(task, old, set, unset)
            transformer(task, "upsert", updated, Some(oplog.ts), isESDoc = true)
          case None =>
            sourceDoc.flatMap { d =>
              transformer(task, "upsert", d, Some(oplog.ts))
            }
        }
      }
    case "d" =>
      // validity filter P6: o must be exactly {_id} (src/processor.ts:205-208)
      if (oplog.o.size != 1 || !oplog.o.contains("_id")) None
      else if (task.parent.isDefined)
        // parent routing must be recovered from current sink state
        // (reference src/processor.ts:209-213)
        sinkDoc.flatMap(d => transformer(task, "delete", d, Some(oplog.ts)))
      else transformer(task, "delete", oplog.o, Some(oplog.ts))
    case _ => None
  }
}
