package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import graft.cdc.StateIO
import graft.cdc.BucketedStateStore.{BucketFiles, Manifest}

/** Bucketed, log-structured persistence for the streaming SCD2 history
  * (opened by [[StreamScd2.table]]): the per-trigger cost is a function
  * of the BATCH, never of the whole history.
  *
  * Same manifest/delta discipline as [[graft.cdc.BucketedStateStore]]
  * (whose Manifest rendering it reuses), adapted to history semantics:
  *
  *  - Keys hash into a fixed bucket count; each bucket owns an
  *    id-sorted immutable BASE directory of history rows.
  *  - A micro-batch merge point-looks-up the CURRENT history of
  *    exactly the batch's keys (broadcast key join + key-range
  *    predicate against only the dirty buckets' files), runs the pure
  *    [[StreamScd2.applyBatch]] MERGE over that restricted history,
  *    and writes the touched keys' complete NEW history as ONE shared
  *    delta directory — an O(batch) write; untouched keys' files are
  *    never rewritten.
  *  - Resolution is replace-all per key: the rows from the highest
  *    commit `__seq` that contains the key ARE the key's history
  *    (each merge emitted the full updated version chain). SCD2 never
  *    deletes keys, so there are no tombstones.
  *  - Delta scans are scoped to the buckets whose CURRENT chain
  *    references them (the [[graft.cdc.BucketedStateStore]]
  *    stale-shared-delta guard): after a bucket compacts, its rows
  *    still physically sit in shared deltas other buckets reference —
  *    unscoped, a clean bucket's keys would surface twice through a
  *    dirty neighbor's chain.
  *  - Buckets whose chain crosses `compactThreshold` merge
  *    base ∪ deltas → new base in one amortized job; vacuum retains
  *    `retainManifests` manifests for time travel and deletes
  *    unreferenced data directories.
  *
  * Replay protection: the atomically-swapped pointer carries BOTH the
  * manifest seq and the last applied foreachBatch id, so the crash
  * window between table-write and streaming offset-commit stays exact
  * — a re-offered batch is skipped, and a crash BEFORE the swap simply
  * re-derives the identical delta against the old manifest and
  * overwrites it. Single-writer contract as the CDC store: the pointer
  * is re-read before each swap and the commit aborts if it moved.
  */
final class Scd2BucketedTable(
    spark: SparkSession,
    dir: String,
    nBuckets: Int = 16,
    compactThreshold: Int = 8,
    retainManifests: Int = 3,
    keyType: DataType = LongType) {

  private val historyCols = StreamScd2.historySchema(keyType).fieldNames.toSeq

  private def fileSchema: StructType = StructType(
    StreamScd2.historySchema(keyType).fields :+ StructField("__seq", LongType))

  /** An EXISTING layout's bucket count is authoritative (recorded in
    * the manifest): a restart that constructs the table with a
    * different `nBuckets` (e.g. the factory default) must hash against
    * the on-disk layout, or dirty-set computation and bucket scans
    * silently miss every file. The constructor value only shapes a
    * fresh directory. */
  private def effectiveNBuckets(m: Option[Manifest]): Int =
    m.map(_.nBuckets).getOrElse(nBuckets)

  private def bucketOf(n: Int): Column = pmod(hash(col("key")), lit(n))

  // ---- pointer: "<manifestSeq> <lastBatchId>", one atomic swap ----

  private def pointerPath = s"$dir/MANIFEST"

  /** The key type is part of the on-disk layout (it shapes every
    * parquet file's schema): it is recorded at first commit and a
    * reopen with a DIFFERENT constructor keyType fails loudly instead
    * of silently null-reading the key column. [[StreamScd2.table]]
    * auto-detects it, so factory callers never hit this. */
  private def keyTypePath = s"$dir/KEYTYPE"

  private def checkKeyType(): Unit =
    if (StateIO.exists(keyTypePath)) {
      val stored = StateIO.readString(keyTypePath).trim
      if (stored != keyType.catalogString)
        throw new IllegalStateException(
          s"scd2 history at $dir was written with key type '$stored' but " +
            s"opened with '${keyType.catalogString}' — pass the stored type " +
            "(StreamScd2.table auto-detects it)")
    }

  private def pointer(): (Long, Long) =
    if (!StateIO.exists(pointerPath)) (-1L, -1L)
    else StateIO.readString(pointerPath).trim.split(' ') match {
      case Array(s, b) => (s.toLong, b.toLong)
      case Array(s)    => (s.toLong, -1L)
    }

  def lastBatchId: Long = pointer()._2

  private def manifest(): Option[Manifest] = pointer() match {
    case (s, _) if s >= 0 =>
      Some(Manifest.parse(StateIO.readString(s"$dir/manifest/m_$s.json")))
    case _ => None
  }

  private def writeManifest(m: Manifest, batchId: Long): Unit = {
    StateIO.writeStringAtomic(s"$dir/manifest/m_${m.seq}.json", m.render)
    StateIO.writeStringAtomic(pointerPath, s"${m.seq} $batchId")
  }

  /** Test hook: runs immediately before each pointer-swap CAS check,
    * letting the spec interpose a concurrent writer (the same
    * discipline as BucketedStateStore.commitDelta's preSwap). */
  private[streaming] var preSwapHook: () => Unit = () => ()

  private def checkPointerUnmoved(expected: Long): Unit = {
    preSwapHook()
    val cur = pointer()._1
    if (cur != expected)
      throw new java.util.ConcurrentModificationException(
        s"concurrent writer on scd2 history at $dir: manifest seq moved " +
          s"$expected -> $cur since this commit loaded it (single-writer contract)")
  }

  // ---- reading ----

  private def scanPaths(paths: Seq[String]): DataFrame =
    spark.read.schema(fileSchema).parquet(paths: _*)

  /** base dirs unscoped (a base leaf holds one bucket by construction);
    * each shared delta filtered to the buckets whose current chain
    * references it. */
  private def scanBuckets(m: Manifest, buckets: Iterable[Int]): DataFrame = {
    val bs = buckets.toSet
    val basePaths = bs.toSeq.sorted
      .flatMap(b => m.buckets.get(b).flatMap(_.base)).map(rel => s"$dir/$rel")
    val deltaOwners: Map[String, Set[Int]] = bs.toSeq
      .flatMap(b => m.buckets.get(b).toSeq.flatMap(_.deltas.map(_ -> b)))
      .groupBy(_._1).map { case (rel, owners) => rel -> owners.map(_._2).toSet }
    val deltaScans = deltaOwners.toSeq
      .groupBy(_._2).toSeq
      .map { case (owners, rels) => (owners.toSeq.sorted, rels.map(_._1).sorted) }
      .sortBy(_._2.head)
      .map { case (owners, rels) =>
        scanPaths(rels.map(rel => s"$dir/$rel"))
          .filter(bucketOf(m.nBuckets).isin(owners.map(Integer.valueOf): _*))
      }
    val parts =
      (if (basePaths.isEmpty) Nil else Seq(scanPaths(basePaths))) ++ deltaScans
    if (parts.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fileSchema)
    else parts.reduce(_ unionByName _)
  }

  /** Replace-all-per-key resolution: the key's rows from its highest
    * commit are its history. */
  private def resolve(rows: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("key"))
    rows.withColumn("__mx", max(col("__seq")).over(w))
      .filter(col("__seq") === col("__mx"))
      .select(historyCols.map(col): _*)
  }

  /** Full history read. Clean buckets (no delta chain) hold exactly
    * the resolved rows and scan straight through with no exchange;
    * only delta-bearing buckets pay the per-key resolution window. */
  def read(): DataFrame = { checkKeyType(); readResolved() }

  private def readResolved(): DataFrame = manifest() match {
    case Some(m) if m.buckets.nonEmpty =>
      val (clean, dirty) = m.buckets.partition(_._2.deltas.isEmpty)
      val parts = Seq(
        if (clean.isEmpty) None
        else Some(scanPaths(m.livePathsFor(dir, clean.keys))
          .select(historyCols.map(col): _*)),
        if (dirty.isEmpty) None
        else Some(resolve(scanBuckets(m, dirty.keys))),
      ).flatten
      parts.reduce(_ unionByName _)
    case _ => StreamScd2.emptyHistory(spark, keyType)
  }

  /** Time-travel read: the history AS OF manifest commit `seq` — what
    * a debugging/backfill session uses to diff dimension history
    * across triggers (the `VERSION AS OF` analog the retained-manifest
    * chain exists for; same contract as
    * [[graft.cdc.BucketedStateStore.readAt]]). None once vacuum
    * dropped that manifest. */
  def readAt(seq: Long): Option[DataFrame] = {
    val p = s"$dir/manifest/m_$seq.json"
    if (!StateIO.exists(p)) None
    else {
      val m = Manifest.parse(StateIO.readString(p))
      if (m.buckets.isEmpty) Some(StreamScd2.emptyHistory(spark, keyType))
      else Some(resolve(scanBuckets(m, m.buckets.keys)))
    }
  }

  /** Current history rows for exactly `keys` — the merge's point
    * lookup. Only the dirty buckets' files are touched; the key set is
    * broadcast; the key-range predicate reaches parquet row-group
    * stats (bases are written key-sorted). */
  private def priorFor(m: Manifest, keys: DataFrame,
      dirty: Set[Int], lo: Any, hi: Any, n: Long): DataFrame =
    if (dirty.isEmpty || lo == null) StreamScd2.emptyHistory(spark, keyType)
    else {
      // same guard as BucketedStateStore.BroadcastKeyLimit: a catch-up
      // storm batch of millions of keys must not be forced onto every
      // executor — past the limit the planner picks the join and the
      // history side merely shuffles for that oversized trigger
      val keySide =
        if (n <= graft.cdc.BucketedStateStore.BroadcastKeyLimit)
          broadcast(keys.select(col("key")).distinct())
        else keys.select(col("key")).distinct()
      resolve(
        scanBuckets(m, dirty)
          .filter(col("key") >= lit(lo) && col("key") <= lit(hi))
          .join(keySide, Seq("key")))
    }

  // ---- the per-trigger merge ----

  /** MERGE `batch` unless `batchId` was already applied; returns true
    * when the merge ran. O(batch) IO: point-lookup prior history for
    * the batch's keys, pure [[StreamScd2.applyBatch]] over that
    * restricted history, one shared delta write, pointer swap. */
  def applyIfNew(batch: DataFrame, batchId: Long): Boolean = {
    val (seq, last) = pointer()
    if (batchId <= last) false
    else if (batch.isEmpty) {
      // no-op merge: only the replay guard advances. The write still
      // rewrites the two-token pointer, so it must pass the same CAS
      // every data commit does — otherwise a concurrent writer's
      // manifest seq committed between pointer() and here would be
      // silently reverted (and its data later vacuumed).
      checkPointerUnmoved(seq)
      StateIO.writeStringAtomic(pointerPath, s"$seq $batchId")
      false
    } else {
      checkKeyType()
      if (!StateIO.exists(keyTypePath))
        StateIO.writeStringAtomic(keyTypePath, keyType.catalogString)
      val keys = batch.select(col("key")).distinct().persist()
      try {
        val m = manifest()
        val nb = effectiveNBuckets(m)
        val st = keys.agg(
          collect_set(bucketOf(nb)).as("bs"),
          min(col("key")).as("lo"), max(col("key")).as("hi"),
          count(lit(1)).as("n")).head()
        val dirty = st.getSeq[Int](0).toSet
        val prior = m.map(priorFor(_, keys, dirty, st.get(1), st.get(2), st.getLong(3)))
          .getOrElse(StreamScd2.emptyHistory(spark, keyType))
        val merged = StreamScd2.applyBatch(prior, batch)
        val newSeq = seq + 1
        val rel = s"data/delta_$newSeq"
        merged
          .withColumn("__seq", lit(newSeq))
          .sortWithinPartitions(col("key"))
          .write.mode("overwrite").parquet(s"$dir/$rel")
        var next = Manifest(nb, newSeq,
          dirty.foldLeft(m.map(_.buckets).getOrElse(Map.empty[Int, BucketFiles])) {
            (acc, b) =>
              val cur = acc.getOrElse(b, BucketFiles(None, Vector.empty))
              acc.updated(b, cur.copy(deltas = cur.deltas :+ rel))
          })
        checkPointerUnmoved(seq)
        writeManifest(next, batchId)

        // amortized compaction: every over-threshold bucket in one job
        val toCompact = next.buckets
          .filter(_._2.deltas.size >= compactThreshold).keys.toSeq.sorted
        if (toCompact.nonEmpty) {
          val cseq = next.seq + 1
          val crel = s"data/base_$cseq"
          resolve(scanBuckets(next, toCompact))
            .withColumn("__seq", lit(cseq))
            .withColumn("__bucket", bucketOf(nb))
            .repartition(col("__bucket"))
            .sortWithinPartitions(col("__bucket"), col("key"))
            .write.partitionBy("__bucket").mode("overwrite").parquet(s"$dir/$crel")
          val compacted = StateIO.list(s"$dir/$crel").collect {
            case stt if stt.getPath.getName.startsWith("__bucket=") =>
              stt.getPath.getName.stripPrefix("__bucket=").toInt ->
                s"$crel/${stt.getPath.getName}"
          }.toMap
          val rebased = toCompact.foldLeft(next.buckets) { (acc, b) =>
            compacted.get(b) match {
              case Some(p) => acc.updated(b, BucketFiles(Some(p), Vector.empty))
              case None    => acc - b
            }
          }
          next = Manifest(nb, cseq, rebased)
          checkPointerUnmoved(newSeq)
          writeManifest(next, batchId)
        }
        vacuum()
        true
      } finally { keys.unpersist(); () }
    }
  }

  /** Re-bucket the history to `newNBuckets` — the maintenance
    * operation a growing deployment runs when buckets outgrow their
    * target size (same contract as
    * [[graft.cdc.BucketedStateStore.reshard]]): one full resolved
    * read → one partitioned rewrite → one pointer swap; readers
    * resolve the old manifest until the swap, and the next vacuum
    * reclaims the old layout. Single-writer: run BETWEEN triggers. */
  def reshard(newNBuckets: Int): Unit = {
    val m = manifest().getOrElse(
      throw new IllegalStateException(s"no bucketed scd2 history at $dir to reshard"))
    val (seq, batchId) = pointer()
    val cseq = seq + 1
    val crel = s"data/base_$cseq"
    read()
      .withColumn("__seq", lit(cseq))
      .withColumn("__bucket", bucketOf(newNBuckets))
      .repartition(col("__bucket"))
      .sortWithinPartitions(col("__bucket"), col("key"))
      .write.partitionBy("__bucket").mode("overwrite").parquet(s"$dir/$crel")
    val buckets = StateIO.list(s"$dir/$crel").collect {
      case stt if stt.getPath.getName.startsWith("__bucket=") =>
        stt.getPath.getName.stripPrefix("__bucket=").toInt ->
          s"$crel/${stt.getPath.getName}"
    }.toMap
    checkPointerUnmoved(m.seq)
    writeManifest(Manifest(newNBuckets, cseq,
      buckets.map { case (b, p) => b -> BucketFiles(Some(p), Vector.empty) }), batchId)
    vacuum()
  }

  /** One-time seed of a FRESH bucketed layout from a complete history
    * frame — the offline VERSION/v_N → bucketed migration entry point
    * ([[graft.tools.MigrateState]]): every key's chain lands as the
    * initial per-bucket BASE (manifest seq 0), and the pointer carries
    * `lastBatchId` so the resuming tail's replay guard survives the
    * backend switch exactly. Refuses a dir that already holds a
    * bucketed layout — migration never overwrites live state. */
  def seed(history: DataFrame, lastBatchId: Long): Unit = {
    require(!StateIO.exists(pointerPath),
      s"scd2 history at $dir already holds a bucketed layout; seed only initializes fresh layouts")
    checkKeyType()
    if (!StateIO.exists(keyTypePath))
      StateIO.writeStringAtomic(keyTypePath, keyType.catalogString)
    val rel = "data/base_0"
    history.select(historyCols.map(col): _*)
      .withColumn("__seq", lit(0L))
      .withColumn("__bucket", bucketOf(nBuckets))
      .repartition(col("__bucket"))
      .sortWithinPartitions(col("__bucket"), col("key"))
      .write.partitionBy("__bucket").mode("overwrite").parquet(s"$dir/$rel")
    val buckets = StateIO.list(s"$dir/$rel").collect {
      case st if st.getPath.getName.startsWith("__bucket=") =>
        st.getPath.getName.stripPrefix("__bucket=").toInt -> s"$rel/${st.getPath.getName}"
    }.toMap
    writeManifest(Manifest(nBuckets, 0L,
      buckets.map { case (b, p) => b -> BucketFiles(Some(p), Vector.empty) }), lastBatchId)
  }

  /** Keep the newest `retainManifests` manifests; delete older
    * manifest files and any data directory none of them references
    * (same reclamation rule as BucketedStateStore.vacuum, adjusted for
    * this table's two-token pointer). */
  private def vacuum(): Unit = {
    if (!StateIO.exists(s"$dir/manifest")) return
    val current = pointer()._1
    val all = StateIO.list(s"$dir/manifest").flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("m_") && n.endsWith(".json"))
        scala.util.Try(n.stripPrefix("m_").stripSuffix(".json").toLong)
          .toOption.map(_ -> n)
      else None
    }.sortBy(_._1)
    val keepSeqs = all.map(_._1).filter(_ <= current)
      .takeRight(math.max(1, retainManifests)).toSet + current
    val referenced: Set[String] = keepSeqs.flatMap { s =>
      val p = s"$dir/manifest/m_$s.json"
      if (!StateIO.exists(p)) Set.empty[String]
      else Manifest.parse(StateIO.readString(p)).buckets.values.flatMap(_.paths).toSet
    }
    all.filterNot(mf => keepSeqs.contains(mf._1))
      .foreach(mf => StateIO.delete(s"$dir/manifest/${mf._2}"))
    StateIO.list(s"$dir/data").filter(_.isDirectory).foreach { commitSt =>
      val relDir = s"data/${commitSt.getPath.getName}"
      if (!referenced.contains(relDir)) {
        val leaves = StateIO.list(s"$dir/$relDir")
          .filter(_.getPath.getName.startsWith("__bucket="))
        if (leaves.isEmpty) StateIO.delete(s"$dir/$relDir")
        else {
          leaves.foreach { leaf =>
            val rel = s"$relDir/${leaf.getPath.getName}"
            if (!referenced.contains(rel)) StateIO.delete(s"$dir/$rel")
          }
          if (StateIO.list(s"$dir/$relDir")
              .forall(!_.getPath.getName.startsWith("__bucket=")))
            StateIO.delete(s"$dir/$relDir")
        }
      }
    }
  }
}

object Scd2BucketedTable {
  /** Has a bucketed history been initialized at `dir`? (two-token
    * pointer under the same MANIFEST name as the CDC store). */
  def exists(dir: String): Boolean = StateIO.exists(s"$dir/MANIFEST")
}
