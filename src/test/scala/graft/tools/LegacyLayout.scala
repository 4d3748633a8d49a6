package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.cdc.StateIO
import graft.streaming.StreamScd2

/** Writes and reads the retired full-rewrite layout for the specs: the
  * engine no longer produces it, but [[MigrateState]] converts it and
  * every engine entry point must refuse it. A CDC state directory holds
  * `v_N` parquet directories and a `VERSION` file with "N"; an SCD2
  * history directory holds `v_N` and a `VERSION` file with
  * "N lastBatchId". */
object LegacyLayout {

  private def pointer(dir: String): Option[String] =
    if (StateIO.exists(s"$dir/VERSION")) Some(StateIO.readString(s"$dir/VERSION").trim)
    else None

  /** Commit `state` (id, doc, parent, ts) as the next CDC version. */
  def writeCdc(state: DataFrame, dir: String): Unit = {
    val next = pointer(dir).map(_.toInt + 1).getOrElse(0)
    state.write.mode("overwrite").parquet(s"$dir/v_$next")
    StateIO.writeStringAtomic(s"$dir/VERSION", next.toString)
  }

  def readCdc(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/v_${pointer(dir).get.toInt}")

  private def scd2Version(dir: String): Int =
    pointer(dir).map(_.split(' ')(0).toInt).getOrElse(-1)

  /** MERGE `batch` (key, attr, sec, event_id) into the SCD2 history and
    * commit it as the next version, recording `batchId`. */
  def writeScd2(spark: SparkSession, dir: String, batch: DataFrame, batchId: Long): Unit = {
    val next = scd2Version(dir) + 1
    StreamScd2.applyBatch(readScd2(spark, dir), batch)
      .write.mode("overwrite").parquet(s"$dir/v_$next")
    StateIO.writeStringAtomic(s"$dir/VERSION", s"$next $batchId")
  }

  def readScd2(spark: SparkSession, dir: String): DataFrame = scd2Version(dir) match {
    case -1 => StreamScd2.emptyHistory(spark)
    case v  => spark.read.schema(StreamScd2.historySchema()).parquet(s"$dir/v_$v")
  }

  /** Every file under the `v_N` directories of a local `dir`, with its
    * size and modification time: the specs compare it before and after
    * to show the legacy data was left untouched. */
  def dataFiles(dir: String): Map[String, (Long, Long)] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .filter(p => root.relativize(p).getName(0).toString.startsWith("v_"))
      .map(p => root.relativize(p).toString ->
        (Files.size(p), Files.getLastModifiedTime(p).toMillis))
      .toMap
    finally walk.close()
  }
}
