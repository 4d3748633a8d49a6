package graft.sink

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.TestSpark
import graft.cdc.{BucketedStateStore, OplogRow, StateStore}
import graft.model.{BsonTs, TaskSpec}
import graft.pipeline.Runner

/** Restart after a `transform.mapping` change (VERDICT r7 #6; reference
  * analog: put-mapping on an existing index, src/indices.ts:43-49).
  * Additive changes widen the sink table in place and old state docs
  * read NULL for the new field until an event sets it; destructive
  * changes fail fast with the blue/green (new-suffix) guidance. The
  * end-to-end restart is pinned for BOTH state backends. */
class SchemaEvolutionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val v1 = TaskSpec(Vector("value" -> "value"))
  val v2 = TaskSpec(Vector("value" -> "value", "k" -> "k")) // widened
  val v2drop = TaskSpec(Vector("k" -> "k")) // dropped `value`

  val oplogSchema = StructType(Seq(
    StructField("ts", LongType), StructField("op", StringType),
    StructField("ns", StringType), StructField("id", StringType),
    StructField("doc", StringType), StructField("fromMigrate", BooleanType)))

  test("additive mapping change widens the table; destructive change raises with suffix guidance") {
    val loc = Files.createTempDirectory("evolve-ddl").toString
    val table = Ddl.createSinkTable(spark, "evolve_widen", v1,
      Map("value" -> "double"), location = Some(s"$loc/t"))
    try {
      assert(Ddl.migrateSinkTable(spark, table, v1, Map("value" -> "double")) === Ddl.Unchanged)
      assert(Ddl.migrateSinkTable(spark, table, v2, Map("value" -> "double", "k" -> "long"))
        === Ddl.Widened(Seq("k")))
      // widened column appended; second migrate is a no-op
      assert(spark.table(table).schema.fieldNames.toSeq === Seq("_id", "value", "k"))
      assert(Ddl.migrateSinkTable(spark, table, v2, Map("value" -> "double", "k" -> "long"))
        === Ddl.Unchanged)
      val drop = intercept[IllegalStateException] {
        Ddl.migrateSinkTable(spark, table, v2drop, Map("k" -> "long"))
      }
      assert(drop.getMessage.contains("indexNameSuffix"), drop.getMessage)
      val retype = intercept[IllegalStateException] {
        Ddl.migrateSinkTable(spark, table, v2, Map("value" -> "double", "k" -> "text"))
      }
      assert(retype.getMessage.contains("re-typed"), retype.getMessage)
    } finally spark.sql(s"DROP TABLE `$table`")
  }

  test("bucketed state: restart with a widened mapping picks up the new field; old docs read NULL") {
    import OplogRow.encoder
    val base = Files.createTempDirectory("evolve-bucketed").toString
    val inDir = s"$base/in"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    // source docs carry `k` from day one; mapping v1 ignores it
    val snapshot = spark.createDataFrame(Seq(
      ("a", """{"_id":"a","value":1.0,"k":7}"""),
      ("b", """{"_id":"b","value":2.0,"k":8}"""),
    )).toDF("id", "doc")
    spark.createDataset(Seq(
      OplogRow(BsonTs(10, 0).toLong, "u", "db.c", "a", """{"$set":{"value":11.0}}"""),
    )).coalesce(1).write.parquet(s"$inDir/b1")

    def stream() = spark.readStream.schema(oplogSchema)
      .option("maxFilesPerTrigger", "1").option("recursiveFileLookup", "true").parquet(inDir)
    def cfg(task: TaskSpec) = Runner.TaskPipeline(task, "db.c", s"$base/state", s"$base/ckpt",
      spec = BucketedStateStore.Spec(nBuckets = 4, compactThreshold = 2))

    val q1 = Runner.bootstrapAndTail(spark, snapshot, stream(), cfg(v1))
    q1.processAllAvailable(); q1.stop()

    // mapping gains k -> k; the sink table widens, the state dirs stay
    val loc = Files.createTempDirectory("evolve-bucketed-t").toString
    val table = Ddl.createSinkTable(spark, "evolve_restart_bucketed", v1,
      Map("value" -> "double"), location = Some(s"$loc/t"))
    try {
      assert(Ddl.migrateSinkTable(spark, table, v2, Map("value" -> "double", "k" -> "long"))
        === Ddl.Widened(Seq("k")))

      // restart with v2 against the SAME state/checkpoint dirs; a new
      // event sets k for `a` only
      spark.createDataset(Seq(
        OplogRow(BsonTs(20, 0).toLong, "u", "db.c", "a", """{"$set":{"k":9}}"""),
      )).coalesce(1).write.parquet(s"$inDir/b2")
      val q2 = Runner.bootstrapAndTail(spark, snapshot, stream(), cfg(v2))
      q2.processAllAvailable(); q2.stop()

      assert(Ddl.publishState(spark, table, s"$base/state") === 2L)
      val rows = spark.table(table).collect()
        .map(r => r.getAs[String]("_id") ->
          (r.getAs[java.lang.Double]("value"), r.getAs[java.lang.Long]("k"))).toMap
      // a: updated under v2 -> k present; b: untouched old doc -> k NULL
      assert(rows("a") === ((11.0, 9L)))
      assert(rows("b")._1 === 2.0)
      assert(rows("b")._2 === null)
    } finally spark.sql(s"DROP TABLE `$table`")
  }
}
