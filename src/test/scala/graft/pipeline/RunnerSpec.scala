package graft.pipeline

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.TestSpark
import graft.cdc.{OplogRow, StateStore}
import graft.model.{BsonTs, TaskSpec}

/** Scan-then-tail lifecycle: backfill seeds state, the stream applies
  * changes on top, and a restart (second bootstrapAndTail with the same
  * dirs) must not double-apply the scan or re-process committed
  * batches. */
class RunnerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val task = TaskSpec(Vector("value" -> "value"))

  val oplogSchema = StructType(Seq(
    StructField("ts", LongType), StructField("op", StringType),
    StructField("ns", StringType), StructField("id", StringType),
    StructField("doc", StringType), StructField("fromMigrate", BooleanType)))

  test("bucketed state: bootstrap backfills then tails; restart resumes without re-scanning") {
    import OplogRow.encoder
    val base = Files.createTempDirectory("runner-bucketed").toString
    val inDir = s"$base/in"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val snapshot = spark.createDataFrame(Seq(
      ("a", """{"_id":"a","value":1.0}"""),
      ("b", """{"_id":"b","value":2.0}"""),
    )).toDF("id", "doc")
    spark.createDataset(Seq(
      OplogRow(BsonTs(10, 0).toLong, "u", "db.c", "a", """{"$set":{"value":11.0}}"""),
      OplogRow(BsonTs(10, 1).toLong, "i", "db.c", "c", """{"_id":"c","value":3.0}"""),
    )).coalesce(1).write.parquet(s"$inDir/b1")

    def stream() = spark.readStream.schema(oplogSchema)
      .option("maxFilesPerTrigger", "1").option("recursiveFileLookup", "true").parquet(inDir)
    val cfg = Runner.TaskPipeline(task, "db.c", s"$base/state", s"$base/ckpt",
      spec = graft.cdc.BucketedStateStore.Spec(nBuckets = 4, compactThreshold = 2))

    val q1 = Runner.bootstrapAndTail(spark, snapshot, stream(), cfg)
    q1.processAllAvailable(); q1.stop()
    val s1 = StateStore.read(spark, cfg.stateDir).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("doc")).toMap
    assert(s1 === Map(
      "a" -> """{"_id":"a","value":11.0}""",
      "b" -> """{"_id":"b","value":2.0}""",
      "c" -> """{"_id":"c","value":3.0}""",
    ))
    val seqAfterFirst = graft.cdc.BucketedStateStore.readManifest(cfg.stateDir).get.seq

    spark.createDataset(Seq(
      OplogRow(BsonTs(20, 0).toLong, "d", "db.c", "b", """{"_id":"b"}"""),
    )).coalesce(1).write.parquet(s"$inDir/b2")

    // restart with the same dirs: the manifest is the phase checkpoint
    // (no re-scan), the streaming checkpoint skips committed b1, and
    // exactly one further commit lands
    val q2 = Runner.bootstrapAndTail(spark, snapshot, stream(), cfg)
    q2.processAllAvailable(); q2.stop()
    val s2 = StateStore.read(spark, cfg.stateDir).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("doc")).toMap
    assert(s2 === Map(
      "a" -> """{"_id":"a","value":11.0}""",
      "c" -> """{"_id":"c","value":3.0}""",
    ))
    val m = graft.cdc.BucketedStateStore.readManifest(cfg.stateDir).get
    assert(m.seq >= seqAfterFirst + 1 && m.seq <= seqAfterFirst + 2,
      s"one delta commit (plus at most one compaction) for b2; seq $seqAfterFirst -> ${m.seq}")
  }

  test("runAll: two tasks backfill sequentially then tail concurrently") {
    import OplogRow.encoder
    val base = Files.createTempDirectory("runner2").toString
    def snapshotFor(ns: String) = spark.createDataFrame(Seq(
      (s"$ns-a", s"""{"_id":"$ns-a","value":1.0}"""))).toDF("id", "doc")
    def mkStream(n: Int, ns: String) = {
      val in = s"$base/in$n"
      Files.createDirectories(java.nio.file.Paths.get(in))
      spark.createDataset(Seq(
        OplogRow(BsonTs(5, 0).toLong, "i", ns, s"$ns-b", s"""{"_id":"$ns-b","value":2.0}"""),
      )).coalesce(1).write.parquet(s"$in/b1")
      spark.readStream.schema(oplogSchema)
        .option("recursiveFileLookup", "true").parquet(in)
    }
    val tasks = Seq(1, 2).map { n =>
      val ns = s"db.c$n"
      (Runner.TaskPipeline(task, ns, s"$base/state$n", s"$base/ckpt$n"),
        snapshotFor(ns), mkStream(n, ns))
    }
    val queries = Runner.runAll(spark, tasks)
    assert(queries.length === 2)
    queries.foreach { q => q.processAllAvailable(); q.stop() }
    Seq(1, 2).foreach { n =>
      val ids = StateStore.read(spark, s"$base/state$n")
        .collect().map(_.getAs[String]("id")).toSet
      assert(ids === Set(s"db.c$n-a", s"db.c$n-b"), s"task $n state")
      // the DEFAULT backend is the incremental bucketed store
      assert(graft.cdc.BucketedStateStore.exists(s"$base/state$n"),
        s"task $n must default to the bucketed store")
    }
  }

  test("runAll: concurrent tails absorb interleaved batches on isolated state dirs") {
    import OplogRow.encoder
    val base = Files.createTempDirectory("runner3").toString
    def snapshotFor(ns: String) = spark.createDataFrame(Seq(
      (s"$ns-a", s"""{"_id":"$ns-a","value":1.0}"""))).toDF("id", "doc")
    def inDir(n: Int) = s"$base/in$n"
    def writeBatch(n: Int, name: String, rows: Seq[OplogRow]): Unit =
      spark.createDataset(rows).coalesce(1).write.parquet(s"${inDir(n)}/$name")
    def mkStream(n: Int): org.apache.spark.sql.DataFrame = {
      Files.createDirectories(java.nio.file.Paths.get(inDir(n)))
      spark.readStream.schema(oplogSchema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true").parquet(inDir(n))
    }
    Seq(1, 2).foreach { n =>
      Files.createDirectories(java.nio.file.Paths.get(inDir(n)))
      writeBatch(n, "b1", Seq(
        OplogRow(BsonTs(5, n).toLong, "i", s"db.c$n", s"db.c$n-b", s"""{"_id":"db.c$n-b","value":2.0}""")))
    }
    val tasks = Seq(1, 2).map { n =>
      (Runner.TaskPipeline(task, s"db.c$n", s"$base/state$n", s"$base/ckpt$n"),
        snapshotFor(s"db.c$n"), mkStream(n))
    }
    val queries = Runner.runAll(spark, tasks)
    assert(queries.forall(_.isActive), "both tails must run simultaneously")
    queries.foreach(_.processAllAvailable())

    // with BOTH queries live, new batches land interleaved: task1,
    // task2, then task1 again (update + delete + late insert)
    writeBatch(1, "b2", Seq(
      OplogRow(BsonTs(10, 0).toLong, "u", "db.c1", "db.c1-a", """{"$set":{"value":11.0}}""")))
    writeBatch(2, "b2", Seq(
      OplogRow(BsonTs(10, 1).toLong, "d", "db.c2", "db.c2-b", """{"_id":"db.c2-b"}""")))
    writeBatch(1, "b3", Seq(
      OplogRow(BsonTs(11, 0).toLong, "i", "db.c1", "db.c1-c", """{"_id":"db.c1-c","value":3.0}""")))
    queries.foreach(_.processAllAvailable())
    assert(queries.forall(_.isActive))
    queries.foreach(_.stop())

    val s1 = StateStore.read(spark, s"$base/state1").collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("doc")).toMap
    assert(s1 === Map(
      "db.c1-a" -> """{"_id":"db.c1-a","value":11.0}""",
      "db.c1-b" -> """{"_id":"db.c1-b","value":2.0}""",
      "db.c1-c" -> """{"_id":"db.c1-c","value":3.0}""",
    ))
    val s2 = StateStore.read(spark, s"$base/state2").collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("doc")).toMap
    // delete applied; no cross-talk from task 1's events
    assert(s2 === Map("db.c2-a" -> """{"_id":"db.c2-a","value":1.0}"""))
    // each task advanced through its own micro-batch sequence (the
    // default bucketed store: seed is seq 0, one delta commit per batch)
    assert(graft.cdc.BucketedStateStore.readManifest(s"$base/state1").get.seq >= 3)
    assert(graft.cdc.BucketedStateStore.readManifest(s"$base/state2").get.seq >= 2)
  }

  test("a legacy layout is refused until MigrateState converts it") {
    import OplogRow.encoder
    import graft.tools.{LegacyLayout, MigrateState}
    import graft.streaming.StreamScd2
    val base = Files.createTempDirectory("runner-legacy").toString
    val inDir = s"$base/in"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val snapshot = spark.createDataFrame(
      Seq(("a", """{"_id":"a","value":1.0}"""))).toDF("id", "doc")

    // an old deployment: CDC state and SCD2 history in the retired
    // VERSION/v_N layout
    val stateDir = s"$base/state"
    LegacyLayout.writeCdc(spark.createDataFrame(Seq(
      ("a", """{"_id":"a","value":1.0}""", null: String, 1L),
      ("b", """{"_id":"b","value":2.0}""", null: String, 1L),
    )).toDF("id", "doc", "parent", "ts"), stateDir)
    val histDir = s"$base/hist"
    def scd2Batch(key: Long, attr: String, sec: Long, eventId: Long) =
      spark.createDataFrame(Seq((key, attr, sec, eventId))).toDF("key", "attr", "sec", "event_id")
    LegacyLayout.writeScd2(spark, histDir, scd2Batch(1L, "a", 10L, 1L), batchId = 0L)
    val stateFiles = LegacyLayout.dataFiles(stateDir)
    val histFiles = LegacyLayout.dataFiles(histDir)

    spark.createDataset(Seq(
      OplogRow(BsonTs(10, 0).toLong, "i", "db.c", "c", """{"_id":"c","value":3.0}"""),
    )).coalesce(1).write.parquet(s"$inDir/b1")
    def stream() = spark.readStream.schema(oplogSchema)
      .option("maxFilesPerTrigger", "1").option("recursiveFileLookup", "true").parquet(inDir)
    val cfg = Runner.TaskPipeline(task, "db.c", stateDir, s"$base/ckpt")

    // both entry points refuse, naming the migration tool...
    val e1 = intercept[IllegalStateException] {
      Runner.bootstrapAndTail(spark, snapshot, stream(), cfg)
    }
    assert(e1.getMessage.contains("MigrateState"), e1.getMessage)
    val e2 = intercept[IllegalStateException](StreamScd2.table(spark, histDir))
    assert(e2.getMessage.contains("MigrateState"), e2.getMessage)
    // ...before anything was backfilled into or written over the legacy data
    assert(!graft.cdc.BucketedStateStore.exists(stateDir))
    assert(LegacyLayout.dataFiles(stateDir) === stateFiles)
    assert(LegacyLayout.dataFiles(histDir) === histFiles)

    // once migrated, the same directories tail normally: the migrated
    // state counts as backfilled (no re-scan would drop `b`), and the
    // history resumes after its last applied batch
    MigrateState.migrateCdc(spark, stateDir, graft.cdc.BucketedStateStore.Spec(nBuckets = 4))
    MigrateState.migrateScd2(spark, histDir, nBuckets = 4)
    val q = Runner.bootstrapAndTail(spark, snapshot, stream(), cfg)
    q.processAllAvailable(); q.stop()
    val got = StateStore.read(spark, stateDir).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("doc")).toMap
    assert(got === Map(
      "a" -> """{"_id":"a","value":1.0}""",
      "b" -> """{"_id":"b","value":2.0}""",
      "c" -> """{"_id":"c","value":3.0}""",
    ))
    val hist = StreamScd2.table(spark, histDir)
    assert(hist.lastBatchId === 0L)
    assert(hist.applyIfNew(scd2Batch(1L, "b", 20L, 2L), batchId = 1L))
    assert(hist.read().count() === 2L)
  }

  test("fromConfig: a reference-format config drives the pipeline via the DSv2 source") {
    val base = Files.createTempDirectory("runner-cfg").toString
    // oplog dump for the DSv2 connector (JSON-lines)
    val oplogDir = s"$base/oplog"
    Files.createDirectories(java.nio.file.Paths.get(oplogDir))
    Files.write(java.nio.file.Paths.get(oplogDir, "b1.jsonl"), Seq(
      """{"ts":100,"op":"u","ns":"app.users","id":"a","doc":{"$set":{"score":9.5}}}""",
      """{"ts":101,"op":"i","ns":"app.users","id":"c","doc":{"_id":"c","score":3.0}}""",
    ).mkString("\n").getBytes)

    val config = graft.model.EngineConfig.fromJson(
      """{
        |  "controls": {"elasticsearchBulkInterval": 100, "indexNameSuffix": "_v1",
        |    "mongodbReadCapacity": 50},
        |  "mongodb": {"url": "mongodb://h/app", "options": {"readPreference": "secondaryPreferred"}},
        |  "tasks": [{
        |    "from": {"phase": "scan"},
        |    "extract": {"db": "app", "collection": "users", "projection": {"score": 1}},
        |    "transform": {"mapping": {"score": "score"}},
        |    "load": {"index": "users", "type": "user"}
        |  }]
        |}""".stripMargin)

    val snapshot = spark.createDataFrame(Seq(
      ("a", """{"_id":"a","score":1.0}"""),
      ("b", """{"_id":"b","score":2.0}"""),
    )).toDF("id", "doc")

    val queries = Runner.fromConfig(spark, config, base, (td, opts) => {
      assert(td.extract.ns === "app.users")
      // the full connector option surface arrives pre-built: connection
      // options + the admission budget (50 docs/s x 0.1 s trigger = 5)
      assert(opts("url") === "mongodb://h/app")
      assert(opts("readPreference") === "secondaryPreferred")
      assert(opts("maxRowsPerTrigger") === "5")
      val stream = spark.readStream
        .format("graft.source.v2.OplogJsonSource")
        .option("path", oplogDir)
        .option("maxRowsPerTrigger", opts("maxRowsPerTrigger"))
        .load()
      (snapshot, stream)
    })
    queries.foreach { q => q.processAllAvailable(); q.stop() }

    // state dir named by the reference checkpoint convention + suffix
    val stateDir = s"$base/app.users___users.user_v1/state"
    val got = StateStore.read(spark, stateDir).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("doc")).toMap
    assert(got === Map(
      "a" -> """{"_id":"a","score":9.5}""", // $set resolved against backfilled state
      "b" -> """{"_id":"b","score":2.0}""", // untouched
      "c" -> """{"_id":"c","score":3.0}""", // streamed insert
    ))
  }

  test("fromConfig honors from.phase=tail: no backfill, stream starts at the configured time") {
    // other suites may have registered `users` with different declared
    // types; since initFromConfig now fail-fasts on incompatible reuse
    // (migrateSinkTable), start from a clean catalog entry
    spark.sql("DROP TABLE IF EXISTS users")
    val base = Files.createTempDirectory("runner-tail").toString
    val oplogDir = s"$base/oplog"
    Files.createDirectories(java.nio.file.Paths.get(oplogDir))
    // ts is packed (seconds << 32); cutoff 2020-01-01T00:00:00Z = 1577836800
    val before = 1577836799L << 32
    val after = 1577836801L << 32
    Files.write(java.nio.file.Paths.get(oplogDir, "b1.jsonl"), Seq(
      s"""{"ts":$before,"op":"i","ns":"app.users","id":"old","doc":{"_id":"old","score":1.0}}""",
      s"""{"ts":$after,"op":"i","ns":"app.users","id":"new","doc":{"_id":"new","score":2.0}}""",
    ).mkString("\n").getBytes)

    val config = graft.model.EngineConfig.fromJson(
      """{
        |  "tasks": [{
        |    "from": {"phase": "tail", "time": "2020-01-01T00:00:00Z"},
        |    "extract": {"db": "app", "collection": "users"},
        |    "transform": {"mapping": {"score": "score"}},
        |    "load": {"index": "users", "type": "user"}
        |  }]
        |}""".stripMargin)

    val snapshot = spark.createDataFrame(
      Seq(("seed", """{"_id":"seed","score":0.0}"""))).toDF("id", "doc")
    val queries = Runner.fromConfig(spark, config, base, (_, _) => {
      val stream = spark.readStream
        .format("graft.source.v2.OplogJsonSource")
        .option("path", oplogDir).load()
      (snapshot, stream)
    })
    queries.foreach { q => q.processAllAvailable(); q.stop() }

    val got = StateStore.read(spark, s"$base/app.users___users.user/state")
      .collect().map(_.getAs[String]("id")).toSet
    // no backfill (no "seed"), pre-window event filtered (no "old")
    assert(got === Set("new"))
  }

  test("checkpoint hooks: saves fire at scan end and per tail batch; onLoad overrides from") {
    spark.sql("DROP TABLE IF EXISTS users") // see phase=tail test
    val base = Files.createTempDirectory("runner-hooks").toString
    val oplogDir = s"$base/oplog"
    Files.createDirectories(java.nio.file.Paths.get(oplogDir))
    Files.write(java.nio.file.Paths.get(oplogDir, "b1.jsonl"),
      """{"ts":100,"op":"i","ns":"app.users","id":"c","doc":{"_id":"c","score":3.0}}""".getBytes)

    val config = graft.model.EngineConfig.fromJson(
      """{
        |  "tasks": [{
        |    "from": {"phase": "scan"},
        |    "extract": {"db": "app", "collection": "users"},
        |    "transform": {"mapping": {"score": "score"}},
        |    "load": {"index": "users", "type": "user"}
        |  }]
        |}""".stripMargin)
    val snapshot = spark.createDataFrame(
      Seq(("a", """{"_id":"a","score":1.0}"""))).toDF("id", "doc")

    // in-memory "Redis": record every save, serve loads
    val saves = new java.util.concurrent.CopyOnWriteArrayList[(String, String)]()
    var loaded: Option[graft.model.CheckpointSpec] = None
    val hooks = new graft.model.CheckpointHooks {
      def onSave(name: String, cp: graft.model.CheckpointSpec): Unit =
        saves.add(name -> cp.phase)
      def onLoad(name: String): Option[graft.model.CheckpointSpec] = loaded
    }

    def runOnce(dir: String) = Runner.fromConfig(spark, config, dir, (_, _) => {
      (snapshot, spark.readStream
        .format("graft.source.v2.OplogJsonSource").option("path", oplogDir).load())
    }, hooks = Some(hooks))

    runOnce(base).foreach { q => q.processAllAvailable(); q.stop() }
    val name = "app.users___users.user"
    // endScan fired once, then one tail batch
    assert(saves.asScala.toSeq === Seq(name -> "tail", name -> "tail"))
    val state1 = StateStore.read(spark, s"$base/$name/state")
      .collect().map(_.getAs[String]("id")).toSet
    assert(state1 === Set("a", "c"))

    // a loaded tail-phase checkpoint overrides the configured scan phase:
    // fresh dirs, yet NO backfill runs ("a" absent)
    loaded = Some(graft.model.CheckpointSpec("tail", None, None))
    val base2 = Files.createTempDirectory("runner-hooks2").toString
    runOnce(base2).foreach { q => q.processAllAvailable(); q.stop() }
    val state2 = StateStore.read(spark, s"$base2/$name/state")
      .collect().map(_.getAs[String]("id")).toSet
    assert(state2 === Set("c"), "loaded checkpoint must skip the backfill")

    // a failing hook never kills the pipeline
    val bomb = new graft.model.CheckpointHooks {
      def onSave(name: String, cp: graft.model.CheckpointSpec): Unit = sys.error("redis down")
      def onLoad(name: String): Option[graft.model.CheckpointSpec] = sys.error("redis down")
    }
    val base3 = Files.createTempDirectory("runner-hooks3").toString
    val qs = Runner.fromConfig(spark, config, base3, (_, _) => {
      (snapshot, spark.readStream
        .format("graft.source.v2.OplogJsonSource").option("path", oplogDir).load())
    }, hooks = Some(bomb))
    qs.foreach { q => q.processAllAvailable(); q.stop() }
    val state3 = StateStore.read(spark, s"$base3/$name/state")
      .collect().map(_.getAs[String]("id")).toSet
    assert(state3 === Set("a", "c"))
  }

  test("fromConfig honors from.id: the scan resumes at the checkpointed id") {
    spark.sql("DROP TABLE IF EXISTS users") // see phase=tail test
    val base = Files.createTempDirectory("runner-resume").toString
    val oplogDir = s"$base/oplog"
    Files.createDirectories(java.nio.file.Paths.get(oplogDir))
    Files.write(java.nio.file.Paths.get(oplogDir, "empty.jsonl"), "".getBytes)

    val config = graft.model.EngineConfig.fromJson(
      """{
        |  "tasks": [{
        |    "from": {"phase": "scan", "id": "bbb"},
        |    "extract": {"db": "app", "collection": "users"},
        |    "transform": {"mapping": {"score": "score"}},
        |    "load": {"index": "users", "type": "user"}
        |  }]
        |}""".stripMargin)

    // hex-string ids compare bytewise: "aaa" < "bbb" <= "ccc"
    val snapshot = spark.createDataFrame(Seq(
      ("aaa", """{"_id":"aaa","score":1.0}"""), // before the resume point: skipped
      ("bbb", """{"_id":"bbb","score":2.0}"""),
      ("ccc", """{"_id":"ccc","score":3.0}"""),
    )).toDF("id", "doc")
    val queries = Runner.fromConfig(spark, config, base, (_, _) => {
      (snapshot, spark.readStream
        .format("graft.source.v2.OplogJsonSource").option("path", oplogDir).load())
    })
    queries.foreach { q => q.processAllAvailable(); q.stop() }

    val got = StateStore.read(spark, s"$base/app.users___users.user/state")
      .collect().map(_.getAs[String]("id")).toSet
    assert(got === Set("bbb", "ccc")) // P2: _id >= checkpoint id
  }
}
