package graftbench

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths => JPaths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import graft.Main
import graft.cdc.{BatchApplier, BucketedStateStore, Compactor, OplogRow, StateStore}
import graft.model._
import graft.pipeline.ScanJob
import graft.sink.{BulkHttp, Ddl, DdlHttp}

/** Engine side of the CDC benchmark. The generator process (run.py)
  * owns the inputs, the stub Mongo sidecar and the stub Elasticsearch;
  * this JVM drives the engine exactly as a deployment does, through
  * `graft.Main.run(spark, config.json, baseDir, dataDir)`.
  *
  * Protocol: every line this process prints that starts with `@@ ` is
  * one JSON event for the generator; the generator answers on stdin
  * (one command per line). In traced mode the benchmark composes the
  * same public calls the engine makes (scan: DDL, source read,
  * ScanJob.run, StateStore.applyIRs, BucketedStateStore.seed, the
  * BulkJsonSink write, BulkHttp delivery; tail: priorFor,
  * applyOplogBatchKeepDeletes, commitDelta, the bulk write and
  * delivery), forcing each call to materialise inside its own span.
  *
  * usage: graftbench.CdcBench <params.json>
  */
object CdcBench {

  // ---------------------------------------------------------------- protocol
  private val out = new java.io.PrintStream(
    new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
  private val in = new java.io.BufferedReader(
    new java.io.InputStreamReader(System.in, StandardCharsets.UTF_8))

  def emit(ev: String, kv: (String, DVal)*): Unit = out.synchronized {
    out.println("@@ " + DObj(("ev" -> DStr(ev)) +: kv.toVector).render)
  }
  /** Emit, then block until the generator acknowledges (it snapshots
    * its stub counters at exactly this point). */
  def sync(ev: String, kv: (String, DVal)*): String = { emit(ev, kv: _*); readCommand() }
  def readCommand(): String = {
    val l = in.readLine()
    if (l == null) throw new IllegalStateException("generator closed the command pipe")
    l.trim
  }
  private def d(x: Double): DVal = DDbl(x)
  private def l(x: Long): DVal = DInt(x)

  // ------------------------------------------------------------ /proc probes
  /** Process CPU seconds (utime + stime, clock ticks of 1/100 s). */
  def cpuSeconds(): Double = {
    val s = new String(Files.readAllBytes(JPaths.get("/proc/self/stat")), StandardCharsets.US_ASCII)
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong) / 100.0
  }
  /** Peak resident set (VmHWM) in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(JPaths.get("/proc/self/status")).asScala
      .collectFirst { case line if line.startsWith("VmHWM:") =>
        line.stripPrefix("VmHWM:").trim.split("\\s+")(0).toDouble / 1024.0
      }.getOrElse(0.0)

  def du(path: String): Long = {
    val p = JPaths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  // ----------------------------------------------------------------- tracing
  final class Span(val id: Long, val name: String, val parent: Long, val unit: Int, val start: Long) {
    @volatile var end: Long = 0L
    val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
    def attr(k: String, v: Double): Unit = attrs(k) = attrs.getOrElse(k, 0.0) + v
    def durS: Double = (end - start) / 1e9
  }

  /** Spans live in memory until the run ends. The open span's id rides
    * on the thread's Spark local properties, so every job, stage and
    * task that call submits is attributed to it by [[SpanListener]]. */
  object Tracer {
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
    private val ids = new AtomicLong(0L)
    @volatile var unit: Int = -1
    private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
    val Prop = "graftbench.span"

    def span[T](spark: SparkSession, name: String)(body: Span => T): T = {
      val parent = stack.get().headOption.map(_.id).getOrElse(0L)
      val s = new Span(ids.incrementAndGet(), name, parent, unit, System.nanoTime())
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, s.id.toString)
      stack.set(s :: stack.get())
      try body(s)
      finally {
        s.end = System.nanoTime()
        stack.set(stack.get().tail)
        sc.setLocalProperty(Prop, prev)
        spans.add(s)
      }
    }
  }

  /** Per-span Spark counters: executor CPU ns, jobs, tasks, shuffle
    * bytes written. */
  final class SpanListener extends SparkListener {
    val stageSpan = new ConcurrentHashMap[Integer, java.lang.Long]()
    val stats = new ConcurrentHashMap[java.lang.Long, Array[Long]]()
    private def spanOf(p: java.util.Properties): Option[Long] =
      Option(p).flatMap(pp => Option(pp.getProperty(Tracer.Prop))).map(_.toLong)
    private def add(id: Long, i: Int, v: Long): Unit = {
      val a = stats.computeIfAbsent(id, _ => new Array[Long](4))
      a.synchronized { a(i) += v }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach(add(_, 1, 1L))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach(id => stageSpan.put(e.stageInfo.stageId, id))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        add(id, 2, 1L)
        val m = e.taskMetrics
        if (m != null) {
          add(id, 0, m.executorCpuTime)
          add(id, 3, m.shuffleWriteMetrics.bytesWritten)
        }
      }
  }

  // ------------------------------------------------------------------ params
  final case class Params(
      workload: String, trace: Boolean, work: String, dataDir: String,
      configTemplate: String, setupReps: Int,
      passes: Int, traceFile: String,
      snapshotJsonl: String, snapshotParquet: String)

  def parseParams(path: String): Params = {
    val o = Json.parseObj(new String(Files.readAllBytes(JPaths.get(path)), StandardCharsets.UTF_8))
    def s(k: String) = o.get(k) match { case Some(DStr(v)) => v; case v => sys.error(s"param $k: $v") }
    def n(k: String): Double = o.get(k) match {
      case Some(DInt(v)) => v.toDouble; case Some(DDbl(v)) => v; case v => sys.error(s"param $k: $v")
    }
    Params(s("workload"), o.get("trace").contains(DBool(true)), s("work"), s("dataDir"),
      s("configTemplate"), n("setupReps").toInt, n("passes").toInt,
      s("traceFile"), s("snapshotJsonl"), s("snapshotParquet"))
  }

  // ---------------------------------------------------------------- pipeline
  final case class Dirs(base: String, cfg: EngineConfig) {
    val td: TaskDef = cfg.tasks.head
    val dirName: String = td.name + cfg.controls.indexNameSuffix
    val stateDir = s"$base/$dirName/state"
    val ckptDir = s"$base/$dirName/ckpt"
    val bulkDir = s"$base/bulk/$dirName"
    val index: String = td.load.index + cfg.controls.indexNameSuffix
    val endpoint: Option[String] = cfg.esSinkOptions.get("bulkEndpoint")
    val policy: BulkHttp.Policy = BulkHttp.Policy(
      maxRetries = cfg.esSinkOptions.get("bulkMaxRetries").map(_.toInt).getOrElse(3))
  }

  final class Bench(spark: SparkSession, p: Params) {
    private val template = new String(Files.readAllBytes(JPaths.get(p.configTemplate)), StandardCharsets.UTF_8)
    private val dropped = spark.sparkContext.longAccumulator("bench_dropped")

    def configFor(suffix: String): (String, EngineConfig) = {
      val text = template.replace("__SUFFIX__", suffix)
      val path = s"${p.work}/config$suffix.json"
      Files.write(JPaths.get(path), text.getBytes(StandardCharsets.UTF_8))
      (path, EngineConfig.fromJson(text))
    }

    /** The untraced path: the engine's own entry point. */
    def mainRun(cfgPath: String, base: String): Seq[StreamingQuery] =
      Main.run(spark, cfgPath, base, p.dataDir)

    private def adapters(cfg: EngineConfig, td: TaskDef): (DataFrame, DataFrame, String) = {
      val opts = cfg.mongoSourceOptions ++ cfg.sourceAdmissionOptions
      val url = cfg.mongodbUrl
      if (url.startsWith("http://")) {
        val (s, st) = Main.httpAdapters(spark, url)(td, opts); (s, st, "mongohttp")
      } else {
        val (s, st) = Main.fileAdapters(spark, p.dataDir)(td, opts); (s, st, "oplogjson")
      }
    }

    private def bulkStats(s: Span, dir: String): Unit = {
      val parts = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("part-"))
      s.attr("bulksink.files", parts.length.toDouble)
      s.attr("bulksink.bytes", parts.map(_.length()).sum.toDouble)
    }

    private def writeBulk(outcomes: DataFrame, dir: String, dd: Dirs): Unit =
      outcomes
        .select(col("action"), col("id"), col("doc").as("data"), col("parent"), col("ts"))
        .write.format("graft.source.v2.BulkJsonSink")
        .option("path", dir)
        .option("index", dd.index).option("type", dd.td.load.esType)
        .mode("append").save()

    /** Executor-side delivery, one task per part file — the engine's
      * TailQuery.deliverBulkDir shape, with the reports summed. */
    private def deliver(s: Span, dir: String, dd: Dirs): Unit = dd.endpoint.foreach { ep =>
      val parts = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("part-")).map(_.getPath).sorted.toSeq
      if (parts.nonEmpty) {
        val sc = spark.sparkContext
        val req = sc.longAccumulator; val ack = sc.longAccumulator; val drop = sc.longAccumulator
        val policy = dd.policy
        import spark.implicits._
        spark.createDataset(parts).repartition(parts.size).foreach { path =>
          val r = BulkHttp.deliverFile(path, URI.create(ep), policy, tag = "bench")
          req.add(r.requests.toLong); ack.add(r.acked.toLong); drop.add(r.dropped.size.toLong)
          ()
        }
        s.attr("bulkhttp.requests", req.value.toDouble)
        s.attr("bulkhttp.items_acked", ack.value.toDouble)
        s.attr("bulkhttp.retries", (req.value - parts.size).toDouble)
        s.attr("bulkhttp.items_dropped", drop.value.toDouble)
      }
    }

    /** Traced DDL + scan backfill: Runner.fromConfig's DDL legs, then
      * ScanJob.backfill's calls, each materialised in its own span. */
    def tracedSeed(cfg: EngineConfig, base: String): Unit = {
      val dd = Dirs(base, cfg)
      Tracer.span(spark, "backfill.pass") { _ =>
        Tracer.span(spark, "ddl.init") { _ =>
          Ddl.initFromConfig(spark, cfg, Some(s"$base/tables"))
          cfg.esSinkOptions.get("ddlEndpoint").foreach { ep =>
            DdlHttp.initFromConfig(cfg, new URI(ep),
              policy = DdlHttp.Policy(maxRetries = dd.policy.maxRetries))
          }
        }
        val (snapshot, _, kind) = adapters(cfg, dd.td)
        val read = if (kind == "mongohttp") kind else "parquet"
        val snap = Tracer.span(spark, s"$read.read") { s =>
          val c = snapshot.persist(); s.attr(s"$read.rows", c.count().toDouble); c
        }
        val irs = Tracer.span(spark, "scanjob.transform") { s =>
          val c = ScanJob.run(snap, dd.td.transform).persist(); s.attr("scanjob.rows", c.count().toDouble); c
        }
        val state = Tracer.span(spark, "statestore.apply_irs") { s =>
          val c = StateStore.applyIRs(StateStore.empty(spark), irs).persist()
          s.attr("statestore.rows", c.count().toDouble); c
        }
        Tracer.span(spark, "bucketed.seed") { s =>
          BucketedStateStore.seed(state, dd.stateDir, BucketedStateStore.Spec())
          s.attr("bucketed.seed_bytes", du(dd.stateDir).toDouble)
        }
        val scanDir = s"${dd.bulkDir}/batch-scan"
        Tracer.span(spark, "bulksink.write") { s =>
          val seeded = StateStore.read(spark, dd.stateDir)
          writeBulk(seeded.select(lit("upsert").as("action"), col("id"), col("doc"),
            col("parent"), col("ts")), scanDir, dd)
          bulkStats(s, scanDir)
        }
        Tracer.span(spark, "bulkhttp.deliver") { s => deliver(s, scanDir, dd) }
        state.unpersist(); irs.unpersist(); snap.unpersist()
      }
      ()
    }

    /** Traced tail: TailQuery.start's stream shape with the benchmark's
      * own foreachBatch composing the bucketed micro-batch apply. */
    def tracedTail(cfg: EngineConfig, base: String): StreamingQuery = {
      val dd = Dirs(base, cfg)
      val (snapshot, stream, kind) = adapters(cfg, dd.td)
      val spec = BucketedStateStore.Spec()
      val task = dd.td.transform
      import OplogRow.encoder
      Compactor.streamFilters(stream, dd.td.extract.ns, 0L)
        .writeStream
        .queryName("traced")
        .option("checkpointLocation", dd.ckptDir)
        .trigger(Trigger.ProcessingTime(cfg.controls.elasticsearchBulkInterval.toLong))
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Tracer.span(spark, "tail.trigger") { _ =>
            val n = Tracer.span(spark, s"$kind.read") { s =>
              batch.persist(); val c = batch.count(); s.attr(s"$kind.rows", c.toDouble); c
            }
            try if (n > 0) {
              val events = batch.as[OplogRow]
              val (keys, nKeys, dirty, prior) = Tracer.span(spark, "bucketed.lookup") { s =>
                val keys = events.select(col("id")).distinct().persist()
                val nb = BucketedStateStore.readManifest(dd.stateDir).map(_.nBuckets).getOrElse(spec.nBuckets)
                val row = keys.agg(collect_set(BucketedStateStore.bucketCol(nb)), count(lit(1))).head()
                val dirty = row.getSeq[Int](0).toSet
                val prior = BucketedStateStore.priorFor(spark, dd.stateDir, keys).persist()
                s.attr("bucketed.dirty_buckets", dirty.size.toDouble)
                s.attr("bucketed.prior_rows", prior.count().toDouble)
                (keys, row.getLong(1), dirty, prior)
              }
              val applied = Tracer.span(spark, "applier.fold") { s =>
                val d0 = dropped.value
                val a = BatchApplier.applyOplogBatchKeepDeletes(
                  events, prior, task, Some(snapshot), Some(dropped), Some(nKeys)).persist()
                val r = a.agg(count(lit(1)),
                  sum(when(col("action") === "delete", 1L).otherwise(0L))).head()
                val dels = if (r.isNullAt(1)) 0L else r.getLong(1)
                s.attr("applier.events_in", n.toDouble)
                s.attr("applier.keys", r.getLong(0).toDouble)
                s.attr("applier.upserts", (r.getLong(0) - dels).toDouble)
                s.attr("applier.deletes", dels.toDouble)
                s.attr("applier.dropped", (dropped.value - d0).toDouble)
                a
              }
              Tracer.span(spark, "bucketed.commit") { s =>
                val before = BucketedStateStore.readManifest(dd.stateDir).map(_.seq).getOrElse(-1L)
                val after = BucketedStateStore.commitDelta(applied, dd.stateDir, spec, dirty)
                s.attr("bucketed.compactions", if (after - before > 1) 1.0 else 0.0)
                s.attr("bucketed.delta_bytes", du(s"${dd.stateDir}/data/delta_${before + 1}").toDouble)
                val m = BucketedStateStore.readManifest(dd.stateDir)
                s.attr("bucketed.chain_max",
                  m.map(_.buckets.values.map(_.deltas.size).maxOption.getOrElse(0)).getOrElse(0).toDouble)
                s.attr("bucketed.state_bytes", du(s"${dd.stateDir}/data").toDouble)
              }
              val batchDir = f"${dd.bulkDir}/batch-$batchId%05d"
              Tracer.span(spark, "bulksink.write") { s => writeBulk(applied, batchDir, dd); bulkStats(s, batchDir) }
              Tracer.span(spark, "bulkhttp.deliver") { s => deliver(s, batchDir, dd) }
              applied.unpersist(); prior.unpersist(); keys.unpersist()
            } finally { batch.unpersist(); () }
          }
          ()
        }
        .start()
    }

    def dumpState(cfg: EngineConfig, base: String, path: String): Long = {
      val dd = Dirs(base, cfg)
      val w = Files.newBufferedWriter(JPaths.get(path), StandardCharsets.UTF_8)
      var n = 0L
      try BucketedStateStore.read(spark, dd.stateDir).select("id", "doc", "parent")
        .toLocalIterator().asScala.foreach { r =>
          def opt(i: Int): DVal = if (r.isNullAt(i)) DNull else DStr(r.getString(i))
          w.write(DObj("id" -> opt(0), "doc" -> opt(1), "parent" -> opt(2)).render)
          w.newLine(); n += 1
        }
      finally w.close()
      n
    }
  }

  // ----------------------------------------------------------- layer report
  private val maxAttrs = Set("bucketed.chain_max", "bucketed.state_bytes")
  /** Unit of the traced seeding in a tail workload's setup. */
  val SetupUnit: Int = -2

  /** Per-layer totals over spans of traced units (unit >= 0), divided by
    * the number of units; a span's self time is its duration minus its
    * children's. Writes every span to the trace file. */
  def layerReport(listener: SpanListener, traceFile: String): Vector[(String, DVal)] = {
    val spans = Tracer.spans.asScala.toVector.sortBy(_.start)
    val childSum = spans.groupBy(_.parent).map { case (pid, cs) => pid -> cs.map(_.durS).sum }
    def self(s: Span) = s.durS - childSum.getOrElse(s.id, 0.0)
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val w = Files.newBufferedWriter(JPaths.get(traceFile), StandardCharsets.UTF_8)
    try spans.foreach { s =>
      val st = Option(listener.stats.get(s.id)).getOrElse(new Array[Long](4))
      w.write(DObj(
        "id" -> l(s.id), "name" -> DStr(s.name), "parent" -> l(s.parent), "unit" -> l(s.unit.toLong),
        "start_ms" -> d((s.start - t0) / 1e6), "end_ms" -> d((s.end - t0) / 1e6),
        "self_ms" -> d(self(s) * 1e3),
        "cpu_ns" -> l(st(0)), "jobs" -> l(st(1)), "tasks" -> l(st(2)), "shuffle_bytes" -> l(st(3)),
        "attrs" -> DObj(s.attrs.toVector.map { case (k, v) => k -> d(v) })).render)
      w.newLine()
    } finally w.close()

    val traced = spans.filter(_.unit >= 0)
    val units = math.max(1, traced.map(_.unit).distinct.size)
    // layers only the (traced) setup exercises report once, unscaled
    val tracedNames = traced.map(_.name).toSet
    val setupOnly = spans.filter(s => s.unit == SetupUnit && !tracedNames(s.name))
    def totals(ss: Vector[Span], per: Double): mutable.LinkedHashMap[String, Double] = {
      val acc = mutable.LinkedHashMap.empty[String, Double]
      def add(k: String, v: Double): Unit = acc(k) = acc.getOrElse(k, 0.0) + v / per
      ss.foreach { s =>
        add(s"${s.name}_s", self(s))
        val st = Option(listener.stats.get(s.id)).getOrElse(new Array[Long](4))
        add(s"${s.name}.cpu_ns", st(0).toDouble); add(s"${s.name}.jobs", st(1).toDouble)
        add(s"${s.name}.tasks", st(2).toDouble); add(s"${s.name}.shuffle_bytes", st(3).toDouble)
        s.attrs.foreach { case (k, v) => if (!maxAttrs(k)) add(k, v) }
      }
      maxAttrs.foreach { k =>
        ss.flatMap(_.attrs.get(k)).maxOption.foreach(v => acc(k) = v)
      }
      acc
    }
    val perUnit = totals(traced, units) ++ totals(setupOnly, 1.0)
    val roots = traced.filter(s => s.name == "tail.trigger" || s.name == "backfill.pass")
    val coverage = roots.map(r => childSum.getOrElse(r.id, 0.0) / math.max(r.durS, 1e-9))
    perUnit("trace.coverage_min") = coverage.minOption.getOrElse(0.0)
    perUnit("trace.units") = units.toDouble
    perUnit("trace.root_spans") = roots.size.toDouble
    perUnit.toVector.map { case (k, v) => k -> d(v) }
  }

  // -------------------------------------------------------------------- main
  def main(args: Array[String]): Unit = {
    val p = parseParams(args(0))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[3]"))
      .appName("graft-cdcbench")
      .withExtensions(new graft.expressions.GraftExtensions)
      // the same session settings graft.Main.main uses
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${p.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${p.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1).count()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val listener = new SpanListener
    if (p.trace) spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        e.exception.foreach(x => emit("query_failed", "error" -> DStr(x.take(2000))))
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val pr = e.progress
        if (pr.numInputRows > 0)
          emit("progress", "batch" -> l(pr.batchId),
            "start_ms" -> l(java.time.Instant.parse(pr.timestamp).toEpochMilli),
            "rows" -> l(pr.numInputRows),
            "trigger_ms" -> l(Option(pr.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)))
      }
    })
    // file-adapter inputs: the generator writes the snapshot as JSON
    // lines; the engine's file adapter reads (id, doc) parquet
    if (p.snapshotJsonl.nonEmpty)
      spark.read.text(p.snapshotJsonl)
        .select(get_json_object(col("value"), "$.id").as("id"),
          get_json_object(col("value"), "$.doc").as("doc"))
        .write.mode("overwrite").parquet(p.snapshotParquet)
    val b = new Bench(spark, p)
    val isTail = p.workload != "backfill"
    emit("session", "session_s" -> d(sessionS), "jvm_start_ms" -> l(jvmStart))

    // ---- setup: repeated DDL + seeding backfills on fresh dirs, whose
    // median wall is setup_s; the last repetition keeps its tail, which
    // drains the warm-up backlog before the timed region starts
    val repWalls = mutable.ArrayBuffer.empty[Double]
    var live: Seq[StreamingQuery] = Nil
    var liveMode = "plain"
    var real: (String, EngineConfig, String) = null
    var drainS = 0.0
    for (r <- 0 until p.setupReps) {
      val last = r == p.setupReps - 1
      val (cfgPath, cfg) = b.configFor(s"_s$r")
      val base = s"${p.work}/s$r"
      sync("rep_begin", "rep" -> l(r.toLong))
      val t0 = System.nanoTime()
      val tracedRep = p.trace && isTail && last
      val qs =
        if (tracedRep) {
          Tracer.unit = SetupUnit; b.tracedSeed(cfg, base); Tracer.unit = -1
          Seq(b.tracedTail(cfg, base))
        }
        else b.mainRun(cfgPath, base)
      val runS = (System.nanoTime() - t0) / 1e9
      repWalls += runS
      if (last && isTail) {
        qs.foreach(_.processAllAvailable())
        drainS = (System.nanoTime() - t0) / 1e9 - runS
        live = qs; liveMode = if (tracedRep) "traced" else "plain"; real = (cfgPath, cfg, base)
      } else qs.foreach(_.stop())
      emit("rep_end", "rep" -> l(r.toLong), "main_run_s" -> d(runS), "drain_s" -> d(drainS))
    }
    val sortedReps = repWalls.sorted
    val mid = sortedReps.size / 2
    val setupS = if (sortedReps.size % 2 == 1) sortedReps(mid) else (sortedReps(mid - 1) + sortedReps(mid)) / 2

    if (!isTail) {
      // ---- backfill: repeated Main.run passes on fresh dirs
      emit("ready", "setup_s" -> d(setupS))
      var i = 0
      val kept = mutable.LinkedHashMap.empty[String, (EngineConfig, String, Int)]
      while (i < p.passes) {
        val traced = p.trace && i % 2 == 1
        val mode = if (traced) "traced" else "plain"
        val (cfgPath, cfg) = b.configFor(s"_p$i")
        val base = s"${p.work}/p$i"
        sync("pass_begin", "pass" -> l(i.toLong), "mode" -> DStr(mode))
        val c0 = cpuSeconds(); val w0 = System.nanoTime()
        val qs = if (traced) { Tracer.unit = i; b.tracedSeed(cfg, base); Nil } else b.mainRun(cfgPath, base)
        val wall = (System.nanoTime() - w0) / 1e9
        val cpu = cpuSeconds() - c0
        Tracer.unit = -1
        qs.foreach(_.stop())
        emit("pass_end", "pass" -> l(i.toLong), "mode" -> DStr(mode),
          "wall_s" -> d(wall), "cpu_s" -> d(cpu), "index" -> DStr(Dirs("", cfg).index))
        kept(mode) = (cfg, base, i)
        i += 1
      }
      emit("timed_done", "peak_rss_mb" -> d(peakRssMb()))
      kept.foreach { case (mode, (cfg, base, i)) =>
        val path = s"${p.work}/state-p$i.jsonl"
        val n = b.dumpState(cfg, base, path)
        emit("state", "pass" -> l(i.toLong), "mode" -> DStr(mode), "path" -> DStr(path), "rows" -> l(n),
          "index" -> DStr(Dirs("", cfg).index))
      }
    } else {
      // ---- tails: the generator drives units over stdin
      val (cfgPath, cfg, base) = real
      emit("ready", "setup_s" -> d(setupS), "mode" -> DStr(liveMode), "index" -> DStr(Dirs("", cfg).index))
      var running = true
      while (running) {
        val cmd = readCommand().split(" ")
        cmd(0) match {
          case "mode" =>
            val want = cmd(1)
            Tracer.unit = -1
            if (want != liveMode) {
              live.foreach(_.stop())
              live = if (want == "traced") Seq(b.tracedTail(cfg, base)) else b.mainRun(cfgPath, base)
              liveMode = want
            }
            if (want == "traced") Tracer.unit = cmd(2).toInt
            emit("mode_ready", "mode" -> DStr(liveMode))
          case "stop" =>
            Tracer.unit = -1
            emit("timed_done", "peak_rss_mb" -> d(peakRssMb()))
            live.foreach(_.stop())
            val path = s"${p.work}/state-tail.jsonl"
            val n = b.dumpState(cfg, base, path)
            emit("state", "pass" -> l(-1L), "mode" -> DStr(liveMode), "path" -> DStr(path), "rows" -> l(n),
              "index" -> DStr(Dirs("", cfg).index))
            running = false
          case other => sys.error(s"unknown command: $other")
        }
      }
    }
    if (p.trace) {
      Thread.sleep(1000) // let the listener bus deliver the last task-end events
      val probe = graft.ops.IoProbe.mbps()
      emit("layers", "metrics" -> DObj(layerReport(listener, p.traceFile) :+ ("env.io_probe_mbps" -> d(probe))))
    }
    emit("done")
    out.flush()
    sys.exit(0)
  }

}
