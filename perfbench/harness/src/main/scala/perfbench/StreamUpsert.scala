package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import graft.compile.{CompiledPipeline, CompilerOptions, PipelineCompiler, StreamingBridge}
import graft.operators.GenStore
import graft.spec.{SttmParser, SttmSpec}
import graft.streaming.{ChangelogSink, SnapshotStore, StreamingPipeline}

/** The workbook the topic workloads compile, kept as data next to the
  * harness, and the set-up steps shared by the streaming and batch runs. */
object Workbook {
  val Xrefs = Seq("XREF_PURCHASE" -> "purchase", "XREF_CLICK" -> "click")
  val Sinks = Seq("SINK_PURCHASE" -> "purchase", "SINK_CLICK" -> "click",
    "SINK_SIGNUP" -> "signup")
  val Fgac = "FGAC_PURCHASE"
  val Quarantine = "QUAR_PURCHASE"
  val NonViewTargets: Seq[String] = Xrefs.map(_._1) ++ Seq(Fgac, Quarantine) ++ Sinks.map(_._1)

  /** Parse the workbook (spec.parse_ms) and compile + validate it
    * (compile.compile_ms). */
  def parseAndCompile(r: Run, file: String): (CompiledPipeline, Double, Double) = {
    val dir = r.args.bench.resolve("workbooks")
    val (spec, parseMs) = Time.ms(SttmSpec(
      SttmParser.mappingFromCsv(Files.readString(dir.resolve(file))),
      SttmParser.matrixFromCsv(Files.readString(dir.resolve("matrix.csv")))))
    val (p, compileMs) = Time.ms(PipelineCompiler.compile(spec, CompilerOptions(payloadCol = "props")))
    require(p.errors.isEmpty, s"workbook validation errors: ${p.errors.mkString("; ")}")
    (p, parseMs, compileMs)
  }

  /** Function install: the Flink-name scalar functions and the JSON access
    * fusion rule a JSON-view deployment runs with. */
  def install(spark: SparkSession): Unit = {
    graft.functions.FlinkCompat.register(spark)
    graft.plans.FuseJsonAccess.install(spark)
  }

  /** Median of the per-repetition set-up legs, recorded as layer metrics. */
  def recordSetup(r: Run, legs: Seq[Map[String, Double]]): Unit = {
    def med(k: String) = Time.median(legs.map(_(k)))
    r.rec.e2e("setup_s", med("total_ms") / 1000.0, "s")
    r.rec.info("setup_reps_s", legs.map(_("total_ms") / 1000.0))
    if (r.args.trace) {
      r.rec.layer("spec.parse_ms", med("parse_ms"), "ms")
      r.rec.layer("compile.compile_ms", med("compile_ms"), "ms")
      r.rec.layer("compile.bridge_ms", med("bridge_ms"), "ms")
      r.rec.layer("compile.plan_ms", med("plan_ms"), "ms")
    }
  }

  /** Independent expectations over the generated events, computed in plain
    * Scala without Spark or the program. */
  final class Expected(spec: TopicSpec) {
    val latest = Map("purchase" -> mutable.LongMap[(Long, Long)](),
      "click" -> mutable.LongMap[(Long, Long)]())
    val ids = Map("purchase" -> mutable.ArrayBuffer[Long](),
      "click" -> mutable.ArrayBuffer[Long](), "signup" -> mutable.ArrayBuffer[Long]())
    var i = 0L
    while (i < spec.events) {
      val t = spec.eventType(i)
      ids(t) += i
      latest.get(t).foreach { m =>
        val u = spec.userId(i)
        val ts = spec.tsMicros(i)
        m.get(u) match {
          case Some((pts, pid)) if pts > ts || (pts == ts && pid > i) =>
          case _ => m(u) = (ts, i)
        }
      }
      i += 1
    }
    def latestIds(entity: String): Map[Long, Long] =
      latest(entity).iterator.map { case (u, (_, e)) => u -> e }.toMap
    /** Purchase keys with no entitled customer: the quarantine's keys. */
    def quarantined: Set[Long] = latest("purchase").keysIterator.filter(spec.keyClass(_) != 0).toSet
  }
}

/** `stream_upsert`: the compiled workbook as one streaming statement set,
  * replayed one topic file per trigger. */
object StreamUpsert {
  val LsmBudget = 2
  /** Shuffle partitions and XREF buckets sized to one trigger's batch. */
  val StreamPartitions = 2
  /** Leading triggers that warm the JIT and the code caches; not timed. */
  val WarmTriggers = 1

  def run(r: Run): Unit = {
    val a = r.args
    // 7 triggers in all: with an LSM budget of 2 the XREF stores fold at the
    // 3rd and 6th and compact their base at the 7th
    val triggers = WarmTriggers + (if (a.tiny) 6 else math.max(6, a.seconds / 2))
    val perTrigger = if (a.tiny) 100 else 1500
    val spec = TopicSpec(a.seed, events = triggers * perTrigger, files = triggers,
      keys = if (a.tiny) 2000 else 20000, zipf = 1.05, width = 0,
      orphanShare = 0.05, unentitledShare = 0.05, oooShare = 0.03)
    val topic = r.dir("input/topic")
    val dim = r.dir("input/customer")
    val work = r.dir("stream")

    // input generation: not part of the measured set-up
    r.phase("generate") {
      r.startSession()
      spec.writeTopic(r.spark, topic)
      spec.writeCustomers(r.spark, dim)
      r.rec.info("input", spec.describe)
    }

    // set-up, repeated; the last repetition's statement set is the one run
    var set: StreamingPipeline.StatementSet = null
    var session: SparkSession = null
    val legs = r.phase("setup")((1 to 5).map { _ =>
      val (_, sessionMs) = Time.ms(r.startSession())
      val s2 = r.spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", StreamPartitions.toString)
      s2.conf.set("spark.sql.adaptive.enabled", "false")
      val (_, installMs) = Time.ms(Workbook.install(s2))
      val (p, parseMs, compileMs) = Workbook.parseAndCompile(r, "narrow_sttm.csv")
      Gen.readCustomers(s2, dim).createOrReplaceTempView("customer")
      // the workbook planned once against the topic's schema, as a batch
      val (_, planMs) = Time.ms {
        s2.createDataFrame(s2.sparkContext.emptyRDD[org.apache.spark.sql.Row], Gen.topicSchema)
          .createOrReplaceTempView("events")
        p.run(s2).values.foreach(_.queryExecution.analyzed)
      }
      val (st, bridgeMs) = Time.ms(StreamingBridge.toStatementSet(p, "events", s2, nBuckets = StreamPartitions))
      // a small LSM budget per store and sink (the program's per-table
      // deployment knob), so folds and compactions recur within the run's
      // few triggers instead of after 70+
      set = st.copy(xrefs = st.xrefs.map(_.copy(maxLiveSegments = LsmBudget)))
      session = s2
      Map("total_ms" -> (sessionMs + installMs + parseMs + compileMs + planMs + bridgeMs),
        "parse_ms" -> parseMs, "compile_ms" -> compileMs, "bridge_ms" -> bridgeMs,
        "plan_ms" -> planMs)
    })
    Workbook.recordSetup(r, legs)

    val stores = Workbook.Xrefs.map(x => StreamingPipeline.xrefStorePath(work, x._1))
    val sinkNames = Workbook.NonViewTargets.filterNot(_.startsWith("XREF"))
    val sinkDirs = sinkNames.map(StreamingPipeline.sinkPath(work, _))
    val health = new StoreHealth(stores ++ sinkDirs)
    r.attachTrace(sinkNames)
    // every trigger's progress report, marked when it arrived: the CPU
    // between two reports is the later trigger's
    val progress = mutable.ArrayBuffer[(StreamingQueryProgress, Mark)]()
    session.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized(progress += e.progress -> Mark.now())
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    if (a.trace) {
      // store health sampled at the start of each trigger, before its merges
      val first = set.views.head
      set = set.copy(views = first.copy(transform = { raw: DataFrame =>
        health.sample(); first.transform(raw) }) +: set.views.tail)
    }

    val source = session.readStream.schema(Gen.topicSchema)
      .option("maxFilesPerTrigger", "1").parquet(topic)
    val start = Mark.now()
    val (query, wallMs) = r.phase("stream")(Time.ms {
      val q = StreamingPipeline.runSet(source, set, work,
        sinkOpts = StreamingPipeline.SinkOptions(maxLiveSegments = LsmBudget))
      q.awaitTermination()
      q
    })
    health.sample()
    org.apache.spark.PerfbenchBus.drain(session.sparkContext)
    val reports = progress.synchronized(progress.toSeq)
    val marks = start +: reports.map(_._2)
    val withCpu = reports.indices.map(i => (reports(i)._1, Cpu.between(marks(i), marks(i + 1))))
      .filter(_._1.numInputRows > 0)
    val batches = withCpu.map(_._1)
    val failedQuery = query.exception.nonEmpty
    query.exception.foreach(e => System.err.println(s"[perfbench] query failed: $e"))
    (0 until triggers).foreach(n => r.rec.op(!failedQuery && n < batches.size))

    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    // the measured triggers: all but the warm-up ones
    val timed = withCpu.drop(WarmTriggers)
    val cpu = timed.map(_._2)
    val trig = timed.map(t => dur(t._1, "triggerExecution"))
    val timedEvents = timed.map(_._1.numInputRows).sum
    r.rec.e2e("work_ref_cpu_s", cpu.map(_.refMs).sum / 1000.0, "s")
    r.rec.e2e("events_per_ref_cpu_s", timedEvents / (cpu.map(_.refMs).sum / 1000.0), "1/s")
    r.rec.e2e("probe_ms", Time.median(cpu.map(_.probeMs)), "ms")
    // the raw CPU and wall-time figures, for the summary line
    r.rec.info("figures", Map("work_cpu_s" -> cpu.map(_.ms).sum / 1000.0,
      "work_s" -> trig.sum / 1000.0,
      "trigger_p50_ms" -> Time.median(trig), "trigger_max_ms" -> trig.max,
      "stream_events_per_s" -> timedEvents / (trig.sum / 1000.0),
      "query_s" -> wallMs / 1000.0, "trigger_p50_ref_cpu_ms" -> Time.median(cpu.map(_.refMs))))
    r.rec.info("trigger_cpu_ms", withCpu.map(_._2.ms))
    r.rec.info("trigger_probe_ms", withCpu.map(_._2.probeMs))
    r.rec.info("trigger_ms", batches.map(dur(_, "triggerExecution")))
    r.rec.info("op", "trigger")
    r.rec.info("samples", trig.size)

    if (a.trace) {
      def med(k: String) = Time.median(batches.map(dur(_, k)))
      r.rec.layer("streaming.trigger.add_batch_p50_ms", med("addBatch"), "ms")
      r.rec.layer("streaming.trigger.add_batch_max_ms", batches.map(dur(_, "addBatch")).max, "ms")
      r.rec.layer("streaming.trigger.floor_p50_ms",
        Time.median(batches.map(b => dur(b, "triggerExecution") - dur(b, "addBatch"))), "ms")
      r.rec.layer("streaming.trigger.wal_commit_p50_ms", med("walCommit"), "ms")
      r.rec.layer("streaming.trigger.commit_offsets_p50_ms", med("commitOffsets"), "ms")
      r.rec.layer("streaming.trigger.latest_offset_p50_ms", med("latestOffset"), "ms")
      r.rec.layer("streaming.trigger.query_planning_p50_ms", med("queryPlanning"), "ms")
      r.rec.layer("streaming.triggers", batches.size, "count")
      r.rec.layer("streaming.input_rows", batches.map(_.numInputRows).sum, "count")
      val t = r.trace.get
      val layers = Seq("streaming.scan", "streaming.snapshot_store", "streaming.changelog_sink")
      val accs = layers.map(t.acc)
      val n = math.max(1, batches.size).toDouble
      r.rec.layer("streaming.trigger.jobs", accs.map(_.jobs.size).sum / n, "count")
      r.rec.layer("streaming.trigger.stages", accs.map(_.stages).sum / n, "count")
      r.rec.layer("streaming.trigger.tasks", accs.map(_.tasks).sum / n, "count")
      layers.foreach(l => r.layerMetrics(l))
      sinkNames.foreach(s => r.rec.layer(s"streaming.changelog_sink.$s.busy_ms",
        t.acc(s"streaming.changelog_sink.$s").busyMs, "ms"))
      r.detachTrace()
    }

    r.phase("check")(check(r, spec, work, session))
    if (a.trace) health.record(r, stores, sinkDirs, work, session)
  }

  /** Correctness, against the generator's own latest-by-key. */
  private def check(r: Run, spec: TopicSpec, work: String, session: SparkSession): Unit = {
    val exp = new Workbook.Expected(spec)
    Workbook.Xrefs.foreach { case (x, entity) =>
      r.rec.check(s"xref_latest_by_key:$x") {
        val snap = new SnapshotStore(StreamingPipeline.xrefStorePath(work, x)).read(session).get
        val got = snap.select(col("USER_ID"), col("EVENT_ID")).collect()
          .map(row => row.getLong(0) -> row.getLong(1)).toMap
        val payloadOk = entity != "purchase" ||
          snap.select(col("EVENT_ID"), col("SKU")).collect()
            .forall(row => row.getInt(1).toLong == spec.field(row.getLong(0), 1) % 5000)
        got.size == snap.count() && got == exp.latestIds(entity) && payloadOk
      }
    }
    Workbook.Sinks.foreach { case (s, entity) =>
      r.rec.check(s"sink_exactly_once:$s") {
        val got = ChangelogSink.read(session, StreamingPipeline.sinkPath(work, s))
          .select(col("EVENT_ID")).collect().map(_.getLong(0)).sorted
        got.sameElements(exp.ids(entity))
      }
    }
    r.rec.check("quarantine_keys") {
      ChangelogSink.read(session, StreamingPipeline.sinkPath(work, Workbook.Quarantine))
        .select(col("USER_ID")).distinct().collect().map(_.getLong(0)).toSet == exp.quarantined
    }
  }
}

/** Store health of the GenStore-backed stores, sampled from their
  * manifests: live segments, folds (a new merged segment appears) and
  * compactions (the generation moves). */
final class StoreHealth(dirs: Seq[String]) {
  private val maxLive = mutable.Map[String, Int]().withDefaultValue(0)
  private val folds = mutable.Map[String, Int]().withDefaultValue(0)
  private val compactions = mutable.Map[String, Int]().withDefaultValue(0)
  private val last = mutable.Map[String, GenStore.State]()

  def sample(): Unit = synchronized {
    dirs.foreach { d =>
      GenStore.read(d).foreach { st =>
        maxLive(d) = math.max(maxLive(d), st.segs.size)
        last.get(d).foreach { prev =>
          if (st.gen > prev.gen) compactions(d) += st.gen - prev.gen
          folds(d) += st.segs.count(s => s.startsWith("m-") && !prev.segs.contains(s))
        }
        last(d) = st
      }
    }
  }

  def record(r: Run, stores: Seq[String], sinks: Seq[String], work: String,
             spark: SparkSession): Unit = {
    def files(d: String): Seq[java.nio.file.Path] =
      if (!Files.exists(Paths.get(d))) Nil
      else Files.walk(Paths.get(d)).iterator().asScala.filter(Files.isRegularFile(_)).toList
    def bytes(d: String) = files(d).map(Files.size).sum.toDouble
    val storeRows = stores.map(s => new SnapshotStore(s).read(spark).map(_.count()).getOrElse(0L)).sum
    val sinkRows = sinks.map(s => ChangelogSink.read(spark, s).count()).sum
    r.rec.layer("streaming.snapshot_store.live_segments_max", stores.map(maxLive).max, "count")
    r.rec.layer("streaming.snapshot_store.folds", stores.map(folds).sum, "count")
    r.rec.layer("streaming.snapshot_store.compactions", stores.map(compactions).sum, "count")
    r.rec.layer("streaming.snapshot_store.files", stores.map(files(_).size).sum, "count")
    r.rec.layer("streaming.snapshot_store.bytes_per_key",
      stores.map(bytes).sum / math.max(1L, storeRows), "bytes")
    r.rec.layer("streaming.changelog_sink.live_segments_max", sinks.map(maxLive).max, "count")
    r.rec.layer("streaming.changelog_sink.folds", sinks.map(folds).sum, "count")
    r.rec.layer("streaming.changelog_sink.files", sinks.map(files(_).size).sum, "count")
    r.rec.layer("streaming.changelog_sink.bytes_per_row",
      sinks.map(bytes).sum / math.max(1L, sinkRows), "bytes")
    r.rec.layer("streaming.checkpoint.files", files(s"$work/_checkpoint").size, "count")
  }
}
