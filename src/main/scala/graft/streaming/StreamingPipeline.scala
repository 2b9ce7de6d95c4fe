package graft.streaming

import java.util.Locale
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming execution of an N-stage statement set: one source scan fanned
  * out to N views, M XREF upserts and K sinks inside a single
  * `foreachBatch` — the engine's equivalent of Flink's EXECUTE STATEMENT
  * SET (v22:397; reference shape resources/output/final-output.sql:81-145:
  * three discriminated views over one topic feeding three straight INSERTs,
  * one join INSERT and one bidirectional quarantine INSERT). Spark would
  * otherwise run one independent scan per `writeStream`; `foreachBatch`
  * gives a shared scan and per-batch multi-sink writes. Measured, not
  * argued (BASELINE.md round-11 second wave and round-12 first wave, sf0.1
  * events): the fan-out reads 1/N the source rows of N independent
  * queries, and with the sink writes running
  * CONCURRENTLY (r11) it matches the independent variant's wall-clock while
  * paying 1/N the scan — at reference arity N=8, not just the original 3.
  * The sharing is real only because the RAW batch is materialized once
  * (localCheckpoint): each action on a raw foreachBatch frame re-reads the
  * source files. View transforms recompute per downstream action over the
  * cached raw blocks — repeated row work traded for not paying one eager
  * materialization job per view per trigger (the commit-floor knob,
  * VERDICT r11 #5); they MUST therefore be deterministic functions of the
  * batch, which every compiled STTM view is. That row work is small next
  * to a trigger's fixed cost, so every plan of a trigger runs interpreted
  * (see [[runSet]]): at 1,500 rows per trigger, code generation and Janino
  * compiles took about a fifth of the program's CPU, the same bodies
  * compiled again each trigger after Spark's codegen cache evicted them,
  * and no measured trigger size, up to 75,000 rows, showed compiled row
  * loops repaying their compile beyond run-to-run noise.
  *
  * Every JOIN INPUT, unlike a view, is computed once: the raw batch, the
  * touched buckets of all XREFs (one job), each XREF's upsert delta (by its
  * first reader, see [[UpsertDelta]]) once per trigger, and a compiled
  * workbook's static dim views once per stream run
  * ([[graft.compile.StreamingBridge]]): in the reference's statement set
  * the FGAC join and the quarantine anti-join read the same XREF delta and
  * the same customer dim.
  *
  * Stage semantics per micro-batch:
  *  1. each VIEW projects/filters the shared raw batch (discriminator
  *     filters, JSON extraction, casts)
  *  2. each XREF upserts its view's batch as a delta segment of its LSM
  *     [[SnapshotStore]] (A2/T2): one job counts every XREF's touched
  *     buckets and rows, then the appends run concurrently across stores
  *     (independent manifests). Per-batch write cost is O(|batch|) +
  *     amortized compaction, never O(snapshot).
  *  3. each xref exposes its upsert DELTA — the post-merge snapshot rows
  *     for exactly the keys this batch carried (J3), file-pruned to the
  *     touched buckets and key-semi-joined BELOW the merge-on-read dedup
  *  4. each SINK emits from the batch's views + deltas into its
  *     [[ChangelogSink]]; all sink writes run concurrently (r11: actions
  *     from separate threads share the scheduler, so serializing them only
  *     serialized sink I/O)
  *
  * Delivery is effectively-once per stage: XREF appends are batchId-keyed
  * and replay-idempotent (watermarked against folds), and each sink append
  * is a batchId-keyed [[ChangelogSink]] segment — a retried micro-batch
  * re-applies every stage as a no-op. Readers get the accumulated enriched
  * changelog via [[ChangelogSink.read]] (same rows + `batch` provenance
  * column the old one-directory-per-trigger layout served, without the
  * unbounded small-files growth — VERDICT r11 #4).
  */
object StreamingPipeline {

  /** The delta a sink's emit receives per xref: the post-merge snapshot
    * rows for THE CURRENT BATCH'S KEYS ONLY — the upsert-changelog delta,
    * NOT the full snapshot. A distinct type so a lambda written against
    * full-snapshot semantics (e.g. one that consults rows for keys outside
    * the batch) fails to compile instead of silently producing reduced
    * output (ADVICE r10 #2).
    *
    * [[rows]] is computed once per trigger, by the first sink that reads
    * it, and materialized (a lazy localCheckpoint: that sink's own job
    * fills the blocks, every later reader scans them), so the delta's
    * key-side broadcast and bucket-pruned merge-on-read run once however
    * many INSERTs read it — the reference's statement set likewise keeps
    * XREF_PURCHASE once for its FGAC and quarantine INSERTs. A delta no
    * sink reads runs nothing. [[processSet]] releases the blocks when the
    * trigger ends. */
  final class UpsertDelta private[streaming] (compute: () => DataFrame,
                                              materialize: Boolean) {
    // the frame, and the metrics of the plan that fills it (kept reachable
    // until the trigger ends, see lazyCheckpoint)
    private var memo: Option[(DataFrame, Seq[SQLMetric])] = None
    def rows: DataFrame = synchronized {
      if (memo.isEmpty)
        memo = Some(if (materialize) lazyCheckpoint(compute()) else (compute(), Nil))
      memo.get._1
    }
    private[streaming] def release(): Unit =
      synchronized(if (materialize) memo.foreach(m => releaseCheckpoint(m._1)))
  }

  /** One named view over the shared raw batch. `transform` must be a
    * DETERMINISTIC function of its input frame (see class doc — it
    * recomputes per downstream action over the cached raw blocks). */
  final case class ViewDef(name: String, transform: DataFrame => DataFrame)

  /** One keyed-upsert XREF table maintained from `view`'s batches, stored
    * at `<workDir>/<name>_snapshot`. `keys`+`orderCols` are the table's
    * primary key and ranking, exactly as in [[SnapshotStore.merge]];
    * `nBuckets`/`maxLiveSegments` are that table's layout + LSM-budget
    * deployment knobs (size buckets to the TABLE's volume — a 16-bucket
    * layout for a batch-sized table pays 4x the write tasks and delta-read
    * files it needs, BASELINE.md round-12 third wave — and the budget to
    * the fold-spike tolerance, BASELINE.md round-11 sixth and eighth
    * waves). */
  final case class XrefDef(name: String, view: String,
                           keys: Seq[String], orderCols: Seq[String],
                           nBuckets: Int = 16, maxLiveSegments: Int = 8)

  /** Per-sink ChangelogSink knobs (see [[ChangelogSink.write]]); one set
    * for the whole statement set. */
  final case class SinkOptions(maxLiveSegments: Int = 8,
                               targetFileBytes: Long = 128L << 20,
                               vacuumGraceMs: Long = 10 * 60 * 1000L)

  /** One INSERT of the statement set: emit rows for this batch from the
    * batch's view frames and upsert deltas (both by name), landing in the
    * [[ChangelogSink]] at `<workDir>/<name>`. */
  final case class SinkDef(
      name: String,
      emit: (Map[String, DataFrame], Map[String, UpsertDelta]) => DataFrame)

  /** The full statement set. Name collisions and dangling view references
    * fail at construction, not mid-stream; one xref per view keeps each
    * view's bucket-tagging unambiguous. */
  final case class StatementSet(views: Seq[ViewDef], xrefs: Seq[XrefDef],
                                sinks: Seq[SinkDef]) {
    require(views.map(_.name).distinct.size == views.size,
      s"duplicate view names: ${views.map(_.name)}")
    require(xrefs.map(_.name).distinct.size == xrefs.size,
      s"duplicate xref names: ${xrefs.map(_.name)}")
    require(sinks.map(_.name).distinct.size == sinks.size,
      s"duplicate sink names: ${sinks.map(_.name)}")
    require(xrefs.groupBy(_.view).values.forall(_.size == 1),
      "at most one xref per view")
    xrefs.find(x => !views.exists(_.name == x.view)).foreach(x =>
      sys.error(s"xref ${x.name} references unknown view ${x.view}"))
    // CROSS-namespace path collisions corrupt silently, not loudly: a sink
    // named "<xref>_snapshot" shares the xref store's GenStore root, and
    // whichever writes its b<id> segment second is a manifest-level no-op —
    // rows lost under a green stream. Fail at construction instead.
    private val sinkDirs = sinks.map(_.name).toSet
    xrefs.map(x => s"${x.name}_snapshot").find(sinkDirs).foreach(d =>
      sys.error(s"sink name $d collides with an xref store directory"))
    require(!sinkDirs("_checkpoint"),
      "sink name _checkpoint collides with the streaming checkpoint dir")
  }

  /** Rows-per-batch ceiling for broadcasting the delta semi-join's key
    * set. Steady-state batches are small, but the FIRST AvailableNow
    * micro-batch of a backfill can be the entire source — an oversized
    * broadcast fails the whole streaming query, where a shuffled semi-join
    * merely degrades (ADVICE r10 #1). The batch ROW count (≥ its key
    * count, piggybacked on the merge's touched-bucket aggregation — no
    * extra counting job) gates conservatively: 1M rows ≈ tens of MB
    * broadcast, safely under driver/executor headroom. */
  private val MaxBroadcastKeys = 1000000L

  /** Checkpoint retention [[runSet]] applies to the checkpoint it owns
    * (VERDICT r12 #6: the 220-batch soak found the stock defaults retain
    * offset/commit entries for 100 batches and hold superseded file-source
    * log entries for a 10-minute cleanupDelay — 2 files/trigger of growth
    * a long-running set never needs). Spark reads both from the SESSION
    * conf at query start (there is no per-query option surface), so runSet
    * sets them on the source's session; one statement set per dedicated
    * session is the documented discipline. A session whose conf already
    * carries a NON-stock value keeps it: an operator's explicit retention
    * tuning wins over these defaults. */
  private val MinBatchesToRetain = 10
  private val FileSourceLogCleanupDelayMs = 0L

  /** The confs every trigger of [[runSet]] runs under: no whole-stage
    * code generation and no generated projections, predicates or
    * orderings, each with its stock value. Compiling a short query costs
    * more than interpreting it (Kohn, Leis, Neumann, ICDE 2018).
    * `spark.sql.codegen.factoryMode` is an INTERNAL Spark conf
    * (`SQLConf.CODEGEN_FACTORY_MODE`, the switch Spark's own suites use to
    * force interpreted evaluation); StreamingPipelineSpec pins that Spark
    * still honours it, so an upgrade that ignores it fails loudly. */
  private val InterpretedConfs = Seq(
    ("spark.sql.codegen.wholeStage", "true", "false"),
    ("spark.sql.codegen.factoryMode", "FALLBACK", "NO_CODEGEN"))

  def xrefStorePath(workDir: String, xrefName: String): String =
    s"$workDir/${xrefName}_snapshot"
  def sinkPath(workDir: String, sinkName: String): String =
    s"$workDir/$sinkName"

  /** Run a micro-batch statement set over a file-stream source.
    *
    * @param source  streaming DataFrame (e.g. readStream.parquet / kafka)
    * @param set     the views/xrefs/sinks to execute per micro-batch
    * @param workDir root for the snapshot stores + sink directories
    * @return the started query (AvailableNow trigger unless overridden)
    */
  def runSet(
      source: DataFrame,
      set: StatementSet,
      workDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      sinkOpts: SinkOptions = SinkOptions()): StreamingQuery = {
    val stores = set.xrefs
      .map(x => x.name -> new SnapshotStore(xrefStorePath(workDir, x.name),
        nBuckets = x.nBuckets, maxLiveSegments = x.maxLiveSegments))
      .toMap
    val conf = source.sparkSession.conf
    // Stockness is decided on PARSED values, not string forms (ADVICE r13):
    // conf.get renders the default in whatever form the Spark version
    // registered it ("10m" today, but "600s"/"600000ms" parse identically),
    // and a string-form set would silently treat a re-rendered default as
    // operator tuning — the retention defaults would stop applying and
    // checkpoint growth would return with no signal. The same holds for a
    // default written back explicitly, as code that saved a conf with
    // getOption does when it restores it. An UNPARSEABLE current value is
    // treated as explicit tuning (don't override), never as stock.
    def isStock[T](key: String, stockParsed: T, parse: String => T): Boolean = {
      val cur = try Option(conf.get(key)) catch { case _: Exception => None }
      cur.forall(c => scala.util.Try(parse(c.trim)).toOption.contains(stockParsed))
    }
    if (isStock("spark.sql.streaming.minBatchesToRetain", 100L, _.toLong))
      conf.set("spark.sql.streaming.minBatchesToRetain", MinBatchesToRetain.toString)
    // 10 min, the conf's registered default; the conf is registered as a
    // ms-default time conf, so a bare number means ms — same parser Spark applies
    if (isStock("spark.sql.streaming.fileSource.log.cleanupDelay", 600000L,
        org.apache.spark.network.util.JavaUtils.timeStringAsMs))
      conf.set("spark.sql.streaming.fileSource.log.cleanupDelay",
        FileSourceLogCleanupDelayMs.toString)
    // The stream clones the source's session when it is created, inside
    // start(), and runs every trigger on that clone. So the interpreted
    // confs are set only around start() and the prior settings restored
    // after it: the stream runs interpreted, the caller's session keeps
    // code generation for its other queries.
    val interpreted = InterpretedConfs.collect {
      case (key, stock, v)
          if isStock(key, stock.toLowerCase(Locale.ROOT), _.toLowerCase(Locale.ROOT)) =>
        (key, conf.getAll.get(key), v)
    }
    interpreted.foreach { case (key, _, v) => conf.set(key, v) }
    try source.writeStream
      .option("checkpointLocation", s"$workDir/_checkpoint")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processSet(stores, workDir, set, batch, batchId, sinkOpts)
      }
      .start()
    finally interpreted.foreach { case (key, prior, _) =>
      prior.fold(conf.unset(key))(conf.set(key, _)) }
  }

  /** `df` checkpointed lazily: the first job that reads the result fills
    * its blocks and every later read scans them. On finishing, that job
    * also truncates the checkpoint's lineage, which held the driver's only
    * reference to the SQL metrics of `df`'s plan; a concurrent reader's
    * tasks still report to those metrics, and once a GC has collected them
    * Spark drops the updates with an "attempted to access non-existent
    * accumulator" error. So the metrics come back with the frame: keep them
    * reachable for as long as readers may still run. */
  private[graft] def lazyCheckpoint(df: DataFrame): (DataFrame, Seq[SQLMetric]) = {
    val cp = df.localCheckpoint(eager = false)
    val plan = new AdaptiveSparkPlanHelper {}
    (cp, plan.collectWithSubqueries(df.queryExecution.executedPlan) {
      case p => p.metrics.values.toSeq
    }.flatten)
  }

  /** Drop the blocks of a frame made by `localCheckpoint`: its logical
    * plan is the checkpointed RDD's relation. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false); ()
      case _ =>
    }

  /** One micro-batch of the full statement set, run under the batch's
    * session confs ([[runSet]]'s stream runs it interpreted). Each join
    * input is computed once: the raw batch (by its first reader), every
    * XREF's touched buckets and row count (one job for all of them) and
    * each XREF's upsert delta (by its first reader). The raw batch's and
    * the deltas' blocks are released when the trigger ends.
    *
    * @param materialize false reads each delta unmaterialized, planned
    *        again by every sink that reads it (the specs' reference run) */
  private[graft] def processSet(
      stores: Map[String, SnapshotStore],
      workDir: String,
      set: StatementSet,
      batch: DataFrame,
      batchId: Long,
      sinkOpts: SinkOptions = SinkOptions(),
      materialize: Boolean = true): Unit = {
    val spark = batch.sparkSession
    // the SHARED SCAN, materialized exactly once per trigger: every view,
    // merge and sink below reads the cached raw blocks, never the source
    // files again. Uniform for N=1 too: an earlier special case
    // checkpointed the single view's output instead (smaller blocks) but
    // measured perf-neutral (BASELINE r12) and broke transforms that
    // REGISTER frames as a side effect (the workbook bridge) — their
    // registrations bound the un-checkpointed batch, silently re-reading
    // the source per downstream action. The checkpoint is lazy, so it is
    // no job of its own: the touched-bucket count fills its blocks, or,
    // in a set without XREFs, the concurrent sink writes do, one task
    // computing each block while the others' tasks wait for it.
    val (raw, rawMetrics) = lazyCheckpoint(batch)
    var deltas = Map.empty[String, UpsertDelta]
    try {
      val views: Map[String, DataFrame] =
        set.views.map(v => v.name -> v.transform(raw)).toMap

      // 2. XREF upserts: one job counts every store's touched buckets and
      //    rows, then the segment appends run concurrently across stores
      val preps = set.xrefs.map(x =>
        stores(x.name).prepare(views(x.view), x.keys, materialize = false))
      val counts = SnapshotStore.touchedCounts(preps)
      concurrently[Unit]("merge", batchId, set.xrefs.zip(preps).zip(counts).map {
        case ((x, prep), (touched, _)) => (x.name, () =>
          stores(x.name).append(prep, touched, x.keys, x.orderCols, Some(batchId)))
      })

      // 3. each xref's batch-keyed upsert delta (bucket-pruned, semi-joined
      //    BELOW the merge-on-read dedup — see readBuckets' preFilter
      //    contract), computed when a sink first reads it
      import org.apache.spark.sql.functions.{broadcast, col}
      deltas = set.xrefs.zip(counts).map { case (x, (touched, nRows)) =>
        val vb = views(x.view)
        x.name -> new UpsertDelta(() =>
          stores(x.name).readBuckets(spark, touched, preFilter = { rawSeg =>
              // key semi-join BEFORE the latest-by-key (it commutes with
              // per-key dedup): the agg runs over just this batch's keys'
              // rows instead of every row in the touched buckets — at scale
              // the difference between aggregating a bucket and a batch.
              val keySide = vb.select(x.keys.map(col): _*).distinct()
              val side =
                if (nRows <= MaxBroadcastKeys) broadcast(keySide) else keySide
              rawSeg.join(side, x.keys, "left_semi")
            })
            .getOrElse(spark.createDataFrame(
              spark.sparkContext.emptyRDD[Row], vb.schema)),
          materialize)
      }.toMap

      // 4. statement-set fan-out: every INSERT runs concurrently from the
      //    shared batch, each landing batchId-idempotently in its sink
      concurrently[Unit]("sink", batchId, set.sinks.map { sd =>
        (sd.name, () => ChangelogSink.write(
          sd.emit(views, deltas), sinkPath(workDir, sd.name), batchId,
          maxLiveSegments = sinkOpts.maxLiveSegments,
          targetFileBytes = sinkOpts.targetFileBytes,
          vacuumGraceMs = sinkOpts.vacuumGraceMs))
      })
      ()
    } finally {
      deltas.values.foreach(_.release())
      releaseCheckpoint(raw)
      java.lang.ref.Reference.reachabilityFence(rawMetrics)
    }
  }

  /** Run the named tasks concurrently and return their results in order.
    * The first task runs on the CALLING thread; the rest on threads
    * SPAWNED HERE, not a shared pool: a child thread inherits the
    * micro-batch thread's InheritableThreadLocals (active session, job
    * group) at creation, deterministically — so `query.stop()`'s
    * cancelJobGroup still kills every stage's jobs, and user callbacks see
    * the same thread-local Spark context they would single-threaded.
    * join() is interruptible, so stop() doesn't hang behind a stuck sink.
    * Any task's failure fails the whole micro-batch (retry semantics
    * unchanged); the first failure is primary, the rest ride along as
    * suppressed. */
  private[graft] def concurrently[T](
      label: String, batchId: Long,
      tasks: Seq[(String, () => T)]): Seq[T] = {
    if (tasks.isEmpty) return Seq.empty
    val results = new Array[Any](tasks.size)
    val errs = new Array[Throwable](tasks.size)
    val threads = tasks.zipWithIndex.drop(1).map { case ((name, f), i) =>
      new Thread(() =>
        try results(i) = f()
        catch { case e: Throwable => errs(i) = e },
        s"graft-$label-$name-b$batchId")
    }
    threads.foreach(_.start())
    try results(0) = tasks.head._2()
    catch { case e: Throwable => errs(0) = e }
    threads.foreach(_.join())
    val es = errs.filter(_ != null)
    if (es.nonEmpty) {
      es.tail.foreach(es.head.addSuppressed)
      throw es.head
    }
    results.toSeq.map(_.asInstanceOf[T])
  }
}
