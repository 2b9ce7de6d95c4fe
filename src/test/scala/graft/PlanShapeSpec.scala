package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{GetJsonObject, JsonToStructs}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression gate over the ENTIRE query surface: every entry in
  * `SparkEntry.queries` must compile to a physical plan free of the shapes
  * that kill a 100 TB run — cartesian products, and nested-loop joins
  * outside the documented 1-row-side crosses. A new query added without
  * thinking about its join strategy fails here before it ever reaches the
  * bench.
  */
class PlanShapeSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
  // either a crossJoin against a 1-row aggregate (constant fan-out), or a
  // deliberate broadcast of a BOUNDED-SMALL side — the ANN query set
  // (O(#queries) rows) / IVF seed set (O(nCells) rows) scanned against the
  // corpus, which IS the documented brute-force/assignment design. Keep
  // this list EXPLICIT so a new nested-loop join has to be justified here.
  private val oneRowCrossAllowed: Set[String] = Set(
    "q_corpus_stats", "q_corpus_stats_approx", "q_dataset_card",
    "q_surprisal", "q_bigram_lm", "q_dsir", "q_dsir_prod",
    "q_length_filter", "q_ann_recall", "q_funnel",
    "q_bm25", "q_bm25_prod", "q_contamination", "q_substring_dedup",
    "q_lsh_recall", "q_curation_pipeline", "q_training_manifest",
    "q_repetition", "q_quality_full",
    "q_ann_topk", "q_ann_ivf",
    "q_hard_negatives", // annTopK-shaped O(#queries=10)-row broadcast scan
    "q_hybrid_rank", // bm25's 1-row corpus-stats cross + annTopK's O(#queries=1) broadcast scan
    "q_value_percentiles", // 1-row corpus-count cross, O(1) side
    "q_weighted_sample", // two 1-row total-weight crosses (Sampling.weightedSample)
    "q_mix_temperature", // 1-row weight-normalizer cross over O(#sources) stats
    "q_collocations", // two 1-row corpus-total crosses (N tokens, B bigrams)
    "q_count_min_prod", // 1-row n_total cross for the r13 theorem gate
    // (exact <= estimate <= total) — O(1) side by construction
    "q_dedup_gate_recall", // 1-row n_true x 1-row n_found audit cross,
    // bench-excluded ground-truth audit like q_lsh_recall
    "q_ann_gate_recall", // 1-row n_true x 1-row n_found audit cross; the
    // exact side is also a broadcast batch (O(25) rows) scan — the
    // documented ground-truth audit shape, bench-excluded like q_lsh_recall
    "q_margin_mine", // two annTopK-shaped broadcast scans: forward side
    // broadcasts the 5% source batch (O(|batch|) rows) against one tgt
    // scan; backward side broadcasts the k*|batch|-bounded forward
    // candidate set against the batch — nothing corpus-sized broadcast
    // (Similarity.marginMine scaladoc)
    "q_lm_backoff", // two 1-row crosses of the reference token-total
    // aggregate (TextAnalysis.backoffSurprisal tTot), O(1) side
    "q_source_drift", // 1-row cross of the corpus token-total aggregate
    // (TextAnalysis.distributionDrift nTot), O(1) side
    "q_source_overlap", // pairwise cross of the O(#sources)-row MinHash
    // signature table with itself (#sources² output rows); sources are a
    // config-scale enum, never corpus-scale (TextDedup.groupOverlap
    // scaladoc) — the corpus-sized work is the one explode + agg upstream
    "q_margin_mine_stored", // forward side is the INDEX probe (no corpus
    // scan at all); the one nested-loop join is the backward leg's
    // refine-bounded candidate set crossed with the broadcast 10-row
    // batch (AnnIndexStore.marginMine scaladoc)
    "q_quality_classifier") // 1-row cross of the seed token-total
    // aggregate (Classify.trainLinear totals), O(1) side

  // The exact all-pairs cosine is DOCUMENTED as a small-input utility
  // (Similarity.cosinePairs scaladoc); its scale path is q_embed_cosine_lsh.
  private val pairwiseDocumented: Set[String] = Set("q_embed_cosine_pairs")

  // Queries whose plan legitimately contains a Window with an EMPTY
  // partition spec. An unpartitioned ordered window funnels its whole
  // input through one task — the classic 100-TB scale killer — so every
  // entry here must justify why its window input is bounded by a CONSTANT
  // (or by per-document size), never by corpus size.
  private val unpartitionedWindowAllowed: Map[String, String] = Map(
    "q_value_percentiles" ->
      ("bucket-level cumulative over <= nBuckets(=1024) range-bucket " +
        "counts (Percentiles.exactKth phase 3) — constant-bounded; the " +
        "value-level selection window IS partitioned (by bucket id)"),
    "q_length_filter" ->
      ("cumulative over the DISTINCT token-count histogram " +
        "(TextAnalysis.lengthPercentileTrim) — cardinality bounded by the " +
        "longest document's token count, not by corpus size"),
    "q_tokenize" ->
      ("dense-id ranking over the already-truncated top-k vocabulary " +
        "(TextAnalysis.vocabIds: Window AFTER limit(k)) — input <= k rows"),
    "q_oov_rate" ->
      ("the same bounded vocabIds ranking window as q_tokenize (the audit " +
        "shares the vocab build) — input <= k(=20) rows"),
    "q_bm25" ->
      ("final rank over the already-truncated top-K retrieval result " +
        "(TextAnalysis.bm25Rank: Window AFTER limit(topK)) — input <= 20 rows"),
    "q_bm25_prod" ->
      ("same bounded bm25Rank ranking window as q_bm25 (prod scoring mode)"),
    "q_hybrid_rank" ->
      ("fused-rank window over the already-truncated RRF result " +
        "(Rank.rrfFuse: Window AFTER limit(topK)) — input <= 20 rows; the " +
        "inner bm25Rank window is the allowlisted q_bm25 one"))

  test("no query plan contains a cartesian or unexplained nested-loop join") {
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan =
        try fn(spark, dir).queryExecution.executedPlan.toString
        catch { case e: Throwable => bad += s"$name: plan build failed: ${e.getMessage}"; "" }
      if (plan.contains("CartesianProduct") && !pairwiseDocumented(name))
        bad += s"$name: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin") &&
          !oneRowCrossAllowed(name) && !pairwiseDocumented(name))
        bad += s"$name: BroadcastNestedLoopJoin (add to allowlist ONLY if the side is O(1) rows)"
    }
    assert(bad.isEmpty, s"\n${bad.mkString("\n")}")
  }

  test("latestByKey plans a partial and a final sort aggregate, no hash aggregate") {
    // max_by(struct, struct) keeps two structs in its aggregation buffer;
    // a hash aggregate needs a fixed-width mutable buffer, so Spark falls
    // back to sorting on the keys (SttmOps.latestByKey's scaladoc)
    val session = spark.newSession()
    import session.implicits._
    val df = Seq((1L, 1L, 1L, "a"), (1L, 2L, 1L, "b"), (2L, 1L, 1L, "c"))
      .toDF("k", "ts", "seq", "v")
    val latest = graft.operators.SttmOps.latestByKey(df, Seq("k"), Seq("ts", "seq"))
    val helper = new AdaptiveSparkPlanHelper {}
    val aggs = helper.collect(latest.queryExecution.executedPlan) {
      case a: BaseAggregateExec => a
    }
    assert(aggs.map(_.getClass.getSimpleName) ==
      Seq("SortAggregateExec", "SortAggregateExec"), s"aggregates: $aggs")
    assert(latest.collect().map(_.toString).sorted.toSeq == Seq("[1,2,1,b]", "[2,1,1,c]"))
  }

  test("FGAC and quarantine INSERTs parse no JSON and carry only the XREF fields they read") {
    // The 24-field workbook: XREF_PURCHASE keeps 28 columns per key, the
    // FGAC INSERT reads 3 of them and the quarantine INSERT 2
    // (graft.plans.PruneLatestPayload).
    spark.sparkContext.setLogLevel("ERROR")
    val session = spark.newSession()
    val dir = Files.createTempDirectory("graft_wide_plans").toString
    WideWorkbook.write(session, dir, 60)
    WideWorkbook.register(session, dir)
    val out = WideWorkbook.compile().run(session)
    def jsonParses(t: String) = out(t).queryExecution.optimizedPlan.flatMap(_.expressions)
      .flatMap(_.collect { case e @ (_: JsonToStructs | _: GetJsonObject) => e })
    def latestFields(t: String) = PruneLatestPayloadSpec.latestFields(out(t))
    def scanned(t: String): Seq[Seq[String]] = new AdaptiveSparkPlanHelper {}
      .collect(out(t).queryExecution.executedPlan) {
        case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.endsWith("/topic")) =>
          s.requiredSchema.fieldNames.toSeq
      }
    assert(latestFields("FGAC_PURCHASE") == Seq(Seq("USER_ID", "EVENT_ID", "VALUE")))
    assert(latestFields("QUAR_PURCHASE") == Seq(Seq("USER_ID", "EVENT_ID")))
    Seq("FGAC_PURCHASE", "QUAR_PURCHASE").foreach { t =>
      assert(jsonParses(t).isEmpty, s"$t: ${out(t).queryExecution.optimizedPlan}")
      assert(scanned(t).size == 1 && !scanned(t).head.contains("props"), s"$t scans ${scanned(t)}")
    }
    assert(latestFields("XREF_PURCHASE").map(_.size) == Seq(4 + WideWorkbook.Width))
    assert(jsonParses("XREF_PURCHASE").nonEmpty)
  }

  // The check runs on the OPTIMIZED LOGICAL plan, not executedPlan: under
  // AQE the physical tree roots at AdaptiveSparkPlanExec (a leaf node), so
  // a physical-node collect() silently finds NOTHING — a vacuous gate
  // (caught by PercentilesSpec's positive-detection case).
  test("no query plan contains an unexplained unpartitioned window") {
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      val windows =
        try fn(spark, dir).queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
          case w: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit
              if w.partitionSpec.isEmpty => w
        }
        catch {
          case e: Throwable =>
            bad += s"$name: plan build failed: ${e.getMessage}"; Nil
        }
      if (windows.nonEmpty && !unpartitionedWindowAllowed.contains(name))
        bad += s"$name: unpartitioned Window (single-task sort of its " +
          "whole input) — allowlist ONLY with a written bound on the " +
          "window's input size"
    }
    assert(bad.isEmpty, s"\n${bad.mkString("\n")}")
  }
}
