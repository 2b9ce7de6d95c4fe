package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seed-labeled linear text classification — the trained-filter stage of
  * CC-scale curation pipelines (CCNet / fastText quality and language
  * filters; see the reference's quality-gating intent in its filter
  * predicates, `scripts/` STTM filters): a SMALL labeled seed slice
  * trains per-token weights, and the full unlabeled corpus is scored by
  * one broadcast join. The heuristic quality scores ([[TextAnalysis]])
  * are unsupervised; this is the supervised complement the standard
  * pipeline chains after them.
  *
  * Everything is EXACT integer arithmetic (decimal(38,0) cross-products,
  * mirrored by DuckDB HUGEINT in the oracle — the q_source_drift
  * discipline): the weight of token t is the cross-multiplied difference
  * of class-conditional unigram rates,
  *
  *   w(t) = n_pos(t) * T_neg - n_neg(t) * T_pos
  *
  * (n_c(t) = occurrences of t in class c, T_c = total class tokens) —
  * positive iff t is over-represented in the positive class; exactly the
  * sign of the naive-Bayes log-likelihood-ratio term without the
  * floating-point log. A document's score is sum(tf(t) * w(t)) over its
  * in-vocabulary tokens; score > 0 is the keep decision.
  *
  * Scale shape: training is one explode + one (token)-keyed partial-agg
  * shuffle of the SEED slice only; the vocabulary is capped at the top
  * `vocabSize` seed tokens (count desc, token tie-break — a distributed
  * TakeOrderedAndProject, no unpartitioned window), so the weight table
  * broadcasts. Scoring the 100-TB corpus is explode + broadcast-hash
  * join + one id-keyed partial agg — corpus rows are never shuffled by
  * token. Decimal headroom: exact for seed corpora under ~3e16 tokens
  * (loudly guarded, the [[TextAnalysis.distributionDrift]] bound), far
  * above any labeled seed set.
  */
object Classify {

  /** Per-token integer weights from a labeled seed slice.
    * Returns (token, w decimal(38,0)) limited to the top `vocabSize`
    * seed-frequency tokens. `labelCol` is the boolean positive-class
    * indicator evaluated against the seed rows. */
  def trainLinear(seed: DataFrame, labelCol: Column, textCol: String,
                  vocabSize: Int = 4096): DataFrame = {
    val dec: Column => Column = _.cast("decimal(38,0)")
    val tok = seed
      .select(labelCol.as("pos"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
    val counts = tok.groupBy(col("token"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("n_neg"))
      .orderBy((col("n_pos") + col("n_neg")).desc, col("token"))
      .limit(vocabSize)
    val totals = tok.agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("t_pos"),
      sum(when(col("pos"), 0L).otherwise(1L)).as("t_neg"),
      // loud guard instead of silent decimal overflow (distributionDrift
      // discipline): both totals must stay under ~3e16 for the exact
      // 38-digit cross-products below
      assert_true(count(lit(1)) < 3.0e16,
        lit("trainLinear decimal headroom: seed token count must stay " +
          "under ~3e16 for exact integer weights — subsample the seed"))
        .as("_g"))
    counts.crossJoin(broadcast(totals))
      .select(col("token"),
        (dec(col("n_pos")) * dec(col("t_neg")) -
          dec(col("n_neg")) * dec(col("t_pos")) +
          coalesce(col("_g").cast("long"), lit(0L))).as("w"))
  }

  /** Score every document against trained weights: (id, n_tok, score,
    * keep) with score = sum(tf * w) over in-vocabulary tokens (exact
    * decimal(38,0)), keep = score > 0. Documents with no in-vocabulary
    * tokens score 0 and are not kept. One explode + broadcast weight
    * join + one id-keyed hash aggregation. */
  def scoreLinear(docs: DataFrame, idCol: String, textCol: String,
                  weights: DataFrame): DataFrame = {
    val tok = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
    tok.join(broadcast(weights), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"),
        coalesce(sum(col("w")), lit(0).cast("decimal(38,0)")).as("score"))
      .withColumn("keep", col("score") > 0)
  }

  /** Held-out evaluation of a trained filter — the gate-quality audit a
    * CCNet-style deployment runs before trusting the classifier on the
    * unlabeled mass: score a LABELED slice the training never saw and
    * report the keep-vs-label confusion plus floored-basis-point
    * precision/recall/accuracy (exact integer arithmetic; `div` yields
    * null when a denominator is 0, mirrored by DuckDB `//`). Documents
    * whose text has no tokens never reach the scorer and count as
    * not-kept, matching [[scoreLinear]]'s keep contract. Cost: one
    * scoring pass over the slice + one 1-row global aggregation. */
  def evaluate(heldOut: DataFrame, idCol: String, textCol: String,
               labelCol: Column, weights: DataFrame): DataFrame = {
    val scored = scoreLinear(heldOut, idCol, textCol, weights)
    val ev = heldOut.select(col(idCol), labelCol.as("truth"))
      .join(scored.select(col(idCol), col("keep")), Seq(idCol), "left")
      .select(col("truth"), coalesce(col("keep"), lit(false)).as("keep"))
    val cell: (Boolean, Boolean) => Column = (k, t) =>
      sum(when(col("keep") === k && col("truth") === t, 1L).otherwise(0L))
    ev.agg(cell(true, true).as("tp"), cell(true, false).as("fp"),
        cell(false, true).as("fn"), cell(false, false).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        // CaseWhen guards: under ANSI mode a bare `div` throws on an
        // empty denominator instead of yielding null (DuckDB `//` mirrors
        // the null via the same CASE)
        when(col("tp") + col("fp") > 0,
          expr("tp * 10000 div (tp + fp)")).as("precision_bp"),
        when(col("tp") + col("fn") > 0,
          expr("tp * 10000 div (tp + fn)")).as("recall_bp"),
        when(col("tp") + col("fp") + col("fn") + col("tn") > 0,
          expr("(tp + tn) * 10000 div (tp + fp + fn + tn)"))
          .as("accuracy_bp"))
  }

  /** Persist a trained weight table as a maintained model artifact: the
    * standard deployment trains once offline on the curated seed and
    * every scorer ([[scoreLinear]] over [[loadWeights]], as
    * q_quality_classifier_stored does) loads this table. The table is
    * <= vocabSize rows, so it lands as one file and always broadcasts on
    * the scoring side. Overwrite is the refresh path: retraining on a
    * grown seed replaces the artifact in place and the next scoring run
    * picks it up (per-file parquet commit +
    * `_SUCCESS` marker — the same contract every fixture cache here
    * relies on). */
  def saveWeights(weights: DataFrame, dir: String): Unit =
    weights.coalesce(1).write.mode("overwrite").parquet(dir)

  /** Load a [[saveWeights]] artifact (token, w decimal(38,0)). */
  def loadWeights(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Whether a complete weight artifact exists at `dir`. */
  def weightsExist(dir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/_SUCCESS"))

  /** Train-on-seed, score-the-rest composition: rows where `seedCol` is
    * true train the classifier (against `labelCol`); all OTHER rows are
    * scored. The standard deployment: a curated/annotated slice gates
    * the unlabeled mass. */
  def seedAndScore(docs: DataFrame, idCol: String, textCol: String,
                   seedCol: Column, labelCol: Column,
                   vocabSize: Int = 4096): DataFrame = {
    val w = trainLinear(docs.filter(seedCol), labelCol, textCol, vocabSize)
    scoreLinear(docs.filter(!seedCol), idCol, textCol, w)
  }
}
