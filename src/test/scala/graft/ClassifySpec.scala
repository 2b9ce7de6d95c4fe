package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Classify

class ClassifySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("weight signs: pos-only tokens > 0, neg-only < 0, balanced = 0") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // two docs per class, equal token counts so the totals cancel exactly
    val seed = Seq(
      (true, "good good shared"), (true, "good fine shared"),
      (false, "bad bad shared"), (false, "bad awful shared")).toDF("y", "text")
    val w = Classify.trainLinear(seed, col("y"), "text")
      .collect().map(r => r.getString(0) -> BigDecimal(r.getDecimal(1))).toMap
    assert(w("good") > 0 && w("fine") > 0, s"positive-class tokens: $w")
    assert(w("bad") < 0 && w("awful") < 0, s"negative-class tokens: $w")
    // T_pos == T_neg == 6, n_pos(shared) == n_neg(shared) == 2 -> exact 0
    assert(w("shared") == 0, s"balanced token must weigh 0: $w")
  }

  test("seed-trained filter separates held-out docs when a signal exists") {
    // The driver's synthetic corpus draws text independently of its
    // lang/source columns (verified: per-source token rates differ only
    // by sampling noise), so separation must be shown on an engineered
    // deterministic corpus: both classes share a common vocabulary, each
    // mixes in class-specific tokens. Even indices train, odd are scored.
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val shared = Vector("the", "data", "row", "join", "scan")
    val posV = Vector("crisp", "clear", "fluent")
    val negV = Vector("garbled", "spam", "noise")
    val docs = (0 until 200).map { i =>
      val cls = i % 2 == 0 // alternate classes across both halves
      val own = if (cls) posV else negV
      val text = (0 until 12).map { j =>
        if (j % 3 == 0) own((i + j) % own.size)
        else shared((i * 5 + j) % shared.size)
      }.mkString(" ")
      (i.toLong, cls, text)
    }.toDF("id", "truth", "text")
    val scored = Classify.seedAndScore(docs, "id", "text",
        col("id") % 4 < 2, col("truth"))
      .join(docs.select(col("id"), col("truth")), Seq("id"))
    val n = scored.count()
    assert(n == 100L)
    val agree = scored.filter(col("keep") === col("truth")).count()
    assert(agree == n,
      s"engineered 4-in-12 class-token signal must separate fully: $agree/$n")
  }

  test("evaluate: confusion cells and bp metrics, incl. token-free docs") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val seed = Seq((true, "good good"), (false, "bad bad")).toDF("y", "text")
    val w = Classify.trainLinear(seed, col("y"), "text")
    // tp: kept+true, fp: kept+false, fn: dropped+true (incl. a doc whose
    // text has NO tokens at all — it never reaches the scorer and must
    // count as not-kept), tn: dropped+false
    val held = Seq(
      (1L, true, "good stuff"), (2L, true, "good good fine"), // tp, tp
      (3L, false, "good trick"),                              // fp
      (4L, true, "bad luck"), (5L, true, ""),                 // fn, fn (empty)
      (6L, false, "bad bad"), (7L, false, "unrelated words")  // tn, tn (oov)
    ).toDF("id", "truth", "text")
    val r = Classify.evaluate(held, "id", "text", col("truth"), w)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 1L, 2L, 2L)), s"confusion: $r")
    assert(r.getLong(4) == 6666L && r.getLong(5) == 5000L &&
      r.getLong(6) == 5714L, s"bp metrics: $r")
    // degenerate slice: nothing kept -> precision null, not a crash
    val none = Classify.evaluate(
      Seq((1L, true, "zzz")).toDF("id", "truth", "text"),
      "id", "text", col("truth"), w).collect().head
    assert(none.isNullAt(4) && none.getLong(5) == 0L, s"degenerate: $none")
  }

  test("vocab cap keeps the top tokens deterministically") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // "hi" appears 4x, "lo"/"la" 2x each — cap 2 keeps hi plus the
    // lexicographically-first of the tied pair
    val seed = Seq((true, "hi hi lo la"), (false, "hi hi lo la"))
      .toDF("y", "text")
    val kept = Classify.trainLinear(seed, col("y"), "text", vocabSize = 2)
      .collect().map(_.getString(0)).toSet
    assert(kept == Set("hi", "la"), s"cap broke determinism: $kept")
  }

  test("scoring plan broadcasts the weights; no corpus shuffle by token") {
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val w = Classify.trainLinear(docs.filter(col("doc_id") % 5 === 0),
      col("lang") === "en", "text")
    val plan = Classify.scoreLinear(docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", w)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"weights join must broadcast:\n$plan")
  }

  test("docs with no in-vocabulary tokens score 0 and are not kept") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val seed = Seq((true, "alpha beta"), (false, "gamma delta"))
      .toDF("y", "text")
    val w = Classify.trainLinear(seed, col("y"), "text")
    val out = Classify.scoreLinear(
        Seq((1L, "zeta eta"), (2L, "alpha alpha")).toDF("id", "text"),
        "id", "text", w)
      .collect().map(r => r.getLong(0) ->
        (BigDecimal(r.getDecimal(2)), r.getBoolean(3))).toMap
    assert(out(1L) == ((BigDecimal(0), false)), s"oov doc: ${out(1L)}")
    assert(out(2L)._1 > 0 && out(2L)._2, s"pos doc: ${out(2L)}")
  }

  test("stored weights round-trip: load == trained table, scores identical") {
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val w = Classify.trainLinear(docs.filter(col("doc_id") % 5 === 0),
      col("lang") === "en", "text")
    val dir = Files.createTempDirectory("graft_clsw").toString
    Classify.saveWeights(w, dir)
    assert(Classify.weightsExist(dir))
    val loaded = Classify.loadWeights(spark, dir)
    val a = w.collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    val b = loaded.collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    assert(a == b, "weight artifact round-trip changed the model")
    // serving through the artifact == serving the in-memory table
    val rest = docs.filter(col("doc_id") % 5 =!= 0)
    val inline = Classify.scoreLinear(rest, "doc_id", "text", w)
      .collect().map(_.toSeq).toSet
    val stored = Classify.scoreLinear(rest, "doc_id", "text", loaded)
      .collect().map(_.toSeq).toSet
    assert(inline == stored, "stored-weights scoring diverged from inline")
  }
}
