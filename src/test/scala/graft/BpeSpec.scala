package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Bpe

/** BPE training against hand-computed merges (the Sennrich et al. example
  * corpus) and the sentinel encoding's left-to-right non-overlapping merge
  * semantics. */
class BpeSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  // low x5, lower x2, newest x6, widest x3 — hand-derived merge order:
  // (e,s)=9 ties (s,t)=9 -> lexicographically smaller left wins; then
  // (es,t)=9; then (l,o)=7 ties (o,w)=7 -> (l,o); then (lo,w)=7.
  private def sennrich = docs(
    "low low low low low lower lower",
    "newest newest newest newest newest newest",
    "widest widest widest")

  test("merge order matches the hand-computed Sennrich corpus") {
    spark.sparkContext.setLogLevel("ERROR")
    val got = Bpe.train(sennrich, "text", nMerges = 4).orderBy("step")
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(("e", "s", 9L), ("es", "t", 9L),
      ("l", "o", 7L), ("lo", "w", 7L)), s"merges: ${got.mkString(", ")}")
  }

  test("encode applies merges corpus-wide with exact token counts") {
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))
    val got = Bpe.encode(sennrich, "doc_id", "text", merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc0: low->1 tok x5, lower->[low,e,r] x2; doc1: newest->[n,e,w,est] x6;
    // doc2: widest->[w,i,d,est] x3
    assert(got.toSeq == Seq((0L, 25L, 11L, 7L), (1L, 36L, 24L, 6L),
      (2L, 18L, 12L, 3L)), s"encode: ${got.mkString(", ")}")
  }

  test("merges are left-to-right non-overlapping: aaaa -> [aa,aa], aaa -> [aa,a]") {
    val d = docs("aaaa aaa aaaa")
    val first = Bpe.train(d, "text", nMerges = 1).collect()(0)
    assert((first.getString(1), first.getString(2), first.getLong(3)) ==
      ("a", "a", 8L))
    val enc = Bpe.encode(d, "doc_id", "text", Seq(("a", "a"))).collect()(0)
    // [aa,aa] + [aa,a] + [aa,aa] = 6 tokens from 11 chars, 3 words
    assert((enc.getLong(1), enc.getLong(2), enc.getLong(3)) == (11L, 6L, 3L),
      s"enc: $enc")
  }

  test("training is deterministic across runs") {
    val a = Bpe.train(sennrich, "text", 4).collect().map(_.toSeq).toSeq
    val b = Bpe.train(sennrich, "text", 4).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("batched training == sequential, with genuinely multi-merge rounds") {
    spark.sparkContext.setLogLevel("ERROR")
    // equality must hold on BOTH corpora at any maxBatch — the selection
    // rule only batches when sequential equivalence is provable
    for ((d, n) <- Seq((sennrich, 6), (testdataDocs, 16)); m <- Seq(2, 8)) {
      val seqM = Bpe.train(d, "text", n).orderBy("step")
        .collect().map(_.toSeq).toSeq
      val batM = Bpe.trainBatched(d, "text", n, maxBatch = m).orderBy("step")
        .collect().map(_.toSeq).toSeq
      assert(batM == seqM, s"batched(m=$m) diverged: $batM vs $seqM")
    }
    // non-vacuous: the disjoint-prefix rule actually batches somewhere —
    // count the driver round-trips via an instrumented run (merge steps
    // grouped by identical round = fewer rounds than merges)
    val rounds = Bpe.roundsUsed(testdataDocs, "text", 16, maxBatch = 8)
    assert(rounds < 16, s"batching never fired: $rounds rounds for 16 merges")
  }

  test("256-merge production depth: batched == sequential to vocabulary saturation") {
    spark.sparkContext.setLogLevel("ERROR")
    // q_bpe_train_prod's contract: at a merge budget beyond what the corpus
    // supports, both paths emit the identical merge table and stop at the
    // same saturation point (no pair left to merge) — the exhaustion edge a
    // 16-merge test never reaches.
    val seqM = Bpe.train(testdataDocs, "text", 256).orderBy("step")
      .collect().map(_.toSeq).toSeq
    val batM = Bpe.trainBatched(testdataDocs, "text", 256, maxBatch = 8)
      .orderBy("step").collect().map(_.toSeq).toSeq
    assert(batM == seqM, s"prod-depth divergence at ${
      batM.zip(seqM).indexWhere { case (x, y) => x != y }}")
    assert(seqM.length < 256, "corpus unexpectedly supports 256 merges; " +
      "saturation edge untested")
  }

  test("heavy-tailed Zipf fixture: batched == sequential, batching non-degenerate") {
    spark.sparkContext.setLogLevel("ERROR")
    // VERDICT r10 #2: the template corpus saturates (89 merges) and
    // degrades batching to ~1 merge/round; the production regime the
    // batched scheduler targets is a heavy-tailed vocabulary where pair
    // counts stay spread. On ZipfCorpus the probe measured rounds/merges
    // IMPROVING with depth (0.52 @ 64, 0.38 @ 256, 0.40 @ 512 merges,
    // BASELINE round-11 fourth wave); this pins bit-identity plus a
    // non-degenerate ratio at test-sized depth.
    val d = ZipfCorpus.docs(spark, vocab = 1500, topCount = 400)
      .localCheckpoint()
    val seqM = Bpe.train(d, "text", nMerges = 32).orderBy("step")
      .collect().map(_.toSeq).toSeq
    val batM = Bpe.trainBatched(d, "text", nMerges = 32, maxBatch = 8)
      .orderBy("step").collect().map(_.toSeq).toSeq
    assert(batM == seqM, s"zipf divergence at ${
      batM.zip(seqM).indexWhere { case (x, y) => x != y }}")
    assert(seqM.length == 32)
    val rounds = Bpe.roundsUsed(d, "text", 32, maxBatch = 8)
    assert(rounds <= 24, s"batching degenerated on the Zipf fixture: " +
      s"$rounds rounds for 32 merges")
  }

  test("single-task and shuffled candidate paths yield identical merges") {
    spark.sparkContext.setLogLevel("ERROR")
    // r14 optimization: topPairs takes a single-task exact path when the
    // dictionary sits in one partition (the AQE-coalesced local shape) and
    // the partial-agg shuffle plan otherwise (the 100 TB shape). Pin both
    // paths to the same merge table: AQE off + shuffle.partitions=4 keeps
    // the charDict output at 4 partitions (shuffled path); the default
    // session coalesces it to 1 (single-task path).
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    import s2.implicits._
    val texts = Seq(
      "low low low low low lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest", "aaaa aaa aaaa bb ab ab ba")
    val dMulti = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val multi = Bpe.trainBatched(dMulti, "text", nMerges = 12, maxBatch = 4)
      .orderBy("step").collect().map(_.toSeq).toSeq
    val single = Bpe.trainBatched(docs(texts: _*), "text", nMerges = 12,
        maxBatch = 4)
      .orderBy("step").collect().map(_.toSeq).toSeq
    assert(multi == single, s"path divergence: $multi vs $single")
    assert(single.nonEmpty)
  }

  private def testdataDocs =
    Tables.documents(spark, "/root/testdata/sf0.001").select("doc_id", "text")
}
