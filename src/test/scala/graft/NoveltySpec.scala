package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.NoveltyIndex

/** NoveltyIndex: build/append/compact lifecycle and the per-doc novelty
  * arithmetic, on hand-built fixtures. */
class NoveltySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("novelty_spec_").toString

  test("stored-gram scan is pruned to the probe's gram-pfx partitions") {
    spark.sparkContext.setLogLevel("ERROR")
    import scala.jdk.CollectionConverters._
    val dir = tmp()
    // a corpus wide enough that its grams populate many pfx partitions
    NoveltyIndex.build(
      Tables.documents(spark, "/root/testdata/sf0.001").limit(200),
      "doc_id", "text", dir, n = 3)
    def gramFiles: Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(
        graft.operators.GenStore.readOrFail(dir, "NoveltyIndex").genDir(dir)))
      try s.iterator().asScala.count(p =>
        p.getFileName.toString.endsWith(".parquet")).toLong
      finally s.close()
    }
    // a one-doc probe with 2 grams touches at most 2 pfx partitions —
    // deterministic (fixed hash, fixed corpus), so strict inequality
    // against the table total is stable
    import spark.implicits._
    NoveltyIndex.scanDiagnostics = true // flag-gated: production never pays it
    try NoveltyIndex.noveltyBatch(
        Seq((1L, "one tiny probe doc")).toDF("doc_id", "text"),
        "doc_id", "text", dir)
      .collect()
    finally NoveltyIndex.scanDiagnostics = false
    val scanned = NoveltyIndex.lastPrunedGramFiles.get()
    assert(scanned > 0 && scanned < gramFiles,
      s"gram scan not pruned: $scanned of $gramFiles files")
  }

  test("noveltyBatch: verbatim 0, fresh 10000, half-known split, short doc") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = tmp()
    // stored corpus: one doc of 6 tokens -> 4 distinct 3-grams
    NoveltyIndex.build(Seq((1L, "a b c d e f")).toDF("doc_id", "text"),
      "doc_id", "text", dir, n = 3)
    val batch = Seq(
      (10L, "a b c d e f"),   // verbatim: all 4 grams known -> 0
      (11L, "x y z w"),       // fresh: 2 grams, none known -> 10000
      (12L, "a b c q r s"),   // grams: abc known; bcq,cqr,qrs fresh -> 7500
      (13L, "hi there"))      // too short for a 3-gram -> 0 grams, 10000
      .toDF("doc_id", "text")
    val out = NoveltyIndex.noveltyBatch(batch, "doc_id", "text", dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_known"),
          r.getAs[Long]("novelty_bp")))).toMap
    assert(out(10L) == ((4L, 4L, 0L)))
    assert(out(11L) == ((2L, 0L, 10000L)))
    assert(out(12L) == ((4L, 1L, 7500L)))
    assert(out(13L) == ((0L, 0L, 10000L)))
  }

  test("append extends membership; batchId retry is a no-op; compact folds duplicates") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = tmp()
    NoveltyIndex.build(Seq((1L, "a b c d")).toDF("doc_id", "text"),
      "doc_id", "text", dir, n = 3)
    val probe = Seq((50L, "p q r s")).toDF("doc_id", "text")
    def novelty(): Long = NoveltyIndex
      .noveltyBatch(probe, "doc_id", "text", dir)
      .collect()(0).getAs[Long]("novelty_bp")
    assert(novelty() == 10000L)
    // appending the probe's text (under different ids, and overlapping
    // the stored corpus so segments carry duplicate grams) makes it known
    val add = Seq((2L, "p q r s"), (3L, "a b c d")).toDF("doc_id", "text")
    NoveltyIndex.append(add, "doc_id", "text", dir, batchId = Some(7L))
    assert(novelty() == 0L)
    // idempotent: re-applying the same batchId changes nothing
    NoveltyIndex.append(add, "doc_id", "text", dir, batchId = Some(7L))
    assert(novelty() == 0L)
    val preCompact = NoveltyIndex.storedGrams(spark, dir).count()
    val distinct = NoveltyIndex.storedGrams(spark, dir).distinct().count()
    assert(preCompact > distinct, "fixture should carry duplicate grams")
    NoveltyIndex.compact(spark, dir)
    assert(NoveltyIndex.storedGrams(spark, dir).count() == distinct)
    assert(novelty() == 0L, "results unchanged across compaction")
  }
}
