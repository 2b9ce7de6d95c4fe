package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{PairStore, TextDedup}

/** Maintained near-dup pair graph: a build + N appends stores exactly the
  * union of per-slice self-join pairs and cross-slice verified pairs —
  * nothing lost, nothing duplicated — so graph consumers can read the
  * stored table instead of recomputing the corpus self-join per session. */
class PairStoreSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def canon(df: DataFrame): Seq[(Long, Long, Double)] = df
    .select(col("id1").cast("long"), col("id2").cast("long"), col("jac"))
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    .sortBy(identity).toSeq

  test("contrastive triples from a floor-threshold store == direct mining") {
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").localCheckpoint()
    val dir = Files.createTempDirectory("graft_pairs_floor").toString
    PairStore.build(docs, "doc_id", "text", dir, minJaccard = 0.25)
    def canonT(df: DataFrame): Seq[String] = df.collect()
      .map(_.toSeq.mkString("|")).sorted.toSeq
    val fromStore =
      canonT(TextDedup.contrastivePairsFrom(PairStore.pairs(spark, dir)))
    val direct = canonT(TextDedup.contrastivePairs(docs, "doc_id", "text"))
    assert(fromStore.nonEmpty && fromStore == direct,
      s"store-served triples diverge: ${fromStore.size} vs ${direct.size}")
  }

  test("append replays the store's recorded floor; contradictions throw") {
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").localCheckpoint()
    val seed = docs.filter(col("doc_id") % 4 =!= 3)
    val batch = docs.filter(col("doc_id") % 4 === 3)
    val dir = Files.createTempDirectory("graft_pairs_params").toString
    PairStore.build(seed, "doc_id", "text", dir, minJaccard = 0.25)
    // DEFAULT-args append on a 0.25-floor store must mine at 0.25 — the
    // documented production shape ("grows via append") with no threshold
    // re-plumbing at every call site
    PairStore.append(batch, "doc_id", "text", dir)
    val stored = canon(PairStore.pairs(spark, dir))
    assert(stored.exists { case (_, _, j) => j < 0.6 },
      "append at the recorded 0.25 floor produced no sub-0.6 edges")
    // the full-band graph a one-shot 0.25 build over the whole corpus
    // yields; the incremental union must cover the same floor everywhere
    val oneShotDir = Files.createTempDirectory("graft_pairs_params1").toString
    PairStore.build(docs, "doc_id", "text", oneShotDir, minJaccard = 0.25)
    val oneShot = canon(PairStore.pairs(spark, oneShotDir))
    val (sFloor, oFloor) = (stored.count(_._3 < 0.6), oneShot.count(_._3 < 0.6))
    assert(sFloor > 0 && oFloor > 0,
      s"vacuous floor-band fixture: incremental=$sFloor one-shot=$oFloor")
    // an explicitly contradictory floor is a caller error, not a silent hole
    val ex = intercept[IllegalArgumentException] {
      PairStore.append(batch, "doc_id", "text", dir, minJaccard = 0.5)
    }
    assert(ex.getMessage.contains("recorded mining floor"))
  }

  test("build + two appends == the recomputed incremental pair union") {
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").localCheckpoint()
    val a = docs.filter(col("doc_id") % 4 <= 1)
    val b1 = docs.filter(col("doc_id") % 4 === 2)
    val b2 = docs.filter(col("doc_id") % 4 === 3)
    val dir = Files.createTempDirectory("graft_pairs").toString

    PairStore.build(a, "doc_id", "text", dir)
    PairStore.append(b1, "doc_id", "text", dir)
    PairStore.append(b2, "doc_id", "text", dir)
    val stored = canon(PairStore.pairs(spark, dir))

    // independent recompute, WITHOUT the store's pruned reads: per-slice
    // self-joins plus cross-side verified pairs against in-session sides
    def cross(existing: DataFrame, batch: DataFrame): DataFrame = {
      val shE = TextDedup.sortedShingleHashes(existing, "doc_id", "text")
      val shI = TextDedup.sortedShingleHashes(batch, "doc_id", "text")
      TextDedup.incrementalVerifiedPairs(
          shE, TextDedup.bandedFromShingles(shE, "doc_id"),
          shI, TextDedup.bandedFromShingles(shI, "doc_id"), "doc_id")
        .select(least(col("new_id"), col("old_id")).as("id1"),
          greatest(col("new_id"), col("old_id")).as("id2"), col("jac"))
    }
    def self(slice: DataFrame): DataFrame =
      TextDedup.nearDuplicatePairs(slice, "doc_id", "text")
    val expected = canon(
      self(a).unionByName(cross(a, b1)).unionByName(self(b1))
        .unionByName(cross(a.unionByName(b1), b2)).unionByName(self(b2)))

    assert(stored.nonEmpty, "fixture produced no pairs")
    assert(stored == expected,
      s"stored ${stored.length} pairs != recomputed ${expected.length}")
    // graph invariants: normalized orientation, no duplicate edges
    assert(stored.forall { case (i, j, _) => i < j })
    assert(stored.map(p => (p._1, p._2)).distinct.length == stored.length,
      "duplicate edges in the stored graph")
  }

  test("stored cluster labels == recomputed CC through build/append/compact") {
    // VERDICT r08 #8: the labels are part of the maintained artifact, so
    // consumers (q_dedup_clusters / q_cluster_sizes / keep-best) read
    // them instead of re-running the CC fixpoint per session. Exercises
    // every delta path: build labels, a MERGE of two stored clusters via
    // an appended bridge doc (the remap path), an old SINGLETON gaining
    // its first edge, and the compact fold (remaps materialized away).
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val aTxt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bTxt = "north south east west upper lower inner outer front back"
    val sTxt = "solitary unique standalone document nothing matches this one"
    val cTxt = "quiet untouched family persists far away from every merge"
    val seed = Seq(
      (10L, aTxt), (11L, aTxt),            // cluster A, label 10
      (20L, bTxt), (21L, bTxt),            // cluster B, label 20
      (30L, sTxt),                          // singleton
      (50L, cTxt), (51L, cTxt)             // cluster C — never touched
    ).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_pairs_labels").toString
    // floor 0.4: the A+B bridge doc sits near jac 0.5 to each family
    PairStore.build(seed, "doc_id", "text", dir, minJaccard = 0.4)
    def labelFiles: Long = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(
        java.nio.file.Paths.get(PairStore.currentGenDir(dir)))
      try s.iterator().asScala.count(p =>
        p.getFileName.toString.endsWith(".parquet") &&
          p.toString.contains("/labels/")).toLong
      finally s.close()
    }

    def labelsNow: Map[Long, Long] = PairStore
      .clusterLabels(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def recomputed: Map[Long, Long] = graft.operators.TextDedup
      .ccLabels(PairStore.pairs(spark, dir).select(col("id1"), col("id2")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(labelsNow == recomputed && labelsNow.nonEmpty)
    assert(labelsNow(11L) == 10L && labelsNow(21L) == 20L)
    assert(!labelsNow.contains(30L), "singleton must have no label row")

    // append: a bridge doc near both families (MERGES clusters 10 and 20
    // -> remap 20 -> 10) plus a near-copy of the old singleton 30. The
    // old-endpoint resolve read must prune to the TOUCHED ids' pfx
    // partitions — cluster C is labeled but untouched, so its files stay
    // unread (flag-gated evidence, the IncrIndexSpec discipline).
    val total = labelFiles
    PairStore.scanDiagnostics = true
    try PairStore.append(Seq(
        (40L, s"$aTxt $bTxt"),
        (41L, sTxt.replaceFirst("^\\S+", "isolated"))
      ).toDF("doc_id", "text"), "doc_id", "text", dir)
    finally PairStore.scanDiagnostics = false
    val scanned = PairStore.lastPrunedLabelFiles.get()
    assert(scanned > 0 && scanned < total,
      s"labels resolve read not pruned: $scanned of $total files")
    val afterMerge = labelsNow
    assert(afterMerge == recomputed,
      s"label delta diverged from recompute: $afterMerge vs $recomputed")
    assert(afterMerge(21L) == 10L && afterMerge(20L) == 10L &&
      afterMerge(40L) == 10L, s"merge not reflected: $afterMerge")
    assert(afterMerge(30L) == 30L && afterMerge(41L) == 30L,
      s"old singleton's first edge mislabeled: $afterMerge")

    // compact folds the remaps into the labels; values unchanged
    val before = labelsNow
    PairStore.compact(spark, dir)
    assert(labelsNow == before && labelsNow == recomputed)
  }

  test("compact: consolidates pair files, graph bit-identical, serve-through") {
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").localCheckpoint()
    val dir = Files.createTempDirectory("graft_pairs_cpt").toString
    PairStore.build(docs.filter(col("doc_id") % 4 <= 1), "doc_id", "text", dir)
    PairStore.append(docs.filter(col("doc_id") % 4 === 2), "doc_id", "text", dir)
    PairStore.append(docs.filter(col("doc_id") % 4 === 3), "doc_id", "text", dir)
    def pairFiles: Int = {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(
        java.nio.file.Paths.get(PairStore.currentGenDir(dir)))
      try s.iterator().asScala.count(p =>
        p.getFileName.toString.endsWith(".parquet") &&
          p.toString.contains("/pairs/"))
      finally s.close()
    }
    val before = canon(PairStore.pairs(spark, dir))
    val filesBefore = pairFiles
    val g0 = PairStore.currentGenDir(dir)

    PairStore.compact(spark, dir, pairFiles = 2)

    assert(PairStore.exists(dir), "compaction must keep the store readable")
    assert(PairStore.currentGenDir(dir) != g0,
      "compaction must advance the live generation")
    assert(pairFiles == 2 && pairFiles < filesBefore,
      s"pairs files $filesBefore -> $pairFiles: no consolidation")
    assert(Files.exists(java.nio.file.Paths.get(g0)),
      "compaction must retain the previous generation for in-flight readers")
    assert(canon(PairStore.pairs(spark, dir)) == before,
      "compaction changed the stored graph")
    // appends keep working against the compacted store and land in the
    // live generation; a second compaction prunes the oldest one
    PairStore.compact(spark, dir, pairFiles = 2)
    assert(!Files.exists(java.nio.file.Paths.get(g0)),
      "second compaction must prune the two-generations-old directory")
    assert(canon(PairStore.pairs(spark, dir)) == before)
  }

  test("completion marker: a store is absent until build lands, present after") {
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val dir = Files.createTempDirectory("graft_pairs_meta").toString
    assert(!PairStore.exists(dir))
    intercept[IllegalArgumentException] {
      PairStore.append(docs.limit(5), "doc_id", "text", dir)
    }
    PairStore.build(docs.filter(col("doc_id") % 4 <= 1), "doc_id", "text", dir)
    assert(PairStore.exists(dir))
  }
}
