package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Clustering

class ClusteringSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def df(rows: Seq[(Long, Seq[Float])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("kmeans separates two obvious blobs and is deterministic") {
    spark.sparkContext.setLogLevel("ERROR")
    // ids 0..4 near (1, 0); ids 5..9 near (0, 1) — init takes ids 0 and 1,
    // both in blob A, but one Lloyd's update pulls a centroid into blob B
    val rows = (0L to 4L).map(i => (i, Seq(1.0f + i * 0.01f, 0.0f))) ++
      (5L to 9L).map(i => (i, Seq(0.0f, 1.0f + i * 0.01f)))
    val out = Clustering.kmeansAssign(df(rows), "vec_id", "embedding",
        k = 2, iters = 3)
      .orderBy("id").collect()
    val byCluster = out.groupBy(_.getInt(1)).view.mapValues(_.map(_.getLong(0)).toSet)
    assert(byCluster.values.toSet == Set((0L to 4L).toSet, (5L to 9L).toSet),
      s"blobs not separated: ${out.mkString(", ")}")

    val again = Clustering.kmeansAssign(df(rows), "vec_id", "embedding",
        k = 2, iters = 3)
      .orderBy("id").collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq,
      "kmeans not deterministic across runs")
  }

  test("nearestCentroidClassify: 100% on separable blobs, join-free scoring, chance audit works") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // 3 labeled blobs, 20 train + 5 test points each; test points sit
    // inside their blob so the prototype classifier must be perfect
    def blob(l: Int, base: Seq[Float], n: Int, off: Int) =
      (0 until n).map(i =>
        (l * 100L + off + i, base.map(_ + i * 0.001f), l))
    val tr = (blob(0, Seq(1f, 0f, 0f), 20, 0) ++
      blob(1, Seq(0f, 1f, 0f), 20, 0) ++
      blob(2, Seq(0f, 0f, 1f), 20, 0)).toDF("vec_id", "embedding", "label")
    val te = (blob(0, Seq(1.005f, 0f, 0f), 5, 50) ++
      blob(1, Seq(0f, 1.005f, 0f), 5, 50) ++
      blob(2, Seq(0f, 0f, 1.005f), 5, 50)).toDF("vec_id", "embedding", "label")
    val out = Clustering.nearestCentroidClassify(tr, te,
      "vec_id", "embedding", "label")
    val got = out.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    te.collect().foreach { r =>
      assert(got(r.getLong(0)) == r.getInt(2),
        s"vec ${r.getLong(0)} predicted ${got(r.getLong(0))}, want ${r.getInt(2)}")
    }
    // prototypes ride as literals: the scoring side joins/shuffles nothing
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("SortMergeJoin"),
      s"inference must be join-free:\n$plan")
  }

  test("equidistant points break ties to the lowest cluster index") {
    // iters = 1: assignment against the init centroids (ids 0 and 1) only.
    // id 2 sits exactly halfway between them in quantized space.
    val rows = Seq(
      (0L, Seq(0.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.5f, 0.0f)))
    val out = Clustering.kmeansAssign(df(rows), "vec_id", "embedding",
        k = 2, iters = 1)
      .orderBy("id").collect()
    assert(out(2).getInt(1) == 0, s"tie should go to cluster 0: ${out(2)}")
    // and the reported dist is the exact quantized integer: 500^2
    assert(out(2).getLong(2) == 250000L)
  }

  test("every point gets exactly one cluster; summary sizes add up") {
    val rows = (0L until 40L).map(i =>
      (i, Seq((i % 7).toFloat * 0.1f, (i % 11).toFloat * 0.1f)))
    val assigned = Clustering.kmeansAssign(df(rows), "vec_id", "embedding",
      k = 4, iters = 3)
    assert(assigned.count() == 40L)
    assert(assigned.select("id").distinct().count() == 40L)
    val sum = Clustering.kmeansSummary(assigned).collect()
    assert(sum.map(_.getLong(1)).sum == 40L)
    assert(sum.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 4))
  }

  test("trainSubspaces: fused one-scan-per-round training is bit-identical " +
      "to sequential per-slice train (r15 optimization invariant)") {
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._
    // 6-dim vectors, 3 subspaces of 2; skewed values so clusters move over
    // rounds, k=3 over few distinct points so some clusters can drop out
    val rows = (0L until 40L).map(i =>
      (i, Seq((i % 5).toFloat, (i % 3).toFloat * 2f, (i % 7).toFloat,
        (i % 2).toFloat * 3f, (i % 11).toFloat, (i % 4).toFloat)))
    val base = df(rows)
    val qfull = Clustering.quantized(base, "vec_id", "embedding", 1000)
    val fused = Clustering.trainSubspaces(qfull, Seq(0, 2, 4), subDim = 2,
      k = 3, iters = 3)
    for (s <- 0 until 3) {
      val sliced = Clustering.quantized(
        base.select(col("vec_id"), slice(col("embedding"), s * 2 + 1, 2).as("v")),
        "vec_id", "v", 1000)
      val seq = Clustering.train(sliced, k = 3, iters = 3)
      assert(fused(s).map { case (j, c) => (j, c.toSeq) } ==
        seq.map { case (j, c) => (j, c.toSeq) },
        s"subspace $s centroids diverge: fused=${fused(s).map(_._2.toSeq)} " +
          s"sequential=${seq.map(_._2.toSeq)}")
    }
  }

  test("pqCodes: per-subspace codes match independent kmeans runs; qerr adds up") {
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._
    val rows = (0L until 30L).map(i =>
      (i, Seq((i % 5).toFloat, (i % 3).toFloat, (i % 7).toFloat, (i % 2).toFloat)))
    val df = this.df(rows)
    val pq = Clustering.pqCodes(df, "vec_id", "embedding", dim = 4, m = 2,
        k = 2, iters = 2)
      .orderBy("id").collect()
    assert(pq.length == 30)
    assert(pq.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 2 &&
      r.getInt(2) >= 0 && r.getInt(2) < 2))

    // definitional: subspace s codes/dists == kmeansAssign over that slice
    for (s <- 0 until 2) {
      val sub = df.select(col("vec_id"),
        slice(col("embedding"), s * 2 + 1, 2).as("sub"))
      val ind = Clustering.kmeansAssign(sub, "vec_id", "sub", k = 2, iters = 2)
        .orderBy("id").collect()
      for (i <- 0 until 30) {
        assert(pq(i).getInt(1 + s) == ind(i).getInt(1),
          s"subspace $s code mismatch at row $i")
      }
      // qerr = d0 + d1
      if (s == 0) {
        val other = Clustering.kmeansAssign(
            df.select(col("vec_id"), slice(col("embedding"), 3, 2).as("sub")),
            "vec_id", "sub", k = 2, iters = 2)
          .orderBy("id").collect()
        for (i <- 0 until 30)
          assert(pq(i).getLong(3) == ind(i).getLong(2) + other(i).getLong(2))
      }
    }
  }

  test("annTopKPq: identical vectors rank first with zero distance; shape holds") {
    spark.sparkContext.setLogLevel("ERROR")
    // corpus of 3 well-separated blobs; query 100 duplicates vector 0
    val base = Seq(
      0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(1.01f, 0f, 0f, 0f),
      2L -> Seq(0f, 1f, 0f, 0f), 3L -> Seq(0f, 1.01f, 0f, 0f),
      4L -> Seq(0f, 0f, 1f, 0f), 5L -> Seq(0f, 0f, 1.01f, 0f),
      100L -> Seq(1f, 0f, 0f, 0f))
    val corpus = df(base.map { case (i, v) => (i, v) })
    val queries = df(Seq((100L, Seq(1f, 0f, 0f, 0f))))
    val out = Clustering.annTopKPq(corpus, queries, "vec_id", "embedding",
        dim = 4, kNN = 3, m = 2, k = 4, iters = 2)
      .orderBy("rank").collect()
    assert(out.length == 3)
    assert(out.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
    assert(out.forall(_.getLong(0) == 100L))
    assert(out.forall(_.getLong(2) != 100L)) // self excluded
    // ADC scores query-to-CENTROID, so the exact duplicate (vector 0) ties
    // its blob-mate (vector 1, same codes) and wins rank 1 on the id
    // tie-break; the other blobs' centroids are strictly farther
    assert(out(0).getLong(2) == 0L,
      s"exact duplicate should rank first: ${out.mkString(", ")}")
    assert(out(1).getLong(2) == 1L && out(1).getLong(3) == out(0).getLong(3),
      "same-blob vector shares the codes, so it must tie the duplicate")
    assert(out(2).getLong(3) > out(0).getLong(3),
      "a different blob's centroid must be strictly farther")
    // deterministic across runs
    val again = Clustering.annTopKPq(corpus, queries, "vec_id", "embedding",
        dim = 4, kNN = 3, m = 2, k = 4, iters = 2)
      .orderBy("rank").collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("annTopKIvfPq: probing all cells degenerates to the full PQ ranking") {
    spark.sparkContext.setLogLevel("ERROR")
    val rows = (0L until 40L).map(i =>
      (i, Seq((i % 5).toFloat, (i % 3).toFloat, (i % 7).toFloat, (i % 2).toFloat)))
    val corpus = df(rows)
    val queries = df(rows.take(4))
    val full = Clustering.annTopKPq(corpus, queries, "vec_id", "embedding",
        dim = 4, kNN = 3, m = 2, k = 4, iters = 2)
      .orderBy("qid", "rank").collect()
    val ivfpq = Clustering.annTopKIvfPq(corpus, queries, "vec_id", "embedding",
        dim = 4, kNN = 3, nCells = 4, cIters = 2, nProbe = 4, m = 2, k = 4,
        iters = 2)
      .orderBy("qid", "rank").collect()
    assert(ivfpq.map(_.toSeq).toSeq == full.map(_.toSeq).toSeq,
      "nProbe = nCells must reproduce the unfiltered PQ ranking exactly")
  }

  test("annTopKIvfPq: restricted probes return a subset of the probed cells") {
    val rows = (0L until 40L).map(i =>
      (i, Seq((i % 5).toFloat, (i % 3).toFloat, (i % 7).toFloat, (i % 2).toFloat)))
    val corpus = df(rows)
    val queries = df(rows.take(3))
    val out = Clustering.annTopKIvfPq(corpus, queries, "vec_id", "embedding",
        dim = 4, kNN = 3, nCells = 4, cIters = 2, nProbe = 1, m = 2, k = 4,
        iters = 2)
      .orderBy("qid", "rank").collect()
    // every query still fills k slots (its own cell holds >= kNN members
    // on this fixture), ranks are dense from 1, self excluded
    assert(out.groupBy(_.getLong(0)).forall { case (_, rs) =>
      rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length) && rs.length <= 3
    })
    assert(out.forall(r => r.getLong(2) != r.getLong(0)))
    // neighbors must come from the query's probed cell
    val cells = Clustering.kmeansAssign(corpus, "vec_id", "embedding",
        k = 4, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (r <- out)
      assert(cells(r.getLong(2)) == cells(r.getLong(0)),
        s"nProbe=1 neighbor outside the query's own cell: $r")
  }

  test("refined IVF-PQ recall@3 >= 0.7 on the sf0.01 audit corpus; refine beats ADC-only") {
    spark.sparkContext.setLogLevel("ERROR")
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val q = e.filter(col("vec_id") < 10)
    // exact integer-L2 brute force (the metric PQ approximates), driver-side
    val rows = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(v => math.floor(v * 1000).toLong).toArray))
    val exact = rows.filter(_._1 < 10).flatMap { case (qid, qv) =>
      rows.filter(_._1 != qid)
        .map { case (nid, nv) =>
          (nid, qv.zip(nv).map { case (a, b) => (a - b) * (a - b) }.sum) }
        .sortBy { case (nid, d) => (d, nid) }.take(3)
        .map { case (nid, _) => (qid, nid) }
    }.toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val refined = recall(Clustering.annTopKIvfPq(e, q, "vec_id", "embedding",
      dim = 64, refine = 30))
    assert(refined >= 0.7,
      f"refined IVF-PQ recall@3 $refined%.3f below 0.7 — serving path unfit")
    val adcOnly = recall(Clustering.annTopKIvfPq(e, q, "vec_id", "embedding",
      dim = 64))
    assert(refined > adcOnly,
      f"refine ($refined%.3f) must beat ADC-only ranking ($adcOnly%.3f)")
  }

  test("assignment plan is scan + projection — no join, no cartesian") {
    val rows = (0L until 20L).map(i => (i, Seq(i.toFloat, (i * 3 % 5).toFloat)))
    val assigned = Clustering.kmeansAssign(df(rows), "vec_id", "embedding",
      k = 3, iters = 2)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"centroids must ride as literals, not a joined side:\n$plan")
  }

  test("no active or default session: centroid assignment returns the same rows") {
    // the vector expressions are built directly, not looked up by name in
    // a session's function registry, so a session-less caller needs none
    val rows = (0L until 4L).map(i => (i, Seq(i.toFloat, 1.0f)))
    val input = df(rows)
    def assign() = Clustering.kmeansAssign(input, "vec_id", "embedding",
        k = 2, iters = 1).orderBy("id").collect().map(_.toSeq).toSeq
    val expected = assign()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try assert(assign() == expected)
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
