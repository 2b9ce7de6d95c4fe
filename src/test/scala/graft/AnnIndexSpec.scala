package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AnnIndexStore, Clustering}

/** Persistent IVF-PQ index store: build/serve parity with the inline
  * trainer, and the incremental append contract (code with stored
  * codebooks, never retrain). */
class AnnIndexSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def df(rows: Seq[(Long, Seq[Float])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  // 40 vectors in dim 8: two loose blobs plus per-id jitter, enough that
  // cells and codes are non-trivial
  private def corpusRows: Seq[(Long, Seq[Float])] =
    (0L until 40L).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i, (0 until 8).map(d =>
        base * (1.0f + d * 0.1f) + (i % 7) * 0.03f + d * (i % 3) * 0.01f))
    }

  test("stored-index serving is bit-identical to the inline IVF-PQ (refined and ADC)") {
    spark.sparkContext.setLogLevel("ERROR")
    val corpus = df(corpusRows)
    val queries = corpus.filter(col("vec_id") < 5)
    val dir = Files.createTempDirectory("annidx").toString
    AnnIndexStore.build(corpus, "vec_id", "embedding", dir, dim = 8,
      nCells = 4, m = 4, k = 8)
    assert(AnnIndexStore.exists(dir))

    val stored = AnnIndexStore.query(queries, "vec_id", "embedding", dir,
      kNN = 3, nProbe = 2, refine = 10).orderBy("qid", "rank").collect()
    val inline = Clustering.annTopKIvfPq(corpus, queries, "vec_id",
      "embedding", dim = 8, kNN = 3, nCells = 4, nProbe = 2, m = 4, k = 8,
      refine = 10).orderBy("qid", "rank").collect()
    assert(stored.map(_.toSeq).toSeq == inline.map(_.toSeq).toSeq,
      "stored refined serving diverged from inline training")

    val storedAdc = AnnIndexStore.query(queries, "vec_id", "embedding", dir,
      kNN = 3, nProbe = 2).orderBy("qid", "rank").collect()
    val inlineAdc = Clustering.annTopKIvfPq(corpus, queries, "vec_id",
      "embedding", dim = 8, kNN = 3, nCells = 4, nProbe = 2, m = 4, k = 8)
      .orderBy("qid", "rank").collect()
    assert(storedAdc.map(_.toSeq).toSeq == inlineAdc.map(_.toSeq).toSeq,
      "stored ADC serving diverged from inline training")
  }

  test("append codes new vectors with stored codebooks; a duplicate surfaces at rank 1, dist 0") {
    val base = df(corpusRows)
    val dir = Files.createTempDirectory("annidx").toString
    AnnIndexStore.build(base, "vec_id", "embedding", dir, dim = 8,
      nCells = 4, m = 4, k = 8)
    // appended batch: new ids 100.. including an exact duplicate of vec 3
    val dupOf3 = corpusRows.find(_._1 == 3L).get._2
    val batch = df(Seq((100L, dupOf3), (101L, dupOf3.map(_ + 0.5f))))
    AnnIndexStore.append(batch, "vec_id", "embedding", dir)

    val g = AnnIndexStore.currentGenDir(dir)
    // one subdir per segment (base + the append); partitioned tables
    // cannot be glob-read across segment roots — union per segment
    import scala.jdk.CollectionConverters._
    def readAll(t: String) = {
      val s = Files.list(java.nio.file.Paths.get(g))
      try s.iterator().asScala.toSeq
        .map(p => spark.read.parquet(s"$p/$t")).reduce(_ unionByName _)
      finally s.close()
    }
    val vecs = readAll("vectors")
    assert(vecs.count() == 42 && vecs.select("id").distinct().count() == 42)
    assert(readAll("codes").count() == 42 * 4)

    // the appended segment's codes are exactly the STORED codebooks'
    // coding of the batch: quantize (floor(v * 1000)), then per subspace
    // the nearest stored centroid by squared L2, ties to the lowest index
    val cents = spark.read.parquet(s"$g/base/pqcents").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toArray))
    val subDim = 8 / 4
    val want = batch.collect().flatMap { r =>
      val q = r.getSeq[Float](1).map(v => math.floor(v.toDouble * 1000).toLong)
      (0 until 4).map { s =>
        val sub = q.slice(s * subDim, (s + 1) * subDim)
        val code = cents.filter(_._1 == s)
          .map { case (_, j, c) =>
            (sub.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, j) }
          .min._2
        (s, r.getLong(0), code)
      }
    }.toSet
    val appendedSeg = {
      val s = Files.list(java.nio.file.Paths.get(g))
      try s.iterator().asScala.filter(_.getFileName.toString != "base").toSeq
      finally s.close()
    }
    assert(appendedSeg.size == 1)
    val got = spark.read.parquet(s"${appendedSeg.head}/codes")
      .select("sub", "id", "code").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got.size == 2 * 4 && got.toSet == want,
      s"appended codes ${got.sorted} != stored-codebook coding ${want.toSeq.sorted}")

    // query vec 3: its appended exact duplicate lands in the same coarse
    // cell (identical vector => identical probe), so refine must return it
    // first with exact distance 0
    val top = AnnIndexStore.query(base.filter(col("vec_id") === 3),
        "vec_id", "embedding", dir, kNN = 3, nProbe = 2, refine = 10)
      .orderBy("rank").collect()
    assert(top.head.getLong(2) == 100L && top.head.getLong(3) == 0L,
      s"appended duplicate not rank-1/dist-0: ${top.mkString(", ")}")
  }

  test("compact consolidates appended small files; served answers bit-identical") {
    import scala.jdk.CollectionConverters._
    val base = df(corpusRows)
    val dir = Files.createTempDirectory("annidx_cpt").toString
    AnnIndexStore.build(base, "vec_id", "embedding", dir, dim = 8,
      nCells = 4, m = 4, k = 8)
    // three appends -> three generations of task files per appendable table
    (0 until 3).foreach { g =>
      AnnIndexStore.append(
        df(corpusRows.take(3).map { case (id, v) =>
          (1000L + 10 * g + id, v.map(_ + 0.01f * (g + 1))) }),
        "vec_id", "embedding", dir)
    }
    def files(t: String): Int = {
      val s = Files.walk(
        java.nio.file.Paths.get(AnnIndexStore.currentGenDir(dir)))
      try s.iterator().asScala.count(p =>
        p.getFileName.toString.endsWith(".parquet") &&
          p.toString.contains(s"/$t/"))
      finally s.close()
    }
    val queries = base.filter(col("vec_id") < 5)
    val before = AnnIndexStore.query(queries, "vec_id", "embedding", dir,
      kNN = 3, nProbe = 2, refine = 10).orderBy("qid", "rank")
      .collect().map(_.toSeq).toSeq
    val (cB, dB, vB) = (files("cells"), files("codes"), files("vectors"))
    val g0 = AnnIndexStore.currentGenDir(dir)

    AnnIndexStore.compact(spark, dir)

    assert(AnnIndexStore.exists(dir), "compaction must keep the store readable")
    assert(AnnIndexStore.currentGenDir(dir) != g0,
      "compaction must advance the live generation")
    // one file per present partition value (cell / id-pfx) per table
    def partVals(t: String, c: String): Long =
      spark.read.parquet(s"${AnnIndexStore.currentGenDir(dir)}/base/$t")
        .select(c).distinct().count()
    assert(files("cells") == partVals("cells", "cell") &&
      files("codes") == partVals("codes", "pfx") &&
      files("vectors") == partVals("vectors", "pfx"),
      s"expected one file per partition value, got " +
        s"${files("cells")}/${files("codes")}/${files("vectors")}")
    assert(files("cells") < cB && files("codes") < dB && files("vectors") < vB,
      s"no consolidation: $cB/$dB/$vB before")
    // serve-through-compact: the replaced generation is retained for
    // in-flight readers and pruned only by the NEXT compaction
    assert(Files.exists(java.nio.file.Paths.get(g0)),
      "compaction must retain the previous generation")
    val after = AnnIndexStore.query(queries, "vec_id", "embedding", dir,
      kNN = 3, nProbe = 2, refine = 10).orderBy("qid", "rank")
      .collect().map(_.toSeq).toSeq
    assert(after == before, "compaction changed served answers")
    AnnIndexStore.compact(spark, dir)
    assert(!Files.exists(java.nio.file.Paths.get(g0)),
      "second compaction must prune the two-generations-old directory")
    val after2 = AnnIndexStore.query(queries, "vec_id", "embedding", dir,
      kNN = 3, nProbe = 2, refine = 10).orderBy("qid", "rank")
      .collect().map(_.toSeq).toSeq
    assert(after2 == before, "second compaction changed served answers")
  }

  test("serving scans track probed cells and candidate pfx, not the corpus") {
    spark.sparkContext.setLogLevel("ERROR")
    import scala.jdk.CollectionConverters._
    val base = df(corpusRows)
    val dir = Files.createTempDirectory("annidx_prune").toString
    AnnIndexStore.build(base, "vec_id", "embedding", dir, dim = 8,
      nCells = 4, m = 4, k = 8)
    def files(t: String): Long = {
      val s = Files.walk(
        java.nio.file.Paths.get(AnnIndexStore.currentGenDir(dir)))
      try s.iterator().asScala.count(p =>
        p.getFileName.toString.endsWith(".parquet") &&
          p.toString.contains(s"/$t/")).toLong
      finally s.close()
    }
    // one query, one probed cell: the stored reads must touch only that
    // cell's files and only the candidate ids' pfx partitions — file
    // counts deterministic (fixed hash, fixed corpus), so strict
    // inequality against the table totals is a stable assertion
    AnnIndexStore.scanDiagnostics = true // flag-gated: production never pays it
    try AnnIndexStore.query(base.filter(col("vec_id") === 0), "vec_id",
        "embedding", dir, kNN = 3, nProbe = 1, refine = 10)
      .collect()
    finally AnnIndexStore.scanDiagnostics = false
    val (cellsScanned, codesScanned) =
      (AnnIndexStore.lastPrunedCellFiles.get(),
        AnnIndexStore.lastPrunedPfxFiles.get())
    assert(cellsScanned > 0 && cellsScanned < files("cells"),
      s"cells scan not pruned: $cellsScanned of ${files("cells")} files")
    assert(codesScanned > 0 && codesScanned < files("codes"),
      s"codes scan not pruned: $codesScanned of ${files("codes")} files")
  }

  test("stored hard negatives == brute band-filtered scan at full probe/refine") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val base = df(corpusRows)
    val dir = Files.createTempDirectory("annidx_hn").toString
    AnnIndexStore.build(base, "vec_id", "embedding", dir, dim = 8,
      nCells = 4, m = 4, k = 8)
    val queries = base.filter(col("vec_id") < 5)
    // brute ground truth: exact quantized-L2 over the full corpus, band
    // filter dist > floor, nearest 3 survivors per anchor
    val q = base.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).map(v => math.floor(v.toDouble * 1000).toLong)))
    val negFloor = 2000000L
    val brute = (for {
      (qid, qv) <- q.filter(_._1 < 5)
      (nid, nv) <- q if nid != qid
      dist = qv.zip(nv).map { case (a, b) => (a - b) * (a - b) }.sum
      if dist > negFloor
    } yield (qid, nid, dist))
      .groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
        rows.sortBy(r => (r._3, r._2)).take(3).zipWithIndex
          .map { case ((_, nid, d), i) => (qid, i + 1, nid, d) }
      }.sortBy(r => (r._1, r._2))
    // nProbe = nCells and refine >= corpus: the served path degenerates to
    // the exact scan, so the band select must match the brute answer
    val served = AnnIndexStore.hardNegatives(queries, "vec_id", "embedding",
        dir, k = 3, negFloor = negFloor, nProbe = 4, refine = 100)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(brute.nonEmpty && served == brute,
      s"stored hard negatives diverged: served=${served.take(5)} " +
        s"brute=${brute.take(5)}")
    // and no near-duplicate (dist <= floor) ever surfaces as a negative
    assert(served.forall(_._4 > negFloor))
  }

  test("knnClassify: blob labels recovered; vote == brute top-k majority") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val base = df(corpusRows)
    val dir = Files.createTempDirectory("annidx_knn").toString
    AnnIndexStore.build(base, "vec_id", "embedding", dir, dim = 8,
      nCells = 4, m = 4, k = 8)
    // labels follow the two blobs exactly, with id 13 mislabeled to make
    // at least one vote non-unanimous
    val labels = (0L until 40L)
      .map(i => (i, if (i == 13L) 7 else if (i % 2 == 0) 1 else 2))
    val served = AnnIndexStore.knnClassify(base.filter(col("vec_id") < 6),
        "vec_id", "embedding", dir, labels.toDF("vec_id", "label"),
        "vec_id", "label", k = 5, nProbe = 4, refine = 100)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    // brute ground truth at full probe/refine: exact quantized-L2 top-5
    // (dist, id) order, then majority vote with (votes desc, label asc)
    val q = corpusRows.map { case (id, v) =>
      (id, v.map(x => math.floor(x.toDouble * 1000).toLong)) }
    val lab = labels.toMap
    val brute = q.filter(_._1 < 6).map { case (qid, qv) =>
      val top = q.filter(_._1 != qid).map { case (nid, nv) =>
          (qv.zip(nv).map { case (a, b) => (a - b) * (a - b) }.sum, nid) }
        .sortBy(identity).take(5)
      val vote = top.groupBy(t => lab(t._2)).view
        .mapValues(_.size.toLong).toSeq
        .sortBy { case (l, n) => (-n, l) }.head
      qid -> vote
    }.toMap
    assert(served == brute, s"served=$served brute=$brute")
    // blob membership recovered for every query (the mislabeled neighbor
    // never outvotes the blob), and the mislabel is visible as a
    // non-unanimous count somewhere
    assert((0L until 6L).forall(i =>
      served(i)._1 == (if (i % 2 == 0) 1 else 2)))
    assert(served.values.exists(_._2 < 5L),
      s"expected at least one non-unanimous vote: $served")
  }

  test("stored marginMine at full probe/refine == brute quantized-cosine margins") {
    spark.sparkContext.setLogLevel("ERROR")
    val base = df(corpusRows)
    val dir = Files.createTempDirectory("annidx_mm").toString
    AnnIndexStore.build(base, "vec_id", "embedding", dir, dim = 8,
      nCells = 4, m = 4, k = 8)
    val k = 3
    // ground truth in plain Scala over the same quantized vectors: the
    // full-probe/full-pool stored path must degenerate to exactly this
    val q = corpusRows.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1000).toLong).toArray
    }.toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dp = a.zip(b).map { case (x, y) => x * y }.sum
      dp.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    def fl6(x: Double) = math.floor(x * 1000000) / 1000000.0
    val srcIds = (0L until 5L).toSeq
    def topK(qid: Long, pool: Seq[Long]) =
      pool.filter(_ != qid).map(n => (n, cos(q(qid), q(n))))
        .sortBy { case (n, s) => (-s, n) }.take(k)
        .map { case (n, s) => (n, fl6(s)) }
    val fwd = srcIds.map(s => s -> topK(s, q.keys.toSeq)).toMap
    val expected = srcIds.flatMap { s =>
      val (best, bestSim) = fwd(s).head
      val fAvg = fwd(s).map(_._2).sum / k  // k=3 small: assoc order checked below
      val bAvg = topK(best, srcIds).map(_._2).sum / k
      val margin = bestSim * 2.0 / (fAvg + bAvg)
      Some((s, best, bestSim, math.floor(margin * 10000) / 10000.0))
    }.sortBy(_._1)
    val got = AnnIndexStore.marginMine(base.filter(col("vec_id") < 5),
        "vec_id", "embedding", dir, k = k, nProbe = 4, refine = 100,
        minMargin = 0.0)
      .orderBy("src_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    assert(got == expected,
      s"stored margins diverged from brute:\n got=$got\n exp=$expected")
  }

  test("serve-through-compact: queries racing compact() never error") {
    spark.sparkContext.setLogLevel("ERROR")
    val base = df(corpusRows)
    val dir = Files.createTempDirectory("annidx_race").toString
    AnnIndexStore.build(base, "vec_id", "embedding", dir, dim = 8,
      nCells = 4, m = 4, k = 8)
    val queries = base.filter(col("vec_id") < 5).localCheckpoint()
    val expect = AnnIndexStore.query(queries, "vec_id", "embedding", dir,
      kNN = 3, nProbe = 2, refine = 10).orderBy("qid", "rank")
      .collect().map(_.toSeq).toSeq

    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          val got = AnnIndexStore.query(queries, "vec_id", "embedding", dir,
            kNN = 3, nProbe = 2, refine = 10).orderBy("qid", "rank")
            .collect().map(_.toSeq).toSeq
          if (got != expect)
            throw new AssertionError("racing query returned different answers")
        }
      } catch { case t: Throwable => err.set(t) }
    })
    reader.start()
    try AnnIndexStore.compact(spark, dir)
    finally { stop.set(true); reader.join(120000) }
    assert(err.get() == null,
      s"concurrent query failed during compact: ${err.get()}")
  }
}
