package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DedupIndex, GenStore, TextDedup}

/** Persistent incremental-dedup index: stored-index matches equal the
  * recompute path exactly, appends extend the corpus without re-reading
  * it, and per-batch cost does not track corpus size. */
class IncrIndexSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def canon(df: DataFrame) = df
    .collect()
    .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
      r.getDouble(2), r.getBoolean(3)))
    .sortBy(_._1)

  test("matchBatch against a stored index == incrementalDedup recompute") {
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val dir = Files.createTempDirectory("graft_didx").toString

    DedupIndex.build(existing, "doc_id", "text", dir)
    val fromIndex = canon(DedupIndex.matchBatch(batch, "doc_id", "text", dir))
    val recomputed = canon(
      TextDedup.incrementalDedup(existing, batch, "doc_id", "text"))
    assert(fromIndex.length == recomputed.length &&
      fromIndex.sameElements(recomputed))
    assert(fromIndex.exists(_._4), "fixture should contain at least one dup")
  }

  test("append extends the index; matches equal a full rebuild's") {
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val corpus1 = docs.filter(col("doc_id") % 5 === 1)
    val corpus2 = docs.filter(col("doc_id") % 5 === 2)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val dir = Files.createTempDirectory("graft_didx_app").toString

    DedupIndex.build(corpus1, "doc_id", "text", dir)
    DedupIndex.append(corpus2, "doc_id", "text", dir)
    val appended = canon(DedupIndex.matchBatch(batch, "doc_id", "text", dir))
    val rebuilt = canon(TextDedup.incrementalDedup(
      corpus1.unionByName(corpus2), batch, "doc_id", "text"))
    assert(appended.length == rebuilt.length &&
      appended.sameElements(rebuilt))
  }

  test("sequential ingest: appending batch survivors suppresses later copies") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val seed = docs.filter(col("doc_id") % 5 === 1)
    val b1 = docs.filter(col("doc_id") % 5 === 0)
    val dir = Files.createTempDirectory("graft_didx_seq").toString
    DedupIndex.build(seed, "doc_id", "text", dir)
    // the batch rows with no stored near-duplicate
    def gate(batch: DataFrame): DataFrame = batch.join(
      DedupIndex.matchBatch(batch, "doc_id", "text", dir)
        .filter(!col("is_dup")).select(col("new_id").as("doc_id")),
      Seq("doc_id"), "left_semi")

    // batch 1: gate against the seed corpus, then APPEND its survivors —
    // the maintenance discipline an ingest gate runs per batch
    val s1 = gate(b1).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(s1.nonEmpty)
    DedupIndex.append(s1.toSeq.toDF("doc_id", "text"), "doc_id", "text", dir)

    // batch 2: verbatim copies of batch 1's survivors under fresh ids.
    // Against the seed-only index they would ALL survive again (same text
    // -> same verdict); against the appended index every copy must drop.
    val b2 = s1.map { case (id, text) => (id + 1000000L, text) }
      .toSeq.toDF("doc_id", "text")
    val s2 = gate(b2).collect()
    assert(s2.isEmpty,
      s"${s2.length} copies of already-accepted docs slipped past the " +
        "appended index")
  }

  /** Data files of `table` across every segment of the generation dir
    * `gen` (v3 layout: `g<g>/<seg>/<table>/…`). */
  private def parquetFiles(gen: String, table: String): Int = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(gen))
    try s.iterator().asScala.count(p =>
      p.getFileName.toString.endsWith(".parquet") &&
        p.toString.contains(s"/$table/"))
    finally s.close()
  }

  private def scannedFiles(df: DataFrame, table: String): Long = {
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains(table))
      => f
    }
    assert(scans.nonEmpty, s"no stored-$table file scan found in the plan")
    scans.map(_.selectedPartitions.totalNumberOfFiles).max
  }

  test("matchBatch prunes BOTH stored scans (bands + shingles) to touched pfx") {
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
    val dir = Files.createTempDirectory("graft_didx_prune").toString
    DedupIndex.build(existing, "doc_id", "text", dir, nPfx = 16)
    val g = DedupIndex.currentGenDir(dir)
    val bandFiles = parquetFiles(g, "bands")
    val shingleFiles = parquetFiles(g, "shingles")
    // One incoming doc touches at most 4 band buckets, i.e. at most 4 of
    // the 16 bucket-pfx partitions — the stored-bands scan must plan to
    // read only those partitions' files. Its candidate existing ids then
    // hash into a handful of id-pfx partitions, and the verify-side
    // shingles scan must be pruned the same way (the round-7 gap: the
    // shingles table was a full corpus scan per batch, so stored-side IO
    // grew with the corpus instead of the candidate set).
    val batch = docs.filter(col("doc_id") === 7L)
    DedupIndex.scanDiagnostics = true // flag-gated: production never pays it
    val out =
      try DedupIndex.matchBatch(batch, "doc_id", "text", dir)
      finally DedupIndex.scanDiagnostics = false
    // The band slice is checkpointed for reuse (4 consumers), which erases
    // its file scan from the final plan — the pruned-file evidence is the
    // diagnostic DedupIndex records at capture time.
    val bandsScanned = DedupIndex.lastPrunedBandFiles.get()
    assert(bandsScanned >= 0, "no stored-bands scan was recorded")
    assert(bandsScanned < bandFiles,
      s"bands scan reads all $bandFiles files — pfx pruning is not happening")
    assert(bandsScanned <= bandFiles / 2,
      s"bands scan reads $bandsScanned of $bandFiles files; expected at most " +
        "~4/16 of the partitions' files")
    // and the pruned match must still find the doc's stored twin
    val row = out.filter(col("new_id") === 7L).collect().head
    assert(row.getBoolean(3), "pruned match lost the known duplicate")
  }

  test("matchBatch prunes the verify-side shingles scan to candidate id pfx") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // Synthetic corpus of UNIQUE docs (every band bucket holds ~1 member),
    // so a probe's candidate set is exactly its near-dup twin — the shape
    // where candidate-id pruning matters (single-doc probes, the streaming
    // gate). On the testdata corpus every doc collides with the giant
    // duplicate family's bucket, so its candidate ids legitimately span
    // all id-pfx partitions and the verify scan IS the candidate set —
    // pruning tracks candidates in both cases, which is the contract.
    def text(i: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 6).map { r =>
        md.digest(s"${i}_$r".getBytes("UTF-8")).map("%02x".format(_)).mkString
      }.mkString(" ")
    }
    val corpus = (0L until 200L).map(i => (i, text(i))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_didx_shprune").toString
    DedupIndex.build(corpus, "doc_id", "text", dir, nPfx = 16)
    val g = DedupIndex.currentGenDir(dir)
    val shingleFiles = parquetFiles(g, "shingles")
    assert(shingleFiles >= 8, s"fixture too small: $shingleFiles shingle files")
    // probe: a near-duplicate of doc 42 (same text, one word changed) —
    // its true candidate is doc 42 plus a handful of random band-collision
    // false positives (k=16/8 bands trades more candidates for the batch
    // pipeline's recall — verification rejects them), so the verify-side
    // shingles read must touch the candidates' few id-pfx partitions, not
    // the corpus
    val probe = Seq((9001L, text(42L).replaceFirst("^\\S+", "zzzz")))
      .toDF("doc_id", "text")
    val out = DedupIndex.matchBatch(probe, "doc_id", "text", dir)
    val shScanned = scannedFiles(out, "shingles")
    assert(shScanned > 0 && shScanned < shingleFiles / 2,
      s"shingles scan reads $shScanned of $shingleFiles files; expected the " +
        "candidate set's partitions only")
    val row = out.collect().head
    assert(row.getBoolean(3) && row.getLong(1) == 42L,
      s"pruned verify lost the twin: $row")
  }

  test("compact: shrinks the small-file count, match results bit-identical") {
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val dir = Files.createTempDirectory("graft_didx_cpt").toString
    // build + 3 appends: every append adds its own task files per touched
    // pfx partition — the small-file decay compaction exists to reverse
    DedupIndex.build(docs.filter(col("doc_id") % 5 === 1), "doc_id", "text",
      dir, nPfx = 16)
    (2 to 4).foreach(i => DedupIndex.append(
      docs.filter(col("doc_id") % 5 === i), "doc_id", "text", dir))
    def files(sub: String): Int = parquetFiles(DedupIndex.currentGenDir(dir), sub)
    val before = canon(DedupIndex.matchBatch(batch, "doc_id", "text", dir))
    val bandsBefore = files("bands"); val shBefore = files("shingles")
    val g0 = DedupIndex.currentGenDir(dir)

    DedupIndex.compact(spark, dir)

    assert(DedupIndex.exists(dir), "compaction must keep the store readable")
    assert(DedupIndex.numPfx(dir) == 16, "compaction must preserve the layout")
    assert(DedupIndex.currentGenDir(dir) != g0,
      "compaction must advance the live generation")
    val bandsAfter = files("bands"); val shAfter = files("shingles")
    assert(bandsAfter < bandsBefore,
      s"bands files $bandsBefore -> $bandsAfter: compaction did not consolidate")
    assert(bandsAfter <= 16, s"expected ~one file per pfx partition, got $bandsAfter")
    assert(shAfter < shBefore && shAfter <= 16,
      s"shingles files $shBefore -> $shAfter; expected ~one per pfx partition")
    // previous-generation retention: an in-flight reader that pinned g0
    // before the swing must still find its files...
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(g0)),
      "compaction must retain the previous generation for in-flight readers")
    val after = canon(DedupIndex.matchBatch(batch, "doc_id", "text", dir))
    assert(after.length == before.length && after.sameElements(before),
      "compaction changed match results")
    // ...and the NEXT compaction prunes it (bounded disk growth)
    DedupIndex.compact(spark, dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(g0)),
      "second compaction must prune the two-generations-old directory")
    val after2 = canon(DedupIndex.matchBatch(batch, "doc_id", "text", dir))
    assert(after2.sameElements(before), "second compaction changed match results")
  }

  test("serve-through-compact: reads racing compact() never error") {
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 5 === 0).localCheckpoint()
    val dir = Files.createTempDirectory("graft_didx_race").toString
    DedupIndex.build(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
      dir, nPfx = 16)
    val expect = canon(DedupIndex.matchBatch(batch, "doc_id", "text", dir))

    // reader loop on one thread, a full compaction on another — the
    // generation pointer swings mid-loop, and every read must return the
    // identical result with no "absent store"/missing-file error (round 7
    // read "absent" for the whole swap window). One compaction only: the
    // retention contract is exactly ONE previous generation, so a reader
    // is guaranteed its pinned files until the NEXT compaction after it
    // pinned — racing two back-to-back compactions against one pin is
    // outside the contract (same two-manifest bound as SnapshotStore).
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          val got = canon(DedupIndex.matchBatch(batch, "doc_id", "text", dir))
          if (!got.sameElements(expect))
            throw new AssertionError("racing read returned different matches")
        }
      } catch { case t: Throwable => err.set(t) }
    })
    reader.start()
    try DedupIndex.compact(spark, dir)
    finally { stop.set(true); reader.join(120000) }
    assert(err.get() == null,
      s"concurrent read failed during compact: ${err.get()}")
    assert(canon(DedupIndex.matchBatch(batch, "doc_id", "text", dir))
      .sameElements(expect))
  }

  test("crash debris: stale next-generation dir is harmless and cleaned up") {
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val dir = Files.createTempDirectory("graft_didx_crash").toString
    DedupIndex.build(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
      dir, nPfx = 16)
    val before = canon(DedupIndex.matchBatch(batch, "doc_id", "text", dir))
    // simulate a compact that crashed after partially writing g1: the
    // pointer still names g0, so the store must read intact…
    val stale = java.nio.file.Paths.get(s"$dir/g1/bands")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.writeString(stale.resolve("part-junk.parquet"), "junk")
    assert(DedupIndex.exists(dir))
    val withDebris = canon(DedupIndex.matchBatch(batch, "doc_id", "text", dir))
    assert(withDebris.sameElements(before), "stale g1 debris affected reads")
    // …and the next compact replaces the debris and serves identically
    DedupIndex.compact(spark, dir)
    val after = canon(DedupIndex.matchBatch(batch, "doc_id", "text", dir))
    assert(after.sameElements(before), "compact over debris changed matches")
  }

  test("batchId append: crashed attempt invisible, retry applies exactly once") {
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 5 === 1)
    val batch = docs.filter(col("doc_id") % 5 === 2).localCheckpoint()
    val probe = docs.filter(col("doc_id") % 5 === 0).localCheckpoint()
    val dir = Files.createTempDirectory("graft_didx_bid").toString
    DedupIndex.build(corpus, "doc_id", "text", dir)
    val beforeAppend = canon(DedupIndex.matchBatch(probe, "doc_id", "text", dir))

    // crashed first attempt: segment data landed, commit never ran — the
    // uncommitted directory must be invisible to every match
    val stale = java.nio.file.Paths
      .get(s"${DedupIndex.currentGenDir(dir)}/b42/shingles")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.writeString(stale.resolve("part-junk.parquet"), "junk")
    def committed: Boolean =
      GenStore.read(dir).get.segs.contains(GenStore.batchSeg(42L))
    assert(!committed)
    assert(canon(DedupIndex.matchBatch(probe, "doc_id", "text", dir))
      .sameElements(beforeAppend), "uncommitted segment debris affected reads")

    // the retry overwrites the debris and commits once
    DedupIndex.append(batch, "doc_id", "text", dir, batchId = Some(42L))
    assert(committed)
    val applied = canon(DedupIndex.matchBatch(probe, "doc_id", "text", dir))
    val rebuilt = canon(TextDedup.incrementalDedup(
      corpus.unionByName(batch), probe, "doc_id", "text"))
    assert(applied.sameElements(rebuilt),
      "batchId-keyed append diverged from a full rebuild")
    assert(spark.read
      .parquet(s"${DedupIndex.currentGenDir(dir)}/${GenStore.batchSeg(42L)}/shingles")
      .select("doc_id").distinct().count() == batch.count())

    // a second retry after full commit is a no-op (no duplicate rows)
    val files = parquetFiles(DedupIndex.currentGenDir(dir), "shingles")
    DedupIndex.append(batch, "doc_id", "text", dir, batchId = Some(42L))
    assert(parquetFiles(DedupIndex.currentGenDir(dir), "shingles") == files,
      "a replayed append re-wrote its segment")
    assert(canon(DedupIndex.matchBatch(probe, "doc_id", "text", dir))
      .sameElements(applied), "a replayed append changed match results")
  }

  test("appends racing compact(): every batch survives, whatever the interleaving") {
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").localCheckpoint()
    val probe = docs.filter(col("doc_id") % 5 === 0).localCheckpoint()
    val dir = Files.createTempDirectory("graft_didx_wrace").toString
    DedupIndex.build(docs.filter(col("doc_id") % 5 === 1), "doc_id", "text",
      dir, nPfx = 16)

    // an appender streams three batches in while a compaction runs: the
    // CAS contract says a raced append either commits (and the compact
    // retry folds it in) or fails loudly for the engine to replay —
    // NEVER lands silently in a dead generation. Whatever interleaving
    // this host produces, the final store must contain every batch that
    // reported success.
    val batches = (2 to 4).map(i =>
      docs.filter(col("doc_id") % 5 === i).localCheckpoint())
    val appended = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val appendErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val appender = new Thread(() => {
      batches.zipWithIndex.foreach { case (b, i) =>
        try {
          DedupIndex.append(b, "doc_id", "text", dir)
          appended.add(i); ()
        } catch {
          case _: java.util.ConcurrentModificationException => () // replayable
          case t: Throwable => appendErr.set(t)
        }
        Thread.sleep(30)
      }
    })
    appender.start()
    try DedupIndex.compact(spark, dir)
    catch { case _: java.util.ConcurrentModificationException => () } // allowed
    appender.join(180000)
    assert(appendErr.get() == null, s"append failed oddly: ${appendErr.get()}")

    import scala.jdk.CollectionConverters._
    val kept = appended.iterator().asScala.toSet
    val expectCorpus = kept.foldLeft(docs.filter(col("doc_id") % 5 === 1)) {
      (acc, i) => acc.unionByName(batches(i))
    }
    val got = canon(DedupIndex.matchBatch(probe, "doc_id", "text", dir))
    val want = canon(TextDedup.incrementalDedup(expectCorpus, probe,
      "doc_id", "text"))
    assert(got.sameElements(want),
      s"store diverged from the ${kept.size} successfully-appended batches")
  }

  test("per-batch cost is independent of corpus growth (9x corpus, same batch)") {
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "text").localCheckpoint()
    val batch = docs.filter(col("doc_id") % 10 === 0).localCheckpoint()
    val small = docs.filter(col("doc_id") % 10 === 1)          // ~10% of docs
    val large = docs.filter(col("doc_id") % 10 =!= 0)          // ~90% of docs
    val dSmall = Files.createTempDirectory("graft_didx_s").toString
    val dLarge = Files.createTempDirectory("graft_didx_l").toString
    DedupIndex.build(small, "doc_id", "text", dSmall)
    DedupIndex.build(large, "doc_id", "text", dLarge)

    def time(dir: String): Double = {
      val t0 = System.nanoTime()
      DedupIndex.matchBatch(batch, "doc_id", "text", dir)
        .queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    // warmup both paths, then median of 3 each
    time(dSmall); time(dLarge)
    val tS = Seq.fill(3)(time(dSmall)).sorted.apply(1)
    val tL = Seq.fill(3)(time(dLarge)).sorted.apply(1)
    // The batch-side signature pass dominates; the stored side contributes
    // a touched-bucket-pruned index read, so 9x the corpus must NOT cost
    // anywhere near 9x the batch time. 3x + fixed slack absorbs host noise
    // while still failing any plan that rehashes or fully shuffles the
    // corpus per batch (which measures ~linear, i.e. ~9x).
    assert(tL <= tS * 3.0 + 1.0,
      f"per-batch cost tracks corpus size: small=$tS%.2fs large=$tL%.2fs")
  }
}
