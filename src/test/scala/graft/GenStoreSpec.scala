package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GenStore

/** The shared segment-manifest mechanics under the maintained stores:
  * atomic/idempotent appends and the append-vs-compact CAS — the
  * machinery-level guarantees [[IncrIndexSpec]]/[[PairStoreSpec]]/
  * [[AnnIndexSpec]] then exercise through the real stores. */
class GenStoreSpec extends AnyFunSuite {

  private def newStore(): String = {
    val dir = Files.createTempDirectory("graft_genstore").toString
    Files.createDirectories(Paths.get(s"$dir/g0/${GenStore.BaseSeg}"))
    GenStore.init(dir,
      GenStore.State(0, Vector(GenStore.BaseSeg), Map("nPfx" -> 4)))
    dir
  }

  test("manifest round-trips generation, segments, and props") {
    val dir = newStore()
    val st = GenStore.read(dir).get
    assert(st.gen == 0 && st.segs == Vector("base") &&
      st.props == Map("nPfx" -> 4))
    GenStore.commitSeg(dir, 0, "b7")
    val segs = GenStore.read(dir).get.segs
    assert(segs == Vector("base", "b7"))
    assert(segs.contains(GenStore.batchSeg(7)) &&
      !segs.contains(GenStore.batchSeg(8)))
    // pre-v3 manifests read as absent (layout bump -> rebuild, never half-read)
    Files.writeString(Paths.get(s"$dir/_META"), "v2 nPfx=4 gen=0")
    assert(GenStore.read(dir).isEmpty)
  }

  test("appendSeg: idempotent by segment name — a replay never re-writes") {
    val dir = newStore()
    var writes = 0
    def write(st: GenStore.State, segDir: String): Unit = {
      writes += 1
      Files.createDirectories(Paths.get(segDir))
    }
    assert(GenStore.appendSeg(dir, "store", "b1")(write))
    assert(!GenStore.appendSeg(dir, "store", "b1")(write),
      "a committed segment must be skipped on replay")
    assert(writes == 1, s"replay re-ran the segment write ($writes)")
    assert(GenStore.read(dir).get.segs == Vector("base", "b1"))
  }

  test("commitSeg into a dead generation fails loudly (append-vs-compact)") {
    val dir = newStore()
    // a compaction swings the manifest while an append's data write runs
    GenStore.compact(dir, "store", _ => false) { (_, base) =>
      Files.createDirectories(Paths.get(base))
    }
    assert(GenStore.read(dir).get.gen == 1)
    // the append pinned gen 0 — its commit must fail, not land invisibly
    intercept[java.util.ConcurrentModificationException] {
      GenStore.commitSeg(dir, expectGen = 0, "b9")
    }
    assert(!GenStore.read(dir).get.segs.contains("b9"))
  }

  test("compact CAS: a segment committed mid-rewrite is folded in, not dropped") {
    val dir = newStore()
    val seen = scala.collection.mutable.ArrayBuffer[Vector[String]]()
    var raced = false
    GenStore.compact(dir, "store", _ => false) { (st, base) =>
      seen += st.segs
      if (!raced) {
        raced = true
        // an append lands AFTER this rewrite pinned its state: the swing
        // must CAS-fail and the retry must see (and fold in) the segment
        Files.createDirectories(Paths.get(s"${st.genDir(dir)}/b42"))
        GenStore.commitSeg(dir, st.gen, "b42")
      }
      Files.createDirectories(Paths.get(base))
    }
    assert(seen.size == 2, s"expected a CAS retry, saw ${seen.size} attempt(s)")
    assert(seen(0) == Vector("base") && seen(1) == Vector("base", "b42"),
      s"retry did not fold the raced segment in: $seen")
    val st = GenStore.read(dir).get
    assert(st.gen == 1 && st.segs == Vector("base"),
      "compaction must land on the next generation's base segment")
  }

  test("concurrent appends: no lost manifest update under the lock") {
    val dir = newStore()
    val n = 16
    val errs = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until n).map { i =>
      new Thread(() => {
        try GenStore.appendSeg(dir, "store", s"b$i") { (_, segDir) =>
          Files.createDirectories(Paths.get(segDir))
        }
        catch { case _: Throwable => errs.incrementAndGet(); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(errs.get() == 0, s"${errs.get()} concurrent appends failed")
    val segs = GenStore.read(dir).get.segs
    assert(segs.size == n + 1 &&
      (0 until n).forall(i => segs.contains(s"b$i")),
      s"lost update: ${segs.sorted}")
  }

  test("concurrent compacts serialize: live generation data is never deleted") {
    // ADVICE r08: two compactors interleaving outside the manifest lock —
    // the slower one's pre-rewrite prune deleted the faster one's freshly
    // published g<next> data (its own CAS then failed and deleted g<next>
    // AGAIN, the one the live manifest pointed at). The whole-compaction
    // lock serializes them: the loser re-pins the winner's generation.
    val dir = newStore()
    val marker = (g: Int) => Paths.get(s"$dir/g$g/${GenStore.BaseSeg}/data.txt")
    Files.writeString(marker(0), "gen0")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { _ =>
      new Thread(() => {
        try GenStore.compact(dir, "store", _ => false) { (st, base) =>
          Files.createDirectories(Paths.get(base))
          // a real rewrite READS the pinned generation: its data must
          // still exist mid-rewrite even while the peer compacts
          val src = Paths.get(s"${st.genDir(dir)}/${GenStore.BaseSeg}/data.txt")
          Thread.sleep(50)
          Files.writeString(Paths.get(s"$base/data.txt"), Files.readString(src))
        }
        catch { case t: Throwable => errs.add(t); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(errs.isEmpty, s"concurrent compacts failed: ${errs.peek()}")
    val st = GenStore.read(dir).get
    assert(st.gen == 2 && st.segs == Vector("base"),
      s"two serialized compacts must land on g2: gen=${st.gen}")
    assert(Files.readString(marker(2)) == "gen0",
      "live generation data lost across concurrent compacts")
  }

  test("uncommitted segment directories are invisible to the manifest") {
    val dir = newStore()
    // a crashed append: data landed, commit never ran
    Files.createDirectories(Paths.get(s"$dir/g0/b13/table"))
    assert(GenStore.read(dir).get.segs == Vector("base"),
      "manifest must not pick up uncommitted directories")
    assert(!GenStore.read(dir).get.segs.contains(GenStore.batchSeg(13)))
  }

  test("readTableCached is bounded: newSession-per-call serving cannot pin sessions") {
    // ADVICE r9 #4: the frame cache keys on SparkSession and each cached
    // DataFrame strongly references its session, so an unbounded map would
    // accumulate every newSession() a long-running serving loop creates.
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = newStore()
    Seq((1, "a"), (2, "b")).toDF("id", "v")
      .write.parquet(s"$dir/g0/${GenStore.BaseSeg}/t")
    val st = GenStore.read(dir).get
    (1 to 100).foreach { _ =>
      val s = spark.newSession()
      assert(GenStore.readTableCached(s, dir, st, "t").count() == 2)
    }
    assert(GenStore.tableCacheSize <= 64,
      s"cache grew unboundedly: ${GenStore.tableCacheSize}")
    // the hot entry still serves from cache: same session+gen returns the
    // identical frame object
    val s = spark.newSession()
    val a = GenStore.readTableCached(s, dir, st, "t")
    val b = GenStore.readTableCached(s, dir, st, "t")
    assert(a eq b)
  }

  test("readTable reads its writer's schema: no schema-inference job for a 4-segment table") {
    // each schema-inferring parquet read runs a one-task job over a
    // parallelized file-status list (ParallelCollectionRDD)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = newStore()
    val segs = Seq(GenStore.BaseSeg, "b1", "b2", "b3")
    segs.zipWithIndex.foreach { case (seg, i) =>
      val rows = (0 until 6).map(j => (i * 10L + j, s"v$i-$j", j % 2)).toDF("id", "v", "pfx")
      // one segment writes its columns in another order: legs union by name
      val df = if (i == 2) rows.select("v", "pfx", "id") else rows
      df.write.partitionBy("pfx").parquet(s"$dir/g0/$seg/t")
      if (seg != GenStore.BaseSeg) GenStore.commitSeg(dir, 0, seg)
    }
    val st = GenStore.read(dir).get
    assert(st.segs == segs.toVector)
    val sc = spark.sparkContext
    val inference = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.stageInfos.exists(_.rddInfos.exists(_.name == "ParallelCollectionRDD")))
          inference.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    val df = try { val d = GenStore.readTable(spark, dir, st, "t"); TestBus.drain(sc); d }
      finally sc.removeSparkListener(listener)
    assert(inference.get == 0, s"schema-inference jobs for a 4-segment read: ${inference.get}")
    // what a per-segment inferring read serves
    val inferred = st.segTableDirs(dir, "t").map(spark.read.parquet(_)).reduce(_ unionByName _)
    assert(df.schema == inferred.schema)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toString).sorted.toSeq
    assert(rows(df) == rows(inferred))
    assert(rows(df).size == 24)
    assert(rows(df.filter($"pfx" === 1)) == rows(inferred.filter($"pfx" === 1)))
  }
}
