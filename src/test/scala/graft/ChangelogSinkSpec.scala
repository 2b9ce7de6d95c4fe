package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.TestBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.ChangelogSink

/** The GenStore-backed changelog sink (VERDICT r11 #4): bounded file
  * growth under the fold+vacuum discipline, replay-effectively-once even
  * after a fold (no merge-on-read dedup to hide duplicates behind), and
  * read content bit-identical to what the old one-`batch=<id>`-directory-
  * per-trigger Hive layout served. */
class ChangelogSinkSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def batchDf(i: Int) =
    (0 until 10).map(j => (i.toLong * 100 + j, s"v$i-$j")).toDF("id", "v")

  private def parquetFiles(root: String): Seq[String] = {
    val p = java.nio.file.Paths.get(root)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toList
      finally walk.close()
    }
  }

  test("read is row-identical to the legacy Hive batch=<id> layout") {
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft_clsink_parity").toString
    (0 until 5).foreach { i =>
      val b = batchDf(i)
      ChangelogSink.write(b, s"$work/sink", i.toLong, maxLiveSegments = 2)
      b.write.mode("overwrite").parquet(s"$work/legacy/batch=$i")
    }
    val got = ChangelogSink.read(spark, s"$work/sink")
      .select("id", "v", "batch")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq
    val want = spark.read.parquet(s"$work/legacy")
      .select(col("id"), col("v"), col("batch").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq
    assert(got == want)
    // budget 2 with 5 batches -> at least one fold ran under the parity
    assert(ChangelogSink.liveSegments(s"$work/sink").exists(_.startsWith("m-")),
      s"expected a folded tier: ${ChangelogSink.liveSegments(s"$work/sink")}")
  }

  test("replay is a no-op BOTH before and after its segment folds (no dup rows)") {
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft_clsink_replay").toString
    val root = s"$work/sink"
    ChangelogSink.write(batchDf(0), root, 0L, maxLiveSegments = 2)
    // in-manifest replay
    ChangelogSink.write(batchDf(0), root, 0L, maxLiveSegments = 2)
    assert(ChangelogSink.read(spark, root).count() == 10)
    // fold away batches 0..2, then replay a FOLDED id: a changelog has no
    // dedup, so only the watermark stands between this and duplicates
    (1 until 3).foreach(i => ChangelogSink.write(batchDf(i), root, i.toLong,
      maxLiveSegments = 2))
    assert(ChangelogSink.liveSegments(root).forall(_.startsWith("m-")))
    ChangelogSink.write(batchDf(1), root, 1L, maxLiveSegments = 2)
    assert(ChangelogSink.read(spark, root).count() == 30,
      "folded replay must not re-append")
    assert(ChangelogSink.read(spark, root)
      .groupBy("id").count().filter(col("count") > 1).count() == 0)
  }

  test("fold + vacuum bound segment count and on-disk files over 60 batches") {
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft_clsink_bound").toString
    val root = s"$work/sink"
    val budget = 3
    var maxSegs, maxFiles = 0
    (0 until 60).foreach { i =>
      // vacuumGraceMs = 0: every fold's dead dirs reclaim immediately (the
      // soak posture; production uses the 10-min default)
      ChangelogSink.write(batchDf(i), root, i.toLong,
        maxLiveSegments = budget, vacuumGraceMs = 0L)
      maxSegs = math.max(maxSegs, ChangelogSink.liveSegments(root).size)
      maxFiles = math.max(maxFiles, parquetFiles(root).size)
    }
    // manifest width: <= fresh budget+1 plus merged budget+1
    assert(maxSegs <= 2 * budget + 2, s"segments unbounded: $maxSegs")
    // on-disk: bounded ceiling, nothing like one dir per batch. Each live
    // segment holds a handful of files (4 shuffle partitions); dead dirs
    // are vacuumed, so the count must stay far below 60 segments' worth.
    assert(maxFiles <= (2 * budget + 2) * 6,
      s"on-disk parquet files unbounded: $maxFiles")
    // content survived every fold: all 600 rows exactly once, with their
    // original batch provenance
    val rows = ChangelogSink.read(spark, root)
    assert(rows.count() == 600)
    assert(rows.filter(col("batch") === 37L).count() == 10)
    assert(rows.groupBy("id").count().filter(col("count") > 1).count() == 0)
  }

  test("sink plans of two batch ids generate identical whole-stage code") {
    // The batch id rides in the compiled class's references, not in its
    // source: an inlined literal would make each trigger's sink code new
    // source, which misses Spark's codegen cache and compiles again.
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft_clsink_codegen").toString + "/sink"
    val codes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        codegenStringSeq(qe.executedPlan).foreach(c => codes.add(c._2))
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def sinkCode(batchId: Long): Seq[String] = {
      codes.clear()
      ChangelogSink.write(
        spark.range(0, 40, 1, 2).select(col("id"), (col("id") % 7).as("k")),
        root, batchId, maxLiveSegments = 2)
      TestBus.drain(spark.sparkContext)
      codes.asScala.toSeq
    }
    spark.listenerManager.register(listener)
    val (code0, code1) =
      try (sinkCode(0L), sinkCode(1L))
      finally spark.listenerManager.unregister(listener)
    assert(code0.nonEmpty, "the sink write ran no whole-stage-codegen stage")
    assert(code0 == code1, "the batch id changed the sink's generated code")
    // rows and schema are those of a literal stamp; a fold keeps them
    ChangelogSink.write(spark.range(80, 90).select(col("id"), (col("id") % 7).as("k")),
      root, 2L, maxLiveSegments = 2)
    assert(ChangelogSink.liveSegments(root).exists(_.startsWith("m-")))
    val back = ChangelogSink.read(spark, root)
    assert(back.schema == StructType(Seq(StructField("id", LongType),
      StructField("k", LongType), StructField("batch", LongType))))
    assert(back.groupBy("batch").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 40L, 1L -> 40L, 2L -> 10L))
  }

  test("an all-empty first batch still reads back with the schema") {
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft_clsink_empty").toString
    val root = s"$work/sink"
    ChangelogSink.write(batchDf(0).filter(lit(false)), root, 0L)
    val df = ChangelogSink.read(spark, root)
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("id", "v", "batch"))
  }

  /** VERDICT r12 #7: the vacuum grace contract ("must exceed the longest
    * pinned-reader scan") was doc-only. This pins the cross-process edge:
    * a reader still holding a PRE-FOLD frame after a fold + vacuum(grace=0)
    * reclaimed its segment dirs must fail LOUDLY on its next action — the
    * frame's file listing was resolved at read() time, Spark does not
    * silently re-list, and `ignoreMissingFiles` defaults to false — never
    * return a silently partial changelog. A fresh read() (re-resolution
    * through the current manifest) serves the complete content. */
  test("reader pinned across fold+vacuum(grace=0) fails loudly, never partially") {
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft_clsink_pin").toString + "/sink"
    // generous grace during setup: nothing is reclaimed yet
    (0 until 2).foreach(i => ChangelogSink.write(batchDf(i), root, i.toLong,
      maxLiveSegments = 2, vacuumGraceMs = Long.MaxValue / 2))
    val pinned = ChangelogSink.read(spark, root)
    assert(pinned.count() == 20) // resolves + scans the pre-fold listing

    // two more batches: budget 2 -> the 3rd append folds all fresh
    // segments; grace=0 lets the SAME write's vacuum reclaim the folded
    // b<id> dirs immediately (the pathological deployment this spec pins)
    (2 until 4).foreach(i => ChangelogSink.write(batchDf(i), root, i.toLong,
      maxLiveSegments = 2, vacuumGraceMs = 0L))
    assert(ChangelogSink.liveSegments(root).exists(_.startsWith("m-")),
      s"fold did not run: ${ChangelogSink.liveSegments(root)}")

    // the pinned frame must now throw (missing files), not under-count
    val thrown =
      try { val n = pinned.count(); Left(n) }
      catch { case e: Throwable => Right(e) }
    thrown match {
      case Left(n) =>
        // if Spark ever serves the pinned frame without error it MUST be
        // complete (a cached/re-resolved listing), never silently partial
        assert(n == 20, s"pinned reader silently served $n of 20 rows")
      case Right(e) =>
        val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .map(x => s"${x.getClass.getName}: ${x.getMessage}").mkString(" <- ")
        assert(chain.toLowerCase.contains("file"), s"unexpected failure: $chain")
    }
    // re-resolution through the current manifest serves everything
    assert(ChangelogSink.read(spark, root).count() == 40)
  }
}
