package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** JVM-global evaluation counter for the non-determinism fixture: a plain
  * closure-captured AtomicInteger would be SERIALIZED per task (each action
  * deserializes a fresh copy at 0 and the frame becomes deterministic again);
  * an object field is re-referenced, not copied, in local mode's shared JVM,
  * so consecutive ACTIONS observe different values. */
private object EvalFlip {
  val n = new java.util.concurrent.atomic.AtomicInteger(0)
  def next(): Int = n.getAndIncrement()
}

/** ADVICE r12 #2: `prepare(materialize = false)` trusts the caller that the
  * input frame is a pure transform of cached blocks — `touched` (first
  * action) and the segment write (second action) re-evaluate it
  * independently. That contract is now ENFORCED, not just documented: the
  * written `_bucket=` partition dirs are compared to the touched set before
  * the manifest commit, so a non-deterministic view fails the micro-batch
  * LOUDLY instead of committing rows into buckets no delta read will ever
  * see until the next compaction. */
class SnapshotStoreDeterminismSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A one-row, one-partition frame whose KEY flips between evaluations:
    * the first evaluation sees a key of bucket A, every later one a key of
    * bucket B (of `nBuckets`) — the exact silent-corruption shape the guard
    * exists for. The two keys are chosen by computing the store's
    * pmod(hash(key), nBuckets) tagging, so the fixture can't go stale
    * against the bucket function. */
  private def flippingKeyFrame(nBuckets: Int): DataFrame = {
    val byBucket = spark.range(0, 64)
      .select(col("id"), pmod(hash(col("id")), lit(nBuckets)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    val k1 = byBucket.head
    val k2 = byBucket.find(_._2 != k1._2).get
    assert(k1._2 != k2._2)
    val (v1, v2) = (k1._1, k2._1)
    val flip = udf(() => if (EvalFlip.next() == 0) v1 else v2)
      .asNondeterministic()
    EvalFlip.n.set(0)
    spark.range(0, 1, 1, numPartitions = 1)
      .select(flip().as("user_id"), lit(1L).as("ts"))
  }

  test("non-deterministic unmaterialized input fails before the manifest commit") {
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft_det").toString
    val nBuckets = 4
    val df = flippingKeyFrame(nBuckets)

    val store = new SnapshotStore(work, nBuckets = nBuckets)
    val prep = store.prepare(df, Seq("user_id"), materialize = false)
    val ex = intercept[IllegalStateException] {
      store.mergePrepared(prep, Seq("user_id"), Seq("ts"), Some(0L))
    }
    assert(ex.getMessage.contains("non-deterministic across actions"),
      ex.getMessage)
    // nothing committed: the segment never reached the manifest
    assert(store.read(spark).forall(_.count() == 0),
      "a non-deterministic batch must not commit rows")

    // and the same frame MATERIALIZED (the default merge() path) is fine:
    // localCheckpoint pins one evaluation, both actions see the same rows
    EvalFlip.n.set(0)
    val touched = store.merge(df, Seq("user_id"), Seq("ts"), Some(1L))
    assert(touched.size == 1)
    assert(store.read(spark).get.count() == 1)
  }

  test("touched buckets counted for two stores in one job: the guard still fires") {
    // processSet counts every XREF's touched buckets in one job before the
    // appends; that job is an action apart from each segment write, so a
    // frame that changes between the two still fails its append
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft_det_shared").toString
    val nBuckets = 4
    val flipping = new SnapshotStore(s"$work/a", nBuckets = nBuckets)
    val steady = new SnapshotStore(s"$work/b", nBuckets = nBuckets)
    val preps = Seq(
      flipping.prepare(flippingKeyFrame(nBuckets), Seq("user_id"), materialize = false),
      steady.prepare(spark.range(0, 8).select(col("id").as("user_id"), lit(1L).as("ts")),
        Seq("user_id"), materialize = false))
    val counts = SnapshotStore.touchedCounts(preps)
    assert(counts.map(_._2) == Seq(1L, 8L))
    val ex = intercept[IllegalStateException] {
      flipping.append(preps(0), counts(0)._1, Seq("user_id"), Seq("ts"), Some(0L))
    }
    assert(ex.getMessage.contains("non-deterministic across actions"), ex.getMessage)
    assert(flipping.read(spark).forall(_.count() == 0))
    steady.append(preps(1), counts(1)._1, Seq("user_id"), Seq("ts"), Some(0L))
    assert(steady.read(spark).get.count() == 8)
  }

  test("guard has no false positive: all-NULL payload and all-NULL key buckets still write their dirs") {
    // VERDICT r13 #6: the hypothesized false positive — a touched bucket
    // whose rows produce no partition dir — cannot happen for a
    // deterministic frame. latestByKey never drops a key (per-key argmax),
    // NULL payload columns ride inside max_by's struct and parquet writes
    // the row regardless, and pmod(hash(key), n) is non-null even for a
    // NULL key (hash of NULL is the seed), so no row escapes to
    // __HIVE_DEFAULT_PARTITION__. Drive both edge shapes through the
    // UNMATERIALIZED guard path and assert commit + dirs.
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val work = Files.createTempDirectory("graft_det_null").toString
    val nBuckets = 4
    val df = Seq(
        (Option(7L), 1L, Option.empty[String]),   // payload NULL
        (Option.empty[Long], 1L, Option.empty[String])) // key AND payload NULL
      .toDF("user_id", "ts", "payload")
    val store = new SnapshotStore(work, nBuckets = nBuckets)
    val prep = store.prepare(df, Seq("user_id"), materialize = false)
    val touched = store.mergePrepared(
      prep, Seq("user_id"), Seq("ts"), Some(0L))
    assert(touched.nonEmpty)
    val snap = store.read(spark).get
    assert(snap.count() == 2, "both rows (incl. the NULL key) must commit")
    assert(snap.filter(col("user_id").isNull).count() == 1)
  }
}
