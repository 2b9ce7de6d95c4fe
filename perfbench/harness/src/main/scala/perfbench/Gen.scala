package graft.perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator for the topic workloads. Every event is a pure
  * function of (seed, event index), so the same events can be produced
  * inside Spark tasks (to write the topic) and in plain Scala (to compute
  * the independent expectations) without shipping them around.
  *
  * Keys are Zipf-distributed over a key space much larger than one trigger;
  * the rank-to-key map is a seeded permutation so hot keys are scattered
  * over the key range. A fixed share of keys is an orphan (no customer row)
  * or unentitled (negative balance), and a fixed share of events carries a
  * timestamp earlier than its position in the topic (arrives out of order).
  */
final case class TopicSpec(
    seed: Long,
    events: Int,
    files: Int,
    keys: Int,
    zipf: Double,
    width: Int,          // 0 = narrow payloads (1-2 JSON fields per entity)
    orphanShare: Double,
    unentitledShare: Double,
    oooShare: Double) {

  private val t0Micros = 1704067200000000L // 2024-01-01T00:00:00Z
  private val stepMicros = 50000L

  /** Zipf CDF over key ranks, and the seeded rank -> key permutation. */
  @transient private lazy val cdf: Array[Double] = {
    val w = Array.tabulate(keys)(r => 1.0 / math.pow(r + 1.0, zipf))
    var acc = 0.0
    val out = new Array[Double](keys)
    var i = 0
    while (i < keys) { acc += w(i); out(i) = acc; i += 1 }
    i = 0
    while (i < keys) { out(i) /= acc; i += 1 }
    out
  }
  @transient private lazy val rankToKey: Array[Long] = {
    val a = Array.tabulate(keys)(_.toLong)
    val r = new java.util.SplittableRandom(seed * 31 + 7)
    var i = keys - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Key class: 0 = entitled customer, 1 = orphan, 2 = unentitled. */
  def keyClass(k: Long): Int = {
    val u = Gen.unit(seed ^ 0x5bd1e995L, k)
    if (u < orphanShare) 1 else if (u < orphanShare + unentitledShare) 2 else 0
  }

  def eventType(i: Long): String = {
    val u = Gen.unit(seed + 1, i)
    if (u < 0.40) "purchase" else if (u < 0.85) "click" else "signup"
  }

  def userId(i: Long): Long = {
    val u = Gen.unit(seed + 2, i)
    var lo = 0
    var hi = keys - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    rankToKey(lo)
  }

  /** Event time in micros: in topic order, except the out-of-order share,
    * which lands up to ~2000 positions in the past. */
  def tsMicros(i: Long): Long = {
    val base = t0Micros + i * stepMicros
    if (Gen.unit(seed + 3, i) < oooShare)
      base - (1 + (Gen.mix(seed + 4, i) >>> 1) % 2000L) * stepMicros - 1
    else base
  }

  def value(i: Long): Double = ((Gen.mix(seed + 5, i) >>> 1) % 100000L) / 100.0

  /** Integer payload field `f` of event `i`. */
  def field(i: Long, f: Int): Long = (Gen.mix(seed + 100 + f, i) >>> 1) % 1000000L

  def props(i: Long): String = {
    val sb = new StringBuilder("{")
    if (width > 0) {
      var f = 0
      while (f < width) {
        if (f > 0) sb.append(", ")
        sb.append("\"f").append(f).append("\": ").append(field(i, f))
        f += 1
      }
    } else eventType(i) match {
      case "purchase" =>
        sb.append("\"amt\": ").append(field(i, 0) / 100.0)
          .append(", \"sku\": ").append(field(i, 1) % 5000)
      case "click" => sb.append("\"page\": ").append(field(i, 0) % 300)
      case _       => sb.append("\"plan\": \"p").append(field(i, 0) % 7).append('"')
    }
    sb.append('}').toString
  }

  def row(i: Long): Row = {
    val us = tsMicros(i)
    val ts = new Timestamp(Math.floorDiv(us, 1000L))
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    Row(i, ts, userId(i), eventType(i), value(i), props(i))
  }

  /** Write the topic as `files` parquet files (file p holds one contiguous
    * slice of events), with modification times in slice order so a
    * file-stream source with maxFilesPerTrigger=1 replays them in order. */
  def writeTopic(spark: SparkSession, dir: String): Unit = {
    val spec = this
    val rdd = spark.sparkContext.range(0L, events.toLong, 1, files)
      .mapPartitions(_.map(spec.row))
    spark.createDataFrame(rdd, Gen.topicSchema).write.parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    require(parts.length == files, s"expected $files topic files, got ${parts.length}")
    val base = 1600000000000L
    parts.zipWithIndex.foreach { case (f, n) => f.setLastModified(base + n * 1000L) }
  }

  /** The customer dimension as CSV: every non-orphan key, unentitled keys
    * with a negative balance. */
  def writeCustomers(spark: SparkSession, dir: String): Unit = {
    val spec = this
    val rdd = spark.sparkContext.range(0L, keys.toLong, 1, 4).flatMap { k =>
      spec.keyClass(k) match {
        case 1 => None
        case c =>
          val bal = ((Gen.mix(spec.seed + 9, k) >>> 1) % 1000000L) / 100.0
          Some(Row(k, f"Customer#$k%09d", if (c == 2) -bal - 0.01 else bal,
            Gen.Segments((k % Gen.Segments.length).toInt)))
      }
    }
    spark.createDataFrame(rdd, Gen.customerSchema)
      .write.option("header", "true").csv(dir)
  }

  /** Fingerprint of the generated input plus its properties, recorded with
    * every run. */
  def describe: Map[String, Any] = {
    var h = 0L
    var i = 0L
    while (i < events) {
      val line = s"$i|${tsMicros(i)}|${userId(i)}|${eventType(i)}|${value(i)}|${props(i)}"
      h = h * 1000003L + Gen.mix(line.hashCode.toLong, i)
      i += 1
    }
    Map("input_fingerprint" -> f"$h%016x", "events" -> events, "files" -> files,
      "keys" -> keys, "zipf" -> zipf, "payload_fields" -> (if (width > 0) width else 2),
      "orphan_share" -> orphanShare, "unentitled_share" -> unentitledShare,
      "out_of_order_share" -> oooShare)
  }
}

object Gen {
  val Segments: Array[String] =
    Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  val topicSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING")
  val customerSchema: StructType = StructType.fromDDL(
    "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE, c_mktsegment STRING")

  /** SplitMix64 finalizer over (stream, index): the per-event RNG. */
  def mix(stream: Long, i: Long): Long = {
    var z = stream * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def unit(stream: Long, i: Long): Double = (mix(stream, i) >>> 11) * (1.0 / (1L << 53))

  def readCustomers(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("header", "true").schema(customerSchema).csv(dir)
}
