package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded corpus for the curation mix, in the layout `graft.Tables` reads
  * (`<dir>/<table>.parquet`): documents with near-duplicate families,
  * clustered 64-d embeddings, and orders with their line items. */
final case class MixInput(seed: Long, docs: Int, vectors: Int, orders: Int) {
  private val Vocab: Array[String] = ("a the key agg row scan slow fast table value part " +
    "hash merge batch spark line sort window data column join small query order " +
    "stream group filter big index").split(" ")
  private val Langs = Array("en", "en", "en", "en", "de", "fr")

  /** Doc i: either fresh text, or (for ~35% of docs) a copy of an earlier
    * doc with ~6% of its words replaced — the near-duplicate families. */
  def text(i: Long): String = {
    val words = baseWords(i)
    words.mkString(" ")
  }
  private def baseWords(i: Long): Array[String] = {
    if (i > 0 && Gen.unit(seed + 21, i) < 0.35) {
      val src = (Gen.mix(seed + 22, i) >>> 1) % i
      val w = baseWords(src).clone()
      w.indices.foreach { k =>
        if (Gen.unit(seed + 23, i * 1000 + k) < 0.06)
          w(k) = Vocab(((Gen.mix(seed + 24, i * 1000 + k) >>> 1) % Vocab.length).toInt)
      }
      w
    } else {
      val n = 20 + ((Gen.mix(seed + 25, i) >>> 1) % 60).toInt
      Array.tabulate(n)(k =>
        Vocab(((Gen.mix(seed + 26, i * 1000 + k) >>> 1) % Vocab.length).toInt))
    }
  }

  /** The corpus is seed-independent, so one copy per build serves every
    * run; `_DONE` marks a complete copy. */
  def writeOnce(spark: SparkSession, dir: String): Unit = {
    val done = java.nio.file.Paths.get(dir, "_DONE")
    if (!java.nio.file.Files.exists(done)) {
      graft.operators.GenStore.deleteRecursively(java.nio.file.Paths.get(dir))
      write(spark, dir)
      java.nio.file.Files.writeString(done, describe.toString)
    }
  }

  def write(spark: SparkSession, dir: String): Unit = {
    val s = this
    val sc = spark.sparkContext
    def save(name: String, rows: org.apache.spark.rdd.RDD[Row], schema: StructType): Unit =
      spark.createDataFrame(rows, schema).coalesce(1).write.parquet(s"$dir/$name.parquet")
    save("documents", sc.range(0L, docs.toLong, 1, 4).map { i =>
      val t = s.text(i)
      Row(i, t, MixInput.pick(s.Langs, ((Gen.mix(s.seed + 27, i) >>> 1) % s.Langs.length).toInt),
        s"src${(Gen.mix(s.seed + 28, i) >>> 1) % 5}", t.length.toLong)
    }, StructType.fromDDL("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"))
    save("embeddings", sc.range(0L, vectors.toLong, 1, 4).map { i =>
      val label = ((Gen.mix(s.seed + 30, i) >>> 1) % 5).toInt
      val v = Array.tabulate(64) { d =>
        val center = (Gen.unit(s.seed + 31 + label, d.toLong) - 0.5) * 0.6
        val noise = (Gen.unit(s.seed + 40, i * 64 + d) - 0.5) * 0.3
        (center + noise).toFloat
      }
      Row(i, v.toSeq, label)
    }, StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"))
    val day = 86400000000L
    save("orders", sc.range(0L, orders.toLong, 1, 4).map { o =>
      Row(o, (Gen.mix(s.seed + 50, o) >>> 1) % 1000,
        MixInput.pick(Array("O", "F", "P"), ((Gen.mix(s.seed + 51, o) >>> 1) % 3).toInt),
        ((Gen.mix(s.seed + 52, o) >>> 1) % 50000000L) / 100.0,
        new java.sql.Timestamp((883612800000000L + ((Gen.mix(s.seed + 53, o) >>> 1) % 2500) * day) / 1000),
        MixInput.pick(Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
          ((Gen.mix(s.seed + 54, o) >>> 1) % 5).toInt))
    }, StructType.fromDDL("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"))
    save("lineitem", sc.range(0L, orders.toLong, 1, 4).flatMap { o =>
      val n = 1 + ((Gen.mix(s.seed + 60, o) >>> 1) % 7).toInt
      (1 to n).map { ln =>
        val k = o * 8 + ln
        Row(o, (Gen.mix(s.seed + 61, k) >>> 1) % 2000, (Gen.mix(s.seed + 62, k) >>> 1) % 100, ln,
          (1 + (Gen.mix(s.seed + 63, k) >>> 1) % 50).toDouble,
          ((Gen.mix(s.seed + 64, k) >>> 1) % 10000000L) / 100.0,
          ((Gen.mix(s.seed + 65, k) >>> 1) % 11) / 100.0, ((Gen.mix(s.seed + 66, k) >>> 1) % 9) / 100.0,
          MixInput.pick(Array("A", "N", "R"), ((Gen.mix(s.seed + 67, k) >>> 1) % 3).toInt),
          MixInput.pick(Array("O", "F"), ((Gen.mix(s.seed + 68, k) >>> 1) % 2).toInt),
          new java.sql.Timestamp((883612800000000L + ((Gen.mix(s.seed + 69, k) >>> 1) % 2500) * day) / 1000))
      }
    }, StructType.fromDDL("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
      "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP"))
  }

  def describe: Map[String, Any] = {
    var h = 0L
    (0L until docs.toLong).foreach(i => h = h * 1000003L + Gen.mix(text(i).hashCode.toLong, i))
    Map("docs" -> docs, "vectors" -> vectors, "orders" -> orders,
      "near_dup_share" -> 0.35, "corpus_fingerprint" -> f"$h%016x")
  }
}

object MixInput {
  /** The mix's corpus is fixed, not seeded: its query results are then
    * constants, checked once against the DuckDB mirrors (`oracle.py`) and
    * compared by fingerprint in every run. */
  val Corpus: MixInput = MixInput(seed = 42, docs = 300, vectors = 400, orders = 800)

  def pick(xs: Array[String], i: Int): String = xs(i)
}
