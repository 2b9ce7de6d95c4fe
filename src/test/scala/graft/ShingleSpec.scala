package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ShingleHashes
import graft.operators.TextDedup

/** The native ShingleHashes expression must be BIT-IDENTICAL to the
  * declarative column formulation it replaces — the whole oracle-parity
  * story rests on it. */
class ShingleSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fixtures = Seq(
    "the quick brown fox jumps over the lazy dog",
    "aaaa",            // one distinct shingle at n=4
    "ab",              // shorter than n: the whole text is the shingle
    "",                // empty string
    "ünïcödé — ✓ 中文字符 test",  // multi-byte code points
    "abcabcabcabc",    // heavy duplication
    "x y z w v u t s r q p o n m l k")

  test("parity mode == array_sort(array_distinct(transform(charShingles, stableHash % P)))") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val df = fixtures.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    for (n <- Seq(3, 4)) {
      val declarative = array_sort(array_distinct(transform(
        TextDedup.charShingles(col("text"), n),
        g => TextDedup.stableHash(g) % TextDedup.P)))
      val bad = df.select(
          ShingleHashes.shingleHashes(col("text"), n, parity = true,
            mod = TextDedup.P).as("native"),
          declarative.as("decl"))
        .filter(col("native") =!= col("decl"))
        .count()
      assert(bad == 0L, s"n=$n: native != declarative")
    }
  }

  test("no-mod parity mode == sorted distinct stableHash (60-bit)") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val df = fixtures.toDF("text")
    val declarative = array_sort(array_distinct(transform(
      TextDedup.charShingles(col("text"), 4),
      g => TextDedup.stableHash(g))))
    val bad = df.select(
        ShingleHashes.shingleHashes(col("text"), 4, parity = true, mod = 0L)
          .as("native"),
        declarative.as("decl"))
      .filter(col("native") =!= col("decl")).count()
    assert(bad == 0L)
  }

  test("production mode == pmod(xxhash64, P) over distinct shingles") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val df = fixtures.toDF("text")
    val declarative = array_sort(array_distinct(transform(
      TextDedup.charShingles(col("text"), 3),
      g => pmod(xxhash64(g), lit(TextDedup.P)))))
    val bad = df.select(
        ShingleHashes.shingleHashes(col("text"), 3, parity = false,
          mod = TextDedup.P).as("native"),
        declarative.as("decl"))
      .filter(col("native") =!= col("decl")).count()
    assert(bad == 0L)
  }

  test("winnowFps == hash + full-window sliding min + distinct (both modes)") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = fixtures.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    for ((parity, kgram, w) <- Seq((true, 8, 4), (false, 8, 4), (true, 3, 2))) {
      val base: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (parity) c => TextDedup.stableHash(c) % TextDedup.P
        else c => pmod(xxhash64(c), lit(TextDedup.P))
      val win = Window.partitionBy(col("id")).orderBy(col("pos"))
        .rowsBetween(Window.currentRow, w - 1)
      val declarative = df.select(col("id"), col("text").as("_t"),
          explode(sequence(lit(0),
            greatest(length(col("text")) - kgram, lit(0)))).as("pos"))
        .select(col("id"), col("pos"),
          base(col("_t").substr(col("pos") + 1, lit(kgram))).as("h"))
        .withColumn("n_after", count(lit(1)).over(win))
        .withColumn("wmin", min(col("h")).over(win))
        .filter(col("n_after") === w)
        .select(col("id"), col("wmin").as("fp")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val native = df.select(col("id"),
          explode(ShingleHashes.winnowFps(col("text"), kgram, w, parity,
            TextDedup.P)).as("fp"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(native == declarative, s"parity=$parity kgram=$kgram w=$w")
    }
  }

  test("cdcChunks == split + boundary prefix-sum window + grouped join-hash " +
      "(both modes; r15 optimization invariant)") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // fixtures plus CDC-specific edges: consecutive spaces (empty tokens),
    // leading/trailing spaces, single token
    val texts = fixtures ++ Seq("a  b   c", " leading", "trailing ", "one")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    for ((parity, div) <- Seq((true, 8L), (false, 8L), (true, 2L))) {
      val base: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (parity) c => TextDedup.stableHash(c) else c => xxhash64(c)
      val w = Window.partitionBy(col("id")).orderBy(col("pos"))
      val declarative = df.select(col("id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "t")))
        .withColumn("is_b", (pmod(base(col("t")), lit(div)) === 0).cast("int"))
        .withColumn("seg", sum("is_b").over(w))
        .groupBy(col("id"), col("seg"))
        .agg(array_sort(collect_list(struct(col("pos"), col("t")))).as("ts"))
        .select(col("id"), col("seg"), size(col("ts")).as("seg_tok"),
          base(concat_ws(" ", transform(col("ts"), x => x.getField("t"))))
            .as("seg_hash"))
        .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3)))
        .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).sorted.toSeq)
        .toMap
      val native = df.select(col("id"),
          explode(ShingleHashes.cdcChunks(col("text"), div, parity)).as("c"))
        .select(col("id"), col("c.seg_tok"), col("c.seg_hash"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).sorted.toSeq)
        .toMap
      assert(native == declarative, s"parity=$parity div=$div")
    }
  }

  test("minHashSig(Text) == both prior signature formulations, bit-for-bit") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // real corpus slice + the engineered edge fixtures
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").as("id"), col("text")).limit(300)
    val edge = fixtures.zipWithIndex
      .map { case (t, i) => (100000L + i, t) }.toDF("id", "text")
    val df = real.unionByName(edge).localCheckpoint()
    for ((parity, n, k) <- Seq((true, 4, 8), (false, 4, 8), (true, 3, 16))) {
      // formulation 1: explode + groupBy(id).agg(k mins) — the original
      // minHashSignature shape (empty-shingle docs cannot occur: even ""
      // hashes to one whole-text shingle)
      val hashed = df.select(col("id"),
        explode(ShingleHashes.shingleHashes(col("text"), n, parity,
          TextDedup.P)).as("h"))
      val mins = (0 until k).map { i =>
        val a = 2L * i + 1; val b = i.toLong * i + 1
        min((col("h") * a + b) % TextDedup.P).as(s"mh$i")
      }
      val viaGroupBy = hashed.groupBy(col("id")).agg(mins.head, mins.tail: _*)
        .collect().map(r => r.getLong(0) -> (1 until k + 1).map(r.getLong))
        .toMap
      // formulation 2: per-permutation array_min(transform(...)) over the
      // stored shingle table — the original signatureFromShingles shape
      val sh = df.select(col("id"),
        ShingleHashes.shingleHashes(col("text"), n, parity, TextDedup.P)
          .as("sh"))
      val trans = (0 until k).map { i =>
        val a = 2L * i + 1; val b = i.toLong * i + 1
        array_min(transform(col("sh"), h => (h * a + b) % TextDedup.P))
          .as(s"mh$i")
      }
      val viaTransform = sh.select(col("id") +: trans: _*)
        .collect().map(r => r.getLong(0) -> (1 until k + 1).map(r.getLong))
        .toMap
      // native fused (text) and array forms
      val nativeText = TextDedup.minHashSignature(df, "id", "text", n, k,
          oracleParity = parity)
        .collect().map(r => r.getLong(0) -> (1 until k + 1).map(r.getLong))
        .toMap
      val nativeArr = TextDedup.signatureFromShingles(sh, "id", k)
        .collect().map(r => r.getLong(0) -> (1 until k + 1).map(r.getLong))
        .toMap
      assert(nativeText == viaGroupBy,
        s"parity=$parity n=$n k=$k: fused text form != explode/groupBy form")
      assert(nativeArr == viaTransform,
        s"parity=$parity n=$n k=$k: array form != transform form")
      assert(nativeText == nativeArr,
        s"parity=$parity n=$n k=$k: fused text form != array form")
    }
    // empty shingle arrays yield no signature row (null filtered)
    val empty = Seq((1L, Array.emptyLongArray)).toDF("id", "sh")
    assert(TextDedup.signatureFromShingles(
      empty.select(col("id"), col("sh").cast("array<long>").as("sh")),
      "id", 8).count() == 0L)
  }

  test("output is ascending and duplicate-free") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val rows = fixtures.toDF("text")
      .select(ShingleHashes.shingleHashes(col("text"), 3, parity = true,
        mod = TextDedup.P).as("sh"))
      .collect().map(_.getSeq[Long](0))
    rows.foreach { s =>
      assert(s == s.sorted && s.distinct == s, s"not sorted-distinct: $s")
    }
  }
}
