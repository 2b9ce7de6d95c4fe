package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic heavy-tailed synthetic corpus for the BPE scheduler specs
  * (VERDICT r10 #2): the template `documents` corpus saturates at 89
  * merges and degrades batched BPE to ~1 merge/round, so the production
  * claim ("long disjoint prefixes at 30k-merge depth") needs a fixture
  * whose PAIR counts stay heavy-tailed through depth.
  *
  * Shape: `vocab` distinct pseudo-random letter words (xxhash64-derived,
  * fully deterministic — no RNG state), rank r weighted by a Zipf law
  * `max(1, topCount / r^s)` — the word-frequency regime of real web text
  * (Zipf 1949; s ≈ 1.07 fits large web corpora). Random letter composition
  * keeps the letter-pair (and merged-token-pair) frequency spectrum smooth
  * instead of collapsing onto a few English digraph chains, so the
  * disjoint-prefix batcher keeps finding long runs as the symbol inventory
  * grows. Each word is one row, repeated `cnt` times in its own row's text
  * (the trainer's dictionary weighting sees exact Zipf counts without
  * materializing per-occurrence rows).
  */
object ZipfCorpus {

  def docs(spark: SparkSession, vocab: Int = 30000, topCount: Int = 20000,
           s: Double = 1.07): DataFrame = {
    val len = (lit(3) + pmod(xxhash64(col("id"), lit(7)), lit(8))).cast("int")
    val word = array_join(
      transform(sequence(lit(0), len - 1),
        i => chr(lit(97) + pmod(xxhash64(col("id"), i), lit(26)))),
      "")
    val cnt = greatest(lit(1L),
      floor(lit(topCount.toDouble) / pow(col("id").cast("double"), lit(s))))
      .cast("int")
    spark.range(1, vocab + 1L).select(
      col("id").as("doc_id"),
      array_join(array_repeat(word, cnt), " ").as("text"))
  }
}
