package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding (BPE) vocabulary training — the
  * tokenizer-training stage of an LLM data pipeline (Sennrich et al. 2016;
  * the GPT-2/Llama tokenizer family), restated in Spark's execution model.
  *
  * Like classic BPE trainers, the iterated state is the DISTINCT-WORD
  * dictionary weighted by corpus frequency, not the corpus: the corpus is
  * scanned ONCE to build (word, count), and every merge round runs over
  * the dictionary (~|vocab| rows — millions at 100 TB, never the corpus
  * rows themselves). Each round is one adjacent-pair explode + one
  * map-side-combining partial-agg shuffle + a 1-row TakeOrdered collect
  * (manifest-scale driver traffic, the [[Clustering]] discipline), then a
  * pure codegen `replace` projection applies the winning merge; the
  * dictionary is materialized per round (Iterate.checkpoint: reliable
  * checkpoint when a checkpoint dir is set) so round n never re-derives
  * rounds 0..n-1.
  *
  * Determinism is designed in: the winning pair is (max count, then
  * lexicographically smallest left, then right) under binary string
  * compare — bit-reproducible across partitioning, runs, and engines,
  * so the DuckDB oracle mirrors the merge table exactly (q_bpe_train).
  *
  * Token strings use a sentinel encoding: every token is wrapped in
  * single U+0001 sentinels with DOUBLED sentinels between tokens
  * (`<s>tok<s><s>tok<s> ... `), so one literal left-to-right
  * `replace(<s>l<s><s>r<s> -> <s>lr<s>)` performs
  * exactly the standard non-overlapping left-to-right BPE merge: each
  * replacement consumes its own boundary sentinels only, leaving
  * neighbouring pair boundaries intact ("a a a a" merges to [aa, aa], and
  * "a a a" to [aa, a], matching reference BPE).
  */
object Bpe {

  private val S = "\u0001"
  private val SS = S + S
  private val SSre = java.util.regex.Pattern.quote(SS)

  /** Rounds between dictionary materializations in the training loops
    * (r14): the per-round eager checkpoint job cost more than recomputing
    * a few stacked replace projections from the previous checkpoint. */
  private val CkptEvery = 4

  /** (tokstr, cnt) dictionary: one row per distinct `[a-z]+` word of the
    * lowercased corpus, sentinel-encoded at the character level. */
  private def charDict(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(concat(lit(S),
          array_join(regexp_extract_all(col("word"), lit("."), lit(0)), SS),
          lit(S)).as("tokstr"),
        col("cnt"))

  /** Top-`horizon` adjacent pairs of the current dictionary by
    * (count desc, l, r) — the one candidate collect every training round
    * pays.
    *
    * Two physical paths, SAME exact result (BpeSpec pins their equality):
    *   - **single-partition dictionary** (the metadata-scale case every
    *     local round hits after the charDict groupBy's AQE coalesce): one
    *     single-task job computes the exact pair counts in a per-task hash
    *     map and emits only the sorted top `horizon`. The DataFrame plan
    *     this replaces paid an explode + exchange + AQE stage barrier +
    *     TakeOrdered — 3 stage submissions per round of pure scheduling
    *     floor over a dictionary of a few dozen rows (BASELINE.md round-14
    *     third wave: 0.112 s/round of which the actual work is
    *     microseconds; 83 rounds at 256 merges). Exact because the one
    *     partition holds ALL rows.
    *   - **multi-partition dictionary** (the 100 TB shape — a corpus-scale
    *     vocabulary does not fit one task): the partial-agg shuffle +
    *     TakeOrdered plan, unchanged.
    * The tie-break compares [a-z]+ concatenations, identical under Java
    * UTF-16 and Spark UTF-8 binary order (ASCII-only by charDict's
    * filter). */
  private def topPairs(toks: DataFrame, horizon: Int): Array[(String, String, Long)] = {
    val rdd = toks.select(col("tokstr"), col("cnt")).rdd
    if (rdd.getNumPartitions == 1) {
      val ssPat = java.util.regex.Pattern.compile(SSre)
      rdd.mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
        it.foreach { row =>
          val s = row.getString(0)
          val cnt = row.getLong(1)
          // strip the single wrapping sentinels, split on the doubled ones
          val body = s.substring(1, s.length - 1)
          val ts = ssPat.split(body, -1)
          var i = 0
          while (i < ts.length - 1) {
            val k = (ts(i), ts(i + 1))
            m.update(k, m.getOrElse(k, 0L) + cnt)
            i += 1
          }
        }
        m.iterator.map { case ((l, r), c) => (l, r, c) }.toSeq
          .sortBy { case (l, r, c) => (-c, l, r) }
          .take(horizon).iterator
      }.collect()
    } else {
      val tok = split(trim(col("tokstr"), S), SSre)
      toks
        .select(col("cnt"),
          explode(zip_with(slice(tok, lit(1), size(tok) - 1),
            slice(tok, lit(2), size(tok) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(horizon).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    }
  }

  /** The merge table after `nMerges` training rounds: (step, l_tok, r_tok,
    * cnt) — the learned vocabulary artifact, in merge order (cnt is the
    * weighted pair frequency that won the round). Stops early if no pair
    * remains. */
  def train(docs: DataFrame, textCol: String, nMerges: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var toks = Iterate.checkpoint(charDict(docs, textCol))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 0
    var exhausted = false
    while (step < nMerges && !exhausted) {
      val best = topPairs(toks, 1)
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) = best(0)
        merges += ((step, l, r, c))
        toks = Iterate.checkpoint(toks.withColumn("tokstr",
          replace(col("tokstr"), lit(S + l + SS + r + S), lit(S + l + r + S))))
        step += 1
      }
    }
    merges.result().toDF("step", "l_tok", "r_tok", "cnt")
  }

  /** [[train]] with up to `maxBatch` merges applied per round — the
    * standard scalable-BPE move for production vocab sizes, where one
    * shuffle + driver round-trip per merge (fine for 16) is infeasible
    * for a 30k-merge vocabulary (VERDICT r08 #5).
    *
    * The batch is chosen so the result is PROVABLY BIT-IDENTICAL to
    * sequential [[train]], not an approximation. Candidates are collected
    * in the sequential winner order (cnt desc, l, r); the batch is the
    * maximal CONSECUTIVE prefix of pairwise symbol-disjoint pairs,
    * trimmed to those whose count is STRICTLY greater than the first
    * excluded pair's count (`cut`; the leader is exempt). Soundness:
    *   - a merge only changes counts of pairs sharing one of its symbols,
    *     so the selected (disjoint) pairs keep their exact counts across
    *     the batch's rounds;
    *   - every pair sharing a symbol with a selected pair sits at or
    *     below the cut position (a conflict inside the prefix would have
    *     ended it), so every mutated pair and every newly created pair
    *     (e.g. (x, ab) from merging (a,b), whose count is bounded by its
    *     source (x, a)) competes with count <= cut < c_i — each selected
    *     p_i still wins its sequential round outright, including against
    *     lex ties (the strict inequality).
    * A worst-case round degrades to the sequential single merge, never
    * to a different vocabulary. q_bpe_train_batched therefore shares
    * q_bpe_train's sequential DuckDB mirror verbatim, and BpeSpec asserts
    * both equality with [[train]] and that multi-merge rounds actually
    * occur on the test corpus (non-vacuous batching). */
  // observability for BpeSpec's non-vacuity check: rounds (shuffle +
  // driver round-trips) the last trainBatched call actually paid
  private[graft] val lastBatchedRounds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** [[trainBatched]] and the number of rounds it took (test/tuning aid:
    * rounds < merges proves the batching fired). */
  def roundsUsed(docs: DataFrame, textCol: String, nMerges: Int,
                 maxBatch: Int): Int = {
    trainBatched(docs, textCol, nMerges, maxBatch).collect()
    lastBatchedRounds.get()
  }

  def trainBatched(docs: DataFrame, textCol: String, nMerges: Int = 16,
                   maxBatch: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var toks = Iterate.checkpoint(charDict(docs, textCol))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 0
    var rounds = 0
    var exhausted = false
    while (step < nMerges && !exhausted) {
      rounds += 1
      val horizon = math.max(maxBatch * 4, 16)
      val cands = topPairs(toks, horizon)
      if (cands.isEmpty) exhausted = true
      else {
        val rows = cands
        // maximal consecutive disjoint prefix, capped by batch/vocab room
        val usedSyms = scala.collection.mutable.Set.empty[String]
        var m = 0
        while (m < rows.length && m < maxBatch && step + m < nMerges &&
            !usedSyms.contains(rows(m)._1) && !usedSyms.contains(rows(m)._2)) {
          usedSyms += rows(m)._1; usedSyms += rows(m)._2
          m += 1
        }
        // the first excluded pair bounds every mutated/new pair's count;
        // an exhausted SHORT candidate list bounds them at 0 (a full
        // horizon leaves uncollected pairs <= the last collected count)
        val cut =
          if (m < rows.length) rows(m)._3
          else if (cands.length < horizon) 0L
          else rows.last._3
        val sel = rows.take(m).zipWithIndex
          .takeWhile { case ((_, _, c), i) => i == 0 || c > cut }
          .map(_._1)
        sel.foreach { case (l, r, c) => merges += ((step, l, r, c)); step += 1 }
        // disjoint symbols make the replaces order-independent; applied in
        // winner order anyway
        val next = sel.foldLeft(col("tokstr")) { case (acc, (l, r, _)) =>
          replace(acc, lit(S + l + SS + r + S), lit(S + l + r + S))
        }
        // r14: materialize every CKPT_EVERY rounds instead of every round —
        // between checkpoints the next candidate pass recomputes at most
        // CKPT_EVERY stacked codegen replace projections over the
        // dictionary (narrow, no shuffle re-run), which costs microseconds
        // against the ~26 ms/round the eager materialization job paid
        // (OPTIMIZATION_r14.md). Lineage stays flat: bounded at CKPT_EVERY
        // projections over the last checkpoint, so the Iterate contract's
        // no-unbounded-plan-growth guarantee holds.
        toks = {
          val grown = toks.withColumn("tokstr", next)
          if (rounds % CkptEvery == 0) Iterate.checkpoint(grown) else grown
        }
      }
    }
    lastBatchedRounds.set(rounds)
    merges.result().toDF("step", "l_tok", "r_tok", "cnt")
  }

  /** Apply a learned merge list to the corpus: per-doc BPE token count
    * before (chars) and after the merges — the compression audit of a
    * trained vocabulary. One corpus scan; the merge chain is `merges.size`
    * stacked codegen `replace` projections (no join: the learned merges
    * ride along as literals, like k-means centroids). */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             merges: Seq[(String, String)]): DataFrame = {
    val perWord = concat(lit(S),
      array_join(regexp_extract_all(col("word"), lit("."), lit(0)), SS),
      lit(S))
    val merged = merges.foldLeft(perWord) { case (acc, (l, r)) =>
      replace(acc, lit(S + l + SS + r + S), lit(S + l + r + S))
    }
    // The merge-chain replaces run once per DISTINCT word and join back to
    // the (doc, word) occurrence counts — tokenizer CPU scales with the
    // vocabulary, not the corpus (the per-occurrence formulation re-ran 16
    // string replaces per word instance; measured 1.1 s -> 0.5 s at sf0.1,
    // and the gap is the whole point at 100 TB where occurrences/vocab is
    // orders of magnitude). AQE broadcasts the encoded vocab when small.
    val occ = docs.select(col(idCol),
        explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("cnt"))
    val vocab = occ.select("word").distinct()
      .select(col("word"), length(col("word")).cast("long").as("n_char"),
        size(split(trim(merged, S), SSre)).cast("long").as("n_tok"))
    occ.join(vocab, Seq("word"))
      .groupBy(idCol)
      .agg(sum(col("n_char") * col("cnt")).as("chars"),
        sum(col("n_tok") * col("cnt")).as("bpe_tokens"),
        sum("cnt").as("words"))
  }
}
