package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fuzzy string matching (entity resolution) as a BLOCKED edit-distance
  * join: never the all-pairs levenshtein cross product.
  *
  * Pigeonhole blocking for maxDist = 1: any single edit (substitution,
  * insertion, deletion) leaves the first `blockLen` characters OR the
  * last `blockLen` characters of the string untouched (an edit at
  * position p < blockLen preserves the suffix block; one at
  * p ≥ blockLen preserves the prefix block — for strings longer than
  * 2·blockLen). So the exact candidate set is the UNION of two hash
  * equi-joins — prefix-block and suffix-block — verified by one
  * `levenshtein` per candidate. This is the 2-segment case of the
  * PassJoin discipline (Li et al. 2011: maxDist k needs k+1 segments);
  * the join stays an equi-join at any corpus size, and block skew is
  * bounded by the key distribution, not the corpus.
  *
  * levenshtein() is a codegen'd built-in in both Spark and DuckDB, so
  * the verify stage is oracle-mirrorable verbatim.
  */
object Fuzzy {

  /** Resolve each left (dirty) string to right (canonical) strings within
    * edit distance `maxDist`. Returns (left id, right id, dist).
    *
    * maxDist = 1 runs the cheap 2-block prefix/suffix path below (two
    * probe keys per row); maxDist > 1 delegates to the general PassJoin
    * segmenting of [[resolveByEditK]] (same contract, same exact recall),
    * so this entry point serves any k while k = 1 keeps its lighter plan.
    * `blockLen` tunes only the k = 1 path — the PassJoin path derives its
    * segment lengths from string length and k, so the parameter is
    * ignored when delegating.
    *
    * For the k = 1 path, strings shorter than 2·blockLen fall back to
    * length-keyed blocks; since one indel shifts the length by one, the
    * right side emits keys for lengths L−1, L, L+1 so cross-length
    * matches still meet (exact, still an equi-join; short-string blocks
    * are small by nature). */
  def resolveByEdit(left: DataFrame, leftId: String, leftStr: String,
                    right: DataFrame, rightId: String, rightStr: String,
                    blockLen: Int = 4, maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    if (maxDist > 1)
      return resolveByEditK(left, leftId, leftStr, right, rightId, rightStr,
        maxDist)
    def blocks(df: DataFrame, id: String, s: String, side: String,
               lenKeys: Seq[Int]) = {
      // at length == 2*blockLen BOTH key families are emitted, so a
      // short/long pair straddling the boundary (lengths 2B-1 and 2B,
      // one indel apart) still meets in a length block
      val ps = when(length(col(s)) >= 2 * blockLen, array(
          concat(lit("p"), substring(col(s), 1, blockLen)),
          concat(lit("s"), substring(col(s), -blockLen, blockLen))))
        .otherwise(array().cast("array<string>"))
      val lk = when(length(col(s)) <= 2 * blockLen,
          array(lenKeys.map(d =>
            concat(lit("l"), (length(col(s)) + d).cast("string"))): _*))
        .otherwise(array().cast("array<string>"))
      df.select(col(id).as(s"${side}_id"), col(s).as(s"${side}_s"),
        explode(concat(ps, lk)).as("blk"))
    }
    val cand = blocks(left, leftId, leftStr, "l", Seq(0))
      .join(blocks(right, rightId, rightStr, "r", Seq(-1, 0, 1)), Seq("blk"))
      .select(col("l_id"), col("l_s"), col("r_id"), col("r_s"))
      .distinct()
    cand
      .withColumn("dist", levenshtein(col("l_s"), col("r_s")))
      .filter(col("dist") <= maxDist)
      .select(col("l_id"), col("r_id"), col("dist"))
  }

  /** General edit-distance-k resolution via PassJoin segment blocking
    * (Li, Deng, Feng 2011): every canonical string splits into k+1
    * contiguous segments (pigeonhole: k edits cannot touch them all, so
    * some segment survives VERBATIM in any string within distance k, its
    * position shifted by at most k). The right side indexes its segments
    * under (length, segment#, text); the left side probes every substring
    * that could be a surviving segment — for each candidate right length
    * within ±k and each segment, the substrings at the segment's position
    * ±k. Candidates meet in ONE hash equi-join on the segment key —
    * O((2k+1)²·(k+1)) probe keys per row, never all-pairs — and one
    * levenshtein verifies each. The blocking is EXACT (recall 1): the
    * oracle proves it by computing the brute-force all-pairs answer.
    *
    * Segmentation (0-based): base = L div (k+1), rem = L mod (k+1); the
    * first `rem` segments carry base+1 chars; start_j = j·base +
    * min(j, rem). Strings with length < k+1 fall back to length-band
    * blocks (some segment would be empty). */
  def resolveByEditK(left: DataFrame, leftId: String, leftStr: String,
                     right: DataFrame, rightId: String, rightStr: String,
                     maxDist: Int): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val m = maxDist + 1 // segment count
    def segLen(lr: Column, j: Int): Column =
      (lr / m).cast("int") + when(lit(j) < lr % m, 1).otherwise(0)
    def segStart(lr: Column, j: Int): Column = // 0-based
      (lit(j) * (lr / m).cast("int") + least(lit(j), lr % m)).cast("int")

    // right: one key per segment — (rightLen, segIdx, segText)
    val rKeys = (0 until m).map { j =>
      val lr = length(col(rightStr))
      struct(lr.as("lr"), lit(j).as("j"),
        col(rightStr).substr(segStart(lr, j) + 1, segLen(lr, j)).as("seg"),
        (lr >= m).as("valid"))
    }
    // r14: explode plain + relational filter instead of the filter(array)
    // higher-order form — HOFs are CodegenFallback (interpreted), and the
    // per-row array work dominated the whole query (OPTIMIZATION_r14.md: the
    // left probe build alone was ~4.5-8.6 s of q_fuzzy_resolve2's ~7 s at
    // sf0.1; the relational form runs in whole-stage codegen).
    val rb = right.select(col(rightId).as("r_id"), col(rightStr).as("r_s"),
        explode(array(rKeys: _*)).as("k"))
      .filter(col("k.valid"))
      .select(col("r_id"), col("r_s"), col("k.lr").as("lr"),
        col("k.j").as("j"), col("k.seg").as("seg"))

    // left: probe keys for every plausible (right length, segment, shift).
    // r14 formulation (OPTIMIZATION_r14.md A/B, ~20x on this stage): explode a
    // LITERAL (dl, j, d) combo array — constant-folded, so Generate emits
    // combo rows without building a per-input-row array — and compute the
    // ONE probed substring per OUTPUT row in whole-stage codegen. The old
    // form built a (2k+1)²·(k+1)-element struct array per input row (every
    // probe substring materialized into the array before explode), which
    // alone carried ~80% of q_fuzzy_resolve2's wall time at sf0.1
    // (4.3-8.5 s vs 0.2-0.7 s measured for the same 275k probe rows). Its
    // array_distinct rode the array form and is dropped with it: duplicate
    // probe keys only duplicate candidate rows, which the final candidate
    // `.distinct()` already collapses — same pairs out.
    // Guide §3.2 on top: a probe key whose assumed right length `lr`
    // occurs on NO right row can never match — semi-join the probes
    // against the right side's distinct lengths (broadcast, bounded by the
    // string-length domain) BEFORE the segment equi-join's exchange; on
    // fixed-width corpora this drops ~4/5 of the probe rows map-side.
    val combos = for {
      dl <- -maxDist to maxDist
      j <- 0 until m
      d <- -maxDist to maxDist
    } yield struct(lit(dl).as("dl"), lit(j).as("j"), lit(d).as("d"))
    val rLens = broadcast(
      right.select(length(col(rightStr)).as("lr")).distinct())
    val lb = {
      val lsL = length(col("l_s"))
      val jC = col("c.j")
      val lr = lsL + col("c.dl")
      val sl = (lr / m).cast("int") + when(jC < lr % m, 1).otherwise(0)
      val p = (jC * (lr / m).cast("int") + least(jC, lr % m)).cast("int") +
        col("c.d")
      left.select(col(leftId).as("l_id"), col(leftStr).as("l_s"),
          explode(array(combos: _*)).as("c"))
        .filter(lr >= m && p >= 0 && (p + sl) <= lsL)
        .select(col("l_id"), col("l_s"), lr.as("lr"), jC.as("j"),
          col("l_s").substr(p + 1, sl).as("seg"))
        .join(rLens, Seq("lr"), "left_semi")
    }

    // short strings (length < m on either side): length-band fallback
    val shortL = left.filter(length(col(leftStr)) < m + maxDist)
      .select(col(leftId).as("l_id"), col(leftStr).as("l_s"),
        explode(array((-maxDist to maxDist).map(d =>
          (length(col(leftStr)) + d).cast("int")): _*)).as("lb"))
    val shortR = right.filter(length(col(rightStr)) < m)
      .select(col(rightId).as("r_id"), col(rightStr).as("r_s"),
        length(col(rightStr)).cast("int").as("lb"))
    val shortCand = shortL.join(shortR, Seq("lb"))
      .select(col("l_id"), col("l_s"), col("r_id"), col("r_s"))

    val cand = lb.join(rb, Seq("lr", "j", "seg"))
      .select(col("l_id"), col("l_s"), col("r_id"), col("r_s"))
      .unionByName(shortCand)
      .distinct()
    cand
      .withColumn("dist", levenshtein(col("l_s"), col("r_s")))
      .filter(col("dist") <= maxDist)
      .select(col("l_id"), col("r_id"), col("dist"))
  }
}
