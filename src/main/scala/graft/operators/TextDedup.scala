package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection for large-scale training-data curation.
  *
  * All hashes are built from `md5` (bit-identical across engines, so the
  * DuckDB oracle can mirror every step): `base(s) = bigint(hex(md5(s)[0,15))`
  * is a 60-bit stable string hash; MinHash perturbs it with `(a*h + b) mod p`
  * (p = 2^31-1) keeping every intermediate inside signed-64 range.
  *
  * Scale notes (100 TB): every op here is a narrow projection followed by one
  * hash-partitioned aggregation — no cross-record shuffle grows beyond
  * O(#docs * k). LSH banding turns the quadratic candidate join into a
  * bucket-equi-join, which Spark executes as a shuffled hash join on the
  * band key; skew (a hot bucket) is bounded by band width.
  */
object TextDedup {

  val P: Long = 2147483647L // 2^31 - 1

  /** 60-bit stable hash of a string (same value computable in DuckDB as
    * ('0x' || substr(md5(s),1,15))::BIGINT). */
  def stableHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Distinct character n-grams of a string as an array column. */
  def charShingles(c: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(0), greatest(length(c) - n, lit(0))),
      i => c.substr(i + 1, lit(n))))

  /** MinHash signature: k minimums of (a_i*h + b_i) mod p over the shingle
    * hashes. Returns one row per input row with `sig` array<bigint>.
    * Deterministic coefficients a_i = 2i+1 (odd), b_i = i*i+1.
    */
  def minHashSignature(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 4, k: Int = 8,
                       oracleParity: Boolean = true): DataFrame = {
    // oracleParity=true uses the md5-derived hash (reproducible in any SQL
    // engine); production path uses Spark's codegen'd xxhash64 — same
    // distribution either way. The whole stage is ONE fused native
    // expression (text -> k minima, no intermediate shingle array): the
    // explode + groupBy(id).agg(k mins) formulation this replaces paid a
    // |docs x shingles|-row exchange for bit-identical output (ShingleSpec
    // pins equality against that form). The k element extractions below
    // collapse into one projection; codegen subexpression elimination
    // evaluates the deterministic signature expression once per row.
    val sig = graft.functions.ShingleHashes
      .minHashSigText(col(textCol), n, oracleParity, k, P)
    df.select(col(idCol) +:
      (0 until k).map(i => element_at(sig, i + 1).as(s"mh$i")): _*)
  }

  /** LSH candidate pairs: split the k-wide signature into bands of `r` rows;
    * docs sharing any band bucket become a candidate pair (id1 < id2).
    * One shuffle on the band-bucket key; output is distinct pairs.
    *
    * Over-full buckets are DROPPED, not joined: a (band, bucket) holding b
    * docs emits b*(b-1)/2 pairs, so one hot bucket (58% of the synthetic
    * corpus shares a band bucket) makes the output quadratic no matter how
    * the join is partitioned — AQE splits partitions, not the pair count.
    * A bucket that a large fraction of the corpus falls into carries ~zero
    * discriminating signal (the band agreement is uninformative), so the
    * standard production move is a size cap: count per (band, bucket) and
    * exclude buckets above `maxBucket`. The filter is deterministic (pure
    * count, no sampling) so the DuckDB oracle mirrors it exactly.
    *
    * @param maxBucket drop (band, bucket) groups holding more docs than
    *   this; <= 0 disables the cap (small-input / parity use only).
    * @param materialize eagerly localCheckpoint the banded signature so the
    *   self-join computes it once. Measured: without it the md5 signature
    *   pass runs twice (2x ~3 s at sf0.1). Trade-off documented for cluster
    *   use: checkpoint blocks are not recomputable after executor loss, so
    *   long-lived cluster pipelines may prefer `materialize = false` plus
    *   caller-managed persist()/table materialization. */
  def lshCandidatePairs(sig: DataFrame, idCol: String, k: Int = 8, r: Int = 2,
                        maxBucket: Int = 64,
                        materialize: Boolean = true): DataFrame =
    lshCandidatesAndHotMembers(sig, idCol, k, r, maxBucket, materialize)._1

  /** Like [[lshCandidatePairs]], but ALSO returns the distinct ids of docs
    * appearing in any over-full (dropped) bucket — the input a caller needs
    * to recover the recall the cap would otherwise cost (see
    * [[nearDuplicatePairs]]'s hybrid). Second frame is empty when the cap
    * is disabled. */
  def lshCandidatesAndHotMembers(sig: DataFrame, idCol: String,
                                 k: Int = 8, r: Int = 2, maxBucket: Int = 64,
                                 materialize: Boolean = true): (DataFrame, DataFrame) = {
    // posexplode instead of a k/r-way union: one pass over the signature
    // (the union form recomputed the whole signature per band).
    val bandCols = (0 until k / r).map { band =>
      concat_ws("_", (band * r until band * r + r).map(i => col(s"mh$i")): _*)
    }
    // localCheckpoint: the signature (an md5 pass over every shingle) is
    // materialized once and both join sides read the checkpoint, instead of
    // recomputing the full hash pass per side.
    val banded = sig
      .select(col(idCol), posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
    val all = if (materialize) banded.localCheckpoint() else banded
    // Size cap: groupBy-count (map-side partial agg) + equi-join back on the
    // same (band, bucket) key the self-join shuffles on — no extra sort, and
    // the surviving-bucket list is tiny so Catalyst/AQE can broadcast it.
    val (bands, hotMembers) =
      if (maxBucket <= 0)
        (all, all.select(col(idCol)).limit(0))
      else {
        val counts = all.groupBy(col("band"), col("bucket")).count()
        val ok = counts.filter(col("count") <= maxBucket)
          .select(col("band"), col("bucket"))
        val hot = counts.filter(col("count") > maxBucket)
          .select(col("band"), col("bucket"))
        (all.join(ok, Seq("band", "bucket")),
          all.join(hot, Seq("band", "bucket")).select(col(idCol)).distinct())
      }
    val a = bands.select(col(idCol).as("id1"), col("band"), col("bucket"))
    val b = bands.select(col(idCol).as("id2"), col("band"), col("bucket"))
    // Dedup rides an id1-ONLY exchange instead of distinct()'s (id1, id2)
    // exchange: every copy of a pair shares id1, so hash-partitioning by
    // id1 already co-locates duplicates, and the (id1, id2) aggregation
    // runs exchange-free on top (subset partitioning satisfies the
    // aggregate's clustering). The payoff is double — the dedup shuffle
    // keys on one column, and the verify join every consumer runs next is
    // BY id1, so it reuses this exact partitioning instead of exchanging
    // the pair table again (measured at sf0.1: ~5 s off the 16M-raw-pair
    // chain; candidates/verified counts identical).
    val pairs = a.join(b, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .repartition(col("id1"))
      .dropDuplicates()
    (pairs, hotMembers)
  }

  /** SimHash (60-bit): majority vote per bit position over whitespace-token
    * hashes. Bit b of the result is set iff more token hashes have bit b set
    * than unset. Single explode + one hash-partitioned groupBy with 60 sum
    * aggregates (one pass, map-side partial aggregation — no per-bit shuffle).
    */
  def simHashSignature(df: DataFrame, idCol: String, textCol: String,
                       oracleParity: Boolean = true): DataFrame = {
    val base: Column => Column =
      if (oracleParity) stableHash else c => xxhash64(c).bitwiseAND(lit((1L << 60) - 1))
    val tok = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("t"))
      .select(col(idCol), base(col("t")).as("h"))
    val bitSums = (0 until 60).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"b$b")
    }
    tok.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until 60).map { b =>
          when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
        }.reduce(_ + _).as("simhash"))
  }

  /** EXACT Hamming near-duplicate pairs over a precomputed bit-signature
    * column ([[simHashSignature]], [[graft.multimodal.Multimodal]]'s image
    * dHash, per-frame video dHash) — the join SimHash exists for, which
    * the signature operator alone does not provide: all signature pairs
    * within Hamming distance `maxHamming`, WITHOUT the O(n^2) cartesian.
    *
    * Two-stage shape, both stages exact:
    *
    *  1. COLLAPSE identical signatures to their lowest-id representative.
    *     Identical content is the dominant real-world skew (the synthetic
    *     corpus's giant duplicate family shares one simhash; a segment
    *     equi-join over raw rows would go quadratic in family size for
    *     pairs a value-equality groupBy already implies). Hamming-0-
    *     by-value cliques are therefore REPRESENTED, not enumerated —
    *     exact-duplicate grouping by signature value is the existing
    *     q_simhash / q_fingerprint discipline.
    *  2. PIGEONHOLE BANDING over the distinct signatures: split the
    *     `bits`-wide signature into maxHamming+1 disjoint segments; two
    *     signatures within Hamming maxHamming must agree EXACTLY on at
    *     least one segment (k flipped bits cannot touch all k+1
    *     segments), so a segment equi-join loses no qualifying pair.
    *     Survivors verify with the codegen `bit_count(xor)` — exact, not
    *     approximate.
    *
    * Returns (id1, id2, hamming) over representatives, id1 < id2,
    * 1 <= hamming <= maxHamming (0 cannot occur between DISTINCT
    * signatures). Candidate volume tracks near-collision structure among
    * distinct signatures; a residual hot segment there means many
    * almost-identical distinct signatures — exactly the pairs the join
    * exists to find. */
  def hammingNearDupPairs(sigs: DataFrame, idCol: String, hashCol: String,
                          maxHamming: Int = 3, bits: Int = 60): DataFrame = {
    require(maxHamming >= 0 && bits > maxHamming,
      s"need bits > maxHamming, got bits=$bits maxHamming=$maxHamming")
    val reps = sigs.groupBy(col(hashCol).as("h"))
      .agg(min(col(idCol)).as("rid"))
    val nSeg = maxHamming + 1
    val segW = bits / nSeg
    val segCols = (0 until nSeg).map { i =>
      val lo = i * segW
      val w = if (i == nSeg - 1) bits - lo else segW
      struct(lit(i).as("seg"),
        shiftright(col("h"), lo).bitwiseAND(lit((1L << w) - 1)).as("key"))
    }
    val banded = reps
      .select(col("rid"), col("h"), explode(array(segCols: _*)).as("b"))
      .select(col("rid"), col("h"), col("b.seg").as("seg"), col("b.key").as("key"))
    val a = banded.toDF("id1", "h1", "seg", "key")
    val b = banded.toDF("id2", "h2", "seg", "key")
    a.join(b, Seq("seg", "key"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        expr(s"bit_count(h1 ^ h2)").cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Jaccard over two precomputed distinct-shingle arrays, truncated to 4
    * decimals with floor (bit-identical to the DuckDB mirror). When scoring
    * many pairs, compute shingle arrays once per document BEFORE the join —
    * recomputing them per pair multiplies the shingling cost by the average
    * pair fan-out. */
  def jaccardFromShingles(sa: Column, sb: Column): Column = {
    // Both inputs hold DISTINCT elements (charShingles dedups), so
    // |union| = |a| + |b| - |intersection| — no per-pair concat +
    // re-dedup, which was the dominant cost when scoring many pairs
    // (array_distinct builds and hashes a |a|+|b| array per pair).
    val inter = size(array_intersect(sa, sb)).cast("double")
    val uni = (size(sa) + size(sb)).cast("double") - inter
    floor(inter / uni * 10000) / 10000.0
  }

  /** Jaccard over two SORTED distinct-shingle arrays via the codegen'd
    * merge-walk [[graft.functions.SortedIntersectCount]] — no per-pair hash
    * set. Same value as [[jaccardFromShingles]] (for distinct arrays,
    * |union| = |a| + |b| - |intersection|, exactly). Caller must sort each
    * array once per document (array_sort). */
  def jaccardFromSortedShingles(sa: Column, sb: Column): Column = {
    val inter = graft.functions.ArrayFunctions.sortedIntersect(sa, sb).cast("double")
    val uni = (size(sa) + size(sb)).cast("double") - inter
    floor(inter / uni * 10000) / 10000.0
  }

  /** Composed near-duplicate pair detection over a document table: MinHash
    * signatures -> capped-LSH candidate pairs -> exact trigram-Jaccard
    * verification, HYBRIDIZED with an exact prefix-filtered similarity join
    * over the docs the cap would otherwise silence. Returns (id1, id2, jac)
    * with id1 < id2 and jac >= `minJaccard` (jac floored to 4 decimals).
    *
    * THE CAP CONTRACT (two tiers): a (band, bucket) group holding at most
    * `maxBucket` docs is enumerated directly — per-bucket work is bounded
    * by maxBucket^2/2 pairs, so the default ceiling (4096) bounds any
    * single bucket at ~8.4M candidate pairs, trivially partitionable.
    * A bucket LARGER than the ceiling switches ALGORITHM instead of being
    * dropped: its member docs are routed to [[exactJaccardPairs]], whose
    * cost tracks the true-pair output size rather than bucket^2. Dropping
    * (round 1's cap=64 behavior) was measured against exact ground truth
    * and cost 81% recall on the synthetic corpus (sf0.01: 1,600 of 8,308
    * true pairs found) — the hot bucket IS the giant duplicate family,
    * i.e. exactly the content a dedup pass exists to catch. Any true pair
    * colliding only in over-ceiling buckets has BOTH ends in the
    * hot-member set, so hybrid recall >= uncapped-LSH recall at every
    * ceiling; residual misses are LSH-inherent only (pairs whose
    * signatures collide in no band). Measured recall ships as the
    * first-class audit query q_lsh_recall (see BASELINE.md) so any corpus
    * slice can re-audit the trade-off. `maxBucket <= 0` disables both the
    * ceiling and the hybrid (pure LSH, quadratic under hot buckets). */
  def nearDuplicatePairs(docs: DataFrame, idCol: String, textCol: String,
                         minJaccard: Double = 0.6, maxBucket: Int = 4096,
                         oracleParity: Boolean = true): DataFrame = {
    // ONE hash pass: the sorted distinct 3-gram hash arrays feed BOTH the
    // minhash signature (min of perturbed hashes, same coefficients as
    // minHashSignature) and the exact verification — the single-pass design
    // incrementalDedup measured at ~10 -> ~6 s per corpus side at sf0.1,
    // now applied to the self-join pipeline too. The signature space is
    // then exactly the space the Jaccard threshold verifies.
    // k = 16 / 8 bands (vs the standalone op's 8/4): the 3-gram signature
    // space needs more bands to clear the verification threshold — at
    // jac = 0.6 the band-collision probability is 1-(1-0.36)^8 = 0.97 vs
    // 0.83 at 4 bands (measured on the synthetic corpus: 0.63 found at 4
    // bands, 0.836 with the old two-pass 4-gram signature, see BASELINE.md
    // for the shipped number). Cost: 8 extra min-aggregates in the same
    // partial-agg shuffle + 2x band rows — still one corpus hash pass.
    val sh = sortedShingleHashes(docs, idCol, textCol, oracleParity = oracleParity)
    val sig = signatureFromShingles(sh, idCol, k = 16)
    val (cand, hotMembers) =
      lshCandidatesAndHotMembers(sig, idCol, k = 16, r = 2,
        maxBucket = maxBucket)
    // the same checkpointed arrays verify every candidate as a codegen
    // merge walk (no per-candidate hash set, no second corpus hash pass)
    val t1 = sh.toDF("id1", "sh1")
    val t2 = t1.toDF("id2", "sh2")
    // Length prefilter ahead of the merge walk: jac >= t forces
    // t*|B| <= |A| (and symmetrically), so a size-ratio check — two O(1)
    // array-length reads — skips the O(|A|+|B|) intersection for every
    // candidate whose set sizes already rule it out. Pure filter, no
    // change to the result set.
    val lshVerified = cand.join(t1, Seq("id1")).join(t2, Seq("id2"))
      .filter(size(col("sh1")).cast("double") >= size(col("sh2")) * minJaccard &&
        size(col("sh2")).cast("double") >= size(col("sh1")) * minJaccard)
      .withColumn("jac", jaccardFromSortedShingles(col("sh1"), col("sh2")))
      .filter(col("jac") >= minJaccard)
      .select(col("id1"), col("id2"), col("jac"))
    // One cheap action (over the already-checkpointed banded signature)
    // decides whether any bucket exceeded the ceiling: the common case —
    // none — then skips the entire exact-join subtree AND the union+distinct
    // shuffle, returning the pure LSH-verified plan unchanged.
    if (maxBucket <= 0 || hotMembers.isEmpty) lshVerified
    else {
      val hotDocs = docs.join(hotMembers, Seq(idCol), "left_semi")
      val hotPairs =
        exactJaccardPairs(hotDocs, idCol, textCol, minJaccard, 3, oracleParity)
      // a pair caught by both paths carries the identical jac (same shingle
      // arrays, same floored formula), so distinct() is an exact dedup
      lshVerified.unionByName(hotPairs).distinct()
    }
  }

  /** Incremental corpus dedup — the batch-N+1 ingestion shape: match an
    * INCOMING batch against an EXISTING corpus and mark each incoming doc
    * as duplicate-of-existing (best existing match + Jaccard). Existing and
    * incoming must have disjoint id spaces.
    *
    * Never existing x existing, never all-pairs: the existing side
    * contributes its minhash band index (in production a stored table,
    * appended per batch — only the incoming batch is hashed fresh), and
    * candidates come from the cross-side band-bucket equi-join. The same
    * deterministic bucket ceiling as [[nearDuplicatePairs]] applies to the
    * COMBINED bucket population, with the same hybrid recovery: members of
    * over-ceiling buckets go through the prefix-filtered exact join
    * (incoming-hot x existing-hot only), so recall is never below the
    * uncapped LSH while candidate volume stays near-linear. All stages are
    * explode / groupBy / equi-join on gram-hash or band keys — the plan
    * shape that survives a 100 TB existing corpus.
    *
    * Returns one row PER INCOMING doc: (new_id, match_id, jac, is_dup) with
    * match_id/jac of the best verified match (highest Jaccard, ties to the
    * lowest existing id), match_id null + jac 0.0 + is_dup false when no
    * existing doc clears `minJaccard`. */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame,
                       idCol: String, textCol: String,
                       minJaccard: Double = 0.6, maxBucket: Int = 4096,
                       oracleParity: Boolean = true): DataFrame = {
    // ONE md5 pass per side: the sorted 3-gram hash arrays feed BOTH the
    // minhash signatures (min of perturbed hashes, same coefficients as
    // minHashSignature) and the exact verification, so the signature space
    // is the very space the Jaccard threshold verifies and the corpus is
    // hashed half as often (measured ~10 -> ~6 s at sf0.1; the self-join
    // pipeline [[nearDuplicatePairs]] adopted the same design in round 5).
    val shE = sortedShingleHashes(existing, idCol, textCol, oracleParity = oracleParity)
    incrementalDedupAgainst(shE, bandedFromShingles(shE, idCol),
      incoming, idCol, textCol, minJaccard, maxBucket, oracleParity)
  }

  /** Banded minhash index rows (id, band, bucket) from a
    * [[sortedShingleHashes]] table — the persistable form of the existing-
    * corpus side (see [[DedupIndex]]): k perturbed-min signatures in k/2
    * bands of 2, same coefficients as [[minHashSignature]]. Default k=16 —
    * the SAME banding [[nearDuplicatePairs]] upgraded to in round 5
    * (band-collision probability 0.97 vs 0.83 at jac 0.6); until round 9
    * the stored-index path stayed on k=8, so the streaming gates and
    * PairStore appends silently ran ~14 pp BELOW the batch pipeline's
    * measured recall. The store records its k (`bandK` prop) because band
    * rows are on-disk artifacts: [[DedupIndex.matchBatch]] bands each
    * batch at the STORE's recorded k. */
  def bandedFromShingles(sh: DataFrame, idCol: String, k: Int = 16): DataFrame = {
    val r = 2
    val sig = signatureFromShingles(sh, idCol, k)
    val bandCols = (0 until k / r).map { band =>
      concat_ws("_", (band * r until band * r + r).map(i => col(s"mh$i")): _*)
    }
    sig.select(col(idCol),
        posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
      .localCheckpoint()
  }

  /** k perturbed-min signatures (mh0..mh{k-1}) computed DIRECTLY over the
    * (already distinct, `% P`-reduced) shingle-hash arrays of a
    * [[sortedShingleHashes]] table — a zero-shuffle projection. The min of
    * (a_i*h + b_i) mod p over an array equals the min over its exploded
    * rows, so this replaces the explode -> |docs x grams|-row groupBy
    * exchange the signature pass used to pay (measured at sf0.1: the
    * candidate stage drops ~2x, see BASELINE.md round 7) while producing
    * bit-identical signatures — stored [[DedupIndex]] band rows remain
    * valid. Docs with EMPTY shingle arrays are excluded, exactly like the
    * explode form (no rows -> no group); without the filter an empty array
    * would yield null mins and join every other empty doc. */
  def signatureFromShingles(sh: DataFrame, idCol: String, k: Int): DataFrame = {
    // one codegen'd pass computes all k minima; the per-permutation
    // array_min(transform(...)) form this replaces paid k interpreted
    // (CodegenFallback) traversals of every shingle array
    val sig = graft.functions.ShingleHashes.minHashSig(col("sh"), k, P)
    sh.filter(size(col("sh")) > 0).select(col(idCol) +:
      (0 until k).map(i => element_at(sig, i + 1).as(s"mh$i")): _*)
  }

  /** [[incrementalDedup]] against a PRECOMPUTED existing side — `shE` the
    * (id, sh) sorted-shingle table and `be` its (id, band, bucket) band
    * index, either built in-session or loaded from a [[DedupIndex]]
    * store. This is the per-batch path at scale: only the incoming batch
    * is hashed fresh; the existing corpus contributes stored rows and is
    * NEVER re-scanned or re-hashed. */
  def incrementalDedupAgainst(shE: DataFrame, be: DataFrame,
                              incoming: DataFrame,
                              idCol: String, textCol: String,
                              minJaccard: Double = 0.6, maxBucket: Int = 4096,
                              oracleParity: Boolean = true): DataFrame = {
    val shI = sortedShingleHashes(incoming, idCol, textCol, oracleParity = oracleParity)
    val bi = bandedFromShingles(shI, idCol)
    incrementalDedupPrepared(shE, be, incoming, shI, bi, idCol,
      minJaccard, maxBucket)
  }

  /** [[incrementalDedupAgainst]] with the INCOMING side's signature also
    * precomputed — `shI`/`bi` must be `sortedShingleHashes`/
    * `bandedFromShingles` of `incoming`. Exists so callers that need the
    * batch's band set for their own pruning (DedupIndex.matchBatch derives
    * the touched partition-prefix list from it before reading the stored
    * index) don't pay the signature pass twice. */
  def incrementalDedupPrepared(shE: DataFrame, be: DataFrame,
                               incoming: DataFrame,
                               shI: DataFrame, bi: DataFrame, idCol: String,
                               minJaccard: Double = 0.6,
                               maxBucket: Int = 4096,
                               bePreFiltered: Boolean = false): DataFrame = {
    val verified = incrementalVerifiedPairs(shE, be, shI, bi, idCol,
      minJaccard, maxBucket, bePreFiltered)
    val best = verified.groupBy(col("new_id"))
      .agg(max_by(struct(col("old_id").as("match_id"), col("jac")),
        struct(col("jac"), (-col("old_id")).as("neg"))).as("m"))
      .select(col("new_id"), col("m.match_id").as("match_id"),
        col("m.jac").as("jac"))
    incoming.select(col(idCol).as("new_id"))
      .join(best, Seq("new_id"), "left")
      .select(col("new_id"), col("match_id"),
        coalesce(col("jac"), lit(0.0)).as("jac"),
        col("match_id").isNotNull.as("is_dup"))
  }

  /** The cross-side verified pair set of the incremental discipline —
    * EVERY (incoming, existing) pair clearing `minJaccard`, not just each
    * incoming doc's best match: (new_id, old_id, jac). This is the
    * append increment of a maintained pair-graph artifact
    * ([[PairStore]]): per ingestion batch the stored graph grows by
    * exactly these cross edges plus the batch's internal
    * [[nearDuplicatePairs]] edges, so downstream cluster/propagation
    * consumers read a stored table instead of recomputing the
    * corpus-wide self-join per session. Candidate generation, the
    * combined bucket ceiling, and the hot-member exact recovery are
    * identical to [[incrementalDedupPrepared]] (which reduces this set
    * to best-match rows). */
  def incrementalVerifiedPairs(shE: DataFrame, be: DataFrame,
                               shI: DataFrame, bi: DataFrame, idCol: String,
                               minJaccard: Double = 0.6,
                               maxBucket: Int = 4096,
                               bePreFiltered: Boolean = false): DataFrame = {
    // Every downstream stage only cares about buckets the BATCH touches:
    // an existing doc sharing no band bucket with any incoming doc can
    // never become a candidate, so the stored index is semi-joined down to
    // the batch's (band, bucket) set FIRST (a broadcast — the batch is
    // small by definition). Per-batch shuffle/aggregation volume is then
    // bounded by the touched buckets' population, independent of total
    // corpus size; the bucket ceiling is likewise judged over the touched
    // population only (an over-full bucket nobody probes needs no exact
    // recovery). A caller that already applied this exact semi-join (the
    // DedupIndex path materializes the filtered slice before handing it
    // over) sets bePreFiltered — re-joining a checkpointed slice would
    // re-run the broadcast join once per consumer stage for no row change.
    val beT =
      if (bePreFiltered) be
      else be.join(broadcast(bi.select("band", "bucket").distinct()),
        Seq("band", "bucket"), "left_semi")
    val counts = bi.unionByName(beT).groupBy("band", "bucket").count()
    val ok = counts.filter(col("count") <= maxBucket).select("band", "bucket")
    val hot = counts.filter(col("count") > maxBucket).select("band", "bucket")
    val lshCand = bi.join(ok, Seq("band", "bucket"))
      .select(col(idCol).as("new_id"), col("band"), col("bucket"))
      .join(beT.join(ok, Seq("band", "bucket"))
        .select(col(idCol).as("old_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(col("new_id"), col("old_id"))
    val hotI = bi.join(hot, Seq("band", "bucket")).select(col(idCol)).distinct()
    val hotE = beT.join(hot, Seq("band", "bucket")).select(col(idCol)).distinct()
    val cand =
      if (maxBucket <= 0 || (hotI.isEmpty && hotE.isEmpty)) lshCand.distinct()
      else {
        // prefix-filtered exact candidates among hot members, cross-side
        // only (same AllPairs scheme as exactJaccardPairs; df ordering over
        // the hot union so both sides share one rarity order)
        val tok = shI.join(hotI, Seq(idCol), "left_semi")
          .unionByName(shE.join(hotE, Seq(idCol), "left_semi"))
          .select(col(idCol), explode(col("sh")).as("tok"))
        val dfreq = tok.groupBy("tok").agg(count(lit(1)).as("df"))
        val ordered = tok.join(dfreq, Seq("tok"))
          .groupBy(col(idCol))
          .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ts"))
          .select(col(idCol), transform(col("ts"), x => x.getField("tok")).as("toks"))
        val preLen = (size(col("toks")) - ceil(size(col("toks")) * minJaccard) + 1)
          .cast("int")
        val pre = ordered.select(col(idCol),
          explode(slice(col("toks"), lit(1), preLen)).as("tok"),
          size(col("toks")).as("len"))
        val preI = pre.join(hotI, Seq(idCol), "left_semi")
          .toDF("new_id", "tok", "len1")
        val preE = pre.join(hotE, Seq(idCol), "left_semi")
          .toDF("old_id", "tok", "len2")
        val hotCand = preI.join(preE, Seq("tok"))
          .filter(col("len1") >= floor(col("len2") * minJaccard) &&
            col("len2") >= floor(col("len1") * minJaccard))
          .select(col("new_id"), col("old_id"))
        lshCand.unionByName(hotCand).distinct()
      }
    // Join ORDER is the verify stage's scale lever (r13 scale rehearsal:
    // q_incr_dedup was the one super-linear query at 10x, exp 1.18).
    // Attaching the batch-side arrays FIRST shuffled |pairs| rows already
    // carrying a ~2-3 KB shingle array into the old_id exchange — tens of
    // GB through the sort buffers at sf1 (GC-locker stalls). Instead:
    // shuffle the SLIM candidate pairs against the store-side arrays, then
    // attach the batch side via broadcast, so no array-carrying row ever
    // crosses an exchange twice. The broadcast is SIZE-GATED, not forced
    // (r13 review; the ADVICE r10 #1 discipline): steady-state batches are
    // tens of MB of arrays, but a first AvailableNow backfill batch can be
    // the whole corpus, and an oversized forced broadcast FAILS the query
    // where a shuffled join merely degrades. The localCheckpoint'd shI has
    // accurate driver-side stats — no counting job.
    val sh1T = shI.toDF("new_id", "sh1")
    val sh1Small = sh1T.queryExecution.optimizedPlan.stats.sizeInBytes
      .isValidLong && sh1T.queryExecution.optimizedPlan.stats.sizeInBytes
      .toLong <= (64L << 20)
    cand
      .join(shE.toDF("old_id", "sh2"), Seq("old_id"))
      .join(if (sh1Small) broadcast(sh1T) else sh1T, Seq("new_id"))
      // same size-ratio prefilter as nearDuplicatePairs: two O(1) length
      // reads skip the merge walk where jac >= t is already impossible
      .filter(size(col("sh1")).cast("double") >= size(col("sh2")) * minJaccard &&
        size(col("sh2")).cast("double") >= size(col("sh1")) * minJaccard)
      .withColumn("jac", jaccardFromSortedShingles(col("sh1"), col("sh2")))
      .filter(col("jac") >= minJaccard)
      .select(col("new_id"), col("old_id"), col("jac"))
  }

  /** (id, sorted distinct n-gram-hash array) per doc, localCheckpoint'ed —
    * the shared verify-side input for [[nearDuplicatePairs]] and for exact
    * ground-truth audits (q_lsh_recall). */
  def sortedShingleHashes(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 3,
                          oracleParity: Boolean = true): DataFrame = {
    // native codegen expression — bit-identical to the declarative
    // array_sort(array_distinct(transform(...))) stack (ShingleSpec), but
    // one fused JVM loop per doc instead of three interpreted HOFs
    docs.select(col(idCol),
        graft.functions.ShingleHashes
          .shingleHashes(col(textCol), n, oracleParity, P).as("sh"))
      .localCheckpoint()
  }

  /** EXACT all-pairs Jaccard similarity join — every pair (id1 < id2) with
    * trigram-Jaccard >= `minJaccard` — WITHOUT the O(n^2) cartesian, via
    * AllPairs/PPJoin-style prefix filtering (Bayardo, Ma & Srikant, WWW'07;
    * Xiao et al., WWW'08):
    *
    *  1. order each document's distinct shingle hashes by ascending global
    *     document frequency (rarest token first; ties broken by token value
    *     so the global order is total and deterministic),
    *  2. index only each document's PREFIX — the first
    *     `|x| - ceil(t*|x|) + 1` tokens. Lemma: two sets with Jaccard >= t
    *     must overlap within these prefixes, so an equi-join on prefix
    *     tokens loses NO qualifying pair (exact, not approximate),
    *  3. verify surviving candidates with the codegen merge-walk Jaccard.
    *
    * Because prefixes carry the rarest tokens, candidate volume tracks the
    * true-pair count instead of n^2 — the standard scale-out shape for
    * exact similarity joins (all stages are explode / groupBy / equi-join,
    * so the plan is shuffle-partitioned on token and id keys). Used as the
    * ground-truth side of the LSH recall audit (q_lsh_recall), where
    * "exact" is the entire point. */
  def exactJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        minJaccard: Double = 0.6, n: Int = 3,
                        oracleParity: Boolean = true): DataFrame = {
    val sh = sortedShingleHashes(docs, idCol, textCol, n, oracleParity)
    val tok = sh.select(col(idCol), explode(col("sh")).as("tok"))
    val dfreq = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // per-doc tokens ordered by (df, tok): array_sort over structs compares
    // fields left-to-right, so this is a deterministic global rarity order
    val ordered = tok.join(dfreq, Seq("tok"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ts"))
      .select(col(idCol), transform(col("ts"), x => x.getField("tok")).as("toks"))
    val preLen = (size(col("toks")) - ceil(size(col("toks")) * minJaccard) + 1)
      .cast("int")
    // prefix rows carry (position-in-full-list, full length) so the join can
    // apply PPJoin's pruning (Xiao et al., WWW'08). Both filters only DROP
    // non-qualifying matches — the verified result set is unchanged (and the
    // DuckDB oracle mirror therefore doesn't need them):
    //  - length filter: jac >= t forces min(|x|,|y|) >= t*max(|x|,|y|)
    //    (floor'd threshold = strictly safe under double rounding);
    //  - positional filter: at a match at positions (px, py), the overlap
    //    can't exceed 1 + min(|x|-px, |y|-py); a qualifying pair needs
    //    overlap >= ceil(t/(1+t)*(|x|+|y|)), and its FIRST shared token
    //    always passes, so filtering per-match loses no pair.
    val pre = ordered.select(col(idCol),
      posexplode(slice(col("toks"), lit(1), preLen)).as(Seq("p0", "tok")),
      size(col("toks")).as("len"))
      .select(col(idCol), col("tok"), (col("p0") + 1).as("pos"), col("len"))
    val a = pre.toDF("id1", "tok", "pos1", "len1")
    val b = pre.toDF("id2", "tok", "pos2", "len2")
    val alphaSafe = floor(lit(minJaccard / (1 + minJaccard)) *
      (col("len1") + col("len2")))
    val cand = a.join(b, Seq("tok"))
      .filter(col("id1") < col("id2"))
      .filter(col("len1") >= floor(col("len2") * minJaccard) &&
        col("len2") >= floor(col("len1") * minJaccard))
      .filter(lit(1) + least(col("len1") - col("pos1"),
        col("len2") - col("pos2")) >= alphaSafe)
      .select(col("id1"), col("id2"))
      .distinct()
    val t1 = sh.toDF("id1", "sh1")
    val t2 = sh.toDF("id2", "sh2")
    cand.join(t1, Seq("id1")).join(t2, Seq("id2"))
      .withColumn("jac", jaccardFromSortedShingles(col("sh1"), col("sh2")))
      .filter(col("jac") >= minJaccard)
      .select(col("id1"), col("id2"), col("jac"))
  }

  /** Connected components over a near-duplicate pair graph: every document
    * is labeled with the MINIMUM doc id reachable through the similarity
    * edges — the canonical-document step of a dedup pipeline (keep each
    * cluster's representative, drop the rest). Docs with no edges form
    * singleton clusters labeled with their own id.
    *
    * Algorithm: iterative hash-min label propagation with pointer-edge
    * contraction, OVER THE EDGE SUBGRAPH ONLY. In a near-dup graph the
    * overwhelming majority of documents have no edge at all; their label
    * provably never changes (hash-min only lowers a label through an
    * edge), so dragging the full |V|-row label table through every round
    * — as the round-6 implementation did — multiplies each round's
    * shuffle by corpus size for zero information. Instead the loop runs
    * on vertices incident to at least one edge (|V'| ≈ the duplicate-rate
    * fraction of the corpus), and singletons are re-attached at the end
    * with ONE left join (cluster_id = own id). At 100 TB this is the
    * difference between 20 shuffles of the corpus and 20 shuffles of the
    * duplicate slice plus a single full-corpus equi-join.
    *
    * Within the loop, each round joins the edge set (similarity edges
    * plus the current id->label pointers in both directions) against the
    * label table and takes the per-node minimum; the pointer edges
    * collapse chains Kiveris-style, so convergence is O(log diameter)
    * rounds, not O(diameter). Each round is one equi-join shuffle plus a
    * map-side-combining min aggregation over |V'| + O(|E|) rows, with
    * per-round [[Iterate.checkpoint]] keeping lineage flat (reliable
    * checkpoint when the session has a checkpoint dir — see [[Iterate]]).
    *
    * The fixpoint (min reachable id) is execution-order independent, so the
    * DuckDB oracle mirrors it exactly with a recursive-CTE transitive
    * closure. Returns (`idCol`, cluster_id) — one row per input doc.
    *
    * Precondition: every id in `pairs` must appear in `docs[idCol]` (true
    * for every similarity-pair generator in this library — pairs are
    * derived from the doc table itself).
    */
  def dedupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
                    maxRounds: Int = 20): DataFrame = {
    val labels = ccLabels(pairs, maxRounds)
    // Singletons (no incident edge) never iterated: one equi-join attaches
    // their own id as cluster label.
    docs.select(col(idCol))
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("lbl"), col(idCol)).as("cluster_id"))
  }

  /** The edge-vertex half of [[dedupClusters]]: connected-component labels
    * `(id, lbl)` for every vertex incident to at least one edge in
    * `pairs(id1, id2)`, lbl = min reachable id — exposed so
    * [[graft.operators.PairStore]] can MATERIALIZE the labels at
    * build/append time instead of consumers re-running the fixpoint per
    * session (VERDICT r08 #8). */
  def ccLabels(pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    val sym = Iterate.checkpoint(
      pairs.select(col("id1").as("a"), col("id2").as("b"))
        .unionByName(pairs.select(col("id2").as("a"), col("id1").as("b")))
        .distinct())
    // Both edge directions are present, so `a` alone covers every vertex
    // incident to an edge.
    var labels = Iterate.checkpoint(
      sym.select(col("a").as("id")).distinct().withColumn("lbl", col("id")))
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val ptr = labels.filter(col("lbl") =!= col("id"))
        .select(col("id").as("a"), col("lbl").as("b"))
      val g = sym.unionByName(ptr)
        .unionByName(ptr.select(col("b").as("a"), col("a").as("b")))
      val nbrMin = g
        .join(labels.select(col("id").as("b"), col("lbl").as("nlbl")), Seq("b"))
        .groupBy(col("a")).agg(min(col("nlbl")).as("nmin"))
        .withColumnRenamed("a", "id")
      // The changed-flag rides along in the SAME join that produces the next
      // label table, so convergence is read back with one cheap aggregation
      // over the just-materialized checkpoint blocks — not a second
      // join+count action per round.
      val next = Iterate.checkpoint(
        labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"),
            (col("nmin") < col("lbl")).cast("int").as("chg")))
      converged =
        next.agg(coalesce(max(col("chg")), lit(0)).as("c")).first().getInt(0) == 0
      labels = next.select(col("id"), col("lbl"))
      round += 1
    }
    if (!converged)
      // Returning silently here would hand downstream canonical-document
      // selection WRONG cluster labels. Pointer contraction converges in
      // O(log diameter) rounds, so exhausting maxRounds indicates a
      // pathological input or a bug — surface it.
      throw new IllegalStateException(
        s"ccLabels: label propagation did not converge within " +
          s"$maxRounds rounds; refusing to return non-converged labels")
    labels
  }

  /** Benchmark-contamination detection — the decontamination pass every
    * training-data pipeline runs before trusting its evals: flag corpus
    * documents sharing ANY character n-gram with a benchmark/eval set, with
    * the count of distinct shared grams.
    *
    * Scale shape: both sides explode to (doc, gramHash) ONCE (per-doc
    * grams already distinct), the benchmark side collapses to a distinct
    * gram-hash set (eval sets are tiny relative to the corpus, so Catalyst
    * broadcasts it), and overlap is an equi-join + map-side partial count —
    * no pairwise document comparison anywhere. Returns
    * (id, n_overlap, contaminated). */
  def ngramContamination(corpus: DataFrame, idCol: String, textCol: String,
                         benchmark: DataFrame, benchTextCol: String,
                         n: Int = 8): DataFrame = {
    // Join on the RAW gram string: the gram never reaches the output, the
    // benchmark side is distinct + small (eval sets ≪ corpus), and the
    // corpus side therefore never shuffles — so hashing the grams first (as
    // through round 3) bought nothing and cost one md5 per (doc, gram)
    // pair, the single largest term in the query. Exact string equality
    // also removes hash-collision false positives. The broadcast hint is
    // explicit: a post-distinct size ESTIMATE can exceed the auto
    // threshold, and a silent fallback to sort-merge would shuffle the
    // full corpus gram explode.
    val benchGrams = benchmark
      .select(explode(charShingles(col(benchTextCol), n)).as("g"))
      .distinct()
    val docGrams = corpus
      .select(col(idCol), explode(charShingles(col(textCol), n)).as("g"))
    val overlap = docGrams.join(broadcast(benchGrams), Seq("g"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_overlap"))
    corpus.select(col(idCol)).join(overlap, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  /** Exact-substring duplication stats (the Lee et al. 2021 "Deduplicating
    * Training Data Makes Language Models Better" shape, at token-n-gram
    * granularity): for every document, how many of its tokens are covered
    * by a token n-gram that also occurs in ANOTHER document. High coverage
    * means the document is largely stitched from corpus-repeated spans —
    * boilerplate, licenses, templated text.
    *
    * Scale shape: one explode to (doc, pos, gram-hash) rows, a gram-keyed
    * count of distinct source docs (map-side partial agg), an equi-join
    * back on the gram hash restricted to cross-doc-repeated grams, and a
    * distinct over (doc, token-position) to turn overlapping windows into
    * exact token coverage. No pairwise document comparison anywhere. Grams
    * are hashed to 60-bit longs BEFORE the aggregations, so both shuffles
    * carry 8-byte keys instead of n-word strings (measured 5.7 -> ~4 s at
    * sf0.1); a hash collision merges two grams deterministically on both
    * engines (the oracle mirrors the same md5), and with 2^60 buckets the
    * corpus-level collision odds are negligible. Returns
    * (id, n_tok, n_covered, cover_ratio) — ratio floor-truncated to 4
    * decimals. */
  /** (id, pos, g): 1-based position and hash of every token n-gram. The
    * following tokens of each gram come from `get(_w, p0 + i)` against the
    * token array the row already holds — pure codegen, ZERO exchange (r15;
    * guide §2.4 "an orderBy/window used only to make adjacent elements
    * available is a removable shuffle"). Two earlier formulations both
    * measured worse: `transform(sequence(...))` is CodegenFallback
    * (interpreted per element, evicted in an earlier round), and the
    * posexplode + n-1 `lead`s window it was replaced with paid a doc-keyed
    * token exchange + per-doc sort per scan — the gram values themselves
    * are identical in all three (lead(t, i) over (doc, pos) ==
    * _w[p0 + i], null past the end). Docs shorter than n tokens emit no
    * rows. */
  private[operators] def wordGramOcc(docs: DataFrame, idCol: String,
                                     textCol: String, n: Int,
                                     base: Column => Column): DataFrame = {
    val follows = (1 until n).map(i => get(col("_w"), col("p0") + i).as(s"t$i"))
    docs
      .select(col(idCol), split(col(textCol), " ").as("_w"))
      .select(col(idCol), col("_w"), posexplode(col("_w")).as(Seq("p0", "t")))
      .select(Seq(col(idCol), col("p0"), col("t")) ++ follows: _*)
      .filter(col(s"t${n - 1}").isNotNull)
      .select(col(idCol), (col("p0") + 1).as("pos"),
        base(concat_ws(" ",
          col("t") +: (1 until n).map(i => col(s"t$i")): _*)).as("g"))
  }

  def repeatedNgramCoverage(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 5,
                            oracleParity: Boolean = true): DataFrame = {
    // full 60-bit range (no mod-P fold): these are equality keys, not
    // minhash inputs, and 2^60 buckets keep corpus-level collisions nil
    val base: Column => Column =
      if (oracleParity) stableHash else c => xxhash64(c)
    val toks = split(col(textCol), " ")
    val occ = wordGramOcc(docs, idCol, textCol, n, base)
    val repeatedGrams = occ.groupBy("g")
      .agg(countDistinct(col(idCol)).as("ndocs"))
      .filter(col("ndocs") > 1)
      .select("g")
    val covered = occ.join(repeatedGrams, Seq("g"))
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (n - 1))).as("tp"))
      .distinct()
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_covered"))
    docs.select(col(idCol), size(toks).as("n_tok"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tok"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        (floor(coalesce(col("n_covered"), lit(0L)) * 10000 / col("n_tok")) / 10000.0)
          .as("cover_ratio"))
  }

  /** Cross-document repeated-span REMOVAL — the acting form of
    * [[repeatedNgramCoverage]] (which only reports the ratio): rewrite
    * each document with every token deleted whose position is covered by
    * a token n-gram occurring in at least `minDocs` distinct documents
    * (Lee et al. 2021 ExactSubstr discipline: delete the shared span,
    * keep the remainder — boilerplate/license/template scrubbing without
    * dropping whole documents).
    *
    * Scale shape: the gram table and repeated-gram filter are the same
    * partial-agg shuffles as the coverage stats; covered positions are a
    * distinct on (doc, token-pos); the rewrite is a position anti-join
    * plus ONE per-doc aggregation whose state is bounded by document
    * length (sorted (pos, token) structs rebuilt in-agg — no window, no
    * global sort, so no task ever holds more than one document's
    * tokens). Returns (id, n_tok, n_removed, clean_text) with surviving
    * tokens re-joined in original order. */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 5, minDocs: Int = 2,
                          oracleParity: Boolean = true): DataFrame = {
    val base: Column => Column =
      if (oracleParity) stableHash else c => xxhash64(c)
    val toks = split(col(textCol), " ")
    val occ = wordGramOcc(docs, idCol, textCol, n, base)
    val repeatedGrams = occ.groupBy("g")
      .agg(countDistinct(col(idCol)).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select("g")
    val covered = occ.join(repeatedGrams, Seq("g"))
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (n - 1))).as("tp"))
      .distinct()
    val tokens = docs
      .select(col(idCol), posexplode(toks).as(Seq("p0", "t")))
      .select(col(idCol), (col("p0") + 1).as("tp"), col("t"))
    val rebuilt = tokens.join(covered, Seq(idCol, "tp"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("tp"), col("t")))),
          x => x.getField("t")), " ").as("clean_text"))
    docs.select(col(idCol), size(toks).as("n_tok"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_tok"),
        (col("n_tok").cast("long") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Contrastive training pairs from one near-dup pass: per anchor
    * document, its best verified near-duplicate as the POSITIVE and the
    * top-k verified "collided but failed the duplicate threshold"
    * candidates as HARD NEGATIVES — the classic contrastive-learning
    * triple where the negatives come from exactly the pairs that LOOK
    * similar (shared LSH band or prefix token) yet are not duplicates,
    * which is what makes them hard. One [[nearDuplicatePairs]] pass at
    * the NEGATIVE threshold supplies both sides with exact Jaccards; the
    * positive/negative split and per-anchor ranking are windows
    * partitioned by anchor (bounded by the anchor's candidate count).
    * Only anchors holding BOTH a positive and >= 1 negative emit rows.
    *
    * Candidate coverage note: pairs in the negative band are surfaced
    * when they share a band bucket or a hot-member prefix token — the
    * deterministic candidate set both engines mirror — not an exhaustive
    * sub-threshold enumeration (which would be quadratic and is exactly
    * what hard-negative mining avoids).
    *
    * Returns (anchor_id, pos_id, pos_jac, neg_rank, neg_id, neg_jac)
    * ordered by (anchor_id, neg_rank). */
  def contrastivePairs(docs: DataFrame, idCol: String, textCol: String,
                       posJaccard: Double = 0.6, negJaccard: Double = 0.25,
                       k: Int = 3, maxBucket: Int = 4096,
                       oracleParity: Boolean = true): DataFrame =
    contrastivePairsFrom(nearDuplicatePairs(docs, idCol, textCol, negJaccard,
      maxBucket, oracleParity), posJaccard, k)

  /** The split/rank half of [[contrastivePairs]] over an ALREADY-verified
    * pair set `all` (id1, id2, jac with id1 < id2) mined at the NEGATIVE
    * floor — e.g. a maintained [[PairStore]] built at that floor, so the
    * corpus-wide mining pass is paid once at artifact-build time and each
    * training-epoch consumer pays only the windows (the per-ingestion-batch
    * production shape: the floor-threshold graph grows via
    * PairStore.append, triples re-derive from the store). */
  def contrastivePairsFrom(all: DataFrame, posJaccard: Double = 0.6,
                           k: Int = 3): DataFrame = {
    val sym = all.select(col("id1").as("anchor_id"), col("id2").as("other"),
        col("jac"))
      .unionByName(all.select(col("id2").as("anchor_id"),
        col("id1").as("other"), col("jac")))
    val byBest = Window.partitionBy("anchor_id")
      .orderBy(col("jac").desc, col("other"))
    val pos = sym.filter(col("jac") >= posJaccard)
      .withColumn("rn", row_number().over(byBest))
      .filter(col("rn") === 1)
      .select(col("anchor_id"), col("other").as("pos_id"),
        col("jac").as("pos_jac"))
    val neg = sym.filter(col("jac") < posJaccard)
      .withColumn("neg_rank", row_number().over(byBest))
      .filter(col("neg_rank") <= k)
      .select(col("anchor_id"), col("neg_rank"),
        col("other").as("neg_id"), col("jac").as("neg_jac"))
    pos.join(neg, Seq("anchor_id"))
      .select(col("anchor_id"), col("pos_id"), col("pos_jac"),
        col("neg_rank"), col("neg_id"), col("neg_jac"))
      .orderBy("anchor_id", "neg_rank")
  }

  /** Corpus-wide PARAGRAPH dedup with keep-first semantics — the CCNet
    * line-level discipline (Wenzek et al. 2020 dedup crawl text by
    * paragraph hash before any document-level pass): split each document
    * on `delim`, drop every paragraph whose exact text already occurred
    * at a smaller (doc, position) anywhere in the corpus, and rebuild the
    * document from the survivors in original order. Complements
    * [[removeRepeatedSpans]] (n-gram spans, needs `minDocs` repeats) with
    * exact unit-level dedup that also subsumes whole-doc exact dedup when
    * a document has no delimiter (one paragraph = the doc).
    *
    * Scale shape: paragraphs are keyed by their 60-bit content hash
    * ([[stableHash]] — the per-hash shuffle carries 8-byte keys + the
    * winner struct, not paragraph text); the keep-first winner is one
    * `min(struct(doc, pos))` partial aggregation; survivors re-join the
    * paragraph table on (hash, doc, pos) and one per-doc aggregation
    * rebuilds the text with state bounded by document size. No window,
    * no all-pairs anywhere. A 60-bit collision would merge two distinct
    * paragraphs (~2^30-paragraph birthday bound; the DuckDB oracle merges
    * identically, same md5).
    *
    * Empty paragraphs (split artifacts) are dropped from the count and
    * the rebuild rather than deduping against each other. Returns
    * (id, n_par, n_removed, clean_text) — n_par counts non-empty
    * paragraphs; a doc with none still gets a row (n_par 0, empty
    * text). */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     delim: String): DataFrame = {
    val paras = docs
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
          .as(Seq("p0", "para")))
      .select(col(idCol), (col("p0") + 1).as("pidx"), col("para"))
      .filter(length(col("para")) > 0)
    val hashed = paras.select(col(idCol), col("pidx"),
      stableHash(col("para")).as("h"))
    val firsts = hashed.groupBy("h")
      .agg(min(struct(col(idCol).as("fid"), col("pidx").as("fpidx")))
        .as("first"))
      .select(col("h"), col("first.fid").as("fid"),
        col("first.fpidx").as("fpidx"))
    val kept = hashed.join(firsts, Seq("h"))
      .filter(col(idCol) === col("fid") && col("pidx") === col("fpidx"))
      .select(col(idCol), col("pidx"))
    val rebuilt = paras.join(kept, Seq(idCol, "pidx"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pidx"), col("para")))),
          x => x.getField("para")), delim).as("clean_text"))
    paras.groupBy(col(idCol)).agg(count(lit(1)).as("n_par"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_par"),
        (col("n_par") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .unionByName(
        // docs with no non-empty paragraph at all keep an output row
        docs.join(paras.select(idCol).distinct(), Seq(idCol), "left_anti")
          .select(col(idCol), lit(0L).as("n_par"), lit(0L).as("n_removed"),
            lit("").as("clean_text")))
  }

  /** Content-defined chunking (CDC) dedup at token granularity — the
    * shift-robust complement to fixed n-gram coverage: a token is a chunk
    * BOUNDARY iff its hash ≡ 0 (mod `boundaryDiv`), so chunk borders move
    * WITH the content and an insertion disturbs only the chunk it lands in
    * (fixed-size chunking re-aligns every downstream chunk, masking
    * repeats). Chunks are the token runs starting at each boundary; a
    * chunk repeated across documents marks shared boilerplate even when
    * its position shifted.
    *
    * Scale shape: one explode to (doc, pos, token), ONE per-doc window to
    * number chunks (running boundary count — same exchange the chunk
    * aggregation reuses), a chunk-hash-keyed distinct-doc count (map-side
    * partial agg), and a join back on the chunk hash. Expected chunk
    * length is `boundaryDiv` tokens — the knob trading granularity for
    * chunk-table size. Returns per doc: (id, n_tok, n_chunks,
    * n_rep_chunks, rep_tok, rep_ratio floor-4). */
  def cdcRepeatedChunks(docs: DataFrame, idCol: String, textCol: String,
                        boundaryDiv: Int = 8,
                        oracleParity: Boolean = true): DataFrame = {
    // r15: the whole segmentation (token split, boundary test, running
    // segment ids, per-segment joined-string hash) is ONE codegen'd
    // per-document loop ([[graft.functions.CdcChunks]], bit-identical by
    // ShingleSpec's equality test against the old windowed formulation).
    // The old pipeline paid a token posexplode + a per-doc prefix-sum
    // WINDOW (token-stream exchange + per-doc sorts) + a corpus-scale
    // groupBy(doc, seg) with collect_list/array_sort/interpreted
    // transform — all deleted; the remaining exchanges are analytical
    // (chunk doc-frequency, per-doc rollups).
    val chunks = docs.select(col(idCol),
        explode(graft.functions.ShingleHashes.cdcChunks(
          col(textCol), boundaryDiv.toLong, oracleParity)).as("c"))
      .select(col(idCol), col("c.seg_tok").as("seg_tok"),
        col("c.seg_hash").as("seg_hash"))
    val rep = chunks.groupBy("seg_hash")
      .agg(countDistinct(col(idCol)).as("ndocs"))
      .filter(col("ndocs") > 1)
      .select("seg_hash")
    val perDoc = chunks.join(rep, Seq("seg_hash"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_rep_chunks"), sum("seg_tok").as("rep_tok"))
    docs.select(col(idCol), size(split(col(textCol), " ")).as("n_tok"))
      .join(chunks.groupBy(col(idCol)).agg(count(lit(1)).as("n_chunks")),
        Seq(idCol), "left")
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_tok"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_rep_chunks"), lit(0L)).as("n_rep_chunks"),
        coalesce(col("rep_tok"), lit(0L)).as("rep_tok"),
        (floor(coalesce(col("rep_tok"), lit(0L)) * 10000 / col("n_tok")) / 10000.0)
          .as("rep_ratio"))
  }

  /** Winnowing-style fingerprints: hash all k-grams, take the minimum hash in
    * every sliding window of `w` consecutive k-grams, emit the distinct set.
    * (Schleimer et al., "Winnowing: Local Algorithms for Document
    * Fingerprinting", SIGMOD 2003.) Returns (id, fp) rows.
    */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
                            kgram: Int = 8, w: Int = 4,
                            oracleParity: Boolean = true): DataFrame = {
    // The whole hash -> sliding-min -> distinct pipeline is one native
    // per-document loop (graft.functions.WinnowFingerprints, bit-identical
    // to the windowed formulation by ShingleSpec): the gram explode, the
    // per-doc window EXCHANGE it forced, and the corpus-wide distinct all
    // disappear — a fingerprint query's only exchanges are analytical
    // (doc-frequency counts, fp joins).
    df.select(col(idCol),
      explode(graft.functions.ShingleHashes
        .winnowFps(col(textCol), kgram, w, oracleParity, P)).as("fp"))
  }

  /** Partial-overlap / containment detection via shared winnowing
    * fingerprints — the MOSS use-case (Schleimer et al., SIGMOD 2003)
    * whole-document Jaccard structurally misses: a short document
    * embedded inside a long one scores near zero on symmetric Jaccard
    * but shares most of the SHORT side's fingerprints. Returns every pair
    * sharing at least `minShared` fingerprints as (id1, id2, n_shared,
    * containment), containment = n_shared / min(|fps1|, |fps2|) floored
    * to 4 decimals (1.0 ≈ the smaller doc is contained in the larger).
    *
    * Scale shape: one winnowing pass per doc, a fp-keyed doc-frequency
    * count, ONE fp equi-join, one (id1, id2) partial-agg count.
    * Fingerprints occurring in more than `maxDocFreq` docs are EXCLUDED
    * from the join (deterministic cap, the LSH bucket-ceiling
    * discipline): corpus-wide boilerplate fingerprints carry no
    * containment signal and would otherwise go quadratic — in particular
    * the giant exact-duplicate family's fingerprints all exceed the cap,
    * so the family never reaches the join (those pairs belong to the
    * exact/near-dup operators). Capped fingerprints still count in the
    * DENOMINATOR, so containment is strictly conservative. */
  /** @param minContainment drop pairs below this containment — the signal
    *   knob: incidental shared k-grams produce a long low-containment
    *   tail (measured ~90k pairs at sf0.01 vs ~25 above 0.5), and a
    *   curation pass acts on the high-containment head. Applied AFTER the
    *   n_shared aggregation, so it prunes output, not work. */
  def fingerprintOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
                              kgram: Int = 8, w: Int = 4, minShared: Int = 2,
                              maxDocFreq: Int = 64,
                              minContainment: Double = 0.0,
                              oracleParity: Boolean = true): DataFrame = {
    val fps = winnowingFingerprints(docs, idCol, textCol, kgram, w,
      oracleParity).localCheckpoint()
    val sizes = fps.groupBy(col(idCol)).agg(count(lit(1)).as("nfp"))
    val ok = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq).select("fp")
    val kept = fps.join(ok, Seq("fp"))
    val a = kept.select(col("fp"), col(idCol).as("id1"))
    val b = kept.select(col("fp"), col(idCol).as("id2"))
    a.join(b, Seq("fp"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.select(col(idCol).as("id1"), col("nfp").as("n1")), Seq("id1"))
      .join(sizes.select(col(idCol).as("id2"), col("nfp").as("n2")), Seq("id2"))
      .select(col("id1"), col("id2"), col("n_shared"),
        // exact integer basis-point division — no double-quotient ulp at
        // the floor boundary on either engine
        (expr("n_shared * 10000 div least(n1, n2)") / 10000.0)
          .as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Corpus-overlap estimate BETWEEN GROUPS (sources, crawl snapshots,
    * datasets): one MinHash signature per group over the group's shingle
    * SET, pairwise component agreement estimating the shingle-set Jaccard
    * — the standard sketch for "how much of source A is also in source B"
    * when materializing the cross-group pair set is off the table. The
    * `min` aggregate is multiplicity-insensitive, so the group signature
    * needs no distinct pass: the same one-shuffle partial aggregation as
    * [[minHashSignature]], keyed by group instead of doc.
    *
    * Same deterministic hash family as [[minHashSignature]]
    * (a_i = 2i+1, b_i = i*i+1 over the md5-derived 60-bit hash mod P), so
    * any SQL engine reproduces each signature component bit-for-bit and
    * the estimate `jaccard_bp = 10000 * k_match div k` is exact-integer.
    *
    * Scale shape: the corpus-sized work is ONE explode into an
    * O(#groups)-row partial aggregation; the pairwise stage is a
    * broadcast cross of that O(#groups)-row signature table with itself
    * (#groups² output rows) — groups are a config-scale enum (sources,
    * snapshot dates), never corpus-scale, which is the documented bound
    * for the nested-loop allowlist entry.
    *
    * Returns (g1, g2, k_match, jaccard_bp) for g1 < g2, ordered. */
  def groupOverlap(df: DataFrame, groupCol: String, textCol: String,
                   n: Int = 4, k: Int = 8): DataFrame = {
    val hashed = df
      .select(col(groupCol), explode(graft.functions.ShingleHashes
        .shingleHashes(col(textCol), n, parity = true, mod = P)).as("h"))
    val mins = (0 until k).map { i =>
      val a = 2L * i + 1; val b = i.toLong * i + 1
      min((col("h") * a + b) % P).as(s"mh$i")
    }
    val sigs = hashed.groupBy(col(groupCol)).agg(mins.head, mins.tail: _*)
    val left = sigs.select(col(groupCol).as("g1") +:
      (0 until k).map(i => col(s"mh$i").as(s"a$i")): _*)
    val right = sigs.select(col(groupCol).as("g2") +:
      (0 until k).map(i => col(s"mh$i").as(s"b$i")): _*)
    left.crossJoin(broadcast(right))
      .filter(col("g1") < col("g2"))
      .select(col("g1"), col("g2"),
        (0 until k).map(i =>
          when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
          .reduce(_ + _).as("k_match"))
      .withColumn("jaccard_bp", expr(s"(10000 * k_match) div $k"))
      .orderBy("g1", "g2")
  }
}
