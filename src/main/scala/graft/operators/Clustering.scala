package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic k-means clustering over an embedding column — the
  * semantic-clustering stage of a training-data pipeline (topic balancing,
  * domain mixing, cluster-based curation a la DoReMi/cluster-filtering).
  *
  * Determinism is designed in, not hoped for:
  *  - vectors are quantized once to exact integers (floor(v * scale)), so
  *    every distance and every centroid is integer arithmetic — no
  *    float-summation-order sensitivity across partitions, runs, or
  *    engines (the repo-wide oracle-parity rule);
  *  - init is the k lowest-id vectors (no RNG);
  *  - ties in assignment break to the lowest cluster index;
  *  - centroid updates use floor division; clusters that lose all members
  *    simply drop out (mirrored exactly by the SQL oracle).
  *
  * Scale shape (100 TB): each iteration is ONE scan of the quantized
  * vectors (materialized once via Iterate.checkpoint) + ONE map-side-combining shuffle of
  * (cluster, pos) partial sums — k*dim rows total cross the wire, and the
  * centroid set collected to the driver is k*dim longs (manifest-scale,
  * like the snapshot-store bucket list, NOT a data collect). Assignment is
  * pure codegen expressions (zip_with/aggregate over array<long>), no UDF,
  * no cartesian: the k centroids ride along as literals. This is textbook
  * distributed Lloyd's; iteration count is fixed (curation pipelines want
  * reproducible clusters, not convergence-to-epsilon).
  */
object Clustering {

  /** Element-wise squared-L2 to each centroid literal; argmin with ties to
    * the lowest cluster index, via array_min over struct(dist, j). */
  private[operators] def nearest(cents: Seq[(Int, Array[Long])], q: Column): Column = {
    val dists = cents.map { case (j, c) =>
      struct(
        graft.functions.VectorFunctions
          .vecL2SqLong(q, array(c.map(lit(_)): _*)).as("d"),
        lit(j).as("j"))
    }
    array_min(array(dists: _*))
  }

  /** Quantized point table (id, q: array<long>) — floor(v * scale), the
    * exact-integer space every operator here works in. Checkpointed: it is
    * scanned once per training iteration. */
  private[graft] def quantized(df: DataFrame, idCol: String, vecCol: String,
                        scale: Int): DataFrame =
    Iterate.checkpoint(
      df.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol),
          v => floor(v.cast("double") * scale).cast("long")).as("q")))

  /** Lloyd's training over a quantized point table: k-lowest-id init, then
    * `iters - 1` floor-div centroid updates. Returns the final centroids
    * as (cluster id, quantized vector) — k*dim longs of driver-side
    * bookkeeping per round, never a data collect. */
  private[graft] def train(pts: DataFrame, k: Int, iters: Int): Seq[(Int, Array[Long])] = {
    var cents: Seq[(Int, Array[Long])] = pts.orderBy("id").limit(k).collect()
      .zipWithIndex
      .map { case (r, j) => (j, r.getSeq[Long](1).toArray) }.toSeq
    var it = 1
    while (it < iters) {
      val sums = pts
        .withColumn("cluster", nearest(cents, col("q")).getField("j"))
        .select(col("cluster"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy("cluster", "pos")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .collect()
      cents = sums.groupBy(_.getInt(0)).toSeq.map { case (j, rows) =>
        val dim = rows.length
        val c = new Array[Long](dim)
        rows.foreach { r =>
          c(r.getInt(1)) = Math.floorDiv(r.getLong(2), r.getLong(3))
        }
        (j, c)
      }.sortBy(_._1)
      it += 1
    }
    cents
  }

  /** Lloyd's training of MANY subspace quantizers in lockstep — the PQ
    * training loop fused to ONE scan per round (r15; guide §1.2 "how many
    * full passes are unavoidable"): the m subspaces of a product quantizer
    * are independent, but training them sequentially pays m full scans of
    * the quantized corpus per round plus m init collects and m checkpoint
    * materializations of sliced copies. One pass computes every subspace's
    * assignment on the shared full-vector table and one partial-agg
    * shuffle carries all m * k * subDim (sub, cluster, pos) partial sums.
    *
    * Bit-identical to per-subspace [[train]] over sliced inputs
    * (ClusteringSpec asserts equality): quantization commutes with
    * slicing (floor(v*scale) is element-wise), init is the same k
    * lowest-id rows, assignment/update arithmetic is unchanged exact
    * integer math.
    *
    * `offsets(s)` is the 0-based element offset of subspace s (length
    * `subDim` each) into the quantized vector column `q`. Returns the
    * final centroids per subspace, in `offsets` order. */
  private[graft] def trainSubspaces(pts: DataFrame, offsets: Seq[Int],
                                        subDim: Int, k: Int,
                                        iters: Int): IndexedSeq[Seq[(Int, Array[Long])]] = {
    val initRows = pts.orderBy("id").limit(k).collect()
    var cents: IndexedSeq[Seq[(Int, Array[Long])]] = offsets.indices.map { s =>
      initRows.zipWithIndex.map { case (r, j) =>
        (j, r.getSeq[Long](1).slice(offsets(s), offsets(s) + subDim).toArray)
      }.toSeq
    }
    var it = 1
    while (it < iters) {
      // assignment per subspace ONCE per row (a projection column), then
      // one explode to (sub, cluster, pos, v) — the same total row volume
      // the m separate scans shuffled, now behind a single corpus pass
      val withCl = pts.select(
        col("q") +: offsets.indices.map(s =>
          nearest(cents(s), slice(col("q"), offsets(s) + 1, subDim))
            .getField("j").as(s"_cl$s")): _*)
      val sums = withCl.select(explode(flatten(array(offsets.indices.map { s =>
          transform(slice(col("q"), offsets(s) + 1, subDim),
            (v, i) => struct(lit(s).as("sub"), col(s"_cl$s").as("cluster"),
              i.as("pos"), v.as("v")))
        }: _*))).as("e"))
        .select(col("e.sub").as("sub"), col("e.cluster").as("cluster"),
          col("e.pos").as("pos"), col("e.v").as("v"))
        .groupBy("sub", "cluster", "pos")
        .agg(sum("v").as("sv"), count(lit(1)).as("n"))
        .collect()
      cents = offsets.indices.map { s =>
        sums.filter(_.getInt(0) == s).groupBy(_.getInt(1)).toSeq.map {
          case (j, rows) =>
            val c = new Array[Long](subDim)
            rows.foreach(r =>
              c(r.getInt(2)) = Math.floorDiv(r.getLong(3), r.getLong(4)))
            (j, c)
        }.sortBy(_._1)
      }
      it += 1
    }
    cents
  }

  /** (id, cluster, dist): final Lloyd's assignment after `iters` assignment
    * rounds (so `iters - 1` centroid updates), with `dist` the exact
    * integer squared L2 to the winning centroid in quantized space. */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
                   k: Int = 8, iters: Int = 3, scale: Int = 1000): DataFrame = {
    val pts = quantized(df, idCol, vecCol, scale)
    val fin = nearest(train(pts, k, iters), col("q"))
    pts.select(col("id"),
      fin.getField("j").as("cluster"),
      fin.getField("d").as("dist"))
  }

  /** Exact integer squared L2 of a quantized vector column to a centroid
    * literal. */
  private[operators] def qdist(q: Column, c: Array[Long]): Column =
    graft.functions.VectorFunctions.vecL2SqLong(q, array(c.map(lit(_)): _*))

  /** Per-subspace PQ training artifacts: the corpus code table
    * (sub, id, code) and the per-query lookup tables (qid, sub, code, pd)
    * — pd the exact integer squared L2 from the query's subvector to that
    * centroid. The LUTs are |queries|*m*k rows: broadcast-sized by
    * construction. */
  /** PQ training artifacts over ALREADY-quantized (id, q) tables (r15:
    * one shared full-vector checkpoint instead of per-subspace sliced
    * copies; [[trainSubspaces]] fuses the m training loops to one scan
    * per round; codes/LUTs for every subspace ride one projection each
    * instead of an m-way union). Same rows, same exact integer values —
    * slicing commutes with the element-wise quantization. */
  private def pqParts(cq: DataFrame, qq: DataFrame, dim: Int, m: Int,
                      k: Int, iters: Int): (DataFrame, DataFrame) = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val subDim = dim / m
    val offsets = (0 until m).map(_ * subDim)
    val cents = trainSubspaces(cq, offsets, subDim, k, iters)
    val codes = cq.select(explode(array((0 until m).map { s =>
        struct(lit(s).as("sub"), col("id").as("id"),
          nearest(cents(s), slice(col("q"), offsets(s) + 1, subDim))
            .getField("j").as("code"))
      }: _*)).as("e"))
      .select(col("e.sub").as("sub"), col("e.id").as("id"),
        col("e.code").as("code"))
    val luts = qq.select(col("id").as("qid"),
        explode(array((for {
          s <- 0 until m
          (j, c) <- cents(s)
        } yield struct(lit(s).as("sub"), lit(j).as("code"),
          qdist(slice(col("q"), offsets(s) + 1, subDim), c).as("pd"))): _*))
          .as("e"))
      .select(col("qid"), col("e.sub").as("sub"),
        col("e.code").as("code"), col("e.pd").as("pd"))
    (codes, luts)
  }

  /** Exact re-rank ("refine") stage over a PQ candidate pool — the FAISS
    * IndexRefineFlat discipline: ADC lookup distances ORDER a candidate
    * pool cheaply, but their quantization error swamps the tiny
    * true-neighbor gaps of weakly-clustered embeddings (measured recall@3
    * ~0.2 ADC-only vs ~0.87 refined on the sf0.01 audit corpus), so the
    * top-`refine` pool is re-scored with the exact integer squared L2
    * before the final top-kNN. Cost: only refine * |queries| raw-vector
    * fetches (hash equi-join on id) — the full corpus is still never
    * decompressed. Returns (qid, rank, nid, dist) with `dist` EXACT.
    *
    * Operates over ALREADY-quantized (id, q) tables — the form both the
    * stored-index serving path ([[AnnIndexStore.query]], where the corpus
    * side comes back from the index's flat-vector parquet) and the inline
    * ANN paths (which share one quantized checkpoint per side across
    * training, coding and refine since r15) use.
    *
    * `minDist >= 0` turns the re-rank into a hard-negative band select
    * ([[AnnIndexStore.hardNegatives]]): candidates at exact distance
    * <= minDist are EXCLUDED before the rank window — they are
    * near-duplicates of the anchor (unlabeled positives in a contrastive
    * batch), and the k nearest survivors are the informative negatives.
    * The filter runs on the exact distance, so the band boundary is
    * never blurred by PQ quantization error. */
  private[operators] def refineTopKQuantized(pool: DataFrame, cq: DataFrame,
                                             qq: DataFrame, kNN: Int,
                                             minDist: Long = -1L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("dist"), col("id"))
    val scored = pool.select(col("qid"), col("nid").as("id"))
      .join(cq.select(col("id"), col("q").as("nq")), Seq("id"))
      .join(broadcast(qq.select(col("id").as("qid"), col("q").as("qq"))),
        Seq("qid"))
      .withColumn("dist",
        graft.functions.VectorFunctions.vecL2SqLong(col("qq"), col("nq")))
    (if (minDist >= 0) scored.filter(col("dist") > minDist) else scored)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .select(col("qid"), col("rank"), col("id").as("nid"), col("dist"))
  }

  /** Per-query top-kNN by summed PQ lookup distance over a candidate
    * (sub, id, code, qid) table: broadcast-LUT join, (qid, id)-keyed
    * partial-agg sum, per-query window. */
  private[operators] def pqTopK(cands: DataFrame, kNN: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adist"), col("id"))
    cands
      .groupBy(col("qid"), col("id"))
      .agg(sum("pd").as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .select(col("qid"), col("rank"), col("id").as("nid"), col("adist"))
  }

  /** PQ asymmetric-distance ANN (the serving half of IVF-PQ): per
    * subspace, train centroids on the corpus, code every corpus vector,
    * and precompute each QUERY's distance to every centroid — an m*k-row
    * lookup table per query. A corpus vector's approximate distance to a
    * query is then the SUM of m table lookups on its codes: the corpus
    * side is never decompressed, never re-scored against raw vectors.
    *
    * Scale shape: the lookup tables are |queries|*m*k rows — broadcast;
    * the scoring join is codes x (broadcast) luts on (sub, code) followed
    * by a (qid, id)-keyed partial-agg sum and a per-query top-k window
    * (WindowGroupLimit pushdown, same shape as brute-force ANN but over
    * 4-byte codes instead of dim floats). All distances are exact
    * integers in quantized space. Returns (qid, rank, nid, adist).
    *
    * `refine > 0` re-scores the ADC top-`refine` pool with the exact
    * integer L2 and re-ranks ([[refineTopK]]) — use it whenever the
    * results are consumed as neighbors rather than as a candidate pool;
    * the return schema is then (qid, rank, nid, dist) with exact
    * distances. */
  def annTopKPq(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, dim: Int, kNN: Int = 3, m: Int = 4,
                k: Int = 16, iters: Int = 2, scale: Int = 1000,
                refine: Int = 0): DataFrame = {
    // one quantized checkpoint per side feeds training, codes, LUTs AND
    // the exact refine stage (r15 — the old form materialized m sliced
    // corpus copies for training plus a fresh full-vector copy for refine)
    val cq = quantized(corpus, idCol, vecCol, scale)
    val qq = quantized(queries, idCol, vecCol, scale)
    val (codes, luts) = pqParts(cq, qq, dim, m, k, iters)
    val adc = pqTopK(codes.join(broadcast(luts), Seq("sub", "code"))
      .filter(col("id") =!= col("qid")), if (refine > 0) refine else kNN)
    if (refine <= 0) adc
    else refineTopKQuantized(adc, cq, qq, kNN)
  }

  /** Combined IVF-PQ ANN — the full FAISS-style index architecture, both
    * halves composed: a trained coarse quantizer (the deterministic
    * integer Lloyd's over FULL vectors) restricts each query to its
    * `nProbe` nearest cells, and only those cells' members are scored,
    * via the PQ code/lookup-table machinery (never the raw vectors).
    *
    * Scale shape (the 100-TB serving path): corpus cell assignment is the
    * k-means literal projection (join-free); the candidate restriction is
    * ONE equi-join of the cell table against the broadcast (qid, cell)
    * probe set; scoring joins candidates to codes on id and to the
    * broadcast LUTs on (qid, sub, code), then the same partial-agg sum +
    * per-query window as [[annTopKPq]]. Scored volume drops from |corpus|
    * to ~|corpus| * nProbe / nCells per query, and the scored payload is
    * m code bytes per vector, not dim floats. All distances exact
    * integers; `nProbe = nCells` degenerates to exactly [[annTopKPq]]'s
    * ranking (asserted in ClusteringSpec). Returns (qid, rank, nid,
    * adist).
    *
    * `refine > 0` adds the exact re-rank stage over the ADC top-`refine`
    * pool ([[refineTopK]]; schema becomes (qid, rank, nid, dist), exact).
    * ADC-only ranking is a CANDIDATE GENERATOR on weakly-clustered
    * embeddings — recall@3 ~0.2 unrefined vs ~0.87 with refine = 10*kNN
    * on the sf0.01 audit corpus (ClusteringSpec bounds the refined path
    * >= 0.7) — so serve neighbors from the refined form. */
  def annTopKIvfPq(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, dim: Int, kNN: Int = 3, nCells: Int = 8,
                   cIters: Int = 3, nProbe: Int = 2, m: Int = 4, k: Int = 16,
                   iters: Int = 2, scale: Int = 1000,
                   refine: Int = 0): DataFrame = {
    // coarse quantizer over the full vectors: corpus side assigns to its
    // single nearest cell (literal projection, join-free)
    val cpts = quantized(corpus, idCol, vecCol, scale)
    val cents = train(cpts, nCells, cIters)
    val cells = cpts.select(col("id"),
      nearest(cents, col("q")).getField("j").as("cell"))
    // query side probes its nProbe nearest cells (ties to the lowest cell
    // id, the repo-wide determinism rule); the window is fine here because
    // the query set is the small broadcast side
    val qpts = quantized(queries, idCol, vecCol, scale)
    val qcd = qpts.select(col("id").as("qid"),
        explode(array(cents.map { case (j, c) =>
          struct(lit(j).as("cell"), qdist(col("q"), c).as("d"))
        }: _*)).as("e"))
      .select(col("qid"), col("e.cell").as("cell"), col("e.d").as("d"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("d"), col("cell"))
    val probes = qcd.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nProbe).select(col("qid"), col("cell"))
    val cand = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"))
    // cpts/qpts (already checkpointed above for the coarse quantizer)
    // feed PQ training, codes, LUTs and the refine stage too (r15): the
    // old form re-quantized the corpus into m sliced copies plus one more
    // full copy for refine — 6 materializations of the same bytes
    val (codes, luts) = pqParts(cpts, qpts, dim, m, k, iters)
    val adc = pqTopK(cand.join(codes, Seq("id"))
      .join(broadcast(luts), Seq("qid", "sub", "code")),
      if (refine > 0) refine else kNN)
    if (refine <= 0) adc
    else refineTopKQuantized(adc, cpts, qpts, kNN)
  }

  /** Product quantization: split each vector into `m` equal subspaces, run
    * the deterministic integer k-means per subspace, and emit each
    * vector's per-subspace centroid codes plus the exact integer
    * quantization error (sum of squared L2 to the assigned centroids in
    * quantized space) — the memory-bound half of IVF-PQ ANN serving:
    * dim*4 bytes/vector compress to m code bytes (k <= 256).
    *
    * Scale shape: m independent [[kmeansAssign]] runs over sliced
    * subvectors (each the same one-scan-per-iteration shape), then an
    * id-keyed join of the m assignments. Codes come back as columns
    * c0..c{m-1} (exact-compare-friendly) with `qerr` the summed distance.
    */
  def pqCodes(df: DataFrame, idCol: String, vecCol: String, dim: Int,
              m: Int = 4, k: Int = 16, iters: Int = 2,
              scale: Int = 1000): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val subDim = dim / m
    val offsets = (0 until m).map(_ * subDim)
    // r15: one shared quantized checkpoint + the fused subspace trainer
    // (one scan per round for all m subspaces), then every subspace's
    // (code, dist) in ONE join-free projection — the old form ran m
    // separate kmeansAssign pipelines and joined their outputs m-ways.
    // Same ids, same exact integer assignments/distances.
    val cq = quantized(df, idCol, vecCol, scale)
    val cents = trainSubspaces(cq, offsets, subDim, k, iters)
    val fins = (0 until m).map(s =>
      nearest(cents(s), slice(col("q"), offsets(s) + 1, subDim)))
    cq.select(col("id") +:
      (0 until m).map(s => fins(s).getField("j").as(s"c$s")) :+
      (0 until m).map(s => fins(s).getField("d")).reduce(_ + _).as("qerr"): _*)
  }

  /** Per-cluster summary over the final assignment: size and mean quantized
    * distance (floor-truncated ratio, oracle-parity style). */
  def kmeansSummary(assigned: DataFrame): DataFrame =
    assigned.groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        sum("dist").as("sum_dist"),
        min("id").as("min_id"))
      .select(col("cluster"), col("n"), col("sum_dist"),
        (floor(col("sum_dist") * 100 / col("n")) / 100.0).as("mean_dist"),
        col("min_id"))

  /** Nearest-centroid (Rocchio) classification: each class's prototype is
    * the floor-div integer mean of its training vectors in quantized
    * space; a test vector takes the label of the closest prototype by
    * exact integer squared L2 (ties to the lowest label) — the embedding
    * classifier for curation-time label propagation (domain/quality/topic
    * tagging) when a handful of labeled exemplars must tag the whole
    * corpus.
    *
    * Scale shape: training is ONE partial-agg shuffle producing
    * #labels × dim rows (the same exchange as a Lloyd round); prototypes
    * then ride the scoring plan as literals, so inference over the corpus
    * is a join-free, shuffle-free projection at scan speed — exactly how
    * 100 TB of unlabeled data wants to be tagged. Returns
    * (id, pred, dist). */
  def nearestCentroidClassify(train: DataFrame, test: DataFrame,
                              idCol: String, vecCol: String, labelCol: String,
                              scale: Int = 1000): DataFrame = {
    val tr = train.select(col(labelCol).cast("int").as("lbl"),
      transform(col(vecCol),
        v => floor(v.cast("double") * scale).cast("long")).as("q"))
    val sums = tr.select(col("lbl"), posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy("lbl", "pos")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect()
    val cents: Seq[(Int, Array[Long])] =
      sums.groupBy(_.getInt(0)).toSeq.map { case (l, rows) =>
        val c = new Array[Long](rows.length)
        rows.foreach(r => c(r.getInt(1)) = Math.floorDiv(r.getLong(2), r.getLong(3)))
        (l, c)
      }.sortBy(_._1)
    val pts = quantized(test, idCol, vecCol, scale)
    val fin = nearest(cents, col("q"))
    pts.select(col("id"),
      fin.getField("j").as("pred"),
      fin.getField("d").as("dist"))
  }
}
