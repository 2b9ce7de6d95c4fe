package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent IVF-PQ ANN index — the trained similarity-search artifact,
  * applying [[DedupIndex]]'s maintained-artifact discipline to the ANN
  * surface: at 100 TB the coarse quantizer and PQ codebooks are TRAINED
  * ONCE (an offline index-build job over the corpus), and serving reads
  * the stored cells/codes tables — it never re-runs Lloyd's per query
  * batch, which is exactly what the inline [[Clustering.annTopKIvfPq]]
  * form pays every call (fine for one-shot jobs, wrong for a served
  * index; FAISS makes the same build/serve split).
  *
  * Parquet tables under the [[GenStore]] segment-manifest layout. The
  * manifest TAG is GenStore's `v3`; this store's "v4" pruned layout is
  * signaled by the `nPfx` prop, not a tag bump (grep for `v3` when
  * debugging a manifest, not "v4"):
  *
  *   `<dir>/_META`                `v3 gen=<g> segs=<...> dim=… nCells=… m=… k=… scale=… nPfx=…`
  *   `<dir>/g<g>/base/coarse`     (j, q)          — nCells coarse centroids
  *   `<dir>/g<g>/base/pqcents`    (sub, j, q)     — m*k PQ subspace centroids
  *   `<dir>/g<g>/<seg>/cells/cell=<j>/`   (id)    — coarse assignment
  *   `<dir>/g<g>/<seg>/codes/pfx=<p>/`    (sub, id, code) — PQ codes,
  *                                          pfx = hash(id) mod nPfx
  *   `<dir>/g<g>/<seg>/vectors/pfx=<p>/`  (id, q) — flat quantized vectors
  *
  * The codebooks live only in the `base` segment — they are fixed at
  * build time (the standard IVF-PQ contract: new vectors are CODED with
  * the existing codebooks and appended, they do not retrain them) and are
  * copied through compaction. The appendable tables (cells/codes/vectors)
  * get one SEGMENT per accepted batch: atomic (a crash leaves an
  * uncommitted directory no reader sees), idempotent when keyed by a
  * streaming batchId, and safe against a racing [[compact]] (the manifest
  * CAS) — the shared [[GenStore]] contract.
  *
  * Serving scale shape: centroid reads are manifest-scale collects (k*dim
  * longs); the probe set and per-query LUTs are broadcast; candidate
  * restriction is ONE equi-join of the stored cells table against the
  * broadcast probes; scoring joins candidates to stored codes on id and
  * the broadcast LUTs on (qid, sub, code); refine fetches only the
  * top-pool rows from the flat-vector table by id.
  *
  * FILE-LEVEL PRUNING, all three stored reads ([[DedupIndex]]'s
  * discipline — the directory-partition layout is the path-based
  * equivalent of `bucketBy`, which Spark only supports through a
  * metastore table): serving collects the batch's probed CELL values (a
  * metadata-scale collect, bounded by nCells) and reads only those
  * `cells` partitions; it then collects the distinct id-pfx values of
  * the candidates that survive the probe join (second metadata-scale
  * collect, bounded by nPfx) and reads only those `codes`/`vectors`
  * partitions for ADC scoring and exact refine. Without this every
  * micro-batch paid a CORPUS-sized scan of all three tables at the IO
  * layer even though the joins were batch-bounded — the same gap
  * VERDICT r07 #3 called out for the dedup index's shingles table. Each
  * pruning filter is a strict superset of the exact join it feeds
  * (cells: the probe equi-join; codes/vectors: the candidate id
  * equi-joins), so served answers are bit-identical with or without it
  * ([[graft.AnnIndexSpec]] asserts both the equality and the pruned
  * file counts). `nPfx` is part of the on-disk layout; the persisted
  * value wins thereafter. Pre-v4 stores (no nPfx, unpartitioned tables)
  * read as ABSENT so maintained deployments rebuild them once.
  */
object AnnIndexStore {

  private val Tables = Seq("coarse", "pqcents", "cells", "codes", "vectors")
  private val AppendTables = Seq("cells", "codes", "vectors")

  /** Default id-pfx partition count for codes/vectors (the [[DedupIndex]]
    * knob: small enough that a partition is many row groups at corpus
    * scale, large enough that a batch's candidates touch a fraction). */
  val DefaultPfx = 64

  private def idPfx(nPfx: Int) = pmod(hash(col("id")), lit(nPfx))

  // scan-pruning evidence for AnnIndexSpec (files actually selected by
  // the last serving call's cells / codes reads). Collecting it forces an
  // extra physical-plan build per serving call, so it is flag-gated: a
  // production gate never pays it (VERDICT r08 #4 driver-latency audit).
  @volatile private[graft] var scanDiagnostics = false
  private[graft] val lastPrunedCellFiles =
    new java.util.concurrent.atomic.AtomicLong(-1L)
  private[graft] val lastPrunedPfxFiles =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  // Codebooks are immutable for the lifetime of a generation directory
  // (trained at build, copied by compact into the NEXT g<n>), so the
  // collected driver copies are memoized by base path: a per-batch
  // serving gate pays the two codebook read+collect jobs ONCE per
  // generation instead of per micro-batch (VERDICT r08 #4). build()
  // drops the dir's entries; an in-place rebuild from another process
  // already deletes files under any live reader and is out of contract.
  // Bounded LRU (keys are generation-qualified paths: cross-process rebuilds
  // bump the generation and would otherwise accumulate dead-gen codebooks).
  private val coarseCache =
    GenStore.boundedLru[String, Seq[(Int, Array[Long])]](64)
  private val pqCache =
    GenStore.boundedLru[String, Map[Int, Seq[(Int, Array[Long])]]](64)

  private def dropCodebooks(dir: String): Unit = {
    val abs = java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString
    coarseCache.synchronized(coarseCache.keySet.removeIf(_.startsWith(abs)))
    pqCache.synchronized(pqCache.keySet.removeIf(_.startsWith(abs)))
  }

  // pre-v3 layouts at the store root: flat tables, swap debris, meta.json
  private val Legacy =
    (Tables ++ Tables.map(_ + "_old") ++ Tables.map(_ + "_tmp"))
      .toSet + "meta.json" + "meta.json.tmp"

  /** The live generation's data directory (exposed for specs/tools). */
  def currentGenDir(dir: String): String =
    GenStore.readOrFail(dir, "AnnIndexStore").genDir(dir)

  /** Train coarse + PQ codebooks on `corpus` and write the full index
    * under `dir` (overwrite). One quantization pass feeds the coarse
    * trainer, the m subspace trainers, the cell/code assignment, and the
    * stored flat vectors. */
  def build(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
            dim: Int, nCells: Int = 8, cIters: Int = 3, m: Int = 4,
            k: Int = 16, iters: Int = 2, scale: Int = 1000,
            nPfx: Int = DefaultPfx): Unit = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    require(nPfx > 0, s"nPfx must be positive, got $nPfx")
    val spark = corpus.sparkSession
    import spark.implicits._
    val subDim = dim / m
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    // rebuild window: drop the completion marker before touching data,
    // then clear stale generations / legacy layouts for a clean slate
    GenStore.clearMeta(dir)
    dropCodebooks(dir)
    GenStore.pruneGens(dir, keep = Set.empty, legacy = Legacy)
    val g = s"$dir/g0/${GenStore.BaseSeg}"
    val pts = Clustering.quantized(corpus, idCol, vecCol, scale)
    pts.withColumn("pfx", idPfx(nPfx))
      .write.mode("overwrite").partitionBy("pfx").parquet(s"$g/vectors")

    val coarse = Clustering.train(pts, nCells, cIters)
    coarse.map { case (j, c) => (j, c.toSeq) }.toDF("j", "q")
      .coalesce(1).write.mode("overwrite").parquet(s"$g/coarse")
    pts.select(col("id"),
        Clustering.nearest(coarse, col("q")).getField("j").as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$g/cells")

    // r15: fused subspace training (one scan per round for all m
    // subspaces, one shared quantized table instead of m sliced copies).
    // Centroids are bit-identical to the sequential form (ClusteringSpec),
    // so stored indexes are unchanged.
    val offsets = (0 until m).map(_ * subDim)
    val subCents = Clustering.trainSubspaces(pts, offsets, subDim, k, iters)
    (0 until m).flatMap(s => subCents(s).map { case (j, c) => (s, j, c.toSeq) })
      .toDF("sub", "j", "q")
      .coalesce(1).write.mode("overwrite").parquet(s"$g/pqcents")
    pqCodes(pts, subCents, subDim, nPfx)
      .write.mode("overwrite").partitionBy("pfx").parquet(s"$g/codes")

    GenStore.init(dir, GenStore.State(0, Vector(GenStore.BaseSeg),
      Map("dim" -> dim, "nCells" -> nCells, "m" -> m, "k" -> k,
        "scale" -> scale, "nPfx" -> nPfx)))
  }

  /** The (sub, id, code, pfx) code table of quantized points `pts` under
    * the per-subspace codebooks `cents(s)` (subspace s covers elements
    * [s*subDim, (s+1)*subDim)): ONE exploded projection for all
    * subspaces, never an m-way union (r15: `q_pq_codes` 8 -> 2
    * Exchanges). [[build]] codes the corpus with the codebooks it just
    * trained, [[append]] a batch with the stored ones. */
  private def pqCodes(pts: DataFrame, cents: Seq[Seq[(Int, Array[Long])]],
                      subDim: Int, nPfx: Int): DataFrame =
    pts.select(explode(array(cents.indices.map { s =>
        struct(lit(s).as("sub"), col("id").as("id"),
          Clustering.nearest(cents(s),
            slice(col("q"), s * subDim + 1, subDim)).getField("j").as("code"))
      }: _*)).as("e"))
      .select(col("e.sub").as("sub"), col("e.id").as("id"),
        col("e.code").as("code"))
      .withColumn("pfx", idPfx(nPfx))

  /** Code an accepted batch with the STORED codebooks and append it to
    * cells/codes/vectors as one atomic SEGMENT — the incremental-index
    * contract: new ids must be disjoint from the stored corpus; codebooks
    * are never retrained. With `batchId` set (the streaming gate), a
    * retried micro-batch whose append already committed is skipped. */
  def append(batch: DataFrame, idCol: String, vecCol: String, dir: String,
             batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    val seg = batchId.map(GenStore.batchSeg).getOrElse(GenStore.freshSeg())
    GenStore.appendSeg(dir, "AnnIndexStore", seg) { (st, segDir) =>
      val base = s"${st.genDir(dir)}/${GenStore.BaseSeg}"
      val subDim = st.props("dim") / st.props("m")
      // the PERSISTED partition count wins (appending with another value
      // would scatter an id across pfx partitions and break pruning)
      val nPfx = st.props("nPfx")
      val pts = Clustering.quantized(batch, idCol, vecCol, st.props("scale"))
      pts.withColumn("pfx", idPfx(nPfx))
        .write.mode("overwrite").partitionBy("pfx").parquet(s"$segDir/vectors")
      pts.select(col("id"),
          Clustering.nearest(coarseCents(spark, base), col("q")).getField("j")
            .as("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$segDir/cells")
      val pq = pqCents(spark, base)
      pqCodes(pts, (0 until st.props("m")).map(pq), subDim, nPfx)
        .write.mode("overwrite").partitionBy("pfx").parquet(s"$segDir/codes")
    }
    ()
  }

  /** Whether a batchId-keyed [[append]] has committed (replay detection). */
  def batchApplied(dir: String, batchId: Long): Boolean =
    GenStore.batchApplied(dir, batchId)

  /** The vector ids a batchId-keyed append committed
    * ([[GenStore.batchIds]]). */
  def batchVecIds(spark: SparkSession, dir: String, batchId: Long): DataFrame =
    GenStore.batchIds(spark, dir, "AnnIndexStore", batchId, "cells", "id")

  def exists(dir: String): Boolean =
    GenStore.read(dir).exists { st =>
      // pre-v4 stores (no nPfx prop, unpartitioned tables) read as absent
      // so maintained deployments rebuild into the pruned layout once
      st.props.contains("nPfx") &&
        Tables.forall(t => GenStore.tableComplete(dir, st, t)) &&
        AppendTables.forall(t =>
          GenStore.tableComplete(dir, st, t, required = st.segs.toSet))
    }

  /** Compact the appendable tables (cells/codes/vectors) into the NEXT
    * generation's base segment: every [[append]] adds its own segment, so
    * a frequently-fed index decays from "few files per touched
    * partition" to "N files per touched partition" and the pruned
    * serving reads pay per-file open cost. Compaction rewrites each
    * table at ~one file per partition value (cell / id-pfx), preserving
    * rows and layout exactly, so served answers are bit-identical before
    * and after ([[graft.AnnIndexSpec]]). Codebooks (coarse/pqcents) are
    * single-file by construction and are copied through.
    * Serve-through-compact and the append-race CAS are
    * [[GenStore.compact]]'s contract. */
  def compact(spark: SparkSession, dir: String): Unit =
    GenStore.compact(dir, "complete AnnIndexStore", Legacy) { (st, base) =>
      require(exists(dir), s"no complete AnnIndexStore at $dir")
      val partCol = Map("cells" -> "cell", "codes" -> "pfx",
        "vectors" -> "pfx")
      AppendTables.foreach { t =>
        GenStore.readTable(spark, dir, st, t)
          .repartition(col(partCol(t)))
          .write.mode("overwrite").partitionBy(partCol(t))
          .parquet(s"$base/$t")
      }
      Seq("coarse", "pqcents").foreach { t =>
        spark.read.parquet(s"${st.genDir(dir)}/${GenStore.BaseSeg}/$t")
          .coalesce(1).write.mode("overwrite").parquet(s"$base/$t")
      }
    }

  /** Serve top-kNN neighbors for `queries` from the stored index: probe
    * the `nProbe` nearest coarse cells, ADC-score only those cells'
    * members from the stored codes, and (refine > 0, recommended — see
    * [[Clustering.annTopKIvfPq]]'s recall note) exactly re-rank the ADC
    * top-`refine` pool from the stored flat vectors. Self-matches
    * (qid == id, for queries drawn from the corpus) are excluded, matching
    * the inline form. The live manifest is pinned once at entry, so a
    * concurrent [[compact]] cannot tear the view. Returns
    * (qid, rank, nid, dist) exact when refined, (qid, rank, nid, adist)
    * ADC-approximate otherwise. */
  def query(queries: DataFrame, idCol: String, vecCol: String, dir: String,
            kNN: Int = 3, nProbe: Int = 2, refine: Int = 0): DataFrame = {
    val (adc, qpts, vecs) = adcPool(queries, idCol, vecCol, dir,
      if (refine > 0) refine else kNN, nProbe)
    if (refine <= 0) adc
    else Clustering.refineTopKQuantized(adc, vecs, qpts, kNN)
  }

  /** Hard-negative mining served FROM THE STORED INDEX — the scale path
    * for [[Similarity.hardNegatives]]'s brute corpus scan (VERDICT r07
    * #5): per anchor, the `k` nearest stored vectors whose EXACT refined
    * distance is strictly ABOVE `negFloor`. Anything at or below the
    * floor is a near-duplicate of the anchor (use the same threshold as
    * the semantic-dedup pass) and would poison a contrastive batch as a
    * false negative; the nearest survivors above it carry the gradient.
    * Serving cost is the standard probe shape — nProbe cells' members
    * ADC-scored, top-`refine` pool exactly re-ranked — so per-anchor-batch
    * cost tracks probed-cell population, never the corpus. Candidates are
    * limited to the probed cells and ADC pool exactly as in [[query]]
    * (same recall knobs; with nProbe = nCells and refine >= corpus the
    * result is bit-identical to the brute band-filtered scan, asserted in
    * [[graft.AnnIndexSpec]]). Returns (qid, rank, nid, dist). */
  def hardNegatives(queries: DataFrame, idCol: String, vecCol: String,
                    dir: String, k: Int, negFloor: Long, nProbe: Int = 2,
                    refine: Int = 30): DataFrame = {
    require(refine > 0, "hardNegatives needs an exact refine pool (> 0): " +
      "the band boundary must be judged on exact distances")
    val (adc, qpts, vecs) = adcPool(queries, idCol, vecCol, dir, refine, nProbe)
    Clustering.refineTopKQuantized(adc, vecs, qpts, k, minDist = negFloor)
  }

  /** Semi-supervised kNN labeling FROM THE STORED INDEX — tag an
    * unlabeled corpus from a small curated labeled set (the standard
    * label-propagation deployment: the labeled registry is indexed once
    * offline; every unlabeled batch takes the majority vote of its k
    * nearest stored neighbors — the FAISS-backed cousin of
    * [[Clustering.nearestCentroidClassify]], for label structure too
    * multi-modal for one prototype per class). `labels` maps stored ids
    * to classes; ties break toward the LOWEST label (the
    * nearestCentroidClassify discipline), votes-desc first.
    *
    * Scale shape: neighbors come from the standard probe
    * (nProbe cells ADC-ranked, top-`refine` exactly re-ranked — cost
    * tracks probed cells, never the corpus), the k x |batch| neighbor
    * set BROADCASTS into one scan of the label registry (never shuffled),
    * and the vote window is partitioned by query. Returns
    * (qid, pred_label, votes). */
  def knnClassify(queries: DataFrame, idCol: String, vecCol: String,
                  dir: String, labels: DataFrame, labelIdCol: String,
                  labelCol: String, k: Int = 5, nProbe: Int = 2,
                  refine: Int = 30): DataFrame = {
    val nn = query(queries, idCol, vecCol, dir, k, nProbe, refine)
    val voted = labels
      .select(col(labelIdCol).as("nid"), col(labelCol).as("pred_label"))
      .join(broadcast(nn.select("qid", "nid")), Seq("nid"))
      .groupBy(col("qid"), col("pred_label"))
      .agg(count(lit(1)).as("votes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("votes").desc, col("pred_label"))
    voted.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("qid"), col("pred_label"), col("votes"))
  }

  /** Margin-based semantic alignment mining served FROM THE STORED INDEX
    * — the scale path for [[Similarity.marginMine]]'s brute forward scan,
    * the same upgrade [[hardNegatives]] took: the forward candidate pool
    * per source vector is the index probe (nProbe cells ADC-ranked to
    * `refine` candidates) instead of a target-corpus scan, then the pool
    * is exactly re-ranked BY COSINE over the stored quantized vectors and
    * the ratio margin computed as in the brute form (cosine over the mean
    * of both k-neighborhoods; backward neighborhoods brute over the
    * batch-scale source side — candidates × broadcast batch, bounded by
    * k·|batch|). Per-batch cost tracks probed cells, never the corpus.
    *
    * All cosines are over the QUANTIZED vectors: dots and norms are exact
    * 64-bit integers (no float-summation order anywhere), and the derived
    * doubles are bit-identical in any engine — the q_margin_mine_stored
    * mirror reproduces every sim and margin exactly. Recall inherits the
    * probe/pool knobs: with nProbe = nCells and refine >= corpus the
    * forward pool degenerates to the full corpus and the result equals
    * the brute quantized-cosine margin computation
    * ([[graft.AnnIndexSpec]] asserts it). Returns
    * (src_id, tgt_id, sim, margin) for pairs clearing `minMargin`. */
  def marginMine(src: DataFrame, idCol: String, vecCol: String, dir: String,
                 k: Int = 4, nProbe: Int = 2, refine: Int = 30,
                 minMargin: Double = 1.0): DataFrame = {
    require(k >= 1 && refine >= k,
      s"need refine >= k >= 1, got k=$k refine=$refine")
    val (adc, qpts, vecs) = adcPool(src, idCol, vecCol, dir, refine, nProbe)
    // r14: codegen integer dot (the Similarity/Clustering discipline)
    // instead of the interpreted aggregate(zip_with) fold — same exact
    // 64-bit sum over equal-length non-null quantized vectors.
    def idot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.VectorFunctions.vecDotLong(a, b)
    val q = qpts.select(col("id").as("qid"), col("q").as("qq"))
      .withColumn("qn", sqrt(idot(col("qq"), col("qq")).cast("double")))
    val v = vecs.select(col("id"), col("q").as("nq"))
      .withColumn("nn", sqrt(idot(col("nq"), col("nq")).cast("double")))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("sim").desc, col("id").asc)
    val fwd = adc.select(col("qid"), col("nid").as("id"))
      .join(v, Seq("id"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("sim",
        idot(col("qq"), col("nq")).cast("double") / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"),
        (floor(col("sim") * 1000000) / 1000000.0).as("sim"))
    val cand = v.join(fwd.select(col("id")).distinct(), Seq("id"))
      .select(col("id").as("cid"), col("nq"), col("nn"))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy("cid").orderBy(col("sim").desc, col("qid").asc)
    val bwd = cand.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("sim",
        idot(col("qq"), col("nq")).cast("double") / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(wb))
      .filter(col("rank") <= k)
      .select(col("cid"), col("rank"),
        (floor(col("sim") * 1000000) / 1000000.0).as("sim"))
    def nbAvg(t: DataFrame, keyCol: String, idOut: String, avgOut: String) =
      t.groupBy(col(keyCol).as(idOut))
        .agg((aggregate(
          transform(array_sort(collect_list(struct(col("rank"), col("sim")))),
            x => x.getField("sim")),
          lit(0.0), (a, x) => a + x) / k).as(avgOut))
    fwd.filter(col("rank") === 1)
      .select(col("qid").as("src_id"), col("id").as("tgt_id"), col("sim"))
      .join(nbAvg(fwd, "qid", "src_id", "f_avg"), Seq("src_id"))
      .join(nbAvg(bwd, "cid", "tgt_id", "b_avg"), Seq("tgt_id"))
      .withColumn("margin", col("sim") * 2.0 / (col("f_avg") + col("b_avg")))
      .filter(col("margin") >= minMargin)
      .select(col("src_id"), col("tgt_id"), col("sim"),
        (floor(col("margin") * 10000) / 10000.0).as("margin"))
  }

  /** Per-vector near-duplicate verdict against the stored index — the
    * embedding twin of [[DedupIndex.matchBatch]]: one row per incoming
    * vector, (new_id, match_id, dist, is_dup), where match_id/dist name
    * the NEAREST stored vector by exact quantized L2 (from the refined
    * pool) iff that distance is at or below `dupFloor` — the semantic-dup
    * radius — and null/-1/false otherwise. Incoming ids must be disjoint
    * from the stored corpus. Serving cost is the standard probe shape
    * (nProbe cells ADC-scored, top-`refine` exactly re-ranked), so the
    * per-batch cost tracks probed cells, never the corpus; recall of the
    * verdict inherits the probe/pool knobs exactly like [[query]].
    * [[graft.streaming.StreamingAnn.gateAndMaintainVectors]] is the
    * ingest-loop composition (gate + append survivors).
    *
    * DEFAULTS sized for recall, and measured (the q_ann_gate_recall
    * audit): at a radius set to the
    * MEDIAN nearest-neighbor distance — the adversarial regime, where
    * half the "dups" are barely distinguishable from non-dups — recall is
    * POOL-bound, not probe-bound (refine=30 caps at ~0.5 even probing all
    * cells; nProbe=6/refine=100 measures 0.875 at sf0.01). A production
    * semantic-dup radius sits well inside the NN distribution (true dups
    * are near-copies), where the ADC gap is easy; re-run the audit when
    * changing corpus or radius. */
  def matchBatchVectors(batch: DataFrame, idCol: String, vecCol: String,
                        dir: String, dupFloor: Long, nProbe: Int = 6,
                        refine: Int = 100): DataFrame = {
    require(refine > 0, "matchBatchVectors needs an exact refine pool (> 0)")
    val (adc, qpts, vecs) = adcPool(batch, idCol, vecCol, dir, refine, nProbe)
    val best = Clustering.refineTopKQuantized(adc, vecs, qpts, kNN = 1)
      .filter(col("dist") <= dupFloor)
      .select(col("qid").as("new_id"), col("nid").as("match_id"),
        col("dist"))
    batch.select(col(idCol).cast("long").as("new_id"))
      .join(best, Seq("new_id"), "left")
      .select(col("new_id"), col("match_id"),
        coalesce(col("dist"), lit(-1L)).as("dist"),
        col("match_id").isNotNull.as("is_dup"))
  }

  /** EXACT brute-force twin of [[matchBatchVectors]] — the ground-truth
    * side of the gate's recall audit (q_ann_gate_recall): every incoming
    * vector scored against the FULL `corpus` frame (quantized L2, one
    * corpus scan x broadcast batch, min_by partial aggregation), same
    * verdict contract. Self-pairs (corpus id == batch id) are excluded,
    * matching the gate's own guard, so a batch that overlaps the corpus
    * frame audits its true neighbors instead of matching itself at
    * distance 0. A gate "dup" carries an exact distance <= floor, so
    * gate-found ⊆ exact-found and recall = found/true — the number to
    * check before trusting the probe/pool knobs at a new scale. */
  def matchBatchVectorsExact(batch: DataFrame, idCol: String, vecCol: String,
                             corpus: DataFrame, dupFloor: Long,
                             scale: Int = 1000): DataFrame = {
    val b = Clustering.quantized(batch, idCol, vecCol, scale)
      .select(col("id").as("qid"), col("q").as("qq"))
    val c = Clustering.quantized(corpus, idCol, vecCol, scale)
      .select(col("id").as("nid"), col("q").as("nq"))
    val best = c.crossJoin(broadcast(b))
      .filter(col("nid") =!= col("qid"))
      // r14: codegen integer squared-L2 instead of the interpreted
      // aggregate(zip_with) fold — exact 64-bit sum, same values
      .withColumn("dist",
        graft.functions.VectorFunctions.vecL2SqLong(col("qq"), col("nq")))
      .groupBy("qid")
      .agg(min_by(struct(col("nid").as("match_id"), col("dist")),
        struct(col("dist"), col("nid"))).as("m"))
      .select(col("qid").as("new_id"), col("m.match_id").as("match_id"),
        col("m.dist").as("dist"))
      .filter(col("dist") <= dupFloor)
    batch.select(col(idCol).cast("long").as("new_id"))
      .join(best, Seq("new_id"), "left")
      .select(col("new_id"), col("match_id"),
        coalesce(col("dist"), lit(-1L)).as("dist"),
        col("match_id").isNotNull.as("is_dup"))
  }

  /** Shared serving front half: probe the nProbe nearest coarse cells and
    * ADC-rank the probed cells' members to a `poolSize` candidate pool.
    * Returns (adc pool, quantized queries, pinned stored-vectors frame). */
  private def adcPool(queries: DataFrame, idCol: String, vecCol: String,
                      dir: String, poolSize: Int, nProbe: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = queries.sparkSession
    val st = GenStore.readOrFail(dir, "AnnIndexStore")
    val base = s"${st.genDir(dir)}/${GenStore.BaseSeg}"
    val subDim = st.props("dim") / st.props("m")
    val nPfx = st.props("nPfx")
    val coarse = coarseCents(spark, base)
    val qpts = Clustering.quantized(queries, idCol, vecCol, st.props("scale"))
    val qcd = qpts.select(col("id").as("qid"),
        explode(array(coarse.map { case (j, c) =>
          struct(lit(j).as("cell"), Clustering.qdist(col("q"), c).as("d"))
        }: _*)).as("e"))
      .select(col("qid"), col("e.cell").as("cell"), col("e.d").as("d"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("d"), col("cell"))
    val probes = qcd.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nProbe).select(col("qid"), col("cell"))
    // Metadata-scale collect #1: the batch's probed cells (at most nCells
    // small ints) cut the stored cells read to the probed partitions —
    // the isin is the per-batch superset of the probe equi-join below,
    // so candidates are identical with and without it (class doc).
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0))
    val cand0 = GenStore.readTableCached(spark, dir, st, "cells")
      .filter(if (probedCells.isEmpty) lit(false)
        else col("cell").isin(probedCells.map(Integer.valueOf): _*))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"))
    // Diagnostics for AnnIndexSpec (the checkpoint below erases the file
    // scan from downstream plans; summed across per-segment union legs).
    if (scanDiagnostics) lastPrunedCellFiles.set(
      cand0.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
      }.sum)
    // Materialized ONCE: the candidate set is batch-bounded (batch x
    // probed-cell population) and feeds the pfx collect below plus the
    // codes join — without this the pruned cells scan would re-run per
    // consumer (the DedupIndex.prunedSides discipline). localCheckpoint,
    // NOT Iterate.checkpoint: a serving call is a single-batch scratch
    // materialization, and the reliable flavor would leak one checkpoint
    // dir per query batch of a long-running gate unless the deployment
    // sets spark.cleaner.referenceTracking.cleanCheckpoints (ADVICE r08).
    // (Fusing the checkpoint + pfx collect into one aggregate job was
    // measured SLOWER — 1.67 vs 1.21 s warm at sf0.1 — because the main
    // query then re-plans the cells scan + probe join as extra AQE
    // stages; negative result kept on record here.)
    val cand = cand0.localCheckpoint()
    val candPfx = cand.select(idPfx(nPfx).as("pfx")).distinct()
      .collect().map(_.getInt(0))
    val pfxIsin: Column =
      if (candPfx.isEmpty) lit(false)
      else col("pfx").isin(candPfx.map(Integer.valueOf): _*)
    val codes = GenStore.readTableCached(spark, dir, st, "codes").filter(pfxIsin)
    if (scanDiagnostics) lastPrunedPfxFiles.set(
      codes.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
      }.sum)
    val pq = pqCents(spark, base)
    val luts = (0 until st.props("m")).map { s =>
      qpts.select(col("id").as("qid"),
          explode(array(pq(s).map { case (j, c) =>
            struct(lit(j).as("code"),
              Clustering.qdist(slice(col("q"), s * subDim + 1, subDim), c)
                .as("pd"))
          }: _*)).as("e"))
        .select(col("qid"), lit(s).as("sub"),
          col("e.code").as("code"), col("e.pd").as("pd"))
    }.reduce(_ unionByName _)
    val adc = Clustering.pqTopK(
      cand.join(codes, Seq("id"))
        .join(broadcast(luts), Seq("qid", "sub", "code")),
      poolSize)
    (adc, qpts,
      GenStore.readTableCached(spark, dir, st, "vectors").filter(pfxIsin))
  }

  private def cached[V](cache: java.util.LinkedHashMap[String, V],
                        base: String)(load: => V): V = {
    val k = java.nio.file.Paths.get(base).toAbsolutePath.normalize.toString
    cache.synchronized(Option(cache.get(k))).getOrElse {
      val v = load // outside the lock: load runs Spark jobs
      cache.synchronized(cache.put(k, v))
      v
    }
  }

  private def coarseCents(spark: SparkSession, base: String): Seq[(Int, Array[Long])] =
    cached(coarseCache, base)(
      spark.read.parquet(s"$base/coarse").select("j", "q").collect()
        .map(r => (r.getInt(0), r.getSeq[Long](1).toArray)).sortBy(_._1).toSeq)

  private def pqCents(spark: SparkSession,
                      base: String): Map[Int, Seq[(Int, Array[Long])]] =
    cached(pqCache, base)(
      spark.read.parquet(s"$base/pqcents").select("sub", "j", "q").collect()
        .groupBy(_.getInt(0))
        .map { case (s, rows) => s -> rows
          .map(r => (r.getInt(1), r.getSeq[Long](2).toArray))
          .sortBy(_._1).toSeq })
}
