package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Similarity, TextDedup}
import QuerySupport._

/** Vectors and ANN: cosine pairs, k-means, product quantization, IVF
  * and IVF-PQ indexes (inline and stored), gates and recall audits. */
private[graft] object VectorQueries extends QueryLayer("vector") {
  lazy val defs: Seq[QueryDef] = Seq(

    // Embedding cosine near-dup pairs (exact all-pairs above threshold —
    // small-input utility; the scale path is q_embed_cosine_lsh below).
    query("q_embed_cosine_pairs")(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings)
         SELECT a.vec_id AS id1, b.vec_id AS id2,
           floor(${cosSql("a.e", "b.e")} * 1000000) / 1000000 AS sim
         FROM v a JOIN v b ON a.vec_id < b.vec_id
         WHERE ${cosSql("a.e", "b.e")} > 0.4
         ORDER BY id1, id2""")((s, dir) => {
      Similarity.cosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding", 0.4)
        .orderBy("id1", "id2")
    }),

    // Embedding near-dup, 100-TB shape: hyperplane-LSH bucket prefilter
    // (2 independent tables x 4 sign bits) + exact cosine re-score. The
    // plan is all equi-joins — no BroadcastNestedLoopJoin (asserted in
    // TextDedupSpec).
    query("q_embed_cosine_lsh")(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         $lshPairCandCtes
         SELECT id1, id2,
           floor(${cosSql("x.e", "y.e")} * 1000000) / 1000000 AS sim
         FROM cand JOIN v x ON x.vec_id = id1 JOIN v y ON y.vec_id = id2
         WHERE ${cosSql("x.e", "y.e")} > 0.4
         ORDER BY id1, id2""")((s, dir) => {
      Similarity.cosinePairsLsh(Tables.embeddings(s, dir), "vec_id", "embedding", 0.4)
        .orderBy("id1", "id2")
    }),

    // Johnson–Lindenstrauss compression: 64-dim embeddings projected to 16
    // exact-integer coordinates by a deterministic ±1 md5 sign matrix that
    // rides the plan as literals — zero shuffle, zero joins; the narrow
    // space is where 100-TB dedup/ANN/cluster passes should run. Long
    // format (one row per coordinate) so the oracle hash covers every
    // value.
    query("q_jl_project")(
      """WITH s AS (SELECT i, j,
           CASE WHEN ('0x' || substr(md5('1_' || i || '_' || j), 1, 15))::BIGINT
                  % 2 = 0 THEN 1 ELSE -1 END AS sgn
         FROM range(64) t1(i), range(16) t2(j)),
         e AS (SELECT vec_id, i,
           CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) * 1000)
             AS BIGINT) AS q
         FROM embeddings, range(64) t(i))
         SELECT vec_id, CAST(j AS INT) AS j,
           CAST(sum(q * sgn) AS BIGINT) AS proj
         FROM e JOIN s USING (i) GROUP BY vec_id, j ORDER BY vec_id, j""")((s, dir) => {
      Similarity.randomProject(Tables.embeddings(s, dir),
          "vec_id", "embedding", dim = 64, outDim = 16)
        .select(col("id").as("vec_id"), posexplode(col("proj")).as(Seq("j", "proj")))
        .orderBy("vec_id", "j")
    }),

    // Brute-force ANN: top-3 cosine neighbors for the first 10 vectors.
    query("q_ann_topk")(
      s"""WITH ${bruteCosCte("scored")},
         ${cosTop3Sql("scored")}""")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.annTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 3)
        .orderBy("qid", "rank")
    }),

    // Hard-negative mining (contrastive-training curation): for each
    // anchor, the 3 most-similar corpus vectors strictly BELOW the
    // semantic-dup threshold (0.4 — the q_semantic_dedup band). At or
    // above the band a "negative" is really an unlabeled positive; far
    // below it carries no gradient. One corpus scan per query batch,
    // band filter ahead of the rank window.
    query("q_hard_negatives")(
      s"""WITH ${bruteCosCte("scored")},
         ${cosTop3Sql("scored WHERE sim < 0.4")}""")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", 3, 0.4)
        .orderBy("qid", "rank")
    }),

    // Margin-based semantic alignment mining (the LASER/CCMatrix bitext
    // shape): a 5% source batch aligned against the odd-id half as the
    // target corpus — each source's best target scored by the ratio
    // margin (cosine over the mean of both k=4 neighborhoods), which
    // cancels hubness where a raw cosine threshold miscalibrates. The
    // 1.25 floor sits at the measured sf0.01 margin median
    // (range 1.07-1.52; 15 of 25 sources clear it), so the filter is a real
    // split, not a pass-through.
    query("q_margin_mine")(
      s"""WITH src AS (SELECT vec_id, embedding FROM embeddings
             WHERE vec_id % 20 = 0),
         tgt AS (SELECT vec_id, embedding FROM embeddings
             WHERE vec_id % 2 = 1),
         fs AS (SELECT s.vec_id AS qid, t.vec_id AS nid,
             ${cosSql("s.embedding", "t.embedding")} AS sim
           FROM src s CROSS JOIN tgt t),
         fr AS (SELECT qid, nid, sim, row_number() OVER
             (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rank
           FROM fs),
         frk AS (SELECT qid, nid, floor(sim * 1000000) / 1000000 AS sim,
             rank FROM fr WHERE rank <= 4),
         fa AS (SELECT qid AS src_id,
             list_reduce(list(sim ORDER BY rank), (a, b) -> a + b) / 4
               AS f_avg
           FROM frk GROUP BY qid),
         bs AS (SELECT t.vec_id AS qid, s.vec_id AS nid,
             ${cosSql("t.embedding", "s.embedding")} AS sim
           FROM tgt t JOIN (SELECT DISTINCT nid FROM frk) c
             ON t.vec_id = c.nid
           CROSS JOIN src s),
         br AS (SELECT qid, nid, sim, row_number() OVER
             (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rank
           FROM bs),
         brk AS (SELECT qid, floor(sim * 1000000) / 1000000 AS sim, rank
           FROM br WHERE rank <= 4),
         ba AS (SELECT qid AS tgt_id,
             list_reduce(list(sim ORDER BY rank), (a, b) -> a + b) / 4
               AS b_avg
           FROM brk GROUP BY qid)
         SELECT f.qid AS src_id, f.nid AS tgt_id, f.sim,
           floor(f.sim * 2.0 / (fa.f_avg + ba.b_avg) * 10000) / 10000
             AS margin
         FROM frk f
         JOIN fa ON fa.src_id = f.qid
         JOIN ba ON ba.tgt_id = f.nid
         WHERE f.rank = 1 AND f.sim * 2.0 / (fa.f_avg + ba.b_avg) >= 1.25
         ORDER BY src_id""")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.marginMine(e.filter(col("vec_id") % 20 === 0),
          e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
          k = 4, minMargin = 1.25)
        .orderBy("src_id")
    }),

    // Margin mining served from the STORED IVF-PQ index — the scale path
    // for q_margin_mine's brute forward scan: forward candidates come
    // from the probe (2 cells, ADC pool 30) and are exactly re-ranked by
    // quantized-integer cosine; backward neighborhoods stay brute over
    // the batch (bounded). The 1.4 floor sits at the measured sf0.01
    // stored-margin median (range 1.15-1.53; 6 of 10 sources clear it).
    query("q_margin_mine_stored")(
      s"""WITH $ivfPqCteChain,
         mpool AS (SELECT qid, id FROM r WHERE rank <= 30),
         mnrm AS (SELECT id, CAST(sum(q * q) AS BIGINT) AS nn
           FROM ptsiv GROUP BY id),
         mfdot AS (SELECT mpool.qid, mpool.id,
             CAST(sum(a.q * b.q) AS BIGINT) AS dp
           FROM mpool JOIN ptsiv a ON a.id = mpool.id
                      JOIN ptsiv b ON b.id = mpool.qid AND b.pos = a.pos
           GROUP BY mpool.qid, mpool.id),
         mfsim AS (SELECT f.qid, f.id,
             CAST(f.dp AS DOUBLE) /
               (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nc.nn AS DOUBLE)))
               AS sim
           FROM mfdot f JOIN mnrm nq ON nq.id = f.qid
                        JOIN mnrm nc ON nc.id = f.id),
         mfr AS (SELECT qid, id, sim, row_number() OVER
             (PARTITION BY qid ORDER BY sim DESC, id ASC) AS rank
           FROM mfsim),
         mfrk AS (SELECT qid, id, floor(sim * 1000000) / 1000000 AS sim,
             rank FROM mfr WHERE rank <= 4),
         mfa AS (SELECT qid AS src_id,
             list_reduce(list(sim ORDER BY rank), (a, b) -> a + b) / 4
               AS f_avg
           FROM mfrk GROUP BY qid),
         mcand AS (SELECT DISTINCT id FROM mfrk),
         mbdot AS (SELECT c.id AS cid, b.id AS qid,
             CAST(sum(a.q * b.q) AS BIGINT) AS dp
           FROM mcand c
           JOIN ptsiv a ON a.id = c.id
           JOIN ptsiv b ON b.pos = a.pos AND b.id < 10 AND b.id <> c.id
           GROUP BY c.id, b.id),
         mbsim AS (SELECT d.cid, d.qid,
             CAST(d.dp AS DOUBLE) /
               (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nc.nn AS DOUBLE)))
               AS sim
           FROM mbdot d JOIN mnrm nc ON nc.id = d.cid
                        JOIN mnrm nq ON nq.id = d.qid),
         mbr AS (SELECT cid, qid, sim, row_number() OVER
             (PARTITION BY cid ORDER BY sim DESC, qid ASC) AS rank
           FROM mbsim),
         mbrk AS (SELECT cid, floor(sim * 1000000) / 1000000 AS sim, rank
           FROM mbr WHERE rank <= 4),
         mba AS (SELECT cid AS tgt_id,
             list_reduce(list(sim ORDER BY rank), (a, b) -> a + b) / 4
               AS b_avg
           FROM mbrk GROUP BY cid)
         SELECT f.qid AS src_id, f.id AS tgt_id, f.sim,
           floor(f.sim * 2.0 / (fa.f_avg + ba.b_avg) * 10000) / 10000
             AS margin
         FROM mfrk f
         JOIN mfa fa ON fa.src_id = f.qid
         JOIN mba ba ON ba.tgt_id = f.id
         WHERE f.rank = 1 AND f.sim * 2.0 / (fa.f_avg + ba.b_avg) >= 1.4
         ORDER BY src_id""")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      operators.AnnIndexStore.marginMine(e.filter(col("vec_id") < 10),
          "vec_id", "embedding", annIndexDir(s, dir), k = 4, nProbe = 2,
          refine = 30, minMargin = 1.4)
        .orderBy("src_id")
    }),

    // Deterministic integer k-means over the embedding corpus (semantic
    // clustering for curation/mix balancing): quantized vectors, k-lowest-id
    // init, 3 Lloyd's rounds, exact integer distances — every iteration is
    // one scan + one k*dim-row partial-agg shuffle, mirrored in DuckDB by
    // unrolled CTE rounds.
    // Nearest-centroid (Rocchio) label propagation: class prototypes are
    // floor-div integer means of the 80% train split (ONE partial-agg
    // shuffle, #labels x dim rows); the 20% held-out split is scored
    // against prototype literals — join-free, shuffle-free inference at
    // scan speed, the shape that tags 100 TB of unlabeled docs from a
    // handful of labeled exemplars.
    query("q_centroid_classify")(
      s"""WITH $centroidCte
         SELECT vec_id, label, CAST(pred AS INT) AS pred, d AS dist
         FROM cls ORDER BY vec_id""")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val test = e.filter(col("vec_id") % 5 === 0)
      operators.Clustering.nearestCentroidClassify(
          e.filter(col("vec_id") % 5 =!= 0), test, "vec_id", "embedding", "label")
        .join(test.select(col("vec_id").as("id"), col("label")), Seq("id"))
        .select(col("id").as("vec_id"), col("label"), col("pred"), col("dist"))
        .orderBy("vec_id")
    }),

    // The classifier's confusion matrix on the held-out split — the
    // accuracy audit that gates trusting propagated labels (the ANN-recall
    // discipline applied to classification). On THIS corpus it reports
    // chance-level accuracy (~0.1 for 10 labels): the synthetic labels are
    // independent of embedding position, and the audit's job is exactly to
    // surface that before anyone propagates them. ClusteringSpec shows the
    // same classifier at 100% on separable blobs.
    query("q_centroid_confusion")(
      s"""WITH $centroidCte
         SELECT label, CAST(pred AS INT) AS pred, CAST(count(*) AS BIGINT) AS n
         FROM cls GROUP BY label, pred ORDER BY label, pred""")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val test = e.filter(col("vec_id") % 5 === 0)
      operators.Clustering.nearestCentroidClassify(
          e.filter(col("vec_id") % 5 =!= 0), test, "vec_id", "embedding", "label")
        .join(test.select(col("vec_id").as("id"), col("label")), Seq("id"))
        .groupBy("label", "pred").agg(count(lit(1)).as("n"))
        .orderBy("label", "pred")
    }),

    query("q_kmeans")(
      s"""WITH ${kmeansCte(8, 3, 64)}
         SELECT id AS vec_id, CAST(j AS INT) AS cluster, d AS dist
         FROM fin ORDER BY vec_id""")((s, dir) => {
      operators.Clustering.kmeansAssign(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 8, iters = 3)
        .select(col("id").as("vec_id"), col("cluster"), col("dist"))
        .orderBy("vec_id")
    }),

    // Cluster-balanced diversity sampling (SemDeDup-adjacent selection):
    // k-means over the embeddings, then a deterministic per-cluster cap —
    // "at most N exemplars per semantic region", so dense regions cannot
    // crowd the sample. Composes the two shuffles already paid: the
    // assignment scan and one window per cluster.
    query("q_cluster_balanced")(
      s"""WITH ${kmeansCte(8, 3, 64)},
         a AS (SELECT id AS vec_id, CAST(j AS INT) AS cluster FROM fin),
         h AS (SELECT vec_id, cluster,
                 ('0x' || substr(md5('3_' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
                   AS h
               FROM a),
         r AS (SELECT vec_id, cluster,
                 row_number() OVER (PARTITION BY cluster ORDER BY h, vec_id)
                   AS rk
               FROM h)
         SELECT vec_id, cluster FROM r WHERE rk <= 20 ORDER BY vec_id""")((s, dir) => {
      val assign = operators.Clustering.kmeansAssign(
          Tables.embeddings(s, dir), "vec_id", "embedding", k = 8, iters = 3)
        .select(col("id").as("vec_id"), col("cluster"))
      operators.Sampling.capPerGroup(assign, "vec_id", "cluster",
          maxPerGroup = 20, seed = 3L)
        .orderBy("vec_id")
    }),

    // Per-cluster rollup of the same assignment (size, exact distance sum,
    // floor-truncated mean) — the report a curation pipeline reads.
    query("q_kmeans_summary")(
      s"""WITH ${kmeansCte(8, 3, 64)}
         SELECT CAST(j AS INT) AS cluster, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(d) AS BIGINT) AS sum_dist,
           floor(CAST(sum(d) AS DOUBLE) * 100 / count(*)) / 100 AS mean_dist,
           min(id) AS min_vec_id
         FROM fin GROUP BY j ORDER BY cluster""")((s, dir) => {
      operators.Clustering.kmeansSummary(
          operators.Clustering.kmeansAssign(
            Tables.embeddings(s, dir), "vec_id", "embedding", k = 8, iters = 3))
        .select(col("cluster"), col("n"), col("sum_dist"), col("mean_dist"),
          col("min_id").as("min_vec_id"))
        .orderBy("cluster")
    }),

    // Product quantization (the memory-bound half of IVF-PQ serving):
    // 4 subspaces x 16 centroids, deterministic integer k-means per
    // subspace — 64 floats compress to 4 code bytes; qerr is the exact
    // integer reconstruction distance.
    query("q_pq_codes")(
      s"""WITH ${pqSubspaceCtes("")}
         SELECT f0.id AS vec_id,
           CAST(f0.j AS INT) AS c0, CAST(f1.j AS INT) AS c1,
           CAST(f2.j AS INT) AS c2, CAST(f3.j AS INT) AS c3,
           f0.d + f1.d + f2.d + f3.d AS qerr
         FROM fins0 f0 JOIN fins1 f1 USING (id) JOIN fins2 f2 USING (id)
           JOIN fins3 f3 USING (id)
         ORDER BY vec_id""")((s, dir) => {
      operators.Clustering.pqCodes(
          Tables.embeddings(s, dir), "vec_id", "embedding", dim = 64)
        .select(col("id").as("vec_id"), col("c0"), col("c1"), col("c2"),
          col("c3"), col("qerr"))
        .orderBy("vec_id")
    }),

    // PQ asymmetric-distance ANN (the serving half of IVF-PQ): queries
    // score against 4-byte codes via broadcast per-query lookup tables —
    // the corpus is never decompressed. Exact integer distances.
    query("q_ann_pq")(
      s"""WITH ${pqSubspaceCtes("")},
         ${pqLutCtes("ptss", "WHERE p.id < 10")},
         ${adcScoresCte("WHERE s0.id <> s0.qid")},
         r AS (SELECT qid, id, adist,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, id) AS INT) AS rank
           FROM scores)
         SELECT qid, rank, id AS nid, adist FROM r WHERE rank <= 3
         ORDER BY qid, rank""")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      operators.Clustering.annTopKPq(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", dim = 64)
        .orderBy("qid", "rank")
    }),

    // Combined IVF-PQ ANN (the full FAISS-style index, both halves
    // composed): trained coarse cells restrict each query to nProbe cells,
    // PQ lookup tables score only those cells' members — the corpus is
    // both filtered (1/nCells per probe) and compressed (4 code bytes, not
    // 64 floats) at serving time. Exact integer distances throughout.
    query("q_ann_ivfpq")(
      s"""WITH $ivfPqCteChain
         SELECT qid, rank, id AS nid, adist FROM r WHERE rank <= 3
         ORDER BY qid, rank""")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      operators.Clustering.annTopKIvfPq(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", dim = 64)
        .orderBy("qid", "rank")
    }),

    // IVF-PQ with the exact re-rank ("refine") stage — the SERVING form:
    // ADC lookup distances order a top-30 candidate pool, which is then
    // re-scored with the exact integer L2 (only 30 raw-vector fetches per
    // query). On weakly-clustered embeddings ADC-only recall@3 is ~0.2 vs
    // ~0.87 refined (ClusteringSpec bounds >= 0.7): ADC ranks candidates,
    // refine picks neighbors.
    query("q_ann_ivfpq_refined")(ivfPqRefinedTop3Sql)((s, dir) => {
      val e = Tables.embeddings(s, dir)
      operators.Clustering.annTopKIvfPq(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", dim = 64, refine = 30)
        .orderBy("qid", "rank")
    }),

    // IVF-PQ served from the PERSISTENT index (AnnIndexStore): codebooks
    // trained once into an on-disk artifact, queries hit the stored
    // cells/codes/vectors tables — the build/serve split a 100-TB ANN
    // deployment requires. Training is deterministic, so results are
    // bit-identical to the inline q_ann_ivfpq_refined (same oracle).
    query("q_ann_stored")(ivfPqRefinedTop3Sql)((s, dir) => {
      val e = Tables.embeddings(s, dir)
      operators.AnnIndexStore.query(e.filter(col("vec_id") < 10),
          "vec_id", "embedding", annIndexDir(s, dir), kNN = 3, nProbe = 2,
          refine = 30)
        .orderBy("qid", "rank")
    }),

    // Semi-supervised kNN labeling served from the STORED index — tag an
    // unlabeled batch from a curated labeled registry by the majority
    // vote of its 5 nearest stored neighbors (ties to the lowest label;
    // same probe shape and recall knobs as q_ann_stored). The
    // FAISS-backed cousin of q_centroid_classify for label structure too
    // multi-modal for one prototype per class.
    query("q_knn_classify")(
      // kNN-vote labeling: the q_ann_stored exact-refine chain widened to
      // the 5 nearest, joined to the label registry, majority vote with
      // (votes desc, label asc) determinism.
      s"""WITH $ivfPqRefineCtes,
         rr AS (SELECT qid, id,
             row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
           FROM re),
         nn AS (SELECT qid, id FROM rr WHERE rank <= 5),
         v AS (SELECT nn.qid, e.label AS pred_label,
                 CAST(count(*) AS BIGINT) AS votes
               FROM nn JOIN embeddings e ON e.vec_id = nn.id
               GROUP BY 1, 2),
         best AS (SELECT qid, pred_label, votes,
             row_number() OVER (PARTITION BY qid
               ORDER BY votes DESC, pred_label) AS rn
           FROM v)
         SELECT qid, pred_label, votes FROM best WHERE rn = 1
         ORDER BY qid""")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      operators.AnnIndexStore.knnClassify(e.filter(col("vec_id") < 10),
          "vec_id", "embedding", annIndexDir(s, dir),
          e.select("vec_id", "label"), "vec_id", "label",
          k = 5, nProbe = 2, refine = 30)
        .orderBy("qid")
    }),

    // Hard-negative mining served from the STORED IVF-PQ index — the
    // scale path for q_hard_negatives' brute corpus scan: probe 2 cells,
    // ADC-rank to a 30-candidate pool, exactly re-rank, and keep the 3
    // nearest candidates whose exact quantized-L2 distance exceeds the
    // near-dup floor (1,300,000 ≈ the audit corpus's top-3 median — at or
    // below it a "negative" is an unlabeled positive). Per-anchor-batch
    // cost tracks probed cells, never the corpus.
    query("q_hard_negatives_stored")(
      // stored hard negatives: the refined pool band-filtered on the exact
      // distance (> 1,300,000) BEFORE the rank window
      s"""WITH $ivfPqRefineCtes,
         rr AS (SELECT qid, id, dist,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS INT) AS rank
           FROM re WHERE dist > 1300000)
         SELECT qid, rank, id AS nid, dist FROM rr WHERE rank <= 3
         ORDER BY qid, rank""")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      operators.AnnIndexStore.hardNegatives(e.filter(col("vec_id") < 10),
          "vec_id", "embedding", annIndexDir(s, dir), k = 3,
          negFloor = 1300000L, nProbe = 2, refine = 30)
        .orderBy("qid", "rank")
    }),

    // Embedding near-dup ingest gate from the STORED index — the vector
    // twin of q_incr_dedup: an incoming vector batch (vec_id % 20 == 0)
    // matched against the stored slice's IVF-PQ index; a vector whose
    // nearest stored neighbor sits within the semantic-dup radius
    // (1,350,000 ≈ the nearest-neighbor median, so the verdict splits the
    // batch) is flagged with its match. Per-batch cost is the probe shape
    // — nProbe cells ADC-scored, refine pool exactly re-ranked — never a
    // corpus scan.
    query("q_ann_gate")(annGateSql("vec_id % 20 <> 0", "vec_id % 20 = 0"))((s, dir) => {
      val e = Tables.embeddings(s, dir)
      operators.AnnIndexStore.matchBatchVectors(
          e.filter(col("vec_id") % 20 === 0), "vec_id", "embedding",
          annGateIndexDir(s, dir), dupFloor = 1350000L, nProbe = 6,
          refine = 100)
        .orderBy("new_id")
    }),

    // SEMANTIC decontamination — the third leg of the decontamination
    // triad (exact n-grams: q_contamination; fuzzy Jaccard vs the stored
    // eval text index: q_fuzzy_decontam; embeddings: this): every corpus
    // vector probed against the STORED eval-slice ANN index, flagged with
    // its nearest eval item when the exact refined distance sits within
    // the semantic radius — paraphrased eval contamination that shares no
    // n-gram surface. The eval registry is indexed once; the corpus sweep
    // pays one probe pass per vector against the small index.
    query("q_semantic_decontam")(
      // semantic decontamination: the gate chain with the slices swapped —
      // the IVF-PQ trains on the EVAL slice, the corpus probes it
      annGateSql("vec_id % 20 = 0", "vec_id % 20 <> 0"))((s, dir) => {
      val e = Tables.embeddings(s, dir)
      operators.AnnIndexStore.matchBatchVectors(
          e.filter(col("vec_id") % 20 =!= 0), "vec_id", "embedding",
          annEvalIndexDir(s, dir), dupFloor = 1350000L, nProbe = 6,
          refine = 100)
        .orderBy("new_id")
    }),

    // Recall audit of the vector gate (the q_lsh_recall / q_ann_recall
    // discipline applied to the newest approximate path): ground truth is
    // the exact full-slice scan with the same radius; every gate dup
    // carries an exact distance, so found ⊆ true and recall = found/true
    // — the number to check before trusting the probe/pool knobs on a new
    // corpus.
    query("q_ann_gate_recall", Audit)(
      // gate recall audit: exact full-slice dists from the same ptsiv/qptsiv
      // CTEs the gate chain already opens; gate-found ⊆ exact-found
      s"""WITH ${annGateCtesFor("vec_id % 20 <> 0", "vec_id % 20 = 0")},
         exd AS (SELECT b.id AS qid, a.id AS nid,
             CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS dist
           FROM ptsiv a JOIN qptsiv b ON b.pos = a.pos
           GROUP BY b.id, a.id),
         ext AS (SELECT qid FROM exd GROUP BY qid HAVING min(dist) <= 1350000),
         n AS (SELECT CAST((SELECT count(*) FROM ext) AS BIGINT) AS n_true,
                      CAST((SELECT count(*) FROM best) AS BIGINT) AS n_found)
         SELECT n_true, n_found,
           floor(CAST(n_found AS DOUBLE) / n_true * 10000) / 10000 AS recall
         FROM n""")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val batch = e.filter(col("vec_id") % 20 === 0)
      val gate = operators.AnnIndexStore.matchBatchVectors(batch, "vec_id",
        "embedding", annGateIndexDir(s, dir), dupFloor = 1350000L,
        nProbe = 6, refine = 100)
      val truth = operators.AnnIndexStore.matchBatchVectorsExact(batch,
        "vec_id", "embedding", e.filter(col("vec_id") % 20 =!= 0), 1350000L)
      truth.filter(col("is_dup")).agg(count(lit(1)).as("n_true"))
        .crossJoin(gate.filter(col("is_dup")).agg(count(lit(1)).as("n_found")))
        .select(col("n_true"), col("n_found"),
          (floor(col("n_found").cast("double") / col("n_true") * 10000) /
            10000.0).as("recall"))
    }),

    // LSH-bucketed ANN (sign-bit hyperplane buckets; the 100-TB scale path).
    query("q_ann_lsh")(
      s"""WITH $annLshCandCte,
         scored AS (
           SELECT qid, nid, ${cosSql("q.embedding", "c.embedding")} AS sim
           FROM lcand JOIN embeddings q ON q.vec_id = qid
                      JOIN embeddings c ON c.vec_id = nid),
         ${cosTop3Sql("scored")}""")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.annTopKLsh(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 3)
        .orderBy("qid", "rank")
    }),

    // IVF-style ANN: seed-medoid coarse cells, search within the query's cell.
    query("q_ann_ivf")(
      s"""WITH $seedCellCtes,
         scored AS (
           SELECT q.vec_id AS qid, c.vec_id AS nid,
             ${cosSql("q.embedding", "c.embedding")} AS sim
           FROM assigned q JOIN assigned c
             ON q.cid = c.cid AND q.vec_id <> c.vec_id
           WHERE q.vec_id < 10),
         ${cosTop3Sql("scored")}""")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.annTopKIvf(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 3)
        .orderBy("qid", "rank")
    }),

    // ANN recall audit (the embedding twin of q_lsh_recall): recall@3 of
    // the LSH and IVF paths against the exact brute-force top-3 for the
    // same query set — the number an operator checks before trusting an
    // approximate index at scale. Reuses the three ANN plans; one
    // left-join + one small agg on top.
    query("q_ann_recall")(
      s"""WITH ${kmeansCte(8, 3, 64)},
         kcell AS (SELECT id AS vec_id, j AS cell FROM fin),
         kv AS (SELECT e.vec_id, e.embedding, c.cell
                FROM embeddings e JOIN kcell c USING (vec_id)),
         kms AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
             ${cosSql("q.embedding", "c.embedding")} AS sim
           FROM kv q JOIN kv c ON q.cell = c.cell AND q.vec_id <> c.vec_id
           WHERE q.vec_id < 10),
         ${top3IdsCte("km", "kms")},
         ${bruteCosCte("bfs")},
         ${top3IdsCte("bf", "bfs")},
         $annLshCandCte,
         lss AS (SELECT qid, nid, ${cosSql("q.embedding", "c.embedding")} AS sim
           FROM lcand JOIN embeddings q ON q.vec_id = qid
                      JOIN embeddings c ON c.vec_id = nid),
         ${top3IdsCte("ls", "lss")},
         $seedCellCtes,
         ivs AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
             ${cosSql("q.embedding", "c.embedding")} AS sim
           FROM assigned q JOIN assigned c
             ON q.cid = c.cid AND q.vec_id <> c.vec_id
           WHERE q.vec_id < 10),
         ${top3IdsCte("iv", "ivs")},
         qc2 AS (SELECT vec_id, cid FROM (
             SELECT a.vec_id, s.cid,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY ${cosSql("a.embedding", "s.cv")} DESC, s.cid ASC) AS r
             FROM embeddings a CROSS JOIN seeds s
             WHERE a.vec_id < 10)
           WHERE r <= 2),
         iv2s AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
             ${cosSql("q.embedding", "c.embedding")} AS sim
           FROM qc2 j JOIN embeddings q ON q.vec_id = j.vec_id
                      JOIN assigned c ON c.cid = j.cid
           WHERE q.vec_id <> c.vec_id),
         ${top3IdsCte("iv2", "iv2s")},
         ap AS (SELECT 'lsh' AS method, qid, nid FROM ls
                UNION ALL SELECT 'ivf_p1', qid, nid FROM iv
                UNION ALL SELECT 'ivf_p2', qid, nid FROM iv2
                UNION ALL SELECT 'ivf_km', qid, nid FROM km),
         ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM bf),
         hits AS (SELECT method,
             CAST(sum(CASE WHEN bf.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit
           FROM ap LEFT JOIN bf USING (qid, nid) GROUP BY method)
         SELECT method, n_exact, n_hit,
           floor(n_hit * 10000.0 / n_exact) / 10000 AS recall
         FROM hits CROSS JOIN ex ORDER BY method""")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.annTopK(e, q, "vec_id", "embedding", 3)
        .select(col("qid"), col("nid"))
      val approx =
        Similarity.annTopKLsh(e, q, "vec_id", "embedding", 3)
          .select(lit("lsh").as("method"), col("qid"), col("nid"))
          .unionByName(
            Similarity.annTopKIvf(e, q, "vec_id", "embedding", 3)
              .select(lit("ivf_p1").as("method"), col("qid"), col("nid")))
          .unionByName(
            Similarity.annTopKIvf(e, q, "vec_id", "embedding", 3, nProbe = 2)
              .select(lit("ivf_p2").as("method"), col("qid"), col("nid")))
          .unionByName(
            Similarity.annTopKIvfTrained(e, q, "vec_id", "embedding", 3)
              .select(lit("ivf_km").as("method"), col("qid"), col("nid")))
      val nEx = exact.agg(count(lit(1)).as("n_exact"))
      approx.join(exact.withColumn("hit", lit(1L)), Seq("qid", "nid"), "left")
        .groupBy("method")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .crossJoin(broadcast(nEx))
        .withColumn("recall",
          floor(col("n_hit") * 10000 / col("n_exact")) / 10000.0)
        .select(col("method"), col("n_exact"), col("n_hit"), col("recall"))
        .orderBy("method")
    }),

    // IVF ANN with a TRAINED coarse quantizer: deterministic-k-means cells
    // instead of seed medoids — the same nCells bound with cells that track
    // the data distribution.
    query("q_ann_ivf_kmeans")(
      s"""WITH ${kmeansCte(8, 3, 64)},
         cells AS (SELECT id AS vec_id, j AS cell FROM fin),
         v AS (SELECT e.vec_id, e.embedding, c.cell
               FROM embeddings e JOIN cells c USING (vec_id)),
         scored AS (
           SELECT q.vec_id AS qid, c.vec_id AS nid,
             ${cosSql("q.embedding", "c.embedding")} AS sim
           FROM v q JOIN v c ON q.cell = c.cell AND q.vec_id <> c.vec_id
           WHERE q.vec_id < 10),
         ${cosTop3Sql("scored")}""")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.annTopKIvfTrained(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", 3)
        .orderBy("qid", "rank")
    }),

    // Semantic dedup over embeddings: cosine-LSH candidate pairs (the
    // equi-join scale path, no nested loop) -> connected components ->
    // canonical = min vec_id per cluster. The embedding-space twin of the
    // text near-dup chain, reusing the same CC fixpoint.
    query("q_semantic_dedup")(
      s"""WITH RECURSIVE v AS (SELECT vec_id, embedding AS e FROM embeddings),
         $lshPairCandCtes,
         vp2 AS (SELECT id1, id2
                 FROM cand JOIN v x ON x.vec_id = id1 JOIN v y ON y.vec_id = id2
                 WHERE ${cosSql("x.e", "y.e")} > 0.4),
         e2 AS (SELECT id1 AS a, id2 AS b FROM vp2
                UNION ALL SELECT id2, id1 FROM vp2),
         r AS (SELECT a, b FROM e2
               UNION SELECT r.a, e2.b FROM r JOIN e2 ON r.b = e2.a),
         m AS (SELECT a, min(b) AS mb FROM r GROUP BY a)
         SELECT em.vec_id,
           CAST(least(em.vec_id, coalesce(m.mb, em.vec_id)) AS BIGINT) AS cluster_id,
           least(em.vec_id, coalesce(m.mb, em.vec_id)) = em.vec_id AS is_canonical
         FROM embeddings em LEFT JOIN m ON m.a = em.vec_id
         ORDER BY em.vec_id""")((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pairs = Similarity.cosinePairsLsh(emb, "vec_id", "embedding", 0.4)
        .select(col("id1"), col("id2"))
      TextDedup.dedupClusters(emb, "vec_id", pairs)
        .withColumn("is_canonical", col("vec_id") === col("cluster_id"))
        .orderBy("vec_id")
    })
  )

  /** On-disk AnnIndexStore for q_ann_stored, built once per sf dir — the
    * trained ANN index is a maintained artifact like the DedupIndex: the
    * bench times SERVING from the stored index, not the one-time codebook
    * training (testdata immutable per TESTDATA.md; training deterministic
    * in the corpus, so the cache cannot go stale). */
  private def annIndexDir(s: SparkSession, dir: String): String =
    annStoreDir(s, dir, "ann_ivfpq_index")(identity)

  /** The stored ANN indexes' one builder: an AnnIndexStore over `slice`
    * of the sf dir's embeddings at [[cacheRoot]]`(dir, name)`. */
  private def annStoreDir(s: SparkSession, dir: String, name: String)(
      slice: DataFrame => DataFrame): String =
    maintained(dir, name)(operators.AnnIndexStore.exists)(
      operators.AnnIndexStore.build(slice(Tables.embeddings(s, dir)),
        "vec_id", "embedding", _, dim = 64))

  /** On-disk AnnIndexStore over the vec_id % 20 != 0 corpus slice — the
    * stored side of the embedding near-dup ingest gate (q_ann_gate), so
    * the timed cost is the per-batch match, not the one-time training. */
  private def annGateIndexDir(s: SparkSession, dir: String): String =
    annStoreDir(s, dir, "ann_gate_index")(_.filter(col("vec_id") % 20 =!= 0))

  /** Stored ANN index of the held-out EVAL slice (vec_id % 20 == 0) —
    * the embedding twin of evalSliceIndexDir: the eval registry is
    * indexed once and every corpus sweep (q_semantic_decontam) pays only
    * its own probe pass against it. */
  private def annEvalIndexDir(s: SparkSession, dir: String): String =
    annStoreDir(s, dir, "ann_eval_index")(_.filter(col("vec_id") % 20 === 0))

  /** Unrolled deterministic k-means rounds ending in CTE `fin$sfx(id, j, d)`
    * (mirrors Clustering.kmeansAssign: floor(v*1000) integer quantization,
    * k-lowest-id init, exact integer L2, ties to lowest j, floor-div
    * centroid updates, empty clusters drop out). `dim` positions starting
    * at embedding offset `off` — sfx/off > 0 give the per-subspace chains
    * of the PQ mirror. */
  private def kmeansCteSub(sfx: String, k: Int, iters: Int, dim: Int,
                           off: Int, where: String = ""): String = {
    def dist(r: Int) =
      s"""d$r$sfx AS (SELECT p.id, c.j, CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS d
           FROM pts$sfx p JOIN cent${r - 1}$sfx c USING (pos) GROUP BY p.id, c.j)"""
    val rounds = (1 until iters).map { r =>
      s"""${dist(r)},
         a$r$sfx AS (SELECT id, j FROM (
             SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY d, j) AS rn
             FROM d$r$sfx) WHERE rn = 1),
         cent$r$sfx AS (SELECT a.j, p.pos,
             CAST(floor(sum(p.q) * 1.0 / count(*)) AS BIGINT) AS c
           FROM a$r$sfx a JOIN pts$sfx p USING (id) GROUP BY a.j, p.pos)"""
    }.mkString(",\n")
    s"""pts$sfx AS (
         SELECT vec_id AS id, CAST(t.i AS INT) AS pos,
           CAST(floor(CAST(embedding[t.i + 1 + $off] AS DOUBLE) * 1000) AS BIGINT) AS q
         FROM embeddings, (SELECT unnest(range($dim)) AS i) t $where),
       init$sfx AS (
         SELECT id, row_number() OVER (ORDER BY id) - 1 AS j
         FROM (SELECT DISTINCT id FROM pts$sfx ORDER BY id LIMIT $k)),
       cent0$sfx AS (SELECT i.j, p.pos, p.q AS c
                     FROM init$sfx i JOIN pts$sfx p USING (id)),
       $rounds,
       ${dist(iters)},
       fin$sfx AS (SELECT id, j, d FROM (
           SELECT id, j, d, row_number() OVER (PARTITION BY id ORDER BY d, j) AS rn
           FROM d$iters$sfx) WHERE rn = 1)"""
  }

  private def kmeansCte(k: Int, iters: Int, dim: Int): String =
    kmeansCteSub("", k, iters, dim, 0)

  /** Nearest-centroid classifier mirror (Clustering.nearestCentroidClassify
    * semantics): floor-div integer prototypes from the vec_id % 5 <> 0
    * train split, exact integer squared L2 scoring of the held-out split,
    * ties to the lowest label. Ends with cls(vec_id, label, pred, d). */
  private def centroidCte: String =
    """q AS (SELECT vec_id, label, CAST(t.i AS INT) AS pos,
         CAST(floor(CAST(embedding[t.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS qv
       FROM embeddings, (SELECT unnest(range(64)) AS i) t),
     ce AS (SELECT label AS lbl, pos,
         CAST(floor(sum(qv) * 1.0 / count(*)) AS BIGINT) AS c
       FROM q WHERE vec_id % 5 <> 0 GROUP BY label, pos),
     sc AS (SELECT p.vec_id, p.label, c.lbl AS pred,
         CAST(sum((p.qv - c.c) * (p.qv - c.c)) AS BIGINT) AS d
       FROM q p JOIN ce c USING (pos) WHERE p.vec_id % 5 = 0
       GROUP BY p.vec_id, p.label, c.lbl),
     cls AS (SELECT vec_id, label, pred, d FROM (
         SELECT vec_id, label, pred, d,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, pred) AS rn
         FROM sc) WHERE rn = 1)"""

  /** The PQ mirror's 4 subspace codebook chains `s0`..`s3` (16 centroids,
    * 2 rounds over 16 dims each — Clustering.pqCodes defaults), trained on
    * the embeddings matching `where` (a `WHERE ...` clause, or ""). */
  private def pqSubspaceCtes(where: String): String =
    (0 until 4).map(s => kmeansCteSub(s"s$s", 16, 2, 16, s * 16, where)).mkString(",\n")

  /** ADC lookup tables of the query points `<pts>s0`..`<pts>s3` (filtered
    * by `where`) against each trained subspace codebook, and every corpus
    * point's per-subspace distance `sc0`..`sc3(qid, id, pd)`. */
  private def pqLutCtes(pts: String, where: String): String =
    (0 until 4).map { s =>
      s"""lut$s AS (SELECT p.id AS qid, c.j, CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS pd
           FROM $pts$s p JOIN cent1s$s c USING (pos) $where GROUP BY p.id, c.j),
         sc$s AS (SELECT l.qid, f.id, l.pd FROM fins$s f JOIN lut$s l ON l.j = f.j)"""
    }.mkString(",\n")

  /** `scores(qid, id, adist)`: the asymmetric distance, summed over the 4
    * subspace distances of [[pqLutCtes]], of the pairs `filter` keeps. */
  private def adcScoresCte(filter: String): String =
    s"""scores AS (SELECT s0.qid, s0.id,
           CAST(s0.pd + s1.pd + s2.pd + s3.pd AS BIGINT) AS adist
         FROM sc0 s0 JOIN sc1 s1 USING (qid, id) JOIN sc2 s2 USING (qid, id)
           JOIN sc3 s3 USING (qid, id)
           $filter)"""

  /** Shared IVF-PQ mirror (Clustering.annTopKIvfPq defaults): full-vector
    * coarse k-means ("iv", final distances d3iv / assignment finiv), 4
    * PQ subspace trainings, 2-cell query probes, candidate restriction,
    * and the ADC score ranking `r` — q_ann_ivfpq reads r directly,
    * q_ann_ivfpq_refined re-ranks r's top-30 pool with the exact integer
    * L2 over ptsiv. */
  private lazy val ivfPqCteChain: String =
    s"""${kmeansCteSub("iv", 8, 3, 64, 0)},
       ${pqSubspaceCtes("")},
       qprobe AS (SELECT id AS qid, j FROM (
           SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY d, j) AS rn
           FROM d3iv WHERE id < 10) WHERE rn <= 2),
       cand AS (SELECT p.qid, f.id FROM qprobe p JOIN finiv f ON f.j = p.j
         WHERE f.id <> p.qid),
       ${pqLutCtes("ptss", "WHERE p.id < 10")},
       ${adcScoresCte("JOIN cand c ON c.qid = s0.qid AND c.id = s0.id")},
       r AS (SELECT qid, id, adist,
           CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, id) AS INT) AS rank
         FROM scores)"""

  /** [[ivfPqCteChain]] plus the exact re-rank (`refine = 30`): each query's
    * top-30 ADC pool re-scored with the exact integer L2 in `re(qid, id,
    * dist)`. */
  private lazy val ivfPqRefineCtes: String =
    s"""$ivfPqCteChain,
         pool AS (SELECT qid, id FROM r WHERE rank <= 30),
         re AS (SELECT pool.qid, pool.id,
             CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS dist
           FROM pool JOIN ptsiv a ON a.id = pool.id
                     JOIN ptsiv b ON b.id = pool.qid AND b.pos = a.pos
           GROUP BY pool.qid, pool.id)"""

  /** The refined top-3 of q_ann_ivfpq_refined and its stored-index twin
    * q_ann_stored (training is deterministic, so both serve the same). */
  private lazy val ivfPqRefinedTop3Sql: String =
    s"""WITH $ivfPqRefineCtes,
         rr AS (SELECT qid, id, dist,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS INT) AS rank
           FROM re)
         SELECT qid, rank, id AS nid, dist FROM rr WHERE rank <= 3
         ORDER BY qid, rank"""

  /** Mirror of AnnIndexStore.matchBatchVectors: the IVF-PQ training chain
    * runs over the STORED slice `corpusPred` only, the incoming batch
    * `queryPred` gets its own quantized-point CTEs (out-of-corpus queries —
    * their cells come from distance to the trained centroids, not a
    * membership row), and the refined best match is thresholded at the
    * semantic-dup radius. One row per incoming vector. */
  private def annGateSql(corpusPred: String, queryPred: String): String =
    s"""WITH ${annGateCtesFor(corpusPred, queryPred)}
       SELECT e.vec_id AS new_id, best.id AS match_id,
         CAST(coalesce(best.dist, -1) AS BIGINT) AS dist,
         best.id IS NOT NULL AS is_dup
       FROM embeddings e LEFT JOIN best ON best.qid = e.vec_id
       WHERE e.$queryPred
       ORDER BY new_id"""

  /** CTE chain ending in the gate's thresholded best match `best(qid, id,
    * dist)` — shared by the gate mirror, its recall audit, and (with the
    * slices swapped) the semantic-decontamination mirror. `corpusPred` /
    * `queryPred` are SQL predicates naming the STORED slice (the IVF-PQ
    * chain trains on it) and the incoming slice (own out-of-corpus
    * point/LUT CTEs). */
  private def annGateCtesFor(corpusPred: String, queryPred: String): String = {
    val cw = s"WHERE $corpusPred"
    def qpts(sfx: String, dim: Int, off: Int) =
      s"""qpts$sfx AS (
           SELECT vec_id AS id, CAST(t.i AS INT) AS pos,
             CAST(floor(CAST(embedding[t.i + 1 + $off] AS DOUBLE) * 1000) AS BIGINT) AS q
           FROM embeddings, (SELECT unnest(range($dim)) AS i) t
           WHERE $queryPred)"""
    s"""${kmeansCteSub("iv", 8, 3, 64, 0, cw)},
       ${pqSubspaceCtes(cw)},
       ${qpts("iv", 64, 0)},
       ${(0 until 4).map(s => qpts(s"s$s", 16, s * 16)).mkString(",\n")},
       dq AS (SELECT q.id, c.j, CAST(sum((q.q - c.c) * (q.q - c.c)) AS BIGINT) AS d
              FROM qptsiv q JOIN cent2iv c USING (pos) GROUP BY q.id, c.j),
       qprobe AS (SELECT id AS qid, j FROM (
           SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY d, j) AS rn
           FROM dq) WHERE rn <= 6),
       cand AS (SELECT p.qid, f.id FROM qprobe p JOIN finiv f ON f.j = p.j),
       ${pqLutCtes("qptss", "")},
       ${adcScoresCte("JOIN cand c ON c.qid = s0.qid AND c.id = s0.id")},
       pool AS (SELECT qid, id FROM (
           SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY adist, id) AS rank
           FROM scores) WHERE rank <= 100),
       re AS (SELECT pool.qid, pool.id,
           CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS dist
         FROM pool JOIN ptsiv a ON a.id = pool.id
                   JOIN qptsiv b ON b.id = pool.qid AND b.pos = a.pos
         GROUP BY pool.qid, pool.id),
       best AS (SELECT qid, id, dist FROM (
           SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
           FROM re) WHERE rn = 1 AND dist <= 1350000)"""
  }


  /** Candidate pairs of the embedding near-dup mirrors (Similarity.cosinePairsLsh):
    * `b` holds 2 independent 4-bit hyperplane tables, `cand(id1, id2)` the
    * distinct pairs sharing a bucket in either. */
  private val lshPairCandCtes: String =
    s"""b AS (
           SELECT vec_id, 0 AS tab, ${lshBucketSql("embedding", 4, 0)} AS bucket
           FROM embeddings
           UNION ALL
           SELECT vec_id, 1, ${lshBucketSql("embedding", 4, 4)} FROM embeddings),
         cand AS (
           SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
           FROM b a JOIN b c
             ON a.tab = c.tab AND a.bucket = c.bucket AND a.vec_id < c.vec_id)"""

  /** Multi-table LSH candidate CTEs for the ANN mirrors: `lb` holds one
    * (vec_id, tab, bucket) row per table (disjoint planes via the offset,
    * mirroring Similarity.annTopKLsh's nTables = 4), `lcand` the distinct
    * (qid, nid) pairs sharing any table bucket. */
  private lazy val annLshCandCte: String = {
    val arms = (0 until 8).map { t =>
      s"""SELECT vec_id, $t AS tab, ${lshBucketSql("embedding", 4, t * 4)} AS bucket
          FROM embeddings"""
    }.mkString("\n          UNION ALL ")
    // query-side Hamming-1 multi-probe: each query probes its own bucket
    // plus every single-bit flip (mirrors annTopKLsh hammingProbe = 1)
    val probeArms = ("bucket" +: (0 until 4).map(j => s"xor(bucket, ${1L << j})"))
      .map(b => s"SELECT vec_id, tab, $b AS bucket FROM lb WHERE vec_id < 10")
      .mkString("\n          UNION ALL ")
    s"""lb AS (
          $arms),
        lq AS (
          $probeArms),
        lcand AS (
          SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
          FROM lq q JOIN lb c
            ON q.tab = c.tab AND q.bucket = c.bucket AND q.vec_id <> c.vec_id)"""
  }

  /** Sign-bit hyperplane bucket (mirrors Similarity.lshSignBits; `offset`
    * selects the plane range for independent hash tables). */
  private def lshBucketSql(v: String, nBits: Int, offset: Int): String =
    (0 until nBits).map { j =>
      s"""(CASE WHEN list_reduce(list_transform(range(len($v)),
            d -> CAST($v[d + 1] AS DOUBLE) *
                 CAST(((1103515245::BIGINT * ${offset + j} + 12345 * d + 42) % 1001) - 500 AS DOUBLE)),
            (p, q) -> p + q) > 0 THEN ${1L << j} ELSE 0 END)"""
    }.mkString("(", " + ", ")")

  /** Top-3 by cosine per query from `scored(qid, nid, sim)`, ties to the
    * lower nid — the result shape of every ANN top-3 mirror. */
  private def cosTop3Sql(scored: String): String =
    s"""ranked AS (
           SELECT qid, nid, sim, row_number() OVER
             (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rank
           FROM $scored)
         SELECT qid, CAST(rank AS INT) AS rank, nid,
           floor(sim * 1000000) / 1000000 AS sim
         FROM ranked WHERE rank <= 3 ORDER BY qid, rank"""

  /** CTE `name(qid, nid)`: the top-3 neighbor ids per query of `scored`. */
  private def top3IdsCte(name: String, scored: String): String =
    s"""$name AS (SELECT qid, nid FROM (
             SELECT qid, nid, row_number() OVER
               (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rank
             FROM $scored) WHERE rank <= 3)"""

  /** CTE `name(qid, nid, sim)`: exact cosine of the 10 query vectors
    * against every other vector (Similarity.annTopK's brute scan). */
  private def bruteCosCte(name: String): String =
    s"""$name AS (
           SELECT q.vec_id AS qid, c.vec_id AS nid,
             ${cosSql("q.embedding", "c.embedding")} AS sim
           FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
           WHERE q.vec_id < 10)"""

  /** Seed-medoid IVF cells (Similarity.annTopKIvf): the 8 lowest-id vectors
    * as `seeds(cid, cv)` and every vector `assigned(vec_id, embedding,
    * cid)` to its most-similar seed, ties to the lower cid. */
  private val seedCellCtes: String =
    s"""seeds AS (
           SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
         assigned AS (
           SELECT vec_id, embedding, cid FROM (
             SELECT a.vec_id, a.embedding, s.cid,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY ${cosSql("a.embedding", "s.cv")} DESC, s.cid ASC) AS r
             FROM embeddings a CROSS JOIN seeds s)
           WHERE r = 1)"""
}
