package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maintained distinct token-n-gram index — the dataset-FRESHNESS gate:
  * "what fraction of an incoming document has the corpus literally seen
  * before, at n-gram granularity?" The memorization-risk / staleness
  * signal (Lee et al. 2021 measure train-set memorization by exact
  * n-gram overlap) that neither the near-dup index (whole-doc Jaccard)
  * nor the span scrubber (needs the repeats IN the processed corpus)
  * answers incrementally.
  *
  * Layout under one root (the [[GenStore]] segment manifest; the manifest
  * TAG stays GenStore's `v3` — this store's "v4" pruned layout is signaled
  * by the `nPfx` prop, not a tag bump):
  *
  *   `<dir>/_META`               `v3 gen=<g> segs=<...> n=<gramLen> parity=<0|1> nPfx=<n>`
  *   `<dir>/g<g>/<seg>/grams/pfx=<p>/`  (g: bigint) — 60-bit gram hashes,
  *                               pfx = hash(g) mod nPfx, one segment per
  *                               build/append
  *
  * Segments may repeat a gram (appends do NOT anti-join the store — that
  * would re-scan the corpus per batch); membership semantics make the
  * duplicates harmless and [[compact]] folds them away. Appends are
  * atomic + batchId-idempotent, compaction serves through the swing —
  * the shared [[GenStore]] contract.
  *
  * SCALE SHAPE of [[noveltyBatch]] — the design constraint is that the
  * stored gram table at 100 TB is itself huge, so the store must never
  * be shuffled OR collected per batch: the batch's distinct grams
  * broadcast to a one-pass semi-join ON THE STORE SIDE (stored grams ∩
  * batch grams — the intersection is batch-bounded by construction),
  * and that intersection broadcasts back to flag the batch's per-doc
  * grams. Per-batch cost: one stored-gram scan statically PRUNED to the
  * batch's gram-pfx partitions (the [[DedupIndex]] file-skipping
  * discipline; a one-doc streaming probe touches ~min(grams, nPfx)
  * partitions, a corpus-sized batch legitimately touches all — the cut
  * tracks what is being probed) + batch-sized aggregations. Gram hashes
  * are [[TextDedup.stableHash]] 60-bit (same keys as the repeated-span
  * family), so the DuckDB oracle reproduces every count exactly;
  * `parity=0` stores xxhash64 keys instead (the production twin
  * discipline). Pre-v4 stores (no nPfx, unpartitioned grams) read as
  * absent and rebuild once.
  */
object NoveltyIndex {

  private val Legacy = Set("grams") // hypothetical flat layout at the root

  /** Default gram-pfx partition count (the [[DedupIndex]] knob). */
  val DefaultPfx = 64

  private def gramPfx(nPfx: Int): Column = pmod(hash(col("g")), lit(nPfx))

  // scan-pruning evidence for NoveltySpec (files selected by the last
  // noveltyBatch stored-gram read); flag-gated — the capture builds an
  // extra physical plan per batch, a driver cost production never pays
  @volatile private[graft] var scanDiagnostics = false
  private[graft] val lastPrunedGramFiles =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  private def base(parity: Boolean): Column => Column =
    if (parity) TextDedup.stableHash else c => xxhash64(c)

  /** Distinct (id, g) gram pairs of a corpus/batch. */
  private def docGrams(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, parity: Boolean): DataFrame =
    TextDedup.wordGramOcc(docs, idCol, textCol, n, base(parity))
      .select(col(idCol), col("g")).distinct()

  def exists(dir: String): Boolean =
    GenStore.read(dir).exists(st =>
      // pre-v4 stores (no nPfx, unpartitioned grams) rebuild once
      st.props.contains("nPfx") &&
        GenStore.tableComplete(dir, st, "grams", required = st.segs.toSet))

  /** Create (overwrite) the gram index of `docs` under `dir`. */
  def build(docs: DataFrame, idCol: String, textCol: String, dir: String,
            n: Int = 5, oracleParity: Boolean = true,
            nPfx: Int = DefaultPfx): Unit = {
    require(nPfx > 0, s"nPfx must be positive, got $nPfx")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    GenStore.clearMeta(dir)
    GenStore.pruneGens(dir, keep = Set.empty, legacy = Legacy)
    docGrams(docs, idCol, textCol, n, oracleParity).select("g").distinct()
      .withColumn("pfx", gramPfx(nPfx))
      .write.mode("overwrite").partitionBy("pfx")
      .parquet(s"$dir/g0/${GenStore.BaseSeg}/grams")
    GenStore.init(dir, GenStore.State(0, Vector(GenStore.BaseSeg),
      Map("n" -> n, "parity" -> (if (oracleParity) 1 else 0),
        "nPfx" -> nPfx)))
  }

  /** Add one batch's grams as an atomic segment (batchId-keyed appends
    * are idempotent under streaming retries). Duplicate grams across
    * segments are allowed — see the class doc. */
  def append(batch: DataFrame, idCol: String, textCol: String, dir: String,
             batchId: Option[Long] = None): Unit = {
    require(exists(dir), s"no complete NoveltyIndex at $dir")
    val seg = batchId.map(GenStore.batchSeg).getOrElse(GenStore.freshSeg())
    GenStore.appendSeg(dir, "NoveltyIndex", seg) { (st, segDir) =>
      docGrams(batch, idCol, textCol, st.props("n"), st.props("parity") == 1)
        .select("g").distinct()
        .withColumn("pfx", gramPfx(st.props("nPfx")))
        .write.mode("overwrite").partitionBy("pfx").parquet(s"$segDir/grams")
    }
    ()
  }

  /** Whether a batchId-keyed segment has been committed (replay
    * detection; valid until the next [[compact]] folds segments away —
    * the same contract as the other stores: compaction is an offline
    * maintenance op, not something to run under an active stream's
    * retry window). */
  def batchApplied(dir: String, batchId: Long): Boolean =
    GenStore.batchApplied(dir, batchId)

  /** Gate-form append: the survivors' grams PLUS their ids in one atomic
    * segment, so a retried micro-batch can reproduce its committed
    * survivor set ([[batchDocIds]]) instead of re-gating — a re-gate
    * against a store that now contains the batch would score every
    * survivor novelty 0 and permanently drop the batch. */
  def appendGated(survivors: DataFrame, idCol: String, textCol: String,
                  dir: String, batchId: Option[Long] = None): Unit = {
    require(exists(dir), s"no complete NoveltyIndex at $dir")
    val seg = batchId.map(GenStore.batchSeg).getOrElse(GenStore.freshSeg())
    GenStore.appendSeg(dir, "NoveltyIndex", seg) { (st, segDir) =>
      docGrams(survivors, idCol, textCol, st.props("n"),
          st.props("parity") == 1)
        .select("g").distinct()
        .withColumn("pfx", gramPfx(st.props("nPfx")))
        .write.mode("overwrite").partitionBy("pfx").parquet(s"$segDir/grams")
      survivors.select(col(idCol)).distinct()
        .write.mode("overwrite").parquet(s"$segDir/docs")
    }
    ()
  }

  /** The survivor ids a gated batchId append committed
    * ([[GenStore.batchIds]]). */
  def batchDocIds(spark: SparkSession, dir: String, batchId: Long,
                  idCol: String): DataFrame =
    GenStore.batchIds(spark, dir, "NoveltyIndex", batchId, "docs", idCol)

  /** Fold all segments into one duplicate-free base segment of the next
    * generation (serve-through-compact; readers of the pinned previous
    * generation keep working until the following compaction). */
  def compact(spark: SparkSession, dir: String): Unit =
    GenStore.compact(dir, "NoveltyIndex", Legacy) { (st, baseDir) =>
      // pfx is a function of g, so the (g, pfx) distinct is the gram
      // distinct; repartition by pfx lands ~one file per partition value
      GenStore.readTable(spark, dir, st, "grams").distinct()
        .repartition(col("pfx"))
        .write.mode("overwrite").partitionBy("pfx").parquet(s"$baseDir/grams")
    }

  /** The stored gram set (union of segments; may repeat a gram until
    * compaction — membership consumers are unaffected). */
  def storedGrams(spark: SparkSession, dir: String): DataFrame = {
    val st = GenStore.readOrFail(dir, "NoveltyIndex")
    GenStore.readTable(spark, dir, st, "grams")
  }

  /** Per-doc novelty of `batch` against the stored corpus:
    * (id, n_grams, n_known, novelty_bp) with n_grams the doc's DISTINCT
    * n-gram count, n_known how many the store already holds, and
    * `novelty_bp = 10000 * (n_grams - n_known) div n_grams`. Docs too
    * short for a single n-gram report n_grams 0 and novelty_bp 10000
    * (nothing seen before). One stored-gram scan, no store-side shuffle
    * — see the class doc. */
  def noveltyBatch(batch: DataFrame, idCol: String, textCol: String,
                   dir: String): DataFrame = {
    val spark = batch.sparkSession
    val st = GenStore.readOrFail(dir, "NoveltyIndex")
    val bg = docGrams(batch, idCol, textCol, st.props("n"),
      st.props("parity") == 1).localCheckpoint()
    // Metadata-scale collect: the batch grams' pfx values (at most nPfx
    // small ints, off the already-checkpointed bg) statically prune the
    // stored read to the touched partitions — a strict superset of the
    // gram semi-join below, so the intersection is identical with and
    // without it. A one-doc streaming probe reads ~min(grams, nPfx)
    // partitions; a corpus-sized batch legitimately reads all.
    val touched = bg.select(gramPfx(st.props("nPfx")).as("pfx")).distinct()
      .collect().map(_.getInt(0))
    val stored = GenStore.readTableCached(spark, dir, st, "grams")
      .filter(if (touched.isEmpty) lit(false)
        else col("pfx").isin(touched.map(Integer.valueOf): _*))
    // flag-gated: the evidence plan build is per-batch driver cost
    if (scanDiagnostics) lastPrunedGramFiles.set(
      stored.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
      }.sum)
    val inter = stored.select("g")
      .join(broadcast(bg.select("g").distinct()), Seq("g"), "left_semi")
      .distinct()
    val known = bg.join(broadcast(inter), Seq("g"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_known"))
    batch.select(col(idCol))
      .join(bg.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams")),
        Seq(idCol), "left")
      .join(known, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_known"), lit(0L)).as("n_known"))
      .withColumn("novelty_bp",
        when(col("n_grams") === 0L, 10000L)
          .otherwise(expr("(10000 * (n_grams - n_known)) div n_grams")))
  }
}
