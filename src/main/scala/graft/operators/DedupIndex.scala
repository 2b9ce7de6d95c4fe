package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, hash, lit, pmod}

/** Persistent near-dup corpus index — the maintained artifact behind
  * [[TextDedup.incrementalDedupAgainst]] and the streaming near-dup gate.
  *
  * At 100 TB the existing corpus's minhash band index and shingle arrays
  * must be a STORED table appended per ingestion batch, not a per-batch
  * recompute (the reference's XREF tables apply the same incremental-
  * snapshot discipline to keyed upserts —
  * resources/architecture/sttm-requirements.md:115-134). Layout (v3, the
  * [[GenStore]] segment manifest):
  *
  *   `<dir>/_META`                             `v3 gen=<g> segs=<...> nPfx=<n>`
  *   `<dir>/g<g>/<seg>/shingles/pfx=<p>/...`   (id, sh)  pfx = hash(id) mod nPfx
  *   `<dir>/g<g>/<seg>/bands/pfx=<p>/...`      (id, band, bucket)
  *                                             pfx = hash(bucket) mod nPfx
  *
  * written once at corpus build ([[build]] → the `base` segment) and
  * extended per accepted batch ([[append]] → one segment per batch) with
  * ONE signature pass over the batch — the existing corpus is never
  * re-read to update its own index. Appends are atomic (a crash leaves an
  * uncommitted segment no reader sees) and, when keyed by a streaming
  * batchId, idempotent under micro-batch retries; compaction serves
  * through the swing and cannot drop a racing append — all [[GenStore]]
  * machinery, shared with the other maintained stores.
  *
  * FILE-LEVEL PRUNING, both tables: the directory-partition layout is the
  * path-based equivalent of `bucketBy` (which Spark only supports through
  * a metastore table). [[matchBatch]] computes the batch's band signature,
  * collects its distinct bucket-pfx values (a metadata-scale collect,
  * bounded by nPfx), and reads ONLY those bands partitions; it then
  * collects the distinct id-pfx values of the candidate existing ids that
  * survive the band semi-join (second metadata-scale collect) and reads
  * ONLY those shingles partitions for verification. Catalyst's static
  * partition pruning skips every file of an untouched pfx — per SEGMENT;
  * the pushed filters reach each leg of the segment union — so BOTH
  * stored-side scans are cut to the touched fraction of the index (the
  * round-7 gap was exactly the verify-side shingles table still being a
  * full corpus scan per batch). The verify-side cut tracks the CANDIDATE
  * set: a single-doc probe with a small dup family
  * reads ~1 partition; a batch whose probes hit a corpus-dominating hot
  * bucket legitimately reads most partitions, because those rows are the
  * candidates being verified (ids hash uniformly, so K candidate ids
  * touch ~min(K, nPfx) partitions). Each pruning filter is a strict superset
  * of the exact joins inside [[TextDedup.incrementalDedupPrepared]]
  * (bands: the (band, bucket) semi-join; shingles: the candidate old-id
  * equi-join), so match results are bit-identical with or without it
  * ([[graft.IncrIndexSpec]] asserts both scans' file counts AND the
  * equality).
  *
  * `nPfx` is part of the on-disk layout, so the PERSISTED value wins over
  * any constructor argument thereafter (appending with a different value
  * would scatter a bucket across pfx partitions and quietly break
  * pruning). `_META` is written AFTER the initial data lands, so it
  * doubles as the build-completion marker: a crash mid-build leaves no
  * `_META` and [[exists]] reports the store absent.
  */
object DedupIndex {

  val DefaultPfx = 64

  /** Minhash count for new stores' band index (k/2 bands of 2) — matches
    * the batch pipeline's round-5 recall upgrade; recorded in the
    * manifest (`bandK`) because band rows are on-disk artifacts and the
    * batch side must band at the store's k. */
  val DefaultBandK = 16

  /** Planned file count of the most recent [[matchBatch]]/
    * [[matchBatchPairs]] stored-bands read (diagnostics: the band slice is
    * checkpointed for reuse, which removes its file scan from downstream
    * plans, so the pruning evidence is recorded at capture time —
    * [[graft.IncrIndexSpec]] asserts it tracks the touched partitions).
    * Flag-gated: capturing it builds an extra physical plan per serving
    * call, a driver cost production gates never pay. */
  @volatile private[graft] var scanDiagnostics = false
  private[graft] val lastPrunedBandFiles =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  private def bandPfx(nPfx: Int): Column = pmod(hash(col("bucket")), lit(nPfx))
  private def idPfx(idCol: String, nPfx: Int): Column =
    pmod(hash(col(idCol)), lit(nPfx))

  // pre-v3 layouts at the store root: flat v1 tables, v2 swap debris
  private val Legacy =
    Set("bands", "shingles", "bands_old", "shingles_old", "bands_tmp",
      "shingles_tmp")

  /** The persisted partition-prefix count of an existing store. */
  def numPfx(dir: String): Int =
    GenStore.readOrFail(dir, "DedupIndex").props("nPfx")

  /** The live generation's data directory (exposed for specs/tools that
    * inspect the physical layout; queries should use [[bands]]/
    * [[shingles]]/[[matchBatch]]). */
  def currentGenDir(dir: String): String =
    GenStore.readOrFail(dir, "DedupIndex").genDir(dir)

  /** Create (overwrite) the index for `docs` under `dir`. */
  def build(docs: DataFrame, idCol: String, textCol: String, dir: String,
            oracleParity: Boolean = true, nPfx: Int = DefaultPfx): Unit = {
    require(nPfx > 0, s"nPfx must be positive, got $nPfx")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    // REBUILD window: drop _META before touching data so a crash mid-build
    // reads as absent, never as a half-rebuilt store; then clear every
    // stale generation (crashed compacts, old layouts) for a clean slate.
    GenStore.clearMeta(dir)
    GenStore.pruneGens(dir, keep = Set.empty, legacy = Legacy)
    write(docs, idCol, textCol, s"$dir/g0/${GenStore.BaseSeg}", oracleParity,
      nPfx, DefaultBandK)
    GenStore.init(dir,
      GenStore.State(0, Vector(GenStore.BaseSeg),
        Map("nPfx" -> nPfx, "bandK" -> DefaultBandK)))
  }

  /** Extend the index with an accepted batch — one signature pass over the
    * batch only, written as one SEGMENT and committed atomically. Ids must
    * be new (disjoint from the stored corpus). With `batchId` set (a
    * streaming micro-batch id), a retried micro-batch whose append already
    * committed is skipped — the idempotent-replay discipline. */
  def append(docs: DataFrame, idCol: String, textCol: String, dir: String,
             oracleParity: Boolean = true,
             batchId: Option[Long] = None): Unit = {
    val seg = batchId.map(GenStore.batchSeg).getOrElse(GenStore.freshSeg())
    GenStore.appendSeg(dir, "DedupIndex", seg) { (st, segDir) =>
      write(docs, idCol, textCol, segDir, oracleParity, st.props("nPfx"),
        st.props("bandK"))
    }
    ()
  }

  private def write(docs: DataFrame, idCol: String, textCol: String,
                    segDir: String, oracleParity: Boolean, nPfx: Int,
                    bandK: Int): Unit = {
    val sh = TextDedup.sortedShingleHashes(docs, idCol, textCol,
      oracleParity = oracleParity)
    sh.withColumn("pfx", idPfx(idCol, nPfx))
      .write.mode("overwrite").partitionBy("pfx").parquet(s"$segDir/shingles")
    TextDedup.bandedFromShingles(sh, idCol, bandK)
      .withColumn("pfx", bandPfx(nPfx))
      .write.mode("overwrite").partitionBy("pfx").parquet(s"$segDir/bands")
  }

  def exists(dir: String): Boolean =
    GenStore.read(dir).exists { st =>
      // band rows are on-disk artifacts of the recorded banding: a store
      // without the bandK prop predates the round-9 k=16 upgrade and
      // reads as absent (rebuild once — the nPfx-layout precedent)
      st.props.contains("nPfx") && st.props.contains("bandK") &&
        Seq("bands", "shingles").forall(t =>
          GenStore.tableComplete(dir, st, t, required = st.segs.toSet))
    }

  /** Compact the store: every [[append]] adds its own segment, so after N
    * batches a touched pfx value's rows are spread over O(N) segment
    * files and [[matchBatch]]'s pruned read degrades from "few files per
    * touched pfx" to "N files per touched pfx" — the classic small-file
    * decay of any append-only table. Compaction rewrites both tables into
    * the NEXT generation's single `base` segment at ~one file per pfx
    * partition, preserving rows and layout exactly — match results are
    * bit-identical before and after ([[graft.IncrIndexSpec]] asserts the
    * equality and the file counts). Serve-through-compact and the
    * append-race CAS are [[GenStore.compact]]'s contract. */
  def compact(spark: SparkSession, dir: String): Unit =
    GenStore.compact(dir, "complete DedupIndex", Legacy) { (st, base) =>
      require(exists(dir), s"no complete DedupIndex at $dir")
      Seq("bands", "shingles").foreach { t =>
        GenStore.readTable(spark, dir, st, t)
          .repartition(col("pfx"))
          .write.mode("overwrite").partitionBy("pfx").parquet(s"$base/$t")
      }
    }

  def shingles(spark: SparkSession, dir: String): DataFrame =
    GenStore.readTable(spark, dir, GenStore.readOrFail(dir, "DedupIndex"),
      "shingles")

  /** The stored band index, pfx partition column included. */
  def bands(spark: SparkSession, dir: String): DataFrame =
    GenStore.readTable(spark, dir, GenStore.readOrFail(dir, "DedupIndex"),
      "bands")

  /** Match `incoming` against the STORED corpus index: one row per
    * incoming doc, (new_id, match_id, jac, is_dup) — exactly
    * [[TextDedup.incrementalDedup]]'s contract, with the existing side
    * read from parquet instead of recomputed. The incoming frame is the
    * only side hashed; BOTH stored-side reads are pruned to the pfx
    * partitions the batch actually touches (see class doc). The live
    * manifest is pinned once at entry, so a concurrent [[compact]] cannot
    * tear the view. */
  def matchBatch(incoming: DataFrame, idCol: String, textCol: String,
                 dir: String, minJaccard: Double = 0.6,
                 maxBucket: Int = 4096,
                 oracleParity: Boolean = true): DataFrame = {
    val (shE, beT, shI, bi) = prunedSides(incoming, idCol, textCol, dir,
      oracleParity)
    TextDedup.incrementalDedupPrepared(shE, beT, incoming, shI, bi, idCol,
      minJaccard, maxBucket, bePreFiltered = true)
  }

  /** [[matchBatch]]'s verified ALL-pairs form: every (incoming, stored)
    * pair clearing `minJaccard` as (new_id, old_id, jac) — the cross-edge
    * increment a maintained pair graph ([[PairStore]]) appends per batch.
    * Same pruned stored-side reads, same candidate/ceiling semantics;
    * [[matchBatch]] is the best-match reduction of this set. */
  def matchBatchPairs(incoming: DataFrame, idCol: String, textCol: String,
                      dir: String, minJaccard: Double = 0.6,
                      maxBucket: Int = 4096,
                      oracleParity: Boolean = true): DataFrame = {
    val (shE, beT, shI, bi) = prunedSides(incoming, idCol, textCol, dir,
      oracleParity)
    TextDedup.incrementalVerifiedPairs(shE, beT, shI, bi, idCol,
      minJaccard, maxBucket, bePreFiltered = true)
  }

  /** The four frames every stored-side match needs: pruned stored shingles
    * `shE`, pruned + batch-semi-joined stored bands `beT`, and the batch's
    * own shingle/band frames. Both stored reads are file-pruned (class
    * doc); the live manifest is pinned once here. */
  private def prunedSides(incoming: DataFrame, idCol: String, textCol: String,
                          dir: String, oracleParity: Boolean)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val spark = incoming.sparkSession
    val st = GenStore.readOrFail(dir, "DedupIndex")
    val nPfx = st.props("nPfx")
    val shI = TextDedup.sortedShingleHashes(incoming, idCol, textCol,
      oracleParity = oracleParity)
    val bi = TextDedup.bandedFromShingles(shI, idCol, st.props("bandK"))
    // Metadata-scale collect #1: the batch's touched bucket-pfx values (at
    // most nPfx small ints, off a band frame bandedFromShingles already
    // materialized) prune the stored bands read to the touched partitions.
    val touched = bi.select(bandPfx(nPfx).as("pfx")).distinct()
      .collect().map(_.getInt(0))
    val beT0 = GenStore.readTableCached(spark, dir, st, "bands")
      .filter(if (touched.isEmpty) lit(false)
        else col("pfx").isin(touched.map(Integer.valueOf): _*))
      .select(col(idCol), col("band"), col("bucket"))
      .join(broadcast(bi.select("band", "bucket").distinct()),
        Seq("band", "bucket"), "left_semi")
    // Diagnostics for IncrIndexSpec: the checkpoint below erases the file
    // scan from every downstream plan, so the pruned-file evidence is
    // captured here, off the exact subtree about to materialize (summed
    // across the per-segment union legs). Flag-gated — the extra plan
    // build is a per-batch driver cost production never pays.
    if (scanDiagnostics) lastPrunedBandFiles.set(
      beT0.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
      }.sum)
    // Materialized ONCE: the slice is batch-bounded and feeds FOUR
    // consumers — the candidate-pfx collect below plus the
    // count/candidate/hot-member joins inside incrementalDedupPrepared —
    // which would otherwise each re-run the pruned scan + semi-join
    // (measured at sf0.1: 4.51 -> 4.12 s median, OPTIMIZATION_r14.md; the
    // superset-pfx variant C measured between the two and was not taken).
    // localCheckpoint, NOT Iterate.checkpoint: a serving call is
    // single-batch scratch, and the reliable flavor would accumulate one
    // never-deleted checkpoint per micro-batch of a streaming caller unless
    // spark.cleaner.referenceTracking.cleanCheckpoints is set (ADVICE r08).
    val beT = beT0.localCheckpoint()
    // Metadata-scale collect #2: the candidate existing ids' id-pfx values
    // prune the verify-side shingles read the same way — without this the
    // shingles table was a full corpus scan per batch (VERDICT r07 #3).
    val oldPfx = beT.select(idPfx(idCol, nPfx).as("pfx")).distinct()
      .collect().map(_.getInt(0))
    val shE = GenStore.readTableCached(spark, dir, st, "shingles")
      .filter(if (oldPfx.isEmpty) lit(false)
        else col("pfx").isin(oldPfx.map(Integer.valueOf): _*))
      .select(col(idCol), col("sh"))
    (shE, beT, shI, bi)
  }
}
