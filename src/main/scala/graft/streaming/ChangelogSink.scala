package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.functions.ReferencedLong
import graft.operators.GenStore

/** GenStore-backed append-only changelog sink — the statement set's INSERT
  * target (VERDICT r11 #4). The previous sink layout landed one Hive-style
  * `batch=<id>` directory per trigger FOREVER: at a production one-second
  * cadence that is ~86k directories/day of tiny files — the same
  * small-files disease the maintained stores fixed with the GenStore
  * segment discipline, now applied to the sinks themselves.
  *
  * Semantics per [[write]]: the batch's rows, stamped with a `batch`
  * provenance column (now a DATA column in the parquet, same name/values
  * the old layout surfaced as a partition column), append as one `b<id>`
  * segment. A retried micro-batch is a no-op — either its segment is still
  * in the manifest, or it was folded away and the fold's watermark
  * ([[GenStore.MaxFoldedProp]]) covers it; a changelog has NO merge-on-read
  * dedup, so the watermark is what makes replays effectively-once here
  * (a re-append would duplicate delivered rows outright).
  *
  * File growth is bounded by two folding tiers, both pure concatenation
  * (order within the sink is meaningless; the `batch` column carries the
  * provenance the old directory name carried):
  *   - fresh tier: past `maxLiveSegments` fresh `b<id>` segments, ALL of
  *     them fold into one `m-<uuid>` segment sized to `targetFileBytes`
  *     per file — O(recent batches) per fold;
  *   - merged tier: past `maxLiveSegments` merged segments, the SMALLEST
  *     half fold into one — size-tiered compaction, so long-lived sinks
  *     pay O(log n / log budget) write amplification per byte instead of
  *     periodic full rewrites, and there is never an O(total sink) pause.
  * Folded/orphan directories are vacuumed past `vacuumGraceMs` (the
  * lakehouse retention discipline — see [[GenStore.vacuum]]), so on-disk
  * file count is bounded too, not just manifest width.
  *
  * Readers call [[read]] and get the accumulated changelog — identical
  * rows and columns to what `spark.read.parquet(sinkRoot)` served under
  * the old layout (ChangelogSinkSpec asserts row-level equality), resolved
  * through the manifest instead of raw directory listing, exactly like
  * every lakehouse table format.
  */
object ChangelogSink {

  /** The provenance column: which micro-batch emitted each row. */
  val BatchCol = "batch"
  private val Rows = "rows"
  private val What = "changelog sink"

  /** Append one micro-batch's output idempotently (see class doc).
    *
    * @param targetFileBytes fold output file sizing — the 100-TB knob: a
    *        fold of b bytes writes ceil(b / targetFileBytes) files.
    * @param vacuumGraceMs   retention for dead (folded/orphan) dirs; must
    *        exceed both the longest expected pinned-reader scan and any
    *        concurrent writer's segment write duration. Violating it is
    *        LOUD, never silently partial: a reader pinned to a pre-fold
    *        listing fails its next action with FAILED_READ_FILE (frames
    *        resolve their file listing at [[read]] time and Spark's
    *        ignoreMissingFiles defaults to false; do not enable it for
    *        sink reads) — spec-pinned in ChangelogSinkSpec (VERDICT r12
    *        #7). Recovery is re-resolution: call [[read]] again. */
  def write(df: DataFrame, root: String, batchId: Long,
            maxLiveSegments: Int = 8,
            targetFileBytes: Long = 128L << 20,
            vacuumGraceMs: Long = 10 * 60 * 1000L): Unit = {
    // The fold watermark is the ONLY thing standing between a
    // folded-segment replay and duplicated rows (no merge-on-read dedup
    // here), and it cannot cover ids past the manifest's Int property
    // range — reject those loudly rather than duplicate silently. 2^31
    // one-second triggers is ~68 years of stream time.
    require(batchId <= Int.MaxValue,
      s"changelog sink batchId $batchId exceeds the replay watermark's " +
        "Int range; restart the stream with a fresh checkpoint/sink")
    GenStore.initIfAbsent(root, GenStore.State(0, Vector.empty, Map.empty))
    val st0 = GenStore.readOrFail(root, What)
    if (GenStore.foldedWatermark(st0.props) >= batchId) return // folded replay
    // the id travels in the generated code's references, not its source,
    // so every trigger reuses the sink plan's compiled code
    val out = df.withColumn(BatchCol, ReferencedLong.col(batchId))
    val applied = GenStore.appendSeg(root, What, GenStore.batchSeg(batchId)) {
      (_, segDir) => writeKeepingSchema(out, s"$segDir/$Rows")
    }
    if (applied) {
      maybeFold(df.sparkSession, root, out.schema, maxLiveSegments, targetFileBytes)
      GenStore.vacuum(root, vacuumGraceMs)
      ()
    }
  }

  /** The accumulated changelog: the sink's columns plus [[BatchCol]].
    * Fails (like `spark.read.parquet` on a missing dir) before the first
    * [[write]]; an all-empty sink reads as 0 rows WITH the schema — every
    * segment write lands at least one schema-bearing file. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val st = GenStore.readOrFail(root, What)
    GenStore.readTable(spark, root, st, Rows)
  }

  /** Live segment names — exposed for the boundedness assertions. */
  private[graft] def liveSegments(root: String): Vector[String] =
    GenStore.read(root).map(_.segs).getOrElse(Vector.empty)

  // An empty batch can plan to 0 partitions -> zero part files -> the
  // segment would carry no schema (and GenStore.hasData would skip it,
  // losing the schema for an all-empty sink). Land one schema-bearing
  // empty file instead; the check is a driver metadata listing, not a job.
  private def writeKeepingSchema(df: DataFrame, path: String): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(path)
    val spark = df.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.listStatus(p).exists(_.getPath.getName.startsWith("part-"))
    if (!hasData)
      spark.createDataFrame(
          spark.sparkContext.parallelize(Seq.empty[Row], numSlices = 1),
          df.schema)
        .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** At most ONE fold per trigger (bounded per-batch work; a backlog just
    * folds on subsequent triggers): all fresh past the budget, else the
    * smallest half of an over-budget merged tier. `schema` is the one the
    * calling [[write]] just wrote: the fold reads its segments with it, so
    * Spark runs no schema-inference job per segment. */
  private def maybeFold(spark: SparkSession, root: String, schema: StructType,
                        budget: Int, targetFileBytes: Long): Unit = {
    val st = GenStore.readOrFail(root, What)
    val (mergedSegs, freshSegs) = st.segs.partition(_.startsWith("m-"))
    if (freshSegs.size > budget)
      fold(spark, root, st, schema, freshSegs, targetFileBytes)
    else if (mergedSegs.size > budget) {
      val bySize = mergedSegs.sortBy(s => GenStore.dirBytes(segDir(root, st, s)))
      // at least 2: a 1-segment "fold" rewrites without shrinking the
      // tier, so a budget of 1 would grow unboundedly while paying a
      // rewrite every trigger (r12 review)
      fold(spark, root, st, schema, bySize.take(math.max(2, (budget + 2) / 2)),
        targetFileBytes)
    }
  }

  private def segDir(root: String, st: GenStore.State, seg: String): String =
    s"$root/g${st.gen}/$seg/$Rows"

  private def fold(spark: SparkSession, root: String, st: GenStore.State,
                   schema: StructType, segs: Seq[String],
                   targetFileBytes: Long): Unit = {
    val dirs = segs.map(segDir(root, st, _)).filter(GenStore.hasData)
    if (dirs.isEmpty) return
    val nFiles = math.max(1L,
      (dirs.map(GenStore.dirBytes).sum + targetFileBytes - 1) / targetFileBytes)
    val merged = GenStore.mergedSeg()
    // pure concatenation — no dedup, no shuffle; coalesce bounds the
    // output file count without repartitioning
    val raw = dirs.map(spark.read.schema(schema).parquet(_)).reduce(_ unionByName _)
    writeKeepingSchema(raw.coalesce(nFiles.toInt),
      segDir(root, st, merged))
    // watermark rises atomically with the fold commit: a replay of any
    // folded batch is a no-op from that instant (no dedup to hide behind)
    GenStore.foldSegs(root, What, st.gen, fold = segs, merged = merged,
      newProps = GenStore.raiseWatermark(_, segs))
    ()
  }
}
