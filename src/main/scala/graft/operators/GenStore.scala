package graft.operators

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Shared generation + segment manifest machinery for the maintained
  * stores ([[DedupIndex]], [[AnnIndexStore]], [[PairStore]]) — one copy of
  * the discipline the first-cut stores each hand-rolled (the round-8
  * review's triplication finding), with the two gaps that review exposed
  * closed at the mechanism level: atomic/idempotent appends and
  * append-vs-compact write safety.
  *
  * On-disk shape under one store root:
  *
  *   `<dir>/_META`                 one line: `v3 gen=<g> segs=<s,...> [k=v ...]`
  *   `<dir>/_LOCK`                 advisory lock serializing manifest writes
  *   `<dir>/g<g>/<seg>/<table>/…`  parquet tables, one subdir per SEGMENT
  *
  * SEGMENTS are the append unit: an append writes a fresh segment
  * directory in overwrite mode — invisible to every reader until its name
  * is atomically added to the manifest — so a crash mid-write leaves only
  * an uncommitted directory and a retry overwrites it cleanly: appends are
  * ATOMIC. When the caller keys the segment by a streaming batchId
  * ([[appendSeg]] returns false for a segment already present instead of
  * re-writing), a retried micro-batch re-applies as a no-op: appends are
  * IDEMPOTENT — the foreachBatch effectively-exactly-once discipline,
  * extended from the answer sink (ADVICE r07) to the maintained stores
  * themselves.
  *
  * GENERATIONS are the compaction unit (serve-through-compact, the
  * [[graft.streaming.SnapshotStore]] manifest discipline): [[compact]]
  * rewrites the live generation's segments into `g<next>/base`, swings the
  * manifest atomically, and RETAINS the replaced generation for in-flight
  * readers until the following compaction. Writers are protected too: the
  * swing validates under the lock that no segment committed since the
  * rewrite began, and a segment commit validates that the generation did
  * not move — whichever side loses the race gets a
  * [[java.util.ConcurrentModificationException]] instead of silent data
  * loss ([[compact]] retries its side internally; an append's caller — a
  * streaming micro-batch — retries through the engine's own replay).
  *
  * The lock is a JVM monitor + [[java.nio.channels.FileLock]] pair —
  * correct across processes on a POSIX filesystem; an object-store deploy
  * would put the manifest swing behind the platform's conditional-put,
  * the same caveat every lakehouse table format carries.
  *
  * Readers take one [[State]] pin and see that manifest's exact segment
  * set; per-table frames are the union of per-segment reads (Spark rejects
  * multi-root partition discovery, and pushed filters prune each leg's
  * files independently — partition pruning survives the union).
  */
private[graft] object GenStore {

  /** One parsed `_META` manifest: the live generation, its committed
    * segments in commit order (`base` first), and the store's immutable
    * integer properties (layout/codebook parameters). */
  case class State(gen: Int, segs: Vector[String], props: Map[String, Int]) {
    def genDir(dir: String): String = s"$dir/g$gen"
    def segTableDirs(dir: String, table: String): Seq[String] =
      segs.map(s => s"$dir/g$gen/$s/$table")
  }

  /** The segment every build/compact writes; appends get `b<batchId>` or
    * a fresh `a-<uuid>` name. */
  val BaseSeg = "base"

  def batchSeg(batchId: Long): String = s"b$batchId"

  def freshSeg(): String =
    "a-" + java.util.UUID.randomUUID().toString.take(8)

  /** Name for a minor-fold output segment (a merged tier of append
    * segments) — distinguishable from fresh appends so a tiered store can
    * count each tier against its own budget. */
  def mergedSeg(): String =
    "m-" + java.util.UUID.randomUUID().toString.take(8)

  /** Manifest property: the highest streaming batchId whose `b<id>`
    * segment has been folded or compacted away. A replay at or below this
    * watermark is already fully applied and must be a NO-OP — its retained
    * `b<id>` directory may still be read by a reader pinned to the
    * pre-fold manifest, so re-writing it mid-read would serve a partial
    * segment (ADVICE r11 #2); and for stores without merge-on-read dedup
    * (the changelog sinks) a re-append would duplicate rows outright.
    * Stored as the manifest's Int property type: 2^31 one-second triggers
    * is ~68 years of stream time; ids past that skip the watermark (they
    * fall back to the value-invisible re-append path where one exists). */
  val MaxFoldedProp = "maxFoldedBatch"

  /** The highest `b<id>` batch segment id in `segs` that fits the manifest
    * Int property type (None when there are none). */
  def maxBatchIdOf(segs: Seq[String]): Option[Int] = {
    val ids = segs.flatMap { s =>
      if (s.length > 1 && s.head == 'b' && s.tail.forall(_.isDigit))
        scala.util.Try(s.tail.toLong).toOption
          .filter(_ <= Int.MaxValue).map(_.toInt)
      else None
    }
    if (ids.isEmpty) None else Some(ids.max)
  }

  /** The folded-batch watermark of a manifest (−1 = nothing folded yet). */
  def foldedWatermark(props: Map[String, Int]): Long =
    props.getOrElse(MaxFoldedProp, -1).toLong

  /** Raise the folded-batch watermark in `props` to cover the `b<id>`
    * segments among `folded` (identity when there are none). */
  def raiseWatermark(props: Map[String, Int],
                     folded: Seq[String]): Map[String, Int] =
    maxBatchIdOf(folded) match {
      case Some(m) if m.toLong > foldedWatermark(props) =>
        props + (MaxFoldedProp -> m)
      case _ => props
    }

  private def metaPath(dir: String) = Paths.get(s"$dir/_META")

  /** Parse the manifest; None for absent stores AND for any pre-v3 layout
    * (those must be rebuilt, never half-read — same policy as every prior
    * layout bump). */
  def read(dir: String): Option[State] = {
    val p = metaPath(dir)
    if (!Files.exists(p)) None
    else Files.readString(p).trim.split("\\s+").toList match {
      case "v3" :: rest =>
        val kv = rest.flatMap(t => t.split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }).toMap
        for {
          g <- kv.get("gen").map(_.toInt)
          segs <- kv.get("segs").map(_.split(",").filter(_.nonEmpty).toVector)
        } yield State(g, segs,
          (kv - "gen" - "segs").map { case (k, v) => k -> v.toInt })
      case _ => None
    }
  }

  def readOrFail(dir: String, what: String): State =
    read(dir).getOrElse(sys.error(s"no $what at $dir"))

  private def render(s: State): String =
    (Seq("v3", s"gen=${s.gen}", s"segs=${s.segs.mkString(",")}") ++
      s.props.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }).mkString(" ")

  private def writeState(dir: String, s: State): Unit = {
    val tmp = Paths.get(s"$dir/_META.tmp")
    Files.writeString(tmp, render(s))
    Files.move(tmp, metaPath(dir), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    dropCached(dir) // any manifest change retires the memoized frames
  }

  // One monitor per canonical store path: FileLock is per-process, so
  // same-JVM contention must be excluded before taking it (overlapping
  // same-channel locks throw instead of blocking).
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `f` holding the store's manifest lock (JVM monitor + file lock). */
  def withLock[T](dir: String)(f: => T): T = {
    val key = Paths.get(dir).toAbsolutePath.normalize.toString
    val mon = jvmLocks.computeIfAbsent(key, _ => new Object)
    mon.synchronized {
      Files.createDirectories(Paths.get(dir))
      val ch = FileChannel.open(Paths.get(s"$dir/_LOCK"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val l = ch.lock()
        try f finally l.release()
      } finally ch.close()
    }
  }

  /** Drop the manifest (the rebuild-window discipline: a store without a
    * manifest reads as absent, never as half-built). */
  def clearMeta(dir: String): Unit = {
    Files.deleteIfExists(metaPath(dir))
    dropCached(dir) // a rebuild window also retires the memoized frames
    ()
  }

  /** Publish a fully-materialized initial state (build completion). */
  def init(dir: String, s: State): Unit = {
    Files.createDirectories(Paths.get(dir))
    withLock(dir) { writeState(dir, s) }
  }

  /** [[init]] only when no manifest exists yet — the check runs under the
    * manifest lock so two concurrent first-appends cannot both "win" and
    * the loser wipe the winner's just-committed segment. */
  def initIfAbsent(dir: String, s: State): Unit = {
    Files.createDirectories(Paths.get(dir))
    withLock(dir) { if (read(dir).isEmpty) writeState(dir, s) }
  }

  /** Atomically add a committed segment to the manifest. Throws if the
    * store was compacted since the caller pinned `expectGen` — the data
    * landed in a generation that is no longer live and must be re-applied
    * against the new one. Re-adding a present segment is a no-op. */
  def commitSeg(dir: String, expectGen: Int, seg: String): Unit =
    withLock(dir) {
      val cur = readOrFail(dir, "store manifest")
      if (cur.gen != expectGen)
        throw new java.util.ConcurrentModificationException(
          s"store at $dir was compacted (g$expectGen -> g${cur.gen}) during " +
            "an append; retry the batch against the live generation")
      if (!cur.segs.contains(seg))
        writeState(dir, cur.copy(segs = cur.segs :+ seg))
    }

  /** Append protocol: pin the live state; if `seg` is already committed
    * (a retried, fully-applied batch) do nothing and return false; else
    * have `write` materialize the segment directory (overwrite mode —
    * a crashed attempt's partial files are invisible and fully replaced)
    * and commit it. */
  def appendSeg(dir: String, what: String, seg: String)
               (write: (State, String) => Unit): Boolean = {
    val st = readOrFail(dir, what)
    if (st.segs.contains(seg)) false
    else {
      write(st, s"${st.genDir(dir)}/$seg")
      commitSeg(dir, st.gen, seg)
      true
    }
  }

  /** Whether the batchId-keyed segment of a streaming append has been
    * committed — the replay-detection half of the idempotent gate loop. */
  def batchApplied(dir: String, batchId: Long): Boolean =
    read(dir).exists(_.segs.contains(batchSeg(batchId)))

  /** The distinct `idCol` values a batchId-keyed append committed to
    * `table` — the survivor set a retried, already-applied gate
    * micro-batch must reproduce without re-matching (the store now
    * CONTAINS the batch, so a re-match would self-suppress every
    * survivor). A zero-survivor batch's segment has no data files and
    * reads as an empty `(idCol: long)` frame. */
  def batchIds(spark: SparkSession, dir: String, what: String, batchId: Long,
               table: String, idCol: String): DataFrame = {
    val t = s"${readOrFail(dir, what).genDir(dir)}/${batchSeg(batchId)}/$table"
    if (!hasData(t))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField(idCol, LongType))))
    else spark.read.parquet(t).select(col(idCol)).distinct()
  }

  /** Minor-fold commit: atomically replace the already-written `fold`
    * segments with `merged` in the manifest, SAME generation — the cheap
    * tier compaction (the caller merges only the folded segments' data, so
    * the write is O(folded bytes), never O(snapshot); a full generation
    * swing is [[compact]]). The folded segment DIRECTORIES are retained on
    * disk for readers pinned to the pre-fold listing and are cleaned when
    * the whole generation is pruned at the next [[compact]]; a crashed
    * fold's orphan merged dir is likewise invisible (not in the manifest)
    * and pruned with its generation. Returns false — fold abandoned, no
    * manifest change — if the generation moved or any folded segment left
    * the manifest since the caller pinned its state (a racing compact or
    * fold won); the orphan dir is debris, not damage. */
  def foldSegs(dir: String, what: String, expectGen: Int,
               fold: Seq[String], merged: String,
               newProps: Map[String, Int] => Map[String, Int] = identity): Boolean =
    withLock(dir) {
      val cur = readOrFail(dir, what)
      if (cur.gen != expectGen || !fold.forall(cur.segs.contains)) false
      else {
        writeState(dir, cur.copy(
          segs = cur.segs.filterNot(fold.contains) :+ merged,
          props = newProps(cur.props)))
        true
      }
    }

  /** Total bytes of regular files under `p` (0 for a missing dir) —
    * driver-side fs metadata, used to size fold outputs and the reshard
    * advisory. */
  private[graft] def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.isDirectory(root)) 0L
    else {
      val walk = Files.walk(root)
      try {
        var total = 0L
        val it = walk.iterator()
        while (it.hasNext) {
          val q = it.next()
          if (Files.isRegularFile(q)) total += Files.size(q)
        }
        total
      } finally walk.close()
    }
  }

  /** VACUUM: delete LIVE-generation segment directories that are no longer
    * in the manifest (minor-folded away, or a crashed fold/append's orphan)
    * once their last modification is older than `graceMs`. This is the
    * lakehouse retention discipline: folded dirs are retained for readers
    * pinned to a pre-fold manifest, but a store that only ever minor-folds
    * (the changelog sinks — no dedup, so no base rewrite to prune the
    * generation) would otherwise accrete one dead directory per fold
    * forever. A reader pinned longer than the grace window is out of
    * contract, the same caveat every table format's VACUUM carries. Runs
    * under the manifest lock so the listing cannot race a fold commit;
    * concurrent APPENDS to the same store must use a grace comfortably
    * above their write duration (an uncommitted in-flight segment dir is
    * also "unlisted"). Previous generations are untouched (that retention
    * belongs to [[compact]]/[[pruneGens]]). Returns deleted dir count. */
  def vacuum(dir: String, graceMs: Long): Int = withLock(dir) {
    val st = readOrFail(dir, "store manifest")
    val gen = Paths.get(st.genDir(dir))
    var deleted = 0
    if (Files.isDirectory(gen)) {
      val cutoff = System.currentTimeMillis() - graceMs
      val ls = Files.list(gen)
      val entries = try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.toList
      } finally ls.close()
      entries.foreach { p =>
        val name = p.getFileName.toString
        if (!st.segs.contains(name) && Files.isDirectory(p)
            && lastModifiedUnder(p) <= cutoff) {
          deleteRecursively(p)
          deleted += 1
        }
      }
    }
    deleted
  }

  // newest mtime under a segment dir — a dir whose files are still being
  // written reports fresh, so a generous grace keeps in-flight appends safe
  private def lastModifiedUnder(p: Path): Long = {
    val walk = Files.walk(p)
    try {
      var newest = 0L
      val it = walk.iterator()
      while (it.hasNext) {
        val t = Files.getLastModifiedTime(it.next()).toMillis
        if (t > newest) newest = t
      }
      newest
    } finally walk.close()
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(q => { Files.deleteIfExists(q); () })
      finally walk.close()
    }

  /** Drop generation dirs not in `keep`, plus any store-specific legacy
    * entries (pre-v3 layouts) — build's clean slate and compact's
    * previous-generation retention both route through here. */
  def pruneGens(dir: String, keep: Set[Int], legacy: String => Boolean): Unit = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return
    val ls = Files.list(root)
    val entries = try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.toList
    } finally ls.close()
    entries.foreach { p =>
      val name = p.getFileName.toString
      val genOf = """^g(\d+)$""".r.findFirstMatchIn(name).map(_.group(1).toInt)
      if (genOf.exists(g => !keep(g)) || legacy(name)) deleteRecursively(p)
    }
  }

  // Whole-compaction mutex (monitor + FileLock, like withLock but a
  // separate file so appends' brief manifest locking is never blocked by a
  // long rewrite): two concurrent compactors would otherwise interleave
  // their prune/rewrite phases outside the manifest lock — the slower
  // one's pre-rewrite prune deletes the faster one's just-published
  // g<next> data, leaving the live manifest pointing at a deleted
  // generation (ADVICE r08). Append-vs-compact stays CAS-only.
  private def withCompactLock[T](dir: String)(f: => T): T = {
    val key = Paths.get(dir).toAbsolutePath.normalize.toString + "#compact"
    val mon = jvmLocks.computeIfAbsent(key, _ => new Object)
    mon.synchronized {
      Files.createDirectories(Paths.get(dir))
      val ch = FileChannel.open(Paths.get(s"$dir/_COMPACT_LOCK"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val l = ch.lock()
        try f finally l.release()
      } finally ch.close()
    }
  }

  /** Compact driver: rewrite the pinned state's segments into
    * `g<next>/base` via `rewrite`, then CAS-swing the manifest. If an
    * append committed while the rewrite ran, the swing fails, the
    * half-built next generation is dropped, and the loop re-pins and
    * retries (up to `maxAttempts` — each retry folds the new segments in,
    * so the loop converges unless appends outpace full rewrites).
    * Compact-vs-compact is serialized for the WHOLE body by
    * [[withCompactLock]]; the loser then re-pins the winner's generation
    * and compacts on top of it instead of corrupting it. */
  def compact(dir: String, what: String, legacy: String => Boolean,
              maxAttempts: Int = 3,
              newProps: Map[String, Int] => Map[String, Int] = identity)
             (rewrite: (State, String) => Unit): Unit =
    withCompactLock(dir) {
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      val st = readOrFail(dir, what)
      val next = st.gen + 1
      // clear anything that is neither the live generation nor (retained
      // from last time) its predecessor — includes stale g<next> debris
      // from a crashed previous compact
      pruneGens(dir, keep = Set(st.gen, st.gen - 1), legacy)
      rewrite(st, s"$dir/g$next/$BaseSeg")
      try {
        withLock(dir) {
          val cur = readOrFail(dir, what)
          if (cur.gen != st.gen || cur.segs != st.segs)
            throw new java.util.ConcurrentModificationException(
              s"store at $dir changed during compaction; retrying")
          writeState(dir, State(next, Vector(BaseSeg), newProps(st.props)))
        }
        done = true
        // previous-generation retention: keep g<st.gen> for in-flight
        // readers; drop anything older
        pruneGens(dir, keep = Set(st.gen, next), legacy)
      } catch {
        case e: java.util.ConcurrentModificationException =>
          deleteRecursively(Paths.get(s"$dir/g$next"))
          if (attempt >= maxAttempts) throw e
      }
    }
  }

  /** One table across the pinned manifest's segments: the union of
    * per-segment reads (segments missing the table — e.g. codebook tables
    * absent from append segments — are skipped). Pushed filters reach
    * every leg, so partition/file pruning is preserved per segment. */
  def readTable(spark: SparkSession, dir: String, st: State,
                table: String): DataFrame = {
    val paths = st.segTableDirs(dir, table).filter(hasData)
    require(paths.nonEmpty, s"table $table has no segments under $dir")
    readSegments(spark, paths)
  }

  /** The union of the segment tables at `paths`, every leg read with the
    * schema the writer of the first one stored (every segment of a table
    * comes from the same writer). A read without a schema runs one parquet
    * footer-merging job per segment; this reads one footer on the driver.
    * A table whose footer carries no Spark schema is inferred once. */
  private def readSegments(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val schema = writtenSchema(spark, paths.head)
      .getOrElse(spark.read.parquet(paths.head).schema)
    paths.map(spark.read.schema(schema).parquet(_)).reduce(_ unionByName _)
  }

  /** The Spark schema a Spark writer stores in each parquet footer, read
    * from one data file under `tableDir` — the columns in the files;
    * partition columns come from directory names when the table is read.
    * The file inference would pick carries the same schema. */
  private def writtenSchema(spark: SparkSession, tableDir: String): Option[StructType] = {
    val walk = Files.walk(Paths.get(tableDir))
    val file = try walk.iterator().asScala.find { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      } finally walk.close()
    file.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new HPath(f.toUri), spark.sparkContext.hadoopConfiguration))
      try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      finally r.close()
    }.map(DataType.fromJson(_).asInstanceOf[StructType])
  }

  // (session, store dir, table) -> (gen, segs, frame). Building the frame
  // costs per-segment file listing + footer reads + hasData walks EVERY
  // serving call — a pure driver-latency constant for a per-batch gate
  // (VERDICT r08 #4). The pinned (gen, segs) make staleness checkable
  // against the freshly-read manifest; any same-JVM manifest write also
  // drops the dir's entries (writeState hook), so the one aliasing hazard
  // left is an in-place rebuild from ANOTHER process producing the exact
  // same (gen, segs) — which already deletes files under any live reader
  // and is out of contract for every maintained store.
  // Bounded, access-ordered (LRU): the cached DataFrame strongly references
  // its SparkSession, so an unbounded session-keyed map would pin every
  // `newSession()` a serving loop ever creates (and weak keys can't help —
  // the value would keep its own key alive). 64 entries covers many stores
  // x 3 tables for the handful of live sessions a real process holds;
  // churning sessions just cycle the tail out and become collectable.
  /** Bounded access-order (LRU) map — the shared shape for every
    * driver-side serving cache (this table cache, AnnIndexStore's
    * codebooks). All access must hold the map's own monitor. */
  private[operators] def boundedLru[K, V](max: Int): java.util.LinkedHashMap[K, V] =
    new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size() > max
    }

  private val tableCache =
    boundedLru[(SparkSession, String, String), (Int, Vector[String], DataFrame)](64)

  /** [[readTable]] with the constructed frame memoized per (session, dir,
    * table) while the manifest's (gen, segs) are unchanged — the serving
    * paths' repeated-read shape. Plans are immutable, so reuse is safe;
    * filters applied by callers still prune per leg. */
  def readTableCached(spark: SparkSession, dir: String, st: State,
                      table: String): DataFrame = {
    val key = (spark, Paths.get(dir).toAbsolutePath.normalize.toString, table)
    val hit = tableCache.synchronized { Option(tableCache.get(key)) }
    hit match {
      case Some((g, segs, df)) if g == st.gen && segs == st.segs => df
      case _ =>
        val df = readTable(spark, dir, st, table)
        tableCache.synchronized { tableCache.put(key, (st.gen, st.segs, df)) }
        df
    }
  }

  /** Visible size for the eviction spec. */
  private[graft] def tableCacheSize: Int =
    tableCache.synchronized(tableCache.size())

  /** [[readTable]] tolerating a table with no data in ANY segment (e.g. a
    * store whose optional side-table only materializes when non-empty):
    * None instead of the require failure. */
  def readTableIfAny(spark: SparkSession, dir: String, st: State,
                     table: String): Option[DataFrame] = {
    val paths = st.segTableDirs(dir, table).filter(hasData)
    if (paths.isEmpty) None
    else Some(readSegments(spark, paths))
  }

  private def dropCached(dir: String): Unit = {
    val abs = Paths.get(dir).toAbsolutePath.normalize.toString
    tableCache.synchronized {
      tableCache.keySet.removeIf(_._2 == abs)
    }
  }

  // a segment table dir with no data files (an empty-frame write leaves
  // only _SUCCESS) carries no rows and no inferable schema — skip it
  private[graft] def hasData(p: String): Boolean = {
    val root = Paths.get(p)
    if (!Files.isDirectory(root)) false
    else {
      val walk = Files.walk(root)
      try {
        val it = walk.iterator()
        var found = false
        while (!found && it.hasNext)
          found = it.next().getFileName.toString.endsWith(".parquet")
        found
      } finally walk.close()
    }
  }

  /** `exists` helper: a manifest is present and every committed segment
    * that carries `table` finished its write (`_SUCCESS`). `required`
    * names segments that MUST carry the table (the base segment for
    * codebook tables). */
  def tableComplete(dir: String, st: State, table: String,
                    required: Set[String] = Set(BaseSeg)): Boolean =
    st.segs.forall { s =>
      val t = Paths.get(s"$dir/g${st.gen}/$s/$table")
      if (required(s) || Files.isDirectory(t))
        Files.exists(t.resolve("_SUCCESS"))
      else true
    }
}
