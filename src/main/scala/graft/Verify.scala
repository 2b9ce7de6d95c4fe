package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Robustness contract (round-6 postmortem: the driver artifact came back
  * `{}` even though every query was green — the round lost its entire
  * correctness signal to a handshake failure, the exact silent-zero this
  * file's JSON-escape comment warns about):
  *   1. `oracle_sql.json` and `manifest.json` are written FIRST, before the
  *      Spark session even starts. If the driver kills a long dump mid-run,
  *      whatever per-query dirs landed are still checkable — a partial run
  *      yields partial rows, never `{}`.
  *   2. Queries are dumped by a small thread pool (SPARK_GRAFT_VERIFY_PAR,
  *      default 4) after `SparkEntry.warmShared` materializes the shared
  *      near-dup memo serially, cutting total wall time well under any
  *      plausible driver timeout. Spark's scheduler is thread-safe; all
  *      temp-view registrations in SparkEntry are idempotent per dir.
  *   3. Every query appends a line to `status.jsonl` (name, ok, seconds)
  *      the moment it finishes, and logs `[verify] name ok/FAILED in Xs`
  *      to stderr — progress is observable and attributable mid-run.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional: names after the first two args restrict the dump (dev
    // subset runs via dev/check.py); the driver passes exactly two args.
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val par = math.max(1, sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "4").toInt)
    new java.io.File(outDir).mkdirs()

    def q(s: String): String = "\"" + Bench.jsonEscape(s) + "\""

    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.isEmpty || only(n)).sorted

    // (1) Gate files FIRST — these need no Spark and must survive any
    // later timeout/crash so the driver's compare always has its inputs.
    val oracleJson = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      s"""{"sf": ${q(sfDir)}, "par": $par, "cpus": ${q(cpus)}, """ +
        s""""queries": ${names.map(q).mkString("[", ",", "]")}}""")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // (2) Pay the shared near-dup materialization ONCE, serially, so the
    // parallel dump below never races the session memo. Skipped for dev
    // subset runs — a memo race there only wastes time (TrieMap keeps one
    // winner), and most subsets never touch the memo at all.
    if (only.isEmpty) {
      val tWarm = System.nanoTime()
      SparkEntry.warmShared(spark, sfDir)
      System.err.println(
        f"[verify] warmShared in ${(System.nanoTime() - tWarm) / 1e9}%.1fs")
    }

    val statusPath = Paths.get(s"$outDir/status.jsonl")
    Files.deleteIfExists(statusPath)
    def status(line: String): Unit = synchronized {
      Files.writeString(statusPath, line + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }

    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val failed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    Bench.forEachPar(names, par) { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          true
        } catch {
          case e: Throwable =>
            failed.add(name)
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      val n = done.incrementAndGet()
      System.err.println(
        f"[verify] $name ${if (ok) "ok" else "FAILED"} in $sec%.1fs ($n/${names.size})")
      status(f"""{"name": ${q(name)}%s, "ok": $ok%b, "seconds": $sec%.2f}""")
    }
    System.err.println(
      s"[verify] done: ${names.size - failed.size}/${names.size} ok" +
        (if (failed.isEmpty) "" else s"; failed: ${failed.toArray.mkString(",")}"))
    spark.stop()
    // A failed dump must be loud at the process level too (Bench already
    // exits 1 on errors): per-query dirs for the successes are on disk
    // either way, so a gating driver still has everything checkable.
    if (!failed.isEmpty) sys.exit(1)
  }
}
