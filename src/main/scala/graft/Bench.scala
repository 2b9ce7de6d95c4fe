package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Audit, BenchRole, Isolated}

/** Benchmark main. Runs the full `SparkEntry.queries` set N times
  * (default 3, override via SPARK_GRAFT_BENCH_RUNS) after a JVM warmup
  * pass, and reports the per-query MEDIAN wall time — single runs on a
  * shared host have shown 2-5x noise (see VERDICT r02), medians don't.
  * Session-level memos are reset between runs so every run pays the full
  * cost of shared intermediates.
  *
  * A query that throws is NOT silently timed as green: its median is
  * reported as -1 and the exception lands in the emitted "errors" array.
  *
  * Materialization: each query's ALREADY-OPTIMIZED physical plan is
  * executed via `queryExecution.toRdd.count()`, not `df.count()`. Wrapping
  * the query in a fresh count() lets Catalyst re-optimize — pruning every
  * column, deleting the final sort, and even eliminating joins (a
  * left join whose columns a count never reads is dropped whole, which
  * made q_contamination's bench entry a scan of `documents`). toRdd runs
  * the plan that Verify/consumers actually pay for, without collecting
  * rows to the driver.
  */
object Bench {

  /** Order-independent content fingerprint of a result frame, computed
    * DISTRIBUTED (no collect): every column cast to string (nulls mapped
    * to a control-framed sentinel no cast produces), columns in
    * sorted-name order joined on \\u0001 (an unambiguous frame: a plain
    * concatenation would let values trade characters across a column
    * boundary and a bare word sentinel would collide with a literal
    * "NULL" string, either of which lets a regressed query keep its
    * fingerprint), each row
    * reduced to a 60-bit md5-prefix hash, and the row hashes combined with
    * the commutative pair (sum, xor) plus the row count. Two frames agree
    * on (rows, hash) iff they hold the same multiset of stringified rows —
    * the same contract as the driver's sort-columns-then-hash compare, so
    * a summary printed by one run is directly comparable with the record
    * committed by a previous one ([[correctnessSummary]]'s consumer). */
  def resultFingerprint(df: DataFrame): (Long, String) = {
    import org.apache.spark.sql.functions._
    val cols = df.columns.sorted.map(c =>
      coalesce(col(c).cast("string"), lit("\u0001NULL")))
    val rowHash = conv(substring(md5(concat_ws("\u0001", cols: _*)), 1, 15), 16, 10)
      .cast("long")
    // sum rides a decimal(30,0) accumulator (60-bit row hashes would
    // overflow an ANSI int64 sum after a handful of rows) and is folded
    // back to 60 bits for a compact hex rendering.
    val agg = df.select(rowHash.as("h"))
      .agg(count(lit(1)).as("n"),
        pmod(sum(col("h").cast("decimal(20,0)")),
          lit(BigDecimal(1L << 60))).cast("long").as("s"),
        expr("bit_xor(h)").as("x"))
      .first()
    val n = agg.getLong(0)
    val s = if (agg.isNullAt(1)) 0L else agg.getLong(1)
    val x = if (agg.isNullAt(2)) 0L else agg.getLong(2)
    (n, f"$s%016x:$x%016x")
  }

  /** The round's correctness signal, routed through the one channel that
    * has provably survived the driver boundary two rounds running: this
    * process's stdout (VERDICT r07 — the driver's separate Verify leg
    * returned `{}` twice while the bench stdout tail carried its full
    * per-query map intact). Runs EVERY registered query (bench exclusions
    * included) against the correctness-scale dir and emits one
    * `CORRECTNESS_SUMMARY: {...}` line holding per-query row counts and
    * order-independent content fingerprints, plus the same JSON as a file.
    * The fingerprints match `dev/gate.py`'s committed in-repo record
    * (CORRECTNESS_local_r*.json), so a tail-only artifact still proves
    * which queries ran and what they produced. */
  def correctnessSummary(spark: SparkSession, cDir: String,
                         par: Int): (String, Boolean) = {
    SparkEntry.resetMemos(spark)
    SparkEntry.warmShared(spark, cDir)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val results = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val anyFail = new java.util.concurrent.atomic.AtomicBoolean(false)
    forEachPar(names, par) { name =>
      val entry =
        try {
          val (n, h) = resultFingerprint(SparkEntry.queries(name)(spark, cDir))
          s"""{"rows":$n,"hash":"$h"}"""
        } catch {
          case e: Throwable =>
            anyFail.set(true)
            s"""{"error":"${jsonEscape(
              s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(200)}")}"}"""
        }
      results.put(name, entry)
      System.err.println(s"[correctness] $name -> $entry")
    }
    val qs = names.map(n => s"\"$n\":${results.get(n)}").mkString("{", ",", "}")
    (s"""{"sf":"${jsonEscape(cDir)}","n_queries":${names.size},"queries":$qs}""",
      anyFail.get())
  }

  /** Run `f` over `names` on a `par`-thread pool; returns when every call
    * has finished. */
  private[graft] def forEachPar(names: Seq[String], par: Int)(f: String => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    scala.concurrent.Await.ready(
      scala.concurrent.Future.traverse(names)(n => scala.concurrent.Future(f(n))),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in the oracle SQL would otherwise make a reader's
    * json.load fail and silently zero the round's correctness. The one
    * escaper of both mains' JSON output. */
  private[graft] def jsonEscape(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case '\n'          => "\\n"
      case '\r'          => "\\r"
      case '\t'          => "\\t"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    // 0 skips the timing leg entirely (dev/gate.py uses it to produce the
    // committed correctness fingerprint record without paying a bench).
    val runs = math.max(0, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup so the first timed query isn't charged ~3 s of JIT.
    // Headline set only: audit queries (exact full-corpus ground-truth
    // passes, see graft.queries.Audit) are correctness-gated at sf0.01 but not
    // timed here.
    // Dev-only subset filter (comma-separated names): lets a builder time
    // one query's change without paying the full set. The driver never
    // sets it, so round benches always cover everything.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    def withRole(role: BenchRole): Set[String] =
      SparkEntry.all.filter(_.bench == role).map(_.name).toSet
    val audit = withRole(Audit)
    val benchQueries = SparkEntry.queries
      .filterNot { case (name, _) => audit(name) }
      .filter { case (name, _) => only.isEmpty || only(name) }
    if (runs > 0) benchQueries.headOption.foreach { case (_, fn) =>
      try fn(spark, sfDir).queryExecution.toRdd.count()
      catch { case _: Throwable => () }
    }
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // perRun(i)(name) = seconds, or None if the query threw in that run.
    val perRun: Seq[Map[String, Option[Double]]] = (1 to runs).map { r =>
      SparkEntry.resetMemos(spark)
      benchQueries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
          catch {
            case e: Throwable =>
              errors += s"$name (run $r): ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
              false
          }
        name -> (if (ok) Some((System.nanoTime() - t0) / 1e9) else None)
      }.toMap
    }
    // Any failed run marks the query failed (-1) — a throwing query must
    // not surface as a fast green entry.
    def median(samples: Seq[Double]): Double =
      if (samples.length < runs) -1.0 else samples.sorted.apply((samples.length - 1) / 2)
    def jsonMap(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val names = if (runs > 0) benchQueries.keys.toSeq else Seq.empty
    val medians: Seq[(String, Double)] =
      names.map(name => name -> median(perRun.flatMap(_.get(name).flatten)))
    val qs = jsonMap(medians)
    val total = medians.collect { case (_, v) if v >= 0 => v }.sum
    // Quiet-tail isolated medians for the commit-bound streaming replays
    // (VERDICT r12 #3): the full-set medians above ride whatever GC/page-
    // cache state the preceding ~170 queries left behind and swing ~1.5x
    // between host windows; re-timing each graft.queries.Isolated query
    // back-to-back at the END of the run — nothing else interleaved, heap
    // settled by an explicit GC — is the same shape as the builder's ad-hoc
    // SPARK_GRAFT_BENCH_ONLY adjudication runs. Recorded alongside (never
    // replacing) the full-set medians, so a diff can consult both. A
    // failure here lands in `errors` like any other (r13 review: a
    // swallowed exception left "-1 with zero diagnostics") and fails the
    // run — a query that breaks only in the quiet tail is still broken.
    // SPARK_GRAFT_BENCH_ISOLATE (VERDICT r13 #7): the scale-rehearsal legs
    // run as BENCH_ONLY subsets, which used to skip the isolated tail
    // entirely — their records carried full-leg-contention numbers only
    // (the sf1 q_incr_dedup reading was 2.4x its quiet-tail truth, GC-locker
    // stalls from neighbors). An explicit isolate list re-enables the tail
    // for exactly the named queries, subset mode or not.
    val isoEnv = sys.env.get("SPARK_GRAFT_BENCH_ISOLATE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val isoNames = isoEnv.getOrElse(
      if (only.nonEmpty) Seq.empty else withRole(Isolated).toSeq.sorted)
    val isolated: Seq[(String, Double)] =
      if (runs == 0) Seq.empty
      else isoNames
        .flatMap(n => benchQueries.get(n).map(n -> _))
        .map { case (name, fn) =>
          System.gc()
          val samples = (1 to runs).flatMap { r =>
            SparkEntry.resetMemos(spark)
            val t0 = System.nanoTime()
            try { fn(spark, sfDir).queryExecution.toRdd.count()
                  Some((System.nanoTime() - t0) / 1e9) }
            catch {
              case e: Throwable =>
                errors += s"$name (isolated run $r): ${e.getClass.getName}: " +
                  String.valueOf(e.getMessage).take(300)
                None
            }
          }
          name -> median(samples)
        }
    val isoJson = jsonMap(isolated)
    val errJson = errors.map(e => "\"" + jsonEscape(e) + "\"").mkString("[", ",", "]")
    // recorded_at_ms: a CONTENT timestamp for dev/gate.py's staleness
    // guard (ADVICE r11 #3 — file mtimes reset on clone/checkout, so the
    // guard now reads the marker the bench run itself wrote)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"isolated":$isoJson,"sf":"$sfDir","runs":$runs,"cpus":$cpus,"recorded_at_ms":${System.currentTimeMillis()},"errors":$errJson}"""
    println(json)
    // Also persist the full parsed record to a known path: the driver's
    // BENCH_r{N}.json artifacts were truncating the stdout tail and losing
    // the per-query map ("parsed": null in r5/r6) — a file survives verbatim.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")

    // Correctness leg (VERDICT r07 "Next round" #1): the driver's separate
    // Verify artifact has come back `{}` two rounds running while THIS
    // process's stdout tail survived intact — so the full per-query
    // correctness signal now also rides here. Runs at the correctness scale
    // (the sibling sf0.01 dir by convention, overridable) over ALL
    // registered queries, bench exclusions included. Disable only via
    // SPARK_GRAFT_BENCH_CORRECTNESS=0 (dev subset runs skip it too — a
    // partial bench shouldn't masquerade as a full correctness record).
    val doCorrectness =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_CORRECTNESS", "1") != "0" && only.isEmpty
    var corrFailed = false
    if (doCorrectness) {
      val cDir = sys.env.getOrElse("SPARK_GRAFT_CORRECTNESS_SF_DIR", {
        val sibling = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01")
        if (java.nio.file.Files.isDirectory(sibling)) sibling.toString else sfDir
      })
      val par = math.max(1, sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "4").toInt)
      val (summary, failed) = correctnessSummary(spark, cDir, par)
      corrFailed = failed
      println(s"CORRECTNESS_SUMMARY: $summary")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(sys.env.getOrElse(
          "SPARK_GRAFT_CORRECTNESS_OUT", "correctness_summary.json")),
        summary + "\n")
      // The digest is the LAST stdout line and stays well under 300
      // bytes: the committed round-7 driver artifact kept only the final
      // 2000 characters of stdout, which would truncate both the bench
      // metric line and the full summary above — this line survives ANY
      // tail capture and still proves how many queries ran, which failed,
      // and (via the md5) exactly which full summary it abbreviates.
      val failedNames = """"(q_\w+)":\{"error""".r
        .findAllMatchIn(summary).map(_.group(1)).toSeq
      val md = java.security.MessageDigest.getInstance("MD5")
      val sumMd5 = md.digest(summary.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val nQ = SparkEntry.queries.size
      println(s"""CORRECTNESS_DIGEST: {"n_queries":$nQ,""" +
        s""""n_ok":${nQ - failedNames.size},""" +
        s""""failed":${failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""summary_md5":"$sumMd5","bench_total_sec":$total,""" +
        s""""bench_errors":${errors.size}}""")
    }
    spark.stop()
    if (errors.nonEmpty || corrFailed) sys.exit(1)
  }
}
