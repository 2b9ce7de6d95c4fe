package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload <stream_upsert|batch_curation> --seed <n>
  *      --seconds <s> --trace <0|1> --size <normal|tiny> --work <dir>
  *      --bench <dir of the benchmark's data files> --out <result.json>
  *      [--mix-oracle 1: also write the mix's results for oracle.py]
  *      [--corpus <dir of the curation mix's corpus, generated if absent>]
  * }}}
  *
  * The result file holds the run's measurements, check outcomes, counters
  * and host/settings record; `perfbench/run.py` turns it into the final
  * output line.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        tiny: Boolean, work: Path, bench: Path, out: Path, mixOracle: Boolean,
                        corpus: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m.getOrElse("size", "normal") == "tiny", Paths.get(m("work")).toAbsolutePath,
      Paths.get(m("bench")).toAbsolutePath, Paths.get(m("out")).toAbsolutePath,
      m.get("mix-oracle").contains("1"),
      Paths.get(m.getOrElse("corpus", m("work") + "/mix_input")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val rec = new Record
    val body: Run => Unit = args.workload match {
      case "stream_upsert"  => StreamUpsert.run
      case "batch_curation" => BatchCuration.run
      case w => sys.error(s"unknown workload $w")
    }
    val run = new Run(args, rec)
    Probe.start()
    try run.phase("workload")(body(run))
    finally {
      run.phase("stop")(run.stop())
      rec.e2e("peak_rss_mb", Host.peakRssMb, "MB")
      // the traced run's own end-to-end figures: set against an untraced
      // run of the same seed, they give the tracing overhead
      if (args.trace) {
        Seq("events_per_ref_cpu_s" -> "1/s", "setup_s" -> "s", "work_ref_cpu_s" -> "s").foreach {
          case (m, u) => rec.e2eM.get(m).foreach(v => rec.layer(s"traced.$m", v._1, u))
        }
        rec.e2eM.get("probe_ms").foreach(v => rec.layer("host.probe_ms", v._1, "ms"))
      }
      Files.writeString(args.out, rec.json)
    }
  }
}

/** Measurements, check outcomes and settings of one run, as JSON. */
final class Record {
  val e2eM = mutable.LinkedHashMap[String, (Double, String)]()
  val layerM = mutable.LinkedHashMap[String, (Double, String)]()
  val infoM = mutable.LinkedHashMap[String, Any]()
  val checks = mutable.LinkedHashMap[String, Boolean]()
  var attempted = 0L
  var failed = 0L

  def e2e(n: String, v: Double, unit: String): Unit = e2eM(n) = (v, unit)
  def layer(n: String, v: Double, unit: String): Unit = layerM(n) = (v, unit)
  def info(n: String, v: Any): Unit = infoM(n) = v

  /** One attempted operation; a false outcome counts as failed. */
  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  def check(name: String)(body: => Boolean): Unit = {
    val ok = try body catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] check $name threw: $e")
        false
    }
    if (!ok) System.err.println(s"[perfbench] check FAILED: $name")
    checks(name) = ok
    op(ok)
  }

  def json: String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
        .mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""checks":${Json.obj(checks.toSeq)},"e2e":${metrics(e2eM)},""" +
      s""""layers":${metrics(layerM)},"info":${Json.obj(infoM.toSeq)}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case o => str(String.valueOf(o))
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

object Host {
  private def status(key: String): Option[Long] = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) None
    else Files.readAllLines(p).toArray.map(_.toString).find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong)
  }
  def peakRssMb: Double = status("VmHWM").map(_ / 1024.0).getOrElse(Double.NaN)
  /** CPU time of this process (all threads, user + system). The kernel
    * leaves out time the hypervisor stole from the guest's CPUs. */
  def cpuMs: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6
  /** The JVM's JIT compiler threads, all started with the JVM (run.py
    * turns off their dynamic start and stop). */
  private lazy val jitTasks: Seq[Path] = {
    val tasks = Paths.get("/proc/self/task")
    if (!Files.exists(tasks)) Nil
    else Files.list(tasks).iterator().asScala.toList.filter { t =>
      try Files.readString(t.resolve("comm")).contains("CompilerThre")
      catch { case _: java.io.IOException => false }
    }
  }
  /** CPU time of the JIT compiler threads (`/proc/self/task/<tid>/schedstat`,
    * which also leaves out stolen time). */
  def jitCpuMs: Double = jitTasks.map { t =>
    try Files.readString(t.resolve("schedstat")).trim.split(" ")(0).toLong / 1e6
    catch { case _: java.io.IOException => 0.0 }
  }.sum
  /** CPU time of the program's own threads: the process's, less the JIT
    * compiler's, whose share swings from run to run with the JVM's
    * compilation decisions. */
  def workCpuMs: Double = cpuMs - jitCpuMs
  /** Time the hypervisor stole from all of the guest's CPUs since boot
    * (`/proc/stat`, in clock ticks of 10 ms); 0 where it is not reported. */
  def stealMs: Double = {
    val p = Paths.get("/proc/stat")
    if (!Files.exists(p)) 0.0
    else Files.readAllLines(p).get(0).trim.split("\\s+").lift(8).map(_.toDouble * 10).getOrElse(0.0)
  }
  def gcMs: Double = {
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
  }
}

/** The host's speed, sampled through the run. A daemon thread repeats one
  * fixed compute-and-memory kernel (a burst of about 2 ms of CPU), sleeping
  * 25 ms between bursts, and records each burst's CPU time with its start.
  * On a shared host the same instructions take more or less CPU time as the
  * other guests load the cores and caches, and a burst slows down with the
  * program: scaling the program's CPU time by `RefMs / burst` takes most of
  * that swing out (in trials its spread across runs fell 3-4 fold). */
object Probe {
  /** The scale of the normalised figures: a burst's CPU time on an
    * unloaded core of a recent Intel Xeon is about this. Only ratios of
    * normalised figures carry meaning. */
  val RefMs = 2.0
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  @volatile private var sink = 0L
  private val thread = new Thread(() => {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    val mask = (1 << 19) - 1
    val a = new Array[Int](1 << 19)
    var x = 0x9E3779B9
    while (true) {
      val t0 = System.nanoTime()
      val c0 = mx.getCurrentThreadCpuTime
      var i = 0
      var acc = 0L
      while (i < 200000) {
        x ^= x << 13; x ^= x >>> 17; x ^= x << 5
        val j = x & mask
        a(j) += i
        acc += a((j * 31) & mask)
        i += 1
      }
      sink += acc
      samples.add(t0 -> (mx.getCurrentThreadCpuTime - c0) / 1e6)
      Thread.sleep(25)
    }
  }, "perfbench-probe")
  thread.setDaemon(true)

  def start(): Unit = thread.start()

  /** Median burst CPU (ms) over the bursts started in [t0, t1] (nanoTime);
    * over all bursts so far if none started in it. */
  def medianMs(t0: Long, t1: Long): Double = {
    val all = samples.asScala.toSeq
    val in = all.collect { case (t, ms) if t >= t0 && t <= t1 => ms }
    Time.median(if (in.nonEmpty) in else all.map(_._2))
  }
}

/** A point of the run: wall clock and the program's CPU time (`Host.workCpuMs`). */
final case class Mark(nanos: Long, cpuMs: Double)

object Mark {
  def now(): Mark = Mark(System.nanoTime(), Host.workCpuMs)
}

/** The program's CPU time between two marks, and the probe's median burst
  * over the same interval. `refMs` is the CPU time normalised to the
  * probe's reference speed: `ms * Probe.RefMs / probeMs`. */
final case class Cpu(ms: Double, probeMs: Double) {
  def refMs: Double = ms * Probe.RefMs / probeMs
}

object Cpu {
  def between(a: Mark, b: Mark): Cpu = Cpu(b.cpuMs - a.cpuMs, Probe.medianMs(a.nanos, b.nanos))
  def since(a: Mark): Cpu = between(a, Mark.now())
  /** Of `body`, with the result. */
  def of[T](body: => T): (T, Cpu) = {
    val m = Mark.now()
    val r = body
    (r, since(m))
  }
}

/** Session set-up and the shared timing helpers of one run. */
final class Run(val args: Main.Args, val rec: Record) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  private var session: SparkSession = _
  var trace: Option[LayerTrace] = None
  private var gcAtAttach = 0.0
  private var jitAtAttach = 0.0

  def spark: SparkSession = session

  val confs: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> args.work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> args.work.resolve("warehouse").toString,
    "spark.sql.streaming.numRecentProgressUpdates" -> "5000")

  /** Start (or restart) the Spark session: the first leg of every
    * workload's set-up. */
  def startSession(): SparkSession = {
    if (session != null) { session.stop(); session = null }
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val b = SparkSession.builder().appName("perfbench")
    confs.foreach { case (k, v) => b.config(k, v) }
    session = b.getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    session
  }

  /** Attach the per-layer listener (traced runs only). */
  def attachTrace(sinks: Seq[String]): Unit = if (args.trace) {
    gcAtAttach = Host.gcMs
    jitAtAttach = Host.jitCpuMs
    val t = new LayerTrace(sinks)
    session.sparkContext.addSparkListener(t)
    trace = Some(t)
  }

  def stop(): Unit = if (session != null) {
    recordSettings()
    session.stop(); session = null
  }

  def recordSettings(): Unit = {
    rec.info("nproc", cpus)
    rec.info("xmx_mb", Runtime.getRuntime.maxMemory / (1024 * 1024))
    rec.info("spark_version", session.version)
    rec.info("jvm", s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}")
    rec.info("spark_confs", confs.filterNot { case (k, _) =>
      k.startsWith("spark.local") || k.startsWith("spark.sql.warehouse") }.toMap)
    rec.info("seed", args.seed)
    rec.info("seconds", args.seconds)
    rec.info("size", if (args.tiny) "tiny" else "normal")
    rec.info("gc_ms", Host.gcMs)
    trace.foreach { t =>
      rec.layer("jvm.gc_ms", Host.gcMs - gcAtAttach, "ms")
      rec.layer("jvm.jit_cpu_ms", Host.jitCpuMs - jitAtAttach, "ms")
      layerMetrics("spark")
      rec.layer("spark.stages", t.acc("spark").stages, "count")
      rec.layer("spark.tasks", t.acc("spark").tasks, "count")
    }
  }

  /** Wait for the listener bus so the trace holds every finished stage. */
  def drainTrace(): Unit =
    if (trace.nonEmpty) org.apache.spark.PerfbenchBus.drain(session.sparkContext)

  /** Stop tracing: later jobs (the correctness checks) are not counted. */
  def detachTrace(): Unit = trace.foreach { t =>
    drainTrace()
    session.sparkContext.removeSparkListener(t)
  }

  def layerMetrics(prefix: String): Unit = trace.foreach { t =>
    LayerTrace.metrics(t.acc(prefix), prefix).foreach { case (n, v, u) => rec.layer(n, v, u) }
  }

  /** Run `body` with the benchmark thread's jobs charged to `layer`. */
  def inLayer[T](layer: String, what: String)(body: => T): T = {
    val sc = session.sparkContext
    sc.setLocalProperty("perfbench.layer", layer)
    sc.setJobDescription(s"$layer/$what")
    try body finally {
      sc.setLocalProperty("perfbench.layer", null)
      sc.setJobDescription(null)
    }
  }

  /** Time one phase of the run into the record: wall seconds, the
    * program's CPU seconds, the JIT's CPU seconds, the seconds the
    * hypervisor stole from the guest's CPUs and the probe's median burst. */
  def phase[T](name: String)(body: => T): T = {
    val (jit0, steal0) = (Host.jitCpuMs, Host.stealMs)
    val ((r, cpu), ms) = Time.ms(Cpu.of(body))
    rec.info(s"phase_$name", Map("s" -> ms / 1000.0, "cpu_s" -> cpu.ms / 1000.0,
      "jit_cpu_s" -> (Host.jitCpuMs - jit0) / 1000.0, "steal_s" -> (Host.stealMs - steal0) / 1000.0,
      "probe_ms" -> cpu.probeMs))
    r
  }

  def dir(name: String): String = args.work.resolve(name).toString
}

object Time {
  def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
