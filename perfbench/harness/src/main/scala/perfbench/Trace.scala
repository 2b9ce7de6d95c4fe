package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-layer Spark counters, collected from outside the program by one
  * listener. Each completed stage is charged to exactly one layer:
  *
  *  - jobs started while the benchmark's own thread had set the
  *    `perfbench.layer` local property belong to that layer (batch target
  *    writes, mix queries); in a batch target write, a stage that scans the
  *    parquet topic is charged to `batch.view` instead, because that is
  *    where the views' JSON parsing runs;
  *  - every other job comes from the streaming engine, which stamps all of
  *    a query's jobs with the call site of the query start, so it is charged
  *    by its SQL execution's physical plan instead: a write into an XREF
  *    store, or a read of one (or of the store's bucket column), goes to the
  *    snapshot store; a write into a sink goes to the changelog sink and to
  *    that sink by name; everything else is the shared scan and views.
  */
final class LayerTrace(sinkNames: Seq[String]) extends SparkListener {

  final class Acc {
    var stages = 0L
    var tasks = 0L
    val jobs = mutable.Set[Int]()
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    var shuffleRecords = 0L
    var spillBytes = 0L
    var outputBytes = 0L
    val intervals = mutable.ArrayBuffer[(Long, Long)]()

    /** Wall time during which at least one stage of the layer ran. */
    def busyMs: Long = {
      val sorted = intervals.sortBy(_._1)
      var total = 0L
      var curS = -1L
      var curE = -1L
      sorted.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else if (e > curE) curE = e
      }
      if (curE > curS) total += curE - curS
      total
    }
  }

  private val accs = new ConcurrentHashMap[String, Acc]()
  private val jobLayer = new ConcurrentHashMap[Int, String]()
  private val jobExec = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execLayer = new ConcurrentHashMap[Long, (String, Option[String])]()

  def acc(layer: String): Acc = accs.computeIfAbsent(layer, _ => new Acc)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execLayer.put(s.executionId, streamLayer(s.physicalPlanDescription))
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val props = Option(j.properties)
    props.flatMap(p => Option(p.getProperty("perfbench.layer")))
      .foreach(l => jobLayer.put(j.jobId, l))
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => jobExec.put(j.jobId, id.toLong))
    j.stageIds.foreach(s => stageJob.put(s, j.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val jobId = Option(stageJob.get(info.stageId)).map(_.intValue).getOrElse(-1)
    val explicit = Option(jobLayer.get(jobId))
    val (layer, sink) = explicit match {
      case Some(l) if l.startsWith("batch.") && scansTopic(info) => ("batch.view", None)
      case Some(l) => (l, None)
      case None =>
        Option(jobExec.get(jobId)).flatMap(x => Option(execLayer.get(x)))
          .getOrElse(("streaming.scan", None))
    }
    (Seq("spark", layer) ++ sink.map(s => s"$layer.$s")).foreach(l => add(acc(l), info, jobId))
  }

  private def add(a: Acc, info: StageInfo, jobId: Int): Unit = a.synchronized {
    val m = info.taskMetrics
    a.stages += 1
    a.tasks += info.numTasks
    a.jobs += jobId
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      a.outputBytes += m.outputMetrics.bytesWritten
    }
    for (s <- info.submissionTime; c <- info.completionTime) a.intervals += ((s, c))
  }

  private def scansTopic(info: StageInfo): Boolean =
    info.rddInfos.exists(r => r.scope.exists(_.name.toLowerCase.startsWith("scan parquet")))

  private val WritePath =
    """(?s)Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: ([^,\s]+)""".r

  /** A streaming job's layer from its SQL execution's physical plan: the
    * store or sink it writes, else the store it reads, else the scan. */
  private def streamLayer(plan: String): (String, Option[String]) = {
    val target = WritePath.findFirstMatchIn(plan).map(_.group(1))
    def sinkOf(p: String) = sinkNames.find(n => p.contains(s"/$n/"))
    target match {
      case Some(p) if p.contains("_snapshot/") => ("streaming.snapshot_store", None)
      case Some(p) if sinkOf(p).nonEmpty => ("streaming.changelog_sink", sinkOf(p))
      case _ if plan.contains("_snapshot/") || plan.contains("_bucket") =>
        ("streaming.snapshot_store", None)
      case _ => ("streaming.scan", None)
    }
  }
}

object LayerTrace {
  /** The counters every layer reports under its own name. */
  def metrics(a: LayerTrace#Acc, prefix: String): Seq[(String, Double, String)] = Seq(
    (s"$prefix.busy_ms", a.busyMs.toDouble, "ms"),
    (s"$prefix.jobs", a.jobs.size.toDouble, "count"),
    (s"$prefix.task_cpu_ms", a.cpuNs / 1e6, "ms"),
    (s"$prefix.shuffle_write_bytes", a.shuffleWriteBytes.toDouble, "bytes"),
    (s"$prefix.shuffle_records", a.shuffleRecords.toDouble, "count"),
    (s"$prefix.spill_bytes", a.spillBytes.toDouble, "bytes"),
    (s"$prefix.output_bytes", a.outputBytes.toDouble, "bytes"))
}
