package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.SparkPlanInfo

/** Attributes every Spark job to the benchmark span open on the driver
  * thread that submitted it (the `perfbench.span` local property) and to
  * the graft source files on its call site, and sums the task metrics of
  * each job. Only the listener-bus thread writes; readers call
  * [[snapshot]] after [[Main.drain]] has flushed the bus. */
final class JobTrace extends SparkListener {
  import JobTrace._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val execs = mutable.LinkedHashMap[Long, Exec]()
  private val fileMetricIds = mutable.Set[Long]()
  @volatile var sentinelsDone = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    // jobs that adaptive execution submits from its own threads carry no
    // user frames; the SQL execution that owns them was started on the
    // driver thread, so its call site (and span) stand for all its jobs
    val owner = execs.get(exec)
    val frames = owner.map(_.frames).getOrElse(
      graftFrames(e.stageInfos.maxBy(_.stageId).details))
    val span = prop(SpanKey).map(_.toLong).orElse(owner.flatMap(_.span)).getOrElse(-1L)
    owner.foreach(x => if (x.span.isEmpty && span != -1L) x.span = Some(span))
    val j = Job(e.jobId, span, exec, frames.headOption.getOrElse(""), frames.distinct, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      if (j.span == SentinelSpan) sentinelsDone += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      val info = e.taskInfo
      j.tasks += 1
      j.taskMs += info.duration
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.inBytes += m.inputMetrics.bytesRead
        j.inRows += m.inputMetrics.recordsRead
        j.outBytes += m.outputMetrics.bytesWritten
        j.outRows += m.outputMetrics.recordsWritten
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.spillBytes += m.diskBytesSpilled
        j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = Exec(s.executionId, s.time, graftFrames(s.details))
        collectFileMetrics(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => collectFileMetrics(u.sparkPlanInfo)
      case a: SparkListenerDriverAccumUpdates =>
        execs.get(a.executionId).foreach { x =>
          a.accumUpdates.foreach { case (id, v) => if (fileMetricIds(id)) x.files += v }
        }
      case end: SparkListenerSQLExecutionEnd => execs.get(end.executionId).foreach(_.end = end.time)
      case _ =>
    }
  }

  private def collectFileMetrics(p: SparkPlanInfo): Unit = {
    p.metrics.filter(_.name == "number of written files").foreach(fileMetricIds += _.accumulatorId)
    p.children.foreach(collectFileMetrics)
  }

  /** Jobs, executions and per-stage task-time skew seen so far, as JSON-ready maps. */
  def snapshot(): (Seq[Map[String, Any]], Seq[Map[String, Any]], Seq[Map[String, Any]]) = synchronized {
    val js = jobs.values.toSeq.map(_.toMap)
    val xs = execs.values.toSeq.map(x => Map[String, Any](
      "id" -> x.id, "start" -> x.start, "end" -> x.end, "files" -> x.files))
    val ss = stageTasks.toSeq.sortBy(_._1).map { case (sid, ds) =>
      val sorted = ds.sorted
      Map[String, Any]("stage" -> sid, "job" -> stageJob.getOrElse(sid, -1),
        "tasks" -> sorted.size, "max_ms" -> sorted.last, "median_ms" -> sorted(sorted.size / 2))
    }
    (js, xs, ss)
  }
}

/** Start time of every job and whether `etl/Dims.scala` is on its call
  * site, enough to split one `Pipeline.backfill` call into its days: each
  * day's `Pipeline.run` begins with `Dims.run`, so a day starts at the first
  * Dims job after a job of the day before. Jobs without graft frames (those
  * adaptive execution submits from its own threads) are skipped. */
final class DayClock extends SparkListener {
  private val starts = mutable.ArrayBuffer[(Long, Boolean)]()
  private val sentinels = mutable.Set[Int]()
  @volatile var sentinelsDone = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(JobTrace.SpanKey)))
    if (span.contains(JobTrace.SentinelSpan.toString)) sentinels += e.jobId
    else {
      val frames = JobTrace.graftFrames(e.stageInfos.maxBy(_.stageId).details)
      if (frames.nonEmpty) starts += (e.time -> frames.contains("etl.Dims"))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (sentinels.remove(e.jobId)) sentinelsDone += 1
  }

  /** Epoch ms at which the second and later days of a call in `[from, to]` start. */
  def dayStarts(from: Long, to: Long): Seq[Long] = synchronized {
    val inCall = starts.filter { case (t, _) => t >= from && t <= to }.toSeq
    inCall.zip((0L, true) +: inCall).collect { case ((t, true), (_, false)) => t }
  }
}

object JobTrace {
  val SpanKey = "perfbench.span"
  /** Span id of the marker job [[Main.drain]] runs to flush the listener bus. */
  val SentinelSpan = -2L

  final case class Job(id: Int, span: Long, exec: Long, file: String, stackFiles: Seq[String], start: Long) {
    var end = -1L
    var tasks = 0L; var taskMs = 0L; var cpuNs = 0L
    var inBytes = 0L; var inRows = 0L; var outBytes = 0L; var outRows = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
    var spillBytes = 0L; var peakExecMem = 0L

    def toMap: Map[String, Any] = Map(
      "id" -> id, "span" -> span, "exec" -> exec, "file" -> file,
      "stack_files" -> stackFiles, "start" -> start, "end" -> end,
      "tasks" -> tasks, "task_ms" -> taskMs, "cpu_ns" -> cpuNs,
      "in_bytes" -> inBytes, "in_rows" -> inRows, "out_bytes" -> outBytes, "out_rows" -> outRows,
      "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
      "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spillBytes, "peak_exec_mem" -> peakExecMem)
  }

  final case class Exec(id: Long, start: Long, frames: Seq[String]) {
    var end = -1L; var files = 0L; var span: Option[Long] = None
  }

  private val Frame = """(graft\.[\w.$]+)\((\w+)\.scala:\d+\)""".r.unanchored

  /** The graft files on a long-form call site, innermost first. */
  def graftFrames(callSite: String): Seq[String] = callSite.split("\n").toSeq.flatMap(graftFile)

  /** `graft.sources.Sinks$.atomicOverwrite(Sinks.scala:80)` → `sources.Sinks`:
    * the package below `graft` plus the source file, so a file holding
    * several objects is still one layer. */
  def graftFile(frame: String): Option[String] = frame match {
    case Frame(cls, file) =>
      val pkg = cls.split('.').dropRight(2).drop(1) // drop "graft", class and method
      Some((pkg :+ file).mkString("."))
    case _ => None
  }
}
