package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval in the trace. Times are epoch milliseconds (fractional
  * for spans the benchmark times itself with the monotonic clock). `op` is
  * the id shared by every span of one operation: a job group the benchmark
  * sets, or `batch-<id>` for a streaming micro-batch. */
final case class Span(id: Long, parent: Long, op: String, kind: String, name: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

object Span {
  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0.0)
  }

  /** Self time of every span: its duration minus the part of it that its
    * child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - covered(ch, s.start, s.end))
    }.toMap
  }
}

/** Task-level totals of one op. */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0.0
  var cpuNs = 0.0
  var gcMs = 0.0
  var waitMs = 0.0
  var shuffleWrite = 0.0
  var shuffleRead = 0.0
  var fetchWaitMs = 0.0
  var spill = 0.0
  var peakExecMem = 0.0
  var scanRows = 0.0
  var scanBytes = 0.0
  var scanTasks = 0L
}

/** Collects spans and counters from Spark's public listener interfaces:
  * jobs, stages and tasks from the scheduler, SQL executions and their
  * planning phases, streaming progress, and RDD blocks held in the block
  * manager. Everything stays in memory until `write`. */
final class Tracer extends SparkListener
    with QueryExecutionListener {

  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val opSpanIds = mutable.Map.empty[String, Long]
  private val jobSpan = mutable.Map.empty[Int, (Long, String, Double)]
  private val stageJob = mutable.Map.empty[Int, (Long, String)]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val execStart = mutable.Map.empty[Long, (Double, String)]
  private val execOp = mutable.Map.empty[Long, String]
  /** (execution id, op, start, end, is a sink write). */
  val executions = mutable.ArrayBuffer.empty[(Long, String, Double, Double, Boolean)]
  /** Planning phases (optimization + physical planning) per finished query execution. */
  val planPhases = mutable.ArrayBuffer.empty[(Double, Double)]
  val jobsByOp = mutable.Map.empty[String, mutable.ArrayBuffer[(Int, Double, Double)]]
  val stagesByOp = mutable.Map.empty[String, Int]
  val tasksByOp = mutable.Map.empty[String, TaskTotals]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  private val rddBlocks = mutable.Map.empty[String, Long]
  var checkpointBytesPeak = 0L

  private def id(): Long = nextId.getAndIncrement()

  /** Id of the op span for `op`, created on first use. */
  def opSpan(op: String): Long = synchronized { opSpanIds.getOrElseUpdate(op, id()) }

  /** Record a span the benchmark timed itself; returns its id. */
  def add(op: String, kind: String, name: String, start: Double, end: Double,
      parent: Long = 0): Long = synchronized {
    val sid = if (kind == "op") opSpan(op) else id()
    val p = if (kind == "op") 0L else if (parent != 0) parent else opSpan(op)
    spans += Span(sid, p, op, kind, name, start, end)
    sid
  }

  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap { p =>
      // a streaming query sets its run id as the job group, so the batch
      // id goes first
      Option(p.getProperty("streaming.sql.batchId")).map("batch-" + _)
        .orElse(Option(p.getProperty("spark.jobGroup.id")))
    }.getOrElse("unattributed")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    val sid = id()
    jobSpan(e.jobId) = (sid, op, e.time.toDouble)
    e.stageIds.foreach(s => stageJob(s) = (sid, op))
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execOp.getOrElseUpdate(x.toLong, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (sid, op, start) =>
      spans += Span(sid, opSpan(op), op, "job", s"job ${e.jobId}", start, e.time.toDouble)
      jobsByOp.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ((e.jobId, start, e.time.toDouble))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val (parent, op) = stageJob.getOrElse(si.stageId, (0L, "unattributed"))
    for (a <- si.submissionTime; b <- si.completionTime)
      spans += Span(id(), parent, op, "stage", s"stage ${si.stageId} (${si.numTasks} tasks)", a, b)
    stagesByOp(op) = stagesByOp.getOrElse(op, 0) + 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) return
    val op = stageJob.get(e.stageId).map(_._2).getOrElse("unattributed")
    val t = tasksByOp.getOrElseUpdate(op, new TaskTotals)
    t.tasks += 1
    t.runMs += m.executorRunTime
    t.cpuNs += m.executorCpuTime
    t.gcMs += m.jvmGCTime
    stageSubmit.get(e.stageId).foreach(s => t.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory.toDouble)
    if (m.inputMetrics.bytesRead > 0 || m.inputMetrics.recordsRead > 0) {
      t.scanRows += m.inputMetrics.recordsRead
      t.scanBytes += m.inputMetrics.bytesRead
      t.scanTasks += 1
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val bytes = info.memSize + info.diskSize
      if (info.storageLevel.isValid && bytes > 0) rddBlocks(info.blockId.name) = bytes
      else rddBlocks.remove(info.blockId.name)
      checkpointBytesPeak = math.max(checkpointBytesPeak, rddBlocks.valuesIterator.sum)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execStart(s.executionId) = (s.time.toDouble, s.physicalPlanDescription)
      case x: SparkListenerSQLExecutionEnd =>
        execStart.remove(x.executionId).foreach { case (start, plan) =>
          val op = execOp.getOrElse(x.executionId, "unattributed")
          val write = plan.contains("InsertIntoHadoopFsRelationCommand")
          executions += ((x.executionId, op, start, x.time.toDouble, write))
          spans += Span(id(), opSpan(op), op, "execution",
            s"execution ${x.executionId}${if (write) " (sink write)" else ""}", start, x.time.toDouble)
        }
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases
    Seq("optimization", "planning").flatMap(ph.get)
      .foreach(p => planPhases += ((p.startTimeMs.toDouble, p.endTimeMs.toDouble)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Streaming progress, recorded for the per-batch durations. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  def planMsWithin(lo: Double, hi: Double): Double = synchronized {
    planPhases.collect { case (a, b) if a >= lo && b <= hi => b - a }.sum
  }

  def totals(ops: Set[String]): TaskTotals = synchronized {
    val out = new TaskTotals
    tasksByOp.filter(kv => ops(kv._1)).values.foreach { t =>
      out.tasks += t.tasks; out.runMs += t.runMs; out.cpuNs += t.cpuNs; out.gcMs += t.gcMs
      out.waitMs += t.waitMs; out.shuffleWrite += t.shuffleWrite; out.shuffleRead += t.shuffleRead
      out.fetchWaitMs += t.fetchWaitMs; out.spill += t.spill
      out.peakExecMem = math.max(out.peakExecMem, t.peakExecMem)
      out.scanRows += t.scanRows; out.scanBytes += t.scanBytes; out.scanTasks += t.scanTasks
    }
    out
  }

  /** Jobs of `op` that started inside [lo, hi]. */
  def jobsWithin(op: String, lo: Double, hi: Double): Int = synchronized {
    jobsByOp.get(op).map(_.count { case (_, s, _) => s >= lo - 1 && s <= hi + 1 }).getOrElse(0)
  }

  /** Every span, with jobs and SQL executions hung under the construct or
    * action span of their op that contains their start, and the planning
    * phases of finished executions added as `plan` spans. */
  def linked(): Seq[Span] = synchronized {
    val phases = spans.filter(s => s.kind == "construct" || s.kind == "action").groupBy(_.op)
    def under(op: String, t: Double, default: Long): Long =
      phases.getOrElse(op, Nil).find(p => t >= p.start - 1 && t <= p.end + 1).map(_.id).getOrElse(default)
    val plans = planPhases.toList.flatMap { case (a, b) =>
      spans.find(o => o.kind == "op" && a >= o.start && b <= o.end)
        .map(o => Span(id(), under(o.op, a, o.id), o.op, "plan", "optimization + physical planning", a, b))
    }
    spans.toList.map { s =>
      if (s.kind == "job" || s.kind == "execution") s.copy(parent = under(s.op, s.start, s.parent)) else s
    } ++ plans
  }

  /** Write every span with its self time, and `detail`, as one JSON object. */
  def write(path: String, detail: String): Unit = {
    val all = linked()
    val self = Span.selfTimes(all)
    val sb = new StringBuilder("{\"spans\":[\n")
    sb ++= all.sortBy(s => (s.start, s.id)).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"op":${Json.str(s.op)},"kind":"${s.kind}","name":${Json.str(s.name)},"start_ms":${s.start}%.3f,"dur_ms":${s.dur}%.3f,"self_ms":${self(s.id)}%.3f}"""
    }.mkString(",\n")
    sb ++= "\n],\"detail\":" + detail + "}\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Tracer {
  /** The codegen compile counters of this JVM: (compiles, total ms). The
    * compile-time histogram keeps no sum, so the total is its sampled mean
    * times its count. */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }
}
