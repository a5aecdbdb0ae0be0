package perfbench

import scala.collection.mutable
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a name, wall-clock start and end (epoch ms), the
  * span that caused it (-1 for a root) and the op it belongs to. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: String)

/** What the scheduler did for one op, gathered from listener events
  * whose job group is the op's id, and the files and bytes its write
  * commands committed. */
final class OpStats {
  var jobs = 0; var stages = 0; var tasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var planMs = 0L
  var writtenFiles = 0L; var writtenBytes = 0L
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]()

  /** Part of [start, end] that no running job of this op covers. */
  def driverOnlyMs(start: Long, end: Long): Long = {
    var covered = 0L; var reach = start
    jobSpans.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    (end - start) - covered
  }
}

/** Spans kept in memory and written once at the end of the run, plus a
  * SparkListener that attributes jobs, stages, tasks and Catalyst
  * planning phases to ops through the job group each op runs under.
  * A streaming query runs its micro-batch jobs on its own thread under
  * its run id as job group; those jobs, and the write commands' file
  * and byte counters, go to the traced op running at the time. The
  * listener is attached only around traced ops, so the difference
  * between traced and untraced ops of one run is the tracing overhead. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private val stats = mutable.HashMap[String, OpStats]()
  private val jobGroup = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, Long]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val opIds = mutable.HashSet[String]()
  /** Accumulator ids of write commands' counters: true for files, false for bytes. */
  private val writeCounter = mutable.HashMap[Long, Boolean]()
  /** The traced op running now. The bus is drained before an op ends,
    * so every planning callback of an op arrives while it is current. */
  @volatile private var current: String = null

  private def statsFor(g: String): OpStats = stats.getOrElseUpdate(g, new OpStats)

  def span(name: String, start: Long, end: Long, parent: Int, op: String): Int = synchronized {
    val id = spans.size
    spans += Span(id, name, start, end, parent, op)
    id
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(opIds).orElse(Option(current))
      g.foreach { g =>
        jobGroup(e.jobId) = g; jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageGroup(_) = g)
        statsFor(g).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobGroup.remove(e.jobId).foreach { g =>
        val s = jobStart.remove(e.jobId).getOrElse(e.time)
        statsFor(g).jobSpans += ((s, e.time))
        spans += Span(spans.size, s"job:${e.jobId}", s, e.time, -1, g)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(statsFor(_).stages += 1)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case x: SparkListenerSQLExecutionStart => noteWriteCounters(x.sparkPlanInfo)
        case x: SparkListenerSQLAdaptiveExecutionUpdate => noteWriteCounters(x.sparkPlanInfo)
        case x: SparkListenerDriverAccumUpdates if current != null =>
          val st = statsFor(current)
          x.accumUpdates.foreach { case (id, v) =>
            writeCounter.get(id).foreach(files => if (files) st.writtenFiles += v else st.writtenBytes += v)
          }
        case _ =>
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      stageGroup.get(e.stageId).foreach { g =>
        val s = statsFor(g)
        s.tasks += 1
        if (m != null) {
          s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.diskBytesSpilled
        }
      }
    }
  }

  private def noteWriteCounters(p: SparkPlanInfo): Unit = {
    p.metrics.foreach { m =>
      if (m.name == "number of written files") writeCounter(m.accumulatorId) = true
      else if (m.name == "written output") writeCounter(m.accumulatorId) = false
    }
    p.children.foreach(noteWriteCounters)
  }

  /** Catalyst's analysis, optimization and planning time per query. */
  private val planning = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val g = current
        if (g != null) {
          val p = qe.tracker.phases
          statsFor(g).planMs += Seq(QueryPlanningTracker.ANALYSIS,
            QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
            .flatMap(p.get).map(_.durationMs).sum
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Run `body` as op `opId`; with `traced` the listener sees its events. */
  def op[A](opId: String, traced: Boolean)(body: => A): A = {
    sc.setJobGroup(opId, opId, interruptOnCancel = false)
    synchronized(opIds += opId)
    if (traced) {
      // events still queued from earlier ops are delivered first
      PerfbenchBus.drain(sc)
      current = opId
      sc.addSparkListener(listener)
      spark.listenerManager.register(planning)
    }
    try body
    finally {
      sc.clearJobGroup()
      if (traced) {
        PerfbenchBus.drain(sc)
        spark.listenerManager.unregister(planning)
        sc.removeSparkListener(listener)
        current = null
      }
    }
  }

  /** Set the end of an open span, e.g. a pass whose ops are its children. */
  def finish(id: Int, end: Long): Unit = synchronized { spans(id) = spans(id).copy(end = end) }

  def statsOf(opId: String): OpStats = synchronized(statsFor(opId))

  /** All spans as JSON lines, written once when the run ends. */
  def write(path: java.nio.file.Path): Unit = synchronized {
    // the listener and the progress callback run before the op's own
    // span exists: their parentless spans hang under the op's span
    val opRoot = spans.filter(_.name.startsWith("op:")).map(s => s.op -> s.id).toMap
    val sb = new StringBuilder
    spans.foreach { s =>
      val parent =
        if (s.parent < 0 && !s.name.startsWith("op:")) opRoot.getOrElse(s.op, -1) else s.parent
      sb.append(s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ms":${s.start},""" +
        s""""end_ms":${s.end},"parent":$parent,"op":${Json.str(s.op)}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
