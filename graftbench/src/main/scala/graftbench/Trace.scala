package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task metrics summed over the tasks of one stage. */
final class TaskSums {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inBytes = 0L
  var inRows = 0L
  var shWrite = 0L
  var shRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    inBytes += m.inputMetrics.bytesRead
    inRows += m.inputMetrics.recordsRead
    shWrite += m.shuffleWriteMetrics.bytesWritten
    shRead += m.shuffleReadMetrics.totalBytesRead
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    spill += m.memoryBytesSpilled + m.diskBytesSpilled
  }
  def add(o: TaskSums): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inBytes += o.inBytes; inRows += o.inRows; shWrite += o.shWrite
    shRead += o.shRead; fetchWaitMs += o.fetchWaitMs; spill += o.spill
  }
}

final class JobRec(val id: Int, val group: String, val startMs: Long,
    val stageIds: Seq[Int]) {
  var endMs = 0L
}

final class StageRec(val id: Int, val name: String) {
  var submittedMs = 0L
  var completedMs = 0L
  val sums = new TaskSums
}

/** A timed interval of the benchmark: an operation, a call into a layer
  * inside it, or (in the written trace) a Spark job or stage.
  */
final class Span(val id: Int, val parent: Int, val name: String,
    val startNs: Long) {
  var endNs = 0L
  val attrs = mutable.LinkedHashMap.empty[String, Any]
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What the listeners saw while one operation ran. */
final class OpRecord(val span: Span) {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val phasesMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** Native expression classes in the plans this operation executed. */
  val exprs = mutable.Set.empty[String]
  /** SQL executions: (plan description, end time in ms). */
  val sqlEnds = mutable.ArrayBuffer.empty[(String, Long)]
  def sums: TaskSums = { val t = new TaskSums; stages.foreach(s => t.add(s.sums)); t }
}

/** Spans around every call the benchmark makes into a layer, plus Spark
  * listeners for jobs, stages, tasks and planning phases. While not
  * recording it attaches nothing and each span is a plain call, which is
  * how end-to-end numbers are measured.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile private var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  private var stack = List.empty[Span]
  // ms epoch of nanoTime 0, to place listener timestamps on span time
  private val epochOffsetMs =
    System.currentTimeMillis() - System.nanoTime() / 1000000L

  // listener state, touched only by the bus thread until drained
  private val pendingJobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobsById = mutable.Map.empty[Int, JobRec]
  private val stagesById = mutable.Map.empty[Int, StageRec]
  private val pendingStages = mutable.ArrayBuffer.empty[StageRec]
  private val pendingPhases = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val pendingExprs = mutable.Set.empty[String]
  private val sqlPlans = mutable.Map.empty[Long, String]
  private val pendingSqlEnds = mutable.ArrayBuffer.empty[(String, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = new JobRec(e.jobId, g, e.time, e.stageIds)
      jobsById(e.jobId) = j; pendingJobs += j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobsById.remove(e.jobId).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (on) {
        val s = new StageRec(e.stageInfo.stageId, e.stageInfo.name)
        s.submittedMs = e.stageInfo.submissionTime.getOrElse(0L)
        stagesById(s.id) = s; pendingStages += s
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesById.remove(e.stageInfo.stageId).foreach(
        _.completedMs = e.stageInfo.completionTime.getOrElse(0L))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null)
        stagesById.get(e.stageId).foreach(_.sums.add(e.taskMetrics))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if on =>
        sqlPlans(s.executionId) = s.physicalPlanDescription
      case x: SparkListenerSQLExecutionEnd =>
        sqlPlans.remove(x.executionId).foreach(p => pendingSqlEnds += ((p, x.time)))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (on) {
        qe.tracker.phases.foreach { case (k, v) =>
          pendingPhases(k) += v.durationMs }
        qe.analyzed.foreach(_.expressions.foreach(_.foreach { x =>
          val n = x.getClass.getName
          if (n.startsWith("graft.functions.")) pendingExprs += n.drop(16)
        }))
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception)
        : Unit = ()
  }

  /** Attach the listeners and record spans, or stop recording and
    * detach them; untraced passes run with nothing attached.
    */
  def setRecording(rec: Boolean): Unit =
    if (rec && !on) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      on = true
    } else if (!rec && on) {
      BenchBus.drain(sc)
      on = false
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
      pendingJobs.clear(); pendingStages.clear(); pendingPhases.clear()
      pendingSqlEnds.clear(); pendingExprs.clear()
      jobsById.clear(); stagesById.clear(); sqlPlans.clear()
    }

  def nsOfMs(ms: Long): Long = (ms - epochOffsetMs) * 1000000L

  def recording: Boolean = on

  /** Run `body` as a span under the current one; jobs it launches carry
    * the span's id as their job group.
    */
  def span[T](name: String)(body: => T): T = spanned(name)(body)._1

  /** Like `span`, and also hands back the span it opened (none while not
    * recording), for the caller to attach attributes to.
    */
  def spanned[T](name: String)(body: => T): (T, Option[Span]) =
    if (!on) (body, None)
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), name,
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"gb-${s.id}", name, interruptOnCancel = false)
      try (body, Some(s))
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        parent match {
          case Some(p) => sc.setJobGroup(s"gb-${p.id}", p.name, false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Run one operation as a top-level span and collect what the
    * listeners saw while it ran (the bus is drained before returning).
    */
  def op[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val first = spans.size
      try span(name)(body)
      finally {
        BenchBus.drain(sc)
        val r = new OpRecord(spans(first))
        r.jobs ++= pendingJobs; pendingJobs.clear()
        r.stages ++= pendingStages; pendingStages.clear()
        pendingPhases.foreach { case (k, v) => r.phasesMs(k) += v }
        pendingPhases.clear()
        r.sqlEnds ++= pendingSqlEnds; pendingSqlEnds.clear()
        r.exprs ++= pendingExprs; pendingExprs.clear()
        ops += r
      }
    }

  def rootOf(s: Span): Int =
    if (s.parent < 0) s.id else rootOf(spans(s.parent))

  /** The span whose subtree a job belongs to, by its job group. */
  def spanOfJob(j: JobRec): Option[Span] =
    if (j.group.startsWith("gb-"))
      j.group.drop(3).toIntOption.filter(_ < spans.size).map(spans(_))
    else None

  /** Span tree written at the end of a traced run: operation → layer
    * call → Spark job → stage, each with its derived self time.
    */
  def treeJson(): Seq[Map[String, Any]] = {
    final case class Node(id: String, parent: String, name: String,
        start: Long, end: Long, attrs: Map[String, Any])
    val nodes = mutable.ArrayBuffer.empty[Node]
    spans.foreach(s => nodes += Node(s"s${s.id}",
      if (s.parent < 0) "" else s"s${s.parent}", s.name, s.startNs, s.endNs,
      s.attrs.toMap))
    ops.foreach { o =>
      o.jobs.foreach { j =>
        // jobs of another group (a streaming query's) go to the deepest
        // span of their operation that was open when they started
        val start = nsOfMs(j.startMs)
        val parent = spanOfJob(j).orElse(spans.filter(s =>
            s.id >= o.span.id && s.startNs <= start && start <= s.endNs &&
              rootOf(s) == o.span.id).lastOption)
          .map(s => s"s${s.id}").getOrElse(s"s${o.span.id}")
        nodes += Node(s"j${j.id}", parent, s"job ${j.id}", nsOfMs(j.startMs),
          nsOfMs(math.max(j.endMs, j.startMs)), Map("group" -> j.group))
        o.stages.filter(st => j.stageIds.contains(st.id)).foreach { st =>
          nodes += Node(s"j${j.id}.st${st.id}", s"j${j.id}", st.name,
            nsOfMs(st.submittedMs), nsOfMs(math.max(st.completedMs,
              st.submittedMs)), Map("tasks" -> st.sums.tasks,
              "run_ms" -> st.sums.runMs, "shuffle_write_bytes" ->
                st.sums.shWrite, "input_bytes" -> st.sums.inBytes))
        }
      }
    }
    val children = nodes.groupBy(_.parent)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    nodes.toSeq.map { n =>
      val kids = children.getOrElse(n.id, Nil)
        .map(k => (math.max(k.start, n.start), math.min(k.end, n.end)))
      val self = (n.end - n.start) - Tracer.unionNs(kids)
      Map("id" -> n.id, "parent" -> n.parent, "name" -> n.name,
        "start_ms" -> (n.start - t0) / 1e6, "dur_ms" -> (n.end - n.start) / 1e6,
        "self_ms" -> math.max(0L, self) / 1e6) ++ n.attrs
    }
  }
}

object Tracer {
  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
