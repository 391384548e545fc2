package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchAccess, SparkContext, Success}
import org.apache.spark.scheduler._

/** Task-metric totals of the tasks of one stage run under one span. */
final class TaskAgg {
  var tasks = 0
  var retries = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var fetchWaitMs = 0L
  var schedulerDelayMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
}

/** What a finished stage ran: the operator scopes of its RDDs ("Scan
  * parquet", "Window", "Exchange", ...), which classify it.
  */
final case class StageDesc(scopes: Seq[String]) {
  def has(prefix: String): Boolean = scopes.exists(_.startsWith(prefix))
}

/** Sums task metrics per (job group, stage). The tracer sets each span's id
  * as the job group, so every job a span starts is attributed to it.
  */
final class StageListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  val byGroupStage = mutable.Map.empty[(String, Int), TaskAgg]
  val stages = mutable.Map.empty[Int, StageDesc]
  val jobsByGroup = mutable.Map.empty[String, Int].withDefaultValue(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
    jobsByGroup(g) += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stages(si.stageId) = StageDesc(si.rddInfos.flatMap(_.scope.map(_.name)).distinct.toSeq)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = byGroupStage.getOrElseUpdate(
      (stageGroup.getOrElse(e.stageId, ""), e.stageId), new TaskAgg)
    val info = e.taskInfo
    a.tasks += 1
    if (info.attemptNumber > 0 || e.reason != Success) a.retries += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.taskRunMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead
      // the Spark UI's definition of scheduler delay
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      a.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
    }
  }
}

final case class Span(id: Long, name: String, op: Long, parent: Long,
    startNs: Long, var endNs: Long = -1L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into each layer. A span records its
  * name, start, end, parent and the op id every span of one pass or query
  * shares. Spans are kept in memory and written out by
  * [[writeJsonl]]; with tracing off every method only runs its body.
  */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextId = 1L
  private var nextOp = 1L
  private var sc: SparkContext = null
  private val listener = new StageListener

  def enabled: Boolean = sc != null

  /** Start tracing the jobs of `ctx`. */
  def attach(ctx: SparkContext): Unit = {
    ctx.addSparkListener(listener)
    sc = ctx
  }

  def detach(): Unit = if (sc != null) {
    PerfbenchAccess.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    sc.clearJobGroup()
    sc = null
  }

  /** A root span: a new op id shared by every span opened inside it. */
  def op[T](name: String)(f: => T): T =
    if (!enabled) f else { val o = nextOp; nextOp += 1; open(name, o)(f) }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f else open(name, stack.headOption.map(_.op).getOrElse(0L))(f)

  private def open[T](name: String, op: Long)(f: => T): T = {
    val s = Span(nextId, name, op, stack.headOption.map(_.id).getOrElse(0L), System.nanoTime())
    nextId += 1
    spans += s
    stack = s :: stack
    sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
    try f
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  private def children: Map[Long, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Duration minus the part of it that child spans cover. */
  def selfMs(s: Span): Double = {
    val iv = children.getOrElse(s.id, Nil)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = 0L
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs - covered) / 1e6
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** `s` and every span below it. */
  def subtree(s: Span): Seq[Span] = {
    val kids = children
    def walk(x: Span): Seq[Span] = x +: kids.getOrElse(x.id, Nil).flatMap(walk)
    walk(s)
  }

  /** (stage, task totals) of every stage run under the given spans. */
  def stagesOf(ss: Seq[Span]): Seq[(StageDesc, TaskAgg)] = {
    val ids = ss.map(_.id.toString).toSet
    listener.byGroupStage.toSeq.collect {
      case ((g, st), a) if ids.contains(g) =>
        (listener.stages.getOrElse(st, StageDesc(Nil)), a)
    }
  }

  def jobsOf(ss: Seq[Span]): Int = {
    val ids = ss.map(_.id.toString).toSet
    listener.jobsByGroup.collect { case (g, n) if ids.contains(g) => n }.sum
  }

  /** Every task of the traced phase, whichever span (or none) ran it. */
  def allTasks: Seq[TaskAgg] = listener.byGroupStage.values.toSeq

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      val agg = stagesOf(Seq(s)).map(_._2)
      f"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,""" +
        f""""dur_ms":${s.ms}%.3f,"self_ms":${selfMs(s)}%.3f,""" +
        f""""tasks":${agg.map(_.tasks).sum},"run_ms":${agg.map(_.runMs).sum},""" +
        f""""cpu_ms":${agg.map(_.cpuNs).sum / 1e6}%.1f,"gc_ms":${agg.map(_.gcMs).sum},""" +
        f""""shuffle_write_bytes":${agg.map(_.shuffleWriteBytes).sum},""" +
        f""""records_read":${agg.map(_.recordsRead).sum}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
