package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Internals

/** One timing interval opened by the benchmark around a call into a
  * layer. Times are nanoseconds on [[Clock]]. */
final case class Span(id: Int, layer: String, name: String, parent: Int,
    start: Long, var end: Long = -1L) {
  def dur: Long = end - start
}

/** Monotonic nanoseconds since JVM start of the benchmark, plus the
  * mapping of Spark's wall-clock millisecond event times onto it. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def now(): Long = System.nanoTime() - baseNs
  def fromMs(ms: Long): Long = (ms - baseMs) * 1000000L
  def sec(ns: Long): Double = ns / 1e9
}

final case class JobRec(span: Int, start: Long, stages: Seq[Int], var end: Long = -1L)

final class StageRec(val id: Int) {
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var fetchWaitMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer[Long]()
}

final case class WriteRec(path: String, files: Long, bytes: Long, parts: Long)

final case class ExecRec(span: Int, durNs: Long, planNs: Long, filesScanned: Long,
    writes: Seq[WriteRec])

/** Outside-in tracing: spans opened by the benchmark around its calls
  * into the engine, plus a SparkListener registered by the benchmark.
  * The current span id rides the Spark local property `perfbench.span`,
  * so every job (and, through the job's execution id, every SQL
  * execution) is assigned to the span that caused it. Everything stays
  * in memory until the run ends. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var on = false

  val jobs = mutable.Map[Int, JobRec]()
  val stages = mutable.Map[Int, StageRec]()
  val execs = mutable.ArrayBuffer[ExecRec]()
  private val execStart = mutable.Map[Long, Long]()
  private val execSpan = mutable.Map[Long, Int]()

  def enabled: Boolean = on

  /** Runs `body` inside a span of `layer` (no-op while detached). */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(0)
      val s = synchronized {
        val s = Span(spans.size + 1, layer, name, parent, Clock.now())
        spans += s
        s
      }
      stack = s :: stack
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = Clock.now()
        stack = stack.tail
        sc.setLocalProperty(Prop, prev)
      }
    }

  private val engine = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
      val span = prop(Prop).map(_.toInt).getOrElse(0)
      val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
      if (exec >= 0 && span > 0) execSpan.getOrElseUpdate(exec, span)
      jobs(e.jobId) = JobRec(span, Clock.fromMs(e.time), e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = Clock.fromMs(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
      s.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) s.failedTasks += 1
      s.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        execStart(s.executionId) = Clock.fromMs(s.time)
      }
      case end: SparkListenerSQLExecutionEnd =>
        Internals.queryExecution(end).foreach(qe => execution(end.executionId, end.time, qe))
      case _ =>
    }
  }

  /** Planning time, scanned files and writes of one finished SQL
    * execution, assigned to the span of its jobs (or, for an execution
    * that ran no job, to the span open when it started). */
  private def execution(id: Long, endMs: Long, qe: QueryExecution): Unit = {
    val planNs = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs * 1000000L).sum
    val nodes = flatten(qe.executedPlan)
    val scanned = nodes.collect {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    val writes = nodes.collect {
      case w: DataWritingCommandExec =>
        val m = w.cmd.metrics
        def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
        val path = w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
          case _ => ""
        }
        WriteRec(path, v("numFiles"), v("numOutputBytes"), v("numParts"))
    }
    synchronized {
      val start = execStart.getOrElse(id, Clock.fromMs(endMs))
      val span = execSpan.getOrElse(id, spanAt(start))
      execs += ExecRec(span, Clock.fromMs(endMs) - start, planNs, scanned, writes)
    }
  }

  /** Innermost span open at time `t` (0 if none). */
  private def spanAt(t: Long): Int =
    spans.filter(s => s.start <= t && (s.end < 0 || t <= s.end))
      .sortBy(_.start).lastOption.map(_.id).getOrElse(0)

  def attach(): Unit = if (!on) {
    sc.addSparkListener(engine)
    on = true
  }

  def detach(): Unit = if (on) {
    drain()
    sc.removeSparkListener(engine)
    on = false
  }

  def drain(): Unit = Internals.drain(sc)

  // ---- aggregation ---------------------------------------------------

  private def children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** The span and every span below it. */
  def subtree(id: Int): Set[Int] = {
    val out = mutable.Set(id)
    var frontier = Seq(id)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(i => children.getOrElse(i, Nil).map(_.id))
      out ++= frontier
    }
    out.toSet
  }

  /** Span duration not covered by its child spans (children run on the
    * caller thread, so they never overlap). */
  def selfNs(s: Span): Long = s.dur - children.getOrElse(s.id, Nil).map(_.dur).sum

  def spansOf(layer: String): Seq[Span] = spans.toSeq.filter(_.layer == layer)

  def jobsIn(ids: Set[Int]): Seq[JobRec] = jobs.values.toSeq.filter(j => ids(j.span))
  def execsIn(ids: Set[Int]): Seq[ExecRec] = execs.toSeq.filter(e => ids(e.span))
  def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stages).distinct.flatMap(stages.get)

  /** Time inside `s` during which no Spark job of its subtree ran. */
  def noJobNs(s: Span): Long = {
    val iv = jobsIn(subtree(s.id)).filter(_.end >= 0)
      .map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    s.dur - covered
  }

  /** Spans and their attributed jobs as JSON lines. */
  def dump(path: String, run: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        val js = jobsIn(Set(s.id))
        w.println(Json.obj(Seq(
          "run" -> run, "span" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
          "name" -> s.name, "start_s" -> Clock.sec(s.start), "end_s" -> Clock.sec(s.end),
          "self_s" -> Clock.sec(selfNs(s)), "jobs" -> js.size,
          "tasks" -> stagesOf(js).map(_.tasks).sum)))
      }
    } finally w.close()
  }
}

object Tracer {
  val Prop = "perfbench.span"

  /** Every physical node, looking through adaptive plans and stages. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => flatten(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(flatten)
  }
}
