package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** Scheduler and task counters of one tagged operation (one job group). */
final class OpCounters {
  var jobs = 0L; var tasks = 0L
  var taskWaitMs = 0L; var execCpuNs = 0L
  var inputRows = 0L; var bytesWritten = 0L; var shuffleWrite = 0L
  var spill = 0L
  /** Per engine source file of the job's call site: (jobs, exec ms). */
  val byFile = mutable.HashMap.empty[String, (Long, Long)]
}

/** A closed span: name, start and end (ns since the run started), its
  * parent span and the operation id its Spark jobs are tagged with. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, opId: String)

/** Counts jobs and tasks per job group, attributes each job to
  * the engine file of its call site, and records spans. Registered only
  * in a traced run; an untraced run measures with none of this. */
final class Tracer(sc: SparkContext, val on: Boolean) extends SparkListener {
  private val t0 = System.nanoTime()
  private val ops = mutable.HashMap.empty[String, OpCounters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageFile = mutable.HashMap.empty[Int, String]
  private val jobInfo = mutable.HashMap.empty[Int, (String, String, Long)]
  private val execFile = mutable.HashMap.empty[Long, String]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val opSpan = mutable.HashMap.empty[String, Int]
  private val open = mutable.Stack.empty[(Int, Long, String)]
  private var nextSpan = 1
  private var nextOp = 0
  if (on) sc.addSparkListener(this)

  private def now = System.nanoTime() - t0

  /** Run `body` as one tagged operation: its Spark jobs carry the job
    * group `<name>#<n>`, and a traced run records a span around it. */
  def op[A](name: String)(body: => A): A = {
    nextOp += 1
    val opId = s"$name#$nextOp"
    sc.setJobGroup(opId, name)
    try span(name, opId)(body) finally sc.clearJobGroup()
  }

  /** A span nested in the innermost open one. */
  def span[A](name: String, opId: String = "")(body: => A): A =
    if (!on) body
    else {
      val id = spans.synchronized {
        nextSpan += 1
        if (opId.nonEmpty) opSpan(opId) = nextSpan - 1
        nextSpan - 1
      }
      val op = if (opId.nonEmpty) opId else open.headOption.map(_._3).getOrElse("")
      open.push((id, now, op))
      try body
      finally {
        val (_, start, _) = open.pop()
        val parent = open.headOption.map(_._1).getOrElse(0)
        spans.synchronized { spans += Span(id, name, start, now, parent, op) }
      }
    }

  /** Counters of every operation whose id starts with `name#`. */
  def counters(name: String): Seq[OpCounters] = {
    drain()
    ops.synchronized(ops.toSeq.filter(_._1.startsWith(name + "#"))
      .sortBy(_._1.stripPrefix(name + "#").toInt).map(_._2))
  }

  def drain(): Unit = if (on) org.apache.spark.PerfbenchBus.drain(sc)

  def allSpans: Seq[Span] = { drain(); spans.synchronized(spans.toList) }

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untagged#0")

  private def opOf(g: String) = ops.getOrElseUpdate(g, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = ops.synchronized {
    val g = group(e.properties)
    // a job submitted from a pool thread (broadcasts, async stages) has
    // no engine frame of its own: it belongs to its SQL execution, whose
    // call site was taken on the calling thread
    val file = e.stageInfos.sortBy(-_.stageId).headOption
      .map(s => Tracer.engineFile(s.details)).filter(_ != "other")
      .orElse(Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        .flatMap(execFile.get))
      .getOrElse("other")
    e.stageIds.foreach { s => stageGroup(s) = g; stageFile(s) = file }
    jobInfo(e.jobId) = (g, file, now)
    val c = opOf(g)
    c.jobs += 1
    val (j, ms) = c.byFile.getOrElse(file, (0L, 0L))
    c.byFile(file) = (j + 1, ms)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => ops.synchronized {
      execFile(s.executionId) = Tracer.engineFile(s.details)
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ops.synchronized {
    jobInfo.remove(e.jobId).foreach { case (g, file, start) =>
      spans.synchronized {
        spans += Span(nextSpan, s"job ${e.jobId} $file", start, now,
          opSpan.getOrElse(g, 0), g)
        nextSpan += 1
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = ops.synchronized {
    val g = stageGroup.getOrElse(e.stageId, group(null))
    val c = opOf(g)
    val m = e.taskMetrics
    val info = e.taskInfo
    c.tasks += 1
    if (m != null) {
      val wait = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      c.taskWaitMs += math.max(0L, wait)
      c.execCpuNs += m.executorCpuTime
      c.inputRows += m.inputMetrics.recordsRead
      c.bytesWritten += m.outputMetrics.bytesWritten
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      val file = stageFile.getOrElse(e.stageId, "other")
      val (j, ms) = c.byFile.getOrElse(file, (0L, 0L))
      c.byFile(file) = (j, ms + m.executorRunTime)
    }
  }
}

object Tracer {
  private val Frame = """\(([A-Za-z0-9_]+\.scala):\d+\)""".r

  /** The engine source file of a call site: the first `graft.` frame of
    * the stage's long call site, or `other`. */
  def engineFile(details: String): String =
    Option(details).toSeq.flatMap(_.split('\n'))
      .find(_.trim.startsWith("graft."))
      .flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1)))
      .getOrElse("other")

  /** Root paths of every file scan in the executed (final adaptive)
    * plan. */
  def scanRoots(df: DataFrame): Seq[String] = {
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
      case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Analysis, optimization and planning ms of an executed query. */
  def phases(df: DataFrame): Map[String, Long] =
    df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
}
