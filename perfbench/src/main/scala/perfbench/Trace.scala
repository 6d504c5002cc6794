package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

final case class Span(id: Int, name: String, parent: Int, t0Ms: Long, t0Ns: Long) {
  var t1Ms: Long = -1L
  var t1Ns: Long = -1L
  def wallS: Double = (t1Ns - t0Ns) / 1e9
}

final class Job(val id: Long, val startMs: Long, val execId: Long, val stageIds: Seq[Long]) {
  @volatile var endMs: Long = -1L
  var span: Span = null
  var phase: String = ""
}

/** Task metrics summed over one stage. */
final class StageAgg {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var fetchWaitMs = 0L
  var recordsRead = 0L
  var writeBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Benchmark-side tracing: spans around the public engine calls, plus a
  * Spark listener that attributes every job to the innermost open span and,
  * inside it, to a phase named from the job's SQL plan (what it reads and
  * writes). Everything is kept in memory and summarised when the run ends.
  * With tracing off no listener is registered and `span` only runs its body. */
final class Trace(val enabled: Boolean) {

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val jobs = new ConcurrentHashMap[Long, Job]()
  private val stages = new ConcurrentHashMap[Long, StageAgg]()
  private val plans = new ConcurrentHashMap[Long, String]()
  private var listener: SparkListener = null
  private var generation = 0L
  private var sc: SparkContext = null
  private var attached = false

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      open.push(s)
      try f
      finally {
        s.t1Ns = System.nanoTime(); s.t1Ms = System.currentTimeMillis()
        open.pop()
      }
    }

  /** Registers the listener on a new SparkContext. */
  def bind(context: SparkContext): Unit = if (enabled) {
    generation += 1
    listener = new Listener(generation)
    sc = context; attached = false; attach()
  }

  def attach(): Unit =
    if (sc != null && !attached) { sc.addSparkListener(listener); attached = true }

  /** Runs `f` with the listener detached, so the listener's own overhead
    * can be measured. The bus is emptied before detaching (so the jobs of
    * the traced calls before keep their end events) and again before
    * re-attaching (so the listener never sees the untraced jobs). */
  def untraced[A](f: => A): A =
    if (sc == null || !attached) f
    else {
      drain(); sc.removeSparkListener(listener); attached = false
      try f
      finally { drain(); attach() }
    }

  def unbind(): Unit = {
    drain()
    if (attached) sc.removeSparkListener(listener)
    attached = false; sc = null
  }

  /** Waits until the listener bus has delivered every queued event, so
    * summaries see the whole run. */
  def drain(): Unit = if (sc != null) PerfbenchBus.waitUntilEmpty(sc)

  /** Job, stage and execution ids restart with every SparkContext, so each
    * is keyed with the context's generation. */
  private class Listener(gen: Long) extends SparkListener {
    private def key(id: Long): Long = (gen << 40) | id
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        plans.put(key(s.executionId), s.physicalPlanDescription)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(x => key(x.toLong)).getOrElse(-1L)
      jobs.put(key(e.jobId), new Job(key(e.jobId), e.time, exec, e.stageIds.map(x => key(x))))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(key(e.jobId))
      if (j != null) j.endMs = e.time
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = stages.computeIfAbsent(key(e.stageId), _ => new StageAgg)
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.recordsRead += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
          a.writeBytes += m.outputMetrics.bytesWritten
          a.taskMs += e.taskInfo.duration
        }
      }
    }
  }

  // ---------------------------------------------------------------- summary

  def allSpans: Seq[Span] = spans.toSeq

  private def innermost(ms: Long): Span = {
    var best: Span = null
    spans.foreach { s =>
      if (s.t1Ms >= 0 && s.t0Ms <= ms && ms <= s.t1Ms &&
        (best == null || s.t0Ms >= best.t0Ms)) best = s
    }
    best
  }

  /** Jobs with their span and plan-derived phase. `classify` maps (span
    * name, physical plan text) to a phase name. */
  def attributedJobs(classify: (String, String) => String): Seq[Job] = {
    drain()
    val js = jobs.values.asScala.toSeq.sortBy(_.id)
    js.foreach { j =>
      j.span = innermost(j.startMs)
      val plan = if (j.execId >= 0) Option(plans.get(j.execId)).getOrElse("") else ""
      j.phase = if (j.span == null) "" else classify(j.span.name, plan)
    }
    js
  }

  def stageAgg(j: Job): Seq[StageAgg] =
    j.stageIds.flatMap(id => Option(stages.get(id)))
}

object Trace {

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 >= x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The write target in a formatted physical plan ("Execute
    * InsertIntoHadoopFsRelationCommand" with "Arguments: file:<path>, ..."). */
  private val WriteTarget = """InsertIntoHadoopFsRelationCommand[\s\S]*?Arguments: file:([^,\s]+)""".r

  /** Last path component of the job's write target, if the plan writes. */
  def writeTarget(plan: String): Option[String] =
    WriteTarget.findFirstMatchIn(plan).map(_.group(1).stripSuffix("/").split('/').last)

  /** Phase of a job inside an index build or a segment append, named after
    * the table the job writes (or, for collect-style jobs, reads). */
  def buildPhase(plan: String): String = writeTarget(plan) match {
    case Some("_scratch_tok") => "tokenize"
    case Some("postings") => "postings"
    case Some("docstats") => "docstats"
    case Some("corpus" | "manifest" | "params") => "manifest"
    case Some(_) => "other"
    case None =>
      if (plan.contains("_scratch_tok")) "corpus_agg"
      else if (plan.contains("/postings")) "manifest"
      else if (plan.contains("/corpus") || plan.contains("/manifest")) "manifest"
      else if (plan.isEmpty) "other"
      else "corpus_agg"
  }
}
