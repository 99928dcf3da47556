package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the run. `parent` is -1 for the run root. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** Raw Spark events, collected on the listener bus and turned into spans
  * and counters after the run (spans stay in memory until then). */
final case class JobEv(id: Int, op: String, start: Long, var end: Long = -1L,
    stages: Seq[Int] = Nil)
final case class StageEv(id: Int, attempt: Int, submit: Long, done: Long)
final case class TaskEv(stage: Int, op: String, launch: Long, finish: Long,
    runMs: Long, cpuNs: Long, failed: Boolean, shufWrite: Long, shufRead: Long,
    fetchWaitMs: Long, spill: Long, readBytes: Long, writeBytes: Long)
final case class PlanEv(phase: String, start: Long, end: Long)

/** Listener for both the scheduler (jobs, stages, tasks, cached blocks)
  * and the SQL layer (planning phases of every completed action).
  * Registered by the harness from outside the engine. */
final class Collector extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[JobEv]()
  val stages = new ConcurrentLinkedQueue[StageEv]()
  val tasks = new ConcurrentLinkedQueue[TaskEv]()
  val plans = new ConcurrentLinkedQueue[PlanEv]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobEv]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  // cached-block bytes currently held, and the high-water mark
  private val blocks = mutable.HashMap.empty[String, Long]
  @volatile var cachedBytes = 0L
  @volatile var cachedPeak = 0L

  def reset(): Unit = synchronized {
    Seq(jobs, stages, tasks, plans).foreach(_.clear())
    cachedPeak = cachedBytes
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpKey))).getOrElse("")
    val j = JobEv(e.jobId, op, e.time, stages = e.stageIds)
    e.stageIds.foreach(s => stageOp.put(s, op))
    jobById.put(e.jobId, j)
    jobs.add(j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach(_.end = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; d <- i.completionTime)
      stages.add(StageEv(i.stageId, i.attemptNumber(), s, d))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val ti = e.taskInfo
    val op = Option(stageOp.get(e.stageId)).getOrElse("")
    if (m == null)
      tasks.add(TaskEv(e.stageId, op, ti.launchTime, ti.finishTime, 0, 0, ti.failed,
        0, 0, 0, 0, 0, 0))
    else
      tasks.add(TaskEv(e.stageId, op, ti.launchTime, ti.finishTime,
        m.executorRunTime, m.executorCpuTime, ti.failed,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) synchronized {
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      cachedBytes += now - blocks.getOrElse(b.blockId.name, 0L)
      if (now == 0L) blocks.remove(b.blockId.name) else blocks(b.blockId.name) = now
      cachedPeak = math.max(cachedPeak, cachedBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      plans.add(PlanEv(phase, s.startTimeMs, s.endTimeMs))
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)
}

/** Span recorder for the harness's own calls. Times are epoch
  * milliseconds (fractional), the clock Spark's listener events use. */
final class Trace {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.HashMap.empty[Int, (Int, String, String, Double)]
  private var next = 0

  def begin(kind: String, name: String, parent: Int): Int = synchronized {
    val id = next; next += 1
    open(id) = (parent, kind, name, nowMs)
    id
  }
  def end(id: Int): Span = synchronized {
    val (p, k, n, s) = open.remove(id).get
    val sp = Span(id, p, k, n, s, nowMs)
    spans += sp
    sp
  }
  def add(parent: Int, kind: String, name: String, s: Double, e: Double): Span = synchronized {
    val id = next; next += 1
    val sp = Span(id, parent, kind, name, s, e)
    spans += sp
    sp
  }
  def all: Seq[Span] = synchronized(spans.toSeq)
}

object Trace {
  val OpKey = "perfbench.op"

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Attaches Spark jobs, their stages, and planning phases to the
    * operation spans they ran under. Jobs carry the operation id as a
    * local property; planning phases have no thread context and attach
    * by time to the build or action span that contains their start. */
  def attachSpark(t: Trace, c: Collector): Unit = {
    val ops = t.all.filter(_.kind == "op")
    val opById = ops.map(s => s.id.toString -> s).toMap
    val inner = t.all.filter(s => s.kind == "build" || s.kind == "action")
    def innerOf(op: Span, at: Double) =
      inner.find(s => s.parent == op.id && s.start <= at && at <= s.end)
    def clip(p: Span, s: Double, e: Double) = (math.max(p.start, s), math.min(p.end, math.max(s, e)))
    val stagesById = c.stages.asScala.toSeq.groupBy(_.id)
    c.jobs.asScala.toSeq.sortBy(_.id).foreach { j =>
      opById.get(j.op).foreach { op =>
        val host = innerOf(op, j.start.toDouble).getOrElse(op)
        val end = if (j.end < 0) host.end else j.end.toDouble
        val (s, e) = clip(host, j.start.toDouble, end)
        val jobSpan = t.add(host.id, "job", s"job${j.id}", s, e)
        j.stages.flatMap(stagesById.getOrElse(_, Nil)).foreach { st =>
          val (a, b) = clip(jobSpan, st.submit.toDouble, st.done.toDouble)
          if (b > a) t.add(jobSpan.id, "stage", s"stage${st.id}.${st.attempt}", a, b)
        }
      }
    }
    c.plans.asScala.toSeq.foreach { p =>
      ops.find(o => o.start <= p.start && p.start <= o.end).foreach { op =>
        val host = innerOf(op, p.start.toDouble).getOrElse(op)
        val (s, e) = clip(host, p.start.toDouble, p.end.toDouble)
        if (e > s) t.add(host.id, "plan", p.phase, s, e)
      }
    }
  }

  /** Self time of every span, in ms. A span's interval is split among
    * whatever of its children are running at each instant, in equal
    * shares; the part no child covers is its own. A child's share is
    * then split the same way among its own children, scaled to the
    * share, so the self times of a subtree add up exactly to the root's
    * duration even when sibling jobs run concurrently. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    val out = mutable.HashMap.empty[Int, Double]
    def go(s: Span, allotted: Double): Unit = {
      val cs = kids.getOrElse(s.id, Nil).filter(_.dur > 0)
      val scale = if (s.dur > 0) allotted / s.dur else 0.0
      val share = mutable.HashMap.empty[Int, Double].withDefaultValue(0.0)
      var own = 0.0
      val cuts = (Seq(s.start, s.end) ++ cs.flatMap(c => Seq(c.start, c.end)))
        .filter(x => x >= s.start && x <= s.end).distinct.sorted
      cuts.sliding(2).foreach {
        case Seq(a, b) if b > a =>
          val live = cs.filter(c => c.start <= a && c.end >= b)
          if (live.isEmpty) own += b - a
          else live.foreach(c => share(c.id) += (b - a) / live.size)
        case _ =>
      }
      out(s.id) = own * scale
      cs.foreach(c => go(c, share(c.id) * scale))
    }
    spans.filter(_.parent < 0).foreach(r => go(r, r.dur))
    out.toMap
  }

  /** Σ self time over the subtree of each span. */
  def subtreeSelf(spans: Seq[Span], self: Map[Int, Double]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    def sum(id: Int): Double = self.getOrElse(id, 0.0) + kids.getOrElse(id, Nil).map(k => sum(k.id)).sum
    spans.map(s => s.id -> sum(s.id)).toMap
  }

  def register(spark: SparkSession, c: Collector): Unit = {
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
  }
}
