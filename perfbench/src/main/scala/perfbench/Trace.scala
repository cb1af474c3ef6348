package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a public call of the program. `span` names the
  * call (`jobs.ingest`, `api.read`, ...); `parent` is the enclosing span id,
  * 0 at the top. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** Spans kept in memory and written out when the run ends. Spark jobs
  * started by the calling thread carry the innermost open span's name as a
  * local property, so the listener can attribute them to the call. */
final class Spans {
  val Prop = "perfbench.span"
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }

  def apply[A](sc: SparkContext, name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val stack = open.get()
    val parent = stack.headOption.map(_._1).getOrElse(0L)
    open.set((id, name) :: stack)
    sc.setLocalProperty(Prop, name)
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, parent, name, t0, System.nanoTime()))
      open.set(stack)
      sc.setLocalProperty(Prop, stack.headOption.map(_._2).orNull)
    }
  }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)
}

/** Per-layer counters, filled from Spark's own event stream. The program is
  * not touched: a job or SQL action is classified by its call site (see
  * [[LayerListener.module]]), and a job is also attributed to the harness
  * span that was open on the submitting thread. Task metrics are summed per
  * job. Times are epoch milliseconds, as Spark stamps events. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  final class Job(val id: Int, val module: String, val span: String, val startMs: Long) {
    var endMs: Long = -1L
    val sums: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }
  final class Exec(val module: String, val startMs: Long) { var endMs: Long = -1L }
  /** Planning-phase times and files written by one finished action. */
  final case class Action(atMs: Long, phasesMs: Map[String, Long], files: Long)

  private val lock = new Object
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.Map.empty[Int, Job]
  private val execs = mutable.Map.empty[Long, Exec]
  private val actions = mutable.ArrayBuffer.empty[Action]
  private val aqeUpdates = mutable.ArrayBuffer.empty[Long]
  private val stageJob = mutable.Map.empty[Int, Job]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private var peakTaskMemory = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val details = e.stageInfos.headOption.map(_.details).getOrElse("")
    val span = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
      .getOrElse("none")
    val job = new Job(e.jobId, LayerListener.module(details), span, e.time)
    jobs += job
    jobById(e.jobId) = job
    e.stageIds.foreach(s => stageJob(s) = job)
    job.sums("stages") += e.stageIds.size
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    stageJob.get(e.stageId).foreach { job =>
      val s = job.sums
      s("tasks") += 1
      stageSubmitted.get(e.stageId).foreach(t => s("task_wait_ms") += math.max(0L, e.taskInfo.launchTime - t))
      val m = e.taskMetrics
      if (m != null) {
        s("task_run_ms") += m.executorRunTime
        s("task_cpu_ms") += m.executorCpuTime / 1e6
        s("gc_ms") += m.jvmGCTime
        s("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        s("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        s("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        s("input_bytes") += m.inputMetrics.bytesRead
        s("input_records") += m.inputMetrics.recordsRead
        s("output_bytes") += m.outputMetrics.bytesWritten
        peakTaskMemory = math.max(peakTaskMemory, m.peakExecutionMemory)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = lock.synchronized {
    e match {
      // nested executions (subqueries, broadcasts) run inside their root's
      // interval, so only roots count as actions
      case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
        execs(s.executionId) = new Exec(LayerListener.module(s.details), s.time)
      case end: SparkListenerSQLExecutionEnd =>
        execs.get(end.executionId).foreach(_.endMs = end.time)
      case _: SparkListenerSQLAdaptiveExecutionUpdate => aqeUpdates += System.currentTimeMillis()
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    val files = qe.executedPlan.collect { case p => p.metrics.get("numFiles").map(_.value) }
      .flatten.sum
    lock.synchronized(actions += Action(System.currentTimeMillis(), phases, files))
  }

  /** Everything recorded so far; call after [[LayerListener.drain]]. */
  def jobsSeen: Seq[Job] = lock.synchronized(jobs.toList)
  def execsSeen: Seq[Exec] = lock.synchronized(execs.values.filter(_.endMs >= 0).toList)
  def actionsSeen: Seq[Action] = lock.synchronized(actions.toList)
  def aqeUpdatesSeen: Seq[Long] = lock.synchronized(aqeUpdates.toList)
  def peakTaskMemoryBytes: Long = lock.synchronized(peakTaskMemory)
}

object LayerListener {
  /** What a call site's work is, for the metrics that need it: training or
    * scoring when `Jobs.trainClassifier` or `Jobs.predict` is on the stack
    * (their work runs inside table writes), a table write when the
    * innermost program frame is in `TableStore`, otherwise "other". */
  def module(callSite: String): String = {
    val frames = callSite.split("\n").iterator.map(_.trim.stripPrefix("at ").trim)
      .filter(_.startsWith("graft.")).toSeq
    def under(prefix: String) = frames.exists(_.startsWith(prefix))
    if (under("graft.finance.Jobs.trainClassifier")) "ml.train"
    else if (under("graft.finance.Jobs.predict")) "ml.predict"
    else if (frames.headOption.exists(_.startsWith("graft.finance.TableStore"))) "store"
    else "other"
  }

  /** Total length of the union of [start, end) intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def install(spark: SparkSession): LayerListener = {
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  /** Wait until every queued listener event has been delivered
    * (`LiveListenerBus.waitUntilEmpty` is public in bytecode). */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val m = bus.getClass.getMethods.filter(_.getName == "waitUntilEmpty").minBy(_.getParameterCount)
    if (m.getParameterCount == 0) m.invoke(bus) else m.invoke(bus, java.lang.Long.valueOf(30000L))
  }
}
