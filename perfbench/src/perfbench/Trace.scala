package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call from the benchmark into one layer. */
final case class Span(id: Long, parent: Long, run: Int, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's own calls into each module.
  *
  * Off by default: `span` then only runs its body. When on, every span
  * records (id, parent, run, layer, name, start, end) in memory and
  * sets the thread's Spark job group to its id, so the listeners can
  * charge jobs, stages, tasks and SQL executions to the span that
  * caused them. Parents are per thread; the streaming thread's spans
  * nest under whatever span `within` hands it. */
object Trace {
  @volatile var enabled = false
  @volatile var run = 0
  private val nextId = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def reset(): Unit = { spans.clear(); run = 0 }
  def all: Seq[Span] = spans.asScala.toSeq
  def current: Long = stack.get.headOption.getOrElse(0L)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val parent = current
      val sc = SparkSession.active.sparkContext
      stack.set(id :: stack.get)
      sc.setJobGroup(id.toString, s"$layer.$name", interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, run, layer, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
        if (parent == 0L) sc.clearJobGroup()
        else sc.setJobGroup(parent.toString, "", interruptOnCancel = false)
      }
    }

  /** Run `body` on this thread as if it were nested under span
    * `parent` (used for work that a span hands to another thread). */
  def within[T](parent: Long)(body: => T): T =
    if (!enabled || parent == 0L) body
    else {
      val saved = stack.get
      stack.set(parent :: Nil)
      try body finally stack.set(saved)
    }

  /** Self time per layer: each span's duration less the part of it
    * its child spans cover. */
  def selfSeconds(ss: Seq[Span]): Map[String, Double] = {
    val childNs = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    ss.foreach(s => if (s.parent != 0L) childNs(s.parent) += s.endNs - s.startNs)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9).sum
    }
  }

  def toJson(ss: Seq[Span]): String =
    ss.sortBy(_.startNs).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "run" -> s.run,
        "layer" -> s.layer, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)
    }.mkString("[\n", ",\n", "\n]\n")
}

/** Counters charged to a span (by job group) or to the whole run. */
final class Counts {
  val jobs, stages, tasks, taskFailures = new LongAdder
  val runNs, cpuNs, gcMs, schedDelayMs = new LongAdder
  val shuffleWrite, shuffleRead, spill, bytesRead, bytesWritten = new LongAdder
  val actions = new LongAdder
  val analysisMs, optimizationMs, planningMs, graftRulesNs = new LongAdder
  val sortNs, aggNs, joinBuildNs = new LongAdder
}

/** SparkListener + QueryExecutionListener + StreamingQueryListener.
  * Task, stage and job counts go to the job group's span; SQL plan
  * metrics go to the span of the SQL execution's job group. They count
  * only inside `counting`; attach them before any stream starts, as a
  * stream's micro-batches run in a copy of the session taken then. */
final class Listeners extends SparkListener with QueryExecutionListener {
  @volatile private var on = false
  val perSpan = new ConcurrentHashMap[Long, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    StreamingQueryListener.QueryProgressEvent]()

  def counts(span: Long): Counts = perSpan.computeIfAbsent(span, _ => new Counts)
  def reset(): Unit = { perSpan.clear(); stageSpan.clear(); execSpan.clear(); progress.clear() }

  private def groupOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val span = groupOf(e.properties)
    counts(span).jobs.increment()
    e.stageIds.foreach(stageSpan.put(_, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on) counts(stageSpan.getOrDefault(e.stageInfo.stageId, 0L)).stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
    val c = counts(stageSpan.getOrDefault(e.stageId, 0L))
    c.tasks.increment()
    if (!e.taskInfo.successful) c.taskFailures.increment()
    val m = e.taskMetrics
    if (m != null) {
      c.runNs.add(m.executorRunTime * 1000000L)
      c.cpuNs.add(m.executorCpuTime)
      c.gcMs.add(m.jvmGCTime)
      c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      c.spill.add(m.diskBytesSpilled)
      c.bytesRead.add(m.inputMetrics.bytesRead)
      c.bytesWritten.add(m.outputMetrics.bytesWritten)
      c.schedDelayMs.add(math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if on =>
      s.jobGroupId.flatMap(_.toLongOption).foreach(execSpan.put(s.executionId, _))
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (on) {
    val c = counts(execSpan.getOrDefault(qe.id, 0L))
    c.actions.increment()
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    c.analysisMs.add(ms("analysis"))
    c.optimizationMs.add(ms("optimization"))
    c.planningMs.add(ms("planning"))
    c.graftRulesNs.add(qe.tracker.rules.collect {
      case (rule, s) if rule.startsWith("graft.") => s.totalTimeNs
    }.sum)
    PlanMetrics.add(qe.executedPlan, c)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (on) counts(execSpan.getOrDefault(qe.id, 0L)).actions.increment()

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) progress.add(e): Unit
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  /** Count the events `body` causes, from zero. */
  def counting[T](spark: SparkSession)(body: => T): T = {
    Bridge.drain(spark)
    reset()
    on = true
    try body
    finally {
      Bridge.drain(spark)
      on = false
    }
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streaming)
  }
}

/** Sums SQL metrics of an executed plan by node kind. */
object PlanMetrics {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children ++ other.subqueries
  }

  def add(root: SparkPlan, c: Counts): Unit = {
    val seen = mutable.Set.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      val m = p.metrics
      def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
      val node = p.nodeName
      if (node.contains("Sort") && !node.contains("Join")) c.sortNs.add(v("sortTime") * 1000000L)
      if (node.contains("Aggregate")) c.aggNs.add(v("aggTime") * 1000000L)
      if (node.contains("HashJoin") || node.contains("BroadcastExchange"))
        c.joinBuildNs.add(v("buildTime") * 1000000L)
      children(p).foreach(walk)
    }
    walk(root)
  }
}

/** Process and host counters for the noise record. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime

  /** Host-wide steal time in seconds (the 8th value of /proc/stat's
    * `cpu` line, in USER_HZ ticks); 0 where the file is unreadable. */
  def stealS: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toDouble / 100.0 else 0.0
      } finally src.close()
    } catch { case _: Throwable => 0.0 }

  /** Peak resident set of this process, MiB (VmHWM). */
  def peakRssMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Throwable => 0.0 }
}
