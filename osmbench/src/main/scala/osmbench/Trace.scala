package osmbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed public call. `op` groups the spans of one verb call;
  * `counters` hold what the layer listeners charged to this span
  * itself (not to its children). */
final class Span(val id: Int, val name: String, val parent: Int,
                 val op: Int, val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  val counters: mutable.Map[String, Double] =
    mutable.Map[String, Double]().withDefaultValue(0.0)
  /** job id -> (submit, end) wall-clock ms of the jobs charged here */
  val jobs = mutable.Map[Int, (Long, Long)]()
  /** per stage: task durations in ms */
  val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  def durNs: Long = endNs - startNs
}

object Spans {
  /** Self time: a span's duration minus its direct children's. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.durNs).sum
    }
    spans.map(s => s.id -> (s.durNs - kids.getOrElse(s.id, 0L))).toMap
  }

  /** A span and everything below it. */
  def subtree(spans: Seq[Span], root: Span): Seq[Span] = {
    val byParent = spans.groupBy(_.parent)
    def go(s: Span): Seq[Span] =
      s +: byParent.getOrElse(s.id, Nil).flatMap(go)
    go(root)
  }

  /** Length of the union of [lo, hi) intervals, clipped to [from, to). */
  def unionMs(iv: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var covered = 0L
    var reach = from
    for ((lo0, hi0) <- iv.sortBy(_._1)) {
      val lo = math.max(lo0, reach)
      val hi = math.min(hi0, to)
      if (hi > lo) { covered += hi - lo; reach = hi }
    }
    covered
  }
}

/** Spark-side event capture for the traced run. Listener callbacks
  * arrive on Spark's listener bus; [[Tracer]] drains the bus at every
  * span edge and charges what arrived to the innermost open span. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  sealed trait Ev
  final case class JobEv(id: Int, group: Option[String], submitMs: Long,
                         stages: Seq[Int]) extends Ev
  final case class JobEndEv(id: Int, endMs: Long) extends Ev
  final case class TaskEv(stage: Int, durMs: Long, cpuNs: Long, runMs: Long,
                          shuffleBytes: Long, spillBytes: Long) extends Ev
  final case class ScanEv(files: Long, rows: Long, metadataMs: Long,
                          bytes: Long) extends Ev

  val events = new ConcurrentLinkedQueue[Ev]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    events.add(JobEv(e.jobId,
      Option(e.properties).flatMap(p =>
        Option(p.getProperty(org.apache.spark.OsmBenchBus.JobGroupKey))),
      e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    events.add(JobEndEv(e.jobId, e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null)
      events.add(TaskEv(e.stageId, e.taskInfo.duration, m.executorCpuTime,
        m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec        => leaves(q.plan)
    case m: InMemoryTableScanExec => leaves(m.relation.cachedPlan)
    case _ if p.children.isEmpty  => Seq(p) ++ p.subqueries.flatMap(leaves)
    case _ => p.children.flatMap(leaves) ++ p.subqueries.flatMap(leaves)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    def metric(p: SparkPlan, k: String) =
      p.metrics.get(k).map(_.value).getOrElse(0L)
    leaves(qe.executedPlan).filter(_.metrics.contains("numFiles")).foreach {
      s =>
        events.add(ScanEv(metric(s, "numFiles"), metric(s, "numOutputRows"),
          metric(s, "metadataTime"), metric(s, "filesSize")))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

/** Opens spans around public calls. With `enabled = false` a span is
  * just its body: the untraced run pays nothing. */
final class Tracer(spark: org.apache.spark.sql.SparkSession,
                   val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private val byId = mutable.Map[Int, Span]()
  private val stack = mutable.Stack[Span]()
  private var nextId = 1
  private var nextOp = 0
  private var op = 0
  private val listener = new LayerListener
  private val jobSpan = mutable.Map[Int, Span]()
  private val stageSpan = mutable.Map[Int, Span]()
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener)
  }

  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount
  /** files Spark's file index found by listing (cache hits excluded) */
  private def listed: Long =
    org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED
      .getCount
  private var lastGc = 0L
  private var lastCodegen = 0L
  private var lastCompiles = 0L
  private var lastListed = 0L

  /** Charge everything observed since the previous edge to the innermost
    * open span (jobs tagged with a span's job group go to that span). */
  private def edge(): Unit = {
    org.apache.spark.OsmBenchBus.drain(sc)
    val (g, c, n, f) = (gcMs, codegenNs, compiles, listed)
    stack.headOption.foreach { s =>
      s.counters("gc_ms") += g - lastGc
      s.counters("codegen_ms") += (c - lastCodegen) / 1e6
      s.counters("codegen_compiles") += n - lastCompiles
      s.counters("files_listed") += f - lastListed
    }
    lastGc = g; lastCodegen = c; lastCompiles = n; lastListed = f
    var ev = listener.events.poll()
    while (ev != null) {
      ev match {
        case listener.JobEv(id, group, submit, stages) =>
          val owner = group.filter(_.startsWith("osmbench-span-"))
            .flatMap(g => byId.get(g.stripPrefix("osmbench-span-").toInt))
            .orElse(stack.headOption)
          owner.foreach { s =>
            jobSpan(id) = s
            stages.foreach(stageSpan(_) = s)
            s.counters("jobs") += 1
            s.jobs(id) = (submit, submit)
          }
        case listener.JobEndEv(id, end) =>
          jobSpan.get(id).foreach(s => s.jobs(id) = (s.jobs(id)._1, end))
        case t: listener.TaskEv =>
          stageSpan.get(t.stage).orElse(stack.headOption).foreach { s =>
            s.counters("tasks") += 1
            s.counters("task_cpu_ms") += t.cpuNs / 1e6
            s.counters("task_run_ms") += t.runMs
            s.counters("shuffle_mb") += t.shuffleBytes / 1e6
            s.counters("spill_mb") += t.spillBytes / 1e6
            s.stageTasks.getOrElseUpdate(t.stage,
              mutable.ArrayBuffer[Long]()) += t.durMs
          }
        case scan: listener.ScanEv =>
          stack.headOption.foreach { s =>
            s.counters("files_read") += scan.files
            s.counters("rows_read") += scan.rows
            s.counters("metadata_ms") += scan.metadataMs
            s.counters("scan_mb") += scan.bytes / 1e6
          }
      }
      ev = listener.events.poll()
    }
  }

  /** The innermost open span. */
  def current: Option[Span] = stack.headOption

  /** Start a new verb call: later spans share its op id. */
  def newOp(): Int = { nextOp += 1; op = nextOp; op }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      edge()
      val parent = stack.headOption.map(_.id).getOrElse(0)
      val s = new Span(nextId, name, parent, op, System.nanoTime(),
        System.currentTimeMillis())
      nextId += 1
      spans += s
      byId(s.id) = s
      stack.push(s)
      sc.setJobGroup(s"osmbench-span-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        edge()
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"osmbench-span-${p.id}", p.name,
            interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def close(): Unit = if (enabled) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)
  }
}
