package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the enclosing span (0 = root of an op),
  * `op` the id shared by every span of one benchmark operation. Times are
  * `System.nanoTime` (CLOCK_MONOTONIC on Linux), the same clock as the
  * Python side's `time.monotonic_ns`, so spans of both processes line up. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, startNs: Long, endNs: Long)

/** In-memory span recorder around the benchmark's calls into graft's
  * modules. Off unless the run is traced: `span` then only runs its body.
  * Spark jobs submitted while a span is open on the calling thread become
  * its children (the span id rides the thread's Spark local properties,
  * which streaming threads inherit). */
object Trace {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  @volatile private var sc: SparkContext = _

  val ParentProp = "graftbench.parent"
  val OpProp = "graftbench.op"

  def install(context: SparkContext): Unit = sc = context

  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (enabled) spans.add(s)

  /** A new operation: a root span with a fresh op id. */
  def op[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body else open(layer, name, newOp = true)(body)

  /** A child span of whatever span is open on this thread. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body else open(layer, name, newOp = false)(body)

  private def open[T](layer: String, name: String, newOp: Boolean)(
      body: => T): T = {
    val id = nextId()
    val outer = stack.get()
    val (parent, op) = outer.headOption match {
      case Some((p, o)) if !newOp => (p, o)
      case _ => (0L, id)
    }
    val ctx = sc
    val prevParent = if (ctx != null) ctx.getLocalProperty(ParentProp) else null
    val prevOp = if (ctx != null) ctx.getLocalProperty(OpProp) else null
    if (ctx != null) {
      ctx.setLocalProperty(ParentProp, id.toString)
      ctx.setLocalProperty(OpProp, op.toString)
    }
    stack.set((id, op) :: outer)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(outer)
      if (ctx != null) {
        ctx.setLocalProperty(ParentProp, prevParent)
        ctx.setLocalProperty(OpProp, prevOp)
      }
      spans.add(Span(id, parent, op, layer, name, t0, t1))
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def toJson(s: Span): Map[String, Any] = Map(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
    "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
}

private final case class JobStart(id: Long, parent: Long, op: Long, startNs: Long)

/** Spark engine counters, registered by the benchmark on its own session:
  * jobs, tasks, executor run time, shuffle bytes written and bytes spilled;
  * per query execution its planning and execution time and the KFS
  * segments its scans opened. Jobs become `spark` spans under the
  * benchmark span that submitted them. */
final class EngineListener extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobStart]()

  val jobsDone = new AtomicLong(0)
  val tasksDone = new AtomicLong(0)
  val executorRunMs = new AtomicLong(0)
  val shuffleBytes = new AtomicLong(0)
  val spillBytes = new AtomicLong(0)
  val queries = new AtomicLong(0)
  val planNs = new AtomicLong(0)
  val execNs = new AtomicLong(0)
  val kfsScans = new AtomicLong(0)
  val kfsOpened = new AtomicLong(0)
  val kfsListed = new AtomicLong(0)

  /** Segments per KFS root, so a scan's opened count has a base. */
  @volatile var segmentsByRoot: Map[String, Long] = Map.empty

  /** An event's wall-clock ms on the span clock (nanoTime). */
  private def nanos(eventMs: Long): Long =
    System.nanoTime() - (System.currentTimeMillis() - eventMs) * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String): Long = Option(e.properties)
      .flatMap(p => Option(p.getProperty(k))).map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, JobStart(Trace.nextId(), prop(Trace.ParentProp),
      prop(Trace.OpProp), nanos(e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasksDone.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      executorRunMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.remove(e.jobId)
    if (j != null) {
      jobsDone.incrementAndGet()
      Trace.record(Span(j.id, j.parent, j.op, "spark", "job", j.startNs, nanos(e.time)))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    queries.incrementAndGet()
    execNs.addAndGet(durationNs)
    val phases = qe.tracker.phases
    planNs.addAndGet(phases.values.map(p => p.durationMs).sum * 1000000L)
    val scans = try collect(qe.executedPlan) {
      case s: DataSourceV2ScanExecBase
          if s.scan.getClass.getName == "graft.kfs.KfsScan" => s
    } catch { case _: Exception => Nil }
    scans.foreach { s =>
      kfsScans.incrementAndGet()
      val opened = s.partitions.flatten.count(_.isInstanceOf[graft.kfs.KfsInputPartition])
      kfsOpened.addAndGet(opened)
      rootOf(s.scan).flatMap(segmentsByRoot.get).foreach(n => kfsListed.addAndGet(n))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  private def rootOf(scan: AnyRef): Option[String] =
    try {
      val f = scan.getClass.getDeclaredField("root")
      f.setAccessible(true)
      Option(f.get(scan)).map(_.toString)
    } catch { case _: Exception => None }
}
