package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counters fed by the listeners below. Every field only
  * grows, so the work inside an interval is the difference of two
  * snapshots taken at its boundaries. Besides the run-wide total, work
  * is also counted under the tag of the thread that caused it (a Spark
  * local property, which jobs and their tasks inherit), so concurrent
  * callers each get their own counts. */
object Counters {
  val names: Seq[String] = Seq("jobs", "stages", "tasks", "actions",
    "task_ms", "exec_cpu_ns", "fetch_wait_ms", "shuffle_bytes", "scan_bytes",
    "spill_bytes", "plan_ms", "exchanges", "sorts", "nl_joins", "lambdas",
    "fs_calls",
    // wall time with no job running: set per span from the job intervals
    "gap_ms")
  val TagKey = "perfbench.tag"
  val All = "*"
  @volatile var sc: SparkContext = _
  private val cells = new java.util.concurrent.ConcurrentHashMap[String, Map[String, AtomicLong]]()
  private def of(tag: String): Map[String, AtomicLong] =
    cells.computeIfAbsent(tag, _ => names.map(_ -> new AtomicLong(0L)).toMap)

  /** The tag of the calling thread: its task's, else its own. */
  def currentTag: String =
    Option(org.apache.spark.TaskContext.get()).flatMap(t => Option(t.getLocalProperty(TagKey)))
      .orElse(Option(sc).flatMap(c => Option(c.getLocalProperty(TagKey))))
      .getOrElse(All)

  def add(name: String, n: Long, tag: String = All): Unit = {
    of(All)(name).addAndGet(n)
    if (tag != All) of(tag)(name).addAndGet(n)
  }
  def snapshot(tag: String = All): Map[String, Long] = of(tag).map { case (k, v) => k -> v.get }
  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    names.map(n => n -> (b(n) - a(n))).toMap

  /** Job intervals in wall-clock ms, for the driver-gap measure: the part
    * of an interval during which no job was running. */
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()
  def jobStarted(id: Int, t: Long): Unit = jobStart.put(id, t)
  def jobEnded(id: Int, t: Long): Unit =
    Option(jobStart.remove(id)).foreach(s => jobSpans.add((s, t)))

  /** Milliseconds of `[lo, hi]` covered by no job. */
  def idleMs(lo: Long, hi: Long): Long = {
    val iv = jobSpans.asScala.toSeq
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (hi - lo) - covered
  }
}

/** Scheduler counts: jobs, stages, tasks and the task metrics. */
class CountingListener extends SparkListener {
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Counters.TagKey)))
      .getOrElse(Counters.All)
    e.stageIds.foreach(stageTag.put(_, tag))
    Counters.add("jobs", 1, tag)
    Counters.jobStarted(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Counters.jobEnded(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Counters.add("stages", 1, stageTag.getOrDefault(e.stageInfo.stageId, Counters.All))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.getOrDefault(e.stageId, Counters.All)
    Counters.add("tasks", 1, tag)
    val m = e.taskMetrics
    if (m != null) {
      Counters.add("task_ms", m.executorRunTime, tag)
      Counters.add("exec_cpu_ns", m.executorCpuTime, tag)
      Counters.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime, tag)
      Counters.add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten, tag)
      Counters.add("scan_bytes", m.inputMetrics.bytesRead, tag)
      Counters.add("spill_bytes", m.diskBytesSpilled, tag)
    }
  }
}

/** Per-action driver time (the QueryExecution tracker's analysis,
  * optimization and planning phases) and executed-plan shape counts. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    Counters.add("actions", 1)
    val phases = qe.tracker.phases
    Counters.add("plan_ms", Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum)
    try walk(qe.executedPlan)
    catch { case _: Exception => () } // a plan that failed to build has no shape
  }

  private def walk(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => walk(s.plan)
    case node =>
      node match {
        case _: ShuffleExchangeLike => Counters.add("exchanges", 1)
        case _: SortExec => Counters.add("sorts", 1)
        case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec =>
          Counters.add("nl_joins", 1)
        case _ =>
      }
      // higher-order functions have no generated code: each one is a
      // lambda interpreted per element
      Counters.add("lambdas", node.expressions.map(_.collect {
        case h: HigherOrderFunction => h }.size).sum.toLong)
      node.subqueries.foreach(walk)
      node.children.foreach(walk)
  }
}

/** `file:` filesystem that counts the metadata and data calls made
  * through it. Installed for traced runs only. */
class CountingLocalFileSystem extends LocalFileSystem {
  private def hit(): Unit = Counters.add("fs_calls", 1, Counters.currentTag)
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { hit(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    hit(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def getFileStatus(f: Path): FileStatus = { hit(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { hit(); super.listStatus(f) }
  override def delete(f: Path, recursive: Boolean): Boolean = { hit(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { hit(); super.mkdirs(f, permission) }
  override def rename(src: Path, dst: Path): Boolean = { hit(); super.rename(src, dst) }
}

/** One span: a timed call into a layer, with the counter deltas taken at
  * its boundaries. `parent` is 0 for a root span. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, runId: String, counts: Map[String, Long]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. With tracing off, [[span]] only runs its
  * body; with tracing on it drains the listener bus at each boundary so
  * the counts land in the span that caused them. */
class Tracer(val on: Boolean, val runId: String, sc: SparkContext) {
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def settle(): Unit = if (on) org.apache.spark.perfbench.Bus.drain(sc)

  def span[T](name: String, counted: Boolean = true)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      if (counted) settle()
      val tag = Counters.currentTag
      val c0 = Counters.snapshot(tag)
      stack.set(id :: stack.get)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        val w1 = System.currentTimeMillis()
        if (counted) settle()
        val d =
          if (counted) Counters.delta(c0, Counters.snapshot(tag)) + ("gap_ms" -> Counters.idleMs(w0, w1))
          else Map.empty[String, Long]
        spans.add(Span(id, parent, name, t0, t1, runId, d))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Spans as JSON lines: name, start, end, parent span, run id, counts. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      val c = s.counts.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"run":"${s.runId}","counts":{$c}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  def sumCounts(ss: Seq[Span]): Map[String, Long] =
    Counters.names.map(n => n -> ss.map(_.counts.getOrElse(n, 0L)).sum).toMap
}
