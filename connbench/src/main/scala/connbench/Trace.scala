package connbench

import java.net.URI

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval, System.nanoTime based. */
final case class Span(name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Everything the traced run records for one op. */
final class OpTrace(val id: String) {
  var root: Span = _
  val spans = ArrayBuffer.empty[Span]
  val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Planning trackers of the op's queries, when the op can name them. */
  val trackers = ArrayBuffer.empty[QueryPlanningTracker]
}

/** Span recording from the benchmark's own code, around calls into the
  * program's layers. Without an op trace on the thread every call here
  * just runs its body. */
object Trace {
  /** Spark local property carrying the op id to jobs and tasks. */
  val OpKey = "connbench.op"

  private val current = new ThreadLocal[OpTrace]

  def within[T](t: OpTrace)(body: => T): T = {
    current.set(t)
    try body finally current.remove()
  }

  def span[T](name: String)(body: => T): T = current.get match {
    case null => body
    case t =>
      val s = System.nanoTime()
      try body finally t.synchronized(t.spans += Span(name, s, System.nanoTime()))
  }

  def count(name: String, v: Double): Unit = current.get match {
    case null =>
    case t => t.synchronized(t.counts(name) += v)
  }

  /** Attach a query's planning tracker to the current op (for ops whose
    * queries run concurrently with other ops'). */
  def plan(qe: QueryExecution): Unit = current.get match {
    case null =>
    case t => t.synchronized(t.trackers += qe.tracker)
  }

  /** epoch ms → nanoTime clock, for Spark's millisecond timestamps. */
  private lazy val epochOffsetNs: Long =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def msToNano(ms: Long): Long = ms * 1000000L - epochOffsetNs

  val PlanPhases: Seq[String] = Seq(QueryPlanningTracker.ANALYSIS,
    QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)

  def planSpans(t: QueryPlanningTracker): Seq[Span] =
    PlanPhases.flatMap(p => t.phases.get(p).map(s =>
      Span(s"plan.$p", msToNano(s.startTimeMs), msToNano(s.endTimeMs))))
}

/** A span nested under a parent, clipped to it. */
final class Node(val name: String, val start: Long, val end: Long) {
  val kids = ArrayBuffer.empty[Node]
  def dur: Long = end - start
  def self: Long = dur - kids.map(_.dur).sum
  def all: Seq[Node] = this +: kids.toSeq.flatMap(_.all)
}

object SpanTree {
  /** Nest `spans` under `root` by start time: a span starting inside the
    * previous sibling nests there, and every span is clipped to its
    * parent. Siblings never overlap and children lie inside parents, so
    * the self times of all nodes add up to the root's duration. */
  def build(root: Span, spans: Seq[Span]): Node = {
    val r = new Node(root.name, root.start, root.end)
    def insert(parent: Node, name: String, s0: Long, e0: Long): Unit = {
      val s = math.max(s0, parent.start)
      val e = math.min(e0, parent.end)
      if (e > s) parent.kids.lastOption match {
        case Some(k) if s < k.end => insert(k, name, s, e)
        case _ => parent.kids += new Node(name, s, e)
      }
    }
    spans.sortBy(s => (s.start, -s.end)).foreach(s => insert(r, s.name, s.start, s.end))
    r
  }

  /** Layer a span name belongs to, for per-layer self time. */
  def layer(name: String): String = name match {
    case "op" => "op"
    case "connector.open" => "connector"
    case n if n.startsWith("plan.") => "plan"
    case "exec" => "exec"
    case n if n.startsWith("op.") => "operators"
    case "cache.release" => "cache"
    case n => n
  }
  val Layers: Seq[String] = Seq("op", "connector", "plan", "exec", "operators", "cache")
}

/** Per-op Spark execution totals, from task and job events. */
final class OpExec {
  val stages = mutable.Set.empty[Int]
  var tasks = 0L
  var runMs, cpuNs, gcMs, schedWaitMs = 0L
  var shuffleRead, shuffleWrite, spill, input = 0L
  val taskMs = mutable.Map.empty[Int, ArrayBuffer[Long]]
  val jobs = ArrayBuffer.empty[Span]

  /** The worst stage's max/median task run time. */
  def skew: Double = taskMs.values.filter(_.size > 1).map { ts =>
    val med = Stats.median(ts.map(_.toDouble).toSeq)
    ts.max / math.max(med, 1.0)
  }.maxOption.getOrElse(1.0)
}

/** SparkListener attributing jobs, stages and tasks to ops by the
  * [[Trace.OpKey]] local property. */
final class ExecListener extends SparkListener {
  private val stageOp = mutable.Map.empty[Int, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val jobStarts = mutable.Map.empty[Int, (String, Long)]
  private val byOp = mutable.Map.empty[String, OpExec]
  private var started, ended = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpKey)))
      .foreach { op =>
        started += 1
        jobStarts(e.jobId) = (op, e.time)
        e.stageIds.foreach(stageOp(_) = op)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (op, t) =>
      ended += 1
      byOp.getOrElseUpdate(op, new OpExec).jobs +=
        Span("exec", Trace.msToNano(t), Trace.msToNano(e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val x = byOp.getOrElseUpdate(op, new OpExec)
      x.stages += e.stageId
      x.tasks += 1
      x.runMs += m.executorRunTime
      x.cpuNs += m.executorCpuTime
      x.gcMs += m.jvmGCTime
      x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      x.input += m.inputMetrics.bytesRead
      x.schedWaitMs += math.max(0L,
        e.taskInfo.launchTime - stageSubmitted.getOrElse(e.stageId, e.taskInfo.launchTime))
      x.taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
    }
  }

  def of(op: String): OpExec = synchronized(byOp.getOrElse(op, new OpExec))

  /** Block until every job an op started has ended (events arrive on the
    * listener bus after the action returns). */
  def awaitQuiet(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(started != ended) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }
}

/** Installs the traced run's observers on a session: the exec listener,
  * a query-execution listener for planning trackers, and the counting
  * FileSystem in Hadoop's `graftshare` FileSystem cache. */
final class Tracer(spark: SparkSession) {
  val exec = new ExecListener
  private val trackers = ArrayBuffer.empty[QueryPlanningTracker]
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      trackers.synchronized(trackers += qe.tracker)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      trackers.synchronized(trackers += qe.tracker)
  }
  private val fsUri = new URI("graftshare:///")

  def install(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(qeListener)
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    // evict the cached instance so the next lookup creates (and caches) ours
    FileSystem.get(fsUri, conf).close()
    conf.set("fs.graftshare.impl", classOf[CountingFileSystem].getName)
    conf.setBoolean("fs.graftshare.impl.disable.cache", false)
    val fs = FileSystem.get(fsUri, conf)
    require(fs.isInstanceOf[CountingFileSystem],
      s"graftshare FileSystem cache holds ${fs.getClass.getName}")
    FsCounters.clear()
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(qeListener)
    FileSystem.get(fsUri, spark.sparkContext.hadoopConfiguration).close()
  }

  /** Planning spans of `t`: its own trackers if it named any, else every
    * tracker whose analysis began inside the op (single-client ops). */
  def planSpans(t: OpTrace): Seq[Span] = {
    val own = t.synchronized(t.trackers.toSeq)
    val ts = if (own.nonEmpty) own else trackers.synchronized(trackers.toSeq)
      .filter(_.phases.get(QueryPlanningTracker.ANALYSIS).exists { p =>
        val s = Trace.msToNano(p.startTimeMs)
        s >= t.root.start - 1000000L && s <= t.root.end
      })
    ts.flatMap(Trace.planSpans)
  }

  /** The op's span tree: harness spans, planning phases and jobs. */
  def tree(t: OpTrace): Node =
    SpanTree.build(t.root, t.spans.toSeq ++ planSpans(t) ++ exec.of(t.id).jobs)
}
