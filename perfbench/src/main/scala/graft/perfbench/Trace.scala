package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions.{col, count, expr, lit, struct, xxhash64}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Engine counters of one span: the jobs started under it and their tasks. */
final class Counters {
  var jobs = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One layer-boundary span. Times are driver wall clock; `extra` holds the
  * counts the harness measures at the boundary (rows, files, bytes, ...).
  */
final class Span(val id: Int, val name: String, val parent: Int, val runId: Long) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  var endNs = 0L
  var endMs = 0L
  val counters = new Counters
  val extra = mutable.LinkedHashMap.empty[String, Double]
  def seconds: Double = (endNs - startNs) / 1e9
  def add(key: String, v: Double): Unit = extra(key) = extra.getOrElse(key, 0.0) + v

  /** Span wall minus the union of its jobs' intervals, clipped to the span. */
  def driverGapSeconds: Double = {
    val clipped = counters.jobIntervals
      .map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += curE - curS
    math.max(0.0, seconds - covered / 1e3)
  }
}

/** Attributes every job, and its tasks, to the span whose id the driver
  * thread carried as a local property when the job started.
  */
final class SpanListener(byId: Int => Option[Span]) extends SparkListener {
  private val jobSpan = mutable.HashMap.empty[Int, (Span, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, Span]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).flatMap(s => byId(s.toInt)).foreach {
      span =>
        span.counters.jobs += 1
        jobSpan(e.jobId) = (span, e.time)
        e.stageIds.foreach(stageSpan(_) = span)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, start) => span.counters.jobIntervals += ((start, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = span.counters
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.bytesRead += m.inputMetrics.bytesRead
    }
  }
}

/** Keeps the query execution of each file write. `df.write` plans the
  * pipeline afresh inside its own command, so the write's planning phases,
  * optimized plan and compiled stages are read from this execution, not
  * from the DataFrame's.
  */
final class WritePlans extends QueryExecutionListener {
  private val writes = mutable.ArrayBuffer.empty[QueryExecution]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val isWrite = Tracer.nodes(qe.executedPlan).exists {
        case w: DataWritingCommandExec => w.cmd.isInstanceOf[InsertIntoHadoopFsRelationCommand]
        case _ => false
      }
      if (isWrite) writes += qe
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  def drain(): Seq[QueryExecution] = synchronized { val out = writes.toList; writes.clear(); out }
}

/** Spans around the calls into each module, in memory until the run ends.
  * One JVM is one run, so the run id is the process id.
  * Disabled, `span` only runs its body: an untraced iteration pays nothing.
  * The listeners are only registered when `available`.
  */
final class Tracer(spark: SparkSession, available: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val runId = ProcessHandle.current().pid()
  private val listener = new SpanListener(id => spans.lift(id))
  val writes = new WritePlans
  if (available) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(writes)
  }
  private var on = false
  def enabled: Boolean = on

  def enabledFor[T](traced: Boolean)(body: => T): T = {
    require(!traced || available, "tracing was not set up for this run")
    on = traced
    try body finally on = false
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), runId)
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

  /** The innermost open span (for boundary counts). */
  def current: Option[Span] = stack.headOption

  /** Work only a traced iteration does (forced folds, file listings, plan
    * walks, bus drains), timed: it is the tracing overhead, the part of a
    * traced iteration's wall time an untraced one does not run.
    */
  private var overheadNs = 0L
  def overheadSeconds: Double = overheadNs / 1e9
  def overhead[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overheadNs += System.nanoTime() - t0
  }

  /** Forces a lazy result at a span boundary, only when tracing. */
  def force(df: DataFrame): Unit =
    if (enabled) overhead(current.foreach(_.add("rows", Tracer.fold(df)._1.toDouble)))

  def drain(): Unit = if (available) org.apache.spark.ListenerBusDrain(spark.sparkContext)
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** `Bench`'s hash fold: every column of every row reduced to one xxhash64
    * and XOR-folded, so Catalyst cannot prune the work away. Returns
    * (rows, fold).
    */
  def fold(df: DataFrame): (Long, Long) = {
    val r = df
      .select(xxhash64(struct(df.columns.map(c => col(s"`$c`")): _*)).as("__h"))
      .agg(count(lit(1)), expr("coalesce(bit_xor(__h), 0L)"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Every physical node, looking through adaptive plans and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }
}
