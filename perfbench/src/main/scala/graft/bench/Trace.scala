package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.BenchAccess
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Everything here observes the program from outside: Spark's progress
  * events, scheduler events, and finished query plans. Nothing in the
  * program is instrumented. */
object Trace {
  /** Local property naming the benchmark phase a thread's jobs belong
    * to (`resume`, `dashboard`, `q:<name>`, ...). Jobs of a streaming
    * epoch are attributed by Spark's own `streaming.sql.batchId`. */
  val RoleKey = "perfbench.role"
  val BatchKey = "streaming.sql.batchId"
  val ExecKey = "spark.sql.execution.id"

  private val wall0 = System.currentTimeMillis().toDouble
  private val mono0 = System.nanoTime()
  /** Wall-clock milliseconds with monotonic sub-millisecond resolution,
    * comparable with Spark's event times and the generator's clock. */
  def nowMs: Double = wall0 + (System.nanoTime() - mono0) / 1e6
}

/** One timed interval at a layer boundary; spans of one epoch, poll or
  * query share a trace id, and `parent` is the span that caused it. */
final case class Span(id: Long, parent: Long, trace: String, layer: String,
    name: String, startMs: Double, endMs: Double)

final class Spans {
  private val ids = new AtomicLong(1L)
  val all = new ConcurrentLinkedQueue[Span]()
  def add(parent: Long, trace: String, layer: String, name: String,
      startMs: Double, endMs: Double): Long = {
    val id = ids.getAndIncrement()
    all.add(Span(id, parent, trace, layer, name, startMs, endMs))
    id
  }
}

/** One micro-batch as `StreamingQueryProgress` reports it. Offsets are
  * the `sse-http` source's frame counts. */
final case class Epoch(batchId: Long, startMs: Double,
    durations: Map[String, Long], rowsIn: Long, startOffset: Long,
    endOffset: Long, rowsTyped: Long, stateRows: Long, stateMemBytes: Long,
    droppedByWatermark: Long, droppedDuplicates: Long) {
  def endMs: Double = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Collects every progress event of the live query; `onEpoch` runs on
  * the listener thread after each one (the harness's sink bookkeeping). */
final class ProgressProbe(onEpoch: Epoch => Unit) extends StreamingQueryListener {
  val epochs = new ConcurrentLinkedQueue[Epoch]()
  val latestEnd = new AtomicLong(-1L)
  val failure = new AtomicReference[String](null)

  private def offset(json: String): Long =
    Option(json).flatMap(_.trim.toLongOption).getOrElse(0L)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(failure.set)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val src = p.sources.headOption
    val state = p.stateOperators.headOption
    val typed = Option(p.observedMetrics.get("graft_ingest"))
      .map(r => r.getAs[Long]("rows_typed")).getOrElse(0L)
    val ep = Epoch(p.batchId, startMs,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      src.map(s => offset(s.startOffset)).getOrElse(0L),
      src.map(s => offset(s.endOffset)).getOrElse(0L),
      typed,
      state.map(_.numRowsTotal).getOrElse(0L),
      state.map(_.memoryUsedBytes).getOrElse(0L),
      state.map(_.numRowsDroppedByWatermark).getOrElse(0L),
      state.flatMap(s => Option(s.customMetrics.get("numDroppedDuplicateRows")))
        .map(_.longValue).getOrElse(0L))
    onEpoch(ep)
    epochs.add(ep)
    latestEnd.accumulateAndGet(ep.endOffset, math.max)
  }
}

/** Scheduler-level counters: jobs with the phase they belong to, per-stage
  * task metrics, SQL executions, and the scans of the sink directory in
  * each finished physical plan: rows and files read from committed data,
  * and whether the scan fed an anti-join (the fold's dedup probe). A write
  * that reads nothing but committed sink data is a rewrite of the sink:
  * retention when it keeps fewer rows than it read, a maintenance
  * compaction when it keeps them all. */
final class JobProbe(sinkDir: String) extends SparkListener
    with AdaptiveSparkPlanHelper {
  final case class Job(id: Int, startMs: Double, stages: Seq[Int],
      batchId: Option[Long], role: String, execId: Option[Long]) {
    @volatile var endMs: Double = Double.NaN
  }
  final case class Stage(id: Int, tasks: Int, runMs: Long, shuffleWrite: Long,
      spill: Long, inputBytes: Long, scansSource: Boolean)
  final case class Exec(id: Long, startMs: Double, endMs: Double)
  final case class Scan(execId: Long, rows: Long, files: Long, antiJoin: Boolean)
  final case class Rewrite(execId: Long, rowsRead: Long, rowsWritten: Long)

  val jobs = TrieMap.empty[Int, Job]
  val stages = TrieMap.empty[Int, Stage]
  private val execStart = TrieMap.empty[Long, Double]
  val execs = new ConcurrentLinkedQueue[Exec]()
  val scans = new ConcurrentLinkedQueue[Scan]()
  val rewrites = new ConcurrentLinkedQueue[Rewrite]()
  private val root = new java.io.File(sinkDir).getAbsoluteFile.toURI.getPath
    .stripSuffix("/")

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val p = Option(js.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs.put(js.jobId, Job(js.jobId, js.time.toDouble, js.stageIds,
      prop(Trace.BatchKey).flatMap(_.toLongOption),
      prop(Trace.RoleKey).getOrElse("main"),
      prop(Trace.ExecKey).flatMap(_.toLongOption)))
  }
  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    jobs.get(je.jobId).foreach(_.endMs = je.time.toDouble)
  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val i = sc.stageInfo
    val m = i.taskMetrics
    stages.put(i.stageId, Stage(i.stageId, i.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      i.rddInfos.exists(_.name.contains("DataSourceRDD"))))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execStart.put(s.executionId, s.time.toDouble)
    case s: SparkListenerSQLExecutionEnd =>
      execStart.remove(s.executionId).foreach(t =>
        execs.add(Exec(s.executionId, t, s.time.toDouble)))
      BenchAccess.queryExecution(s).foreach(qe => sinkScans(s.executionId, qe))
    case _ => ()
  }

  private def onSink(s: FileSourceScanExec): Boolean =
    s.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(root))

  private def sinkScans(execId: Long, qe: QueryExecution): Unit = {
    val plan: SparkPlan = qe.executedPlan
    val anti = collectWithSubqueries(plan) {
      case j: BaseJoinExec if j.joinType == LeftAnti => j.right
    }.flatMap(r => collect(r) { case s: FileSourceScanExec if onSink(s) => s })
      .toSet
    def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
    val sink = collectWithSubqueries(plan) {
      case s: FileSourceScanExec if onSink(s) => s }
    sink.foreach(s => scans.add(Scan(execId, metric(s, "numOutputRows"),
      metric(s, "numFiles"), anti.contains(s))))
    val writes = collectWithSubqueries(plan) { case w: DataWritingCommandExec => w }
    val leaves = collectLeaves(plan)
    if (writes.nonEmpty && leaves.nonEmpty && leaves.forall {
        case s: FileSourceScanExec => onSink(s); case _ => false })
      rewrites.add(Rewrite(execId, sink.map(metric(_, "numOutputRows")).sum,
        writes.map(metric(_, "numOutputRows")).sum))
  }

  def jobsWhere(p: Job => Boolean): Seq[Job] =
    jobs.values.filter(p).toSeq.sortBy(_.id)
  def stagesOf(js: Seq[Job]): Seq[Stage] =
    js.flatMap(_.stages).distinct.flatMap(stages.get)
}
