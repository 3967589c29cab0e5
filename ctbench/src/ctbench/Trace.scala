package ctbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ct.{Ingestor, LogList, RawEntry}

/** Per-layer recorders for the traced run. Every number is taken from
  * outside the program: Spark's listener buses, a timing wrapper around
  * the real `CtHttpSource` registered through the source's `sourcekey`
  * hook, and a timed `table` thunk handed to `Server`. Samples stay in
  * memory until the run prints them. */
final class Trace(spark: SparkSession) {
  import Trace._

  /** Local property that tags the jobs of a direct-replay query. */
  val routeKey = "ctbench.route"

  // ---- Spark engine: jobs, stages, tasks, task time, shuffle, GC ----
  final class Counts { val jobs, stages, tasks, taskMs, shuffleBytes, gcMs = new AtomicLong }
  val counts = new ConcurrentHashMap[String, Counts]()
  private def countsOf(tag: String) = counts.computeIfAbsent(tag, _ => new Counts)
  private val stageTag = new ConcurrentHashMap[Integer, String]()
  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(routeKey))).getOrElse("")
      e.stageInfos.foreach(s => stageTag.put(s.stageId, tag))
      Seq("", tag).distinct.foreach(countsOf(_).jobs.incrementAndGet())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val tag = stageTag.getOrDefault(e.stageInfo.stageId, "")
      Seq("", tag).distinct.foreach(countsOf(_).stages.incrementAndGet())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val tag = stageTag.getOrDefault(e.stageId, "")
      val m = e.taskMetrics
      Seq("", tag).distinct.map(countsOf).foreach { c =>
        c.tasks.incrementAndGet()
        if (m != null) {
          c.taskMs.addAndGet(m.executorRunTime)
          c.gcMs.addAndGet(m.jvmGCTime)
          c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
  }

  // ---- SQL: planning/execution per route, scan volume, store writes ----
  final case class Query(planMs: Double, execMs: Double, files: Long, bytes: Long, scanRows: Long)
  val queries = new ConcurrentHashMap[String, java.util.Queue[Query]]()
  private val qeTags = java.util.Collections.synchronizedMap(new java.util.IdentityHashMap[QueryExecution, String]())
  final case class Write(ms: Double, files: Long, bytes: Long, rows: Long)
  val writes = new java.util.concurrent.ConcurrentLinkedQueue[Write]()
  def tagQuery(qe: QueryExecution, route: String): Unit = qeTags.put(qe, route)

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (active) {
      val nodes = flatten(qe.executedPlan)
      def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
      val w = nodes.collect { case d: DataWritingCommandExec => d }
      if (w.nonEmpty)
        writes.add(Write(durationNs / 1e6, w.map(metric(_, "numFiles")).sum,
          w.map(metric(_, "numOutputBytes")).sum, w.map(metric(_, "numOutputRows")).sum))
      Option(qeTags.remove(qe)).foreach { route =>
        val scans = nodes.collect { case s: FileSourceScanExec => s }
        val planMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
        queries.computeIfAbsent(route, _ => new java.util.concurrent.ConcurrentLinkedQueue[Query]())
          .add(Query(planMs, durationNs / 1e6, scans.map(metric(_, "numFiles")).sum,
            scans.map(metric(_, "filesSize")).sum, scans.map(metric(_, "numOutputRows")).sum))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
      qeTags.remove(qe); ()
    }
  }

  // ---- StreamIngest: one StreamingQueryProgress per micro-batch ----
  final case class Batch(rows: Long, durations: Map[String, Long], lag: Long)
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val src = p.sources.headOption
      val lag = src.map(s => offsets(s.latestOffset).map { case (k, v) =>
        v - offsets(s.endOffset).getOrElse(k, v) }.sum).getOrElse(0L)
      batches.add(Batch(p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, lag))
    }
  }

  // ---- CT transport: the real HTTP source behind a timing wrapper ----
  val sthCalls, entriesCalls, entriesNs, entriesFetched, fetchErrors, domainsFetched = new AtomicLong
  /** Distinct domains of the certificate at (log name, entry index), 0
    * for a leaf the parser must drop: the rows one entry explodes into. */
  @volatile var domainsAt: (String, Long) => Int = (_, _) => 0
  val sourceKey = s"ctbench-${java.util.UUID.randomUUID()}"
  private val timedSource = new Ingestor.EntrySource {
    private val inner = new graft.ct.CtHttpSource()
    def treeSize(log: LogList.CtLog): Long = {
      if (active) sthCalls.incrementAndGet()
      try inner.treeSize(log) catch { case e: Exception => if (active) fetchErrors.incrementAndGet(); throw e }
    }
    def fetchEntries(log: LogList.CtLog, start: Long, end: Long): Seq[RawEntry] = {
      val t0 = System.nanoTime()
      try {
        val out = inner.fetchEntries(log, start, end)
        if (active) {
          entriesCalls.incrementAndGet()
          entriesFetched.addAndGet(out.size)
          domainsFetched.addAndGet(out.iterator.map(e => domainsAt(e.log_name, e.entry_index).toLong).sum)
          entriesNs.addAndGet(System.nanoTime() - t0)
        }
        out
      } catch { case e: Exception => if (active) fetchErrors.incrementAndGet(); throw e }
    }
  }

  // ---- CertStore.read, timed inside the table thunk Server calls ----
  val readNs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  val streamPolls = new AtomicLong
  def timedTable(read: () => org.apache.spark.sql.DataFrame): () => org.apache.spark.sql.DataFrame = () => {
    val t0 = System.nanoTime()
    val df = read()
    if (active) {
      readNs.add(System.nanoTime() - t0)
      if (Thread.currentThread.getName == "graft-sse") streamPolls.incrementAndGet()
    }
    df
  }

  /** True while the listeners are attached: the wrappers and the SQL
    * listener record only then. The SQL listener is registered up front
    * because a streaming query runs its batches in a session cloned at
    * start, with the listeners registered by then. */
  @volatile var active = false
  graft.ct.source.CtMicroBatchSource.register(sourceKey, timedSource)
  spark.listenerManager.register(qeListener)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    active = true
  }

  def detach(): Unit = {
    active = false
    // let the asynchronous listener buses deliver what is queued
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  def close(): Unit = {
    spark.listenerManager.unregister(qeListener)
    graft.ct.source.CtMicroBatchSource.unregister(sourceKey)
  }
}

object Trace {
  /** Every physical node, through adaptive plans, query stages and
    * command wrappers. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => p.children ++ p.subqueries
    }
    p +: kids.flatMap(flatten)
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def offsets(json: String): Map[String, Long] =
    if (json == null) Map.empty
    else mapper.readTree(json).properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
}
