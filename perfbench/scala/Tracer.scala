package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfBenchAccess, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the traced run records about one timed call into the
  * program. Counters are filled by the listeners below while the span is
  * open; the runner fills the storage and temp-dir diffs around the call.
  */
final class Span(val pass: Int, val op: String) {
  var wallS = 0.0
  var startMs = 0L
  var endMs = 0L
  var jobs = 0
  var stages = 0
  var exchanges = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spillBytes = 0L
  // stages that scan files (a FileScanRDD in the stage)
  var scanRecords = 0L
  var scanBytes = 0L
  var scanRunMs = 0L
  var scanShuffleWrite = 0L
  val scanJobs = mutable.Set.empty[Int]
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  // SQL actions seen by the QueryExecutionListener: (funcName, seconds)
  val actions = mutable.ArrayBuffer.empty[(String, Double)]
  // SQL execution id -> jobs run under it, and -> the action that started
  // it (the first word of its call site, e.g. "count" or "parquet")
  val jobsByExecution = mutable.Map.empty[String, Int]
  val actionByExecution = mutable.Map.empty[String, String]
  var stagingS = 0.0
  var streamBatches = 0L
  var streamInputRows = 0L
  var streamTriggerMs = 0L
  var streamCommitMs = 0L
  var stateRows = 0L
  // storage diffs around the call
  var cacheBuilds = 0
  var cacheHits = 0
  // persisted RDDs read by the SQL actions run inside the call, and the
  // rows held by the cached relations among them
  val reads = mutable.Set.empty[Int]
  var cachedRows = 0L
  var checkpoints = 0
  var checkpointBytes = 0L
  var tmpBytes = 0L

  def jobsOf(action: String): Int = jobsByExecution.collect {
    case (exec, n) if actionByExecution.get(exec).contains(action) => n
  }.sum

  /** Operation wall time not covered by any running task. */
  def idleS: Double = {
    val iv = taskIntervals.map { case (a, b) =>
      (math.max(a, startMs), math.min(b, endMs)) }.filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, wallS - covered / 1000.0)
  }
}

/** Listeners that attribute engine work to the open span. Spans never
  * overlap (one client, closed loop), and the listener bus is drained
  * before a span closes, so "the span open when the event arrives" is the
  * span that caused it.
  */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  @volatile private var current: Span = null
  private val stageSpan = mutable.Map.empty[Int, (Span, Boolean)]
  private val stageJob = mutable.Map.empty[Int, Int]

  private object engine extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val s = current
      if (s != null) {
        s.jobs += 1
        val exec = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).getOrElse("none")
        s.jobsByExecution(exec) = s.jobsByExecution.getOrElse(exec, 0) + 1
        e.stageIds.foreach(id => stageJob(id) = e.jobId)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => synchronized {
        val s = current
        if (s != null)
          s.actionByExecution(x.executionId.toString) = x.description.takeWhile(_ != ' ')
      }
      case _ =>
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val s = current
      if (s != null) {
        val info = e.stageInfo
        s.stages += 1
        if (PerfBenchAccess.isShuffleMap(info)) s.exchanges += 1
        val scan = info.rddInfos.exists(_.name == "FileScanRDD")
        stageSpan(info.stageId) = (s, scan)
        if (scan) stageJob.get(info.stageId).foreach(s.scanJobs += _)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).orElse(Option(current).map(c => (c, false))).foreach {
        case (s, scan) =>
          s.tasks += 1
          s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
          val m = e.taskMetrics
          if (m != null) {
            s.cpuNs += m.executorCpuTime
            s.runMs += m.executorRunTime
            val w = m.shuffleWriteMetrics.bytesWritten
            s.shuffleWrite += w
            s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            s.spillBytes += m.diskBytesSpilled
            if (scan) {
              s.scanRecords += m.inputMetrics.recordsRead
              s.scanBytes += m.inputMetrics.bytesRead
              s.scanRunMs += m.executorRunTime
              s.scanShuffleWrite += w
            }
          }
      }
    }
  }

  private object sql extends QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution, ns: Long): Unit = synchronized {
      val s = current
      if (s != null) {
        val sec = ns / 1e9
        s.actions += ((funcName, sec))
        val (ids, rows) = Tracer.persistedReads(qe.executedPlan)
        s.reads ++= ids
        s.cachedRows = math.max(s.cachedRows, rows)
        val target = qe.logical.toString
        if (target.contains("graft_stream_") && !target.contains("graft_stream_root_"))
          s.stagingS += sec
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, 0L)
  }

  private object stream extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
      val s = current
      if (s != null) {
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        s.streamBatches += 1
        s.streamInputRows += p.numInputRows
        s.streamTriggerMs += d("triggerExecution")
        s.streamCommitMs += d("commitOffsets") + d("walCommit") +
          p.stateOperators.map(_.commitTimeMs).sum
        s.stateRows += p.stateOperators.map(_.numRowsUpdated).sum
      }
    }
  }

  def install(streamSession: SparkSession): Unit = {
    sc.addSparkListener(engine)
    spark.listenerManager.register(sql)
    streamSession.streams.addListener(stream)
  }

  def open(s: Span): Unit = { PerfBenchAccess.drain(sc); current = s }

  def close(): Unit = { PerfBenchAccess.drain(sc); current = null }
}

object Tracer {

  /** Persisted RDD ids a physical plan reads (cached relations and
    * checkpointed `LogicalRDD` scans), and the rows held by the cached
    * relations among them.
    */
  def persistedReads(plan: SparkPlan): (Set[Int], Long) = try {
    val ids = mutable.Set.empty[Int]
    val cachedRows = mutable.Map.empty[Int, Long]
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case c: CommandResultExec => walk(c.commandPhysicalPlan)
        case r: ReusedExchangeExec => walk(r.child)
        case i: InMemoryTableScanExec =>
          val b = i.relation.cacheBuilder
          if (b.isCachedColumnBuffersLoaded) {
            val id = b.cachedColumnBuffers.id
            ids += id
            cachedRows(id) = b.rowCountStats.value
          }
        case r: RDDScanExec => ids += r.rdd.id
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    (ids.toSet, cachedRows.values.sum)
  } catch { case _: Throwable => (Set.empty, 0L) }

  def planReads(df: DataFrame): (Set[Int], Long) =
    persistedReads(df.queryExecution.executedPlan)
}
