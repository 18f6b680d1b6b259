package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SqlEvents
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-call counters of every layer one benchmark call ran through. */
final class SpanStats {
  var jobs, stages, tasks = 0L
  var critMs, runMs, cpuMs, gcMs = 0.0
  var shuffleWrite, shuffleRead, shuffleRecords, spillBytes = 0L
  var fetchWaitMs = 0.0
  var inputBytes, inputRows = 0L
  var sqlExecs = 0L
  var sqlAnalysisMs, sqlOptimizerMs, sqlPlanningMs = 0.0
  var cutJobs = 0L
  var cutMs = 0.0
  var batches = 0L
  val batchMs = mutable.ArrayBuffer[Double]()
  var addBatchMs, getBatchMs, walCommitMs, commitOffsetsMs, queryPlanningMs = 0.0
  var streamInputRows, stateRows, stateMemBytes = 0L
  var stateCommitMs = 0.0

  def fields: Seq[(String, Any)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "crit_ms" -> critMs, "run_ms" -> runMs, "cpu_ms" -> cpuMs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "shuffle_records" -> shuffleRecords, "spill_bytes" -> spillBytes,
    "fetch_wait_ms" -> fetchWaitMs,
    "input_bytes" -> inputBytes, "input_rows" -> inputRows,
    "sql_executions" -> sqlExecs, "sql_analysis_ms" -> sqlAnalysisMs,
    "sql_optimizer_ms" -> sqlOptimizerMs, "sql_planning_ms" -> sqlPlanningMs,
    "cut_jobs" -> cutJobs, "cut_ms" -> cutMs,
    "stream_batches" -> batches, "stream_batch_ms" -> batchMs.toSeq,
    "stream_add_batch_ms" -> addBatchMs, "stream_get_batch_ms" -> getBatchMs,
    "stream_wal_commit_ms" -> walCommitMs,
    "stream_commit_offsets_ms" -> commitOffsetsMs,
    "stream_query_planning_ms" -> queryPlanningMs,
    "stream_input_rows" -> streamInputRows, "stream_state_rows" -> stateRows,
    "stream_state_mem_bytes" -> stateMemBytes,
    "stream_state_commit_ms" -> stateCommitMs)
}

/** Listener-based collector. Every benchmark call runs inside a span:
  * before the call the client thread sets the job-local property
  * [[Trace.SpanKey]], which Spark copies onto every job the call starts
  * (streaming and staging threads inherit it), so each job, stage and
  * task is attributed to the call that caused it. The Catalyst phase
  * times a `QueryExecutionListener` reports are attributed through the
  * execution id the jobs carry (executions that ran no job are counted
  * as unattributed), streaming queries through the span that was open
  * when they started. Spans and counters stay in memory. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val lock = new Object
  val spans = mutable.LinkedHashMap[String, SpanStats]()
  @volatile private var current: String = null
  private val stageSpan = mutable.HashMap[Int, String]()
  private val stageMaxTaskMs = mutable.HashMap[Int, Double]()
  private val jobSpan = mutable.HashMap[Int, String]()
  private val cutJobStart = mutable.HashMap[Int, Long]()
  private val execSpan = mutable.HashMap[Long, String]()
  private val qeExec = mutable.HashMap[Long, Long]()
  private val pendingQe = mutable.HashMap[Long, QueryExecution]()
  private val querySpan = mutable.HashMap[java.util.UUID, String]()
  var unattributedJobs = 0L
  private var unattributedExecs = 0L

  /** SQL executions whose phase times could not be billed to a span. */
  def unattributedExecutions: Long = lock.synchronized { unattributedExecs + pendingQe.size }

  /** Open and close times of every span, in call order. */
  private val intervals = mutable.ArrayBuffer[(String, Long, Long)]()

  /** The span a job belongs to: the one its property names, unless that
    * span was already closed when the job started, which happens when a
    * pooled thread created during an earlier call inherited the earlier
    * property. The client runs one call at a time, so the span open at
    * the job's start time is then the call that caused it. */
  private def spanOf(prop: String, time: Long): String = {
    def open(i: (String, Long, Long)) = time >= i._2 && time <= i._3
    intervals.reverseIterator.find(i => i._1 == prop && open(i))
      .orElse(intervals.reverseIterator.find(open)).map(_._1).orNull
  }

  private def stats(span: String): SpanStats =
    spans.getOrElseUpdate(span, new SpanStats)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = spanOf(Option(e.properties).map(_.getProperty(Trace.SpanKey)).orNull, e.time)
      if (span == null) unattributedJobs += 1
      else {
        val s = stats(span)
        jobSpan(e.jobId) = span
        s.jobs += 1
        e.stageInfos.foreach(si => stageSpan(si.stageId) = span)
        if (e.stageInfos.exists(_.name.toLowerCase.contains("checkpoint"))) {
          s.cutJobs += 1
          cutJobStart(e.jobId) = e.time
        }
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(_.toLongOption).foreach(id => execSpan(id) = span)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => lock.synchronized {
        SqlEvents.queryExecution(end).foreach { qe =>
          qeExec(qe.id) = end.executionId
          pendingQe.remove(qe.id).foreach(attributeQe(end.executionId, _))
        }
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      for (span <- jobSpan.get(e.jobId); t0 <- cutJobStart.remove(e.jobId))
        stats(span).cutMs += e.time - t0
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val id = e.stageInfo.stageId
      stageSpan.get(id).foreach { span =>
        val s = stats(span)
        s.stages += 1
        s.critMs += stageMaxTaskMs.getOrElse(id, 0.0)
      }
      stageMaxTaskMs.remove(id)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageSpan.get(e.stageId).foreach { span =>
        val s = stats(span)
        s.tasks += 1
        val dur = e.taskInfo.duration.toDouble
        stageMaxTaskMs(e.stageId) = math.max(stageMaxTaskMs.getOrElse(e.stageId, 0.0), dur)
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuMs += m.executorCpuTime / 1e6
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleRecords += m.shuffleReadMetrics.recordsRead
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.spillBytes += m.diskBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRows += m.inputMetrics.recordsRead
        }
      }
    }
  }

  /** Catalyst phase times of one execution, billed to the span whose
    * jobs carried its execution id. */
  private def attributeQe(exec: Long, qe: QueryExecution): Unit = {
    val span = execSpan.getOrElse(exec, null)
    if (span == null) { unattributedExecs += 1; return }
    val s = stats(span)
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    s.sqlExecs += 1
    s.sqlAnalysisMs += ms("analysis")
    s.sqlOptimizerMs += ms("optimization")
    s.sqlPlanningMs += ms("planning")
  }

  private val sql = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      qeExec.get(qe.id) match {
        case Some(exec) => attributeQe(exec, qe)
        case None => pendingQe(qe.id) = qe
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streams = new StreamingQueryListener {
    // delivered synchronously on the thread that starts the query,
    // i.e. while the starting call's span is open
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      lock.synchronized { if (current != null) querySpan(e.runId) = current }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val p = e.progress
        querySpan.get(p.runId).foreach { span =>
          val s = stats(span)
          def d(k: String): Double =
            Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
          s.batches += 1
          s.batchMs += d("triggerExecution")
          s.addBatchMs += d("addBatch")
          s.getBatchMs += d("getBatch")
          s.walCommitMs += d("walCommit")
          s.commitOffsetsMs += d("commitOffsets")
          s.queryPlanningMs += d("queryPlanning")
          s.streamInputRows += p.numInputRows
          p.stateOperators.foreach { op =>
            s.stateRows += op.numRowsTotal
            s.stateMemBytes = math.max(s.stateMemBytes, op.memoryUsedBytes)
            s.stateCommitMs += op.commitTimeMs
          }
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  /** Start listening; events still queued from untraced calls are
    * delivered first, so they cannot reach the collector. */
  def attach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.addSparkListener(jobs)
    spark.listenerManager.register(sql)
    spark.streams.addListener(streams)
  }

  /** Wait for queued events, then unregister; counters stay readable. */
  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(sql)
    sc.removeSparkListener(jobs)
  }

  /** Run `body` as span `name`: its jobs carry the span property. */
  def span[T](name: String)(body: => T): T = {
    val i = lock.synchronized { intervals += ((name, System.currentTimeMillis(), Long.MaxValue)); intervals.length - 1 }
    sc.setLocalProperty(Trace.SpanKey, name)
    current = name
    try body
    finally {
      current = null
      sc.setLocalProperty(Trace.SpanKey, null)
      lock.synchronized { intervals(i) = intervals(i).copy(_3 = System.currentTimeMillis()) }
    }
  }
}

object Trace {
  val SpanKey = "perfbench.span"
}
