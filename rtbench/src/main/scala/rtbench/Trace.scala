package rtbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution:
  * anchored once to currentTimeMillis, advanced by nanoTime, so spans
  * line up with the epoch-ms times Spark's listener events carry.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** In-memory trace of one run, written out when the run ends.
  *
  * Harness spans (pass or wave → head call or hop trigger → build, plan
  * or exec phase) are recorded around the benchmark's own calls into the
  * engine. Jobs and stages come from a SparkListener, query phases from
  * `QueryExecution.tracker`, and micro-batches from a
  * StreamingQueryListener. Jobs and triggers are parented afterwards by
  * time containment (see run.py), since listener events arrive on
  * Spark's bus thread. When disabled, nothing is registered and every
  * call is a no-op apart from running its body.
  */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, start: Double,
                        end: Double, attrs: Map[String, Any])
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  // open harness spans per thread; foreachBatch bodies run on stream
  // threads, whose spans start at the root (0) and are re-parented to
  // their micro-batch by query and time
  private val stack = ThreadLocal.withInitial[mutable.Stack[Int]](() => mutable.Stack(0))

  /** A span around `body`, parented to the innermost open span. */
  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val start = Clock.nowMs
      val id = synchronized { val i = nextId; nextId += 1; i }
      val st = stack.get()
      val parent = st.top
      st.push(id)
      try body
      finally {
        st.pop()
        synchronized { spans += Span(id, parent, name, start, Clock.nowMs, attrs) }
      }
    }

  /** A span with known times (e.g. from `QueryExecution.tracker`). */
  def record(name: String, start: Double, end: Double,
             attrs: Map[String, Any] = Map.empty): Unit =
    if (enabled) synchronized {
      spans += Span(nextId, stack.get().top, name, start, end, attrs)
      nextId += 1
    }

  /** The analysis / optimization / planning phases a query went through. */
  def phases(qe: QueryExecution): Unit =
    if (enabled) qe.tracker.phases.foreach { case (phase, p) =>
      record(s"plan.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }

  // ---- listener-side records ----------------------------------------------
  private val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val queryPhases = mutable.ArrayBuffer.empty[Map[String, Any]]

  private val jobStart = mutable.Map.empty[Int, (Double, Option[String], Seq[Int])]
  private val stageJob = mutable.Map.empty[Int, Int]
  // per-stage task aggregates: tasks, empty, run ms, cpu ns, gc ms,
  // input bytes, shuffle write, shuffle read, spill
  private val stageAgg = mutable.Map.empty[(Int, Int), Array[Long]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val qid = Option(e.properties).flatMap(p =>
        Option(p.getProperty("sql.streaming.queryId")))
      jobStart(e.jobId) = (e.time.toDouble, qid, e.stageIds)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (start, qid, stageIds) =>
        jobs += Map("job" -> e.jobId, "start" -> start, "end" -> e.time.toDouble,
          "query" -> qid.orNull, "stages" -> stageIds,
          "ok" -> (e.jobResult == JobSucceeded))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = stageAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), new Array[Long](9))
        val readRecords = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        a(0) += 1
        if (readRecords == 0 && m.shuffleWriteMetrics.recordsWritten == 0) a(1) += 1
        a(2) += m.executorRunTime
        a(3) += m.executorCpuTime
        a(4) += m.jvmGCTime
        a(5) += m.inputMetrics.bytesRead
        a(6) += m.shuffleWriteMetrics.bytesWritten
        a(7) += m.shuffleReadMetrics.totalBytesRead
        a(8) += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val si = e.stageInfo
      val a = stageAgg.remove((si.stageId, si.attemptNumber())).getOrElse(new Array[Long](9))
      stages += Map("stage" -> si.stageId, "job" -> stageJob.getOrElse(si.stageId, -1),
        "start" -> si.submissionTime.map(_.toDouble), "end" -> si.completionTime.map(_.toDouble),
        "tasks" -> a(0), "empty_tasks" -> a(1), "task_ms" -> a(2),
        "cpu_ns" -> a(3), "gc_ms" -> a(4), "input_bytes" -> a(5),
        "shuffle_write_bytes" -> a(6), "shuffle_read_bytes" -> a(7),
        "spill_bytes" -> a(8))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized {
        qe.tracker.phases.foreach { case (phase, p) =>
          queryPhases += Map("phase" -> phase, "start" -> p.startTimeMs.toDouble,
            "end" -> p.endTimeMs.toDouble, "func" -> funcName)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val state = p.stateOperators.toSeq
        progress += Map(
          "query" -> p.id.toString, "name" -> p.name, "batch" -> p.batchId,
          "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "rows_in" -> p.numInputRows,
          "durations" -> p.durationMs,
          "state_rows" -> state.map(_.numRowsTotal).sum,
          "state_bytes" -> state.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> state.map(_.commitTimeMs).sum,
          "late_dropped" -> state.map(_.numRowsDroppedByWatermark).sum)
      }
  }

  private var listening = false

  /** Start listening. With `progress`, micro-batch progress is recorded
    * even when tracing is off. */
  def attach(spark: SparkSession, progress: Boolean): Unit = {
    listening = enabled || progress
    if (listening) spark.streams.addListener(streamListener)
    if (enabled) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
    }
  }

  /** Stop listening. The listener bus is asynchronous and has no public
    * flush, so give it a moment to deliver the last events first. */
  def detach(spark: SparkSession): Unit = if (listening) {
    Thread.sleep(500)
    spark.streams.removeListener(streamListener)
    if (enabled) {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  /** Progress events recorded so far for the query with this id. */
  def batchesOf(queryId: String): Int = synchronized(progress.count(_("query") == queryId))

  /** The micro-batch progress recorded so far. */
  def progressRecords: Seq[Map[String, Any]] = synchronized(progress.toSeq)

  def toJson: Map[String, Any] = synchronized {
    Map("spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start" -> s.start, "end" -> s.end) ++ s.attrs).toSeq,
      "jobs" -> jobs.toSeq, "stages" -> stages.toSeq, "progress" -> progress.toSeq,
      "query_phases" -> queryPhases.toSeq)
  }
}
