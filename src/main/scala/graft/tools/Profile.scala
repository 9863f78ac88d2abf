package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-head, per-layer cost record of registered heads: one JSON line
  * per head, with the `per_layer` metric names of `BENCHMARK.json` that
  * apply to one head call, defined as `rtbench/run.py` defines them:
  *
  *  - `head.build_s`: the head call (building the DataFrame, eager
  *    fixture work, driver collects) minus the analysis inside it;
  *  - `plan.analysis_s`, `plan.optimization_s`, `plan.planning_s`: the
  *    `QueryExecution.tracker` phases of the head's plan and of every
  *    query it ran while being built;
  *  - `exec.driver_gap_s`: wall time not covered by any Spark job;
  *  - `sched.jobs`, `sched.stages`, `sched.tasks`, and
  *    `sched.empty_task_ratio` (tasks that read and wrote no record);
  *  - `exec.task_s`, `exec.task_cpu_s`, `exec.gc_s`, `exec.input_bytes`,
  *    `exec.shuffle_write_bytes`, `exec.shuffle_read_bytes`,
  *    `exec.spill_bytes`: summed task metrics.
  *
  * Besides these it reports `wall_s`, `plan_sha` ([[PlanCanon.sha]] of
  * the final plan, as [[graft.Bench]] hashes it), `codegen.compiles`
  * (generated classes compiled during the call, driver and executors:
  * misses of Spark's codegen class cache), `jobs` (one `[stages, tasks]`
  * pair per job, in job order) and, for a head that failed, `error`
  * instead of the figures; a failed head does not stop the run.
  *
  * The session ([[graft.core.GraftSession.benchBuilder]]) and the
  * timing are [[graft.Bench]]'s: `local[cpus]`, shuffle partitions =
  * cpus, AQE with coalescing, the engine confs; a warm-up pass at the `sf0.001` sibling of the measured dir; each
  * head evaluated twice (`toRdd.count()`, cache cleared after each).
  * The line reports the faster run, and `fixture_s` = first − best,
  * the build-once cost a table-building head pays on its first run.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<sf dir> SPARK_GRAFT_CPUS=<n>
  * sbt "runMain graft.tools.Profile [head...]"` (default: every head;
  * cpus default to 4, as in Bench).
  */
object Profile {

  /** Local property that tags the jobs [[Recorder.flush]] runs. */
  val MarkerProp = "graft.profile.marker"

  type Head = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name the scale-factor dir to profile"))
    val spark = graft.core.GraftSession.benchBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = if (args.nonEmpty) args.toSeq
                else graft.SparkEntry.queries.keys.toSeq.sorted
    val heads = names.map { n =>
      n -> graft.SparkEntry.queries.getOrElse(n, (_: SparkSession, _: String) =>
        throw new NoSuchElementException(s"no registered head $n"))
    }
    val warmDir = {
      val sib = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      if (sib.isDirectory) sib.getPath else sfDir
    }
    heads.foreach { case (_, fn) =>
      try fn(spark, warmDir).queryExecution.toRdd.count() catch { case _: Throwable => }
      spark.catalog.clearCache()
    }
    profile(spark, heads, sfDir)(println)
    spark.stop()
  }

  /** Evaluate each head twice on `sfDir` and emit its JSON line. */
  def profile(spark: SparkSession, heads: Seq[(String, Head)], sfDir: String)(
      emit: String => Unit): Unit = {
    val rec = new Recorder(spark)
    try heads.foreach { case (name, fn) =>
      val line =
        try {
          val runs = (1 to 2).map { _ =>
            try rec.measure(fn(spark, sfDir))
            finally spark.catalog.clearCache()
          }
          val best = runs.minBy(_.wallS)
          best.json(name, math.max(0.0, runs.head.wallS - best.wallS))
        } catch {
          case t: Throwable =>
            s"""{"head":${str(name)},"error":${str(t.getClass.getSimpleName + ": " + t.getMessage)}}"""
        }
      emit(line)
    } finally rec.remove()
  }

  /** One evaluation of one head. */
  final case class Run(wallS: Double, sha: String, layers: Seq[(String, Double)],
                       compiles: Long, jobs: Seq[(Int, Long)]) {
    def json(head: String, fixtureS: Double): String = {
      val fields = Seq("head" -> str(head), "wall_s" -> num(wallS),
        "fixture_s" -> num(fixtureS), "plan_sha" -> str(sha)) ++
        layers.map { case (k, v) => k -> num(v) } :+
        ("codegen.compiles" -> compiles.toString) :+
        ("jobs" -> jobs.map { case (s, t) => s"[$s,$t]" }.mkString("[", ",", "]"))
      fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    }
  }

  private def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else "%.6f".formatLocal(java.util.Locale.ROOT, v)

  private def str(s: String): String =
    "\"" + String.valueOf(s).flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""

  /** Generated classes compiled in this JVM so far. */
  def compiled(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Epoch milliseconds with sub-millisecond resolution, comparable with
    * the epoch-ms times of listener events and `QueryExecution.tracker`.
    */
  private object Clock {
    private val anchorMs = System.currentTimeMillis().toDouble
    private val anchorNs = System.nanoTime()
    def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
  }

  /** Listens to the jobs, stages, tasks and query phases of one
    * evaluation at a time. Listener delivery is asynchronous, so
    * [[flush]] runs a marker job and waits until it is delivered: every
    * event posted before it has then been seen (one queue, FIFO).
    */
  private final class Recorder(spark: SparkSession) {
    // per stage: tasks, empty tasks, run ms, cpu ns, gc ms, input bytes,
    // shuffle write bytes, shuffle read bytes, spill bytes
    private val jobStart = mutable.Map.empty[Int, Double]
    private val jobs = mutable.Map.empty[Int, (Double, Double)] // start, end ms
    private val stageJob = mutable.Map.empty[Int, Int]
    private val running = mutable.Map.empty[(Int, Int), Array[Long]]
    private val stages = mutable.ArrayBuffer.empty[(Int, Array[Long])]
    private val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
    private val markers = mutable.Set.empty[String]

    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
        Option(e.properties).flatMap(p => Option(p.getProperty(MarkerProp))) match {
          case Some(m) => markers += m
          case None =>
            jobStart(e.jobId) = e.time.toDouble
            // a stage runs in the first job that needs it; later jobs skip it
            e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
        jobStart.remove(e.jobId).foreach(s => jobs(e.jobId) = (s, e.time.toDouble))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
        val m = e.taskMetrics
        if (m != null && stageJob.contains(e.stageId)) {
          val a = running.getOrElseUpdate((e.stageId, e.stageAttemptId), new Array[Long](9))
          a(0) += 1
          if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0 &&
            m.shuffleWriteMetrics.recordsWritten == 0) a(1) += 1
          a(2) += m.executorRunTime
          a(3) += m.executorCpuTime
          a(4) += m.jvmGCTime
          a(5) += m.inputMetrics.bytesRead
          a(6) += m.shuffleWriteMetrics.bytesWritten
          a(7) += m.shuffleReadMetrics.totalBytesRead
          a(8) += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Recorder.this.synchronized {
          val si = e.stageInfo
          stageJob.get(si.stageId).foreach { j =>
            stages += j -> running.remove((si.stageId, si.attemptNumber()))
              .getOrElse(new Array[Long](9))
          }
        }
    }

    // queries the head runs while it is built (eager collects, fixture
    // writes) report their phases here; the head's own plan is read
    // from its tracker in [[measure]]
    private val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        addPhases(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        addPhases(qe)
    }

    private def addPhases(qe: QueryExecution): Unit = synchronized {
      qe.tracker.phases.foreach { case (phase, p) =>
        phases += ((phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    }

    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)

    def remove(): Unit = {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }

    private def flush(): Unit = {
      val sc = spark.sparkContext
      val m = java.util.UUID.randomUUID().toString
      sc.setLocalProperty(MarkerProp, m)
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(MarkerProp, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!synchronized(markers.contains(m)) && System.nanoTime() < deadline) Thread.sleep(5)
      require(synchronized(markers.contains(m)), "listener bus did not deliver the marker job")
    }

    /** Evaluate `build` once, as Bench times a head, and read its record. */
    def measure(build: => DataFrame): Run = {
      flush()
      synchronized {
        Seq(jobStart, jobs, stageJob, running).foreach(_.clear())
        stages.clear(); phases.clear(); markers.clear()
      }
      val c0 = compiled()
      val t0 = Clock.nowMs
      val qe = build.queryExecution
      val t1 = Clock.nowMs
      qe.toRdd.count()
      val t2 = Clock.nowMs
      val compiles = compiled() - c0
      val sha = PlanCanon.sha(qe.executedPlan.toString)
      flush()
      addPhases(qe)
      synchronized {
        def phaseS(name: String) =
          phases.collect { case (`name`, s, e) if e >= t0 && s <= t2 => e - s }.sum / 1000
        val analysisInBuild = phases.collect {
          case ("analysis", s, e) if e >= t0 && s <= t1 => math.min(e, t1) - math.max(s, t0)
        }.sum / 1000
        // the time no job covers: wall minus the union of job intervals
        val covered = jobs.values.toSeq.map { case (s, e) => (math.max(s, t0), math.min(e, t2)) }
          .filter { case (s, e) => e > s }.sortBy(_._1)
          .foldLeft((0.0, t0)) { case ((sum, reach), (s, e)) =>
            (sum + math.max(0.0, e - math.max(s, reach)), math.max(reach, e))
          }._1
        def total(i: Int) = stages.map(_._2(i)).sum
        val tasks = total(0)
        val layers = Seq(
          "head.build_s" -> math.max(0.0, (t1 - t0) / 1000 - analysisInBuild),
          "plan.analysis_s" -> phaseS("analysis"),
          "plan.optimization_s" -> phaseS("optimization"),
          "plan.planning_s" -> phaseS("planning"),
          "exec.driver_gap_s" -> (t2 - t0 - covered) / 1000,
          "sched.jobs" -> jobs.size.toDouble,
          "sched.stages" -> stages.size.toDouble,
          "sched.tasks" -> tasks.toDouble,
          "sched.empty_task_ratio" -> (if (tasks > 0) total(1).toDouble / tasks else 0.0),
          "exec.task_s" -> total(2) / 1e3,
          "exec.task_cpu_s" -> total(3) / 1e9,
          "exec.gc_s" -> total(4) / 1e3,
          "exec.input_bytes" -> total(5).toDouble,
          "exec.shuffle_write_bytes" -> total(6).toDouble,
          "exec.shuffle_read_bytes" -> total(7).toDouble,
          "exec.spill_bytes" -> total(8).toDouble)
        val perJob = jobs.keys.toSeq.sorted.map { j =>
          val own = stages.filter(_._1 == j)
          (own.size, own.map(_._2(0)).sum)
        }
        Run((t2 - t0) / 1000, sha, layers, compiles, perJob)
      }
    }
  }
}
