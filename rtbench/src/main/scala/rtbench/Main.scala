package rtbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.chaining._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The benchmark's engine-side process. `run.py` generates the inputs,
  * writes a config and starts this main in a fresh working directory:
  *
  *   rtbench.Main <config.json> <result.json>
  *
  * It builds the session the way `graft.Bench` does, runs one workload's
  * set-up (warm-up, fixtures) and timed window, and writes raw samples,
  * table dumps for the correctness checks and, when tracing, the trace.
  * Statistics and checks are computed by run.py.
  */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Write-then-rename, so a reader polling for `path` never sees it half written. */
  private def writeJson(path: String, v: Any): Unit = {
    val p = Paths.get(path)
    val tmp = p.resolveSibling(s".${p.getFileName}.tmp")
    json.writeValue(tmp.toFile, v)
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def main(args: Array[String]): Unit = {
    val cfg = json.readTree(new java.io.File(args(0)))
    val workload = cfg.get("workload").asText()
    val cores = cfg.get("cores").asInt()
    val trace = new Trace(cfg.get("trace").asBoolean())
    val spark = session(cores, s"${cfg.get("work").asText()}/spark-local")
    trace.attach(spark, progress = workload == "rtdw_live")
    val out = workload match {
      case "rtdw_live" => live(spark, cfg, trace)
      case "warehouse_queries" => heads(spark, cfg, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    trace.detach(spark)
    val env = Map("spark" -> spark.version, "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val result = out ++ Map("env" -> env, "peak_rss_mb" -> peakRssMb()) ++
      (if (trace.enabled) trace.toJson else Map.empty)
    writeJson(args(1), result)
    spark.stop()
  }

  /** The session `graft.Bench` builds, at `local[cores]`, with Spark's
    * scratch space in the run's own directory. */
  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.local.dir", localDir)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .pipe(graft.core.GraftSession.engineConfs)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** VmHWM: the process's peak resident set, in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  private def rename(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to).getParent)
    Files.move(Paths.get(from), Paths.get(to), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def await(qs: Seq[StreamingQuery]): Unit = qs.foreach(_.processAllAvailable())

  // ---- rtdw_live ------------------------------------------------------------

  /** Open loop: run.py lands wave k at t0 + k·interval (write-then-rename,
    * from its own process) while five long-lived queries carry the waves
    * through the hops, and this thread reads the DWS tables as their
    * queries commit. A wave is visible once the sku fold counts every
    * detail id up to it and the UV table every (mid, day) pair up to it;
    * its freshness runs from its due time to the later of the two reads
    * that first saw it. Progress events are recorded in every run: the
    * reads follow them, and the workload's throughput is computed from
    * them.
    */
  def live(spark: SparkSession, cfg: JsonNode, trace: Trace): Map[String, Any] = {
    val work = cfg.get("work").asText()
    val ods = s"$work/ods"
    val trigger = Trigger.ProcessingTime(cfg.get("trigger_ms").asLong())
    val p = new Pipeline(spark, ods, s"$work/tables", trace)
    val warm = cfg.get("warmup").elements().asScala.toSeq
    def land(w: JsonNode): Unit = {
      val k = w.get("wave").asInt()
      Seq("topic_log", "topic_db").foreach { t =>
        rename(s"${w.get("stage").asText()}/$t.json", f"$ods/$t/wave-$k%05d.json")
      }
    }
    // set-up: the first warm-up wave seeds the DWD tables the later hops
    // read; the rest land as soon as the first hop has taken the one
    // before, so the later hops overlap it as they do in the timed part
    Files.createDirectories(Paths.get(s"$ods/topic_log"))
    Files.createDirectories(Paths.get(s"$ods/topic_db"))
    val hop1 = trace.span("setup.start", Map("hop" -> "ods_dwd"))(p.odsDwd(trigger))
    land(warm.head)
    await(hop1)
    val rest = trace.span("setup.start", Map("hop" -> "dwd_dws+dws_serving"))(
      p.dwdDws(trigger) ++ p.dwsServing(Trigger.ProcessingTime(cfg.get("serving_trigger_ms").asLong())))
    await(rest)
    warm.tail.foreach { w => land(w); await(hop1) }
    await(rest)

    val waves = cfg.get("waves").elements().asScala.toSeq
    val interval = cfg.get("interval_ms").asDouble()
    val t0 = Clock.nowMs + 200
    writeJson(s"$work/ready.json", Map("t0_ms" -> t0))
    while (Clock.nowMs < t0) Thread.sleep(1)

    val due = waves.indices.map(k => t0 + k * interval)
    val reads = scala.collection.mutable.ArrayBuffer.empty[Double]
    val deadline = t0 + cfg.get("seconds").asDouble() * 1000 + cfg.get("drain_timeout_s").asDouble() * 1000
    val pollMs = cfg.get("poll_ms").asLong()
    // One watch per DWS table. A table only changes when its query commits
    // a micro-batch, so it is read once after each progress event of that
    // query. The reader lists the table as it starts and the table only
    // grows, so a wave a read sees was visible by the start of that read.
    final class Watch(query: String, val cumKey: String, read: () => Long) {
      private val id = p.names.collectFirst { case (i, n) if n == query => i }.get
      private var batches = trace.batchesOf(id)
      val at = Array.fill[Option[Double]](waves.size)(None)
      def poll(): Boolean = {
        val b = trace.batchesOf(id)
        b > batches && {
          batches = b
          val r0 = Clock.nowMs
          val n = trace.span("serve.read", Map("table" -> query))(read())
          reads += (Clock.nowMs - r0) / 1000
          for (k <- waves.indices if at(k).isEmpty && n >= waves(k).get(cumKey).asLong()) at(k) = Some(r0)
          true
        }
      }
    }
    val watches = Seq(new Watch("dwd_dws.sku_fold", "details_cum", () => p.skuRows()),
      new Watch("dwd_dws.uv", "uv_cum", () => p.uvRows()))
    def visible(k: Int): Option[Double] =
      if (watches.forall(_.at(k).isDefined)) Some(watches.map(_.at(k).get).max) else None
    while (waves.indices.exists(visible(_).isEmpty) && Clock.nowMs < deadline) {
      val polled = watches.map(_.poll())
      if (!polled.contains(true)) Thread.sleep(pollMs)
    }
    for (k <- waves.indices; v <- visible(k))
      trace.record("wave", due(k), v, Map("wave" -> waves(k).get("wave").asInt()))
    val measured = Clock.nowMs
    // the leaderboard closes a day only once the watermark passes it;
    // wait for the expected closed days before stopping the queries
    val servingDeadline = Clock.nowMs + 30000
    while (p.leaderboardRows() < cfg.get("expect_leaderboard_rows").asLong() &&
           Clock.nowMs < servingDeadline) Thread.sleep(100)
    val servedAt = Clock.nowMs
    (hop1 ++ rest).foreach(_.stop())
    val stoppedAt = Clock.nowMs
    Map("t0_ms" -> t0, "measured_end_ms" -> measured, "setup_end_ms" -> t0,
      "teardown_ms" -> Map("served" -> servedAt, "stopped" -> stoppedAt),
      "ops" -> waves.indices.map(k => Map("name" -> s"wave-${waves(k).get("wave").asInt()}",
        "due_ms" -> due(k), "visible_ms" -> visible(k),
        "ok" -> visible(k).isDefined, "latency_s" -> visible(k).map(v => (v - due(k)) / 1000))),
      "serve_reads_s" -> reads.toSeq, "query_names" -> p.names.toMap, "progress" -> trace.progressRecords,
      "dump" -> p.dump(), "io" -> p.ioStats())
  }

  // ---- warehouse_queries ---------------------------------------------------

  /** Closed loop, one client, over read-only registered heads.
    *
    * Set-up runs every head once, writing its result as `graft.Verify`
    * does (this builds each head's fixtures; run.py checks the results
    * against the DuckDB oracles afterwards), then `warm_passes` more times
    * untimed. The
    * timed part is a fixed number of passes over the heads, each in a
    * seed-permuted order, so every run samples every head equally often
    * and its percentiles rest on the same sample count. Each call is
    * timed from the head call (which builds and analyzes the plan) to
    * the end of `toRdd.count()`, as `graft.Bench` times it, and the cache
    * is cleared between calls.
    */
  def heads(spark: SparkSession, cfg: JsonNode, trace: Trace): Map[String, Any] = {
    val sf = cfg.get("sf_dir").asText()
    val outDir = cfg.get("out_dir").asText()
    val names = cfg.get("heads").elements().asScala.map(_.asText()).toSeq
    val registry = graft.SparkEntry.queries
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"heads not registered: ${missing.mkString(", ")}")
    trace.span("setup.warmup") {
      names.foreach { n =>
        trace.span("setup.head", Map("head" -> n)) {
          registry(n)(spark, sf).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
        }
        spark.catalog.clearCache()
      }
      // untimed passes the way the timed passes run: per-pass times keep
      // falling for a few passes while the JIT compiles their code paths
      for (_ <- 0 until cfg.get("warm_passes").asInt(); n <- names) {
        registry(n)(spark, sf).queryExecution.toRdd.count()
        spark.catalog.clearCache()
      }
    }
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    writeJson(s"$outDir/oracle_sql.json", oracles)
    val setupEnd = Clock.nowMs
    val rng = new scala.util.Random(cfg.get("seed").asLong())
    val ops = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    for (pass <- 0 until cfg.get("passes").asInt()) {
      trace.span("pass", Map("pass" -> pass)) {
        rng.shuffle(names).foreach { n =>
          val t = Clock.nowMs
          val err = trace.span("head", Map("head" -> n)) {
            try {
              val qe = trace.span("head.build")(registry(n)(spark, sf)).queryExecution
              trace.span("exec")(qe.toRdd.count())
              trace.phases(qe)
              None
            } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
          }
          ops += Map("name" -> n, "ok" -> err.isEmpty, "error" -> err,
            "latency_s" -> (Clock.nowMs - t) / 1000)
          spark.catalog.clearCache()
        }
      }
    }
    // the heads build their fixtures under the working directory's target/
    val (files, bytes) = Dirs.walk(new java.io.File(cfg.get("work").asText(), "target"))
    Map("setup_end_ms" -> setupEnd, "measured_end_ms" -> Clock.nowMs, "ops" -> ops.toSeq,
      "io" -> Map("files" -> files, "bytes" -> bytes))
  }
}
