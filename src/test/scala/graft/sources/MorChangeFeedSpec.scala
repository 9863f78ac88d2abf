package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.io.{Maintenance, MergeOnRead, Upsert}
import graft.rtdw.{IncrementalDws, MorChangeFeed}

/** VERDICT r10 #5 — a merge-on-read root's delta batches ARE its
  * change log: [[MorChangeFeedSource]] subscribes to them with batch-id
  * offsets, [[MorChangeFeed.retractStream]] resolves each admitted
  * range's pre/post images against pinned snapshots, and
  * [[IncrementalDws.streamingMor]] folds the result exactly like the
  * CoW feed's retract stream. Pins: fold == full recompute across
  * inserts/updates/deletes with compaction mid-stream, kill/replay
  * convergence, point-lookup vs semi-join image parity, and the loud
  * GC-past-watermark refusal.
  */
class MorChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private val pk = Seq("id")

  private def mkWave(w: Long, ids: Range, del: Boolean = false) =
    ids.map(i => (s"k$i", i % 7L, (i + w) * 10L, w,
      if (del) "delete" else "upsert"))
      .toDF("id", "gid", "cents", "__v", "op")

  test("streamingMor fold == full recompute across waves, compaction, and restarts") {
    val root = Files.createTempDirectory("morcdf").toString
    val fact = s"$root/fact"; val dws = s"$root/dws"; val ckpt = s"$root/ckpt"
    def drain(): Unit = {
      val q = IncrementalDws.streamingMor(spark, fact, dws,
        groupCols = Seq("gid"), sumCols = Seq("cents"),
        checkpointDir = ckpt, maxBatchesPerTrigger = Some(1))
      q.awaitTermination(120000); ()
    }
    def check(tag: String): Unit = {
      val served = IncrementalDws.current(spark, dws).get
        .select("gid", "cents", "row_ct")
        .collect().map(_.mkString("|")).toSet
      val full = MergeOnRead.read(spark, fact, pk, "__v", Some("op"))
        .groupBy(col("gid"))
        .agg(sum(col("cents")).as("cents"), count(lit(1)).as("row_ct"))
        .collect().map(_.mkString("|")).toSet
      assert(served == full, s"$tag:\n served=$served\n full=$full")
    }

    // wave 0: inserts; contract recorded by the first compact
    MergeOnRead.merge(spark, fact, mkWave(1L, 0 until 200))
    MergeOnRead.recordContract(spark, fact, pk, "__v", Some("op"),
      Upsert.DefaultNumBuckets)
    drain(); check("bootstrap")

    // wave 1: corrections (higher version) + wave 2: deletes; each
    // drain restarts the query from its checkpoint (replay exercise),
    // maxBatchesPerTrigger=1 makes every batch its own micro-batch
    MergeOnRead.merge(spark, fact, mkWave(2L, 0 until 200 by 3))
    drain(); check("corrections")
    MergeOnRead.merge(spark, fact, mkWave(3L, 0 until 200 by 5, del = true))
    drain(); check("deletes")

    // compaction mid-stream: folds batches into the base; the consumer
    // keeps its offsets and later waves resolve against the new base
    Maintenance.runMor(spark, fact, pk, "__v", deleteFlagCol = Some("op"),
      policy = Maintenance.Policy(maxDeltaBatches = 0))
    MergeOnRead.merge(spark, fact, mkWave(4L, 100 until 300))
    drain(); check("post-compaction wave")

    // a stale batch (lower version, LWW loser): retract and add cancel
    MergeOnRead.merge(spark, fact, mkWave(0L, 0 until 50))
    drain(); check("stale wave cancels")
  }

  test("deep backlog drains through bounded triggers; a mid-drain restart " +
       "resumes from the checkpoint and converges (VERDICT r12 #5)") {
    val root = Files.createTempDirectory("morcdf_backlog").toString
    val fact = s"$root/fact"; val dws = s"$root/dws"; val ckpt = s"$root/ckpt"
    MergeOnRead.merge(spark, fact, mkWave(1L, 0 until 200))
    MergeOnRead.recordContract(spark, fact, pk, "__v", Some("op"),
      Upsert.DefaultNumBuckets)
    // a consumer that fell 12 batches behind
    (2L to 13L).foreach(w => MergeOnRead.merge(spark, fact,
      mkWave(w, (w * 7).toInt until (w * 7 + 40).toInt)))
    // STEP 1 — stop MID-BACKLOG: bounded AvailableNow (cap=3 → ≥ 5
    // triggers for 13 batches), killed after the first completed
    // trigger; its offsets are checkpointed. (Trigger.Once cannot
    // bound this: Spark substitutes ReadLimit.allAvailable there —
    // FeedAdmission's documented contract.)
    val q1 = IncrementalDws.streamingMor(spark, fact, dws,
      groupCols = Seq("gid"), sumCols = Seq("cents"), checkpointDir = ckpt,
      maxBatchesPerTrigger = Some(3))
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (q1.isActive && System.nanoTime() < deadline &&
        !q1.recentProgress.exists(_.numInputRows > 0)) Thread.sleep(50)
    q1.stop(); q1.awaitTermination(120000)
    val mid = IncrementalDws.current(spark, dws).get
      .agg(sum(col("cents"))).head().toString()
    val full = MergeOnRead.read(spark, fact, pk, "__v", Some("op"))
      .agg(sum(col("cents"))).head().toString()
    assert(mid != full, "one bounded trigger must NOT have drained everything")
    // STEP 2 — restart from the checkpoint with bounded AvailableNow:
    // every remaining range admits ≤ 3 batches per trigger
    val q2 = IncrementalDws.streamingMor(spark, fact, dws,
      groupCols = Seq("gid"), sumCols = Seq("cents"), checkpointDir = ckpt,
      maxBatchesPerTrigger = Some(3))
    q2.awaitTermination(300000)
    val triggers = q2.recentProgress.filter(_.numInputRows > 0)
    assert(triggers.length >= 3,
      s"a 12-batch backlog at cap=3 must take several triggers, got ${triggers.length}")
    val served = IncrementalDws.current(spark, dws).get
      .select("gid", "cents", "row_ct").collect().map(_.mkString("|")).toSet
    val fullRows = MergeOnRead.read(spark, fact, pk, "__v", Some("op"))
      .groupBy(col("gid"))
      .agg(sum(col("cents")).as("cents"), count(lit(1)).as("row_ct"))
      .collect().map(_.mkString("|")).toSet
    assert(served == fullRows, "the drained fold must equal a full recompute")
  }

  test("drain-aware compaction folds the consumed prefix every K triggers; " +
       "drain equals recompute and the boundary tail stays bounded (VERDICT r13 #2)") {
    val root = Files.createTempDirectory("morcdf_drainpair").toString
    val fact = s"$root/fact"; val dws = s"$root/dws"; val ckpt = s"$root/ckpt"
    MergeOnRead.merge(spark, fact, mkWave(1L, 0 until 200))
    MergeOnRead.recordContract(spark, fact, pk, "__v", Some("op"),
      Upsert.DefaultNumBuckets)
    (2L to 13L).foreach(w => MergeOnRead.merge(spark, fact,
      mkWave(w, (w * 7).toInt until (w * 7 + 40).toInt)))
    assert(MergeOnRead.compactedUpto(spark, fact) < 0L)

    val q = IncrementalDws.streamingMor(spark, fact, dws,
      groupCols = Seq("gid"), sumCols = Seq("cents"), checkpointDir = ckpt,
      maxBatchesPerTrigger = Some(3), compactEveryTriggers = Some(2))
    q.awaitTermination(300000)
    // the pairing is SIGNALED to a background maintenance thread
    // (r15): drain its queue before asserting on the watermark
    assert(IncrementalDws.awaitPairedCompacts(fact),
      "paired compactions did not drain in time")

    // the consumer compacted its consumed prefix as it drained: the
    // watermark advanced INTO the backlog and the live delta tail is
    // bounded by the cadence (2 triggers × cap 3), not the backlog
    val upto = MergeOnRead.compactedUpto(spark, fact)
    assert(upto >= 11L, s"expected the drain to fold its prefix, upto=$upto")
    val tail = MergeOnRead.deltaBatches(spark, fact).count(_._1 > upto)
    assert(tail <= 6, s"live tail must stay bounded by the cadence, got $tail")

    val served = IncrementalDws.current(spark, dws).get
      .select("gid", "cents", "row_ct").collect().map(_.mkString("|")).toSet
    val fullRows = MergeOnRead.read(spark, fact, pk, "__v", Some("op"))
      .groupBy(col("gid"))
      .agg(sum(col("cents")).as("cents"), count(lit(1)).as("row_ct"))
      .collect().map(_.mkString("|")).toSet
    assert(served == fullRows, "the drained fold must equal a full recompute")

    // the subscription continues normally on top of its own compactions
    MergeOnRead.merge(spark, fact, mkWave(14L, 0 until 25))
    val q2 = IncrementalDws.streamingMor(spark, fact, dws,
      groupCols = Seq("gid"), sumCols = Seq("cents"), checkpointDir = ckpt,
      maxBatchesPerTrigger = Some(3), compactEveryTriggers = Some(2))
    q2.awaitTermination(300000)
    assert(IncrementalDws.awaitPairedCompacts(fact))
    val served2 = IncrementalDws.current(spark, dws).get
      .select("gid", "cents", "row_ct").collect().map(_.mkString("|")).toSet
    val full2 = MergeOnRead.read(spark, fact, pk, "__v", Some("op"))
      .groupBy(col("gid"))
      .agg(sum(col("cents")).as("cents"), count(lit(1)).as("row_ct"))
      .collect().map(_.mkString("|")).toSet
    assert(served2 == full2)
  }

  test("point-lookup and semi-join image paths agree (maxPointKeys flip)") {
    val root = Files.createTempDirectory("morcdf_paths").toString
    val factA = s"$root/a"; val factB = s"$root/b"
    Seq(factA, factB).foreach { fact =>
      MergeOnRead.merge(spark, fact, mkWave(1L, 0 until 300))
      MergeOnRead.compact(spark, fact, pk, "__v", Some("op"), bloom = true)
      MergeOnRead.merge(spark, fact, mkWave(2L, 0 until 300 by 4))
      MergeOnRead.merge(spark, fact, mkWave(3L, 0 until 300 by 9, del = true))
    }
    def fold(fact: String, dws: String, cap: Int): Set[String] = {
      val q = IncrementalDws.streamingMor(spark, fact, dws,
        groupCols = Seq("gid"), sumCols = Seq("cents"),
        checkpointDir = s"$dws-ckpt", maxPointKeys = cap)
      q.awaitTermination(120000)
      IncrementalDws.current(spark, dws).get
        .select("gid", "cents", "row_ct")
        .collect().map(_.mkString("|")).toSet
    }
    val viaPoint = fold(factA, s"$root/dwsA", cap = 4096)
    val viaSemi = fold(factB, s"$root/dwsB", cap = 0)
    assert(viaPoint == viaSemi, s"point=$viaPoint\n semi=$viaSemi")
    val full = MergeOnRead.read(spark, factA, pk, "__v", Some("op"))
      .groupBy(col("gid"))
      .agg(sum(col("cents")).as("cents"), count(lit(1)).as("row_ct"))
      .collect().map(_.mkString("|")).toSet
    assert(viaPoint == full)
  }

  /** The (gid, Σcents, row_ct) rows a full recompute over `fact` gives. */
  private def recompute(fact: String): Set[String] =
    MergeOnRead.read(spark, fact, pk, "__v", Some("op"))
      .groupBy(col("gid"))
      .agg(sum(col("cents")).as("cents"), count(lit(1)).as("row_ct"))
      .collect().map(_.mkString("|")).toSet

  private def served(dws: String): Set[String] =
    IncrementalDws.current(spark, dws).get
      .select("gid", "cents", "row_ct").collect().map(_.mkString("|")).toSet

  /** Drain the fold once; returns the job count of each micro-batch
    * that admitted rows in this run.
    */
  private def drainCounting(log: graft.JobLog, fact: String, dws: String,
                            ckpt: String, cap: Int = 1024): Seq[Int] = {
    val q = IncrementalDws.streamingMor(spark, fact, dws,
      groupCols = Seq("gid"), sumCols = Seq("cents"), checkpointDir = ckpt,
      maxBatchesPerTrigger = Some(1), maxPointKeys = cap)
    q.awaitTermination(120000)
    val jobs = log.perBatch(q.id)
    q.recentProgress.filter(_.numInputRows > 0).map(p => jobs.getOrElse(p.batchId, 0)).toSeq
  }

  test("job budget: a point-path streamingMor micro-batch runs at most 4 Spark jobs") {
    val root = Files.createTempDirectory("morcdf_jobs").toString
    val fact = s"$root/fact"; val dws = s"$root/dws"; val ckpt = s"$root/ckpt"
    MergeOnRead.merge(spark, fact, mkWave(1L, 0 until 200))
    MergeOnRead.recordContract(spark, fact, pk, "__v", Some("op"),
      Upsert.DefaultNumBuckets)
    graft.JobLog.around(spark) { log =>
      drainCounting(log, fact, dws, ckpt) // bootstrap (kmin = 0)
      // wave 2 reaches this consumer through the feed scan only, so the
      // wave-3 fold's PRE lookup is the first readDeltaBatches of it
      MergeOnRead.merge(spark, fact, mkWave(2L, 0 until 200 by 5))
      drainCounting(log, fact, dws, ckpt)
      // caught up, one wave per trigger (a visible backlog would take
      // the carried-image path instead)
      val jobs = Seq(mkWave(3L, 3 until 200 by 7),
          mkWave(4L, 0 until 60 by 11, del = true)).flatMap { w =>
        MergeOnRead.merge(spark, fact, w)
        drainCounting(log, fact, dws, ckpt)
      }
      assert(jobs.size == 2, s"two admitted micro-batches expected, got $jobs")
      assert(jobs.forall(_ <= 4), s"jobs per point-path micro-batch: $jobs")
    }
    assert(served(dws) == recompute(fact))
  }

  test("bounded collect at its bound: batches of maxPointKeys and maxPointKeys + 1 rows fold exactly") {
    val root = Files.createTempDirectory("morcdf_bound").toString
    val fact = s"$root/fact"; val dws = s"$root/dws"; val ckpt = s"$root/ckpt"
    val cap = 8
    MergeOnRead.merge(spark, fact, mkWave(1L, 0 until 40))
    MergeOnRead.recordContract(spark, fact, pk, "__v", Some("op"),
      Upsert.DefaultNumBuckets)
    graft.JobLog.around(spark) { log =>
      drainCounting(log, fact, dws, ckpt, cap)
      // exactly cap rows: held on the driver
      MergeOnRead.merge(spark, fact, mkWave(2L, 0 until cap))
      val atCap = drainCounting(log, fact, dws, ckpt, cap)
      assert(served(dws) == recompute(fact), "cap rows")
      assert(atCap.size == 1 && atCap.head <= 4, s"a cap-row batch is held: $atCap")
      // cap + 1 rows over cap keys (one key twice): not held, the
      // capped probe still takes the point path
      MergeOnRead.merge(spark, fact,
        mkWave(3L, 10 until 10 + cap).union(mkWave(5L, 10 until 11)))
      drainCounting(log, fact, dws, ckpt, cap)
      assert(served(dws) == recompute(fact), "cap + 1 rows, cap keys")
      // cap + 1 rows over cap + 1 keys: the semi path
      MergeOnRead.merge(spark, fact, mkWave(4L, 20 until 21 + cap))
      val overCap = drainCounting(log, fact, dws, ckpt, cap)
      assert(served(dws) == recompute(fact), "cap + 1 rows, cap + 1 keys")
      assert(overCap.size == 1 && overCap.head > 4,
        s"a batch over the bound keeps the aggregation and probe jobs: $overCap")
    }
  }

  test("delta batch schema: recorded at commit, inferred for a batch without the record") {
    val root = Files.createTempDirectory("morcdf_schema").toString
    val fact = s"$root/fact"; val dws = s"$root/dws"; val ckpt = s"$root/ckpt"
    MergeOnRead.merge(spark, fact, mkWave(1L, 0 until 100))
    MergeOnRead.recordContract(spark, fact, pk, "__v", Some("op"),
      Upsert.DefaultNumBuckets)
    MergeOnRead.merge(spark, fact, mkWave(2L, 0 until 100 by 3))
    val (id, p) = MergeOnRead.deltaBatches(spark, fact).last
    val dir = new org.apache.hadoop.fs.Path(p)
    val fs = graft.io.FsOps.fs(spark, dir)
    graft.JobLog.around(spark) { log =>
      // the recorded schema serves a cold cache without a job
      graft.io.FileMeta.clear(); log.clear()
      val recorded = MergeOnRead.readDeltaBatches(spark, Seq(id -> p)).schema
      assert(log.jobs().isEmpty, "a recorded schema must not run an inference job")
      // a batch without the record (written before it existed) still
      // reads: the schema is inferred, by a job, and agrees
      fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.contains(MergeOnRead.DeltaSchemaFile))
        .foreach(fs.delete(_, false))
      graft.io.FileMeta.clear(); log.clear()
      val inferred = MergeOnRead.readDeltaBatches(spark, Seq(id -> p)).schema
      assert(log.jobs().nonEmpty, "no record: the schema is inferred")
      assert(inferred == recorded, s"inferred=$inferred\n recorded=$recorded")
    }
    // and the fold over the record-less batch stays exact
    graft.io.FileMeta.clear()
    IncrementalDws.streamingMor(spark, fact, dws, groupCols = Seq("gid"),
      sumCols = Seq("cents"), checkpointDir = ckpt,
      maxBatchesPerTrigger = Some(1)).awaitTermination(120000)
    MergeOnRead.merge(spark, fact, mkWave(3L, 0 until 100 by 4))
    graft.io.FileMeta.clear()
    IncrementalDws.streamingMor(spark, fact, dws, groupCols = Seq("gid"),
      sumCols = Seq("cents"), checkpointDir = ckpt,
      maxBatchesPerTrigger = Some(1)).awaitTermination(120000)
    assert(served(dws) == recompute(fact))
  }

  test("start order stops mattering: an empty sink-created root serves SQL, reads, and the feed as a typed empty table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = Files.createTempDirectory("morcdf_empty").toString
    val fact = s"$root/fact"
    // CREATE the empty table: contract + schema recorded durably (the
    // sink records the same pair at its first planned batch; a
    // zero-batch AvailableNow run never plans one, so explicit
    // creation is the start-order-free path)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id STRING, gid BIGINT, cents BIGINT, __v BIGINT")
    MergeOnRead.recordContract(spark, fact, Seq("id"), "__v", None,
      Upsert.DefaultNumBuckets, Some(schema))
    assert(MergeOnRead.deltaBatches(spark, fact).isEmpty, "no batch landed")
    // API read: typed empty, not a refusal
    val empty = MergeOnRead.read(spark, fact, Seq("id"), "__v")
    assert(empty.columns.toSeq == Seq("id", "gid", "cents", "__v"))
    assert(empty.count() == 0L)
    // SQL read through the catalog: same
    spark.conf.set("spark.sql.catalog.graft",
      classOf[UpsertCatalog].getName)
    assert(spark.sql(s"SELECT id, cents FROM graft.`$fact`").count() == 0L)
    // a subscriber started BEFORE the producer's first epoch drains
    // nothing, then picks the data up on its next run
    val dws = s"$root/dws"
    def drain(): Unit = {
      val q = IncrementalDws.streamingMor(spark, fact, dws,
        groupCols = Seq("gid"), sumCols = Seq("cents"),
        checkpointDir = s"$root/ckpt")
      q.awaitTermination(120000); ()
    }
    drain() // empty feed: at most a zero-row bootstrap fold
    assert(IncrementalDws.current(spark, dws).forall(_.isEmpty))
    // the producer (MOR sink) starts LAST, binding to the recorded
    // contract; its first epoch lands and the subscriber catches up
    val in = MemoryStream[(String, Long, Long, Long)]
    in.addData(("k1", 1L, 10L, 1L), ("k2", 2L, 20L, 1L))
    val q1 = UpsertStreamSink.writer(
      in.toDF().toDF("id", "gid", "cents", "__v"), fact,
      pk = Seq("id"), versionCol = "__v", mor = true)
      .option("checkpointLocation", s"$root/sinkckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q1.awaitTermination(120000)
    drain()
    val got = IncrementalDws.current(spark, dws).get
      .select("gid", "cents", "row_ct")
      .collect().map(_.mkString("|")).toSet
    assert(got == Set("1|10|1", "2|20|1"), s"got $got")
    // and when the SINK creates the table itself (first planned
    // batch), it records the schema too
    val fact2 = s"$root/fact2"
    val in2 = MemoryStream[(String, Long, Long, Long)]
    in2.addData(("k1", 1L, 10L, 1L))
    val q2 = UpsertStreamSink.writer(
      in2.toDF().toDF("id", "gid", "cents", "__v"), fact2,
      pk = Seq("id"), versionCol = "__v", mor = true)
      .option("checkpointLocation", s"$root/sinkckpt2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    assert(MergeOnRead.contractSchema(spark, fact2).isDefined,
      "the sink must record the landed schema with the contract")
  }

  test("byte-based admission drains fat batches in bounded steps; AvailableNow still finishes") {
    val root = Files.createTempDirectory("morcdf_bytes").toString
    val fact = s"$root/fact"
    (1L to 3L).foreach(w => MergeOnRead.merge(spark, fact, mkWave(w, 0 until 100)))
    MergeOnRead.recordContract(spark, fact, pk, "__v", Some("op"),
      Upsert.DefaultNumBuckets)
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    // 1-byte cap: every batch is oversized, the first pending always
    // admits — so the drain is exactly one delta batch per trigger
    val q = MorChangeFeedSource.read(spark, fact,
      maxBytesPerTrigger = Some(1L))
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = df.select(MorChangeFeedSource.BatchCol).distinct().count()
        assert(ids == 1L, s"byte cap must admit one batch per trigger, got $ids")
        batches.incrementAndGet(); ()
      }.start()
    q.awaitTermination(120000)
    assert(batches.get() == 3, s"expected 3 capped micro-batches, got ${batches.get()}")
  }

  test("composite-pk fact: point (canonical-axis Bloom lookups) and " +
       "bucket-pruned semi paths agree and match the full recompute") {
    val root = Files.createTempDirectory("morcdf_comp").toString
    val cpk = Seq("id", "part")
    def wave(w: Long, ids: Range, del: Boolean = false) =
      ids.map(i => (s"k$i", i % 3L, i % 7L, (i + w) * 10L, w,
        if (del) "delete" else "upsert"))
        .toDF("id", "part", "gid", "cents", "__v", "op")
    Seq("a", "b").foreach { m =>
      val fact = s"$root/$m/fact"
      MergeOnRead.merge(spark, fact, wave(1L, 0 until 200))
      MergeOnRead.compact(spark, fact, cpk, "__v", Some("op"), bloom = true)
      MergeOnRead.merge(spark, fact, wave(2L, 0 until 200 by 4))
      MergeOnRead.merge(spark, fact, wave(3L, 0 until 200 by 9, del = true))
    }
    def fold(m: String, cap: Int): Set[String] = {
      val q = IncrementalDws.streamingMor(spark, s"$root/$m/fact", s"$root/$m/dws",
        groupCols = Seq("gid"), sumCols = Seq("cents"),
        checkpointDir = s"$root/$m/ckpt", maxBatchesPerTrigger = Some(1),
        maxPointKeys = cap)
      q.awaitTermination(120000)
      IncrementalDws.current(spark, s"$root/$m/dws").get
        .select("gid", "cents", "row_ct")
        .collect().map(_.mkString("|")).toSet
    }
    val viaPoint = fold("a", cap = 4096)
    val viaSemi = fold("b", cap = 0)
    assert(viaPoint == viaSemi, s"point=$viaPoint\n semi=$viaSemi")
    val full = MergeOnRead.read(spark, s"$root/a/fact", cpk, "__v", Some("op"))
      .groupBy(col("gid"))
      .agg(sum(col("cents")).as("cents"), count(lit(1)).as("row_ct"))
      .collect().map(_.mkString("|")).toSet
    assert(viaPoint == full)
  }

  test("retract/add parity under additive evolution: a mid-range delta batch " +
       "carrying a NEW column telescopes exactly (single-pass derived POST)") {
    val root = Files.createTempDirectory("morcdf_evo").toString
    val fact = s"$root/fact"; val dws = s"$root/dws"
    MergeOnRead.merge(spark, fact, mkWave(1L, 0 until 150))
    MergeOnRead.compact(spark, fact, pk, "__v", Some("op"), bloom = true)
    def drain(): Unit = {
      val q = IncrementalDws.streamingMor(spark, fact, dws,
        groupCols = Seq("gid"), sumCols = Seq("cents"),
        checkpointDir = s"$root/ckpt")
      q.awaitTermination(120000); ()
    }
    drain() // consumer past batch 0 — the next range takes the DERIVED path
    // ONE admitted range [1, 2] holds BOTH shapes: an old-shape
    // correction wave and an evolved wave adding a column the base
    // predates — the derived POST (LWW of PRE ∪ admitted rows) must
    // widen exactly like the two-resolve form did
    MergeOnRead.merge(spark, fact, mkWave(2L, 0 until 150 by 4))
    MergeOnRead.merge(spark, fact,
      mkWave(3L, 0 until 150 by 6).withColumn("flag", lit("evolved")))
    drain()
    val served = IncrementalDws.current(spark, dws).get
      .select("gid", "cents", "row_ct")
      .collect().map(_.mkString("|")).toSet
    val full = MergeOnRead.read(spark, fact, pk, "__v", Some("op"))
      .groupBy(col("gid"))
      .agg(sum(col("cents")).as("cents"), count(lit(1)).as("row_ct"))
      .collect().map(_.mkString("|")).toSet
    assert(served == full, s"served=$served\n full=$full")
  }

  test("fresh consumer on a mature table (batch 0 GC'd) bootstraps from the base and converges") {
    val root = Files.createTempDirectory("morcdf_boot").toString
    val fact = s"$root/fact"; val dws = s"$root/dws"; val ckpt = s"$root/ckpt"
    // mature the fact: two compaction cycles + GC so batch 0 (and 1)
    // are gone — the ADVICE r11 state where a fresh subscriber was
    // PERMANENTLY refused (initialOffset −1, admission guard threw,
    // and its own remediation recreated the failure)
    MergeOnRead.merge(spark, fact, mkWave(1L, 0 until 200)) // batch 0
    MergeOnRead.compact(spark, fact, pk, "__v", Some("op"))
    MergeOnRead.merge(spark, fact, mkWave(2L, 0 until 200 by 2)) // batch 1
    MergeOnRead.compact(spark, fact, pk, "__v", Some("op"))
    MergeOnRead.gcCompactedDeltas(spark, fact, retainForReaders = false)
    assert(!MergeOnRead.deltaBatches(spark, fact).map(_._1).contains(0L),
      "precondition: batch 0 must be GC'd")
    // live tail past the watermark: an update wave and a delete wave
    MergeOnRead.merge(spark, fact, mkWave(3L, 100 until 250)) // batch 2
    MergeOnRead.merge(spark, fact, mkWave(4L, 0 until 250 by 5, del = true)) // batch 3

    def drain(): Unit = {
      val q = IncrementalDws.streamingMor(spark, fact, dws,
        groupCols = Seq("gid"), sumCols = Seq("cents"),
        checkpointDir = ckpt, maxBatchesPerTrigger = Some(1))
      q.awaitTermination(120000); ()
    }
    def check(tag: String): Unit = {
      val served = IncrementalDws.current(spark, dws).get
        .select("gid", "cents", "row_ct")
        .collect().map(_.mkString("|")).toSet
      val full = MergeOnRead.read(spark, fact, pk, "__v", Some("op"))
        .groupBy(col("gid"))
        .agg(sum(col("cents")).as("cents"), count(lit(1)).as("row_ct"))
        .collect().map(_.mkString("|")).toSet
      assert(served == full, s"$tag:\n served=$served\n full=$full")
    }
    // FRESH consumer: bootstrap-folds the base snapshot at the
    // compaction watermark, then streams the retained tail
    drain(); check("bootstrap + tail")
    // and keeps tracking incrementally afterwards (same checkpoint —
    // the recorded bootstrap is not re-folded on restart)
    MergeOnRead.merge(spark, fact, mkWave(5L, 0 until 100 by 3))
    drain(); check("post-bootstrap wave")
  }

  test("startingOffset: latest skips retained history; a GC'd explicit start refuses at query start") {
    val root = Files.createTempDirectory("morcdf_start").toString
    val fact = s"$root/fact"
    MergeOnRead.merge(spark, fact, mkWave(1L, 0 until 50)) // batch 0
    MergeOnRead.merge(spark, fact, mkWave(2L, 0 until 50 by 2)) // batch 1
    MergeOnRead.recordContract(spark, fact, pk, "__v", Some("op"),
      Upsert.DefaultNumBuckets)
    // latest: the AvailableNow drain target == the start → zero rows
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val q = MorChangeFeedSource.read(spark, fact,
      startingOffset = Some("latest"))
      .writeStream
      .option("checkpointLocation", s"$root/ckptL")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.addAndGet(df.count()); ()
      }.start()
    q.awaitTermination(120000)
    assert(seen.get() == 0, s"latest consumer must skip history, saw ${seen.get()}")
    // explicit id below the retained range refuses AT QUERY START
    MergeOnRead.compact(spark, fact, pk, "__v", Some("op"))
    MergeOnRead.merge(spark, fact, mkWave(3L, 0 until 50 by 3)) // batch 2
    MergeOnRead.compact(spark, fact, pk, "__v", Some("op"))
    MergeOnRead.gcCompactedDeltas(spark, fact, retainForReaders = false)
    assert(!MergeOnRead.deltaBatches(spark, fact).map(_._1).contains(0L))
    val q2 = MorChangeFeedSource.read(spark, fact,
      startingOffset = Some("-1"))
      .writeStream
      .option("checkpointLocation", s"$root/ckptE")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
      .start()
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    val e = intercept[Exception] { q2.awaitTermination(120000) }
    assert(msgs(e).exists(_.contains("is not retained")), s"got ${msgs(e)}")
  }

  test("property: random wave histories fold exactly — cross-batch version " +
       "ties, deletes, re-inserts, mid-history compaction, both image paths") {
    val rnd = new scala.util.Random(7) // fixed seed: deterministic trials
    (0 until 3).foreach { trial =>
      val root = Files.createTempDirectory(s"morcdf_prop$trial").toString
      val fact = s"$root/fact"; val dws = s"$root/dws"
      val keys = (0 until 120).map(i => s"k$i")
      def wave(): org.apache.spark.sql.DataFrame =
        // DISTINCT keys per wave: a same-version duplicate within one
        // batch resolves arbitrarily (both paths read through the same
        // resolution, but plan nondeterminism could pick different
        // rows) — cross-batch ties are the deterministic contract
        // (later batch wins) and the thing worth fuzzing
        rnd.shuffle(keys).take(30 + rnd.nextInt(60)).map { k =>
          (k, k.hashCode.abs % 7L, rnd.nextInt(500).toLong,
            rnd.nextInt(4).toLong, // few versions → frequent cross-batch ties
            if (rnd.nextInt(5) == 0) "delete" else "upsert")
        }.toDF("id", "gid", "cents", "__v", "op")
      MergeOnRead.merge(spark, fact, wave())
      MergeOnRead.compact(spark, fact, pk, "__v", Some("op"), bloom = true)
      val cap = if (trial % 2 == 0) 4096 else 0 // point vs pruned-semi
      def drain(): Unit = {
        val q = IncrementalDws.streamingMor(spark, fact, dws,
          groupCols = Seq("gid"), sumCols = Seq("cents"),
          checkpointDir = s"$root/ckpt", maxBatchesPerTrigger = Some(1),
          maxPointKeys = cap)
        q.awaitTermination(120000); ()
      }
      (0 until 5).foreach { w =>
        MergeOnRead.merge(spark, fact, wave())
        if (w == 2) // compaction racing the subscription mid-history
          graft.io.Maintenance.runMor(spark, fact, pk, "__v",
            deleteFlagCol = Some("op"),
            policy = graft.io.Maintenance.Policy(maxDeltaBatches = 0))
        drain()
      }
      val served = IncrementalDws.current(spark, dws).get
        .select("gid", "cents", "row_ct")
        .collect().map(_.mkString("|")).toSet
      val full = MergeOnRead.read(spark, fact, pk, "__v", Some("op"))
        .groupBy(col("gid"))
        .agg(sum(col("cents")).as("cents"), count(lit(1)).as("row_ct"))
        .collect().map(_.mkString("|")).toSet
      assert(served == full, s"trial=$trial cap=$cap:\n served=$served\n full=$full")
    }
  }

  test("batch changes(from, to]: signed fold == snapshot diff; bootstrap and refusal forms") {
    val root = Files.createTempDirectory("morcdf_batch").toString
    val fact = s"$root/t"
    MergeOnRead.merge(spark, fact, mkWave(1L, 0 until 200))            // batch 0
    MergeOnRead.compact(spark, fact, pk, "__v", Some("op"))            // upto=0
    MergeOnRead.merge(spark, fact, mkWave(2L, 0 until 200 by 3))       // batch 1
    MergeOnRead.merge(spark, fact, mkWave(3L, 0 until 200 by 5, del = true)) // 2
    MergeOnRead.merge(spark, fact, mkWave(4L, 150 until 250))          // batch 3

    def state(v: Long) = MergeOnRead
      .readPinned(spark, fact, MergeOnRead.snapshotAt(spark, fact, v),
        pk, "__v", Some("op"), MergeOnRead.DefaultBroadcastDeltaBytes)
      .groupBy("gid").agg(sum("cents").as("cents"), count(lit(1)).as("rows"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      .withDefaultValue((0L, 0L))

    // signed fold of changes(1, 3] must equal state@3 − state@1
    val ch = MorChangeFeed.changes(spark, fact, 1L, 3L)
    val signed = when(col(graft.io.ChangeFeed.ChangeCol) === "add", lit(1L))
      .otherwise(lit(-1L))
    val folded = ch.groupBy("gid")
      .agg(sum(signed * col("cents")).as("dc"), sum(signed).as("dr"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (s1, s3) = (state(1L), state(3L))
    (s1.keySet ++ s3.keySet).foreach { g =>
      val want = (s3(g)._1 - s1(g)._1, s3(g)._2 - s1(g)._2)
      val got = folded.getOrElse(g, (0L, 0L))
      assert(got == want, s"gid=$g: changes fold $got != snapshot diff $want")
    }

    // from-birth form: every resolved row at `to` is one add
    val birth = MorChangeFeed.changes(spark, fact, -1L, 3L)
    assert(birth.filter(col(graft.io.ChangeFeed.ChangeCol) =!= "add").count() == 0)
    assert(birth.count() ==
      MergeOnRead.read(spark, fact, pk, "__v", Some("op")).count())

    // refusals: inverted range; a future batch; a GC'd range
    intercept[IllegalArgumentException] {
      MorChangeFeed.changes(spark, fact, 3L, 3L)
    }
    intercept[IllegalArgumentException] {
      MorChangeFeed.changes(spark, fact, 1L, 99L)
    }
    // compact + GC: batches ≤ previous watermark are collected after
    // the SECOND compaction cycle; the range naming them refuses
    MergeOnRead.compact(spark, fact, pk, "__v", Some("op"))
    MergeOnRead.merge(spark, fact, mkWave(5L, 0 until 10))             // batch 4
    MergeOnRead.compact(spark, fact, pk, "__v", Some("op"))
    val gcd = intercept[IllegalStateException] {
      MorChangeFeed.changes(spark, fact, -1L, 2L)
    }
    assert(gcd.getMessage.contains("GC'd"))
  }

  test("changes() after ALTER: dropped columns never resurrect; range and bootstrap shapes agree") {
    val root = Files.createTempDirectory("morcdf_alter").toString
    val fact = s"$root/t"
    // batches carry a column that will be dropped AFTER they land
    def waveWithSrc(w: Long, ids: Range) =
      ids.map(i => (s"k$i", i % 7L, (i + w) * 10L, "legacy", w, "upsert"))
        .toDF("id", "gid", "cents", "src", "__v", "op")
    MergeOnRead.merge(spark, fact, waveWithSrc(1L, 0 until 100))      // batch 0
    MergeOnRead.compact(spark, fact, pk, "__v", Some("op"))           // upto=0
    MergeOnRead.merge(spark, fact, waveWithSrc(2L, 0 until 100 by 5)) // batch 1
    MergeOnRead.merge(spark, fact, waveWithSrc(3L, 50 until 150))     // batch 2
    graft.io.MergeOnRead.dropColumns(spark, fact, Seq("src"))
    graft.io.MergeOnRead.addColumns(spark, fact,
      Seq(org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType)))
    // the range form derives from RAW pre-drop batch rows — the
    // emitted change rows must still reconcile (no 'src', typed 'note')
    val ranged = MorChangeFeed.changes(spark, fact, 0L, 2L)
    assert(!ranged.columns.contains("src"),
      s"dropped column resurrected: ${ranged.columns.mkString(",")}")
    assert(ranged.columns.contains("note"))
    // bootstrap form must present the SAME shape
    val birth = MorChangeFeed.changes(spark, fact, -1L, 2L)
    assert(ranged.columns.sorted.toSeq == birth.columns.sorted.toSeq,
      s"range ${ranged.columns.mkString(",")} != birth ${birth.columns.mkString(",")}")
    // and the signed fold still equals the snapshot diff
    val signed = when(col(graft.io.ChangeFeed.ChangeCol) === "add", lit(1L))
      .otherwise(lit(-1L))
    def tot(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(signed * col("cents"))).head().getLong(0)
    val s0 = MergeOnRead.readPinned(spark, fact,
        MergeOnRead.snapshotAt(spark, fact, 0L), pk, "__v", Some("op"),
        MergeOnRead.DefaultBroadcastDeltaBytes)
      .agg(sum("cents")).head().getLong(0)
    val s2 = MergeOnRead.read(spark, fact, pk, "__v", Some("op"))
      .agg(sum("cents")).head().getLong(0)
    assert(tot(ranged) == s2 - s0)
  }

  test("GC past a consumer's watermark refuses loudly (no silent gap)") {
    val root = Files.createTempDirectory("morcdf_gc").toString
    val fact = s"$root/fact"; val dws = s"$root/dws"; val ckpt = s"$root/ckpt"
    MergeOnRead.merge(spark, fact, mkWave(1L, 0 until 100))
    MergeOnRead.recordContract(spark, fact, pk, "__v", Some("op"),
      Upsert.DefaultNumBuckets)
    val q0 = IncrementalDws.streamingMor(spark, fact, dws,
      groupCols = Seq("gid"), sumCols = Seq("cents"), checkpointDir = ckpt)
    q0.awaitTermination(120000) // consumer at batch 0
    // producer appends batches 1-2, compacts TWICE and force-GCs:
    // batch 1 vanishes while the consumer still needs it
    MergeOnRead.merge(spark, fact, mkWave(2L, 0 until 100 by 2))
    MergeOnRead.compact(spark, fact, pk, "__v", Some("op"))
    MergeOnRead.merge(spark, fact, mkWave(3L, 0 until 100 by 3))
    MergeOnRead.compact(spark, fact, pk, "__v", Some("op"))
    MergeOnRead.gcCompactedDeltas(spark, fact, retainForReaders = false)
    assert(!MergeOnRead.deltaBatches(spark, fact).map(_._1).contains(1L),
      "precondition: batch 1 must be GC'd")
    val q1 = IncrementalDws.streamingMor(spark, fact, dws,
      groupCols = Seq("gid"), sumCols = Seq("cents"), checkpointDir = ckpt)
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    val e = intercept[Exception] { q1.awaitTermination(120000) }
    assert(msgs(e).exists(_.contains("GC'd past this consumer's watermark")),
      s"got ${msgs(e)}")
  }
}
