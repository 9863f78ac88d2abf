package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.io.{MergeOnRead, Upsert}

/** VERDICT r2 #3 — merge-on-read equals copy-on-write: the same batch
  * sequence applied through MergeOnRead.merge (O(batch) delta appends)
  * and through Upsert.merge (bucket rewrites) must resolve to the same
  * table content at every step, before and after compaction, across
  * inserts, corrections, out-of-order versions, and deletes.
  */
class MergeOnReadSpec extends SparkSpec {
  import spark.implicits._

  private val pk = Seq("id")
  private type RowT = (String, String, Long, Long, String)

  private def content(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long, Long, String)] =
    df.select("id", "province_id", "ver", "amount_cents", "op")
      .as[(String, String, Long, Long, String)].collect().toSet

  test("read-after-N-merges equals copy-on-write at every step; compaction preserves it") {
    val root = Files.createTempDirectory("mor").toString
    val morDir = s"$root/mor"; val cowDir = s"$root/cow"

    def applyBoth(rows: Seq[RowT]): Unit = {
      val df = rows.toDF("id", "province_id", "ver", "amount_cents", "op")
      MergeOnRead.merge(spark, morDir, df)
      Upsert.merge(spark, cowDir, df, pk, versionCol = "ver", deleteFlagCol = Some("op"))
    }
    def morContent() = content(
      MergeOnRead.read(spark, morDir, pk, "ver", deleteFlagCol = Some("op")))
    def cowContent() = content(Upsert.read(spark, cowDir))

    // batch 0: inserts
    applyBoth(Seq(("d1", "p1", 1L, 1000L, "insert"), ("d2", "p1", 1L, 550L, "insert"),
      ("d3", "p2", 1L, 725L, "insert")))
    assert(morContent() == cowContent())

    // batch 1: correction + new row
    applyBoth(Seq(("d1", "p1", 2L, 1200L, "update"), ("d4", "p2", 2L, 300L, "insert")))
    assert(morContent() == cowContent())

    // batch 2: stale out-of-order version is a no-op
    applyBoth(Seq(("d1", "p1", 1L, 999L, "update")))
    assert(morContent() == cowContent())

    // compact mid-sequence: content unchanged, deltas folded; the
    // folded batches are RETAINED one cycle for readers still on the
    // pre-compaction snapshot (ADVICE r4) — read() already ignores them
    MergeOnRead.compact(spark, morDir, pk, "ver", deleteFlagCol = Some("op"))
    assert(MergeOnRead.compactedUpto(spark, morDir) == 2L)
    assert(MergeOnRead.deltaBatches(spark, morDir).map(_._1) == Seq(0L, 1L, 2L),
      "folded deltas survive one compaction cycle for in-flight readers")
    assert(morContent() == cowContent())

    // batch 3 (post-compaction): delete d3 and ALL of p2's rows
    applyBoth(Seq(("d3", "p2", 3L, 725L, "delete"), ("d4", "p2", 3L, 300L, "delete")))
    assert(morContent() == cowContent())
    assert(!morContent().exists(_._2 == "p2"), "deleted province must vanish")

    // batch ids stay monotonic across compaction (no reuse of folded ids)
    assert(MergeOnRead.deltaBatches(spark, morDir).map(_._1) == Seq(0L, 1L, 2L, 3L))

    // second compaction applies the deletes into the base AND retires
    // the previous cycle's folded deltas (every retained manifest has
    // folded batches ≤ 2 now)
    MergeOnRead.compact(spark, morDir, pk, "ver", deleteFlagCol = Some("op"))
    assert(MergeOnRead.deltaBatches(spark, morDir).map(_._1) == Seq(3L),
      "prior-cycle deltas GC'd, just-folded batch retained")
    assert(morContent() == cowContent())

    // a delete of an already-compacted-away key stays deleted
    applyBoth(Seq(("d3", "p2", 4L, 0L, "insert")))
    assert(morContent() == cowContent())

    // broadcast fast path and windowed fallback agree at every state
    assert(morContent() == content(MergeOnRead.read(spark, morDir, pk, "ver",
      deleteFlagCol = Some("op"), maxBroadcastDeltaBytes = 0L)))
  }

  test("read resolution never shuffles the base: only delta rows exchange (VERDICT r3 #2)") {
    val root = Files.createTempDirectory("mor_plan").toString
    val dir = s"$root/t"
    MergeOnRead.merge(spark, dir,
      (1 to 500).map(i => (s"k$i", "p1", 1L, i.toLong, "insert"))
        .toDF("id", "province_id", "ver", "amount_cents", "op"))
    MergeOnRead.compact(spark, dir, pk, "ver", Some("op"))
    MergeOnRead.merge(spark, dir, Seq(("k1", "p1", 2L, 20L, "update"),
      ("kNEW", "p9", 2L, 7L, "insert"), ("k3", "p1", 2L, 0L, "delete"))
      .toDF("id", "province_id", "ver", "amount_cents", "op"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = MergeOnRead.read(spark, dir, pk, "ver", Some("op"))
      val plan = df.queryExecution.executedPlan
      val pStr = plan.toString
      assert(!pStr.contains("BroadcastNestedLoopJoin"), s"BNLJ in resolution plan:\n$pStr")
      // THE gate: every shuffle exchange's subtree reads only delta
      // files — the base streams scan → broadcast-join → union without
      // ever repartitioning, so read cost tracks O(deltas) at 100 TB
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.nonEmpty, "expected the delta-winners window shuffle")
      shuffles.foreach { s =>
        val scanned = s.collect { case f: FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
        }.flatten
        assert(scanned.forall(p => !p.endsWith("/base")),
          s"base files entered a shuffle exchange:\n$scanned\n$pStr")
      }
      // and the fast path equals the windowed fallback row-for-row
      val fast = content(df)
      val slow = content(MergeOnRead.read(spark, dir, pk, "ver", Some("op"),
        maxBroadcastDeltaBytes = 0L))
      assert(fast == slow, "broadcast fast path must match windowed fallback")
      assert(fast.exists(_._1 == "kNEW") && !fast.exists(_._1 == "k3")
        && fast.find(_._1 == "k1").get._4 == 20L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("big-delta path: base zips through its reported bucket layout, only deltas exchange") {
    val root = Files.createTempDirectory("mor_spj").toString
    val dir = s"$root/t"
    MergeOnRead.merge(spark, dir,
      (1 to 500).map(i => (s"k$i", "p1", 1L, i.toLong, "insert"))
        .toDF("id", "province_id", "ver", "amount_cents", "op"))
    MergeOnRead.compact(spark, dir, pk, "ver", Some("op"))
    MergeOnRead.merge(spark, dir, Seq(("k2", "p1", 2L, 22L, "update"),
      ("kX", "p9", 2L, 5L, "insert"))
      .toDF("id", "province_id", "ver", "amount_cents", "op"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = MergeOnRead.read(spark, dir, pk, "ver", Some("op"),
        maxBroadcastDeltaBytes = 0L) // force the big-delta path
      val plan = df.queryExecution.executedPlan
      val pStr = plan.toString
      assert(pStr.contains("UpsertBucketScan"),
        s"big-delta path must read the base through the DSv2 bucket reader:\n$pStr")
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.nonEmpty, "expected the delta-side exchanges")
      // THE gate: no exchange subtree contains the base scan — the base
      // arrives at the join through its reported KeyGroupedPartitioning
      shuffles.foreach { s =>
        assert(!s.toString.contains("UpsertBucketScan"),
          s"base scan entered a shuffle exchange:\n$pStr")
      }
      val rows = content(df)
      assert(rows.exists(_._1 == "kX") && rows.find(_._1 == "k2").get._4 == 22L)
      assert(rows.size == 501)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("fast path reads the base full-width once; the existence probe is PK-only") {
    val root = Files.createTempDirectory("mor_scan").toString
    val dir = s"$root/t"
    MergeOnRead.merge(spark, dir,
      (1 to 300).map(i => (s"k$i", "p1", 1L, i.toLong, "insert"))
        .toDF("id", "province_id", "ver", "amount_cents", "op"))
    MergeOnRead.compact(spark, dir, pk, "ver", Some("op"))
    MergeOnRead.merge(spark, dir, Seq(("k1", "p1", 2L, 99L, "update"),
      ("kX", "p2", 2L, 5L, "insert"))
      .toDF("id", "province_id", "ver", "amount_cents", "op"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = MergeOnRead.read(spark, dir, pk, "ver", Some("op"))
      import org.apache.spark.sql.execution.FileSourceScanExec
      val baseScans = df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.endsWith("/base")) => f
      }
      // the cost model broadcastResolve documents: one full-width base
      // scan + one column-pruned PK-only probe for delta-only keys —
      // never two wide passes over a 100 TB base
      assert(baseScans.size == 2,
        s"expected full-width scan + PK probe, got ${baseScans.size} base scans")
      val widths = baseScans.map(_.output.map(_.name).toSet)
      assert(widths.count(_ == pk.toSet) == 1,
        s"exactly one base scan restricted to the PK, got $widths")
      assert(widths.count(w => w.size > pk.size) == 1,
        s"exactly one full-width base scan, got $widths")
      assert(content(df).exists(_._1 == "kX"), "delta-only key present")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("merge is idempotent under replay via commitId") {
    val root = Files.createTempDirectory("mor_replay").toString
    val dir = s"$root/t"
    val b = Seq(("k1", "p1", 1L, 10L, "insert")).toDF("id", "province_id", "ver", "amount_cents", "op")
    MergeOnRead.merge(spark, dir, b, commitId = Some("b0"))
    MergeOnRead.merge(spark, dir, b, commitId = Some("b0")) // replay
    assert(MergeOnRead.deltaBatches(spark, dir).size == 1)
  }

  test("a crash between base swap and delta GC loses nothing (stray deltas ignored)") {
    val root = Files.createTempDirectory("mor_crash").toString
    val dir = s"$root/t"
    def add(rows: Seq[RowT]): Unit =
      MergeOnRead.merge(spark, dir, rows.toDF("id", "province_id", "ver", "amount_cents", "op"))
    add(Seq(("k1", "p1", 1L, 10L, "insert")))
    add(Seq(("k1", "p1", 2L, 20L, "update")))
    MergeOnRead.compact(spark, dir, pk, "ver", deleteFlagCol = Some("op"))

    // the folded batches are still on disk (one-cycle retention) —
    // exactly the state a crash between base swap and delta GC leaves;
    // read() must ignore everything at or below the watermark
    assert(MergeOnRead.deltaBatches(spark, dir).map(_._1) == Seq(0L, 1L))
    assert(content(MergeOnRead.read(spark, dir, pk, "ver", Some("op"))) ==
      Set(("k1", "p1", 2L, 20L, "update")), "folded/stray deltas must be invisible")

    // offline force-GC (no readers to protect) clears everything folded
    MergeOnRead.gcCompactedDeltas(spark, dir, retainForReaders = false)
    assert(MergeOnRead.deltaBatches(spark, dir).isEmpty)
  }

  test("a reader on the previous snapshot survives a compaction: its deltas outlive one cycle (ADVICE r4)") {
    val root = Files.createTempDirectory("mor_retain").toString
    val dir = s"$root/t"
    def add(rows: Seq[RowT]): Unit =
      MergeOnRead.merge(spark, dir, rows.toDF("id", "province_id", "ver", "amount_cents", "op"))
    add(Seq(("k1", "p1", 1L, 10L, "insert")))          // batch 0
    MergeOnRead.compact(spark, dir, pk, "ver", Some("op")) // manifest A: upto=0
    add(Seq(("k2", "p1", 1L, 20L, "insert")))          // batch 1
    // a reader resolves snapshot A now: (manifest A, upto=0, deltas {1})
    val baseDir = s"$dir/base"
    val genA = Upsert.currentManifest(spark, baseDir).get.gen

    MergeOnRead.compact(spark, dir, pk, "ver", Some("op")) // manifest B: upto=1
    // after the compaction the reader's WHOLE snapshot is still intact:
    // manifest A's base files (vacuum keep=2) AND delta batch 1 (the
    // one-cycle retention) — so it finishes scanning without a
    // FileNotFoundException and sees exactly the pre-compaction content
    val baseA = Upsert.readAt(spark, baseDir, genA)
    val delta1 = spark.read.parquet(s"$dir/delta/batch=1")
    val snapA = baseA.select("id", "amount_cents").unionByName(
      delta1.select("id", "amount_cents"))
      .as[(String, Long)].collect().toSet
    assert(snapA == Set(("k1", 10L), ("k2", 20L)),
      "previous snapshot (old base + its live deltas) fully readable post-compaction")

    // one more cycle retires batch 1
    add(Seq(("k3", "p1", 1L, 30L, "insert")))          // batch 2
    MergeOnRead.compact(spark, dir, pk, "ver", Some("op")) // manifest C: upto=2
    assert(MergeOnRead.deltaBatches(spark, dir).map(_._1) == Seq(2L),
      "deltas folded by every retained manifest are GC'd")
  }

  test("NULL versions: broadcast fast path, windowed fallback, and CoW all agree (VERDICT r4 #2)") {
    val root = Files.createTempDirectory("mor_nullver").toString
    val morDir = s"$root/mor"; val cowDir = s"$root/cow"
    def applyBoth(rows: Seq[(String, String, Option[Long], Long, String)]): Unit = {
      val df = rows.toDF("id", "province_id", "ver", "amount_cents", "op")
      MergeOnRead.merge(spark, morDir, df)
      Upsert.merge(spark, cowDir, df, pk, versionCol = "ver", deleteFlagCol = Some("op"))
    }
    // base rows k1/k2 carry NULL versions — a LEGACY base left by a
    // pre-refusal engine. recordContract/compact now REFUSE such
    // content (ADVICE r10: the SQL schema would claim NOT NULL over
    // live nulls), so the state is fabricated directly: the read path
    // must still resolve on-disk legacy states deterministically via
    // its null-aware ordering
    applyBoth(Seq(("k1", "p1", None, 10L, "insert"),
      ("k2", "p1", None, 20L, "insert"), ("k3", "p1", Some(5L), 30L, "insert")))
    Upsert.overwriteSnapshot(spark, s"$morDir/base",
      Seq[(String, String, Option[Long], Long, String)](
        ("k1", "p1", None, 10L, "insert"), ("k2", "p1", None, 20L, "insert"),
        ("k3", "p1", Some(5L), 30L, "insert"))
        .toDF("id", "province_id", "ver", "amount_cents", "op"),
      props = Map("upto" -> "0", "numBuckets" -> "1"))
    // later deltas are non-null by construction: a non-null
    // delta supersedes a NULL base (k1); a null base row nobody
    // corrects survives as-is (k2); and a delta with a LOWER version
    // than its non-null base loses the (ver, batch) order (k3)
    applyBoth(Seq(("k1", "p1", Some(7L), 11L, "update"),
      ("k3", "p1", Some(1L), 33L, "update")))
    def got(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.select("id", "amount_cents").as[(String, Long)].collect().toMap
    val fast = got(MergeOnRead.read(spark, morDir, pk, "ver", Some("op")))
    val slow = got(MergeOnRead.read(spark, morDir, pk, "ver", Some("op"),
      maxBroadcastDeltaBytes = 0L))
    val cow = got(Upsert.read(spark, cowDir))
    assert(fast == slow, s"fast $fast != fallback $slow on NULL versions")
    assert(fast == cow, s"MOR $fast != CoW $cow on NULL versions")
    assert(fast == Map("k1" -> 11L, "k2" -> 20L, "k3" -> 30L), s"got $fast")
  }

  test("NULL primary keys: the fast path's null-safe joins agree with the " +
       "windowed fallback (one winner per null key, not two rows)") {
    val root = Files.createTempDirectory("mor_nullpk").toString
    val morDir = s"$root/mor"
    def merge(rows: Seq[(Option[String], String, Long, Long, String)]): Unit =
      MergeOnRead.merge(spark, morDir,
        rows.toDF("id", "province_id", "ver", "amount_cents", "op"))
    // a LEGACY null-PK base row left by a pre-refusal engine —
    // recordContract/compact now refuse such content (ADVICE r10), so
    // the on-disk state is fabricated directly; the read path must
    // still resolve it
    merge(Seq((Some("k1"), "p1", 1L, 10L, "insert"),
      (None, "p1", 1L, 50L, "insert")))
    Upsert.overwriteSnapshot(spark, s"$morDir/base",
      Seq[(Option[String], String, Long, Long, String)](
        (Some("k1"), "p1", 1L, 10L, "insert"), (None, "p1", 1L, 50L, "insert"))
        .toDF("id", "province_id", "ver", "amount_cents", "op"),
      props = Map("upto" -> "0", "numBuckets" -> "1"))
    // later deltas touch real keys only: the null-PK base row
    // must pass through the fast path's null-safe joins EXACTLY ONCE —
    // neither dropped by a plain === nor duplicated by the outer side
    merge(Seq((Some("k1"), "p1", 2L, 11L, "update")))
    def got(df: org.apache.spark.sql.DataFrame): Seq[(Option[String], Long)] =
      df.select("id", "amount_cents").as[(Option[String], Long)]
        .collect().toSeq.sortBy(_._2)
    val fast = got(MergeOnRead.read(spark, morDir, pk, "ver", Some("op")))
    val slow = got(MergeOnRead.read(spark, morDir, pk, "ver", Some("op"),
      maxBroadcastDeltaBytes = 0L))
    assert(fast == slow, s"fast $fast != fallback $slow on a NULL PK")
    assert(fast == Seq((Some("k1"), 11L), (None, 50L)), s"got $fast")
  }

  test("bloomed compaction + point lookup resolve base and deltas correctly") {
    val root = Files.createTempDirectory("mor_lookup").toString
    val dir = s"$root/t"
    MergeOnRead.merge(spark, dir,
      (1 to 300).map(i => (s"k$i", "p", 1L, i.toLong, "insert"))
        .toDF("id", "province_id", "ver", "amount_cents", "op"))
    MergeOnRead.compact(spark, dir, pk, "ver", Some("op"), bloom = true)
    // every dir holding base data files carries a Bloom sidecar
    val fs = new org.apache.hadoop.fs.Path(s"$dir/base")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val man = Upsert.currentManifest(spark, s"$dir/base").get
    val parents = man.allFiles.map(r => r.substring(0, r.lastIndexOf('/'))).distinct
    assert(parents.nonEmpty && parents.forall(p =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/base/$p", "_bloom.json"))))

    // post-compaction deltas: an update and a delete
    MergeOnRead.merge(spark, dir, Seq(
      ("k5", "p", 2L, 999L, "update"), ("k7", "p", 2L, 0L, "delete"))
      .toDF("id", "province_id", "ver", "amount_cents", "op"))

    val looked = MergeOnRead.lookup(spark, dir, "id", Seq("k5", "k7", "k9"),
      "ver", Some("op"))
      .select("id", "amount_cents").as[(String, Long)].collect().toMap
    assert(looked == Map("k5" -> 999L, "k9" -> 9L), s"got $looked")
    // parity with the full read restricted to the same keys
    val full = MergeOnRead.read(spark, dir, pk, "ver", Some("op"))
      .filter(col("id").isin("k5", "k7", "k9"))
      .select("id", "amount_cents").as[(String, Long)].collect().toMap
    assert(full == looked)
  }

  test("baseBuckets pruning: the PRE-image scan lists ONLY the touched " +
       "buckets' base files; content matches the full read for those keys") {
    val root = Files.createTempDirectory("mor_prune").toString
    val dir = s"$root/t"
    MergeOnRead.merge(spark, dir,
      (1 to 400).map(i => (s"k$i", "p", 1L, i.toLong, "insert"))
        .toDF("id", "province_id", "ver", "amount_cents", "op"))
    MergeOnRead.compact(spark, dir, pk, "ver", Some("op"), numBuckets = 16)
    MergeOnRead.merge(spark, dir, Seq(("k5", "p", 2L, 999L, "update"))
      .toDF("id", "province_id", "ver", "amount_cents", "op"))
    val snap = MergeOnRead.currentSnapshot(spark, dir)
    val keysDf = Seq("k5", "k9", "k11").toDF("id")
    val touched = MergeOnRead.touchedBuckets(keysDf, pk, 16)
    assert(touched.nonEmpty && touched.size < 16)
    val pruned = MergeOnRead.readPinned(spark, dir, snap, pk, "ver",
      Some("op"), MergeOnRead.DefaultBroadcastDeltaBytes,
      baseBuckets = Some(touched))
    val fullRead = MergeOnRead.readPinned(spark, dir, snap, pk, "ver",
      Some("op"), MergeOnRead.DefaultBroadcastDeltaBytes)
    // the plan's base inputs shrink to exactly the touched buckets'
    // manifest files (deltas stay fully read — blind appends)
    val man = Upsert.currentManifest(spark, s"$dir/base").get
    def baseInputs(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.filter(_.contains("/base/")).toSet
    val touchedFiles = man.files.filter { case (b, _) => touched(b) }
      .values.flatten.map(r => s"$dir/base/$r").toSet
    val got = baseInputs(pruned).map(_.replaceFirst("^file:/*", "/"))
    assert(got == touchedFiles, s"pruned scan lists\n$got\nwant\n$touchedFiles")
    assert(baseInputs(fullRead).size > got.size,
      "the full read must scan more base files than the pruned one")
    // content parity for the restricted keys
    def of(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("id").isin("k5", "k9", "k11"))
        .select("id", "amount_cents").as[(String, Long)].collect().toMap
    assert(of(pruned) == of(fullRead))
    assert(of(pruned) == Map("k5" -> 999L, "k9" -> 9L, "k11" -> 11L))
  }

  test("baseBuckets pruning holds on the BIG-DELTA SPJ path: over-budget " +
       "waves scan the touched fraction, never the full base (VERDICT r13 #5)") {
    val root = Files.createTempDirectory("mor_prune_spj").toString
    val dir = s"$root/t"
    MergeOnRead.merge(spark, dir,
      (1 to 400).map(i => (s"k$i", "p", 1L, i.toLong, "insert"))
        .toDF("id", "province_id", "ver", "amount_cents", "op"))
    MergeOnRead.compact(spark, dir, pk, "ver", Some("op"), numBuckets = 16)
    MergeOnRead.merge(spark, dir, Seq(("k5", "p", 2L, 999L, "update"))
      .toDF("id", "province_id", "ver", "amount_cents", "op"))
    val snap = MergeOnRead.currentSnapshot(spark, dir)
    val keysDf = Seq("k5", "k9", "k11").toDF("id")
    val touched = MergeOnRead.touchedBuckets(keysDf, pk, 16)
    assert(touched.nonEmpty && touched.size < 16)
    // maxBroadcastDeltaBytes = 0 forces the SPJ resolve — before r14
    // this path ignored the restriction and scanned every base bucket
    val pruned = MergeOnRead.readPinned(spark, dir, snap, pk, "ver",
      Some("op"), 0L, baseBuckets = Some(touched))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains(s"buckets=${touched.size}/16"),
      s"the SPJ base scan must plan only the touched buckets:\n$plan")
    // content parity with the full read for the restricted keys, and
    // the in-restriction delta winner (k5) resolves through the merge
    val fullRead = MergeOnRead.readPinned(spark, dir, snap, pk, "ver",
      Some("op"), 0L)
    def of(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("id").isin("k5", "k9", "k11"))
        .select("id", "amount_cents").as[(String, Long)].collect().toMap
    assert(of(pruned) == of(fullRead))
    assert(of(pruned) == Map("k5" -> 999L, "k9" -> 9L, "k11" -> 11L))
  }

  test("composite-pk lookupKeys is EXACT: canonical-concatenation collisions " +
       "are filtered component-wise; parity with the full read") {
    val root = Files.createTempDirectory("mor_clookup").toString
    val dir = s"$root/t"
    val sep = "\u0001" // the canonical-axis separator, planted IN the data
    val rows = ((1 to 100).map(i => (s"k$i", s"part$i", 1L, i.toLong, "insert")) ++
      // a crafted collision: ("k5part5", "") concatenates to the
      // SAME canonical as ("k5", "part5") — narrowing may admit it,
      // the exact residual must remove it
      Seq((s"k5${sep}part5", "", 1L, 777L, "insert")))
      .toDF("id", "province_id", "ver", "amount_cents", "op")
    MergeOnRead.merge(spark, dir, rows)
    MergeOnRead.compact(spark, dir, Seq("id", "province_id"), "ver",
      Some("op"), numBuckets = 8, bloom = true)
    MergeOnRead.merge(spark, dir, Seq(("k5", "part5", 2L, 999L, "update"))
      .toDF("id", "province_id", "ver", "amount_cents", "op"))
    val got = MergeOnRead.lookupKeys(spark, dir, Seq("id", "province_id"),
      keys = Seq(Seq("k5", "part5"), Seq("k9", "part9")), versionCol = "ver",
      deleteFlagCol = Some("op"))
      .select("id", "amount_cents").as[(String, Long)].collect().toMap
    assert(got == Map("k5" -> 999L, "k9" -> 9L), s"got $got")
    // the collision row exists in the table but not in the lookup
    val full = MergeOnRead.read(spark, dir, Seq("id", "province_id"), "ver", Some("op"))
    assert(full.filter(col("id") === s"k5${sep}part5").count() == 1)
  }

  test("merge never opens the base: write cost is O(batch) for a firehose batch") {
    val root = Files.createTempDirectory("mor_cost").toString
    val dir = s"$root/t"
    // seed a base through compaction
    MergeOnRead.merge(spark, dir,
      (1 to 1000).map(i => (s"k$i", "p", 1L, i.toLong, "insert"))
        .toDF("id", "province_id", "ver", "amount_cents", "op"))
    MergeOnRead.compact(spark, dir, pk, "ver", Some("op"))
    val baseFiles = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/base")
      val fs = graft.io.FsOps.fs(spark, p)
      fs.listStatus(p).length
    }
    assert(baseFiles > 0)
    // firehose batch touching random keys across the whole key space:
    // the delta append must not read a single base file — assert no
    // scan of the base path appears in any job run during the merge
    @volatile var sawBaseScan = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (js.properties != null) {
          val desc = String.valueOf(js.properties.getProperty("spark.job.description"))
          if (desc.contains("/base")) sawBaseScan = true
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      MergeOnRead.merge(spark, dir,
        (1 to 500).map(i => (s"k${i * 2}", "p", 2L, 0L, "update"))
          .toDF("id", "province_id", "ver", "amount_cents", "op"))
      Thread.sleep(1500)
      assert(!sawBaseScan, "delta append must not scan the base")
    } finally spark.sparkContext.removeSparkListener(listener)
    // and the result is still correct
    val got = MergeOnRead.read(spark, dir, pk, "ver", Some("op"))
      .filter(col("id") === "k2").select("amount_cents").as[Long].head()
    assert(got == 0L)
  }

  test("schema evolution: an evolved delta batch resolves on both read paths, " +
       "lookups see it, and compaction folds the widened shape") {
    val dir = java.nio.file.Files.createTempDirectory("mor_evolve").toString
    MergeOnRead.merge(spark, dir,
      Seq(("k1", 1L, 100L), ("k2", 1L, 200L)).toDF("id", "ver", "cents"))
    MergeOnRead.compact(spark, dir, pk, "ver") // base with the ORIGINAL shape
    // evolved delta: new column, plus a batch row omitting nothing
    MergeOnRead.merge(spark, dir,
      Seq(("k2", 2L, 250L, "promo"), ("k3", 1L, 300L, "new")).toDF("id", "ver", "cents", "tag"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "ver", "cents", "tag")
        .as[(String, Long, Long, String)].collect().toSet
    val expected = Set(
      ("k1", 1L, 100L, null: String), // pre-evolution base row: NULL tag
      ("k2", 2L, 250L, "promo"),
      ("k3", 1L, 300L, "new"))
    val fast = rows(MergeOnRead.read(spark, dir, pk, "ver"))
    val slow = rows(MergeOnRead.read(spark, dir, pk, "ver", maxBroadcastDeltaBytes = 0L))
    assert(fast == expected, s"fast path: $fast")
    assert(slow == expected, "windowed fallback must agree with the fast path")
    // point lookup across the evolved boundary
    val hit = MergeOnRead.lookup(spark, dir, "id", Seq("k1", "k2"), "ver")
    assert(rows(hit) == expected.filter(r => r._1 == "k1" || r._1 == "k2"))
    // compaction folds everything into a base with the widened shape
    MergeOnRead.compact(spark, dir, pk, "ver")
    assert(rows(MergeOnRead.read(spark, dir, pk, "ver")) == expected)
  }

  test("bucket-pruned read that keeps NOTHING serves a typed empty frame, even on a pre-schemaDDL contract") {
    val root = Files.createTempDirectory("mor_prune_empty").toString
    val dir = s"$root/t"
    MergeOnRead.merge(spark, dir,
      (1 to 40).map(i => (s"k$i", "p1", 1L, i.toLong, "insert"))
        .toDF("id", "province_id", "ver", "amount_cents", "op"))
    MergeOnRead.compact(spark, dir, pk, "ver", Some("op"), numBuckets = 4)
    // fabricate the LEGACY contract shape: recorded before schemaDDL
    // existed (evolutionContract still points users at a compact to
    // backfill it, so the read path must keep serving such roots)
    val cf = new org.apache.hadoop.fs.Path(dir, "_contract")
    val text = graft.io.FsOps.readTextOpt(spark, cf).get
    graft.io.FsOps.writeTextAtomic(spark, cf,
      text.linesIterator.filterNot(_.startsWith("schemaDDL=")).mkString("\n"))
    // a wave of keys whose buckets hold no base files and no live
    // deltas: prune to nothing — the answer is EMPTY, typed from the
    // unpruned base, not the mistyped-dir refusal
    val snap = MergeOnRead.currentSnapshot(spark, dir)
    val allBuckets = (0 until 4).toSet
    val usedBuckets = snap.man.get.files.collect {
      case (b, fs) if b >= 0 && fs.nonEmpty => b
    }.toSet
    val empty = (allBuckets -- usedBuckets).headOption match {
      case Some(b) =>
        MergeOnRead.readPinned(spark, dir, snap, pk, "ver", Some("op"),
          MergeOnRead.DefaultBroadcastDeltaBytes, baseBuckets = Some(Set(b)))
      case None => // all 4 buckets populated: prune to a disjoint empty SET
        MergeOnRead.readPinned(spark, dir, snap, pk, "ver", Some("op"),
          MergeOnRead.DefaultBroadcastDeltaBytes, baseBuckets = Some(Set.empty))
    }
    assert(empty.columns.contains("amount_cents"))
    assert(empty.count() == 0)
  }

  test("copy-on-write write doors refuse a merge-on-read ROOT (two layouts never tangle)") {
    val root = Files.createTempDirectory("mor_tangle").toString + "/t"
    MergeOnRead.merge(spark, root,
      Seq(("k1", "p1", 1L, 10L, "insert"))
        .toDF("id", "province_id", "ver", "amount_cents", "op"))
    val m = intercept[Upsert.TableContractException](
      Upsert.merge(spark, root,
        Seq(("k2", 2L, "x")).toDF("id", "ver", "v"),
        pk = Seq("id"), versionCol = "ver"))
    assert(m.getMessage.contains("merge-on-read ROOT"), m.getMessage)
    val o = intercept[Upsert.TableContractException](
      Upsert.overwriteSnapshot(spark, root,
        Seq(("k2", 2L, "x")).toDF("id", "ver", "v")))
    assert(o.getMessage.contains("merge-on-read ROOT"), o.getMessage)
    // the root is untouched: still exactly its one delta batch
    assert(MergeOnRead.deltaBatches(spark, root).map(_._1) == Seq(0L))
    assert(Upsert.currentManifest(spark, root).isEmpty)
  }

  test("recording a contract over legacy null pk/version content refuses loudly (ADVICE r10)") {
    // pre-contract appends are unvalidated; the contract claims the
    // SQL schema's NOT NULL on pk+version, so recording it must prove
    // the resolved content first — otherwise compact would fold null
    // rows into a base served under a non-nullable schema forever
    val rootV = Files.createTempDirectory("mor_ctr_nullver").toString + "/t"
    MergeOnRead.merge(spark, rootV,
      Seq[(String, Option[Long], Long)](("k1", None, 10L), ("k2", Some(1L), 20L))
        .toDF("id", "ver", "amount_cents"))
    val ev = intercept[Upsert.TableContractException](
      MergeOnRead.compact(spark, rootV, pk, "ver"))
    assert(ev.getMessage.contains("NULL in a pk/version column"), ev.getMessage)
    assert(MergeOnRead.contract(spark, rootV).isEmpty, "refusal must not record")

    val rootP = Files.createTempDirectory("mor_ctr_nullpk").toString + "/t"
    MergeOnRead.merge(spark, rootP,
      Seq[(Option[String], Long, Long)]((Some("k1"), 1L, 10L), (None, 1L, 50L))
        .toDF("id", "ver", "amount_cents"))
    val ep = intercept[Upsert.TableContractException](
      MergeOnRead.recordContract(spark, rootP, pk, "ver", None,
        Upsert.DefaultNumBuckets))
    assert(ep.getMessage.contains("NULL in a pk/version column"), ep.getMessage)

    // repair path: supersede the null-version row, retract nothing —
    // then the contract records and compaction proceeds
    MergeOnRead.merge(spark, rootV,
      Seq(("k1", 5L, 11L)).toDF("id", "ver", "amount_cents"))
    MergeOnRead.compact(spark, rootV, pk, "ver")
    val got = MergeOnRead.read(spark, rootV, pk, "ver")
      .select("id", "amount_cents").as[(String, Long)].collect().toMap
    assert(got == Map("k1" -> 11L, "k2" -> 20L), s"got $got")
  }
}
