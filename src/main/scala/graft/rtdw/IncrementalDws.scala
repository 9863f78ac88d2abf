package graft.rtdw

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{ChangeFeed, Upsert}

/** Incrementally-maintained DWS aggregates over [[graft.io.Upsert]]
  * change feeds (VERDICT r1 #7 — the reference's retract-stream DWS
  * consumption, upsert-kafka → DwsTradeProvinceOrderWindow, without
  * full re-reads).
  *
  * refresh() folds only the UNAPPLIED change batches into the running
  * aggregate: retract rows enter with sign −1, add rows with +1, so
  * per-group Σ(sign·metric) telescopes to the value a full recompute
  * over the current table would produce (proved in IncrementalDwsSpec
  * across inserts, value corrections, and deletes). Per-refresh I/O is
  * O(new changes) + O(DWS table), never O(fact table).
  *
  * Maintains SUM/COUNT-class metrics (self-decomposable under
  * retraction). Distinct counts are not retract-decomposable — the
  * reference keeps a per-window id Set for those
  * (DwsTradeProvinceOrderWindow.java:117-145); at scale that metric
  * stays on the stateful/sketch path (A5/A7), not the delta fold.
  */
object IncrementalDws {

  private def tablePath(dwsDir: String) = s"$dwsDir/table"

  // The applied watermark is a PROPERTY of the table's manifest, so the
  // aggregate and its watermark are literally one commit (the
  // `_manifest-<gen>` rename of Upsert.overwriteSnapshot) — a crash can
  // never leave the watermark behind the table, which would re-fold
  // (double-count) change batches on the next refresh. VERDICT r4 #1:
  // the refresh is a full manifest-committed snapshot, so a reader
  // racing it resolves either the previous complete aggregate or the
  // new one — never a missing dir, never a mixed state.
  private val AppliedProp = "applied"

  /** The applied watermark of the current committed snapshot. */
  def readApplied(spark: SparkSession, dwsDir: String): Long =
    Upsert.currentManifest(spark, tablePath(dwsDir))
      .flatMap(_.props.get(AppliedProp)).map(_.toLong).getOrElse(-1L)

  /** Read the current aggregate (empty-safe). */
  def current(spark: SparkSession, dwsDir: String): Option[DataFrame] =
    Upsert.readIfExists(spark, tablePath(dwsDir))

  /** The fold sign shared by every consumption form: retract rows
    * enter −1, add rows +1, so Σ(sign·metric) telescopes.
    */
  private def sign = when(col(ChangeFeed.ChangeCol) === "add", lit(1L)).otherwise(lit(-1L))

  private def signedAggs(sumCols: Seq[String]): Seq[org.apache.spark.sql.Column] =
    sumCols.map(c => sum(col(c) * sign).as(c)) :+ sum(sign).as("row_ct")

  /** Fold one change batch onto the aggregate snapshot `man` resolves
    * and commit it with `props` (which carry the watermark — SAME
    * manifest rename as the content). A group whose rows all retracted
    * away vanishes, exactly as from a full recompute; vacuum(keep=2)
    * retires all but the previous snapshot so in-flight readers finish
    * against intact files. One body for [[refresh]] and [[streaming]]
    * — the two watermark schemes must never diverge in fold semantics.
    *
    * ONE aggregation over prev ∪ the signed change rows (each change
    * row enters as sign·metric with row_ct = sign): Σ is associative,
    * so grouping once is exact for the long/decimal metrics folded
    * here, and pre-aggregating the changes would only add a shuffle.
    * The snapshot overwrite stays — NOTES.md ("keyed-merge DWS fold")
    * records why a keyed merge of only the touched groups was rejected.
    */
  private def foldInto(s: SparkSession, dwsDir: String, changes: DataFrame,
                       groupCols: Seq[String], sumCols: Seq[String],
                       man: Option[Upsert.Manifest],
                       props: Map[String, String]): Unit = {
    val signed = changes.select(groupCols.map(col) ++
      sumCols.map(c => (col(c) * sign).as(c)) :+ sign.as("row_ct"): _*)
    val cols = sumCols :+ "row_ct"
    val next = man
      .map(m => Upsert.readAt(s, tablePath(dwsDir), m.gen)
        .select((groupCols ++ cols).map(col): _*).unionByName(signed))
      .getOrElse(signed)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col(cols.head)).as(cols.head), cols.tail.map(c => sum(col(c)).as(c)): _*)
    Upsert.overwriteSnapshot(s, tablePath(dwsDir), next.filter(col("row_ct") > 0),
      props = props)
    Upsert.vacuum(s, tablePath(dwsDir), keepManifests = 2)
  }

  /** Fold unapplied change batches of `factDir`'s feed into the
    * aggregate at `dwsDir`: groupCols × (Σ sumCols, row_ct). Returns
    * the applied batch id (unchanged when already caught up).
    *
    * The applied watermark and the aggregate CONTENT are both derived
    * from ONE manifest resolution (`readAt` on that manifest's gen),
    * never two separate reads: a refresher racing another's commit
    * otherwise folds the delta onto the OTHER's already-folded table —
    * a double count. From one snapshot, a racing refresher recomputes
    * the same next table the winner wrote (the overwrite commit itself
    * is serialized by the writer lease), so any interleaving converges.
    *
    * `subscriber = Some(name)` registers this consumer in the fact's
    * durable [[graft.io.Subscribers]] registry and records the applied
    * feed batch AFTER each committed fold (post-commit: a crash leaves
    * the registered watermark stale-LOW, which only holds feed GC
    * back, never advances it past this reader) — so
    * [[graft.io.Maintenance.runFeed]] can age the feed's batch dirs
    * out up to the slowest registered consumer.
    */
  def refresh(spark: SparkSession, factDir: String, dwsDir: String,
              groupCols: Seq[String], sumCols: Seq[String],
              subscriber: Option[String] = None): Long = {
    val man = Upsert.currentManifest(spark, tablePath(dwsDir))
    val applied = man.flatMap(_.props.get(AppliedProp)).map(_.toLong).getOrElse(-1L)
    // a feed compacted PAST `applied` fails loudly inside since() —
    // the telescoped net would double-count the already-folded prefix
    val now = ChangeFeed.since(spark, factDir, applied) match {
      case None => applied
      case Some((changes, maxBatch)) =>
        foldInto(spark, dwsDir, changes, groupCols, sumCols, man,
          Map(AppliedProp -> maxBatch.toString))
        maxBatch
    }
    subscriber.foreach(graft.io.Subscribers.record(spark, factDir, _, now))
    now
  }

  /** DwsTradeProvinceOrderWindow on the delta path: per-province order
    * amount (integer cents) + row count, maintained from the
    * order-detail upsert feed instead of re-reading the fact table.
    */
  def provinceOrderRefresh(spark: SparkSession, orderDetailDir: String,
                           dwsDir: String): Long =
    refresh(spark, orderDetailDir, dwsDir,
      groupCols = Seq("province_id"), sumCols = Seq("amount_cents"))

  /** The SUBSCRIPTION form of [[refresh]]: `readStream` over the
    * fact's change feed ([[graft.sources.ChangeFeedSource]]) folding
    * each micro-batch of retract/add rows into the aggregate — the
    * reference's continuous DWD→DWS retract-stream topology
    * (upsert-kafka subscribe, DwsTradeProvinceOrderWindow) instead of
    * a driver-orchestrated batch fold. Returns the started query;
    * the aggregate converges to exactly what [[refresh]] (and a full
    * recompute) produces — pinned set-equal across a kill/restart in
    * ChangeFeedStreamSpec.
    *
    * Exactly-once: the stream's checkpoint replays an uncommitted
    * micro-batch after a crash, so the fold dedupes on the
    * FOREACHBATCH id — a StreamAppliedProp watermark committed in the
    * SAME manifest rename as the folded content (the watermark can
    * never run ahead of or behind the table it describes). A replayed
    * batch id ≤ the recorded watermark is a no-op.
    */
  private val StreamAppliedProp = "appliedStreamBatch"
  // the query LINEAGE the watermark belongs to: batch ids only mean
  // "already folded" within one checkpoint's numbering — see the
  // rebuilt-checkpoint guard in [[streaming]]
  private val StreamQueryProp = "appliedStreamQuery"
  // the MOR-fact offset a fresh consumer's aggregate was bootstrapped
  // from (the base-snapshot fold of [[streamingMor]]): recorded in the
  // SAME manifest rename as the folded content, so a crash between the
  // bootstrap fold and the stream's first commit restarts into "skip
  // the refold, subscribe from the recorded offset"
  private val BootstrapProp = "bootstrappedUpto"
  // the carried boundary image's validity stamp (VERDICT r14 #2):
  // "<validAtBatch>:<factContractFingerprint>". Committed in the SAME
  // manifest rename as the fold it belongs to, so a crash can never
  // leave a carry the watermark doesn't vouch for; a carry whose
  // validAt is not EXACTLY the next trigger's kmin−1, or whose
  // fingerprint no longer matches the fact's contract (an ALTER
  // happened), is ignored — stale images are detected, never trusted.
  private val StreamCarryProp = "streamCarryAt"

  private def carryRoot(dwsDir: String) = s"$dwsDir/carry"

  /** The carried image committed by the PREVIOUS fold, iff it is valid
    * at `expectAt` under the fact's CURRENT contract.
    */
  private def readCarry(s: SparkSession, dwsDir: String,
                        man: Option[Upsert.Manifest], expectAt: Long,
                        fingerprint: String): Option[MorChangeFeed.Carried] =
    man.flatMap(_.props.get(StreamCarryProp)).flatMap { v =>
      val Array(at, hash) = v.split(":", 2)
      val dir = s"${carryRoot(dwsDir)}/img-$at"
      val fs = graft.io.FsOps.fs(s, new org.apache.hadoop.fs.Path(dir))
      if (at.toLong != expectAt || hash != fingerprint ||
          !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/rows")) ||
          !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/keys"))) None
      else Some(MorChangeFeed.Carried(
        s.read.parquet(s"$dir/rows"), s.read.parquet(s"$dir/keys")))
    }

  /** Materialize the next carried image at `img-<validAt>` (overwrite:
    * a crash-and-replay rewrites the same dir) and return the prop
    * that vouches for it — the caller commits the prop IN the fold's
    * manifest rename.
    */
  private def writeCarry(s: SparkSession, dwsDir: String, validAt: Long,
                         fingerprint: String,
                         next: MorChangeFeed.Carried): Map[String, String] = {
    val dir = s"${carryRoot(dwsDir)}/img-$validAt"
    next.rows.write.mode("overwrite").parquet(s"$dir/rows")
    next.keys.write.mode("overwrite").parquet(s"$dir/keys")
    Map(StreamCarryProp -> s"$validAt:$fingerprint")
  }

  /** Drop every carry image except the one the just-committed manifest
    * vouches for (`keep`, empty when the fold committed no carry) —
    * runs AFTER the fold's manifest rename, so a crash anywhere leaves
    * only ignorable orphans, never a vouched-for image missing.
    */
  private def gcCarry(s: SparkSession, dwsDir: String, keep: Option[Long]): Unit = {
    val root = new org.apache.hadoop.fs.Path(carryRoot(dwsDir))
    val fs = graft.io.FsOps.fs(s, root)
    if (fs.exists(root))
      fs.listStatus(root).foreach { st =>
        val keepIt = keep.exists(k => st.getPath.getName == s"img-$k")
        if (!keepIt) { fs.delete(st.getPath, true); () }
      }
  }

  /** The distinct keys of the VISIBLE not-yet-admitted backlog (delta
    * batches above `kmax`, capped) — they ride the current trigger's
    * base resolve so later triggers find their waves already covered.
    */
  private def lookaheadKeys(s: SparkSession, factDir: String, kmax: Long,
                            cap: Int): Option[DataFrame] = {
    if (cap <= 0) return None
    val pending = graft.io.MergeOnRead.deltaBatches(s, factDir)
      .filter(_._1 > kmax).sortBy(_._1).take(cap)
    if (pending.isEmpty) None
    else graft.io.MergeOnRead.contract(s, factDir).map { case (pk, _, _, _) =>
      graft.io.MergeOnRead.reconcileDeclared(s, factDir,
        graft.io.MergeOnRead.readDeltaBatches(s, pending))
        .select(pk.map(col): _*).distinct()
    }
  }

  def streaming(spark: SparkSession, factDir: String, dwsDir: String,
                groupCols: Seq[String], sumCols: Seq[String],
                checkpointDir: String,
                trigger: org.apache.spark.sql.streaming.Trigger =
                  org.apache.spark.sql.streaming.Trigger.AvailableNow(),
                maxBatchesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.ChangeFeedSource.read(spark, factDir, maxBatchesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (changes: DataFrame, batchId: Long) =>
        val s = changes.sparkSession
        val man = Upsert.currentManifest(s, tablePath(dwsDir))
        val applied = man.flatMap(_.props.get(StreamAppliedProp))
          .map(_.toLong).getOrElse(-1L)
        // batchId ≤ applied is a REPLAY only within the SAME query
        // lineage (the streaming query id persists in the checkpoint).
        // A rebuilt/relocated checkpoint restarts both the batch
        // numbering AND the source offsets — folding that onto a
        // table that already absorbed the feed double-counts, and
        // treating its early batches as replays silently DROPS them.
        // Either way: refuse loudly.
        val qid = Option(s.sparkContext
          .getLocalProperty("sql.streaming.queryId")).filter(_.nonEmpty)
        for (recorded <- man.flatMap(_.props.get(StreamQueryProp));
             current <- qid; if recorded != current)
          throw new IllegalStateException(
            s"$dwsDir was folded up to batch $applied by streaming query " +
              s"$recorded, but this run is query $current (rebuilt or " +
              "relocated checkpoint): its restarted batch numbering cannot " +
              "be reconciled with the recorded watermark — resume the " +
              "original checkpoint, or point a fresh DWS dir at the feed")
        if (batchId > applied) {
          foldInto(s, dwsDir, changes, groupCols, sumCols, man,
            Map(StreamAppliedProp -> batchId.toString) ++
              qid.map(StreamQueryProp -> _))
        }
        ()
      }
      .start()

  /** [[streaming]] over a MERGE-ON-READ fact (VERDICT r10 #5): the
    * fact's own delta batches are its change log, subscribed through
    * [[graft.sources.MorChangeFeedSource]]; each micro-batch's raw
    * upsert rows become retract/add pairs via
    * [[MorChangeFeed.retractStream]] (pre/post images resolved against
    * the pinned snapshots at the admitted batch range's boundaries)
    * and fold with the SAME signed aggregation — so a DWS aggregate
    * tracks a firehose MOR fact without the fact ever producing a
    * second feed. Exactly-once: identical watermark + query-lineage
    * guards as [[streaming]] (the watermark rides the DWS table's own
    * manifest commit).
    *
    * `compactEveryTriggers = Some(k)`: drain-aware compaction pairing —
    * every k-th trigger folds the CONSUMED delta prefix into the fact's
    * base so the next trigger's boundary image resolves against a fresh
    * base instead of unioning the whole uncompacted tail (PROBES r13's
    * O(backlog²) drain). Multi-subscriber safety (r15): the paired
    * fold is CLAMPED to the minimum applied watermark across the
    * fact's registered [[graft.io.Subscribers]] — every streamingMor
    * consumer registers durably (name from `subscriber`, or derived
    * from dwsDir) and advances its entry after each committed fold, so
    * a second registered subscriber lagging arbitrarily far never
    * loses the batches it still needs. Only UNREGISTERED consumers
    * (raw MorChangeFeedSource users) remain on the status-quo
    * protections: one retention cycle + `snapshotAt`'s loud
    * missing-batch refusal, never a silent partial feed. The
    * pairing preserves the base's bloom posture: if the current base
    * generation carries Bloom sidecars, the paired compaction rebuilds
    * them ([[graft.io.MergeOnRead.baseHasBlooms]]) instead of silently
    * downgrading point lookups to whole-bucket scans.
    *
    * `carryBoundaryImages` (default on, VERDICT r14 #2): while the
    * consumer is behind, each fold commits a CARRIED boundary image —
    * the resolved LWW state of every key it has seen or can see coming
    * (the visible backlog's keys ride the first trigger's base
    * resolve) — and later triggers serve their PRE images from it
    * instead of re-resolving the base. A deep drain then pays ONE base
    * pass total; per-trigger cost is O(wave) at any wave density. The
    * image is vouched for by a prop in the SAME manifest rename as its
    * fold (validAt batch + fact-contract fingerprint): a crash, a
    * replay, or a mid-drain ALTER leaves a stale image that is
    * DETECTED and discarded, never trusted. Caught-up steady state
    * writes no image (bounded size: one backlog window's keys) and
    * keeps the Bloom point path for small waves.
    * `carryLookaheadBatches` caps how many visible pending batches
    * contribute keys to the shared resolve.
    */
  def streamingMor(spark: SparkSession, morFactDir: String, dwsDir: String,
                   groupCols: Seq[String], sumCols: Seq[String],
                   checkpointDir: String,
                   trigger: org.apache.spark.sql.streaming.Trigger =
                     org.apache.spark.sql.streaming.Trigger.AvailableNow(),
                   maxBatchesPerTrigger: Option[Int] = None,
                   maxPointKeys: Int = 1024,
                   compactEveryTriggers: Option[Int] = None,
                   carryBoundaryImages: Boolean = true,
                   carryLookaheadBatches: Int = 512,
                   subscriber: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // durable subscriber registration (r15): the consumer announces
    // itself in the fact's Subscribers registry and advances its
    // applied FACT-batch watermark after every committed fold, so
    // producer-side maintenance (Maintenance.runMor and the paired
    // background compaction below) folds only what EVERY registered
    // consumer has applied. The name is stable across restarts
    // (derived from dwsDir unless given), so a resumed checkpoint
    // keeps its own registration rather than accreting new ones.
    val subName = subscriber.getOrElse {
      val base = new org.apache.hadoop.fs.Path(dwsDir).getName
      f"dws-$base-${dwsDir.hashCode & 0xffffffffL}%08x"
    }
    // FRESH consumer on a MATURE fact (its delta batch 0 already GC'd
    // after compaction — ADVICE r11): the stream can only start at the
    // earliest retained offset, so the folded history's state must
    // come from the base snapshot AT that offset. Fold it once as
    // all-adds (recording the offset in the same manifest rename) and
    // subscribe from there; retract/add pairs from offset+1 telescope
    // on top exactly. Young facts (batch 0 retained) skip this — the
    // stream itself replays from birth. An ESTABLISHED consumer never
    // re-enters: its checkpoint owns the offsets and a rebuilt
    // checkpoint is refused by the query-lineage guard below.
    val man0 = Upsert.currentManifest(spark, tablePath(dwsDir))
    // a checkpoint that already COMMITTED offsets owns the consumer's
    // position even when the dws manifest carries no props yet (the
    // crash window: micro-batch 0's offsets logged, foldInto never
    // committed). Folding a bootstrap then would be spurious — Spark
    // ignores startingOffset when a checkpoint exists and replays the
    // logged range (retained → folds normally; GC'd → the source's
    // gap guard refuses loudly). Detected via the offsets log itself.
    def checkpointHasOffsets: Boolean = {
      val off = new org.apache.hadoop.fs.Path(checkpointDir, "offsets")
      val fs = graft.io.FsOps.fs(spark, off)
      fs.exists(off) && fs.listStatus(off).exists(_.isFile)
    }
    val startOff: Option[Long] =
      man0.flatMap(_.props.get(BootstrapProp)).map(_.toLong) match {
        case some @ Some(_) => some // bootstrap already folded (crash between fold and start)
        case None if man0.exists(_.props.contains(StreamAppliedProp)) =>
          None // established pre-bootstrap consumer: checkpoint owns offsets
        case None if checkpointHasOffsets =>
          None // crash-window restart: offsets logged, no fold yet
        case None =>
          val (off, adds) = MorChangeFeed.bootstrapAdds(spark, morFactDir)
          if (off < 0L) None
          else {
            foldInto(spark, dwsDir, adds, groupCols, sumCols, man0,
              Map(BootstrapProp -> off.toString))
            Some(off)
          }
      }
    // initial registration: a fresh consumer pins maintenance at its
    // start position (bootstrap offset, or −1 when replaying from
    // birth) BEFORE its first fold, so a concurrent compaction can
    // never fold batches it is about to read. An ESTABLISHED consumer
    // whose registry entry predates the feature registers lazily at
    // its next fold — the status-quo protections (retention cycle +
    // loud snapshotAt refusal) carry it until then.
    if (graft.io.Subscribers.appliedOf(spark, morFactDir, subName).isEmpty) {
      startOff match {
        case Some(off) => graft.io.Subscribers.record(spark, morFactDir, subName, off)
        case None if !man0.exists(_.props.contains(StreamAppliedProp)) &&
                     !checkpointHasOffsets =>
          graft.io.Subscribers.record(spark, morFactDir, subName, -1L)
        case None => ()
      }
    }
    graft.sources.MorChangeFeedSource.read(spark, morFactDir, maxBatchesPerTrigger,
      startingOffset = startOff.map(_.toString))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (raw: DataFrame, batchId: Long) =>
        val s = raw.sparkSession
        val man = Upsert.currentManifest(s, tablePath(dwsDir))
        val applied = man.flatMap(_.props.get(StreamAppliedProp))
          .map(_.toLong).getOrElse(-1L)
        val qid = Option(s.sparkContext
          .getLocalProperty("sql.streaming.queryId")).filter(_.nonEmpty)
        for (recorded <- man.flatMap(_.props.get(StreamQueryProp));
             current <- qid; if recorded != current)
          throw new IllegalStateException(
            s"$dwsDir was folded up to batch $applied by streaming query " +
              s"$recorded, but this run is query $current (rebuilt or " +
              "relocated checkpoint): its restarted batch numbering cannot " +
              "be reconciled with the recorded watermark — resume the " +
              "original checkpoint, or point a fresh DWS dir at the feed")
        if (batchId > applied) {
          // bounds computed ONCE here and threaded through: the
          // retract derivation skips its internal bounds job, and the
          // range end doubles as the drain-aware compaction limit. A
          // batch of ≤ maxPointKeys rows (every trigger of a caught-up
          // live fold) is HELD on the driver by one bounded collect that
          // yields the bounds, the key probe and the admitted rows; a
          // bigger one keeps the min/max aggregation and the capped
          // probe.
          val held = MorChangeFeed.hold(raw, maxPointKeys)
          val rows = held.fold(raw)(_.rows)
          val known = held match {
            case Some(h) => h.bounds
            case None =>
              val bounds = raw.agg(
                min(col(graft.sources.MorChangeFeedSource.BatchCol)),
                max(col(graft.sources.MorChangeFeedSource.BatchCol))).head()
              if (bounds.isNullAt(0)) None
              else Some((bounds.getLong(0), bounds.getLong(1)))
          }
          val baseProps = Map(StreamAppliedProp -> batchId.toString) ++
            qid.map(StreamQueryProp -> _)
          // carried boundary image (VERDICT r14 #2): while the consumer
          // is BEHIND, the wave's PRE comes from the image the previous
          // fold committed and the base is only touched for keys the
          // image doesn't cover — with the visible backlog's keys
          // riding that same resolve, a deep drain pays ONE base pass
          // total (O(wave) per trigger at any density) instead of
          // re-resolving the touched-bucket fraction every trigger.
          // Caught-up steady state (no lookahead) stops writing the
          // image, so its size stays bounded by one backlog window's
          // keys, and small waves keep the Bloom point path.
          val carryUse = known.filter { case (kmin, _) =>
            carryBoundaryImages && kmin > 0
          }.flatMap { case (kmin, kmax) =>
            val fp = graft.io.MergeOnRead.contractFingerprint(s, morFactDir)
            val carried = readCarry(s, dwsDir, man, kmin - 1, fp)
            val look = lookaheadKeys(s, morFactDir, kmax, carryLookaheadBatches)
            if (carried.isEmpty && look.isEmpty) None
            else Some((kmin, kmax, fp, carried, look))
          }
          carryUse match {
            case None =>
              val changes = known.fold(MorChangeFeed.noChanges(rows))(b =>
                MorChangeFeed.retractStreamBounded(s, morFactDir, rows,
                  maxPointKeys, Some(b), held = held.isDefined))
              foldInto(s, dwsDir, changes, groupCols, sumCols, man, baseProps)
              gcCarry(s, dwsDir, keep = None)
            case Some((kmin, kmax, fp, carried, look)) =>
              val (changes, next, cleanup) = MorChangeFeed.retractStreamCarried(
                s, morFactDir, rows, maxPointKeys, (kmin, kmax), carried, look)
              try {
                // carry forward only while BEHIND: the image write is
                // the lookahead's amortized cost — a caught-up final
                // trigger still CONSUMES the image but stops paying for
                // a new one (its prop then goes stale and is ignored)
                val carryProps =
                  if (look.isDefined) writeCarry(s, dwsDir, kmax, fp, next)
                  else Map.empty[String, String]
                foldInto(s, dwsDir, changes, groupCols, sumCols, man,
                  baseProps ++ carryProps)
                gcCarry(s, dwsDir,
                  keep = if (look.isDefined) Some(kmax) else None)
              } finally cleanup()
          }
          // advance the durable registration AFTER the fold commits
          // (crash ⇒ stale-LOW, maintenance merely stays further
          // behind); the paired compaction below and any external
          // Maintenance.runMor clamp to the registry's minimum
          for (b <- known)
            graft.io.Subscribers.record(s, morFactDir, subName, b._2)
          // drain-aware compaction pairing (VERDICT r13 next #2): fold
          // the CONSUMED prefix (≤ this trigger's kmax, never ahead of
          // the subscription) every K triggers so the fact's delta
          // tail stays short. SIGNALED, not run, on this thread
          // (VERDICT r14 #3): the micro-batch merely records the new
          // watermark and a shared maintenance thread compacts behind
          // it — resolve triggers no longer absorb multi-second
          // compaction stalls, and the fold cadence is independent of
          // compaction duration. Runs AFTER the fold commits: a crash
          // between fold and compact just leaves the prefix for the
          // next trigger's signal (compaction is idempotent
          // maintenance — the aggregate never depends on it). The
          // compact takes the TABLE lease; appends ride the delta
          // lease (r15), so neither the signal nor the background fold
          // ever stalls a producer. Retention still keeps one
          // compaction cycle for other subscribers.
          for (k <- compactEveryTriggers; b <- known
               if (batchId + 1) % k == 0)
            signalPairedCompact(s, morFactDir, b._2)
        }
        ()
      }
      .start()
  }

  // ---- background drain-compaction pairing (VERDICT r14 #3) -----------

  /** ONE shared daemon maintenance thread for every paired
    * subscription in the JVM: compactions are idle-time housekeeping —
    * serializing them bounds their interference with live queries, and
    * a consumer signals at most a watermark, never waits.
    */
  private lazy val compactPool =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-dws-paired-compact")
      t.setDaemon(true); t
    })
  // newest requested fold watermark per fact (coalesced: ten signals
  // while one compact runs become one follow-up compact to the max)
  private val pendingCompact =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  // facts with a worker queued/running — guards double-submission
  private val compactScheduled =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Record `upTo` as the fact's wanted compaction watermark and make
    * sure a background worker will service it. Never blocks on the
    * compaction itself.
    */
  private def signalPairedCompact(s: SparkSession, factDir: String,
                                  upTo: Long): Unit = {
    pendingCompact.merge(factDir, java.lang.Long.valueOf(upTo),
      (a, b) => if (a >= b) a else b)
    if (compactScheduled.add(factDir)) {
      compactPool.submit(new Runnable {
        override def run(): Unit = drainPairedCompacts(s, factDir)
      })
      ()
    }
  }

  /** Worker body: service the fact's pending watermark(s) until none
    * remain, then deregister — with the standard recheck so a signal
    * landing between "none pending" and deregistration is never lost.
    */
  private def drainPairedCompacts(s: SparkSession, factDir: String): Unit = {
    var go = true
    while (go) {
      val up = pendingCompact.remove(factDir)
      if (up == null) {
        compactScheduled.remove(factDir)
        if (pendingCompact.containsKey(factDir) && compactScheduled.add(factDir)) ()
        else go = false
      } else {
        // gate on the SLOWEST registered subscriber (r15, ADVICE r14):
        // the signaling consumer folds only its own consumed prefix,
        // but a second registered subscriber further behind clamps the
        // fold to ITS watermark — it can never hit snapshotAt's
        // missing-batch refusal because the batches it still needs are
        // never folded. Unregistered consumers keep the status-quo
        // protections (one retention cycle + the loud refusal).
        val gated = graft.io.Subscribers.minWatermark(s, factDir)
          .fold(up.longValue)(math.min(up.longValue, _))
        if (gated > graft.io.MergeOnRead.compactedUpto(s, factDir)) {
        try {
          val (ePk, eVc, eDel, eN) =
            graft.io.MergeOnRead.contract(s, factDir).getOrElse(
              throw new IllegalStateException(
                s"$factDir lost its contract mid-subscription"))
          // preserve the fact's bloom posture: a bloom'd base must not
          // silently lose its sidecars to the pairing (ADVICE r14)
          graft.io.MergeOnRead.compact(s, factDir, ePk, eVc, eDel, eN,
            bloom = graft.io.MergeOnRead.baseHasBlooms(s, factDir),
            upToLimit = Some(gated))
        } catch {
          // table-lease contention (an operator maintenance pass, a
          // concurrent ALTER): put the watermark back and retry on the
          // next pass — the signal is durable intent, not a one-shot
          case _: Upsert.ConcurrentWriterException =>
            pendingCompact.merge(factDir, up, (a, b) => if (a >= b) a else b)
            Thread.sleep(200)
          // anything else must NOT kill the worker with the fact still
          // marked scheduled (pairing would silently die): report, drop
          // this signal, keep servicing — the next trigger re-signals
          // and compaction is pure idempotent maintenance
          case t: Throwable =>
            System.err.println(
              s"[graft] paired compaction of $factDir failed " +
                s"(upTo=$gated): $t — dropped; the next trigger " +
                "re-signals")
        }
        }
      }
    }
  }

  /** Block until every signaled paired compaction for `factDir` has
    * been serviced — determinism hook for probes/specs that assert on
    * `compactedUpto` right after a drain finishes.
    */
  private[graft] def awaitPairedCompacts(factDir: String,
                                         timeoutMs: Long = 120000): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while ((pendingCompact.containsKey(factDir) ||
        compactScheduled.contains(factDir)) && System.nanoTime() < deadline)
      Thread.sleep(25)
    !pendingCompact.containsKey(factDir) && !compactScheduled.contains(factDir)
  }

  /** The fully-declarative form of [[streaming]] — ONE streaming query
    * with no driver-side fold logic at all: `readStream` over the
    * fact's change feed → a STATEFUL streaming aggregation of the
    * signed metrics (update mode: each micro-batch emits only the
    * groups whose totals changed, with their new totals) →
    * `writeStream` into [[graft.sources.UpsertStreamSink]], where
    * `versionFromEpoch` stamps each emission with its epoch so a later
    * total supersedes an earlier one (the upsert-kafka contract), and
    * a group retracted down to zero rows carries a delete flag and
    * REMOVES its key. This is the reference's DWD→DWS retract job
    * shape end-to-end (upsert-kafka in, upsert-kafka out,
    * SQLUtil.java:46-54) with Spark owning ALL state: the running
    * totals live in the aggregation's checkpointed state store, the
    * result in the LWW table, exactly-once from the sink's epoch
    * watermark.
    *
    * The landed table records pk = groupCols and version `__v`
    * (epoch). Reprocessing from scratch (a fresh checkpoint) restarts
    * epochs at 0, so point it at a FRESH table dir — standard
    * streaming-sink hygiene, guarded by the sink's replay watermark
    * only within one query lineage.
    */
  def streamingPipeline(spark: SparkSession, factDir: String, dwsDir: String,
                        groupCols: Seq[String], sumCols: Seq[String],
                        checkpointDir: String,
                        trigger: org.apache.spark.sql.streaming.Trigger =
                          org.apache.spark.sql.streaming.Trigger.AvailableNow(),
                        morSink: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val aggs = signedAggs(sumCols)
    graft.sources.ChangeFeedSource.read(spark, factDir)
      .groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("__op",
        when(col("row_ct") <= 0, lit("delete")).otherwise(lit("upsert")))
      .writeStream
      .format(classOf[graft.sources.UpsertStreamSink].getName)
      .option("path", tablePath(dwsDir))
      .option("pk", groupCols.mkString(","))
      .option("versionFromEpoch", "true")
      .option("deleteFlagCol", "__op")
      // morSink: each epoch is an O(batch) delta append instead of a
      // CoW bucket rewrite (VERDICT r10 #1) — the steady-state commit
      // cost no longer grows with the DWS table; read through
      // [[graft.io.MergeOnRead.read]] / [[currentMor]]
      .option("mor", morSink.toString)
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Read the aggregate a `morSink = true` [[streamingPipeline]]
    * maintains (empty-safe): base ∪ live deltas, LWW by epoch,
    * zero-row groups dropped via the delete flag.
    */
  def currentMor(spark: SparkSession, dwsDir: String,
                 groupCols: Seq[String]): Option[DataFrame] = {
    val t = tablePath(dwsDir)
    if (!graft.io.MergeOnRead.isMorRoot(spark, t)) None
    else Some(graft.io.MergeOnRead.read(spark, t, groupCols, "__v",
      deleteFlagCol = Some("__op")).drop("__v", "__op"))
  }
}
