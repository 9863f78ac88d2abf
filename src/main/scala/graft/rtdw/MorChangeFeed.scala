package graft.rtdw

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.{ChangeFeed, MergeOnRead, Upsert}
import graft.sources.MorChangeFeedSource

/** Turns a merge-on-read root's raw delta-batch rows (the
  * [[graft.sources.MorChangeFeedSource]] stream) into the retract/add
  * stream the incremental DWS fold consumes (VERDICT r10 #5).
  *
  * A MOR delta batch is an UPSERT log: it carries each key's NEW row
  * but not the value it superseded, so a subscriber maintaining a
  * retract-decomposable aggregate (Σ, count) needs the PRE-image from
  * the table itself. For the admitted batch range [kmin, kmax] this
  * emits, per touched key:
  *
  *   retract = the key's resolved row AS OF batch kmin−1
  *             ([[MergeOnRead.snapshotAt]] — pinned, exact)
  *   add     = the key's resolved row AS OF batch kmax
  *
  * which telescopes identically to the CoW feed's per-merge
  * retract/add pairs: inserts emit only an add, updates a retract+add,
  * deletes only a retract, and a batch row that LOSES LWW resolution
  * emits equal retract and add that cancel in the signed fold — no
  * case analysis, the snapshot resolution is the case analysis.
  *
  * Scale shape: both images restrict to the batch's OWN keys. Small
  * batches (≤ `maxPointKeys` distinct keys) resolve through
  * [[MergeOnRead.pinnedCandidates]] — manifest + Bloom candidate
  * files, the HBase-Get shape, O(batch keys × candidate files)
  * whatever the base size. Bigger batches fall back to a broadcast
  * LEFT SEMI of the keys against the pinned resolved read: the base
  * never shuffles (the read's own contract) and column pruning cuts
  * the scan to pk + consumed columns, but file I/O is O(base) — the
  * same trade [[graft.io.Upsert.merge]] makes past its own point-batch
  * cap. Reference analog: DWS jobs re-keying Doris/HBase state per
  * retract batch (DwsTradeProvinceOrderWindow.java:117-145).
  */
object MorChangeFeed {

  /** The broadcast-vs-SPJ budget the feed's boundary-image resolves
    * use — session-overridable (`spark.graft.mor.feedBroadcastDeltaBytes`,
    * mirroring MorReadRule's `spark.graft.mor.broadcastDeltaBytes`) so
    * operators and probes can force the SPJ path; the r14
    * bucket-restricted SPJ resolve makes the over-budget corner pay
    * the touched fraction of the base, not a full scan.
    */
  private def broadcastBudget(spark: SparkSession): Long =
    spark.conf.get("spark.graft.mor.feedBroadcastDeltaBytes",
      MergeOnRead.DefaultBroadcastDeltaBytes.toString).toLong

  /** The retract/add stream for one admitted micro-batch of raw feed
    * rows (must carry [[MorChangeFeedSource.BatchCol]]). Returns an
    * empty frame for an empty batch.
    *
    * ONE boundary resolve per admitted range (VERDICT r11 #3): the PRE
    * image at kmin−1 is resolved against the table (point-lookup or
    * broadcast-semi, tombstone winners KEPT — they decide LWW against
    * admitted rows of lower version), and the POST image is DERIVED as
    * the per-key LWW of PRE ∪ the admitted rows themselves — they ARE
    * the deltas in (kmin−1, kmax], already in hand, so the second
    * boundary never touches the base. Exactness: LWW(base ∪ deltas
    * ≤ kmax) = LWW(LWW(base ∪ deltas ≤ kmin−1) ∪ deltas in [kmin,
    * kmax]) because winner selection is a max over (version, batch)
    * and every admitted row's batch exceeds every pre-range batch —
    * collapsing the PRE side to one resolved row per key loses only
    * rows that had already lost. The old two-resolve form paid 2×
    * base I/O per range on the semi path (`morfeed` probe, r11).
    */
  def retractStream(spark: SparkSession, morRoot: String, raw0: DataFrame,
                    maxPointKeys: Int = 1024): DataFrame =
    retractStreamBounded(spark, morRoot, raw0, maxPointKeys, None)

  /** An admitted micro-batch held on the driver: `rows` is a local
    * relation over the collected feed rows (later steps read it without
    * rescanning the batch), `bounds` its (kmin, kmax), None when empty.
    */
  private[graft] final case class Held(rows: DataFrame, bounds: Option[(Long, Long)])

  /** Hold a micro-batch of at most `maxRows` rows on the driver, from
    * ONE bounded collect of ≤ `maxRows + 1` rows; None when it is
    * bigger. The bound is the point path's own: a batch of ≤
    * `maxPointKeys` rows has ≤ `maxPointKeys` distinct keys, so its
    * bounds, its key probe and its admitted rows all come from this one
    * job instead of a min/max aggregation, a distinct-key probe and a
    * rescan of the batch. `coalesce(1)` makes the capped take ONE task
    * of ONE job that stops reading after `maxRows + 1` rows; a bare
    * limit-collect scans partition by partition in a growing series of
    * jobs.
    */
  private[graft] def hold(raw: DataFrame, maxRows: Int): Option[Held] = {
    val got = raw.coalesce(1).limit(maxRows + 1).collect()
    if (got.length > maxRows) None
    else {
      val ids = got.map(_.getAs[Long](MorChangeFeedSource.BatchCol))
      Some(Held(
        raw.sparkSession.createDataFrame(java.util.Arrays.asList(got: _*), raw.schema),
        if (ids.isEmpty) None else Some((ids.min, ids.max))))
    }
  }

  /** The change rows of an empty admitted range, typed like a
    * non-empty one.
    */
  private[graft] def noChanges(raw: DataFrame): DataFrame =
    raw.drop(MorChangeFeedSource.BatchCol).limit(0)
      .withColumn(ChangeFeed.ChangeCol, lit(""))

  /** [[retractStream]] with the admitted range STATICALLY KNOWN
    * (ADVICE r12): the batch-CDC form builds `raw` from an explicit id
    * range, and the streaming fold takes the bounds from its driver
    * hold ([[hold]]) or one min/max aggregation, so the bounds ride in
    * and the bounds job is skipped. `held` says `raw0` is a [[Held]]
    * local relation: its key probe is then evaluated on the driver,
    * without a job.
    */
  private[graft] def retractStreamBounded(spark: SparkSession, morRoot: String,
                                          raw0: DataFrame, maxPointKeys: Int,
                                          knownBounds: Option[(Long, Long)],
                                          held: Boolean = false): DataFrame = {
    val (pk, vc, del, n) = MergeOnRead.contract(spark, morRoot).getOrElse(
      throw new UnsupportedOperationException(
        s"$morRoot records no contract — the feed consumer needs pk/version"))
    // the admitted rows come straight from delta parquet, so they must
    // reconcile against the DECLARED schema exactly like the boundary
    // images do: without this, a batch predating an ALTER DROP would
    // resurrect the tombstoned column in the emitted change rows (and
    // the bootstrap/range forms would return different shapes). The
    // feed's BatchCol is a non-contract extra and passes through.
    val raw = MergeOnRead.reconcileDeclared(spark, morRoot, raw0)
    val (kmin, kmax) = knownBounds match {
      case Some(b) => b
      case None =>
        val bounds = raw.agg(
          min(col(MorChangeFeedSource.BatchCol)).as("kmin"),
          max(col(MorChangeFeedSource.BatchCol)).as("kmax")).head()
        if (bounds.isNullAt(0)) return noChanges(raw)
        (bounds.getLong(0), bounds.getLong(1))
    }
    // NOTE (r16, measured-and-reverted): persisting this frame to share
    // it across the probe collect, the touched-bucket scan, and the
    // broadcast semi restriction LOST — the cache forces a full
    // materialization where the probe's limit used to early-exit, pins
    // the cached subplan's 32 shuffle partitions against AQE
    // coalescing, and adds the columnar cache-build stages (jobs
    // 14→17, tasks 140→250 on mor_changes_batch). The win came from
    // deriving the touched buckets from the probe sample instead — see
    // resolvePre. The streaming fold's small batches now take the other
    // route: [[hold]] collects ≤ maxPointKeys + 1 rows in one job, which
    // replaced the fold's min/max bounds job, the distinct-key probe
    // and the fold's rescan of the batch; a bigger batch still runs
    // the aggregation and the capped probe below.
    val keys = raw.select(pk.map(col): _*).distinct()

    // kmin == 0 is the BOOTSTRAP: nothing precedes the range — the
    // pre-image is empty, and every resolved row at kmax stems from
    // the admitted batches, so the post-image is the FULL resolved
    // read with no key restriction (a bootstrap semi-join would
    // broadcast the whole table's key set for nothing)
    if (kmin == 0L) {
      val post = MergeOnRead.readPinned(spark, morRoot,
        MergeOnRead.snapshotAt(spark, morRoot, kmax), pk, vc, del,
        broadcastBudget(spark))
      return post.withColumn(ChangeFeed.ChangeCol, lit("add"))
    }

    val snapPre = MergeOnRead.snapshotAt(spark, morRoot, kmin - 1)
    val manN = snapPre.man.map(_.numBuckets(n)).getOrElse(n)
    // a held batch's rows ARE its keys (≤ maxPointKeys of them): the
    // probe projects the local relation, which the optimizer evaluates
    // on the driver — no distinct, no job
    val probe =
      if (held) keyProbe(raw, pk, manN).collect().distinct
      else keyProbe(keys, pk, manN).limit(maxPointKeys + 1).collect()
    val admitted = raw.withColumnRenamed(MorChangeFeedSource.BatchCol,
      MergeOnRead.BatchCol)
    val ranked = prePath(spark, morRoot, snapPre, keys, probe, pk, vc, manN,
        maxPointKeys) match {
      // point path: the PRE candidates (base −1, deltas their batch id,
      // all < kmin) are ranked TOGETHER with the admitted rows — the
      // PRE LWW and the POST LWW ride one pk exchange instead of two
      case Left(ks) =>
        val cands =
          if (ks.isEmpty) None
          else MergeOnRead.pinnedCandidates(spark, morRoot, snapPre, pk, ks, n)
        rankImages(cands.map(MergeOnRead.reconcileDeclared(spark, morRoot, _)),
          admitted, pk, vc)
      // deleteFlagCol = None: resolution is identical (version LWW), but
      // tombstone WINNERS stay — a deleted key's tombstone must beat an
      // admitted row of lower version in the derived POST
      case Right(pre) =>
        rankImages(Some(pre.withColumn(MergeOnRead.BatchCol, lit(-1L))),
          admitted, pk, vc)
    }
    emitChanges(ranked, del)
  }

  // reserved columns of the PRE/POST ranking
  private val PreCol = "__cf_pre"
  private val RnCol = "__cf_rn"
  private val PreRnCol = "__cf_pre_rn"

  /** ONE window pass over PRE ∪ admitted rows ranks both images. PRE
    * rows carry a source tag below kmin in [[MergeOnRead.BatchCol]]
    * (base −1, a pre-range delta its batch id), admitted rows their own
    * batch id ≥ kmin; both ranks use [[MergeOnRead.lwwOrder]]. Each side
    * is marked in [[PreCol]] where it enters the union (PRE true,
    * admitted false), the same split a `BatchCol < kmin` test makes,
    * without a literal that changes every trigger and with it the
    * generated code of the fold's window stage. The POST winner is the
    * first row of the key ([[RnCol]] = 1); the PRE winner the first PRE
    * row ([[PreRnCol]] = 1 among the PRE rows). The (pk, isPre)
    * partitioning is satisfied by the pk exchange, so both ranks share
    * one shuffle. Version ties fall to the admitted row: its tag exceeds
    * every PRE tag — the same base-is-batch−1 ordering the resolution
    * itself uses. A PRE side of several rows per key (unresolved
    * point-lookup candidates) is resolved by its own rank; one already
    * resolved ranks 1 trivially.
    */
  private def rankImages(pre: Option[DataFrame], admitted: DataFrame,
                         pk: Seq[String], vc: String): DataFrame = {
    require(!admitted.columns.exists(Seq(PreCol, RnCol, PreRnCol).contains),
      s"feed rows must not carry the reserved columns $PreCol/$RnCol/$PreRnCol")
    val adm = admitted.withColumn(PreCol, lit(false))
    val all = pre.fold(adm)(p =>
      p.withColumn(PreCol, lit(true)).unionByName(adm, allowMissingColumns = true))
    val order = MergeOnRead.lwwOrder(vc)
    all.withColumn(RnCol, row_number().over(
        Window.partitionBy(pk.map(col): _*).orderBy(order: _*)))
      .withColumn(PreRnCol, row_number().over(
        Window.partitionBy((pk :+ PreCol).map(col): _*).orderBy(order: _*)))
  }

  /** The data columns of a [[rankImages]] frame. */
  private def dataColsOf(ranked: DataFrame): Seq[String] =
    ranked.columns.toSeq.filterNot(Set(MergeOnRead.BatchCol, PreCol, RnCol, PreRnCol))

  /** Every live PRE winner retracts; every live POST winner adds. An
    * admitted LWW loser yields equal retract and add that cancel in the
    * signed fold, exactly as the two-resolve form did.
    */
  private def emitChanges(ranked: DataFrame, del: Option[String]): DataFrame = {
    // notDeleted mirrors MergeOnRead's dropDeletes exactly
    val live = del match {
      case Some(f) if ranked.columns.contains(f) => col(f) =!= "delete" || col(f).isNull
      case _ => lit(true)
    }
    ranked.select(dataColsOf(ranked).map(col) :+
      explode(array(
        when(col(PreCol) && col(PreRnCol) === 1 && live, lit("retract")),
        when(col(RnCol) === 1 && live, lit("add"))
      )).as(ChangeFeed.ChangeCol): _*)
      .filter(col(ChangeFeed.ChangeCol).isNotNull)
  }

  /** The key probe that picks the PRE path, one row per key: canonical
    * key, whether a component is NULL, and the key's placement bucket.
    * The bucket column is the SAME expression touchedBuckets hashes
    * (canonicalKey == Upsert.keyStr), so the probe's buckets are exact
    * placements.
    */
  private def keyProbe(keys: DataFrame, pk: Seq[String], manN: Int): DataFrame =
    keys.select(
      MergeOnRead.canonicalKey(pk).as("__k"),
      pk.map(col(_).isNull).reduce(_ || _).as("__null"),
      pmod(xxhash64(MergeOnRead.canonicalKey(pk)), lit(manN)).cast("int").as("__b"))

  /** The PRE-boundary path for a probed key frame — the one place the
    * feed decides how to touch the base. Left(point keys): a bounded,
    * null-free key set (≤ `maxPointKeys` keys, empty when there are
    * none) resolves through pinned Bloom lookups, O(candidate files)
    * for the one image whatever the base size. Composite pks ride the
    * canonical key axis (r12 — previously semi-only): the bucket/Bloom
    * narrowing is exact for any arity, and a canonical-concatenation
    * collision returns at most an extra UNTOUCHED key whose equal
    * retract/add pair cancels in the fold. Keys with a NULL component
    * fall to the semi path (the canonical axis cannot represent them
    * distinctly). Right(image): the semi path — touched-bucket pruning
    * (r12) shrinks the base scan to the keys' placement fraction; a
    * wave touching every bucket degrades to the full scan it needed
    * anyway. Tombstone winners KEPT (del = None).
    *
    * `probe` is the capped [[keyProbe]] (r16, guide §2.6 duplicated
    * subtrees: the old semi path re-evaluated the wave-key frame —
    * delta scans plus a distinct — a second time just to learn the
    * touched buckets). Two facts make the touched-bucket job
    * skippable: an UNTRUNCATED probe (≤ maxPointKeys rows) IS the full
    * key set, so its buckets are the complete touched set; a truncated
    * probe that already covers every bucket proves the full set does
    * too (more keys can only add buckets). Only a truncated probe with
    * uncovered buckets still pays the full touched-bucket scan — the
    * narrow-wave case where pruning has real I/O to save.
    */
  private def prePath(spark: SparkSession, morRoot: String,
                      snapPre: MergeOnRead.Snapshot, keys: DataFrame,
                      probe: Array[org.apache.spark.sql.Row],
                      pk: Seq[String], vc: String, manN: Int,
                      maxPointKeys: Int): Either[Seq[String], DataFrame] =
    if (probe.length <= maxPointKeys && !probe.exists(_.getBoolean(1)))
      Left(probe.map(_.getString(0)).toSeq)
    else {
      val sampled = probe.map(_.getInt(2)).toSet
      val touched =
        if (probe.length <= maxPointKeys) sampled // untruncated: exact
        else if (sampled.size >= manN) sampled    // covers every bucket
        else MergeOnRead.touchedBuckets(keys, pk, manN)
      val resolved = MergeOnRead.readPinned(spark, morRoot, snapPre, pk, vc,
        None, broadcastBudget(spark), baseBuckets = Some(touched))
      Right(resolved.join(broadcast(keys),
        pk.map(c => resolved(c) <=> keys(c)).reduce(_ && _), "left_semi"))
    }

  /** The resolved PRE image of a bounded key frame (the carried form's
    * base resolve): [[prePath]] with the point keys resolved through
    * [[MergeOnRead.lookupPinnedKeys]].
    */
  private def resolvePre(spark: SparkSession, morRoot: String,
                         snapPre: MergeOnRead.Snapshot, keys: DataFrame,
                         pk: Seq[String], vc: String, n: Int,
                         maxPointKeys: Int): DataFrame = {
    val manN = snapPre.man.map(_.numBuckets(n)).getOrElse(n)
    val probe = keyProbe(keys, pk, manN).limit(maxPointKeys + 1).collect()
    prePath(spark, morRoot, snapPre, keys, probe, pk, vc, manN, maxPointKeys) match {
      // NO keys to resolve (a fully-covered carried trigger): a typed
      // empty frame, zero base I/O — don't thread an empty in-list
      // through the lookup machinery
      case Left(ks) if ks.isEmpty => keys.limit(0)
      case Left(ks) =>
        MergeOnRead.lookupPinnedKeys(spark, morRoot, snapPre, pk, ks, vc, None, n)
      case Right(pre) => pre
    }
  }

  /** A CARRIED boundary image (VERDICT r14 #2): the resolved LWW state
    * of a bounded, explicitly-tracked key set as of one delta batch.
    * `rows` holds the resolved rows (tombstone winners INCLUDED — they
    * must keep beating lower-versioned admitted rows); `keys` is the
    * covered key set, which is strictly larger than `rows`' keys: a
    * covered key with NO row is positive knowledge ("absent at the
    * boundary"), the state that lets a later insert of that key emit
    * add-only without touching the base.
    */
  private[graft] final case class Carried(rows: DataFrame, keys: DataFrame)

  /** [[retractStreamBounded]] with a carried PRE image (VERDICT r14
    * #2): the bounded-drain form that makes per-trigger base I/O
    * O(uncovered keys) instead of O(touched-bucket base fraction).
    *
    * `carried` (when valid at kmin−1) serves the PRE image for every
    * covered wave key; only keys outside the covered set resolve from
    * the base. `lookaheadKeys` — the keys of the VISIBLE not-yet-
    * admitted backlog — ride the same base resolve, so a deep drain
    * pays ONE base pass total: trigger 1 resolves (wave₁ ∪ lookahead)
    * and every later trigger finds its wave fully covered. Exactness:
    * a covered non-wave key is untouched by the admitted range (the
    * range's keys ARE the wave), so its carried value at kmin−1 is
    * also its value at kmax; wave keys get the same window-LWW the
    * uncarried form computes, just with PRE served from the carry.
    *
    * Returns (changes, newCarry, cleanup). `newCarry` is valid AS OF
    * kmax and covers (carried.keys ∪ wave ∪ lookahead); the caller
    * must MATERIALIZE it (write both frames) before folding `changes`
    * and call `cleanup()` after the fold — the shared base resolve is
    * persisted so the two consumptions pay it once.
    */
  private[graft] def retractStreamCarried(spark: SparkSession, morRoot: String,
                                          raw0: DataFrame, maxPointKeys: Int,
                                          bounds: (Long, Long),
                                          carried: Option[Carried],
                                          lookaheadKeys: Option[DataFrame])
      : (DataFrame, Carried, () => Unit) = {
    val (pk, vc, del, n) = MergeOnRead.contract(spark, morRoot).getOrElse(
      throw new UnsupportedOperationException(
        s"$morRoot records no contract — the feed consumer needs pk/version"))
    val raw = MergeOnRead.reconcileDeclared(spark, morRoot, raw0)
    val (kmin, kmax) = bounds
    require(kmin > 0L,
      "retractStreamCarried serves ranges with a non-empty PRE boundary; " +
        "the kmin == 0 bootstrap has no image to carry (use retractStream)")
    def keyEq(l: DataFrame, r: DataFrame) =
      pk.map(c => l(c) <=> r(c)).reduce(_ && _)

    val waveKeys = raw.select(pk.map(col): _*).distinct()
    val emptyKeys = raw.select(pk.map(col): _*).limit(0)
    val coveredKeys = carried.map(_.keys).getOrElse(emptyKeys)
    val lookKeys = lookaheadKeys.getOrElse(emptyKeys)
    // keys whose boundary state is UNKNOWN: this trigger's wave plus
    // the visible backlog's waves, minus everything already carried
    val needKeys0 = waveKeys.unionByName(lookKeys).distinct()
    val needKeys = carried match {
      case None => needKeys0
      case Some(c) => needKeys0.join(c.keys, keyEq(needKeys0, c.keys), "left_anti")
    }
    val snapPre = MergeOnRead.snapshotAt(spark, morRoot, kmin - 1)
    // ONE base resolve for every uncovered key, persisted: it feeds
    // both the new carry (written first — the materializing action)
    // and the fold's retract/add derivation
    val freshPre = resolvePre(spark, morRoot, snapPre, needKeys, pk, vc, n,
      maxPointKeys)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val carriedPreWave = carried.map(c =>
      c.rows.join(waveKeys, keyEq(c.rows, waveKeys), "left_semi"))
    val freshPreWave =
      freshPre.join(waveKeys, keyEq(freshPre, waveKeys), "left_semi")
    val preWave = carriedPreWave
      .map(_.unionByName(freshPreWave, allowMissingColumns = true))
      .getOrElse(freshPreWave)

    val ranked = rankImages(Some(preWave.withColumn(MergeOnRead.BatchCol, lit(-1L))),
      raw.withColumnRenamed(MorChangeFeedSource.BatchCol, MergeOnRead.BatchCol),
      pk, vc)
    val changes = emitChanges(ranked, del)

    // carry AS OF kmax: wave keys take their window winner (tombstones
    // included); covered and freshly-resolved keys OUTSIDE the wave
    // are untouched by the range, so their kmin−1 state carries as-is
    val postWave = ranked.filter(col(RnCol) === 1)
      .select(dataColsOf(ranked).map(col): _*)
    val untouchedCarried = carried.map(c =>
      c.rows.join(waveKeys, keyEq(c.rows, waveKeys), "left_anti"))
    val untouchedFresh =
      freshPre.join(waveKeys, keyEq(freshPre, waveKeys), "left_anti")
    val newRows = (Seq(postWave) ++ untouchedCarried ++ Seq(untouchedFresh))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val newKeys = coveredKeys.unionByName(waveKeys).unionByName(lookKeys)
      .distinct()
    (changes, Carried(newRows, newKeys), () => { freshPre.unpersist(); () })
  }

  /** BATCH CDC read — the `table_changes(from, to)` of the MOR layout
    * (Delta CDF's batch form; the stream twin is
    * [[graft.sources.MorChangeFeedSource]] + [[retractStream]]): the
    * retract/add rows for delta batch range `(fromExclusive, to]`,
    * derived from the SAME single-pass boundary images the stream
    * uses, so the signed fold of the result equals the snapshot diff
    * `state@to − state@fromExclusive` exactly — what an incremental
    * batch ETL job consumes to catch up WITHOUT a streaming
    * checkpoint ("give me everything since the batch I last applied").
    *
    * `fromExclusive = -1` is the from-birth form: every resolved row
    * at `to` emits as an add (the bootstrap image). Ranges whose
    * batches were GC'd after compaction refuse loudly naming the
    * missing ids — never a silently partial feed; the PRE boundary
    * snapshot refuses through [[MergeOnRead.snapshotAt]]'s own
    * retention contract.
    */
  def changes(spark: SparkSession, morRoot: String, fromExclusive: Long,
              to: Long, maxPointKeys: Int = 1024): DataFrame = {
    require(to > fromExclusive,
      s"changes($fromExclusive, $to] on $morRoot: empty or inverted range")
    val all = MergeOnRead.deltaBatches(spark, morRoot).toMap
    val maxKnown = math.max(all.keys.foldLeft(-1L)(math.max),
      MergeOnRead.compactedUpto(spark, morRoot))
    require(to <= maxKnown,
      s"changes($fromExclusive, $to] on $morRoot: batch $to does not exist " +
        s"(newest is $maxKnown)")
    val ids = (fromExclusive + 1) to to
    val missing = ids.filterNot(all.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"changes($fromExclusive, $to] on $morRoot is not reconstructible: " +
          s"delta batch(es) ${missing.mkString(", ")} were GC'd after " +
          "compaction (retention keeps one cycle) — re-bootstrap from " +
          "bootstrapAdds instead")
    // from-birth (-1): nothing precedes the range, so the answer IS the
    // bootstrap image — the resolved read at `to`, all adds. Serving it
    // directly skips reading every delta batch's rows only for
    // retractStream's kmin == 0 shortcut to discard them (ADVICE r12).
    if (fromExclusive == -1L) {
      val (pk, vc, del, _) = contractOf(spark, morRoot)
      val post = MergeOnRead.readPinned(spark, morRoot,
        MergeOnRead.snapshotAt(spark, morRoot, to), pk, vc, del,
        broadcastBudget(spark))
      return post.withColumn(ChangeFeed.ChangeCol, lit("add"))
    }
    val raw = MergeOnRead.readDeltaBatches(spark, ids.map(k => k -> all(k)))
    // the range is explicit — the bounds are known without a min/max job
    retractStreamBounded(spark, morRoot, raw, maxPointKeys,
      Some((fromExclusive + 1, to)))
  }

  /** Bootstrap image for a FRESH subscriber of a mature table (ADVICE
    * r11): the resolved content AS OF the earliest retained offset, as
    * all-ADD rows — the CoW feed's net-batch analog, where the base IS
    * the net batch. Returns `(offset, adds)`; the consumer folds the
    * adds FIRST, then subscribes with `startingOffset = offset`, and
    * the stream's retract/add pairs from `offset + 1` telescope on top
    * exactly. Offset −1 (batch 0 still retained, or an empty table)
    * returns an empty frame — the stream itself replays from birth via
    * [[retractStream]]'s kmin == 0 full-read bootstrap.
    *
    * Pinned at `snapshotAt(offset)`: a compaction advancing the base
    * between this resolve and the stream start cannot skew the image
    * (retention keeps the snapshot reconstructible for one cycle).
    */
  def bootstrapAdds(spark: SparkSession, morRoot: String): (Long, DataFrame) = {
    val (pk, vc, del, _) = contractOf(spark, morRoot)
    val off = graft.sources.MorChangeFeedSource.earliestOffset(spark, morRoot)
    val image =
      if (off < 0L)
        MergeOnRead.read(spark, morRoot, pk, vc, del).limit(0)
      else
        MergeOnRead.readPinned(spark, morRoot,
          MergeOnRead.snapshotAt(spark, morRoot, off), pk, vc, del,
          broadcastBudget(spark))
    (off, image.withColumn(ChangeFeed.ChangeCol, lit("add")))
  }

  /** Self-check surface for specs: the batch-range net effect equals
    * the snapshot diff for the touched keys.
    */
  private[graft] def contractOf(spark: SparkSession, morRoot: String)
      : (Seq[String], String, Option[String], Int) =
    MergeOnRead.contract(spark, morRoot).getOrElse(
      throw new Upsert.NoTableException(s"no contract under $morRoot"))
}
