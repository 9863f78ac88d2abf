package graft.sources

import java.util
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.graft.ParquetWriteShim
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.{ChangeFeed, Upsert}

/** Streaming SINK over [[graft.io.Upsert]] tables — the write half of
  * the upsert-kafka equivalence ([[ChangeFeedSource]] is the read
  * half): `df.writeStream.format("graft.sources.UpsertStreamSink")`
  * lands every micro-batch as the table's own last-writer-wins merge,
  * so a streaming pipeline terminates in a PK-correct, MVCC-readable
  * table instead of an append log. The reference's DWD jobs end in
  * exactly this shape — a keyed upsert topic other jobs subscribe to
  * (SQLUtil.getUpsertKafkaSQL:46-54); here the topic is the lakehouse
  * table and the subscription is [[ChangeFeedSource]].
  *
  * Exactly-once: each epoch's rows are staged by EXECUTORS as plain
  * parquet (Spark's own writer stack via [[ParquetWriteShim]] — no
  * driver collect, no row shipping), and the driver's epoch commit
  * folds the staged files through `Upsert.merge`, recording
  * `streamEpoch.<queryId> = epochId` in the SAME manifest rename as
  * the merged content. A crash between sink commit and checkpoint
  * advance makes Spark replay the epoch; the recorded watermark turns
  * the replay into a no-op — the merge and its epoch marker can never
  * disagree. The change feed (when present) dedupes independently on
  * the same `stream-<queryId>-<epochId>` commit id.
  *
  * Contract resolution at query START (loud, not at first epoch): an
  * existing table binds pk/versionCol/numBuckets from its manifest —
  * options may repeat but not contradict them; a fresh table takes
  * them from options (`pk` comma-separated, `versionCol`, optional
  * `numBuckets`, `changeLog=true` to retract-log from birth). A table
  * that already carries a change feed is ALWAYS fed (the batch INSERT
  * guard refuses such tables because a feed-blind write starves
  * subscribers; the streaming sink is a feed-aware writer, so it
  * cooperates instead).
  *
  * `mor=true` (VERDICT r10 #1) terminates the stream in a
  * [[graft.io.MergeOnRead]] root instead: each epoch is ONE O(batch)
  * delta append — the base is never opened, so commit cost tracks the
  * batch size whatever the key distribution or base size (the CoW
  * default rewrites every touched bucket per epoch: at a random-key
  * firehose that is O(table) per micro-batch and the pipeline falls
  * behind its own commit cost; the delta append measured 187× cheaper
  * at a 5M base, growing with base size: PROBES.md, "Write paths", the
  * `events` and `sinkmor` rows).
  * Reads resolve through [[graft.io.MergeOnRead.read]] / the SQL
  * catalog; [[graft.io.Maintenance.runMor]] folds the delta backlog
  * out of band (the sink retries briefly when maintenance holds the
  * writer lease). Exactly-once rides the batch commitId marker plus a
  * per-query watermark file — see the commit scaladoc. Reference
  * analog: the upsert-kafka terminus is an O(batch) log append
  * (SQLUtil.java:46-54), not a table rewrite; this is that log,
  * durable on files.
  */
class UpsertStreamSink extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  private def dir(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "UpsertStreamSink requires a path")
    p
  }

  /** Sink-only: an existing table reports its recorded schema (so a
    * mismatched query fails visibly), a fresh one reports empty — the
    * write itself always uses the QUERY's schema from
    * `LogicalWriteInfo`.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    Upsert.currentManifest(spark, dir(options))
      .flatMap(Upsert.tableSchema)
      .getOrElse(new StructType())
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    UpsertStreamTable(dir(opts), schema, opts)
  }
}

object UpsertStreamSink {
  /** Convenience: a configured `writeStream` for `df` into `dir`.
    * Caller still sets checkpointLocation/trigger and calls
    * `.start()`.
    */
  def writer(df: DataFrame, dir: String, pk: Seq[String], versionCol: String,
             numBuckets: Int = -1, changeLog: Boolean = false,
             deleteFlagCol: Option[String] = None,
             mor: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val w0 = df.writeStream
      .format(classOf[UpsertStreamSink].getName)
      .option("path", dir)
      .option("pk", pk.mkString(","))
      .option("versionCol", versionCol)
      .option("changeLog", changeLog.toString)
      .option("mor", mor.toString)
    // numBuckets is a CONTRACT option (contradictions refuse at query
    // start): only pass it when the caller explicitly chose one —
    // -1 = "recorded count, or the sink default for a fresh table"
    val w = if (numBuckets > 0) w0.option("numBuckets", numBuckets.toString) else w0
    deleteFlagCol.fold(w)(c => w.option("deleteFlagCol", c))
  }

  /** The table's writer lease aborts loudly on contention — right for
    * two PRODUCERS racing, but background [[graft.io.Maintenance]]
    * (compaction/vacuum between epochs) legitimately holds it for
    * short windows, and a continuous pipeline must outlive those. The
    * sink is the table's primary writer: it retries briefly with
    * backoff and still fails loudly when the lease stays held (a real
    * concurrent producer). Safe to retry: the exception is thrown at
    * ACQUISITION, before any write begins.
    */
  private[sources] def withLeaseRetry[T](body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case _: Upsert.ConcurrentWriterException if attempt < 6 =>
          Thread.sleep(250L << attempt)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

private[sources] case class UpsertStreamTable(dir: String,
                                              declaredSchema: StructType,
                                              options: CaseInsensitiveStringMap)
    extends Table with SupportsWrite {
  override def name(): String = s"upsert-stream:$dir"
  override def schema(): StructType = declaredSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.STREAMING_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val spark = SparkSession.active
    def opt(k: String): Option[String] =
      Option(options.get(k)).filter(_.nonEmpty)
    // merge-on-read mode (VERDICT r10 #1): each epoch lands as ONE
    // O(batch) delta append — the base is never rewritten, so commit
    // cost tracks the BATCH whatever the key distribution or base
    // size; Maintenance folds the backlog out of band. The CoW default
    // below rewrites every touched bucket per epoch — right for keyed
    // dim maintenance, wrong for a random-key firehose.
    val morMode = opt("mor").exists(_.toBoolean)
    // layout guard: the two formats must never tangle in one dir. A
    // CoW epoch into a MOR root would commit a `__gen` tree beside the
    // delta log (readers of either layout silently miss the other's
    // rows); a MOR epoch into a CoW table would plant a contract +
    // delta log the table's own readers never resolve.
    if (morMode && Upsert.currentManifest(spark, dir).isDefined)
      throw new Upsert.TableContractException(
        s"mor=true but $dir already holds a copy-on-write Upsert table " +
          "(a committed manifest at the root) — stream into a fresh dir, " +
          "or drop mor to keep feeding the existing table")
    if (!morMode && graft.io.MergeOnRead.isMorRoot(spark, dir))
      throw new Upsert.TableContractException(
        s"$dir is a merge-on-read root — set .option(\"mor\", \"true\") to " +
          "append epochs to its delta log; a copy-on-write epoch here " +
          "would tangle two layouts in one dir")
    val man = if (morMode) None else Upsert.currentManifest(spark, dir)
    val morContract =
      if (morMode) graft.io.MergeOnRead.contract(spark, dir) else None
    // recorded contract binds; options may agree but never contradict
    // (same refusal the API merge enforces — just earlier and louder,
    // at query start instead of first epoch)
    def bound(recorded: Option[String], supplied: Option[String],
              what: String): Option[String] = (recorded, supplied) match {
      case (Some(r), Some(g)) if r != g =>
        throw new Upsert.TableContractException(
          s"streaming sink option $what=$g contradicts the recorded " +
            s"$what [$r] of $dir")
      case (r, g) => r.orElse(g)
    }
    val recPk =
      if (morMode) morContract.map(_._1.mkString(","))
      else man.flatMap(_.props.get(Upsert.PkColsProp))
    val recVc =
      if (morMode) morContract.map(_._2)
      else man.flatMap(_.props.get(Upsert.VersionColProp))
    val recBuckets =
      if (morMode) morContract.map(_._4.toString)
      else man.flatMap(_.props.get("numBuckets"))
    val pk = bound(recPk, opt("pk"), "pk")
      .getOrElse(throw new IllegalArgumentException(
        s"fresh table $dir needs .option(\"pk\", \"c1,c2\")"))
      .split(",").toSeq
    // versionFromEpoch: the version is SYNTHESIZED at epoch commit
    // (lit(epochId) into the version column) — the upsert-kafka
    // contract where later emission of a key supersedes earlier, which
    // is exactly what an UPDATE-mode streaming aggregation needs (each
    // emitted row is the key's new total, versions are the epochs)
    val versionFromEpoch = opt("versionFromEpoch").exists(_.toBoolean)
    val versionCol = bound(recVc, opt("versionCol"), "versionCol")
      .getOrElse(
        if (versionFromEpoch) "__v"
        else throw new IllegalArgumentException(
          s"fresh table $dir needs .option(\"versionCol\", \"col\")"))
    // versionFromEpoch against an EXISTING table demands an
    // epoch-domain version column: epoch counters (0,1,2,…) stamped
    // into a column holding data-domain versions (timestamps, CDC
    // sequence numbers) lose every LWW comparison — the stream runs
    // "successfully" forever while the table never changes. A table
    // this sink bred carries a streamEpoch watermark (manifest prop in
    // CoW mode, root file in MOR mode).
    if (versionFromEpoch) {
      if (morMode) {
        // content-keyed, NOT contract-keyed: newWriteBuilder may run
        // more than once per query start, and the first call records
        // the contract — a root with a contract but no rows is still
        // this stream's own fresh table
        val hasContent =
          graft.io.MergeOnRead.deltaBatches(spark, dir).nonEmpty ||
            graft.io.MergeOnRead.compactedUpto(spark, dir) >= 0
        require(!hasContent ||
            graft.io.MergeOnRead.streamEpochWatermarks(spark, dir).nonEmpty,
          s"versionFromEpoch=true against existing merge-on-read root $dir " +
            "that no epoch-stamping stream bred — epoch counters would lose " +
            "every LWW comparison and the stream would never change the " +
            "table; stream into a fresh dir, or carry a data-domain version")
      }
      else man.foreach { m =>
        require(m.props.keys.exists(_.startsWith("streamEpoch.")),
          s"versionFromEpoch=true against $dir, whose recorded versionCol " +
            s"[$versionCol] was written by non-epoch writers — epoch " +
            "counters would lose every LWW comparison and the stream would " +
            "never change the table; stream into a fresh table dir, or " +
            "carry a data-domain version in the query instead")
      }
    }
    // same contradiction rule as pk/versionCol: a numBuckets option
    // that disagrees with the recorded placement refuses at query
    // start — silently ignoring it reads as a successful re-bucket
    val numBuckets = bound(recBuckets, opt("numBuckets"), "numBuckets")
      .fold(16)(_.toInt)
    // a MOR root's delta batches ARE its change log ([[MorChangeFeed]]
    // subscribes to them directly) — a second retract-encoded feed
    // would be redundant state to keep consistent, refused
    if (morMode && opt("changeLog").exists(_.toBoolean))
      throw new IllegalArgumentException(
        s"changeLog=true with mor=true on $dir: a merge-on-read root's " +
          "delta batches are already its change log — subscribe to them " +
          "instead of recording a second feed")
    val feed = !morMode && (ChangeFeed.batches(spark, dir).nonEmpty ||
      opt("changeLog").exists(_.toBoolean))
    // retract-capable ingestion: rows whose flag column says delete
    // REMOVE their key (the merge's own deleteFlagCol contract) — the
    // sink-side half of consuming a retract stream
    val deleteFlagCol =
      if (morMode) bound(morContract.flatMap(_._3), opt("deleteFlagCol"),
        "deleteFlagCol")
      else opt("deleteFlagCol")
    val writeSchema = StructType(
      info.schema().fields.filterNot(_.name == UpsertBucketSource.BucketCol)
        .map(_.copy(nullable = true)))
    require(pk.forall(c => writeSchema.fieldNames.contains(c)),
      s"streaming sink query schema ${info.schema().simpleString} lacks " +
        s"pk [${pk.mkString(",")}]")
    if (versionFromEpoch)
      require(!writeSchema.fieldNames.contains(versionCol),
        s"versionFromEpoch synthesizes [$versionCol]; the query schema must " +
          "not also carry it (ambiguous version authority)")
    else require(writeSchema.fieldNames.contains(versionCol),
      s"streaming sink query schema ${info.schema().simpleString} lacks " +
        s"versionCol [$versionCol]")
    deleteFlagCol.foreach(c => require(writeSchema.fieldNames.contains(c),
      s"deleteFlagCol [$c] is not in the query schema"))
    // MOR mode binds its contract DURABLY at query start: reads,
    // Maintenance policy passes, and SQL loading all resolve the same
    // pk/version/deleteFlag/buckets this stream writes under (a fresh
    // root records; an existing contract was verified non-contradicting
    // above via `bound`, and recordContract re-verifies)
    if (morMode) {
      // record the LANDED shape too: an empty sink-created root then
      // serves subscribers/SQL as a typed empty table, so producer and
      // consumer start order stops mattering
      val landedSchema =
        if (versionFromEpoch) StructType(writeSchema.fields :+
          org.apache.spark.sql.types.StructField(versionCol,
            org.apache.spark.sql.types.LongType, nullable = true))
        else writeSchema
      // under the writer lease (ADVICE r11): this record/backfill races
      // Maintenance.runMor's own contract backfill, and unserialized
      // last-wins text writes could land different schema shapes;
      // retried because Maintenance legitimately holds the lease for
      // short windows between epochs
      UpsertStreamSink.withLeaseRetry {
        graft.io.MergeOnRead.recordContractLeased(spark, dir, pk, versionCol,
          deleteFlagCol, numBuckets, Some(landedSchema))
      }
    }
    // SupportsStreamingUpdateAsAppend: UPDATE-mode streaming (each
    // emitted row = the key's refreshed value) lands as the same LWW
    // merge — update-as-append IS this sink's native semantic
    new WriteBuilder
        with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite = new UpsertStreamingWrite(
          dir, writeSchema, pk, versionCol, numBuckets, feed, info.queryId(),
          deleteFlagCol, versionFromEpoch, morMode)
      }
    }
  }
}

private[sources] case class StreamFileCommit(path: String) extends WriterCommitMessage

private[sources] class UpsertStreamingWrite(dir: String, schema0: StructType,
                                            pk: Seq[String], versionCol: String,
                                            numBuckets: Int, changeLog: Boolean,
                                            queryId: String,
                                            deleteFlagCol: Option[String] = None,
                                            versionFromEpoch: Boolean = false,
                                            morMode: Boolean = false)
    extends StreamingWrite {

  // the staging layer is ID-FREE (r13): epoch files are transient and
  // the merge commit re-stamps field ids from the manifest anyway — an
  // id-carrying read schema would refuse epoch files staged by a
  // pre-stamping writer mid-upgrade (parquet rejects the mix outright)
  private val schema: StructType = graft.io.FieldIds.stripIds(schema0)

  // per-QUERY watermark prop: two different streaming queries into one
  // table track replay independently (their epochs are unrelated
  // counters). One small prop per query id; a table fed by thousands
  // of distinct historical queries would accumulate them — the
  // streaming topology shape is a stable set of named jobs, as in the
  // reference, so this stays O(jobs).
  private val epochProp = s"streamEpoch.$queryId"
  private val staging = s"${dir.stripSuffix("/")}/.stream-$queryId"

  // ---- zombie fencing (VERDICT r11 #5, the illegal two-producer
  // shape): TWO DRIVERS running the SAME queryId (a split-brain
  // orchestrator double-start, or a stuck "dead" driver resuming after
  // its replacement started) would otherwise interleave silently — the
  // replay watermark treats the slower driver's epochs as replays and
  // DROPS their content without a sound. Each run claims the per-query
  // owner file with a fresh token at its first commit (newest claimer
  // wins — Kafka's producer-epoch fencing semantic); a run that held
  // ownership and later finds a foreign token has been superseded and
  // fails LOUDLY instead of feeding a fork. Distinct queryIds stay
  // fully independent (their owner files are per-query). One tiny file
  // per query id — the watermark files' own accumulation contract.
  private val runToken = java.util.UUID.randomUUID().toString
  private var ownedThisRun = false
  private def ownerPath = new Path(dir.stripSuffix("/"), s"_streamOwner-$queryId")

  private def fenceOrClaim(spark: SparkSession): Unit = {
    val owner = graft.io.FsOps.readTextOpt(spark, ownerPath).map(_.trim)
    if (!owner.contains(runToken)) {
      if (ownedThisRun)
        throw new IllegalStateException(
          s"streaming query $queryId into $dir was taken over by another " +
            s"driver (owner run ${owner.getOrElse("?")}): this run is fenced " +
            "— two drivers were writing the SAME query id, which the replay " +
            "watermark would silently fold; stop the duplicate driver")
      graft.io.FsOps.writeTextAtomic(spark, ownerPath, runToken)
    }
    ownedThisRun = true
  }

  private def epochDir(epochId: Long) = s"$staging/epoch=$epochId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val fs = new Path(staging).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(staging))
    val support = ParquetWriteShim.build(spark, schema)
    val stagingRoot = staging
    (partitionId: Int, taskId: Long, epochId: Long) =>
      new DataWriter[InternalRow] {
        private val path = s"$stagingRoot/epoch=$epochId/" +
          s"part-$partitionId-$taskId-${UUID.randomUUID()}.parquet"
        private lazy val writer = support.newWriter(path, partitionId, taskId)
        private var wrote = false
        override def write(row: InternalRow): Unit = {
          writer.write(row); wrote = true
        }
        override def commit(): WriterCommitMessage =
          if (wrote) { writer.close(); StreamFileCommit(path) }
          else DeltaNoopCommit
        override def abort(): Unit = if (wrote) writer.close()
        override def close(): Unit = ()
      }
  }

  // lease-contention retry shared with the query-start contract record
  private def withLeaseRetry[T](body: => T): T =
    UpsertStreamSink.withLeaseRetry(body)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    try {
      fenceOrClaim(spark)
      val applied =
        if (morMode)
          graft.io.MergeOnRead.streamEpochApplied(spark, dir, queryId)
        else Upsert.currentManifest(spark, dir)
          .flatMap(_.props.get(epochProp)).map(_.toLong).getOrElse(-1L)
      if (epochId <= applied) return // replayed epoch: already merged
      val files = messages.collect { case StreamFileCommit(p) => p }
      if (files.isEmpty) return // empty epoch: nothing to merge, replay is free
      val staged0 = Upsert.scanPaths(spark, epochDir(epochId),
        files.toIndexedSeq.map(new Path(_)), Some(schema))
      val staged =
        if (versionFromEpoch)
          staged0.withColumn(versionCol,
            org.apache.spark.sql.functions.lit(epochId))
        else staged0
      if (morMode) {
        // O(batch) epoch commit (VERDICT r10 #1): ONE delta append,
        // base untouched — commit cost tracks the batch, not the
        // table. Replay defense is two-layered: the commitId marker
        // rides the batch's own publishing rename (a replayed epoch
        // whose watermark write was lost re-resolves to the SAME
        // batch id, a no-op), and the per-query watermark file written
        // after survives even the batch dir's eventual GC —
        // gcCompactedDeltas refuses to collect a stream batch the
        // watermark has not acknowledged, so the pair is airtight at
        // every crash point.
        withLeaseRetry {
          graft.io.MergeOnRead.merge(spark, dir, staged,
            commitId = Some(
              s"${graft.io.MergeOnRead.StreamCommitPrefix}$queryId-$epochId"))
        }
        graft.io.MergeOnRead.recordStreamEpoch(spark, dir, queryId, epochId)
      } else withLeaseRetry {
        Upsert.merge(spark, dir, staged, pk = pk, versionCol = versionCol,
          deleteFlagCol = deleteFlagCol,
          numBuckets = numBuckets, changeLog = changeLog,
          commitId = Some(s"stream-$queryId-$epochId"),
          extraProps = Map(epochProp -> epochId.toString))
      }
    } finally cleanup(spark, epochId)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    cleanup(SparkSession.active, epochId)

  private def cleanup(spark: SparkSession, epochId: Long): Unit = {
    val p = new Path(epochDir(epochId))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }
}
