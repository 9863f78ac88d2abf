package graft.sources

import java.util

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.graft.ParquetScanShim
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.io.MergeOnRead

/** Structured-Streaming SOURCE over a merge-on-read root's delta
  * batches (VERDICT r10 #5) — `spark.readStream.format(
  * "graft.sources.MorChangeFeedSource").load(morRoot)`: the O(batch)
  * appends the MOR layout lands ([[graft.io.MergeOnRead.merge]], the
  * SQL DML writes, the `mor=true` streaming sink) ARE the table's
  * change log already, so subscribers read them directly — no second
  * retract-encoded feed to produce and keep consistent. Each row
  * carries its batch id as the appended `__mor_batch` column
  * (partition-value, zero storage), which is what lets a consumer
  * resolve PRE/POST images against the pinned snapshots at the batch
  * boundaries ([[graft.rtdw.MorChangeFeed.retractStream]] turns this
  * upsert log into the retract/add stream [[graft.rtdw
  * .IncrementalDws]] folds).
  *
  * Offsets are delta batch ids (an offset = "batches ≤ id consumed"),
  * riding Spark's own streaming checkpoint exactly like
  * [[ChangeFeedSource]]. Batch ids are monotonic across compactions,
  * and folded batches survive ONE compaction cycle ([[graft.io
  * .MergeOnRead.gcCompactedDeltas]]); a consumer whose unread range
  * was GC'd fails LOUDLY — keeping GC behind every subscriber is the
  * producer's contract (the same one [[graft.io.ChangeFeed.compact]]
  * states), not something to paper over with silent gaps.
  *
  * The stream's schema is pinned at query start (Spark's streaming
  * contract): the root's current widened shape + `__mor_batch`; older
  * batches missing later-added columns surface NULL for them (the
  * layout's own additive-evolution contract). Requires a recorded
  * contract — a root nobody compacted or recorded refuses, same as
  * SQL loading.
  */
class MorChangeFeedSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = false

  private def dir(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "MorChangeFeedSource requires a path (the merge-on-read root)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MorChangeFeedSource.feedSchema(SparkSession.active, dir(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    MorChangeFeedTable(dir(new CaseInsensitiveStringMap(properties)))
}

object MorChangeFeedSource {
  /** The batch-id column appended to every row (a partition value —
    * never stored in the files).
    */
  val BatchCol = "__mor_batch"

  /** Data columns of the feed: the root's current widened read shape
    * (base ∪ live deltas), all nullable (delta batches are blind
    * appends — a pre-contract legacy batch may hold nulls the resolved
    * read would refuse to serve), plus [[BatchCol]].
    */
  private[sources] def feedSchema(spark: SparkSession, root: String): StructType = {
    val (pk, vc, del, _) = MergeOnRead.contract(spark, root).getOrElse(
      throw new UnsupportedOperationException(
        s"$root is a merge-on-read root with no recorded contract — run one " +
          "MergeOnRead.compact (or recordContract) first; the feed needs " +
          "the pk/version contract its consumers resolve with"))
    // STRIPPED of field-id metadata (r13): the feed reads raw DELTA
    // batch parquet, which is never id-stamped — a base-derived schema
    // carrying ids would refuse every batch file
    val data = graft.io.FieldIds.stripIds(
      MergeOnRead.read(spark, root, pk, vc, del).schema)
    StructType(data.fields.map(_.copy(nullable = true)) :+
      StructField(BatchCol, LongType, nullable = false))
  }

  def read(spark: SparkSession, root: String,
           maxBatchesPerTrigger: Option[Int] = None,
           maxBytesPerTrigger: Option[Long] = None,
           startingOffset: Option[String] = None) = {
    val r0 = spark.readStream.format(classOf[MorChangeFeedSource].getName)
    val r1 = maxBatchesPerTrigger.fold(r0)(n =>
      r0.option("maxBatchesPerTrigger", n.toString))
    val r2 = maxBytesPerTrigger.fold(r1)(b =>
      r1.option("maxBytesPerTrigger", b.toString))
    startingOffset.fold(r2)(o => r2.option("startingOffset", o)).load(root)
  }

  /** The earliest offset a FRESH consumer can start from (ADVICE r11):
    * −1 (the table's birth — full replay) while delta batch 0 is still
    * retained, else the base's compaction watermark, i.e. "everything
    * folded into the base is consumed; the retained tail streams". A
    * consumer that needs the folded history's STATE must pair the
    * synthesized start with a bootstrap fold of the base snapshot AT
    * this offset ([[graft.rtdw.MorChangeFeed.bootstrapAdds]] — the
    * CoW feed's net-batch analog, where the base IS the net batch).
    */
  def earliestOffset(spark: SparkSession, root: String): Long = {
    val ids = MergeOnRead.deltaBatches(spark, root).map(_._1)
    val w = MergeOnRead.compactedUpto(spark, root)
    if (ids.headOption.contains(0L) || math.max(ids.lastOption.getOrElse(-1L), w) < 0)
      -1L
    else w
  }

  /** The data files of a listed delta batch dir: everything but its
    * `_`-prefixed records and hidden files.
    */
  private[graft] def dataFiles(listed: Seq[FileStatus]): Seq[FileStatus] =
    listed.filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
      !st.getPath.getName.startsWith("."))

  private val batchField = StructField(BatchCol, LongType, nullable = false)

  /** The reader of feed files whose full row shape is `fullSchema` (data
    * columns plus [[BatchCol]]), producing the `required` columns.
    */
  private[sources] def readerFactory(spark: SparkSession, fullSchema: StructType,
                                     required: StructType): PartitionReaderFactory = {
    val dataSchema = StructType(fullSchema.fields.filterNot(_.name == BatchCol))
    val wantBatch = required.fieldNames.contains(BatchCol)
    val prunedData = StructType(required.fields.filterNot(_.name == BatchCol))
    val support = ParquetScanShim.build(spark, dataSchema,
      if (wantBatch) StructType(Seq(batchField)) else new StructType(), prunedData, Nil,
      ParquetScanShim.hadoopConf(spark))
    new MorFeedReaderFactory(support, wantBatch)
  }
}

private[sources] case class MorChangeFeedTable(dir: String)
    extends Table with SupportsRead {
  override def name(): String = s"mor-cdf:$dir"
  override def schema(): StructType =
    MorChangeFeedSource.feedSchema(SparkSession.active, dir)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private val full = schema()
      private var required: StructType = full
      private val maxBatches =
        Option(options.get("maxBatchesPerTrigger")).map { v =>
          val n = scala.util.Try(v.toInt).getOrElse(
            throw new IllegalArgumentException(
              s"maxBatchesPerTrigger must be a positive integer, got '$v'"))
          require(n > 0, s"maxBatchesPerTrigger must be positive, got $n")
          n
        }
      // byte-based admission, same contract as ChangeFeedSource: a
      // backlog of FAT delta batches drains bounded by memory, not
      // batch count; the first pending batch always admits
      private val maxBytes =
        Option(options.get("maxBytesPerTrigger")).map { v =>
          val n = scala.util.Try(v.toLong).getOrElse(
            throw new IllegalArgumentException(
              s"maxBytesPerTrigger must be a positive long, got '$v'"))
          require(n > 0L, s"maxBytesPerTrigger must be positive, got $n")
          n
        }
      // where a FRESH consumer starts (checkpointed offsets always win
      // on restart): "earliest" (default — the earliest RETAINED
      // position, see [[MorChangeFeedSource.earliestOffset]]),
      // "latest" (only batches committed after query start), or an
      // explicit batch id ("consumed through this batch" — what a
      // bootstrap-folding consumer passes back)
      private val startingOffset =
        Option(options.get("startingOffset")).map { v =>
          v.toLowerCase match {
            case "earliest" | "latest" => v.toLowerCase
            case _ => scala.util.Try(v.toLong).map(_.toString).getOrElse(
              throw new IllegalArgumentException(
                s"startingOffset must be 'earliest', 'latest' or a batch id, got '$v'"))
          }
        }
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = required
        override def description(): String = s"MorChangeFeedScan $dir"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new MorChangeFeedStream(dir, full, required, maxBatches, maxBytes,
            startingOffset)
      }
    }
}

private[sources] class MorChangeFeedStream(dir: String, fullSchema: StructType,
                                           required: StructType,
                                           maxBatchesPerTrigger: Option[Int],
                                           maxBytesPerTrigger: Option[Long] = None,
                                           startingOffset: Option[String] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private def spark = SparkSession.active

  /** A fresh consumer's start position (checkpointed offsets supersede
    * this on every restart). Default "earliest" = the earliest
    * RETAINED position: −1 while batch 0 lives, else the compaction
    * watermark (ADVICE r11 — the old unconditional −1 permanently
    * refused fresh consumers on any table whose batch 0 had been GC'd:
    * the admission gap guard threw, and its advice to restart from a
    * fresh checkpoint recreated the same state). A consumer that needs
    * the folded history's STATE pairs this with a bootstrap fold of
    * the base snapshot at the synthesized offset
    * ([[graft.rtdw.MorChangeFeed.bootstrapAdds]]) — the CoW feed's
    * net-batch analog. Explicit ids are validated here so a typo'd
    * start fails at query start, not mid-stream.
    */
  override def initialOffset(): Offset = {
    val ids = MergeOnRead.deltaBatches(spark, dir).map(_._1)
    val w = MergeOnRead.compactedUpto(spark, dir)
    val maxKnown = math.max(ids.lastOption.getOrElse(-1L), w)
    val off = startingOffset match {
      case None | Some("earliest") =>
        MorChangeFeedSource.earliestOffset(spark, dir)
      case Some("latest") => maxKnown
      case Some(n) => n.toLong
    }
    require(off >= -1L && off <= maxKnown,
      s"startingOffset $off of $dir out of range: table history spans " +
        s"-1..$maxKnown (offsets are 'batches <= id consumed')")
    if (off < maxKnown && !ids.contains(off + 1))
      throw new IllegalStateException(
        s"cannot start a consumer of $dir at offset $off: delta batch " +
          s"${off + 1} is not retained (folded history is GC'd one cycle " +
          s"after compaction) — start at ${MorChangeFeedSource.earliestOffset(spark, dir)} " +
          "(the earliest retained position) and bootstrap state from the " +
          "base snapshot at that offset (MorChangeFeed.bootstrapAdds)")
    FeedOffset(off)
  }

  override def deserializeOffset(json: String): Offset = FeedOffset(json.toLong)

  override def latestOffset(): Offset =
    FeedOffset(MergeOnRead.deltaBatches(spark, dir).lastOption
      .map(_._1).getOrElse(-1L))

  override def reportLatestOffset(): Offset = latestOffset()

  /** AvailableNow pins the drain target at query start — consume what
    * exists NOW in capped steps, then stop (native, because Spark's
    * wrapper would fold the whole backlog into one micro-batch past
    * the admission cap — see [[ChangeFeedStream]]).
    */
  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(latestOffset().asInstanceOf[FeedOffset].last)

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val s = start.asInstanceOf[FeedOffset].last
    // ONE listing feeds both the gap guard and the byte-admission path
    // lookup (ADVICE r11): a GC landing between two separate listings
    // would surface as a bare NoSuchElementException from byPath
    // instead of the loud GC-gap error below
    val listed = MergeOnRead.deltaBatches(spark, dir)
    val all0 = listed.map(_._1)
    // the GAP guard must live at ADMISSION, not only in
    // planInputPartitions: when GC collected the consumer's whole
    // unread range the pending list is empty, no batch is planned, and
    // the stream would end "successfully" with those changes silently
    // lost forever. Folded history is visible through the compaction
    // watermark even after the batch dirs are gone.
    val maxKnown = math.max(all0.lastOption.getOrElse(-1L),
      MergeOnRead.compactedUpto(spark, dir))
    if (s < maxKnown && !all0.contains(s + 1))
      throw new IllegalStateException(
        s"merge-on-read delta batch ${s + 1} of $dir was GC'd past this " +
          s"consumer's watermark $s (table history reaches $maxKnown) — " +
          "compaction/GC must stay behind every subscriber " +
          "(gcCompactedDeltas retains one cycle). To recover: restart from " +
          "a FRESH checkpoint (it starts at the earliest retained offset) " +
          "and rebuild consumer state from the base snapshot at that " +
          "offset (MorChangeFeed.bootstrapAdds)")
    val byPath = listed.toMap
    val all = availableNowTarget.fold(all0)(t => all0.filter(_ <= t))
    val pending = all.filter(_ > s)
    val end = limit match {
      case FeedAdmission(mb, mByt) =>
        val fs = graft.io.FsOps.fs(spark,
          new org.apache.hadoop.fs.Path(dir))
        def bytesOf(k: Long): Long = {
          val p = new org.apache.hadoop.fs.Path(byPath(k))
          fs.getContentSummary(p).getLength
        }
        var last = s
        var count = 0
        var cum = 0L
        val it = pending.iterator
        var stop = false
        while (it.hasNext && !stop) {
          val k = it.next()
          if (mb.exists(count + 1 > _)) stop = true
          else {
            val sz = if (mByt.isDefined) bytesOf(k) else 0L
            // always admit the FIRST pending batch, even oversized:
            // progress over stall (ChangeFeedSource's own contract)
            if (mByt.exists(b => count > 0 && cum + sz > b)) stop = true
            else { last = k; count += 1; cum += sz }
          }
        }
        last
      case _ => pending.lastOption.getOrElse(s)
    }
    FeedOffset(math.max(s, end))
  }

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    if (maxBatchesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty)
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
    else FeedAdmission(maxBatchesPerTrigger, maxBytesPerTrigger)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FeedOffset].last
    val e = end.asInstanceOf[FeedOffset].last
    if (e <= s) return Array.empty
    val avail = MergeOnRead.deltaBatches(spark, dir).toMap
    // batch ids are CONSECUTIVE by construction (MergeOnRead.merge);
    // a gap in (s, e] means GC collected part of this consumer's
    // unread range — the producer compacted past a live subscriber.
    // Silence here would commit a batch with the gap's changes lost
    // forever; fail loudly instead (ChangeFeed.compact's contract).
    val missing = ((s + 1) to e).filterNot(avail.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"merge-on-read delta batch(es) ${missing.mkString(", ")} of $dir " +
          s"were GC'd past this consumer's watermark $s — compaction/GC " +
          "must stay behind every subscriber (gcCompactedDeltas retains one " +
          "cycle). To recover: restart from a FRESH checkpoint (it starts " +
          "at the earliest retained offset) and rebuild consumer state " +
          "from the base snapshot at that offset (MorChangeFeed.bootstrapAdds)")
    val fs = graft.io.FsOps.fs(spark,
      new org.apache.hadoop.fs.Path(dir))
    ((s + 1) to e).flatMap { k =>
      MorChangeFeedSource.dataFiles(fs.listStatus(new org.apache.hadoop.fs.Path(avail(k))).toSeq)
        .map(st => MorFeedPartition(k, st.getPath.toString, st.getLen))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    MorChangeFeedSource.readerFactory(spark, fullSchema, required)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class MorFeedPartition(batch: Long, path: String,
                                             len: Long) extends InputPartition

private[sources] class MorFeedReaderFactory(support: ParquetScanShim.ReadSupport,
                                            wantBatch: Boolean)
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    support.columnar

  private def rawIterator(p: InputPartition): Iterator[AnyRef] = {
    val part = p.asInstanceOf[MorFeedPartition]
    val pv =
      if (wantBatch) new GenericInternalRow(Array[Any](part.batch))
      else new GenericInternalRow(Array.empty[Any])
    support.read(ParquetScanShim.partitionedFile(pv, part.path, part.len))
      .asInstanceOf[Iterator[AnyRef]]
  }

  private class IterReader[T](it: Iterator[AnyRef]) extends PartitionReader[T] {
    private var cur: AnyRef = _
    override def next(): Boolean =
      if (it.hasNext) { cur = it.next(); true } else false
    override def get(): T = cur.asInstanceOf[T]
    override def close(): Unit = () // per-file readers close on task completion
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new IterReader[InternalRow](rawIterator(p))

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    new IterReader[ColumnarBatch](rawIterator(p))
}
