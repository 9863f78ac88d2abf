package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Merge-on-read upsert table (VERDICT r2 #3) — the firehose
  * complement to [[Upsert]]'s copy-on-write buckets.
  *
  * [[Upsert.merge]] rewrites the buckets a batch touches: perfect for
  * CDC dim maintenance (50 keys → ~50/4096 buckets) but a random-key
  * FACT firehose touches every bucket per batch, reverting to O(table)
  * writes. This layout makes the write O(batch) ALWAYS and moves the
  * resolution to read time:
  *
  *   dir/base/_manifest-&lt;gen&gt;   manifest-committed bucketed base
  *                                (carries `upto` = highest folded
  *                                delta batch as a manifest property,
  *                                so base files and watermark are ONE
  *                                atomic commit — VERDICT r3 #1)
  *   dir/delta/batch=K/...        one directory per merge batch, verbatim
  *
  *  - merge(): stage-and-rename the batch as the next `delta/batch=K`
  *    (idempotent via commitId, same contract as [[ChangeFeed.append]]).
  *    Never opens the base — write cost is O(batch) whatever the key
  *    distribution.
  *  - read(): base ∪ live deltas, newest (versionCol, batch) per PK
  *    wins, delete rows drop — exactly the content an equivalent
  *    copy-on-write table would hold (proven in MergeOnReadSpec).
  *    When the live deltas are small (the steady state the compaction
  *    contract maintains), resolution BROADCASTS the resolved delta
  *    winners instead of windowing over base ∪ deltas: the base never
  *    enters a shuffle — read cost tracks O(deltas), not O(table)
  *    (VERDICT r3 #2; PlanSpec-gated). Above the broadcast threshold it
  *    falls back to the full window.
  *  - compact(): fold live deltas into a fresh bucketed base generation
  *    committed by one manifest rename (watermark inside it); old base
  *    generations stay on disk for in-flight readers until vacuumed, so
  *    a reader that resolved the previous manifest finishes cleanly —
  *    never a double-apply, a torn table, or a vanished file.
  *
  * This is the file-native analog of a lakehouse MERGE with deletion
  * vectors / log-structured deltas (Hudi MOR, Delta DVs, Paimon LSM);
  * on a real deployment this object is the swap point for the format's
  * native implementation. Reference analog: upsert-kafka topics are
  * themselves logs resolved at read by compacted-topic semantics
  * (SQLUtil.java:46-54) — this is that, durably on files.
  */
object MergeOnRead {

  private def basePath(dir: String) = s"${dir.stripSuffix("/")}/base"
  private def deltaRoot(dir: String) = s"${dir.stripSuffix("/")}/delta"
  // the source tag every LWW pick ranks on: base −1, a delta its batch id
  private[graft] val BatchCol = "__mor_batch"

  /** Deltas smaller than this (on-disk bytes, summed driver-side from
    * file listings — no job) resolve via the broadcast fast path.
    * Parquet expands ~3-5× in memory, so 32 MB on disk stays well under
    * executor broadcast budgets.
    */
  val DefaultBroadcastDeltaBytes: Long = 32L << 20

  /** Does the CURRENT base generation carry Bloom sidecars? Answered
    * from the live manifest's referenced bucket dirs (driver-side
    * exists() probes, bounded by numBuckets — no job). Used by callers
    * that must PRESERVE the table's bloom posture across a compaction
    * they didn't configure (ADVICE r14: the drain-aware pairing
    * compacted with bloom=false, silently degrading point lookups from
    * bloom-pruned candidate files to whole-bucket scans). A mixed-
    * generation base counts as bloom'd if ANY referenced dir has a
    * sidecar — rebuilding blooms for the rest is strictly an upgrade.
    */
  private[graft] def baseHasBlooms(spark: SparkSession, dir: String): Boolean =
    Upsert.currentManifest(spark, basePath(dir)).exists { m =>
      val base = basePath(dir)
      val fs = FsOps.fs(spark, new Path(base))
      m.allFiles.iterator.map(rel =>
        rel.lastIndexOf('/') match {
          case -1 => "" // root-level anchor: no bucket dir, no sidecar
          case i => rel.substring(0, i)
        }).filter(_.nonEmpty).toSet[String]
        .exists(d => fs.exists(new Path(new Path(base, d), Blooms.SidecarName)))
    }

  /** Highest delta batch already folded into the base (-1: none).
    * Read from the base manifest — the watermark and the base file list
    * it applies to are the same atomic commit.
    */
  def compactedUpto(spark: SparkSession, dir: String): Long =
    Upsert.currentManifest(spark, basePath(dir))
      .flatMap(_.props.get("upto")).map(_.toLong).getOrElse(-1L)

  /** (batchId, path) of every delta batch on disk, ascending. */
  def deltaBatches(spark: SparkSession, dir: String): Seq[(Long, String)] = {
    val root = new Path(deltaRoot(dir))
    val fs = FsOps.fs(spark, root)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(s => (s.getPath.getName.stripPrefix("batch=").toLong, s.getPath.toString))
      .sortBy(_._1)
  }

  /** MOR table health — base snapshot stats plus the delta backlog
    * (the "should I compact" signal). Metadata only, zero jobs.
    */
  case class MorStats(base: Option[Upsert.TableStats], compactedUpto: Long,
                      liveDeltaBatches: Int, liveDeltaBytes: Long)

  def stats(spark: SparkSession, dir: String): MorStats = {
    val upto = compactedUpto(spark, dir)
    val live = deltaBatches(spark, dir).filter(_._1 > upto)
    val bytes = live.map { case (_, p) =>
      val path = new Path(p)
      FsOps.fs(spark, path).getContentSummary(path).getLength
    }.sum
    MorStats(Upsert.stats(spark, basePath(dir)), upto, live.size, bytes)
  }

  /** DESCRIBE HISTORY for the delta-log layout — the MOR twin of
    * [[Upsert.history]]: one row per RETAINED delta batch (version =
    * batch id, the table's time-travel axis; streaming-sink epochs are
    * labeled by their commit marker) and one per retained base
    * generation (version = its fold watermark). Metadata only:
    * O(retained batches + generations) driver listings, no Spark job.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val fs = FsOps.fs(spark, new Path(dir))
    val batchRows = deltaBatches(spark, dir).map { case (id, p) =>
      val d = new Path(p)
      val ls = fs.listStatus(d) // one listing: op label AND file count
      val op =
        if (ls.exists(_.getPath.getName.startsWith("_commit-stream-")))
          "streaming-epoch"
        else "merge"
      val files = ls.count { s =>
        s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith(".")
      }
      org.apache.spark.sql.Row(id, op,
        FsOps.batchCommittedAt(fs, d)
          .orElse(Some(fs.getFileStatus(d).getModificationTime))
          .map(ms => new java.sql.Timestamp(ms)).orNull,
        files, s"delta/batch=$id")
    }
    val base = basePath(dir)
    val genRows = Upsert.manifestGens(spark, base).sorted
      .flatMap(g => Upsert.manifestAt(spark, base, g))
      .map { m =>
        val upto = m.props.get("upto").map(_.toLong).map(Long.box).orNull
        org.apache.spark.sql.Row(upto, "compact",
          m.props.get(Upsert.CommittedAtProp)
            .map(s => new java.sql.Timestamp(s.toLong)).orNull,
          // negative keys are anchors (schema bucket), not data files
          m.files.filter(_._1 >= 0).valuesIterator.map(_.size).sum,
          s"base gen=${m.gen}" +
            m.props.get(Upsert.SortedByProp).map(s => s" sortedBy=$s").getOrElse(""))
      }
    val schema = StructType(Seq(
      StructField("version", LongType),
      StructField("operation", StringType),
      StructField("committed_at", TimestampType),
      StructField("num_files", IntegerType, nullable = false),
      StructField("detail", StringType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      ((batchRows ++ genRows).sortBy(r => Option(r.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(-1L)).reverse).asJava, schema)
  }

  /** The delta batch already committed under `commitId`, if any. */
  def committedBatchFor(spark: SparkSession, dir: String,
                        commitId: String): Option[Long] = {
    val fs = FsOps.fs(spark, new Path(deltaRoot(dir)))
    deltaBatches(spark, dir).find { case (_, p) =>
      fs.exists(new Path(p, s"_commit-$commitId"))
    }.map(_._1)
  }

  /** Append `updates` as the next delta batch — O(batch) I/O, the base
    * is never opened. Idempotent under replay via `commitId` (the
    * marker file commits with the batch's own rename). Returns the
    * batch id. Batch ids stay monotonic across compactions (next id =
    * max(last delta, compactedUpto) + 1).
    *
    * Lease scope (r15, VERDICT r14 #1): appends take a DELTA-ROOT
    * lease (`<root>/delta/_lock`), not the table lease — a blind
    * append conflicts with nothing a table-lease holder does (a
    * compact folds only ALREADY-COMMITTED batches and GC only
    * collects folded ones; a concurrent append's id is above both by
    * the monotonic rule), so a streaming sink's epoch commit never
    * stalls behind a minutes-long background compaction. Appends
    * still serialize among THEMSELVES (batch numbering and the
    * stage-tmp dir are per-id), and the id computation below is
    * compaction-race-safe by READ ORDER: batches are listed BEFORE
    * the compaction watermark is read, so any batch that vanished to
    * GC between the two reads was folded first and the later
    * watermark read covers it — next always exceeds every id that
    * ever existed.
    */
  def merge(spark: SparkSession, dir: String, updates: DataFrame,
            commitId: Option[String] = None): Long =
    Upsert.withWriterLease(spark, deltaRoot(dir)) {
    commitId.flatMap(committedBatchFor(spark, dir, _)) match {
      case Some(existing) => existing
      case None =>
        val root = new Path(deltaRoot(dir))
        val fs = FsOps.fs(spark, root)
        // ORDER MATTERS (see scaladoc): list deltas, THEN read upto
        val lastBatch = deltaBatches(spark, dir).lastOption.map(_._1)
          .getOrElse(-1L)
        val next = math.max(lastBatch, compactedUpto(spark, dir)) + 1
        // the delta lease doesn't block a TABLE-lease holder (that's
        // the point), so an ALTER can evolve the contract while this
        // batch stages — the batch would then commit validated/
        // normalized against a superseded contract (e.g. carrying a
        // renamed-away name the new contract refuses). Snapshot the
        // raw contract text here and veto the publish if it changed:
        // the staged dir is deleted and the retryable contention
        // error sends the caller (the sink's withLeaseRetry, or a
        // manual producer) back through validation against the NEW
        // contract.
        val contractAtValidate = FsOps.readTextOpt(spark, contractFile(dir))
        val recheck: () => Unit = () => {
          if (FsOps.readTextOpt(spark, contractFile(dir)) != contractAtValidate)
            throw new Upsert.ConcurrentWriterException(
              s"contract of $dir evolved while delta batch $next staged " +
                "(concurrent ALTER) — the batch was validated against the " +
                "superseded contract; retry the append")
        }
        FsOps.stageAndCommitBatch(fs, root, next, commitId, recheck) { tmp =>
          val batch = validated(spark, dir, updates)
          batch.write.mode("overwrite").parquet(tmp.toString)
          // the schema this batch was written with rides the SAME rename
          // as its rows: readers take it from here instead of running a
          // footer-inference job (see readDeltaBatches)
          val out = fs.create(new Path(tmp, DeltaSchemaFile), true)
          try out.write(batch.schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        }
        next
    }
  }

  /** Once the table's contract is RECORDED, every appended batch must
    * carry the pk and version columns with NO nulls: the SQL catalog
    * reports them NOT NULL (the row-id requirement of the DML rewrite
    * and the LWW identity/order contract), so a null slipping into the
    * log would contradict the declared schema — the optimizer could
    * constant-fold `IS NULL` predicates over it. The check is an
    * INLINE filter inside the same write job (zero extra passes); it
    * raises per offending row, and the staged batch never commits.
    * Pre-contract appends stay unvalidated (such roots refuse SQL
    * loading until a contract exists; legacy rows from before the
    * contract resolve through the null-tolerant read path and wash out
    * at the next compaction).
    */
  private def validated(spark: SparkSession, dir: String,
                        updates: DataFrame): DataFrame =
    contractKv(spark, dir) match {
      case None => updates
      case Some(kv) =>
        val (pk, vc, _, _) = kvContract(kv)
        // column mapping (r13): batches arrive under the table's
        // CURRENT (logical) names and are stored under the PHYSICAL
        // ones, so old and new batches keep unioning into the same
        // columns. A producer still writing a renamed-away name fails
        // loudly instead of silently forking the column.
        val renamedMap = kvRenamed(kv)
        val retired = kvRetired(kv)
        val updates0 =
          if (renamedMap.isEmpty && retired.isEmpty) updates
          else {
            def canon(n: String) = SchemaEvolution.canon(spark, n)
            updates.columns.find(c => renamedMap.contains(canon(c))).foreach(c =>
              throw new SchemaEvolutionException(
                s"merge into merge-on-read table $dir: column '$c' was " +
                  s"renamed to '${renamedMap(canon(c))}' — update the " +
                  s"producer (re-introducing '$c' would fork the renamed " +
                  "column's data)"))
            // a retired INTERMEDIATE of a chained rename (a->b->c): not
            // a physical key, but a producer still writing 'b' is just
            // as stale — its batches would land as a brand-new column
            updates.columns.find(c => retired.contains(canon(c))).foreach(c =>
              throw new SchemaEvolutionException(
                s"merge into merge-on-read table $dir: column '$c' is a " +
                  "retired name from a chained rename — update the producer " +
                  s"(re-introducing '$c' would fork the renamed column's data)"))
            val byLogical = renamedMap.map { case (ph, lg) => canon(lg) -> ph }
            updates.select(updates.columns.toIndexedSeq.map(c =>
              byLogical.get(canon(c)).map(ph => col(c).as(ph)).getOrElse(col(c))): _*)
          }
        // tombstone enforcement (ALTER parity with Upsert.merge): a
        // batch carrying a DROPPED column — an old-shape producer —
        // would silently resurrect the name, so it refuses loudly
        val dropped = kvDropped(kv)
        if (dropped.nonEmpty) {
          updates0.columns.find(c =>
              dropped.contains(SchemaEvolution.canon(spark, c))).foreach(c =>
            throw new SchemaEvolutionException(
              s"merge into merge-on-read table $dir: column '$c' was DROPPED " +
                "from this table; writing it again would resurrect stale values " +
                "from batches that predate the drop — remove it from the batch " +
                "(or use a new column name)"))
        }
        val cols = (pk :+ vc).distinct
        val present = updates0.columns.toSet
        cols.foreach(c => require(present.contains(c),
          s"merge into contract-recorded merge-on-read table $dir: the batch " +
            s"lacks contract column '$c' (pk=${pk.mkString(",")}, " +
            s"versionCol=$vc) — a missing column would widen to NULL at read"))
        val ok = cols.map(col(_).isNotNull).reduce(_ && _)
        updates0.filter(when(ok, lit(true)).otherwise(raise_error(concat(
          lit(s"merge-on-read contract of $dir: NULL in pk/version column "),
          lit(s"[${cols.mkString(", ")}] — identity and LWW order demand "),
          lit("non-null values; the batch was not committed")))))
    }

  /** Name of the schema record inside a committed delta batch dir. */
  private[graft] val DeltaSchemaFile = "_schema.json"

  /** Delta batches `batches` ((id, dir), ascending) read as ONE
    * relation, each row tagged with its batch id in [[BatchCol]] (a
    * partition value of the [[org.apache.spark.sql.graft.ManifestScan]]
    * over the delta root, so a [[BatchCol]] predicate prunes whole
    * batches before any file is read). One relation is one scan and one
    * codegen stage however many batches it holds, so a plan over a
    * growing delta log keeps its generated code from one trigger to the
    * next; a union of per-batch scans renumbered every stage after
    * them. Batches are blind appends and
    * may carry evolved schemas: the relation has their union shape, and
    * a column first seen in a later batch reads NULL in the earlier
    * ones. A column whose type differs between batches cannot come from
    * one parquet read: batches that agree on every shared type read as
    * one relation each, and those relations union by name, coercing the
    * way a union of per-batch reads did.
    *
    * Each batch's schema comes from [[FileMeta]]: a bare
    * `spark.read.parquet(dir)` infers the schema eagerly, a one-task job
    * per batch dir. A batch dir is write-once (committed under `batch=N`,
    * never appended), so its schema is immutable metadata, keyed on the
    * identity of its data files. A miss takes the schema the batch
    * RECORDED at commit ([[DeltaSchemaFile]], written by [[merge]] inside
    * the staged dir, so it publishes with the rows) — one small driver
    * read, no job. This matters for a batch first seen through the
    * change-feed scan: its first read comes a trigger later, from the
    * next fold's PRE lookup, on the fold's critical path. Inference
    * remains only for batches that predate the record.
    *
    * The dirs are listed here, once each: a file index over many batch
    * dirs would list them again, as a parallel listing job past 32 paths.
    */
  private[graft] def readDeltaBatches(spark: SparkSession,
                                      batches: Seq[(Long, String)]): DataFrame = {
    import org.apache.spark.sql.types.StructType
    require(batches.nonEmpty, "readDeltaBatches needs at least one batch")
    val fs = FsOps.fs(spark, new Path(batches.head._2))
    val listed = batches.flatMap { case (id, p) =>
      val all = fs.listStatus(new Path(p)).toSeq
      val files = graft.sources.MorChangeFeedSource.dataFiles(all)
      if (files.isEmpty) None else Some((id, files, deltaSchema(spark, fs, p, all, files)))
    }
    // degenerate (no batch holds a data file): let Spark report
    if (listed.isEmpty) return spark.read.parquet(batches.head._2)
    def canon(n: String) = SchemaEvolution.canon(spark, n)
    def widened(acc: StructType, next: StructType): StructType = {
      val have = acc.fieldNames.map(canon).toSet
      StructType(acc.fields ++ next.fields.filterNot(f => have(canon(f.name))))
    }
    def agree(acc: StructType, next: StructType): Boolean = {
      val types = acc.fields.map(f => canon(f.name) -> f.dataType.catalogString).toMap
      next.fields.forall(f => types.get(canon(f.name)).forall(_ == f.dataType.catalogString))
    }
    val groups = listed.foldLeft(Vector.empty[(StructType, Vector[(Long, Seq[FileStatus])])]) {
      case (gs, (id, files, schema)) => gs.indexWhere(g => agree(g._1, schema)) match {
        case -1 => gs :+ ((schema, Vector(id -> files)))
        case i => gs.updated(i, (widened(gs(i)._1, schema), gs(i)._2 :+ (id -> files)))
      }
    }
    import org.apache.spark.sql.graft.ManifestScan
    val root = fs.makeQualified(new Path(batches.head._2).getParent)
    val batchSchema = StructType(Seq(
      org.apache.spark.sql.types.StructField(BatchCol,
        org.apache.spark.sql.types.LongType, nullable = false)))
    val reads = groups.map { case (schema, bs) =>
      ManifestScan.parquetFiles(spark, root, schema, batchSchema,
        bs.map { case (id, files) => ManifestScan.Group(
          org.apache.spark.sql.catalyst.InternalRow(id), files) })
    }
    if (reads.size == 1) reads.head
    else reads.reduce(_.unionByName(_, allowMissingColumns = true))
      .select((listed.map(_._3).reduce(widened).fieldNames :+ BatchCol).toIndexedSeq.map(col): _*)
  }

  /** The schema of one committed delta batch dir (see [[readDeltaBatches]]). */
  private def deltaSchema(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                          p: String, listed: Seq[FileStatus], files: Seq[FileStatus])
      : org.apache.spark.sql.types.StructType =
    FileMeta(FileMeta.DeltaSchema, p, FileMeta.Id.of(files))(
      listed.find(_.getPath.getName == DeltaSchemaFile)
        .flatMap(s => FsOps.readRawOpt(fs, s.getPath))
        .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
        .getOrElse(spark.read.parquet(p).schema))

  /** On-disk bytes of the given delta dirs — a driver-side listing,
    * no Spark job. Drives the fast-path/fallback choice in [[read]].
    */
  private def deltaBytes(spark: SparkSession, paths: Seq[String]): Long = {
    if (paths.isEmpty) return 0L
    val fs = FsOps.fs(spark, new Path(paths.head))
    paths.map(p => fs.listStatus(new Path(p))
      .filter(_.isFile).map(_.getLen).sum).sum
  }

  /** One consistent (base file list, watermark, live deltas) snapshot.
    * Deltas are listed AFTER the manifest is resolved: a compaction
    * racing this read either committed first (its deltas are ≤ upto and
    * filtered out) or commits later (the old base generation is still
    * on disk until vacuum), so the combination is never torn.
    */
  private def snapshot(spark: SparkSession, dir: String)
      : (Option[Upsert.Manifest], Long, Seq[(Long, String)]) = {
    val man = Upsert.currentManifest(spark, basePath(dir))
    val upto = man.flatMap(_.props.get("upto")).map(_.toLong).getOrElse(-1L)
    (man, upto, deltaBatches(spark, dir).filter(_._1 > upto))
  }

  /** A pinned resolved state: base manifest + the live delta list cut
    * against its watermark. [[readPinned]] composes the SAME plan from
    * it every time — so a query that references one MOR table twice
    * (self-join) resolves ONE table state, not two racing ones.
    */
  case class Snapshot(man: Option[Upsert.Manifest], live: Seq[(Long, String)])

  private[graft] def currentSnapshot(spark: SparkSession, dir: String): Snapshot = {
    val (man, _, live) = snapshot(spark, dir)
    Snapshot(man, live)
  }

  /** The table's version axis for SQL time travel: DELTA BATCH IDS
    * (monotonic across compactions — see [[merge]]). `snapshotAt(K)` is
    * the content as of batch K's commit: the newest RETAINED base
    * manifest whose `upto` watermark is ≤ K, plus the delta batches in
    * (upto, K]. Pre-compaction states stay reconstructible exactly as
    * long as retention keeps them: base generations survive one
    * compaction cycle (keepManifests=2) and folded deltas get the same
    * one-cycle retention, so the snapshot BEFORE the latest compaction
    * is always servable; anything older refuses loudly naming the
    * GC'd batches rather than serving a torn state.
    */
  private[graft] def snapshotAt(spark: SparkSession, dir: String,
                                version: Long): Snapshot = {
    val all = deltaBatches(spark, dir)
    val maxKnown = math.max(all.lastOption.map(_._1).getOrElse(-1L),
      compactedUpto(spark, dir))
    if (version < 0 || version > maxKnown)
      throw new IllegalArgumentException(
        s"VERSION AS OF $version on merge-on-read table $dir: versions are " +
          s"delta batch ids, 0..$maxKnown at this snapshot")
    // newest retained base manifest folded no further than `version`
    val base = basePath(dir)
    val manAt = Upsert.manifestGens(spark, base)
      .flatMap(g => Upsert.manifestAt(spark, base, g))
      .filter(_.props.get("upto").exists(_.toLong <= version))
      .sortBy(m => (m.props("upto").toLong, m.gen))
      .lastOption
    val upto = manAt.flatMap(_.props.get("upto")).map(_.toLong).getOrElse(-1L)
    val have = all.toMap
    val missing = ((upto + 1) to version).filterNot(have.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"VERSION AS OF $version on merge-on-read table $dir is not " +
          s"reconstructible: delta batch(es) ${missing.mkString(", ")} were " +
          "GC'd after compaction (retention keeps one compaction cycle; " +
          "older snapshots are gone)")
    Snapshot(manAt, ((upto + 1) to version).map(k => (k, have(k))))
  }

  /** `TIMESTAMP AS OF` resolution: the newest RETAINED delta batch
    * committed at or before `tsMs`. Commit time is the batch's
    * driver-clock stamp ([[FsOps.CommittedAtPrefix]], written by the
    * same rename that publishes the batch) — the SAME clock the base
    * manifest's `committedAtMs` carries, so the delta branch and the
    * base-manifest fallback below resolve against one time axis
    * (ADVICE r10: dir mtime is the filesystem clock at staging time
    * and can skew from the driver's). Legacy batches without the
    * stamp fall back to mtime. Falls back to a base-only snapshot
    * when the timestamp precedes every retained batch but a stamped
    * base manifest qualifies; otherwise refuses with the earliest
    * time that IS resolvable, mirroring [[Upsert.genAtTimestamp]].
    */
  private[graft] def versionAtTimestamp(spark: SparkSession, dir: String,
                                        tsMs: Long): Long = {
    val all = deltaBatches(spark, dir)
    if (all.isEmpty && compactedUpto(spark, dir) < 0)
      throw new Upsert.NoTableException(s"no delta batches or base under $dir")
    val fs = FsOps.fs(spark, new Path(deltaRoot(dir)))
    val stamped = all.map { case (k, p) =>
      val d = new Path(p)
      (k, FsOps.batchCommittedAt(fs, d)
        .getOrElse(fs.getFileStatus(d).getModificationTime))
    }
    val hits = stamped.filter(_._2 <= tsMs)
    if (hits.nonEmpty) hits.map(_._1).max
    else {
      // every retained batch is newer than ts; the compaction watermark
      // itself qualifies when its manifest is stamped no later than ts
      val base = basePath(dir)
      val ok = Upsert.manifestGens(spark, base)
        .flatMap(g => Upsert.manifestAt(spark, base, g))
        .filter(m => m.props.get(Upsert.CommittedAtProp).exists(_.toLong <= tsMs))
        .flatMap(_.props.get("upto").map(_.toLong))
      if (ok.nonEmpty) ok.max
      else throw new IllegalArgumentException(
        s"TIMESTAMP AS OF $tsMs precedes every retained snapshot of " +
          s"merge-on-read table $dir" +
          stamped.headOption.map(s => s" (earliest retained batch commit: ${s._2})")
            .getOrElse("") + "; older snapshots were GC'd or never existed")
    }
  }

  /** True when `dir` holds a REAL merge-on-read shape: a recorded
    * contract, a committed base manifest, or at least one committed
    * delta batch. A bare child merely NAMED base/delta (a raw parquet
    * layout could have one) does NOT qualify — this probe gates DDL,
    * including the recursive [[dropTable]], so it must never
    * misclassify foreign directories.
    */
  def isMorRoot(spark: SparkSession, dir: String): Boolean = {
    val d = dir.stripSuffix("/")
    contract(spark, d).isDefined ||
      Upsert.currentManifest(spark, basePath(d)).isDefined ||
      deltaBatches(spark, d).nonEmpty
  }

  private def dropDeletes(df: DataFrame, deleteFlagCol: Option[String]): DataFrame =
    deleteFlagCol match {
      case Some(f) => df.filter(col(f) =!= "delete" || col(f).isNull)
      case None => df
    }

  /** Resolve the table's current content: newest (`versionCol`, batch)
    * per `pk` wins — base counts as batch −1, so any delta re-emission
    * of the same version supersedes the base — and rows whose winner
    * is a delete vanish. Versions are assumed non-null (a null version
    * loses to any non-null one).
    *
    * Scale shape: the base is a compaction output, so it holds exactly
    * one row per PK. When live deltas fit the broadcast budget, the
    * per-PK delta winners are resolved with a window over the DELTAS
    * ALONE and joined to the base as a broadcast — the only exchange in
    * the plan carries delta rows; the base streams through scan →
    * broadcast-join → union without ever repartitioning. Above the
    * budget (just before a compaction), resolution falls back to the
    * full window over base ∪ deltas.
    */
  def read(spark: SparkSession, dir: String, pk: Seq[String], versionCol: String,
           deleteFlagCol: Option[String] = None,
           maxBroadcastDeltaBytes: Long = DefaultBroadcastDeltaBytes): DataFrame =
    readPinned(spark, dir, currentSnapshot(spark, dir), pk, versionCol,
      deleteFlagCol, maxBroadcastDeltaBytes)

  /** The distinct placement buckets of `keys`' pk values — computed
    * DISTRIBUTED (the key set never collects; the result is ≤
    * numBuckets small ints). Same expression as the write placement
    * ([[Upsert.keyStr]] + xxhash64 pmod), so it is exact for any pk
    * arity, null keys included.
    */
  /** The canonical key-string expression ([[Upsert.keyStr]]) — the
    * axis placement, Blooms, and composite point lookups share.
    */
  private[graft] def canonicalKey(pk: Seq[String]): Column = Upsert.keyStr(pk)

  private[graft] def touchedBuckets(keys: DataFrame, pk: Seq[String],
                                    numBuckets: Int): Set[Int] =
    keys.select(pmod(xxhash64(Upsert.keyStr(pk)), lit(numBuckets))
        .cast("int").as("__b"))
      .distinct().collect().map(_.getInt(0)).toSet

  /** [[read]] against an already-pinned [[Snapshot]] — no re-listing,
    * and every caller holding the same snapshot composes the same
    * state (MorReadRule substitutes each SQL relation through this).
    *
    * `baseBuckets`: a caller that only needs rows whose pk PLACEMENT
    * falls in this bucket set (proven via [[touchedBuckets]] — e.g.
    * the change-feed consumer resolving an admitted wave's keys) may
    * pass it to prune the read. Contract (r14): the result is the
    * resolved content RESTRICTED to the named placement buckets on
    * BOTH resolve paths — the broadcast path prunes the base manifest
    * to the buckets' files, and the big-delta SPJ path additionally
    * hash-filters the DELTA side to the same buckets (a delta row
    * outside the restriction has no SPJ partition to land in), so an
    * over-budget wave never pays a full base scan. A restriction
    * covering EVERY bucket is dropped as a no-op (full-coverage waves
    * pay neither the per-row hash filter nor a useless manifest
    * copy). Rows of OTHER keys in the named buckets still resolve and
    * return; the caller's own key restriction filters them.
    */
  private[graft] def readPinned(spark: SparkSession, dir: String, snap: Snapshot,
                                pk: Seq[String], versionCol: String,
                                deleteFlagCol: Option[String],
                                maxBroadcastDeltaBytes: Long,
                                baseBuckets: Option[Set[Int]] = None,
                                applyRename: Boolean = true,
                                kvAsOf: Option[Map[String, String]] = None): DataFrame = {
    val live0 = snap.live
    // ONE driver listing of the live delta dirs, shared by the pruning
    // gate and the broadcast-vs-SPJ choice (was two listings per read
    // on the feed's hot path; also removes any chance the gates see
    // different sizes)
    val liveBytes = deltaBytes(spark, live0.map(_._2))
    // bucket restriction applies on BOTH resolve paths since r14
    // (VERDICT r13 #5): the broadcast path prunes the manifest, and
    // the big-delta SPJ path additionally restricts the DELTA side to
    // the same buckets (the SPJ shuffle targets the base scan's
    // partition values — a delta row whose bucket the base pruned
    // away has no partition to land in), so an over-budget feed wave
    // stops paying a full base scan. Contract: the result is the
    // resolved content RESTRICTED to the named placement buckets —
    // exactly what the touched-bucket feed images consume.
    // a restriction covering EVERY bucket is a no-op: drop it so
    // full-coverage waves don't pay a per-row hash filter on the
    // delta side or a useless manifest copy
    val pruned = baseBuckets.filter(bs =>
      !snap.man.exists(m => bs.size >= m.numBuckets(Upsert.DefaultNumBuckets)))
    val manOpt = pruned match {
      case None => snap.man
      case Some(bs) => snap.man
        .map(m => m.copy(files = m.files.filter { case (b, _) => bs(b) }))
        .filter(_.files.valuesIterator.exists(_.nonEmpty))
    }
    val live = live0
    // ONE contract-file read per composition, threaded through the
    // empty-arm typing, the resolve's null-free choice, and the final
    // declared-schema reconciliation. A version-pinned read passes the
    // AS-OF contract ([[contractKvAt]]) so snapshot v reconciles under
    // v's own era — names, tombstones, and EXACTLY the declared
    // columns (strict: a bounded compaction may have baked later-added
    // NULL columns into a base manifest v's snapshot still uses).
    val kv = kvAsOf.orElse(contractKv(spark, dir))
    val baseOpt = manOpt.map(Upsert.readManifest(spark, basePath(dir), _))
    val deltaOpt0 = if (live.isEmpty) None else Some(readDeltaBatches(spark, live))
    // delta side restricted to the same buckets (hash under the
    // SNAPSHOT manifest's count — the exact placement the base files
    // use): rows outside the restriction are invisible to this read's
    // contract, and the SPJ path REQUIRES the restriction
    val deltaOpt = (deltaOpt0, pruned, snap.man) match {
      case (Some(d), Some(bs), Some(m)) =>
        val n = m.numBuckets(Upsert.DefaultNumBuckets)
        Some(d.filter(pmod(xxhash64(Upsert.keyStr(pk)), lit(n)).cast("int")
          .isin(bs.toSeq.sorted: _*)))
      case _ => deltaOpt0
    }
    val resolved = widenForEvolution(baseOpt, deltaOpt) match {
      case (None, None) if pruned.isDefined && snap.man.isDefined =>
        // the BUCKET PRUNE emptied the read (a wave of brand-new keys
        // hashing to buckets with no base files, no live deltas) — a
        // valid empty result, typed from the UNPRUNED base so legacy
        // pre-schemaDDL contracts don't fall into the mistyped-dir
        // refusal below
        Upsert.readManifest(spark, basePath(dir), snap.man.get).limit(0)
      case (None, None) =>
        // a CONTRACT-SCHEMA'd root with no content yet (a streaming
        // sink created it; the first epoch has not landed) is an empty
        // TABLE, not a mistyped dir: serve the typed empty relation so
        // subscribers and SQL readers can start before the producer.
        // Without a recorded schema, fail like Upsert.read — a typo'd
        // path must not surface as a schemaless empty frame.
        kv.flatMap(kvSchema) match {
          case Some(st) =>
            spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType(
                st.fields.map(_.copy(nullable = true))))
          case None =>
            throw new IllegalStateException(s"no base or delta batches under $dir")
        }
      case (Some(b), None) => dropDeletes(b, deleteFlagCol)
      case (None, Some(d)) =>
        dropDeletes(deltaWinners(d, pk, versionCol).drop(BatchCol), deleteFlagCol)
      case (Some(b), Some(d)) =>
        if (liveBytes <= maxBroadcastDeltaBytes)
          dropDeletes(broadcastResolve(b, d, pk, versionCol), deleteFlagCol)
        else {
          // big-delta path: co-located full-outer resolve — the base
          // never shuffles at ANY delta size (SPJ via the DSv2 bucket
          // reader); only the delta winners exchange, into the base's
          // own layout. The SAME manifest this read snapshotted pins
          // the generation — a compact() committing a different bucket
          // count mid-read must not make the delta-side hash disagree
          // with the base placement. A bucket restriction threads into
          // the scan as plan-time partition pruning (r14): over-budget
          // feed waves scan the touched fraction, never the full base.
          dropDeletes(spjResolve(spark, dir, manOpt.get, b, d, pk, versionCol,
            nullFree = kv.isDefined, buckets = pruned), deleteFlagCol)
        }
    }
    // declared-schema reconciliation (ALTER TABLE parity): dropped
    // columns vanish, freshly-ADDed columns surface as typed NULLs;
    // never-evolved tables take the no-op branch (plan untouched)
    reconcileDeclaredKv(spark, kv, resolved, applyRename,
      strictDeclared = kvAsOf.isDefined)
  }

  /** Widen base and deltas to their UNION schema (additive evolution:
    * a delta batch may carry columns the base predates, or omit
    * columns the base has — either side fills NULL). Type changes are
    * rejected; catalogString comparison ignores the nested-nullability
    * flips parquet round-trips introduce. No-op when shapes agree.
    */
  private def widenForEvolution(baseOpt: Option[DataFrame],
                                deltaOpt: Option[DataFrame]): (Option[DataFrame], Option[DataFrame]) =
    (baseOpt, deltaOpt) match {
      case (Some(b), Some(d)) =>
        val dData = d.drop(BatchCol)
        // shared contract with Upsert: type changes and case-only
        // renames throw typed; after it passes, a delta column either
        // matches a base column EXACTLY or is brand-new
        SchemaEvolution.checkAdditive(b.sparkSession, b.schema, dData.schema,
          "base", "delta")
        val unionFields = b.schema.fields ++
          dData.schema.fields.filterNot(f => b.columns.contains(f.name))
        def widen(df: DataFrame, extras: Seq[String]): DataFrame = {
          val have = df.columns.toSet
          df.select(unionFields.toIndexedSeq.map(f =>
            if (have(f.name)) col(f.name)
            else lit(null).cast(f.dataType).as(f.name)) ++ extras.map(col): _*)
        }
        (Some(widen(b, Nil)), Some(widen(d, Seq(BatchCol))))
      case other => other
    }

  /** Per-PK winner among delta rows only: the small-side pre-resolution
    * both read paths share.
    */
  private def deltaWinners(deltas: DataFrame, pk: Seq[String],
                           versionCol: String): DataFrame = {
    val w = Window.partitionBy(pk.map(col): _*).orderBy(lwwOrder(versionCol): _*)
    deltas.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The big-delta resolve: a storage-partitioned FULL OUTER join of
    * the base (read through [[graft.sources.UpsertBucketSource]], which
    * reports the bucket layout — so the base side plans with NO
    * exchange and no more than a per-bucket local sort) against the
    * per-PK delta winners, which shuffle O(delta) rows INTO that
    * layout via the driver-mirrored placement hash. Replaces the old
    * windowed fallback, which shuffled base ∪ deltas — O(table) network
    * per read; at 100 TB this path's network cost is the delta batch
    * alone, at any delta size. Supersede semantics are bit-identical to
    * [[broadcastResolve]] (same null-aware ordering as the window
    * form); MergeOnReadSpec pins path equality at every step.
    */
  private def spjResolve(spark: SparkSession, dir: String, man: Upsert.Manifest,
                         base: DataFrame, deltas: DataFrame, pk: Seq[String],
                         versionCol: String, nullFree: Boolean,
                         buckets: Option[Set[Int]] = None): DataFrame = {
    val unionSchema = base.schema // widened by widenForEvolution
    val n = man.numBuckets(Upsert.DefaultNumBuckets)
    val bucketCol = graft.sources.UpsertBucketSource.BucketCol
    val raw0 = graft.sources.UpsertBucketSource.read(spark, basePath(dir),
      gen = Some(man.gen))
    // bucket restriction (incremental compact): an IN filter on
    // __bucket pushes into the DSv2 scan as PLAN-TIME partition
    // pruning — tasks launch for the named buckets only. Callers must
    // restrict the delta side to the same bucket set: the SPJ shuffle
    // targets the base scan's partition VALUES, so a delta row whose
    // bucket the base side pruned away has no partition to land in.
    val raw = buckets.fold(raw0)(bs =>
      raw0.filter(col(bucketCol).isin(bs.toSeq.sorted: _*)))
    val have = raw.columns.toSet
    val b = raw.select(unionSchema.fields.toIndexedSeq.map(f =>
      if (have(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)) :+ col(bucketCol): _*)
    val dWin = deltaWinners(deltas, pk, versionCol).withColumn("__m", lit(1))
      .withColumn("__d_bucket",
        pmod(xxhash64(Upsert.keyStr(pk)), lit(n)).cast("int"))
    val dataCols = unionSchema.fieldNames.toIndexedSeq
    // pk equality: PLAIN under a recorded contract (nullFree, decided
    // by the caller's one contract read) — contract recording refused
    // null-pk resolved content and every later merge validates, so
    // null keys are unreachable and === ≡ <=>. This matters for the
    // plan: null-safe equality rewrites the SMJ keys to
    // (coalesce(pk,''), isnull(pk), bucket), which no scan-reported
    // column ordering can satisfy — plain keys let the pk-sorted base
    // (compact's sortBase) feed the full-outer join with NO SortExec.
    // Pre-contract legacy states (fabricated null-pk bases) keep the
    // null-safe form and its parity with the window fallback.
    val pkEq = pk.map(c =>
      if (nullFree) col(s"b.$c") === col(s"d.$c")
      else col(s"b.$c") <=> col(s"d.$c")).reduce(_ && _)
    val cond = pkEq && col(s"b.$bucketCol") === col("d.__d_bucket")
    val joined = b.as("b").join(dWin.as("d"), cond, "fullouter")
    // same null-aware supersede order as broadcastResolve / the window
    // form: (version DESC NULLS LAST, batch DESC) with base batch −1
    val deltaWins = col("d.__m").isNotNull &&
      (col(s"b.$versionCol").isNull ||
        (col(s"d.$versionCol") >= col(s"b.$versionCol")))
    joined.select(
      when(deltaWins, struct(dataCols.map(c => col(s"d.$c").as(c)): _*))
        .otherwise(struct(dataCols.map(c => col(s"b.$c").as(c)): _*)).as("w"))
      .select("w.*")
  }

  /** The broadcast fast path: base never shuffles.
    *
    *   dWin      = per-PK winner among deltas (window over deltas only)
    *   basePart  = base LEFT JOIN broadcast(dWin): per row, the delta
    *               winner supersedes the base row iff its version is ≥
    *               (ties → delta wins, matching batch −1 ordering)
    *   deltaOnly = dWin whose PK has no base row (via a broadcast
    *               semi/anti over a PK-only column-pruned base scan)
    *
    * Scan cost model (backlog r4 #3, closed): the base is read
    * full-width exactly ONCE. The deltaOnly existence probe re-reads
    * the base PK column alone — parquet column pruning makes that a few
    * percent of table bytes (one column chunk per row group), and it is
    * the price of not having a broadcast FULL OUTER hash join: Spark's
    * BroadcastHashJoin cannot emit unmatched build-side rows (build
    * match tracking across tasks), so "dWin keys absent from base" must
    * come from a second, narrow pass. At 100 TB / ~1% PK width that is
    * ~1 TB of extra columnar I/O and zero shuffle, vs the fallback's
    * full-table shuffle. MergeOnReadSpec gates both halves: exactly one
    * full-width base scan, and the probe's scan schema is the PK only.
    */
  private def broadcastResolve(base: DataFrame, deltas: DataFrame,
                               pk: Seq[String], versionCol: String): DataFrame = {
    val dataCols = base.columns.toIndexedSeq
    val dWin = deltaWinners(deltas, pk, versionCol).withColumn("__m", lit(1))
    // NULL-SAFE key equality throughout: the fallback window groups
    // null PKs into one partition and resolves a single winner, so the
    // fast path must match a null-PK base row against a null-PK delta
    // too — plain === would emit both rows and the two paths would
    // return different counts depending on delta size
    val joinCond: Column = pk.map(c => col(s"b.$c") <=> col(s"d.$c")).reduce(_ && _)
    val joined = base.as("b").join(broadcast(dWin.as("d")), joinCond, "left")
    // Null-aware supersede test, aligned with the fallback window's
    // (version DESC NULLS LAST, batch DESC) order (VERDICT r4 #2):
    //  - base NULL, delta anything → delta wins (a null version loses
    //    to any non-null; ties between nulls fall to batch −1 < K);
    //  - delta NULL, base non-null → base wins (>= is null→false);
    //  - both non-null → plain >=, ties to the delta (batch order).
    val deltaWins = col("d.__m").isNotNull &&
      (col(s"b.$versionCol").isNull ||
        (col(s"d.$versionCol") >= col(s"b.$versionCol")))
    val basePart = joined.select(
      when(deltaWins, struct(dataCols.map(c => col(s"d.$c").as(c)): _*))
        .otherwise(struct(dataCols.map(c => col(s"b.$c").as(c)): _*)).as("w"))
      .select("w.*")
    val basePks = base.select(pk.map(col): _*)
    // key set only — derived from the RAW deltas with a narrow
    // distinct (r15): winner selection never changes the PK set, and
    // the old dWin projection re-evaluated the whole window chain
    // (exchange + sort + WindowGroupLimit) a third time just to throw
    // every non-key column away. A pk-pruned distinct is one partial-
    // aggregated exchange over the key columns alone.
    val dPks = deltas.select(pk.map(c => col(c).as(s"__d_$c")): _*).distinct()
    val matchedPks = basePks.join(broadcast(dPks),
      pk.map(c => col(c) <=> col(s"__d_$c")).reduce(_ && _), "left_semi")
    val mPks = matchedPks.select(pk.map(c => col(c).as(s"__b_$c")): _*)
    val deltaOnly = dWin.join(broadcast(mPks),
      pk.map(c => col(c) <=> col(s"__b_$c")).reduce(_ && _), "left_anti")
      .select(dataCols.map(col): _*)
    basePart.unionByName(deltaOnly)
  }

  /** Fold every live delta into a fresh bucketed base generation
    * (background amortization: read cost returns to O(base)). The
    * resolved content, its Bloom sidecars, and the new `upto` watermark
    * commit in ONE manifest rename; superseded base generations are
    * vacuumed down to the previous one (in-flight readers finish), and
    * folded deltas get the SAME one-cycle retention (ADVICE r4): only
    * deltas at or below the PREVIOUS retained manifest's watermark are
    * GC'd, so a reader that resolved the previous snapshot finishes its
    * delta scan against intact files — the just-folded batches survive
    * until the NEXT compaction, exactly mirroring keepManifests=2.
    */
  private def contractFile(dir: String) =
    new Path(dir.stripSuffix("/"), "_contract")

  /** The durably recorded merge contract of a MOR root — pk (placement
    * order), version column, optional delete-flag column, bucket
    * count — or None for a table no one has recorded yet. The file is
    * written by the first [[compact]] (or an explicit
    * [[recordContract]]), after which every later compact — including
    * a `CALL graft.maintain` policy pass that knows only the path —
    * binds to it instead of trusting the caller.
    */
  def contract(spark: SparkSession, dir: String)
      : Option[(Seq[String], String, Option[String], Int)] =
    contractKv(spark, dir).map(kvContract)

  /** Fingerprint of the RAW contract text — schema, renames, drops,
    * placement all live there, so any ALTER changes it. Consumers that
    * cache derived state across triggers (the change feed's carried
    * boundary image) staple this to the cache and discard on mismatch:
    * carried rows were reconciled under the OLD contract and cannot be
    * trusted under a new one.
    */
  private[graft] def contractFingerprint(spark: SparkSession,
                                         dir: String): String =
    FsOps.readTextOpt(spark, contractFile(dir)) match {
      case None => "none"
      case Some(text) =>
        java.security.MessageDigest.getInstance("SHA-1")
          .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }

  private def contractKv(spark: SparkSession,
                         dir: String): Option[Map[String, String]] =
    FsOps.readTextOpt(spark, contractFile(dir)).map { text =>
      text.linesIterator.filter(_.contains("=")).map { l =>
        val Array(k, v) = l.split("=", 2); k -> v
      }.toMap
    }

  // kv-level accessors — the ONE place each contract-file field's
  // encoding is known; the dir-keyed public forms and the hot read
  // paths (which parse the file once and thread the kv map) all share
  // them, so a format change cannot diverge readers from writers.
  private def kvContract(kv: Map[String, String])
      : (Seq[String], String, Option[String], Int) =
    (kv("pk").split(",").toSeq, kv("versionCol"),
      kv.get("deleteFlagCol").filter(_.nonEmpty), kv("numBuckets").toInt)

  private def kvSchema(kv: Map[String, String])
      : Option[org.apache.spark.sql.types.StructType] =
    kv.get("schemaDDL").map { b64 =>
      org.apache.spark.sql.types.StructType.fromDDL(new String(
        java.util.Base64.getDecoder.decode(b64),
        java.nio.charset.StandardCharsets.UTF_8))
    }

  private def kvDropped(kv: Map[String, String]): Set[String] =
    kv.get("dropped").map(_.split(",").filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** Column-mapping entries (r13): canon PHYSICAL name (the name the
    * column's rows are stored under in every delta batch and base
    * file) → current LOGICAL name. MOR batches are blind appends with
    * no per-file schema authority, so the mapping lives in the
    * contract: [[validated]] translates incoming batches logical →
    * physical at the single write door, and [[reconcileDeclaredKv]]
    * translates physical → logical at the single read exit. The
    * contract's own pk/versionCol/deleteFlag columns refuse renames
    * (they are the table's identity), so every internal resolution
    * path keeps operating on stable names.
    */
  private def kvRenamed(kv: Map[String, String]): Map[String, String] =
    kv.get("renamed").map(_.split(",").filter(_.nonEmpty).map { pair =>
      val Array(o, n) = pair.split(">", 2); o -> n
    }.toMap).getOrElse(Map.empty)

  private def renamedProp(m: Map[String, String]): String =
    m.toSeq.sorted.map { case (o, n) => s"$o>$n" }.mkString(",")

  /** Canon LOGICAL names retired by chained renames (ADVICE r13): after
    * a->b then b->c the mapping collapses to {a_phys -> c}, so 'b' —
    * never a physical key — would otherwise be writable again as a
    * brand-new column (forking the data the rename moved) and reusable
    * as a rename target (diverging from CoW, whose renamedFrom
    * tombstones every intermediate). This set closes both doors:
    * [[validated]] and [[addColumns]] refuse batches/ADDs carrying a
    * retired name, [[renameColumn]] refuses it as a target.
    */
  private def kvRetired(kv: Map[String, String]): Set[String] =
    kv.get("retiredLogical").map(_.split(",").filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  private def retiredProp(s: Set[String]): String = s.toSeq.sorted.mkString(",")

  /** Per-VERSION schema history (r14, VERDICT r13 #4): every evolution
    * commit (ADD/DROP/RENAME) appends the PRE-evolution name state —
    * schemaDDL, renamed map, dropped + retired tombstones — stamped
    * with the delta-batch watermark it was valid through, so
    * `VERSION AS OF v` serves snapshot v under the names and shape v's
    * own era declared (closing the r13 divergence where MOR time
    * travel reconciled history against the CURRENT contract). Entry
    * fields are base64 (or already-b64 schemaDDL), `:`-joined;
    * entries `;`-joined, chronological. Legacy contracts without the
    * key keep table-level semantics.
    */
  private val HistoryKey = "schemaHistory"

  private def b64e(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private def b64d(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s),
      java.nio.charset.StandardCharsets.UTF_8)

  private def kvHistory(kv: Map[String, String]): Seq[(Long, Map[String, String])] =
    kv.get(HistoryKey).map(_.split(";").filter(_.nonEmpty).toSeq.map { e =>
      val p = e.split(":", 5)
      val past = Seq(
        p.lift(1).filter(_.nonEmpty).map("schemaDDL" -> _),
        p.lift(2).filter(_.nonEmpty).map(v => "renamed" -> b64d(v)),
        p.lift(3).filter(_.nonEmpty).map(v => "dropped" -> b64d(v)),
        p.lift(4).filter(_.nonEmpty).map(v => "retiredLogical" -> b64d(v))
      ).flatten.toMap
      (p(0).toLong, past)
    }).getOrElse(Seq.empty)

  /** `kv` with the CURRENT name state appended as a history entry
    * valid through the present delta-batch watermark — call BEFORE
    * overlaying an evolution's changes. Pre-schemaDDL contracts and
    * empty tables skip (no version can reference their pre-state).
    */
  private def withHistoryEntry(spark: SparkSession, dir: String,
                               kv: Map[String, String]): Map[String, String] = {
    val upto = math.max(
      deltaBatches(spark, dir).lastOption.map(_._1).getOrElse(-1L),
      compactedUpto(spark, dir))
    if (upto < 0 || !kv.contains("schemaDDL")) kv
    else {
      val entry = Seq(upto.toString, kv.getOrElse("schemaDDL", ""),
        kv.get("renamed").map(b64e).getOrElse(""),
        kv.get("dropped").map(b64e).getOrElse(""),
        kv.get("retiredLogical").map(b64e).getOrElse("")).mkString(":")
      kv + (HistoryKey -> (kv.get(HistoryKey).toSeq :+ entry).mkString(";"))
    }
  }

  /** The contract kv AS OF delta-batch version `v`: the first history
    * entry whose watermark covers v replaces the name-state fields;
    * versions past every entry (or legacy contracts) serve the current
    * kv. */
  private[graft] def contractKvAt(spark: SparkSession, dir: String,
                                  v: Long): Option[Map[String, String]] =
    contractKv(spark, dir).map { kv =>
      kvHistory(kv).find(_._1 >= v) match {
        case None => kv
        case Some((_, past)) =>
          (kv - "schemaDDL" - "renamed" - "dropped" - "retiredLogical") ++ past
      }
    }

  /** The schema the contract recorded (Base64-wrapped DDL — written by
    * the streaming sink at query start and by [[compact]] from the
    * resolved read), or None for contracts recorded before the field
    * existed. What lets an EMPTY contracted root — a sink-created
    * table whose first epoch has not landed — serve SQL reads and feed
    * subscriptions as an empty typed relation instead of refusing:
    * start order between producer and subscribers stops mattering.
    */
  def contractSchema(spark: SparkSession,
                     dir: String): Option[org.apache.spark.sql.types.StructType] =
    contractKv(spark, dir).flatMap(kvSchema)

  /** Record the contract (first writer) or verify the supplied one
    * against the recorded file (every later writer; a contradiction is
    * a loud [[Upsert.TableContractException]] — re-keying a MOR table
    * means rebuilding it, exactly as for Upsert placement).
    */
  private def schemaB64(st: org.apache.spark.sql.types.StructType): String =
    java.util.Base64.getEncoder.encodeToString(
      st.toDDL.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Rewrite the contract file in canonical key order, PRESERVING every
    * key the rewrite does not touch (the `dropped` tombstones must
    * survive a schema backfill, and any future key must survive both).
    */
  private def writeContract(spark: SparkSession, dir: String,
                            kv: Map[String, String]): Unit = {
    val order = Seq("pk", "versionCol", "deleteFlagCol", "numBuckets",
      "schemaDDL", "dropped")
    val lines = order.flatMap(k => kv.get(k).map(v => s"$k=$v")) ++
      kv.keys.filterNot(order.contains).toSeq.sorted.map(k => s"$k=${kv(k)}")
    FsOps.writeTextAtomic(spark, contractFile(dir), lines.mkString("\n"))
  }

  def recordContract(spark: SparkSession, dir: String, pk: Seq[String],
                     versionCol: String, deleteFlagCol: Option[String],
                     numBuckets: Int,
                     schema: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    pk.foreach(c => require(!c.exists(ch => ch == ',' || ch == '=' || ch == '\n'),
      s"pk column '$c' contains a contract metacharacter"))
    def schemaLine(st: org.apache.spark.sql.types.StructType): String =
      "schemaDDL=" + schemaB64(st)
    contract(spark, dir) match {
      case Some((rp, rv, rd, rn)) =>
        if (rp != pk || rv != versionCol || rd != deleteFlagCol || rn != numBuckets)
          throw new Upsert.TableContractException(
            s"supplied MOR contract (pk=${pk.mkString(",")}, versionCol=$versionCol, " +
              s"deleteFlagCol=${deleteFlagCol.getOrElse("-")}, numBuckets=$numBuckets) " +
              s"contradicts the recorded contract (pk=${rp.mkString(",")}, " +
              s"versionCol=$rv, deleteFlagCol=${rd.getOrElse("-")}, numBuckets=$rn) " +
              s"of $dir — to re-key, rebuild the table")
        // a schema supplied where none was recorded BACKFILLS the field
        // (first writer wins otherwise — additive evolution covers
        // later drift; the contract schema is the creation shape).
        // Rewritten through writeContract so keys the backfill does not
        // own (e.g. `dropped` tombstones) survive verbatim.
        schema.foreach { st =>
          if (contractSchema(spark, dir).isEmpty)
            writeContract(spark, dir,
              contractKv(spark, dir).getOrElse(Map.empty) +
                ("schemaDDL" -> schemaB64(st)))
        }
      case None =>
        // PRE-CONTRACT content must prove the contract before it is
        // recorded (ADVICE r10, medium): once the contract exists the
        // SQL surface reports pk/version NOT NULL and every later
        // append is null-validated — but rows that landed BEFORE the
        // contract were not, and compact() folds the resolved content
        // into the base verbatim, so a legacy null pk/version row
        // would serve forever under a non-nullable schema (the
        // optimizer may constant-fold `pk IS NULL` to false over it).
        // One bounded job, once per table lifetime; a fresh/empty root
        // (the streaming-sink birth path) costs nothing.
        if (Upsert.currentManifest(spark, basePath(dir)).isDefined ||
            deltaBatches(spark, dir).nonEmpty) {
          val cols = (pk :+ versionCol).distinct
          val resolved = read(spark, dir, pk, versionCol, deleteFlagCol)
          cols.foreach(c => require(resolved.columns.contains(c),
            s"recording MOR contract of $dir: resolved content lacks " +
              s"contract column '$c'"))
          val nulls = resolved
            .filter(cols.map(col(_).isNull).reduce(_ || _)).limit(1).count()
          if (nulls > 0)
            throw new Upsert.TableContractException(
              s"cannot record MOR contract (pk=${pk.mkString(",")}, " +
                s"versionCol=$versionCol) on $dir: the pre-contract resolved " +
                "content holds rows with NULL in a pk/version column — the " +
                "SQL schema would declare them NOT NULL and the optimizer " +
                "could constant-fold IS NULL predicates over live rows. " +
                "Repair or retract those rows first")
        }
        val lines = Seq(s"pk=${pk.mkString(",")}", s"versionCol=$versionCol") ++
          deleteFlagCol.map(c => s"deleteFlagCol=$c") ++
          Seq(s"numBuckets=$numBuckets") ++ schema.map(schemaLine)
        FsOps.writeTextAtomic(spark, contractFile(dir), lines.mkString("\n"))
    }
  }

  /** [[recordContract]] under the table's writer lease. The streaming
    * sink's query-start record/backfill otherwise races
    * [[graft.io.Maintenance]]'s own contract backfill (ADVICE r11):
    * `writeTextAtomic` keeps the file crash-safe but last-wins, so two
    * unserialized writers could land DIFFERENT schema shapes (the
    * sink's landed write schema vs maintenance's resolved read schema).
    * [[compact]] already records under its lease; this hands every
    * out-of-package caller the same serialization.
    */
  def recordContractLeased(spark: SparkSession, dir: String, pk: Seq[String],
                           versionCol: String, deleteFlagCol: Option[String],
                           numBuckets: Int,
                           schema: Option[org.apache.spark.sql.types.StructType] = None): Unit =
    Upsert.withWriterLease(spark, dir) {
      recordContract(spark, dir, pk, versionCol, deleteFlagCol, numBuckets, schema)
    }

  // ---- schema evolution (ALTER TABLE parity with Upsert) -----------------

  /** Canon names of columns DROPPED from this table ([[dropColumns]]).
    * Tombstones, exactly as for [[Upsert]]: delta batches and base
    * generations written before the drop still hold the values, so the
    * name can never be re-added without silently resurrecting them.
    */
  def droppedSet(spark: SparkSession, dir: String): Set[String] =
    contractKv(spark, dir).map(kvDropped).getOrElse(Set.empty)

  /** The contract prerequisites every evolution shares: a recorded
    * contract WITH a recorded schema (the durable place the evolved
    * shape lives — a pre-schema contract has nowhere to record an ADD
    * that no file carries yet). Returns the contract tuple.
    */
  private def evolutionContract(spark: SparkSession, dir: String, what: String)
      : (Seq[String], String, Option[String], Int) = {
    val c = contract(spark, dir).getOrElse(throw new SchemaEvolutionException(
      s"cannot $what on merge-on-read table $dir: no recorded contract — " +
        "run one MergeOnRead.compact (or recordContract) first"))
    if (contractSchema(spark, dir).isEmpty)
      throw new SchemaEvolutionException(
        s"cannot $what on merge-on-read table $dir: the contract records no " +
          "schema (pre-schema contract) — run one MergeOnRead.compact to " +
          "backfill it first")
    c
  }

  /** ALTER TABLE ADD COLUMNS for MOR roots — METADATA-ONLY, exactly as
    * [[Upsert.addColumns]]: the declared schema in the `_contract` file
    * widens; no file is touched. Every read reconciles against the
    * declared schema (see [[reconcileDeclared]]), so rows that predate
    * the column surface NULL immediately, and the next [[compact]]
    * materializes it physically. Existing names refuse (including
    * case-insensitive matches), tombstoned names refuse (resurrection),
    * non-nullable fields refuse (rows already in the table have no
    * value for them).
    */
  def addColumns(spark: SparkSession, dir: String,
                 fields: Seq[org.apache.spark.sql.types.StructField]): Unit = {
    if (fields.isEmpty) return
    // pure input-shape refusals run BEFORE the lease: a no-op or a
    // malformed call must not block on (or spuriously fail against)
    // an unrelated writer holding the table
    fields.foreach { f =>
      require(f.nullable,
        s"cannot add NOT NULL column '${f.name}' to merge-on-read table " +
          s"$dir: rows already in the table have no value for it")
      if (f.name.exists(ch => ch == ',' || ch == '=' || ch == '\n'))
        throw new SchemaEvolutionException(
          s"cannot add column '${f.name}': the name contains a contract " +
            "metacharacter")
    }
    if (fields.map(f => SchemaEvolution.canon(spark, f.name)).distinct.length
        != fields.length)
      throw new SchemaEvolutionException(
        s"duplicate column names in ADD COLUMNS: ${fields.map(_.name).mkString(", ")}")
    Upsert.withWriterLease(spark, dir) {
      val (pk, vc, del, _) = evolutionContract(spark, dir, "add columns")
      def canon(n: String) = SchemaEvolution.canon(spark, n)
      val dropped = droppedSet(spark, dir)
      // the DECLARED shape to evolve: the current read's schema (base ∪
      // deltas ∪ declared − dropped) — additive merges may have widened
      // past the recorded schemaDDL, and an ADD clashing with such a
      // file-only column must refuse like any other duplicate
      val current = declaredReadSchema(spark, dir, pk, vc, del)
      val renamedMap = kvRenamed(contractKv(spark, dir).get)
      fields.foreach { f =>
        if (current.fields.exists(tf => canon(tf.name) == canon(f.name)))
          throw new SchemaEvolutionException(
            s"cannot add column '${f.name}' to merge-on-read table $dir: " +
              "the name already exists in the table schema")
        if (dropped.contains(canon(f.name)))
          throw new SchemaEvolutionException(
            s"column '${f.name}' was dropped from this table; re-adding the " +
              "name would resurrect stale values from batches written before " +
              "the drop — use a new column name")
        if (renamedMap.contains(canon(f.name)))
          throw new SchemaEvolutionException(
            s"cannot add column '${f.name}': the name was renamed away (to " +
              s"'${renamedMap(canon(f.name))}') and batches on disk still " +
              "hold its values under that physical name — use a new name")
        if (kvRetired(contractKv(spark, dir).get).contains(canon(f.name)))
          throw new SchemaEvolutionException(
            s"cannot add column '${f.name}': the name is a retired " +
              "intermediate of a chained rename — reusing it would fork " +
              "the renamed column's identity; use a new name")
      }
      // the contract schema records PHYSICAL names; brand-new columns
      // are physical == logical by construction
      val currentPhys = declaredReadSchema(spark, dir, pk, vc, del,
        physical = true)
      writeContract(spark, dir,
        withHistoryEntry(spark, dir, contractKv(spark, dir).get) +
          ("schemaDDL" -> schemaB64(
            org.apache.spark.sql.types.StructType(
              currentPhys.fields ++ fields.map(_.copy(nullable = true))))))
    }
  }

  /** ALTER TABLE DROP COLUMN for MOR roots — metadata-only tombstone in
    * the contract, no file rewrite (the only drop a 100 TB delta log can
    * afford). Reads stop surfacing the column immediately; the next
    * [[compact]] rewrites the base without it physically. Unlike
    * [[Upsert.dropColumns]] — where dropping a pk column merely poisons
    * the NEXT merge — the pk/version/deleteFlag columns here are
    * load-bearing for every READ (LWW resolution), so dropping them
    * refuses immediately.
    */
  def dropColumns(spark: SparkSession, dir: String,
                  cols: Seq[String]): Unit = {
    if (cols.isEmpty) return
    // input-shape refusal before the lease (see addColumns)
    cols.find(c => c.exists(ch => ch == ',' || ch == '=' || ch == '\n')).foreach(c =>
      throw new SchemaEvolutionException(
        s"cannot drop column '$c': the name contains a contract metacharacter"))
    Upsert.withWriterLease(spark, dir) {
    val (pk, vc, del, _) = evolutionContract(spark, dir, "drop columns")
    def canon(n: String) = SchemaEvolution.canon(spark, n)
    val loadBearing = (pk :+ vc) ++ del.toSeq
    cols.foreach { c =>
      loadBearing.find(lb => canon(lb) == canon(c)).foreach(lb =>
        throw new SchemaEvolutionException(
          s"cannot drop column '$lb' from merge-on-read table $dir: it is " +
            s"the table's ${if (pk.exists(p => canon(p) == canon(c))) "primary key"
            else if (canon(vc) == canon(c)) "version column"
            else "delete-flag column"} — every read resolves the delta log " +
            "through it; re-key by rebuilding the table"))
    }
    val current = declaredReadSchema(spark, dir, pk, vc, del)
    cols.foreach { c =>
      if (!current.fields.exists(f => canon(f.name) == canon(c)))
        throw new SchemaEvolutionException(
          s"cannot drop column '$c': not in the table schema " +
            s"(${current.fieldNames.mkString(", ")})")
    }
    // users name LOGICAL columns; the tombstones and the recorded
    // schema operate on the PHYSICAL names the batches actually hold
    val kv = contractKv(spark, dir).get
    val byLogical = kvRenamed(kv).map { case (ph, lg) => canon(lg) -> ph }
    val canonCols = cols.map(c => byLogical.getOrElse(canon(c), canon(c)))
      .map(canon).toSet
    val currentPhys = declaredReadSchema(spark, dir, pk, vc, del,
      physical = true)
    val remaining = currentPhys.fields.filterNot(f => canonCols.contains(canon(f.name)))
    val tombstones = (droppedSet(spark, dir) ++ canonCols).toSeq.sorted
    writeContract(spark, dir, withHistoryEntry(spark, dir, kv) +
      ("schemaDDL" -> schemaB64(org.apache.spark.sql.types.StructType(remaining))) +
      ("dropped" -> tombstones.mkString(",")))
    }
  }

  /** `ALTER TABLE ... RENAME COLUMN` for MOR roots — metadata-only in
    * the contract (r13, VERDICT r12 #2): the mapping records canon
    * PHYSICAL name → logical name; every batch on disk keeps its
    * physical columns, [[validated]] translates new batches at the
    * write door, and reads serve the logical names at the exit. The
    * contract's pk/versionCol/deleteFlag columns refuse (they are the
    * table identity every resolution path keys on — re-key by
    * rebuilding), as do drifted (file-only, undeclared) columns and
    * collisions with live/dropped/renamed-away names. Unlike the CoW
    * layout (whose manifests version their schemas), the MOR contract
    * records its pre-state in the schema history, so time travel
    * serves each version under ITS OWN names (r14 — the r13
    * divergence is closed).
    */
  def renameColumn(spark: SparkSession, dir: String,
                   from: String, to: String): Unit = Upsert.withWriterLease(spark, dir) {
    def canon(n: String) = SchemaEvolution.canon(spark, n)
    Seq(from, to).foreach(c =>
      if (c.exists(ch => ch == ',' || ch == '=' || ch == '\n' || ch == '>'))
        throw new SchemaEvolutionException(
          s"cannot rename column '$c': the name contains a contract metacharacter"))
    val (pk, vc, del, _) = evolutionContract(spark, dir, "rename column")
    ((pk :+ vc) ++ del.toSeq).find(lb => canon(lb) == canon(from)).foreach(lb =>
      throw new SchemaEvolutionException(
        s"cannot rename column '$lb' on merge-on-read table $dir: it is a " +
          "contract identity column (pk/version/delete-flag) that every " +
          "read resolves the delta log through — re-key by rebuilding"))
    val kv = contractKv(spark, dir).get
    val renamedMap = kvRenamed(kv)
    val declaredPhys = kvSchema(kv).getOrElse(
      throw new SchemaEvolutionException(
        s"cannot rename on $dir: the contract records no schema — run one " +
          "compact (which backfills it) first"))
    // current LOGICAL view of the declared schema
    def logicalOf(phys: String): String = renamedMap.getOrElse(canon(phys), phys)
    val logicalNames = declaredPhys.fields.map(f => canon(logicalOf(f.name))).toSet
    if (!logicalNames.contains(canon(from)))
      throw new SchemaEvolutionException(
        s"cannot rename column '$from' on $dir: not a declared column " +
          s"(${declaredPhys.fields.map(f => logicalOf(f.name)).mkString(", ")}) — " +
          "a drifted (file-only) column must be declared via ADD COLUMNS of " +
          "a fresh name instead")
    if (logicalNames.contains(canon(to)) ||
        declaredPhys.fields.exists(f => canon(f.name) == canon(to)) ||
        kvDropped(kv).contains(canon(to)) || renamedMap.contains(canon(to)) ||
        kvRetired(kv).contains(canon(to)))
      throw new SchemaEvolutionException(
        s"cannot rename column '$from' to '$to' on $dir: '$to' collides with " +
          "a live column, a dropped-column tombstone, or a renamed-away name")
    // the PHYSICAL anchor of `from`: its own name for a first rename,
    // or the original physical key for a chained one — in which case
    // `from` itself becomes a retired intermediate (a->b->c leaves no
    // trace of 'b' in the mapping, so the retired set is what keeps a
    // stale producer of 'b', a re-ADD, or a rename target from
    // silently forking the column — CoW parity, ADVICE r13)
    val chainedVia = renamedMap.find { case (_, lg) => canon(lg) == canon(from) }
    val phys = chainedVia.map(_._1).getOrElse(
      declaredPhys.fields.find(f => canon(f.name) == canon(from)).get.name)
    val updated = renamedMap.filterNot { case (ph, _) => ph == canon(phys) } +
      (canon(phys) -> to)
    val retired = kvRetired(kv) ++ chainedVia.map(_ => canon(from))
    val retiredKv =
      if (retired.isEmpty) Map.empty[String, String]
      else Map("retiredLogical" -> retiredProp(retired))
    writeContract(spark, dir, withHistoryEntry(spark, dir, kv) +
      ("renamed" -> renamedProp(updated)) ++ retiredKv)
  }

  /** The table's full DECLARED schema: the current read's shape (which
    * already reconciles declared adds/drops against file content). Used
    * by the evolution paths as the authoritative "existing" side.
    * `physical = true` returns the on-disk column names (for contract
    * schemaDDL rewrites); false the user-facing logical ones.
    */
  private def declaredReadSchema(spark: SparkSession, dir: String,
                                 pk: Seq[String], vc: String,
                                 del: Option[String],
                                 physical: Boolean = false)
      : org.apache.spark.sql.types.StructType =
    readPinned(spark, dir, currentSnapshot(spark, dir), pk, vc, del,
      DefaultBroadcastDeltaBytes, applyRename = !physical).schema

  /** Reconcile a resolved read against the DECLARED schema: tombstoned
    * (dropped) columns vanish even though old batches still hold them,
    * and declared columns no file carries yet (a fresh ADD) surface as
    * typed NULLs. A table that never evolved takes the no-op branch —
    * the plan is untouched.
    *
    * CURRENT reads reconcile against the current contract; a
    * VERSION-pinned read passes the AS-OF contract ([[contractKvAt]],
    * r14) so each version reconciles under its own era's schema —
    * CoW-parity versioned time travel, pinned in MorAlterSpec and
    * RenameColumnSpec.
    */
  private[graft] def reconcileDeclared(spark: SparkSession, dir: String,
                                       df: DataFrame): DataFrame =
    reconcileDeclaredKv(spark, contractKv(spark, dir), df)

  /** [[reconcileDeclared]] against an ALREADY-PARSED contract kv map —
    * the hot read paths parse the file once per operation and thread
    * the map here instead of re-reading it per image.
    */
  private def reconcileDeclaredKv(spark: SparkSession,
                                  kv: Option[Map[String, String]],
                                  df: DataFrame,
                                  applyRename: Boolean = true,
                                  strictDeclared: Boolean = false): DataFrame =
    kv match {
      case None => df
      case Some(m) =>
        def canon(n: String) = SchemaEvolution.canon(spark, n)
        val dropped = kvDropped(m)
        val have = df.columns.map(canon).toSet
        val missing = kvSchema(m).map(_.fields.toSeq
            .filterNot(f => have(canon(f.name)) || dropped(canon(f.name))))
          .getOrElse(Seq.empty)
        val toDrop = df.columns.filter(c => dropped(canon(c)))
        val base0 =
          if (missing.isEmpty && toDrop.isEmpty) df
          else {
            val kept = df.columns.filterNot(c => dropped(canon(c)))
            df.select(kept.toIndexedSeq.map(col) ++ missing.map(f =>
              lit(null).cast(f.dataType).as(f.name)): _*)
          }
        // strict (as-of reads): serve EXACTLY the era's declared
        // columns — drifted file-only columns and later-added NULLs a
        // bounded compaction baked into a still-referenced base stay
        // out of a version-pinned shape
        val base = kvSchema(m) match {
          case Some(st) if strictDeclared =>
            val declared = st.fields.map(f => canon(f.name)).toSet
            val extra = base0.columns.filterNot(c =>
              declared(canon(c)) || c == BatchCol)
            if (extra.isEmpty) base0 else base0.drop(extra.toIndexedSeq: _*)
          case _ => base0
        }
        // column mapping (r13): the read exit serves the LOGICAL names.
        // Compaction paths pass applyRename = false — the base must
        // stay physically named so it keeps unioning with the delta
        // log's physical columns.
        val renamedMap = if (applyRename) kvRenamed(m) else Map.empty[String, String]
        if (renamedMap.isEmpty) base
        else base.select(base.columns.toIndexedSeq.map(c =>
          renamedMap.get(canon(c)).map(lg => col(c).as(lg)).getOrElse(col(c))): _*)
    }

  /** `sortBase` (default ON): stage each base bucket as ONE file with
    * rows SORTED by the pk — the lakehouse sorted-rewrite. Costs one
    * hash shuffle of the fold per compaction (compaction already
    * rewrites the whole base, so the added network is bounded by work
    * the pass was doing anyway) and buys, for every read until the
    * next compaction: one file per bucket (fewer opens, denser
    * Bloom/zone sidecars), tight parquet row-group pk stats (point
    * lookups skip row groups), and a recorded scan ordering
    * ([[Upsert]] SortedByProp) that lets the big-delta SPJ resolve's
    * full-outer sort-merge join consume the base with NO SortExec —
    * at 100 TB the sort it skips is an O(table) spill-prone pass,
    * paid on EVERY big-delta read. Opt out for latency-critical
    * compactions racing a live stream.
    */
  def compact(spark: SparkSession, dir: String, pk: Seq[String], versionCol: String,
              deleteFlagCol: Option[String] = None,
              numBuckets: Int = Upsert.DefaultNumBuckets,
              bloom: Boolean = false,
              sortBase: Boolean = true,
              upToLimit: Option[Long] = None): Unit = Upsert.withWriterLease(spark, dir) {
    recordContract(spark, dir, pk, versionCol, deleteFlagCol, numBuckets)
    gcCompactedDeltas(spark, dir) // collect strays from a crashed run
    // upToLimit (r14, drain-aware compaction): fold only the delta
    // PREFIX ≤ limit — a feed consumer draining a deep backlog in
    // bounded triggers compacts exactly what it has consumed, so the
    // NEXT trigger's PRE boundary image resolves against the fresh
    // base with an empty delta tail (O(1) per trigger) instead of
    // unioning every uncompacted batch below its boundary (the
    // measured O(backlog²) drain of PROBES r13). Batches above the
    // limit stay live deltas for the next cycle.
    val live = deltaBatches(spark, dir).filter(b =>
      b._1 > compactedUpto(spark, dir) && upToLimit.forall(b._1 <= _))
    if (live.isEmpty) return
    val upTo = live.map(_._1).max
    // INCREMENTAL sorted pass (VERDICT r12 #1): when the base is
    // already pk-sorted from a previous sorted compaction, merge the
    // sorted base files with the sorted delta winners per bucket —
    // untouched buckets carry over by manifest reference, touched
    // buckets rewrite through the no-shuffle SPJ merge — instead of
    // re-shuffling and re-sorting the WHOLE resolved fold. Falls back
    // to the full path when ineligible (first compaction, unsorted or
    // re-bucketed base, pre-contract table) or when the runtime
    // ordering guard refutes the merge-order claim.
    if (sortBase &&
        tryIncrementalSortedCompact(spark, dir, pk, versionCol, deleteFlagCol,
          numBuckets, bloom, live, upTo)) {
      Upsert.vacuum(spark, basePath(dir), keepManifests = 2)
      gcCompactedDeltas(spark, dir)
      return
    }
    // PHYSICAL read (applyRename = false): compaction folds the
    // resolved content back into base files that must keep unioning
    // with the delta log's physical column names. A bounded compact
    // pins the snapshot AT its limit so deltas above it stay out of
    // the folded content.
    val snap = upToLimit.fold(currentSnapshot(spark, dir))(_ =>
      snapshotAt(spark, dir, upTo))
    val resolved0 = readPinned(spark, dir, snap, pk,
      versionCol, deleteFlagCol, DefaultBroadcastDeltaBytes,
      applyRename = false)
    // backfill the contract schema for pre-schema contracts (no-op
    // when one is recorded) so empty-at-read and feed-before-first-
    // batch scenarios stay typed after the first compaction too
    recordContract(spark, dir, pk, versionCol, deleteFlagCol, numBuckets,
      Some(resolved0.schema))
    val resolved = resolved0
      .withColumn("__bucket",
        pmod(xxhash64(Upsert.keyStr(pk)), lit(numBuckets)).cast("int"))
    Upsert.replaceAll(spark, basePath(dir), resolved,
      props = Map("upto" -> upTo.toString, "numBuckets" -> numBuckets.toString),
      bloomPk = if (bloom) Some(pk) else None,
      sortBy = if (sortBase) pk else Nil)
    Upsert.vacuum(spark, basePath(dir), keepManifests = 2)
    gcCompactedDeltas(spark, dir)
  }

  /** The incremental half of [[compact]] (VERDICT r12 #1). Returns
    * true when it committed; false → the caller runs the full re-sort.
    *
    * Eligibility — all of:
    *  - a recorded contract (null-free pks → the SPJ merge plans with
    *    PLAIN key equality, which is what lets the pk-sorted base feed
    *    the full-outer sort-merge join with no SortExec);
    *  - a prior base manifest whose `sortedBy` equals this pk and whose
    *    bucket count matches (a re-bucketing compact must rewrite
    *    everything anyway);
    *  - at least one real base bucket (an anchor-only/fresh table's
    *    full pass is already O(deltas)).
    *
    * Shape: the delta batches are read once; their distinct placement
    * buckets (`touched`, bounded by numBuckets) split into buckets
    * that have base files — resolved by the storage-partitioned
    * full-outer merge restricted to exactly those buckets (base never
    * shuffles, never sorts; network = delta winners only) — and
    * brand-new buckets, whose winners arrange with one O(delta)
    * shuffle+sort. Both legs emit every partition already in
    * (bucket, pk) order, which [[graft.plans.OrderedGuard]] verifies
    * row-by-row while [[Upsert.replaceBuckets]] streams them into the
    * staged write with NO further shuffle or sort; untouched buckets'
    * files carry into the new manifest by reference. Compaction cost
    * therefore tracks the DELTAS (plus the touched fraction of base
    * I/O), not the table — at 100 TB the difference between a
    * background pass and a nightly re-sort of the fleet.
    *
    * A refuted ordering claim ([[graft.plans.OrderedGuardViolation]] —
    * e.g. a planner change swapping the merge join for a hash join)
    * aborts BEFORE any manifest commit and falls back to the full
    * path: correctness never rides on the fast path materializing.
    */
  private def tryIncrementalSortedCompact(spark: SparkSession, dir: String,
                                          pk: Seq[String], versionCol: String,
                                          deleteFlagCol: Option[String],
                                          numBuckets: Int, bloom: Boolean,
                                          live: Seq[(Long, String)],
                                          upTo: Long): Boolean = {
    val kv = contractKv(spark, dir)
    if (kv.isEmpty) return false
    val man = Upsert.currentManifest(spark, basePath(dir)).getOrElse(return false)
    val (sortedBy, sortedGens) = Upsert.sortedByOf(man)
    if (sortedBy != pk || sortedGens.isEmpty) return false
    if (man.numBuckets(numBuckets) != numBuckets) return false
    val baseBuckets = man.files.keySet.filter(_ >= 0)
    if (baseBuckets.isEmpty) return false
    val (bOpt, dOpt) = widenForEvolution(Some(Upsert.readManifest(spark, basePath(dir), man)),
      Some(readDeltaBatches(spark, live)))
    val (b, d) = (bOpt.get, dOpt.get)
    // distinct placement buckets of the delta keys: one small job,
    // result bounded by numBuckets
    val touched = touchedBuckets(d, pk, numBuckets)
    if (touched.isEmpty) return false // zero-row batches: full path bumps upto
    val withBase = touched.intersect(baseBuckets)
    val newOnly = touched.diff(withBase)
    val bucketExpr =
      pmod(xxhash64(Upsert.keyStr(pk)), lit(numBuckets)).cast("int")
    val bucketCol = graft.sources.UpsertBucketSource.BucketCol
    // resolved-but-unarranged legs: the touched buckets' complete new
    // content (base ∪ delta winners for buckets with base files; pure
    // delta winners for brand-new buckets)
    val leg1 =
      if (withBase.isEmpty) None
      else {
        val dIn = d.filter(bucketExpr.isin(withBase.toSeq.sorted: _*))
        val resolved = spjResolve(spark, dir, man, b, dIn, pk, versionCol,
          nullFree = true, buckets = Some(withBase))
        Some(dropDeletes(resolved, deleteFlagCol)
          .withColumn(bucketCol, bucketExpr))
      }
    val leg2 =
      if (newOnly.isEmpty) None
      else Some(dropDeletes(deltaWinners(
          d.filter(bucketExpr.isin(newOnly.toSeq.sorted: _*)), pk, versionCol)
          .drop(BatchCol), deleteFlagCol)
        .withColumn(bucketCol, bucketExpr))
    def reconciled(legs: Seq[DataFrame]): DataFrame =
      // physical names (applyRename = false): staged base files must
      // keep unioning with the delta log's physical columns
      reconcileDeclaredKv(spark, kv, legs.reduce(_.unionByName(_)),
        applyRename = false)
    // arrange a leg explicitly: one O(leg) shuffle into single-owner
    // bucket partitions, sorted (bucket, pk) within each
    def arranged(df: DataFrame, parts: Int): DataFrame =
      df.repartition(math.max(parts, 1), col(bucketCol))
        .sortWithinPartitions((bucketCol +: pk).map(col): _*)
    val schemaOf = reconciled((leg1.toSeq ++ leg2.toSeq).take(1))
    recordContract(spark, dir, pk, versionCol, deleteFlagCol, numBuckets,
      Some(org.apache.spark.sql.types.StructType(
        schemaOf.schema.fields.filterNot(_.name == bucketCol))))
    def commit(content: DataFrame): Unit =
      Upsert.replaceBuckets(spark, basePath(dir), content, touched,
        props = Map("upto" -> upTo.toString, "numBuckets" -> numBuckets.toString),
        bloomPk = if (bloom) Some(pk) else None, sortBy = pk)
    // Which side will EnsureRequirements shuffle? Both children satisfy
    // the join's clustering, so it conforms the SMALLER partitioning to
    // the larger: when the base's key-grouped layout (one partition per
    // kept bucket) out-counts the delta side's shuffle partitions, the
    // deltas shuffle INTO the bucket layout and the full-outer merge
    // emits every partition (bucket-constant, pk)-ordered — zero base
    // shuffle, zero base sort, the per-bucket merge of the verdict.
    // Otherwise the planner (correctly — the touched base fraction is
    // the smaller side) shuffles the base by pk and the merge order is
    // (pk, bucket), useless to the writer; arranging the touched
    // content ourselves costs one O(touched) shuffle+sort and is still
    // bounded by the buckets being rewritten, never the table.
    val claimMergeOrder = leg1.isDefined &&
      withBase.size > spark.sessionState.conf.numShufflePartitions
    try {
      if (claimMergeOrder)
        commit(reconciled(leg1.toSeq ++ leg2.map(arranged(_, newOnly.size)).toSeq))
      else
        commit(arranged(reconciled(leg1.toSeq ++ leg2.toSeq), touched.size))
      true
    } catch {
      case e: Exception if causeChain(e)
          .exists(_.isInstanceOf[graft.plans.OrderedGuardViolation]) =>
        // the guard refuted the merge-order claim (a planner change) —
        // retry ARRANGED: same touched-bucket scope, one explicit sort
        Console.err.println(
          s"[graft] incremental sorted compact of $dir refuted its ordering " +
            s"claim (${e.getMessage}); retrying with an explicit arrangement")
        commit(arranged(reconciled(leg1.toSeq ++ leg2.toSeq), touched.size))
        true
    }
  }

  private def causeChain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16).toSeq

  /** The watermark every RETAINED reader snapshot has folded: the upto
    * of the PREVIOUS (second-newest) manifest still on disk. Deltas at
    * or below it are invisible both to current readers and to readers
    * still on the previous snapshot, so GC'ing them can strand nobody.
    * −1 (retain everything) while fewer than two manifests exist — the
    * snapshot before the first compaction is deltas-only, and ITS
    * readers are mid-scan over exactly the batches that compaction
    * folded.
    */
  private def retainedUpto(spark: SparkSession, dir: String): Long = {
    val base = basePath(dir)
    val gens = Upsert.manifestGens(spark, base)
    if (gens.size < 2) -1L
    else Upsert.manifestAt(spark, base, gens(gens.size - 2))
      .flatMap(_.props.get("upto")).map(_.toLong).getOrElse(-1L)
  }

  /** Point lookup by PK values: the base side goes through
    * [[Upsert.lookup]] (manifest file list + per-file Blooms when the
    * base was compacted with bloom=true), live deltas — small by the
    * compaction contract — are filtered directly, and the same
    * newest-(version, batch) resolution picks the answer. A dim-Get
    * against a firehose table costs O(candidate files + deltas), not
    * O(base).
    */
  def lookup(spark: SparkSession, dir: String, pkCol: String, values: Seq[String],
             versionCol: String, deleteFlagCol: Option[String] = None,
             numBuckets: Int = Upsert.DefaultNumBuckets): DataFrame =
    lookupPinned(spark, dir, currentSnapshot(spark, dir), pkCol, values,
      versionCol, deleteFlagCol, numBuckets)

  /** [[lookup]] for COMPOSITE primary keys — the HBase-Get shape for
    * any arity: each key is its pk components as canonical strings
    * (Spark `CAST(col AS STRING)` form, the axis placement and Bloom
    * sidecars hash), in `pk` order. Bucket + Bloom narrowing run on
    * the canonical concatenation (exact narrowing — every true key's
    * file is a candidate), and an EXACT component-wise residual
    * removes any canonical-concatenation collision, so unlike the
    * internal feed path this returns precisely the requested keys.
    * Keys with a NULL component are not representable on the
    * canonical axis — read + filter for those.
    *
    * Scope: a GET-shaped call — the residual is an OR-chain of
    * per-component equalities, fine for the bounded key lists a point
    * lookup means and degenerate past a few thousand keys (huge
    * expression tree, possible codegen fallback). A bulk keyed read at
    * that size should `read` + broadcast-semi-join the key set
    * instead, exactly as the change feed's over-cap path does.
    */
  def lookupKeys(spark: SparkSession, dir: String, pk: Seq[String],
                 keys: Seq[Seq[String]], versionCol: String,
                 deleteFlagCol: Option[String] = None,
                 numBuckets: Int = Upsert.DefaultNumBuckets): DataFrame = {
    require(keys.forall(k => k.length == pk.length && !k.contains(null)),
      s"each key must supply ${pk.length} non-null components (pk ${pk.mkString(",")})")
    val canon = keys.map(_.mkString(Upsert.KeySep))
    val resolved = lookupPinnedKeys(spark, dir, currentSnapshot(spark, dir),
      pk, canon, versionCol, deleteFlagCol, numBuckets)
    if (keys.isEmpty || resolved.columns.isEmpty) return resolved
    val exact = keys.map(k =>
      pk.zip(k).map { case (c, v) => col(c).cast("string") === lit(v) }
        .reduce(_ && _)).reduce(_ || _)
    resolved.filter(exact)
  }

  /** [[lookup]] against an already-pinned [[Snapshot]] — the
    * time-travel/feed form: [[graft.rtdw.MorChangeFeed]] resolves
    * pre/post images of a delta batch's keys against the states AT its
    * boundaries, so the lookup must compose from the same pinned
    * (manifest, delta list) pair as the snapshot resolution.
    */
  private[graft] def lookupPinned(spark: SparkSession, dir: String,
                                  snap: Snapshot, pkCol: String,
                                  values: Seq[String], versionCol: String,
                                  deleteFlagCol: Option[String],
                                  numBuckets: Int): DataFrame =
    lookupPinnedKeys(spark, dir, snap, Seq(pkCol), values, versionCol,
      deleteFlagCol, numBuckets)

  /** [[lookupPinned]] for ANY pk arity: `values` are canonical key
    * strings ([[Upsert.keyStr]] form — for one column, the value
    * itself). Single-column pks keep the type-exact residual
    * ([[Upsert.keyEqFilter]]); composite pks narrow bucket/Bloom on
    * the canonical axis and filter residually on it too, which may
    * return extra WHOLE keys on canonical-concatenation collisions —
    * see [[Upsert.lookupInKeys]] for the tolerance contract.
    */
  private[graft] def lookupPinnedKeys(spark: SparkSession, dir: String,
                                      snap: Snapshot, pk: Seq[String],
                                      values: Seq[String], versionCol: String,
                                      deleteFlagCol: Option[String],
                                      numBuckets: Int): DataFrame =
    pinnedCandidates(spark, dir, snap, pk, values, numBuckets) match {
      case None => spark.emptyDataFrame
      case Some(all) =>
        val resolved = all.withColumn("__rn", row_number().over(
            Window.partitionBy(pk.map(col): _*).orderBy(lwwOrder(versionCol): _*)))
          .filter(col("__rn") === 1).drop("__rn", BatchCol)
        // same declared-schema reconciliation as readPinned: the feed's
        // point and semi boundary images must agree column-for-column
        reconcileDeclaredKv(spark, contractKv(spark, dir),
          dropDeletes(resolved, deleteFlagCol))
    }

  /** Resolution order of every LWW pick over rows tagged with their
    * source in [[BatchCol]] (base −1, a delta its batch id): newest
    * version first (a null version loses), ties to the later source.
    */
  private[graft] def lwwOrder(versionCol: String): Seq[Column] =
    Seq(col(versionCol).desc, col(BatchCol).desc)

  /** The UNRESOLVED rows a pinned point lookup of `values` ranks: the
    * base's bucket/Bloom candidate rows (tagged −1 in [[BatchCol]]) and
    * every live delta row matching the keys (tagged with its batch id),
    * widened to one schema and NOT reconciled against the declared
    * schema. [[lookupPinnedKeys]] resolves them with [[lwwOrder]]; the
    * change feed ranks them together with the admitted rows of the
    * next range in ONE window (they share the pk exchange). None when
    * the snapshot holds no base and no live delta.
    */
  private[graft] def pinnedCandidates(spark: SparkSession, dir: String,
                                      snap: Snapshot, pk: Seq[String],
                                      values: Seq[String],
                                      numBuckets: Int): Option[DataFrame] = {
    val (manOpt, live) = (snap.man, snap.live)
    def residual(df: DataFrame): Column =
      if (pk.length == 1)
        // type-exact residual (Upsert.keyEqFilter): a bare
        // isin(strings) on an int64 pk coerces through DOUBLE and
        // breaks past 2^53
        Upsert.keyEqFilter(df.schema, pk.head, values)
      else Upsert.keyStr(pk).isin(values: _*)
    // the base resolves against the SAME manifest the delta list was
    // cut from (lookupInKeys) — one snapshot structurally, not by luck
    // of no compaction committing between two resolutions (ADVICE r4)
    val baseOpt = manOpt.map { m =>
      Upsert.lookupInKeys(spark, basePath(dir), m, pk, values, numBuckets)
        .withColumn(BatchCol, lit(-1L))
    }
    val deltaOpt =
      if (live.isEmpty) None
      else {
        val d = readDeltaBatches(spark, live)
        Some(d.filter(residual(d)))
      }
    widenForEvolution(baseOpt.map(_.drop(BatchCol)), deltaOpt) match {
      case (Some(b), Some(d)) => Some(d.unionByName(b.withColumn(BatchCol, lit(-1L))))
      case (Some(b), None) => Some(b.withColumn(BatchCol, lit(-1L)))
      case (None, Some(d)) => Some(d)
      case (None, None) => None
    }
  }

  // ---- streaming-epoch watermarks ---------------------------------------

  /** Durable per-query replay watermark for [[graft.sources
    * .UpsertStreamSink]]'s merge-on-read mode: `_streamEpoch-<queryId>`
    * at the root holds the highest epoch whose delta batch is
    * acknowledged durable. The PRIMARY replay defense is the batch's
    * own `_commit-stream-<queryId>-<epochId>` marker (committed by the
    * same rename as the batch — [[committedBatchFor]] turns a replay
    * into a no-op); this file is the SECOND line that survives the
    * batch dir itself being compacted and GC'd while the stream was
    * down, and [[gcCompactedDeltas]] refuses to GC any stream-committed
    * batch this watermark has not yet acknowledged — so no crash point
    * can double-apply an epoch. One small file per streaming query id,
    * O(named jobs), same accumulation contract as the CoW sink's
    * `streamEpoch.*` manifest props.
    */
  private def streamEpochFile(dir: String, queryId: String) =
    new Path(dir.stripSuffix("/"), s"_streamEpoch-$queryId")

  private val StreamEpochPrefix = "_streamEpoch-"
  private[graft] val StreamCommitPrefix = "stream-"

  def streamEpochApplied(spark: SparkSession, dir: String,
                         queryId: String): Long =
    FsOps.readTextOpt(spark, streamEpochFile(dir, queryId))
      .map(_.trim.toLong).getOrElse(-1L)

  def recordStreamEpoch(spark: SparkSession, dir: String, queryId: String,
                        epochId: Long): Unit =
    FsOps.writeTextAtomic(spark, streamEpochFile(dir, queryId),
      epochId.toString)

  /** Every recorded streaming watermark of the root: queryId → epoch. */
  private[graft] def streamEpochWatermarks(spark: SparkSession,
                                           dir: String): Map[String, Long] = {
    val root = new Path(dir.stripSuffix("/"))
    val fs = FsOps.fs(spark, root)
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(StreamEpochPrefix))
      .flatMap { n =>
        val q = n.stripPrefix(StreamEpochPrefix)
        FsOps.readTextOpt(spark, streamEpochFile(dir, q))
          .map(t => q -> t.trim.toLong)
      }.toMap
  }

  /** The `(queryId, epochId)` a stream-committed batch dir's commit
    * marker carries, if any — `_commit-stream-<queryId>-<epochId>`
    * (the queryId itself contains dashes; the epoch is the last
    * segment).
    */
  private def streamMarkerOf(fs: org.apache.hadoop.fs.FileSystem,
                             batchDir: Path): Option[(String, Long)] =
    fs.listStatus(batchDir).iterator.map(_.getPath.getName)
      .collectFirst {
        case n if n.startsWith(s"_commit-$StreamCommitPrefix") =>
          val rest = n.stripPrefix(s"_commit-$StreamCommitPrefix")
          val cut = rest.lastIndexOf('-')
          (rest.substring(0, math.max(cut, 0)),
            scala.util.Try(rest.substring(cut + 1).toLong).getOrElse(-1L))
      }.filter(_._2 >= 0)

  /** Remove a merge-on-read root entirely — base generations, delta
    * batches, contract — under the writer lease (same protocol as
    * [[Upsert.dropTable]]); false unless [[isMorRoot]] holds, so a
    * caller can never aim the recursive delete at a raw directory
    * that merely contains a child named base/delta.
    */
  def dropTable(spark: SparkSession, dir: String): Boolean = {
    val d = dir.stripSuffix("/")
    if (!isMorRoot(spark, d)) return false
    Upsert.withWriterLease(spark, d) {
      val root = new Path(d)
      FileMeta.forget(d)
      FsOps.fs(spark, root).delete(root, true)
    }
  }

  /** Delete folded delta batches. Idempotent. By default only batches
    * every RETAINED manifest has folded go (one-cycle retention — see
    * [[compact]]); `retainForReaders = false` drops everything ≤ the
    * CURRENT watermark, safe only when no reader can hold an older
    * snapshot (offline maintenance). A STREAM-committed batch whose
    * epoch the per-query watermark file has not yet acknowledged is
    * never GC'd (either mode): its `_commit-stream-*` marker is the
    * replay no-op defense, and deleting it in the crash window between
    * batch commit and watermark write would let a replayed epoch land
    * twice.
    */
  def gcCompactedDeltas(spark: SparkSession, dir: String,
                        retainForReaders: Boolean = true): Unit = {
    val upto =
      if (retainForReaders) retainedUpto(spark, dir)
      else compactedUpto(spark, dir)
    if (upto < 0) return
    val fs = FsOps.fs(spark, new Path(deltaRoot(dir)))
    lazy val marks = streamEpochWatermarks(spark, dir)
    deltaBatches(spark, dir).filter(_._1 <= upto)
      .foreach { case (_, p) =>
        val d = new Path(p)
        val unacked = streamMarkerOf(fs, d)
          .exists { case (q, ep) => ep > marks.getOrElse(q, -1L) }
        if (!unacked) fs.delete(d, true)
      }
  }
}
