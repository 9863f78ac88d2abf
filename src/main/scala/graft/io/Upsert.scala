package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parquet-backed upsert (the K3/K5 MERGE substitute — SURVEY.md §2.2).
  *
  * The reference terminates DWD facts in upsert-kafka / HBase puts
  * keyed by PK (SQLUtil.getUpsertKafkaSQL:46-54,
  * DimHBaseSinkFunction.java:50-104). The Spark-native design is
  * `MERGE INTO` on an ACID table format; this container ships bare
  * parquet, so we implement last-writer-wins merge over a
  * HASH-BUCKETED, MANIFEST-COMMITTED layout (VERDICT r3 #1):
  *
  *   dir/_manifest-&lt;gen&gt;                the ONLY commit point
  *   dir/__gen=G/__bucket=B/part-*.parquet   immutable data files
  *   dir/__gen=G/__bucket=B/_bloom.json      per-file key Blooms
  *
  * Files are IMMUTABLE once written: a merge stages its output under a
  * fresh `__gen=G` directory (invisible — nothing references it), then
  * commits by renaming a new `_manifest-<gen>` into place. The manifest
  * maps every bucket to the exact files that make it up (files of
  * untouched buckets keep their old paths verbatim), so
  *
  *  - readers resolve ONE manifest and see a globally consistent
  *    snapshot: a reader overlapping a multi-bucket merge gets either
  *    the full old table or the full new one, NEVER new bucket A with
  *    old bucket B (the torn-read gap of per-bucket swaps);
  *  - a crash anywhere before the manifest rename leaves only orphan
  *    staged files that no reader can see — there is no recovery
  *    machinery because there is no intermediate state to recover;
  *  - the initial CREATE commits the same way, so a half-written first
  *    load is likewise invisible (VERDICT r3 #4);
  *  - superseded generations stay on disk until [[vacuum]], so a
  *    reader that resolved the previous manifest finishes its scan
  *    against intact files — MVCC exactly the way lakehouse formats
  *    (Delta/Iceberg/Hudi) do it, on bare parquet.
  *
  * Bucketing (`__bucket = pmod(xxhash64(pk), numBuckets)`) is a
  * stable, data-independent placement: a merge batch rewrites ONLY the
  * buckets its keys hash into — per-batch I/O is O(touched buckets ×
  * bucket size), not O(table). For random PKs, touched ≈ min(batch
  * keys, numBuckets), so the pruning gain is real exactly when a batch
  * carries far fewer keys than there are buckets — the CDC
  * dim-maintenance case this layout serves. A firehose of random-key
  * fact upserts touches every bucket per batch and needs merge-on-read
  * instead — that is [[MergeOnRead]] (O(batch) delta appends resolved
  * at read; far cheaper per firehose batch: PROBES.md, "Write paths",
  * the `events` row). With
  * `bloom=true` a second skipping level kicks in BELOW bucket pruning:
  * per-file key Bloom sidecars ([[Blooms]]) let a point merge read only
  * the files that might hold its keys; every other file is carried into
  * the new manifest BY REFERENCE — zero I/O, not even a rename.
  */
object Upsert {

  /** Buckets per table. Sized so one bucket of a continuously-merged
    * table stays comfortably inside one executor's scan budget
    * (~table_size / numBuckets); raise for bigger tables — placement
    * is stable for a given value. Small here for local test data.
    * Recorded in the manifest at CREATE so later merges/lookups cannot
    * silently diverge from the table's real bucket count.
    */
  val DefaultNumBuckets = 16

  private[io] val BucketCol = "__bucket"

  /** Physical second partition level for value-clustered writes
    * (VERDICT r10 #2): dir name only — never a stored column.
    */
  private[io] val CvCol = "__cv"
  /** Schema anchor pseudo-bucket: a zero-row parquet file referenced
    * when the table's content empties out, so reads keep their schema.
    */
  private val SchemaBucket = -1

  // ---- manifest ---------------------------------------------------------

  /** One committed table snapshot: `files` maps bucket → data-file
    * paths RELATIVE to the table root; `props` carries table metadata
    * (numBuckets; [[MergeOnRead]] stores its compaction watermark here
    * so base files and watermark commit in the same rename).
    *
    * `segRefs` is non-empty when the snapshot was committed in
    * SEGMENTED form (see [[commitManifest]]): segment index → segment
    * file name. `files` is always fully resolved either way — segRefs
    * exists so the NEXT commit can re-reference unchanged segments.
    */
  case class Manifest(gen: Long, props: Map[String, String],
                      files: Map[Int, Seq[String]],
                      segRefs: Map[Int, String] = Map.empty,
                      rowCounts: Map[String, Long] = Map.empty) {
    def allFiles: Seq[String] = files.values.flatten.toSeq
    def numBuckets(default: Int): Int =
      props.get("numBuckets").map(_.toInt).getOrElse(default)
  }

  private def manifestName(gen: Long) = f"_manifest-$gen%020d"
  private val ManifestRe = """_manifest-(\d+)""".r
  private val GenDirRe = """__gen=(\d+)""".r
  private def msegName(gen: Long, seg: Int) = f"_mseg-$gen%020d-$seg"
  private val MsegRe = """_mseg-(\d+)-(-?\d+)""".r

  /** Internal prop recording the bucketsPerSegment a segmented commit
    * used — segment reuse is only sound against a previous manifest cut
    * with the SAME grouping.
    */
  private val SegSizeProp = "__segSize"

  /** Above this many total data files the manifest splits into segment
    * files (the Iceberg manifest-list shape — backlog r4 #2). 4096
    * one-line entries ≈ a few hundred KB inline, so small tables never
    * pay the extra reads; conf-settable for tests and huge tables.
    */
  private def inlineMaxFiles(spark: SparkSession): Int =
    spark.conf.get("spark.graft.manifest.inlineMaxFiles", "4096").toInt

  /** Buckets per segment file in segmented form. At 4096 buckets and 64
    * buckets/segment a point merge rewrites 1 of 64 segment files and
    * re-references the other 63 by name.
    */
  private def bucketsPerSegment(spark: SparkSession): Int =
    spark.conf.get("spark.graft.manifest.bucketsPerSegment", "64").toInt

  private def segOf(bucket: Int, segSize: Int): Int =
    Math.floorDiv(bucket, segSize)

  private def fileLines(files: Map[Int, Seq[String]]): String =
    files.toSeq.sortBy(_._1).flatMap { case (b, fs) =>
      fs.sorted.map(f => s"$b\t$f")
    }.mkString("\n")

  private def serializeInline(m: Manifest): String = {
    val propLines = (m.props - SegSizeProp).toSeq.sortBy(_._1)
      .map { case (k, v) => s"#$k=$v" }
    // `^<rel>\t<rows>` — per-file row counts (planner cardinality),
    // only for files this manifest still references. NOTE: a third
    // line prefix (after `#` props and `@` segment refs) — readers
    // older than this prefix cannot parse manifests that carry it, so
    // introducing any FOURTH prefix needs a fleet-wide reader upgrade
    // first (set spark.graft.rowCounts.maxNewFiles=0 to write
    // old-format manifests during such a transition).
    val live = m.files.valuesIterator.flatten.toSet
    val countLines = m.rowCounts.toSeq.filter(c => live(c._1)).sortBy(_._1)
      .map { case (rel, n) => s"^$rel\t$n" }
    (propLines.mkString("\n") + "\n" + countLines.mkString("\n") + "\n" +
      fileLines(m.files)).trim
  }

  private def parseFileLines(lines: Seq[String]): Map[Int, Seq[String]] =
    lines.map { l =>
      val Array(b, p) = l.split("\t", 2); (b.toInt, p)
    }.groupBy(_._1).map { case (b, ps) => b -> ps.map(_._2) }

  /** Parse a root manifest; a line `@<seg>\t<name>` references a
    * segment file holding that group's `bucket\tfile` lines.
    */
  private def parse(spark: SparkSession, dir: String, gen: Long,
                    text: String): Manifest = {
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    val props = lines.filter(_.startsWith("#")).map { l =>
      val Array(k, v) = l.drop(1).split("=", 2); k -> v
    }.toMap
    val segRefs = lines.filter(_.startsWith("@")).map { l =>
      val Array(s, n) = l.drop(1).split("\t", 2); (s.toInt, n)
    }.toMap
    val rowCounts = lines.filter(_.startsWith("^")).map { l =>
      val Array(rel, n) = l.drop(1).split("\t", 2); (rel, n.toLong)
    }.toMap
    val inline = parseFileLines(
      lines.filterNot(l =>
        l.startsWith("#") || l.startsWith("@") || l.startsWith("^")))
    val fromSegs = segRefs.toSeq.sortBy(_._1).map { case (_, name) =>
      val body = FsOps.readTextOpt(spark, new Path(dir, name)).getOrElse(
        throw new IllegalStateException(
          s"manifest gen=$gen references missing segment $name under $dir"))
      parseFileLines(body.linesIterator.filter(_.nonEmpty).toSeq)
    }.foldLeft(Map.empty[Int, Seq[String]])(_ ++ _)
    Manifest(gen, props, inline ++ fromSegs, segRefs, rowCounts)
  }

  /** The parse of the committed manifest `st` (generation `gen`), from
    * [[FileMeta]]: a `_manifest-<gen>` lands by rename and is never
    * rewritten, so its parse (segment reads included) is immutable
    * metadata; the file's identity keeps a recreated table whose gen
    * numbering restarts from being served the dead table's file list.
    * None when the file vanished (a racing vacuum or drop).
    */
  private def parseMemo(spark: SparkSession, dir: String,
                        st: org.apache.hadoop.fs.FileStatus,
                        gen: Long): Option[Manifest] =
    Some(FileMeta(FileMeta.ParsedManifest, st.getPath.toString, FileMeta.Id.of(Seq(st)))(
      parse(spark, dir, gen, FsOps.readTextOpt(spark, st.getPath).getOrElse(return None))))

  /** The newest committed snapshot, or None for a missing/empty table.
    * One listing + one small-file read (plus one read per manifest
    * segment for huge tables) — the entire read-side planning cost of
    * snapshot isolation. Re-listing is the currency check; the parse
    * itself is served from [[FileMeta]] when this generation was seen
    * before.
    */
  def currentManifest(spark: SparkSession, dir: String): Option[Manifest] =
    manifestStatus(spark, dir, None).flatMap { case (g, st) => parseMemo(spark, dir, st, g) }

  /** The generation and file status of manifest `gen`, or of the newest
    * one when `gen` is None (a listing: the currency check).
    */
  private def manifestStatus(spark: SparkSession, dir: String, gen: Option[Long])
      : Option[(Long, org.apache.hadoop.fs.FileStatus)] = {
    val root = new Path(dir)
    val fs = FsOps.fs(spark, root)
    try gen match {
      case Some(g) => Some((g, fs.getFileStatus(new Path(dir, manifestName(g)))))
      case None =>
        val gens = fs.listStatus(root).flatMap(s => s.getPath.getName match {
          case ManifestRe(g) => Some((g.toLong, s))
          case _ => None
        })
        if (gens.isEmpty) None else Some(gens.maxBy(_._1))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Generations of every manifest still on disk, ascending — the
    * snapshots [[readAt]] can still resolve (newest last).
    */
  def manifestGens(spark: SparkSession, dir: String): Seq[Long] = {
    val root = new Path(dir)
    val fs = FsOps.fs(spark, root)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).map(_.getPath.getName)
      .collect { case ManifestRe(g) => g.toLong }.toSeq.sorted
  }

  /** Read the snapshot committed as generation `gen` — time travel, as
    * long as [[vacuum]] has not collected its files yet. Served from
    * [[FileMeta]] after the first parse (one stat call checks the file
    * is still the one we parsed).
    */
  def manifestAt(spark: SparkSession, dir: String, gen: Long): Option[Manifest] =
    manifestStatus(spark, dir, Some(gen)).flatMap { case (g, st) => parseMemo(spark, dir, st, g) }

  /** Resolve `TIMESTAMP AS OF`: the newest retained generation whose
    * [[CommittedAtProp]] stamp is ≤ `tsMs`. Resolution walks the
    * retained manifests' props (one small read per generation —
    * metadata only, no Spark job) and breaks any clock-skew tie by
    * generation NUMBER, the authoritative commit order. A timestamp
    * before the oldest retained commit fails loudly with the earliest
    * time that IS resolvable, mirroring what lakehouse time travel
    * does when retention has collected the requested snapshot.
    */
  def genAtTimestamp(spark: SparkSession, dir: String, tsMs: Long): Long = {
    val gens = manifestGens(spark, dir).sorted
    if (gens.isEmpty)
      throw new NoTableException(s"no committed manifest under $dir")
    val stamped = gens
      .flatMap(g => manifestAt(spark, dir, g))
      .flatMap(m => m.props.get(CommittedAtProp).map(s => (m.gen, s.toLong)))
    if (stamped.isEmpty)
      // the table EXISTS — this must NOT surface as "table not found"
      throw new IllegalStateException(
        s"table at $dir predates commit timestamps (no $CommittedAtProp " +
          "prop on any retained manifest); use VERSION AS OF, or commit " +
          "once to start the clock")
    val hits = stamped.filter(_._2 <= tsMs)
    if (hits.isEmpty)
      throw new IllegalArgumentException(
        s"TIMESTAMP AS OF $tsMs precedes every retained snapshot of $dir " +
          s"(earliest retained commit: ${stamped.map(_._2).min}); " +
          "older snapshots were vacuumed or never existed")
    hits.map(_._1).max
  }

  /** Commit history of the retained snapshots, newest first — the
    * `DESCRIBE HISTORY` equivalent. One row per retained manifest:
    * generation, commit timestamp, operation label, bucket count,
    * data-file count, and the recorded PK / version-column contract.
    * Metadata only: O(retained generations) small manifest reads on
    * the driver, no Spark job over data files.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = manifestGens(spark, dir).sorted.reverse
      .flatMap(g => manifestAt(spark, dir, g))
      .map { m =>
        org.apache.spark.sql.Row(
          m.gen,
          m.props.get(CommittedAtProp)
            .map(s => new java.sql.Timestamp(s.toLong)).orNull,
          m.props.get(OperationProp).orNull,
          m.props.get("numBuckets").map(_.toInt).map(Int.box).orNull,
          m.files.filterNot(_._1 == SchemaBucket).valuesIterator.map(_.size).sum,
          m.props.get(PkColsProp).orNull,
          m.props.get(VersionColProp).orNull)
      }
    val schema = StructType(Seq(
      StructField("generation", LongType, nullable = false),
      StructField("committed_at", TimestampType),
      StructField("operation", StringType),
      StructField("num_buckets", IntegerType),
      StructField("num_files", IntegerType, nullable = false),
      StructField("pk_columns", StringType),
      StructField("version_column", StringType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Commit a snapshot. The root `_manifest-<gen>` rename is ALWAYS the
    * single visibility point; what varies is whether the file list
    * rides inline or in segment files written (invisibly) first:
    *
    *  - ≤ inlineMaxFiles data files: inline, exactly as before.
    *  - above: buckets group into segments of `bucketsPerSegment`; a
    *    segment whose serialized content is IDENTICAL to the previous
    *    manifest's grouping is re-referenced by its existing name —
    *    zero writes — and only segments containing touched buckets get
    *    a new `_mseg-<gen>-<seg>` file. Commit metadata I/O is
    *    O(touched buckets), not O(table files): the property that keeps
    *    a 100 TB table's per-batch commit flat as file counts grow.
    *
    * A crash before the root rename leaves only unreferenced segment
    * files ([[vacuum]] collects them); readers of either form resolve
    * through one root, so snapshot isolation is unchanged.
    *
    * Every commit stamps [[CommittedAtProp]] (driver wall-clock, ms)
    * and [[OperationProp]] (what produced the snapshot) into the
    * manifest props — the resolution axis of `TIMESTAMP AS OF` time
    * travel and the rows of [[history]]. The stamp is metadata only:
    * generation NUMBERS stay the authoritative commit order (clock
    * skew between writers can never reorder history).
    */
  /** Per-file row counts for the manifest: counts for files the
    * previous manifest already knows CARRY OVER (their content is
    * immutable); NEW files get a driver-side parquet-footer read —
    * kilobytes per file, capped by `spark.graft.rowCounts.maxNewFiles`
    * (0 disables) so a very wide commit never stalls the driver on
    * sequential footer RPCs. Best-effort metadata: any unreadable or
    * uncounted file simply leaves the table's cardinality unknown
    * (the scan reports numRows only when EVERY kept file has a count).
    */
  private def withRowCounts(spark: SparkSession, dir: String, m: Manifest,
                            prev: Option[Manifest]): Manifest = {
    val cap = spark.conf.get("spark.graft.rowCounts.maxNewFiles", "1024").toInt
    if (cap <= 0) return m.copy(rowCounts = Map.empty)
    // counts ride the INLINE manifest form only; a table big enough to
    // segment would bloat the root with per-file lines — its
    // cardinality stays unknown rather than half-recorded
    if (m.files.valuesIterator.map(_.size).sum > inlineMaxFiles(spark))
      return m.copy(rowCounts = Map.empty)
    val live: Set[String] = m.files.iterator
      .collect { case (b, rels) if b != SchemaBucket => rels }.flatten.toSet
    val carried: Map[String, Long] =
      (prev.map(_.rowCounts).getOrElse(Map.empty) ++ m.rowCounts)
        .filter { case (rel, _) => live(rel) }
    val fresh = (live -- carried.keySet).toSeq.sorted
    val read: Map[String, Long] =
      if (fresh.isEmpty || fresh.size > cap) Map.empty
      else {
        val conf = spark.sparkContext.hadoopConfiguration
        fresh.flatMap { rel =>
          try {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new Path(abs(dir, rel)), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try {
              import scala.jdk.CollectionConverters._
              Some(rel -> r.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
            } finally r.close()
          } catch { case _: Exception => None } // best-effort metadata
        }.toMap
      }
    m.copy(rowCounts = carried ++ read)
  }

  private def commitManifest(spark: SparkSession, dir: String, m0: Manifest,
                             prev: Option[Manifest] = None,
                             op: String = "commit"): Unit = {
    val m = withRowCounts(spark, dir, m0, prev).copy(props = m0.props +
      (CommittedAtProp -> System.currentTimeMillis().toString) +
      (OperationProp -> op))
    val total = m.files.valuesIterator.map(_.size).sum
    if (total <= inlineMaxFiles(spark)) {
      FsOps.writeTextAtomic(spark, new Path(dir, manifestName(m.gen)),
        serializeInline(m))
      return
    }
    val segSize = bucketsPerSegment(spark)
    val groups: Map[Int, Map[Int, Seq[String]]] =
      m.files.groupBy { case (b, _) => segOf(b, segSize) }
    // reuse is sound only against a previous SEGMENTED manifest cut
    // with the same grouping (its segment files hold exactly the
    // re-serialized content we compare against)
    val prevGroups: Map[Int, Map[Int, Seq[String]]] = prev match {
      case Some(p) if p.segRefs.nonEmpty &&
          p.props.get(SegSizeProp).contains(segSize.toString) =>
        p.files.groupBy { case (b, _) => segOf(b, segSize) }
      case _ => Map.empty
    }
    val refs: Map[Int, String] = groups.map { case (seg, bucketFiles) =>
      val content = fileLines(bucketFiles)
      val reused = for {
        p <- prev
        pc <- prevGroups.get(seg)
        ref <- p.segRefs.get(seg)
        if fileLines(pc) == content
      } yield ref
      seg -> reused.getOrElse {
        val name = msegName(m.gen, seg)
        FsOps.writeTextAtomic(spark, new Path(dir, name), content)
        name
      }
    }
    val propLines = ((m.props - SegSizeProp) + (SegSizeProp -> segSize.toString))
      .toSeq.sortBy(_._1).map { case (k, v) => s"#$k=$v" }
    val segLines = refs.toSeq.sortBy(_._1).map { case (s, n) => s"@$s\t$n" }
    FsOps.writeTextAtomic(spark, new Path(dir, manifestName(m.gen)),
      (propLines ++ segLines).mkString("\n"))
  }

  /** Next unused generation number: above every committed manifest,
    * every staged/orphaned generation directory, AND every reserved
    * optimistic-stage intent (`_intent-<gen>` — the reservation is
    * visible to later reservers even before the gen dir exists).
    */
  private def nextGen(spark: SparkSession, dir: String): Long = {
    val root = new Path(dir)
    val fs = FsOps.fs(spark, root)
    if (!fs.exists(root)) return 0L
    val seen = fs.listStatus(root).map(_.getPath.getName).collect {
      case ManifestRe(g) => g.toLong
      case GenDirRe(g) => g.toLong
      case IntentRe(g) => g.toLong
    }
    if (seen.isEmpty) 0L else seen.max + 1
  }

  /** Does the path exist at all (any content, manifest or not)?
    * Raw (unmanaged) dirs use this; manifest-managed tables are
    * defined by [[currentManifest]].
    */
  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  // ---- writer lease -----------------------------------------------------

  /** What a second writer gets when a table's lease is held: a LOUD
    * abort instead of a silent manifest clobber. Non-final since r15:
    * [[CommitConflictException]] extends it so every existing
    * contention handler (the streaming sink's retry, operator retry
    * loops) treats an optimistic-commit conflict exactly like lease
    * contention — safe to retry, nothing committed.
    */
  class ConcurrentWriterException(msg: String)
      extends IllegalStateException(msg)

  /** An OPTIMISTIC merge that staged without the table lease and, at
    * its commit critical section, found interleaved commits it cannot
    * rebase onto (same placement buckets touched, table metadata
    * changed, table dropped/created concurrently). Nothing was
    * committed; the staged generation dir is deleted by the abort
    * path. Retrying re-stages against the new current manifest and is
    * always correct.
    */
  final class CommitConflictException(msg: String)
      extends ConcurrentWriterException(msg)

  /** Genuine table ABSENCE (no committed manifest) — its own type so
    * callers like [[graft.sources.UpsertCatalog]] can map exactly this
    * to `NoSuchTableException` while every other invariant failure
    * (vacuumed generation, missing segment, placement mismatch) keeps
    * surfacing as the real error it is (ADVICE r8).
    */
  final class NoTableException(msg: String) extends IllegalStateException(msg)

  /** A merge that contradicts the table's RECORDED contract (different
    * pk columns/order or version column than the manifest's placement
    * props): loud and typed, because silently re-recording placement
    * would leave untouched buckets under the old hash while the
    * driver-side runtime filter prunes files by the new one — a row
    * LOSS, not just a perf inconsistency (ADVICE r8).
    */
  final class TableContractException(msg: String)
      extends IllegalStateException(msg)

  /** CREATE TABLE on a directory that already holds a committed
    * manifest — its own type so the SQL catalog can map exactly this
    * to `TableAlreadyExistsException` (mirror of [[NoTableException]]).
    */
  final class TableExistsException(msg: String)
      extends IllegalStateException(msg)

  private val LeaseName = "_lock"

  private def leaseStaleMs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.lease.staleMs", (10 * 60 * 1000L).toString).toLong

  /** Run `body` holding `dir`'s writer lease (VERDICT r4 #3 — the
    * single-writer contract, enforced instead of documented). The lease
    * is a `_lock` file created with create-fails-if-exists — the one
    * atomic claim primitive bare filesystems give us — so of two
    * concurrent writers exactly one proceeds; the loser throws
    * [[ConcurrentWriterException]] and its batch fails visibly (Spark
    * retries it later, when the lease is free).
    *
    * Liveness vs takeover: the holder HEARTBEATS the lease file's
    * mtime from a daemon thread every staleMs/3 for as long as `body`
    * runs, so a legitimately long merge (the body includes data-plane
    * writes, not just metadata) can never be presumed crashed — a
    * lease older than `spark.graft.lease.staleMs` (default 10 min, ≫
    * the heartbeat period) therefore means the holder PROCESS is gone.
    * Taking such a lease over is an atomic RENAME claim, not
    * delete-then-create: of N contenders exactly one wins the rename
    * (the others' renames throw on the vanished source), so two
    * contenders can never both "take over" — the delete-then-create
    * form let the second contender's delete remove the first's FRESH
    * lease. Release deletes the file only when it still holds OUR
    * token, so a takeover of a genuinely stale holder is never undone
    * by that holder's late finally-block.
    */
  private[io] def withWriterLease[T](spark: SparkSession, dir: String)(body: => T): T = {
    val root = new Path(dir)
    val fs = FsOps.fs(spark, root)
    if (!fs.exists(root)) fs.mkdirs(root)
    val lease = new Path(root, LeaseName)
    val token = java.util.UUID.randomUUID().toString
    def tryAcquire(): Boolean = FsOps.createExclusive(fs, lease, token)
    def holderAge(): Long =
      try System.currentTimeMillis() - fs.getFileStatus(lease).getModificationTime
      catch { case _: java.io.IOException => -1L } // vanished: holder released
    if (!tryAcquire()) {
      if (holderAge() > leaseStaleMs(spark)) {
        // atomic takeover claim (see scaladoc); losers' renames throw
        val claimed = new Path(root, s"$LeaseName.stale.$token")
        try { FsOps.renameOrThrow(fs, lease, claimed); fs.delete(claimed, false) }
        catch { case _: Exception => () } // another contender claimed it
      }
      if (!tryAcquire())
        throw new ConcurrentWriterException(
          s"writer lease at $lease is held (age ${holderAge()} ms); " +
            "concurrent writers must not race — rerun when the holder finishes")
    }
    val beatEvery = math.max(250L, leaseStaleMs(spark) / 3)
    val beat = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(beatEvery)
          try fs.setTimes(lease, System.currentTimeMillis(), -1)
          catch { case _: Exception => () } // lease gone: benign, release races
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-lease-heartbeat-${root.getName}")
    beat.setDaemon(true)
    beat.start()
    try body
    finally {
      beat.interrupt()
      // delete only if the lease still carries our token (a takeover of
      // a genuinely stale us must not be undone by this late release)
      if (FsOps.readRawOpt(fs, lease).contains(token)) fs.delete(lease, false)
    }
  }

  /** The writer lease for a COMPOSITE structure — a directory whose
    * children are themselves Upsert tables (e.g. an IVF index root with
    * centroids/ and cell=N/ subtables). Guards a multi-table operation
    * (like a whole-index rebuild) with the same single-writer contract
    * each table already has; the composite `_lock` lives at `dir`
    * itself, so it never collides with the children's own leases.
    */
  def withCompositeLease[T](spark: SparkSession, dir: String)(body: => T): T =
    withWriterLease(spark, dir)(body)

  // ---- optimistic commits (VERDICT r14 #1) ------------------------------

  /** Optimistic concurrency for [[merge]] (default ON): the expensive
    * stage (resolve + write) runs WITHOUT the table lease; only a
    * short critical section around the manifest commit takes it. A
    * writer that finds the manifest advanced REBASES — recommits on
    * top of the interleaved state when its touched placement buckets
    * and the table metadata are untouched by the interleaving, aborts
    * with the retryable [[CommitConflictException]] otherwise. Two
    * producers merging DISJOINT buckets therefore both commit; a
    * minutes-long merge no longer serializes every other writer for
    * its whole duration. Set `spark.graft.commit.optimistic=false` to
    * restore whole-merge locking.
    */
  private def optimisticMerges(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.commit.optimistic", "true").toBoolean

  private val IntentRe = """_intent-(\d+)""".r

  /** A reserved optimistic stage: `_intent-<gen>` at the table root,
    * heartbeated like the writer lease so [[vacuumLocked]] can tell a
    * LIVE unlocked stage (skip its generation dir) from a crashed one
    * (stale mtime — sweep it). Created under the table lease by
    * [[reserveGen]]; released (deleted) when the merge commits or
    * aborts.
    */
  private[io] final class StageIntent(fs: org.apache.hadoop.fs.FileSystem,
                                      val path: Path, beatEvery: Long) {
    private val beat = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(beatEvery)
          try fs.setTimes(path, System.currentTimeMillis(), -1)
          catch { case _: Exception => () } // intent gone: release races
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-intent-heartbeat-${path.getName}")
    beat.setDaemon(true)
    beat.start()
    def release(): Unit = {
      beat.interrupt()
      try { fs.delete(path, false); () } catch { case _: Exception => () }
    }
  }

  /** Reserve a generation number for an UNLOCKED stage: a short
    * table-lease section picks `nextGen` and plants the intent marker
    * — later reservers and locked writers skip the number (nextGen
    * counts intents), and vacuum leaves the about-to-exist gen dir
    * alone while the intent stays fresh.
    */
  /** Can an optimistic merge staged against `base` recommit on top of
    * `latest`? Sound exactly when the interleaved commits are provably
    * invisible to everything the stage computed: (1) no table METADATA
    * moved — schema, placement contract, rename chain, id high-water,
    * tombstones, zones, clustering, sort state, watermarks all live in
    * manifest props, so prop equality (modulo the per-commit stamps)
    * covers them in one comparison that can never silently miss a new
    * prop; (2) no interleaved commit touched OUR placement buckets —
    * their base files are then byte-identical in `latest`, so the
    * staged resolve, bloom-preserve refs, and feed pre-image stay
    * exact. Anything else aborts with the retryable conflict: a retry
    * re-stages against the new state, which is always correct.
    */
  private def checkRebase(spark: SparkSession, dir: String,
                          base: Manifest, latest: Manifest,
                          touched: Set[Int]): Unit = {
    val volatileProps = Set(CommittedAtProp, OperationProp, SegSizeProp)
    // Nullability is NORMALIZED out of the schema comparison: a create
    // stamps source-literal non-nullable fields that the first merge's
    // resolve/union relaxes to nullable — commit-order cosmetics, not a
    // contract move (names, ids, types, field count all still bind).
    def denullify(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
      import org.apache.spark.sql.types._
      dt match {
        case st: StructType => StructType(st.fields.map(f =>
          f.copy(dataType = denullify(f.dataType), nullable = true)))
        case ArrayType(et, _) => ArrayType(denullify(et), containsNull = true)
        case MapType(kt, vt, _) =>
          MapType(denullify(kt), denullify(vt), valueContainsNull = true)
        case other => other
      }
    }
    def canon(props: Map[String, String]): Map[String, String] =
      (props -- volatileProps).map {
        case (SchemaProp, json) =>
          SchemaProp -> denullify(
            org.apache.spark.sql.types.DataType.fromJson(json)).json
        case kv => kv
      }
    val bp = canon(base.props)
    val lp = canon(latest.props)
    if (bp != lp) {
      val changed = (bp.keySet ++ lp.keySet)
        .filter(k => bp.get(k) != lp.get(k)).toSeq.sorted
      throw new CommitConflictException(
        s"optimistic merge into $dir cannot rebase onto generation " +
          s"${latest.gen}: interleaved commits changed table metadata " +
          s"(${changed.mkString(", ")}) since the merge staged against " +
          s"generation ${base.gen} — retry the merge")
    }
    val changedBuckets = (base.files.keySet ++ latest.files.keySet)
      .filter(b => base.files.get(b) != latest.files.get(b))
    val overlap = changedBuckets & touched
    if (overlap.nonEmpty)
      throw new CommitConflictException(
        s"optimistic merge into $dir conflicts with interleaved commits " +
          s"on placement buckets ${overlap.toSeq.sorted.mkString(",")} " +
          s"(staged against generation ${base.gen}, table now at " +
          s"${latest.gen}) — retry the merge to resolve against them")
  }

  private def reserveGen(spark: SparkSession, dir: String): (Long, StageIntent) =
    withWriterLease(spark, dir) {
      val gen = nextGen(spark, dir)
      val p = new Path(dir, s"_intent-$gen")
      val fs = FsOps.fs(spark, p)
      require(FsOps.createExclusive(fs, p, System.currentTimeMillis().toString),
        s"intent marker $p already exists though gen $gen was fresh under " +
          "the table lease — filesystem anomaly, refusing to stage")
      (gen, new StageIntent(fs, p, math.max(250L, leaseStaleMs(spark) / 3)))
    }

  private def abs(dir: String, rel: String) = s"${dir.stripSuffix("/")}/$rel"

  /** Scan of an exact snapshot's files. No basePath: explicit leaf
    * files, so no partition columns are inferred — bucket membership is
    * manifest metadata, not a data column.
    */
  /** Manifest prop recording the table schema as DDL. Written by every
    * commit; reads pass it to the parquet reader EXPLICITLY, so files
    * written before a column was added simply surface NULLs for it —
    * schema evolution without a mergeSchema footer sweep, and time
    * travel returns each generation's own shape.
    */
  private val SchemaProp = "schema"

  /** Column-mapping props (r13, [[FieldIds]]): `idGen` = the earliest
    * generation whose staged files carry parquet field ids (files from
    * older generations may still be referenced by merge-preserve, so
    * the id-read gate is file-granular); `maxColumnId` = the
    * never-reuse id high-water mark; `renamedFrom` = accumulated
    * `oldCanonName>current` pairs — both the loud-refusal marker for
    * producers still writing a renamed-away name and the ADD tombstone
    * that keeps a retired name from coming back as a different column.
    */
  private[graft] val IdGenProp = "idGen"
  private[graft] val MaxColIdProp = "maxColumnId"
  private[graft] val RenamedFromProp = "renamedFrom"

  /** ORDERED rename history (`old>new` per step, chronological) — what
    * the collapsed [[RenamedFromProp]] map loses. Change-feed batches
    * are plain name-consumed parquet (no field ids — the id-read tax
    * stays scoped to table scans), so a feed spanning a rename holds
    * files under BOTH names; each batch dir records its name ERA (the
    * chain length at write time, [[ChangeFeed]]'s `_nameera-K`
    * marker) and readers substitute exactly the chain suffix the era
    * has not seen. Old names store verbatim (files predate canon
    * normalization of the request).
    */
  private[graft] val RenameChainProp = "renameChain"

  private[graft] def renameChainOf(m: Manifest): Seq[(String, String)] =
    m.props.get(RenameChainProp)
      .map(_.split(",").filter(_.nonEmpty).toSeq.map { p =>
        val Array(o, n) = p.split(">", 2); (o, n)
      }).getOrElse(Seq.empty)

  private[graft] def renamedFromOf(m: Manifest): Map[String, String] =
    m.props.get(RenamedFromProp)
      .map(_.split(",").filter(_.nonEmpty).map { p =>
        val Array(o, n) = p.split(">", 2); o -> n
      }.toMap).getOrElse(Map.empty)

  private def genOfPath(rel: String): Long =
    """__gen=(\d+)/""".r.findFirstMatchIn(rel).map(_.group(1).toLong).getOrElse(-1L)

  /** The schema manifest `m` DECLARES for its files — session-free,
    * so metadata surfaces (DESCRIBE, ALTER, catalog loadTable, the
    * cached [[BucketLayout]]) can serve it unconditionally: the
    * recorded schema WITH field ids when the table has renamed columns
    * and every referenced file was staged by an id-stamping generation
    * (ids make renamed columns resolve across old and new files, and
    * `readAt` serve each generation under its own names) — stripped to
    * plain name matching otherwise (a table with no renames reads
    * perfectly by name, physical names ARE the declared names, and
    * Spark's id-matching path has a real per-scan cost, so ids are
    * requested ONLY where load-bearing). Whether a SCAN of this schema
    * additionally needs the session's id-matching conf is
    * [[needsIdRead]] — checked where a scan is actually built
    * ([[readSchemaOf]], the DSv2 newScanBuilder), NEVER on metadata
    * paths (VERDICT r13 #1: ALTER on a renamed table must not
    * commit-then-throw a read-time refusal).
    */
  private[graft] def declaredSchemaOf(m: Manifest)
      : Option[org.apache.spark.sql.types.StructType] =
    tableSchema(m).map { st =>
      if (renamedFromOf(m).isEmpty) FieldIds.stripIds(st)
      else {
        val eligible = m.props.get(IdGenProp).exists { g =>
          FieldIds.hasIds(st) && m.allFiles.forall(genOfPath(_) >= g.toLong)
        }
        if (eligible) st
        else
          throw new IllegalStateException(
            s"this table has renamed columns (${renamedFromOf(m).map { case (o, n) => s"$o->$n" }.mkString(", ")}) " +
              "but some referenced files predate field-id stamping — the " +
              "rename gate should have refused this state; rebuild via " +
              "compactBuckets(maxFilesPerBucket = 0)")
      }
    }

  /** True when scanning `m`'s files requires the SESSION to honour
    * parquet field-id matching: the table has renamed columns, so name
    * matching would silently serve NULL for them from pre-rename
    * files. Conf-independent (safe to cache). */
  private[graft] def needsIdRead(m: Manifest): Boolean =
    renamedFromOf(m).nonEmpty

  private[graft] def refuseWithoutIdRead(dir: String,
                                         renames: Map[String, String]): Nothing =
    throw new IllegalStateException(
      s"the table at $dir has renamed columns (${renames.map { case (o, n) => s"$o->$n" }.mkString(", ")}) " +
        "and must be read with parquet field-id matching — set " +
        "spark.sql.parquet.fieldId.read.enabled=true on the reading " +
        "session (GraftSession leaves it OFF by default: measured, the " +
        "conf taxes every parquet scan ~20%, so only rename users pay — " +
        "flip it on a dedicated/child session as the j_sql_rename head " +
        "does); name matching would silently serve NULL for the renamed " +
        "column from pre-rename files")

  /** [[declaredSchemaOf]] plus the scan-time gate: a renamed table on
    * a session that cannot honour field ids refuses loudly instead of
    * silently serving NULL. Use on every path that builds a FileScan;
    * metadata paths use [[declaredSchemaOf]] directly.
    */
  private[graft] def readSchemaOf(spark: SparkSession, m: Manifest, dir: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    if (needsIdRead(m) && !FieldIds.idReadEnabled(spark))
      refuseWithoutIdRead(dir, renamedFromOf(m))
    declaredSchemaOf(m)
  }

  /** Stamp `df`'s data columns with stable field ids (inheriting
    * `prev`'s ids by canon name; fresh ids above the manifest
    * high-water for new columns) and return the manifest props the
    * commit must carry. One projection — row order, partitioning, and
    * any pre-arranged write shape pass through untouched.
    */
  private def stampForStage(spark: SparkSession, prev: Option[Manifest],
                            gen: Long, df: DataFrame): (DataFrame, Map[String, String]) = {
    // the IdGenProp this returns CLAIMS the staged files carry footer
    // ids; emission is governed by the SESSION write conf (default
    // true — per-write options are clobbered by ParquetUtils
    // .prepareWrite, ADVICE r13), so a session that disabled it must
    // fail here, before the manifest can record a claim the footers
    // won't honour (the rename gate checks only manifest props)
    require(spark.conf.get("spark.sql.parquet.fieldId.write.enabled",
        "true").toBoolean,
      "spark.sql.parquet.fieldId.write.enabled=false on this session: " +
        "staged files would carry no parquet field ids while the manifest " +
        "records them as stamped, silently breaking a later RENAME COLUMN " +
        "— re-enable the conf (Spark's default) to write Upsert tables")
    val prevSchema = prev.flatMap(tableSchema)
    val prevMax = math.max(
      prev.flatMap(_.props.get(MaxColIdProp)).map(_.toLong).getOrElse(0L),
      prevSchema.map(FieldIds.maxId).getOrElse(0L))
    val (stamped, newMax) = FieldIds.stamp(spark, prevSchema, prevMax, df,
      layoutCols = Set(BucketCol, CvCol))
    val since = prev.flatMap(_.props.get(IdGenProp)).map(_.toLong).getOrElse(gen)
    val carried = prev.map(p => renamedFromOf(p)).getOrElse(Map.empty)
    val renameProp =
      if (carried.isEmpty) Map.empty[String, String]
      else Map(RenamedFromProp -> carried.toSeq.sorted
        .map { case (o, n) => s"$o>$n" }.mkString(","))
    (stamped, Map(IdGenProp -> since.toString, MaxColIdProp -> newMax.toString)
      ++ renameProp)
  }

  /** Manifest record of the PK columns a merge bucketed by — the
    * placement contract the DSv2 runtime filter needs to map key
    * values to buckets/files driver-side.
    */
  private[graft] val PkColsProp = "pkCols"

  /** Driver wall-clock (epoch ms) at which the snapshot's manifest was
    * committed — stamped by [[commitManifest]] on every commit. Powers
    * `TIMESTAMP AS OF` and [[history]]; NOT part of commit ordering
    * (generation numbers are).
    */
  private[graft] val CommittedAtProp = "committedAtMs"

  /** The operation that produced the snapshot (merge / compact /
    * rebucket / sql-dml / …) — a history label, nothing reads it for
    * planning.
    */
  private[graft] val OperationProp = "operation"

  /** Manifest record of the merge's version column — what lets a SQL
    * `INSERT INTO` through [[graft.sources.UpsertCatalog]] run the SAME
    * LWW merge the API would.
    */
  private[graft] val VersionColProp = "versionCol"

  private[graft] def tableSchema(m: Manifest): Option[org.apache.spark.sql.types.StructType] =
    // JSON (preserves the field-id metadata) since r13; DDL before
    m.props.get(SchemaProp).map(FieldIds.parse)

  /** Manifest prop: comma-separated [[SchemaEvolution.canon]] names of
    * explicitly dropped columns. The tombstone outlives the drop
    * because files written before it still hold the column's values —
    * re-introducing the name would resurrect them on those files
    * (metadata-only drop never rewrites data).
    */
  private val DroppedProp = "droppedColumns"

  private def droppedSet(m: Manifest): Set[String] =
    m.props.get(DroppedProp)
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  /** Columns the table maintains per-file zone maps for (see
    * [[Zones]]). Declared once (at create or any later merge) and
    * sticky: recorded in the manifest so every subsequent writer
    * maintains the sidecars without repeating the argument.
    */
  private val ZoneColsProp = "zoneCols"

  def zoneColsOf(m: Manifest): Seq[String] =
    m.props.get(ZoneColsProp)
      .map(_.split(",").filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)

  /** Table properties recording the WITHIN-FILE sort of a clustered
    * compaction: `sortedBy` = the cluster columns each staged file is
    * sorted by (ascending, nulls first — `sortWithinPartitions`
    * semantics), `sortedGen` = the generation whose staged files carry
    * that order — comma-separated since round 13: an INCREMENTAL
    * sorted compaction ([[replaceBuckets]]) rewrites only the touched
    * buckets under a new generation while untouched buckets keep their
    * already-sorted files from earlier sorted generations, so several
    * generations contribute sorted files at once. Honesty stays
    * FILE-GRANULAR through the generation set: any write outside this
    * contract (merge, delta, rebucket, a narrower compact) stages its
    * files under a NEW generation that is never added to the list, so
    * the DSv2 scan's ordering report
    * ([[graft.sources.UpsertBucketSource]]) simply refuses whenever a
    * kept file is not from a listed generation — the props never need
    * clearing and can never claim order for a file that lacks it.
    */
  private[graft] val SortedByProp = "sortedBy"
  private[graft] val SortedGenProp = "sortedGen"

  def sortedByOf(m: Manifest): (Seq[String], Seq[Long]) =
    (m.props.get(SortedByProp)
      .map(_.split(",").filter(_.nonEmpty).toSeq).getOrElse(Seq.empty),
      m.props.get(SortedGenProp)
        .map(_.split(",").filter(_.nonEmpty).toSeq.map(_.toLong))
        .getOrElse(Seq.empty))

  /** Table property recording the VALUE-CLUSTER columns (VERDICT r10
    * #2): once set, every write route — merge, SQL DML, compaction,
    * rebucket — stages files single-valued in these columns, so the
    * grouped/contained metadata answers keep applying to the table as
    * it lives, not just at bulk-load time.
    */
  private val ValueClusterProp = "valueClusterBy"

  def valueClusterColsOf(m: Manifest): Seq[String] =
    m.props.get(ValueClusterProp)
      .map(_.split(",").filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)

  /** The files `rels` of table dir `dir` as one relation ([[scanPaths]]). */
  private[graft] def scanFiles(spark: SparkSession, dir: String, rels: Seq[String],
                               schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame =
    scanPaths(spark, dir, rels.map(r => new Path(abs(dir, r))), schema)

  /** Parquet `files` as one relation through
    * [[org.apache.spark.sql.graft.ManifestScan]], rooted at the qualified
    * `root` dir: statused with one listing per parent dir, no discovery
    * job. Without a `schema` (a pre-schema legacy manifest, or staged
    * files) the first file's footer names it, as Spark's own inference
    * does with mergeSchema off.
    */
  private[graft] def scanPaths(spark: SparkSession, root: String, files: Seq[Path],
                               schema: Option[org.apache.spark.sql.types.StructType])
      : DataFrame = {
    // an id-carrying schema here means readSchemaOf decided ids are
    // load-bearing (renamed table, every file stamped); the MATCHING
    // side is the session conf — Spark propagates it into the reader,
    // clobbering per-read options. GraftSession leaves the conf OFF
    // (measured ~20% tax on every scan), so readSchemaOf refuses
    // renamed tables unless the caller flipped it on a dedicated or
    // child session
    val fs = FsOps.fs(spark, new Path(root))
    val statuses = FsOps.statuses(fs, files)
    val s = schema.getOrElse(statuses.headOption
      .map(f => spark.read.parquet(f.getPath.toString).schema)
      .getOrElse(throw new IllegalStateException(
        s"no recorded schema and no file to infer one from under $root")))
    import org.apache.spark.sql.graft.ManifestScan
    ManifestScan.parquetFiles(spark, fs.makeQualified(new Path(root)), s,
      new org.apache.spark.sql.types.StructType(),
      Seq(ManifestScan.Group(org.apache.spark.sql.catalyst.InternalRow.empty, statuses)))
  }

  /** Every file of snapshot `m` under its [[readSchemaOf]] schema —
    * the recorded one, so files that predate a widening surface typed
    * NULLs, with field ids only where every file carries them.
    */
  private[graft] def readManifest(spark: SparkSession, dir: String, m: Manifest): DataFrame =
    scanFiles(spark, dir, m.allFiles, readSchemaOf(spark, m, dir))

  /** Read the table's logical content as of the current manifest. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readManifest(spark, dir, currentManifest(spark, dir).getOrElse(
      throw new NoTableException(s"no committed manifest under $dir")))

  /** Read as of generation `gen` (time travel across retained gens).
    * The snapshot's own schema applies — a column added later does not
    * appear in an earlier generation's shape.
    */
  def readAt(spark: SparkSession, dir: String, gen: Long): DataFrame = {
    val m = manifestAt(spark, dir, gen).getOrElse(
      throw new IllegalStateException(s"no manifest for gen=$gen under $dir (vacuumed or never committed)"))
    // the generation's OWN schema (names as declared back then) with
    // field ids: files staged after a later rename still resolve
    readManifest(spark, dir, m)
  }

  def readIfExists(spark: SparkSession, dir: String): Option[DataFrame] =
    currentManifest(spark, dir).map(readManifest(spark, dir, _))

  /** Driver-side layout snapshot for the DSv2 bucketed reader
    * ([[graft.sources.UpsertBucketSource]]). One manifest resolution +
    * one file-status per live file — metadata only, no Spark job.
    */
  case class BucketLayout(gen: Long,
                          schema: org.apache.spark.sql.types.StructType,
                          numBuckets: Int, pk: Seq[String],
                          versionCol: Option[String],
                          zoneCols: Seq[String],
                          files: Map[Int, Seq[(String, Long)]],
                          rowCounts: Map[String, Long] = Map.empty,
                          sortedBy: Seq[String] = Seq.empty,
                          sortedGens: Seq[Long] = Seq.empty,
                          // conf-INDEPENDENT (ADVICE r13: the cache
                          // must not embed a per-session decision):
                          // scans of this layout require the session's
                          // id-matching conf — re-checked where a scan
                          // is built, never on metadata paths
                          needsIdRead: Boolean = false,
                          renamedFrom: Map[String, String] = Map.empty)

  // a committed generation's file set is immutable, so the layout is
  // cached on its manifest's identity — without it every DataFrame read
  // loads the layout twice (TableProvider.inferSchema then getTable), and
  // a SQL query through the catalog a third time. The key names the
  // manifest under `dir` as the caller spells it: the layout's file
  // paths are built from that spelling.
  private[graft] def bucketLayout(spark: SparkSession, dir: String,
                                  gen: Option[Long] = None): BucketLayout = {
    def missing = gen match {
      case Some(g) => new IllegalStateException(s"no manifest for gen=$g under $dir")
      case None => new NoTableException(s"no committed manifest under $dir")
    }
    val (g, st) = manifestStatus(spark, dir, gen).getOrElse(throw missing)
    FileMeta(FileMeta.Layout, new Path(dir, st.getPath.getName).toString,
        FileMeta.Id.of(Seq(st))) {
      val m = parseMemo(spark, dir, st, g).getOrElse(throw missing)
      // declared (session-free) schema: the layout is CACHED across
      // sessions and serves metadata surfaces too — the id-read gate
      // fires where a scan is built (UpsertBucketTable.newScanBuilder)
      val schema = declaredSchemaOf(m)
        .getOrElse(scanFiles(spark, dir, m.allFiles).schema)
      val lenByRel = m.allFiles.zip(FsOps.statuses(FsOps.fs(spark, new Path(dir)),
        m.allFiles.map(rel => new Path(abs(dir, rel)))).map(_.getLen)).toMap
      val files = m.files.collect { case (b, rels) if b != SchemaBucket =>
        b -> rels.map(rel => (new Path(abs(dir, rel)).toString, lenByRel(rel)))
      }
      val (sortedBy, sortedGens) = sortedByOf(m)
      BucketLayout(m.gen, schema, m.numBuckets(DefaultNumBuckets),
        m.props.get(PkColsProp).map(_.split(",").toSeq).getOrElse(Nil),
        m.props.get(VersionColProp),
        zoneColsOf(m), files,
        m.rowCounts.map { case (rel, n) =>
          new Path(abs(dir, rel)).toString -> n
        }, sortedBy, sortedGens,
        needsIdRead = needsIdRead(m), renamedFrom = renamedFromOf(m))
    }
  }

  /** Zone-sidecar file pruning for the DSv2 reader: the absolute paths
    * of generation `gen`'s files whose zones overlap EVERY bound
    * (files without stats always survive — exactness contract shared
    * with [[readRanges]]). Driver-side sidecar reads only. None when
    * the bounds list is empty or the manifest is gone.
    */
  private[graft] def zoneCandidateFiles(spark: SparkSession, dir: String, gen: Long,
      bounds: Seq[(String, Option[Any], Option[Any])]): Option[Set[String]] = {
    if (bounds.isEmpty) return None
    val m = manifestAt(spark, dir, gen).getOrElse(return None)
    val schema = tableSchema(m).getOrElse(return None)
    val typed =
      try resolveBounds(schema, bounds)
      catch { case _: IllegalArgumentException => return None }
    val (keep, _) = rangeCandidatesIn(spark, dir, m, typed)
    Some(keep.map(rel => new Path(abs(dir, rel)).toString).toSet)
  }

  /** Runtime-filter support for the DSv2 reader: absolute paths of the
    * generation's files that might contain any of `keys` (canonical
    * PK strings — single-column values, or [[KeySep]]-joined composite
    * values in recorded pk order, exactly as [[keyStr]] places them),
    * keyed by bucket — buckets absent from the map hold none of the
    * keys. Driver-side: the bucket hash mirror plus Bloom sidecar
    * probes, against the SAME generation the scan planned (never the
    * current manifest — a concurrent merge must not tear a running
    * query's snapshot). None when the table records no PK (no pruning
    * possible).
    */
  private[graft] def keyCandidateFiles(spark: SparkSession, dir: String,
                                       gen: Long, keys: Seq[String])
      : Option[Map[Int, Set[String]]] = {
    val m = manifestAt(spark, dir, gen).getOrElse(return None)
    if (!m.props.get(PkColsProp).exists(_.nonEmpty))
      return None
    val n = m.numBuckets(DefaultNumBuckets)
    Some(keys.groupBy(bucketOfKey(_, n)).map { case (b, ks) =>
      val rels = bloomCandidatesIn(spark, dir, m, b, ks) match {
        case Some((cand, _)) => cand
        case None => m.files.getOrElse(b, Seq.empty)
      }
      b -> rels.map(rel => new Path(abs(dir, rel)).toString).toSet
    })
  }

  /** Read rows with `colName` in the closed range `[lo, hi]` (None =
    * unbounded), pruning the manifest's FILE LIST by [[Zones]] sidecars
    * before any task launches — at 100 TB the driver drops most of a
    * time-clustered table here, where footer-based skipping would still
    * open every file. Exact, never a superset: surviving files are
    * still filtered by the real predicate (zones only prune, parquet
    * row-group stats skip inside the kept files). Files without stats
    * (older generations, unsupported types) are always read.
    */
  def readRange(spark: SparkSession, dir: String, colName: String,
                lo: Option[Any], hi: Option[Any]): DataFrame =
    readRanges(spark, dir, Seq((colName, lo, hi)))

  /** Multi-column [[readRange]] — the rectangle read a Z-ordered
    * snapshot ([[Zorder]]) exists to serve: a file survives only if its
    * zones overlap EVERY bound, so on an interleaved layout each extra
    * dimension multiplies the prune instead of being ignored (linear
    * clustering prunes on the leading column alone). One sidecar pass
    * per bucket dir covers all columns. Exactness contract unchanged:
    * every bound is re-applied as a real filter over the kept files.
    */
  def readRanges(spark: SparkSession, dir: String,
                 bounds: Seq[(String, Option[Any], Option[Any])]): DataFrame = {
    val m = currentManifest(spark, dir).getOrElse(
      throw new NoTableException(s"no committed manifest under $dir"))
    val schemaOpt = tableSchema(m)
    val schema = schemaOpt.getOrElse(scanFiles(spark, dir, m.allFiles).schema)
    val typed = resolveBounds(schema, bounds)
    val (keep, _) = rangeCandidatesIn(spark, dir, m, typed)
    val base =
      if (keep.nonEmpty) scanFiles(spark, dir, keep, schemaOpt)
      else scanFiles(spark, dir, m.allFiles, schemaOpt).filter(lit(false))
    bounds.flatMap { case (c0, lo, hi) =>
      val c = col(c0)
      lo.map(v => c >= lit(v)) ++ hi.map(v => c <= lit(v))
    }.reduceOption(_ && _).fold(base)(base.filter)
  }

  /** (files kept, files pruned) for a [[readRange]] with these bounds —
    * driver-side metadata only (sidecar reads, no Spark job); the
    * number an operator checks to see whether clustering is paying off
    * before choosing to re-cluster via [[compactBuckets]].
    */
  def rangePruneStats(spark: SparkSession, dir: String, colName: String,
                      lo: Option[Any], hi: Option[Any]): (Int, Int) =
    rangePruneStatsMulti(spark, dir, Seq((colName, lo, hi)))

  /** [[rangePruneStats]] for a [[readRanges]] rectangle. */
  def rangePruneStatsMulti(spark: SparkSession, dir: String,
                           bounds: Seq[(String, Option[Any], Option[Any])]): (Int, Int) = {
    val m = currentManifest(spark, dir).getOrElse(
      throw new NoTableException(s"no committed manifest under $dir"))
    val schema = tableSchema(m).getOrElse(scanFiles(spark, dir, m.allFiles).schema)
    val (keep, pruned) = rangeCandidatesIn(spark, dir, m, resolveBounds(schema, bounds))
    (keep.size, pruned)
  }

  private def resolveBounds(schema: org.apache.spark.sql.types.StructType,
                            bounds: Seq[(String, Option[Any], Option[Any])])
      : Seq[(String, org.apache.spark.sql.types.DataType, Option[Any], Option[Any])] =
    bounds.map { case (c, lo, hi) =>
      val field = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"readRange column `$c` not in table schema ${schema.toDDL}"))
      (c, field.dataType, lo, hi)
    }

  private[io] def rangeCandidatesIn(spark: SparkSession, dir: String, m: Manifest,
      bounds: Seq[(String, org.apache.spark.sql.types.DataType, Option[Any], Option[Any])])
      : (Seq[String], Int) = {
    // a column prunes only when its type has zone support and at least
    // one side is bounded; per-file, a missing stat for a column means
    // "must read" for that column (statless old generations stay exact)
    val active = bounds.collect {
      case (c, dt, lo, hi) if Zones.supported(dt) && (lo.nonEmpty || hi.nonEmpty) =>
        (c, lo.map(Zones.toZ(dt, _)), hi.map(Zones.toZ(dt, _)))
    }
    if (active.isEmpty) return (m.allFiles, 0)
    val fs = FsOps.fs(spark, new Path(dir))
    val byDir = m.allFiles.groupBy(rel => rel.split('/').init.mkString("/"))
    var pruned = 0
    val keep = byDir.toSeq.sortBy(_._1).flatMap { case (bd, rels) =>
      val sidecar = Zones.read(fs, new Path(abs(dir, bd)))
      rels.filter { rel =>
        val name = rel.substring(rel.lastIndexOf('/') + 1)
        val stats = sidecar.flatMap(_.get(name))
        val k = active.forall { case (colName, loZ, hiZ) =>
          stats.flatMap(_.get(colName)) match {
            case Some(z) => Zones.overlaps(z, loZ, hiZ)
            case None    => true // no stats: must read
          }
        }
        if (!k) pruned += 1
        k
      }
    }
    (keep, pruned)
  }

  /** Driver-side table-health snapshot — metadata only, ZERO Spark
    * jobs: the numbers an operator reads before deciding to compact,
    * vacuum, or re-bloom. `reclaimable*` counts data files on disk the
    * CURRENT manifest does not reference — superseded MVCC history
    * plus crash orphans, i.e. exactly what `vacuum(keepManifests=1)`
    * would free; `bloomBuckets` counts live buckets carrying a Bloom
    * sidecar.
    */
  case class TableStats(gen: Long, snapshotsRetained: Int, numBuckets: Int,
                        liveFiles: Long, liveBytes: Long,
                        reclaimableFiles: Long, reclaimableBytes: Long,
                        bloomBuckets: Int, zoneBuckets: Int = 0,
                        liveRows: Option[Long] = None)

  def stats(spark: SparkSession, dir: String,
            defaultBuckets: Int = DefaultNumBuckets): Option[TableStats] =
    currentManifest(spark, dir).map { m =>
      val root = new Path(dir)
      val fs = FsOps.fs(spark, root)
      val live = m.allFiles.toSet
      // exact table cardinality from the SAME manifest every other
      // field reports — only when every data file carries a count
      val dataFiles = m.files.iterator
        .collect { case (b, rels) if b != SchemaBucket => rels }.flatten.toSeq
      val liveRows =
        if (dataFiles.nonEmpty && dataFiles.forall(m.rowCounts.contains))
          Some(dataFiles.map(m.rowCounts).sum)
        else None
      val liveBytes = FsOps.statuses(fs, live.toSeq.map(rel => new Path(abs(dir, rel))))
        .map(_.getLen).sum
      val liveBucketDirs = m.allFiles
        .map(rel => rel.split('/').init.mkString("/")).distinct
      val bloomBuckets = liveBucketDirs.count(bd =>
        fs.exists(new Path(abs(dir, s"$bd/${Blooms.SidecarName}"))))
      val zoneBuckets = liveBucketDirs.count(bd =>
        fs.exists(new Path(abs(dir, s"$bd/${Zones.SidecarName}"))))
      var reclaimableFiles = 0L
      var reclaimableBytes = 0L
      fs.listStatus(root).foreach { g =>
        g.getPath.getName match {
          case GenDirRe(_) =>
            fs.listStatus(g.getPath).filter(_.isDirectory).foreach { bDir =>
              def count(d: Path, relPrefix: String): Unit =
                fs.listStatus(d).foreach { f =>
                  val name = f.getPath.getName
                  if (f.isDirectory && name.startsWith(s"$CvCol="))
                    count(f.getPath, s"$relPrefix/$name")
                  else if (!name.startsWith("_") && !name.startsWith(".") &&
                      !live.contains(s"$relPrefix/$name")) {
                    reclaimableFiles += 1
                    reclaimableBytes += f.getLen
                  }
                }
              count(bDir.getPath, s"${g.getPath.getName}/${bDir.getPath.getName}")
            }
          case _ =>
        }
      }
      TableStats(m.gen, manifestGens(spark, dir).size,
        m.numBuckets(defaultBuckets), m.allFiles.size.toLong, liveBytes,
        reclaimableFiles, reclaimableBytes, bloomBuckets, zoneBuckets,
        liveRows)
    }

  // ---- key hashing ------------------------------------------------------

  /** Separator of the canonical multi-column PK string (\\u0001, so
    * composite keys can't collide by concatenation). Mirrored by the
    * DSv2 scan's runtime filter when it rebuilds placement keys from
    * per-column value sets.
    */
  private[graft] val KeySep = ""

  /** The canonical PK string every placement/bloom hash is keyed on
    * ([[KeySep]]-joined so multi-column keys can't collide by
    * concatenation).
    */
  private[io] def keyStr(pk: Seq[String]) =
    concat_ws(KeySep, pk.map(c => col(c).cast("string")): _*)

  private def withBucket(df: DataFrame, pk: Seq[String], numBuckets: Int): DataFrame =
    df.withColumn(BucketCol, pmod(xxhash64(keyStr(pk)), lit(numBuckets)).cast("int"))

  /** Driver-side mirror of the placement hash — the same XXH64(seed 42)
    * Spark's `xxhash64` computes (bit-exactness proven for the Bloom
    * mirror in UpsertSpec; same primitive). Lets [[lookup]] map keys to
    * buckets without running a job.
    */
  def bucketOfKey(key: String, numBuckets: Int): Int = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(key)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
    (((h % numBuckets) + numBuckets) % numBuckets).toInt
  }

  // ---- point lookup -----------------------------------------------------

  /** Point lookup by PK values: the read-path payoff of the bucketed
    * layout. Keys hash to buckets driver-side (no job), the manifest
    * narrows to those buckets' files, Bloom sidecars narrow further to
    * the files that MIGHT hold a key — a dim Get reads O(candidate
    * files), the HBase-Get shape (DimHBaseSinkFunction reads) without
    * a serving store. The scan is an explicit file list, so "pruning"
    * is literal: unrelated files never appear in the plan at all.
    */
  def lookup(spark: SparkSession, dir: String, pkCol: String,
             values: Seq[String],
             numBuckets: Int = DefaultNumBuckets): DataFrame = {
    val m = currentManifest(spark, dir).getOrElse(
      throw new NoTableException(s"no committed manifest under $dir"))
    lookupIn(spark, dir, m, pkCol, values, numBuckets)
  }

  /** [[lookup]] against a PRE-RESOLVED manifest: callers that already
    * hold a snapshot (e.g. [[MergeOnRead.lookup]], which pairs the base
    * with the delta list that manifest's watermark defines) pass it in,
    * making "one snapshot for the whole operation" structural instead
    * of a comment (ADVICE r4).
    */
  def lookupIn(spark: SparkSession, dir: String, m: Manifest, pkCol: String,
               values: Seq[String],
               numBuckets: Int = DefaultNumBuckets): DataFrame =
    lookupFiles(spark, dir, m, values, numBuckets,
      df => keyEqFilter(df.schema, pkCol, values))

  /** [[lookupIn]] for an ARBITRARY pk arity, on the canonical key axis
    * (`values` are [[keyStr]]-form strings — for a single-column pk,
    * the value itself). The bucket/Bloom NARROWING is exact for any
    * arity (placement and sidecars hash the canonical), but the
    * residual compares on the canonical-string axis, so a composite
    * key whose components happen to concatenate to another key's
    * canonical (separator appearing in data) may return that key's
    * rows too: callers must tolerate extra WHOLE keys. The change-feed
    * consumer does by construction — an untouched key's PRE row is
    * also its POST row, so it emits an equal retract/add pair that
    * cancels in the signed fold.
    */
  private[graft] def lookupInKeys(spark: SparkSession, dir: String, m: Manifest,
                                  pk: Seq[String], values: Seq[String],
                                  numBuckets: Int = DefaultNumBuckets): DataFrame =
    if (pk.length == 1) lookupIn(spark, dir, m, pk.head, values, numBuckets)
    else lookupFiles(spark, dir, m, values, numBuckets,
      _ => keyStr(pk).isin(values: _*))

  private def lookupFiles(spark: SparkSession, dir: String, m: Manifest,
                          values: Seq[String], numBuckets: Int,
                          residual: DataFrame => Column): DataFrame = {
    val n = m.numBuckets(numBuckets)
    val buckets = values.map(bucketOfKey(_, n)).distinct
    // every bucket resolves against the SAME manifest `m` — one
    // snapshot for the whole lookup, even if a merge commits mid-call
    val files: Seq[String] = buckets.flatMap { b =>
      bloomCandidatesIn(spark, dir, m, b, values) match {
        case Some((cand, _)) => cand // bloom-narrowed
        case None => m.files.getOrElse(b, Seq.empty) // whole bucket
      }
    }
    if (files.isEmpty) // provably no file can hold any key
      readManifest(spark, dir, m).filter(lit(false))
    else {
      val df = scanFiles(spark, dir, files, readSchemaOf(spark, m, dir))
      df.filter(residual(df))
    }
  }

  /** The residual equality filter of a point lookup, EXACT for every
    * column type. `values` are canonical pk STRINGS (the form
    * [[keyStr]] hashes); a bare `col.isin(strings)` on an int64
    * column coerces BOTH sides to DOUBLE — keys past 2^53 silently
    * false-match or miss. Integral columns compare on driver-parsed
    * longs (exact, and the IN still pushes to parquet); anything else
    * non-string compares on the canonical-string axis itself (the
    * cast costs the parquet IN pushdown, which a bloom-narrowed point
    * read can afford — exactness first).
    */
  private[io] def keyEqFilter(schema: org.apache.spark.sql.types.StructType,
                              pkCol: String, values: Seq[String]): Column = {
    import org.apache.spark.sql.types._
    schema.fields.find(_.name == pkCol).map(_.dataType) match {
      case Some(StringType) => col(pkCol).isin(values: _*)
      case Some(ByteType | ShortType | IntegerType | LongType) =>
        val vs = values.flatMap(v => scala.util.Try(v.trim.toLong).toOption)
        // a non-numeric canonical string can match no integral row
        if (vs.isEmpty) lit(false) else col(pkCol).isin(vs: _*)
      case _ => col(pkCol).cast("string").isin(values: _*)
    }
  }

  // ---- blooms -----------------------------------------------------------

  /** Bloom-pruned file split for one bucket: (candidate, preserved)
    * file paths relative to the table root — candidates MIGHT contain
    * one of `keys` and must be read/rewritten by a merge; preserved
    * files provably contain none and are carried into the next
    * manifest by reference. None when any of the bucket's files lacks
    * a sidecar entry source (fall back to whole-bucket). `keys` are
    * canonical PK strings (single-column PK: the value itself).
    */
  def bloomCandidates(spark: SparkSession, dir: String, bucket: Int,
                      keys: Seq[String]): Option[(Seq[String], Seq[String])] = {
    val m = currentManifest(spark, dir).getOrElse(return Some((Seq.empty, Seq.empty)))
    bloomCandidatesIn(spark, dir, m, bucket, keys)
  }

  private def bloomCandidatesIn(spark: SparkSession, dir: String, m: Manifest,
                                bucket: Int, keys: Seq[String])
      : Option[(Seq[String], Seq[String])] = {
    val rels = m.files.getOrElse(bucket, Seq.empty)
    if (rels.isEmpty) return Some((Seq.empty, Seq.empty))
    val byParent = rels.groupBy(r => r.substring(0, r.lastIndexOf('/')))
    val fs = FsOps.fs(spark, new Path(dir))
    val split = byParent.toSeq.map { case (parent, fsOfDir) =>
      Blooms.read(fs, new Path(abs(dir, parent))).map { entries =>
        // a file absent from its dir's sidecar is conservatively a candidate
        fsOfDir.partition { rel =>
          val name = rel.substring(rel.lastIndexOf('/') + 1)
          entries.get(name).forall(w => keys.exists(k => Blooms.mightContain(w, k)))
        }
      }
    }
    if (split.exists(_.isEmpty)) None
    else Some((split.flatten.flatMap(_._1), split.flatten.flatMap(_._2)))
  }

  /** Per-file Blooms for every bucket under a staged generation dir,
    * built with a no-UDF distributed aggregation: each row contributes
    * its K bit positions (the codegen'd pmod(xxhash64(key, i), Bits) —
    * the exact expression [[Blooms.positions]] mirrors), positions fold
    * to words via bit_or, and only files × Words rows reach the driver.
    */
  /** The parent-dir path of a staged file URI, relative to its
    * generation dir: `__bucket=B`, or `__bucket=B/__cv=H` for
    * value-clustered layouts. The sidecar keying unit (see
    * [[Zones.build]]).
    */
  private[io] def parentSuffixOf(fileUri: String): String = {
    val start = fileUri.indexOf(s"$BucketCol=")
    require(start >= 0, s"staged file outside a bucket dir: $fileUri")
    fileUri.substring(start, fileUri.lastIndexOf('/'))
  }

  private[io] def buildBlooms(spark: SparkSession, stagedDir: String,
                              pk: Seq[String]): Map[String, Map[String, Array[Long]]] = {
    val posCols = (0 until Blooms.K).map(i =>
      pmod(xxhash64(keyStr(pk), lit(i)), lit(Blooms.Bits)))
    val rows = spark.read.parquet(stagedDir)
      .select(input_file_name().as("f"), explode(array(posCols: _*)).as("p"))
      .select(col("f"), (col("p") / 64).cast("int").as("wi"),
        expr("shiftleft(1L, cast(p % 64 as int))").as("bits"))
      .groupBy(col("f"), col("wi"))
      .agg(expr("bit_or(bits)").as("w"))
      .collect()
    rows.groupBy(r => parentSuffixOf(r.getString(0))).map { case (d, rs) =>
      d -> rs.groupBy(r => r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1))
        .map { case (name, frs) =>
          val words = new Array[Long](Blooms.Words)
          frs.foreach(r => words(r.getInt(1)) = r.getLong(2))
          name -> words
        }
    }
  }

  // ---- staging ----------------------------------------------------------

  /** Stage `merged` (carrying `__bucket`) under `dir/__gen=<gen>` and
    * return bucket → staged file paths (relative to `dir`). Staged data
    * is invisible until a manifest references it. When `bloomPk` is
    * set, each staged bucket dir gets its Bloom sidecar before commit.
    */
  /** Stage `merged` (carrying `__bucket`) and return bucket → staged
    * rel paths. With `valueClusterCols` (VERDICT r10 #2), the write
    * adds a second physical partition level `__cv=<xxhash64 of the
    * cluster values>` so every staged FILE is single-valued in the
    * cluster columns BY CONSTRUCTION — the property that lets GROUP BY
    * and contained-filter answers fold from metadata on production
    * tables. The hash is layout-only (dir name, never stored); a hash
    * collision merely puts two cluster values in one file — the zone
    * sidecars still record min≠max there and the grouped pushdown
    * refuses that file, so correctness never depends on the routing.
    * Sidecars (blooms/zones) are written per LEAF dir — the unit the
    * readers resolve from a file's parent — and the zone stats always
    * cover the cluster columns (the verification channel).
    */
  private def stageGeneration(spark: SparkSession, dir: String, gen: Long,
                              merged: DataFrame,
                              bloomPk: Option[Seq[String]],
                              zoneCols: Seq[String] = Nil,
                              valueClusterCols: Seq[String] = Nil,
                              regroup: Boolean = false): Map[Int, Seq[String]] = {
    val stage = new Path(dir, s"__gen=$gen")
    val fs = FsOps.fs(spark, stage)
    if (fs.exists(stage)) fs.delete(stage, true) // re-run of a crashed attempt
    val clustered = valueClusterCols.nonEmpty
    // regroup (r16, guide §6 output sizing): the resolve-merge callers
    // hand a stream partitioned by the LWW window's pk hash, so a
    // direct partitionBy(__bucket) write fans every bucket into up-to-
    // shuffle-partition-many tiny files — and every later read pays a
    // task per file forever (the r12 IVF lesson; j_sql_merge_dml's
    // table read 64 files for 2.5 MiB). One un-numbered repartition on
    // the bucket column lands each bucket in exactly one task (AQE may
    // coalesce the count; a bucket never splits), so each bucket — or
    // each (bucket, __cv) leaf — stages as ONE file. A bucket is the
    // executor-scan-budget unit by design, so one file per bucket is
    // right-sized at any scale. Sorted writers (replaceBuckets'
    // OrderedGuard contract, compact's sortBase arrangement) pass
    // regroup=false: a re-shuffle would destroy their row order.
    val regrouped = if (regroup) merged.repartition(col(BucketCol)) else merged
    val toWrite =
      if (!clustered) regrouped
      else regrouped.withColumn(CvCol, xxhash64(valueClusterCols.map(col): _*))
    val partCols = if (clustered) Seq(BucketCol, CvCol) else Seq(BucketCol)
    // field-id EMISSION rides the schema metadata + the session's
    // write conf (Spark default true; ParquetUtils.prepareWrite
    // overwrites any per-write option from the session conf — ADVICE
    // r13: the option form was dead). stampForStage asserts the conf
    // before any IdGenProp commit, so a disabled-writer session fails
    // loudly at stage time instead of staging id-less files the
    // manifest claims are stamped.
    toWrite.write.mode("overwrite").partitionBy(partCols: _*)
      .parquet(stage.toString)
    def leafFiles(p: Path): Seq[String] =
      fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(n => !n.startsWith("_") && !n.startsWith("."))
    val bucketDirs = fs.listStatus(stage)
      .filter(_.getPath.getName.startsWith(s"$BucketCol="))
    val staged: Map[Int, Seq[String]] = bucketDirs.map { st =>
      val b = st.getPath.getName.stripPrefix(s"$BucketCol=").toInt
      val files =
        if (!clustered) leafFiles(st.getPath).map(n => s"__gen=$gen/$BucketCol=$b/$n")
        else fs.listStatus(st.getPath).toSeq
          .filter(d => d.isDirectory && d.getPath.getName.startsWith(s"$CvCol="))
          .flatMap(cd => leafFiles(cd.getPath)
            .map(n => s"__gen=$gen/$BucketCol=$b/${cd.getPath.getName}/$n"))
      b -> files
    }.toMap
    // every leaf dir holding staged data, as a path under the gen dir
    lazy val leafDirs: Seq[String] = staged.valuesIterator.flatten.toSeq
      .map(rel => rel.substring(rel.indexOf('/') + 1, rel.lastIndexOf('/')))
      .distinct
    bloomPk.foreach { pk =>
      if (staged.nonEmpty) {
        val blooms = buildBlooms(spark, stage.toString, pk)
        leafDirs.foreach { d =>
          Blooms.write(fs, new Path(stage, d), blooms.getOrElse(d, Map.empty))
        }
      }
    }
    val schema = merged.drop(BucketCol).schema
    val statCols = (zoneCols ++ valueClusterCols).distinct
    val stats = statCols.flatMap(c =>
      schema.fields.find(_.name == c).map(f => c -> f.dataType))
    if (stats.nonEmpty && staged.nonEmpty) {
      val zones = Zones.build(spark, stage.toString, stats)
      leafDirs.foreach { d =>
        Zones.write(fs, new Path(stage, d), zones.getOrElse(d, Map.empty))
      }
    }
    staged
  }

  /** Stage a zero-row schema-carrying file so an emptied-out table
    * stays readable; referenced under the [[SchemaBucket]] key.
    */
  private def stageSchemaAnchor(spark: SparkSession, dir: String, gen: Long,
                                schemaOf: DataFrame): Seq[String] = {
    val anchorDir = new Path(dir, s"__gen=$gen/$BucketCol=$SchemaBucket")
    schemaOf.limit(0).coalesce(1)
      .write.mode("overwrite").parquet(anchorDir.toString)
    val fs = FsOps.fs(spark, anchorDir)
    fs.listStatus(anchorDir).toSeq.map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
      .map(n => s"__gen=$gen/$BucketCol=$SchemaBucket/$n")
  }

  /** Full-replace commit used by [[MergeOnRead.compact]]: stage `df`
    * (must carry `__bucket`) as a complete new snapshot whose manifest
    * carries `props` — data files and metadata (e.g. the compaction
    * watermark) become visible in the same rename.
    */
  private[io] def replaceAll(spark: SparkSession, dir: String, df0: DataFrame,
                             props: Map[String, String],
                             bloomPk: Option[Seq[String]],
                             sortBy: Seq[String] = Nil): Unit = {
    val gen = nextGen(spark, dir)
    // field-id continuity across full rewrites: columns inherit the
    // previous manifest's ids, so a rename committed before this
    // replace keeps resolving over the files it writes
    val (df, idProps) = stampForStage(spark, currentManifest(spark, dir), gen, df0)
    // sortBy: stage each bucket's file SORTED by these columns (one
    // repartition task per bucket value → one file per bucket, rows in
    // (bucket, sortBy) order flowing unchanged through the partitionBy
    // write) and record the (columns, generation) pair — the DSv2
    // scan's ordering report (SortedByProp) lets a later sort-merge
    // consumer skip its sort over exactly these files. Callers must
    // supply numBuckets in props for the task fan-out.
    val arranged =
      if (sortBy.isEmpty) df
      else df.repartition(props("numBuckets").toInt, col(BucketCol))
        .sortWithinPartitions((BucketCol +: sortBy).map(col): _*)
    // unsorted full replace: regroup so each bucket stages as one file
    // (the sorted branch above already arranges one task per bucket)
    val staged = stageGeneration(spark, dir, gen, arranged, bloomPk,
      regroup = sortBy.isEmpty)
    val sortProps =
      if (sortBy.isEmpty) Map.empty[String, String]
      else Map(SortedByProp -> sortBy.mkString(","),
        SortedGenProp -> gen.toString)
    val files =
      if (staged.valuesIterator.flatten.nonEmpty) staged
      else Map(SchemaBucket -> stageSchemaAnchor(spark, dir, gen, df.drop(BucketCol)))
    // full replace: every segment changes, so no prev to reuse from.
    // idGen resets to THIS generation: every referenced file is new.
    commitManifest(spark, dir, Manifest(gen,
      props ++ sortProps ++ idProps + (IdGenProp -> gen.toString) +
        (SchemaProp -> FieldIds.serialize(df.drop(BucketCol).schema)), files),
      op = "replace")
  }

  /** PARTIAL-replace commit used by [[MergeOnRead.compact]]'s
    * incremental sorted pass (VERDICT r12 #1): stage `df` (must carry
    * `__bucket`, holding the complete new content of exactly the
    * `touched` buckets, ALREADY arranged (bucket, sortBy)-sorted within
    * partitions — the caller's merge plan produced that order without a
    * table-wide shuffle) and commit a manifest that references the new
    * files for touched buckets and the PREVIOUS manifest's files
    * verbatim for every other bucket. The write cost tracks the touched
    * buckets, not the table.
    *
    * The staged input flows through [[graft.plans.OrderedGuard]]: the
    * claimed (bucket, sortBy) order is VERIFIED row-by-row while
    * streaming into the writer (so the recorded ordering report can
    * never lie about file content), and — because the guard's exec
    * node reports that order — `RemoveRedundantSorts` elides the
    * partitioned write's own sort. A false claim (the upstream plan
    * didn't come out merge-ordered) aborts with
    * [[graft.plans.OrderedGuardViolation]] BEFORE any manifest commit;
    * the caller falls back to the full re-sort path.
    *
    * `SortedGenProp` becomes the SET of generations still contributing
    * sorted files (previous sorted gens that still own untouched
    * buckets + this one), pruned to those actually referenced.
    */
  private[io] def replaceBuckets(spark: SparkSession, dir: String, df0: DataFrame,
                                 touched: Set[Int],
                                 props: Map[String, String],
                                 bloomPk: Option[Seq[String]],
                                 sortBy: Seq[String]): Unit = {
    val prev = currentManifest(spark, dir).getOrElse(
      throw new NoTableException(
        s"replaceBuckets on $dir needs an existing manifest — use replaceAll"))
    require(sortBy.nonEmpty, "replaceBuckets is the sorted-incremental path")
    val (prevSortBy, prevGens) = sortedByOf(prev)
    require(prevSortBy == sortBy && prevGens.nonEmpty,
      s"replaceBuckets on $dir: previous base is not sorted by " +
        s"${sortBy.mkString(",")} — run a full sorted compact first")
    val gen = nextGen(spark, dir)
    // field-id stamping first (one order-preserving projection), the
    // ordering guard directly above it
    val (df, idProps) = stampForStage(spark, Some(prev), gen, df0)
    val guarded = graft.plans.OrderedGuard.assertSorted(df, BucketCol +: sortBy)
    val staged = stageGeneration(spark, dir, gen, guarded, bloomPk)
    var files: Map[Int, Seq[String]] = prev.files ++
      touched.map(b => b -> staged.getOrElse(b, Seq.empty)).toMap
    files = files.filter(_._2.nonEmpty)
    if (files.exists { case (b, _) => b != SchemaBucket }) files -= SchemaBucket
    if (files.isEmpty)
      files = Map(SchemaBucket -> stageSchemaAnchor(spark, dir, gen, df.drop(BucketCol)))
    // sorted-generation set: prior gens that still own at least one
    // referenced file + this one — self-pruning, so the list is bounded
    // by the distinct generations actually on disk (≤ live buckets)
    val genOf = """__gen=(\d+)/""".r
    val referencedGens: Set[Long] = files.valuesIterator.flatten
      .flatMap(rel => genOf.findFirstMatchIn(rel).map(_.group(1).toLong)).toSet
    val keptGens = (prevGens.filter(referencedGens.contains) :+ gen).distinct.sorted
    commitManifest(spark, dir, Manifest(gen,
      props ++ idProps + (SortedByProp -> sortBy.mkString(","))
        + (SortedGenProp -> keptGens.mkString(","))
        + (SchemaProp -> FieldIds.serialize(df.drop(BucketCol).schema)),
      files), Some(prev), op = "replace-buckets")
  }

  // ---- merge ------------------------------------------------------------

  /** Merge `updates` into the bucketed parquet table at `dir`.
    *  - rows with type='delete' remove their key;
    *  - otherwise newest `versionCol` per `pk` wins (ties: updates win).
    * Only the buckets present in `updates` are read and rewritten; the
    * new manifest re-references every other bucket's files verbatim.
    *
    * With `changeLog=true` each merge also appends a retract-encoded
    * change batch under `<dir>_changes/batch=K/` (see [[ChangeFeed]]):
    * the PRE-image of every key the batch touched as `__change=retract`
    * rows and the surviving POST-image as `__change=add` rows — the
    * parquet equivalent of the reference's upsert-kafka retract stream
    * (SQLUtil.getUpsertKafkaSQL:46-54), which is what lets DWS
    * aggregates refresh incrementally instead of re-reading the table.
    * The feed commits BEFORE the manifest flip and dedupes on
    * `commitId`, so a crash between the two (or a replayed
    * foreachBatch) converges instead of double-applying.
    *
    * `extraProps` ride into the committed manifest's props in the SAME
    * rename as the content — the hook callers use to make a watermark
    * (streaming epoch, applied batch id) atomic with the data it
    * describes.
    */
  def merge(spark: SparkSession, dir: String, updates: DataFrame,
            pk: Seq[String], versionCol: String,
            deleteFlagCol: Option[String] = None,
            numBuckets: Int = DefaultNumBuckets,
            changeLog: Boolean = false,
            commitId: Option[String] = None,
            bloom: Boolean = false,
            maxPointKeys: Int = 1024,
            zoneCols: Seq[String] = Nil,
            extraProps: Map[String, String] = Map.empty,
            valueClusterBy: Seq[String] = Nil): Unit = {
    refuseMorRoot(spark, dir, "merge")
    if (optimisticMerges(spark))
      mergeOptimistic(spark, dir, updates, pk, versionCol, deleteFlagCol,
        numBuckets, changeLog, commitId, bloom, maxPointKeys, zoneCols,
        extraProps, valueClusterBy)
    else withWriterLease(spark, dir) {
      mergeLocked(spark, dir, updates, pk, versionCol, deleteFlagCol,
        numBuckets, changeLog, commitId, bloom, maxPointKeys, zoneCols,
        extraProps, valueClusterBy)
    }
  }

  /** The optimistic form of [[merge]] (see [[optimisticMerges]]):
    * reserve a generation under a SHORT table-lease section, stage
    * with no lock held (the intent marker keeps vacuum off the staged
    * dir), commit in a second short lease section that rebases onto
    * interleaved disjoint commits or aborts with the retryable
    * [[CommitConflictException]]. `beforeCommit` is a test seam — it
    * runs after staging, immediately before the commit critical
    * section, so specs can interleave a conflicting or disjoint
    * commit DETERMINISTICALLY.
    */
  private[graft] def mergeOptimistic(spark: SparkSession, dir: String,
                                     updates: DataFrame,
                                     pk: Seq[String], versionCol: String,
                                     deleteFlagCol: Option[String] = None,
                                     numBuckets: Int = DefaultNumBuckets,
                                     changeLog: Boolean = false,
                                     commitId: Option[String] = None,
                                     bloom: Boolean = false,
                                     maxPointKeys: Int = 1024,
                                     zoneCols: Seq[String] = Nil,
                                     extraProps: Map[String, String] = Map.empty,
                                     valueClusterBy: Seq[String] = Nil,
                                     beforeCommit: () => Unit = () => ()): Unit = {
    val (gen, intent) = reserveGen(spark, dir)
    try
      mergeLocked(spark, dir, updates, pk, versionCol, deleteFlagCol,
        numBuckets, changeLog, commitId, bloom, maxPointKeys, zoneCols,
        extraProps, valueClusterBy,
        reservedGen = Some(gen), beforeCommit = Some(beforeCommit))
    catch { case t: Throwable =>
      // nothing committed: remove the staged generation so an aborted
      // merge's garbage doesn't wait for a stale-intent vacuum
      try {
        val stage = new Path(dir, s"__gen=$gen")
        val fs = FsOps.fs(spark, stage)
        if (fs.exists(stage)) fs.delete(stage, true)
      } catch { case _: Exception => () }
      throw t
    } finally intent.release()
  }

  /** Layout guard shared by the copy-on-write write doors: a CoW
    * commit into a merge-on-read ROOT would plant a `__gen` tree +
    * root manifest beside the delta log, and readers of either layout
    * would silently miss the other's rows — two tables tangled in one
    * dir is corruption, not composition. (MOR's own machinery writes
    * through `<root>/base`, which this probe never flags.)
    */
  private def refuseMorRoot(spark: SparkSession, dir: String,
                            what: String): Unit =
    if (MergeOnRead.isMorRoot(spark, dir))
      throw new TableContractException(
        s"$what into $dir: the dir is a merge-on-read ROOT (recorded " +
          "contract / base manifest / delta batches) — write through " +
          "graft.io.MergeOnRead (or the mor=true streaming sink); a " +
          "copy-on-write commit here would tangle two layouts in one dir")

  /** [[merge]]'s body, caller already holding `dir`'s writer lease —
    * the lease is not reentrant, so compound operations that need
    * their own check-then-commit window under ONE lease
    * ([[createTable]]) compose with this instead of [[merge]].
    */
  /** `reservedGen = Some(g)` marks the OPTIMISTIC mode (see
    * [[mergeOptimistic]]): the caller holds no table lease, the stage
    * writes into the pre-reserved `__gen=g`, and the commit tail runs
    * inside its own short lease section with rebase/conflict
    * detection. `reservedGen = None` is the classic whole-merge-locked
    * mode — the caller already holds the table lease and the commit
    * tail runs inline.
    */
  private def mergeLocked(spark: SparkSession, dir: String, updates: DataFrame,
                          pk: Seq[String], versionCol: String,
                          deleteFlagCol: Option[String],
                          numBuckets: Int,
                          changeLog: Boolean,
                          commitId: Option[String],
                          bloom: Boolean,
                          maxPointKeys: Int,
                          zoneCols: Seq[String],
                          extraProps: Map[String, String],
                          valueClusterBy: Seq[String] = Nil,
                          reservedGen: Option[Long] = None,
                          beforeCommit: Option[() => Unit] = None): Unit = {
    val optimistic = reservedGen.isDefined
    def inCommitSection(body: => Unit): Unit = {
      beforeCommit.foreach(_()) // test seam: deterministic interleaving
      if (optimistic) withWriterLease(spark, dir)(body) else body
    }
    val bloomPk = if (bloom) Some(pk) else None
    valueClusterBy.foreach(c => require(updates.columns.contains(c),
      s"valueClusterBy column '$c' is not in the batch schema"))
    currentManifest(spark, dir) match {
      case None =>
        // CREATE: stage + single manifest rename — a reader either sees
        // no table or the complete first snapshot (VERDICT r3 #4)
        val merged0 = withBucket(
          resolve(updates.withColumn("__src", lit(1)), pk, versionCol, deleteFlagCol),
          pk, numBuckets)
        val gen = reservedGen.getOrElse(nextGen(spark, dir))
        val (merged, idProps) = stampForStage(spark, None, gen, merged0)
        val staged = stageGeneration(spark, dir, gen, merged, bloomPk, zoneCols,
          valueClusterBy, regroup = true)
        val files =
          if (staged.valuesIterator.flatten.nonEmpty) staged
          else Map(SchemaBucket ->
            stageSchemaAnchor(spark, dir, gen, merged.drop(BucketCol)))
        inCommitSection {
          // an optimistic CREATE races other creators: the loser finds
          // a manifest it staged blind to and must not clobber it —
          // abort retryably (the retry takes the merge branch)
          if (optimistic && currentManifest(spark, dir).isDefined)
            throw new CommitConflictException(
              s"optimistic CREATE of $dir lost the race: a concurrent " +
                "writer committed the table's first snapshot while this " +
                "merge staged — retry to merge against it")
          if (changeLog) {
            val adds = staged.keys.toSeq match {
              case Nil => merged.drop(BucketCol).limit(0)
              case bs => scanFiles(spark, dir, bs.flatMap(staged))
            }
            ChangeFeed.append(spark, dir,
              adds.withColumn(ChangeFeed.ChangeCol, lit("add")), commitId)
          }
          // cluster columns are zone columns too: the per-file
          // single-valued property is VERIFIED through their sidecars
          val createZones = (zoneCols ++ valueClusterBy).distinct
          val zoneProp =
            if (createZones.nonEmpty) Map(ZoneColsProp -> createZones.mkString(","))
            else Map.empty[String, String]
          val vcProp =
            if (valueClusterBy.nonEmpty)
              Map(ValueClusterProp -> valueClusterBy.mkString(","))
            else Map.empty[String, String]
          commitManifest(spark, dir,
            Manifest(gen, Map("numBuckets" -> numBuckets.toString,
              PkColsProp -> pk.mkString(","),
              VersionColProp -> versionCol,
              SchemaProp -> FieldIds.serialize(merged.drop(BucketCol).schema))
              ++ idProps ++ zoneProp ++ vcProp ++ extraProps, files),
            op = "create")
        }

      case Some(man) =>
        // the recorded placement contract is binding: a merge declaring
        // different pk columns (or order) would re-record placement
        // while untouched buckets keep old-hash files, and the
        // driver-side runtime filter would then prune by the wrong
        // hash — silent row loss, refused here (ADVICE r8)
        man.props.get(PkColsProp).filter(_ != pk.mkString(",")).foreach(rec =>
          throw new TableContractException(
            s"merge pk ${pk.mkString(",")} contradicts the recorded placement " +
              s"pk [$rec] of $dir — placement is sticky; to re-key, rebuild " +
              "the table (replaceAll/overwriteSnapshot)"))
        man.props.get(VersionColProp).filter(_ != versionCol).foreach(rec =>
          throw new TableContractException(
            s"merge versionCol '$versionCol' contradicts the recorded " +
              s"versionCol '$rec' of $dir — LWW history is only meaningful " +
              "under one version column"))
        val n = man.numBuckets(numBuckets)
        // PERSISTED for the branch: the batch is consulted four times
        // (touched buckets, point keys, staged write, change-feed
        // keys) — without pinning, a non-deterministic source could
        // disagree across evaluations and silently drop rows (a staged
        // bucket the manifest never references) or duplicate a PK (a
        // key missing from the bloom-preserve probe)
        val tagged = withBucket(updates, pk, n).persist()
        try {
        // Bloom file pruning (VERDICT r2 #7): for a POINT batch (≤
        // maxPointKeys distinct keys) against sidecar-carrying files,
        // read only the files that might hold a batch key; every other
        // file is re-referenced by the new manifest — zero I/O.
        val pointKeys: Option[Seq[String]] =
          if (!bloom) None
          else {
            val ks = tagged.select(keyStr(pk).as("k")).distinct()
              .limit(maxPointKeys + 1)
              .collect().map(_.getString(0)).toSeq
            if (ks.size > maxPointKeys) None else Some(ks)
          }
        // buckets this batch touches — for a point batch the collected
        // keys map to buckets driver-side (bucketOfKey is the proven
        // bit-exact mirror of the placement hash), saving one job on
        // the hot CDC path; otherwise one distinct-collect bounded by
        // numBuckets, never O(rows)
        val touched: Set[Int] = pointKeys match {
          case Some(ks) => ks.map(bucketOfKey(_, n)).toSet
          case None => tagged.select(BucketCol).distinct()
            .collect().map(_.getInt(0)).toSet
        }
        if (touched.isEmpty) return
        val pruned: Option[Map[Int, (Seq[String], Seq[String])]] =
          pointKeys.flatMap { keys =>
            val per = touched.toSeq.map(b =>
              bloomCandidatesIn(spark, dir, man, b, keys).map(b -> _))
            if (per.exists(_.isEmpty)) None else Some(per.flatten.toMap)
          }
        val candFiles: Seq[String] = pruned match {
          case Some(m) => m.valuesIterator.flatMap(_._1).toSeq
          case None => touched.toSeq.flatMap(b => man.files.getOrElse(b, Seq.empty))
        }
        val preserve: Map[Int, Seq[String]] =
          pruned.map(_.map { case (b, (_, keep)) => b -> keep }).getOrElse(Map.empty)
        val tblSchema = readSchemaOf(spark, man, dir)
        val cur0 =
          if (candFiles.nonEmpty) scanFiles(spark, dir, candFiles, tblSchema)
          else scanFiles(spark, dir, man.allFiles, tblSchema).filter(lit(false))
        // SCHEMA EVOLUTION: the union shape is table columns first,
        // then the batch's new columns. Either side missing a column
        // surfaces NULL for it; a type CHANGE is rejected loudly (only
        // additive evolution is supported). Untouched buckets keep
        // their old files — reads fill the new columns via the
        // manifest's schema prop, no rewrite.
        val updData = tagged.drop(BucketCol)
        // rejects type changes, case-only renames, and tombstoned
        // re-adds loudly (typed, column named); after it passes, a
        // batch column either matches a table column EXACTLY or is
        // brand-new, so the exact-name union below is resolver-safe
        SchemaEvolution.checkAdditive(spark, cur0.schema, updData.schema,
          "table", "batch", droppedSet(man), renamedFromOf(man))
        val unionFields = cur0.schema.fields ++
          updData.schema.fields.filterNot(f => cur0.columns.contains(f.name))
        def widen(df: DataFrame): DataFrame = {
          val have = df.columns.toSet
          df.select(unionFields.toIndexedSeq.map(f =>
            if (have(f.name)) col(f.name)
            else lit(null).cast(f.dataType).as(f.name)): _*)
        }
        val cur = widen(cur0).withColumn("__src", lit(0))
        val aligned = widen(updData).withColumn("__src", lit(1))
        val merged0 = withBucket(
          resolve(cur.unionByName(aligned), pk, versionCol, deleteFlagCol), pk, n)
        val gen = reservedGen.getOrElse(nextGen(spark, dir))
        val (merged, idProps) = stampForStage(spark, Some(man), gen, merged0)
        // recorded value-cluster columns bind (like placement): a merge
        // declaring DIFFERENT ones would break the invariant the
        // grouped metadata answers verify against; a merge on a
        // non-clustered table may ADOPT clustering (older generations'
        // files stay multi-valued and simply refuse the pushdown until
        // compaction rewrites them)
        val recCluster = valueClusterColsOf(man)
        if (valueClusterBy.nonEmpty && recCluster.nonEmpty &&
            valueClusterBy != recCluster)
          throw new TableContractException(
            s"merge valueClusterBy ${valueClusterBy.mkString(",")} contradicts " +
              s"the recorded valueClusterBy [${recCluster.mkString(",")}] of $dir")
        val effCluster = if (recCluster.nonEmpty) recCluster else valueClusterBy
        val effZones = (zoneCols ++ zoneColsOf(man) ++ effCluster).distinct
        val staged = stageGeneration(spark, dir, gen, merged, bloomPk, effZones,
          effCluster, regroup = true)
        inCommitSection {
          // OPTIMISTIC rebase point: re-read the manifest under the
          // lease. Unchanged → commit exactly as the locked mode
          // would. Advanced → rebase onto it when the interleaved
          // commits are provably disjoint (checkRebase throws the
          // retryable conflict otherwise): our touched buckets'
          // base files are then IDENTICAL in `latest`, so the staged
          // resolve, the bloom-preserve refs, and the feed pre-image
          // all remain exact against the latest state.
          val latest: Manifest =
            if (!optimistic) man
            else currentManifest(spark, dir) match {
              case None => throw new CommitConflictException(
                s"optimistic merge into $dir: the table vanished " +
                  "(concurrent dropTable) while the batch staged")
              case Some(l) =>
                if (l.gen != man.gen) checkRebase(spark, dir, man, l, touched)
                l
            }
          var files: Map[Int, Seq[String]] = latest.files ++ touched.map { b =>
            b -> (staged.getOrElse(b, Seq.empty) ++ preserve.getOrElse(b, Seq.empty))
          }.toMap
          files = files.filter(_._2.nonEmpty)
          // drop a stale schema anchor once real files exist again; add
          // one when the whole table just emptied out
          if (files.exists { case (b, _) => b != SchemaBucket }) files -= SchemaBucket
          if (files.isEmpty)
            files = Map(SchemaBucket ->
              stageSchemaAnchor(spark, dir, gen, merged.drop(BucketCol)))
          if (changeLog) {
            // pre/post-images restricted to the keys this batch carried —
            // both sides are bounded by the batch, never by the table.
            // The post-image re-reads the staged (already materialized)
            // files instead of recomputing the merge plan. Runs INSIDE
            // the commit section in optimistic mode: feed batches must
            // only publish for merges that go on to commit (an abort
            // must not leave a phantom batch for feed consumers), and
            // the feed's batch numbering serializes under the same
            // table lease every other feed writer holds.
            val keys = tagged.select(pk.map(col): _*).distinct()
            val pre = cur0.join(keys, pk, "left_semi")
              .withColumn(ChangeFeed.ChangeCol, lit("retract"))
            val post = (staged.keys.toSeq match {
              case Nil => merged.drop(BucketCol).limit(0)
              case bs => scanFiles(spark, dir, bs.flatMap(staged))
            }).join(keys, pk, "left_semi")
              .withColumn(ChangeFeed.ChangeCol, lit("add"))
            // allowMissing: on an evolving merge the pre-image has the
            // OLD shape and the post-image the widened one
            ChangeFeed.append(spark, dir,
              pre.unionByName(post, allowMissingColumns = true), commitId)
          }
          val zoneProp =
            if (effZones.nonEmpty) Map(ZoneColsProp -> effZones.mkString(","))
            else Map.empty[String, String]
          val vcProp =
            if (effCluster.nonEmpty)
              Map(ValueClusterProp -> effCluster.mkString(","))
            else Map.empty[String, String]
          // the committed generation must top every interleaved one;
          // file refs keep their staged __gen=<gen> paths (path gens
          // and manifest gens share one counter but need not match —
          // the id-read gate is file-granular via genOfPath)
          val commitGen = if (latest.gen >= gen) latest.gen + 1 else gen
          commitManifest(spark, dir, Manifest(commitGen,
            latest.props ++ idProps
              + (SchemaProp -> FieldIds.serialize(merged.drop(BucketCol).schema))
              + (PkColsProp -> pk.mkString(",")) + (VersionColProp -> versionCol)
              ++ zoneProp ++ vcProp ++ extraProps,
            files), Some(latest), op = "merge")
        }
        } finally { tagged.unpersist(); () }
    }
  }

  /** Merge ONE batch into MANY sibling tables (`dirFor(group)`) in a
    * CONSTANT number of Spark jobs (VERDICT r8 #2 / the shape that
    * fixed compactBuckets in r8): resolve every group's LWW merge in
    * one plan, stage ONE `partitionBy(groupCol, __bucket)` write, then
    * fan the staged `group=g` dirs out to each table's `__gen=<gen>`
    * with driver-side renames and per-table manifest commits. The
    * per-group alternative schedules a full merge job chain per group
    * — an IVF ingest touching 256 cells became 256 sequential jobs.
    *
    * Semantics per group are EXACTLY `merge(dirFor(g), batch rows of
    * g)` with bloom/changeLog/zones off: same resolve window (per
    * group × pk), same placement hash, same manifest commit. Sibling
    * tables must share one schema and bucket count (the IVF-cell
    * contract; enforced). Each table's lease is taken for its own
    * rename+commit, so a concurrent writer on one sibling aborts that
    * sibling loudly without corrupting the rest — staged dirs of
    * never-committed groups are invisible garbage under stagingRoot,
    * swept on success.
    */
  private[graft] def mergeGrouped(spark: SparkSession, dirFor: Int => String,
                                  updates: DataFrame, groupCol: String,
                                  pk: Seq[String], versionCol: String,
                                  numBuckets: Int = DefaultNumBuckets,
                                  stagingRoot: String): Unit = {
    val fs = FsOps.fs(spark, new Path(stagingRoot))
    val stage = new Path(stagingRoot)
    if (fs.exists(stage)) fs.delete(stage, true)
    val tagged = withBucket(updates, pk, numBuckets).persist()
    try {
      // touched (group, bucket) pairs — bounded by groups × numBuckets,
      // never O(rows)
      val touched: Map[Int, Set[Int]] = tagged
        .select(col(groupCol).cast("int"), col(BucketCol)).distinct()
        .collect().groupBy(_.getInt(0))
        .map { case (g, rs) => g -> rs.map(_.getInt(1)).toSet }
      if (touched.isEmpty) return
      val mans: Map[Int, Option[Manifest]] =
        touched.keys.map(g => g -> currentManifest(spark, dirFor(g))).toMap
      mans.foreach { case (g, m) =>
        m.foreach { man =>
          man.props.get(PkColsProp).filter(_ != pk.mkString(",")).foreach(rec =>
            throw new TableContractException(
              s"mergeGrouped pk ${pk.mkString(",")} contradicts recorded pk [$rec] of ${dirFor(g)}"))
          man.props.get(VersionColProp).filter(_ != versionCol).foreach(rec =>
            throw new TableContractException(
              s"mergeGrouped versionCol '$versionCol' contradicts recorded '$rec' of ${dirFor(g)}"))
          if (man.numBuckets(numBuckets) != numBuckets)
            throw new TableContractException(
              s"mergeGrouped numBuckets $numBuckets contradicts recorded " +
                s"${man.numBuckets(numBuckets)} of ${dirFor(g)}")
        }
      }
      // sibling schemas must agree (modulo nullability — a merge union
      // legitimately relaxes NOT NULL) — resolved jointly, staged in
      // one write, so a divergent sibling would silently widen the rest
      import org.apache.spark.sql.types._
      def nullify(dt: DataType): DataType = dt match {
        case s: StructType =>
          StructType(s.fields.map(f => StructField(f.name, nullify(f.dataType))))
        case a: ArrayType => ArrayType(nullify(a.elementType), containsNull = true)
        case m: MapType =>
          MapType(nullify(m.keyType), nullify(m.valueType), valueContainsNull = true)
        case other => other
      }
      val schemas = mans.valuesIterator.flatten
        .flatMap(_.props.get(SchemaProp)).toSeq
        .map(d => nullify(StructType.fromDDL(d)))
      schemas.distinct.toList match {
        case _ :: second :: _ =>
          throw new TableContractException(
            s"mergeGrouped requires one shared sibling schema; " +
              s"found divergent schemas (e.g. ${second.sql})")
        case _ => ()
      }
      val updData = tagged.drop(BucketCol)
      // current content of every touched bucket across all groups, ONE
      // union plan tagged with its group
      val curParts = touched.toSeq.sortBy(_._1).flatMap { case (g, bs) =>
        mans(g).map { man =>
          val rels = bs.toSeq.flatMap(b => man.files.getOrElse(b, Seq.empty))
          val dfg =
            if (rels.nonEmpty) scanFiles(spark, dirFor(g), rels, tableSchema(man))
            else scanFiles(spark, dirFor(g), man.allFiles, tableSchema(man))
              .filter(lit(false))
          dfg.withColumn(groupCol, lit(g))
        }
      }
      curParts.headOption.foreach { head =>
        SchemaEvolution.checkAdditive(spark, head.drop(groupCol).schema,
          updData.drop(groupCol).schema, "table", "batch", Set.empty)
      }
      val combined = curParts.reduceOption(_ unionByName _) match {
        case Some(cur) =>
          val unionFields = cur.schema.fields ++
            updData.schema.fields.filterNot(f => cur.columns.contains(f.name))
          def widen(df: DataFrame): DataFrame = {
            val have = df.columns.toSet
            df.select(unionFields.toIndexedSeq.map(f =>
              if (have(f.name)) col(f.name)
              else lit(null).cast(f.dataType).as(f.name)): _*)
          }
          widen(cur).withColumn("__src", lit(0))
            .unionByName(widen(updData).withColumn("__src", lit(1)))
        case None => updData.withColumn("__src", lit(1))
      }
      // per-(group, pk) LWW — identical to each table's own resolve
      val merged = withBucket(
        resolve(combined, groupCol +: pk, versionCol, None), pk, numBuckets)
      // regroup before the write (guide §6, same as stageGeneration):
      // the resolve stream is pk-hash-partitioned, so a direct
      // partitionBy write fans every (group, bucket) leaf into many
      // tiny files every later read pays for
      merged.repartition(col(groupCol), col(BucketCol))
        .write.mode("overwrite")
        .partitionBy(groupCol, BucketCol).parquet(stage.toString)
      val dataSchema = merged.drop(groupCol, BucketCol).schema
      touched.toSeq.sortBy(_._1).foreach { case (g, bs) =>
        val dir = dirFor(g)
        withWriterLease(spark, dir) {
          val gen = nextGen(spark, dir)
          val src = new Path(stage, s"$groupCol=$g")
          if (!fs.exists(src))
            throw new IllegalStateException(
              s"mergeGrouped staged no output for touched group $g")
          val dst = new Path(dir, s"__gen=$gen")
          FsOps.renameOrThrow(fs, src, dst)
          val staged: Map[Int, Seq[String]] = fs.listStatus(dst)
            .filter(_.getPath.getName.startsWith(s"$BucketCol="))
            .map { st =>
              val b = st.getPath.getName.stripPrefix(s"$BucketCol=").toInt
              b -> fs.listStatus(st.getPath).toSeq.map(_.getPath.getName)
                .filter(n => !n.startsWith("_") && !n.startsWith("."))
                .map(n => s"__gen=$gen/$BucketCol=$b/$n")
            }.toMap
          val prev = mans(g)
          var files: Map[Int, Seq[String]] =
            prev.map(_.files).getOrElse(Map.empty) ++
              bs.map(b => b -> staged.getOrElse(b, Seq.empty))
          files = files.filter(_._2.nonEmpty)
          if (files.exists { case (b, _) => b != SchemaBucket }) files -= SchemaBucket
          if (files.isEmpty)
            files = Map(SchemaBucket ->
              stageSchemaAnchor(spark, dir, gen, merged.drop(groupCol, BucketCol)))
          val baseProps = prev.map(_.props).getOrElse(
            Map("numBuckets" -> numBuckets.toString))
          // deliberately UNSTAMPED (no field ids): sibling groups share
          // one staged write, and per-sibling id continuity would need
          // per-sibling re-projection — these internal cell tables are
          // never renamed, and the read gate simply keeps name matching
          commitManifest(spark, dir, Manifest(gen,
            baseProps + (SchemaProp -> dataSchema.toDDL)
              + (PkColsProp -> pk.mkString(","))
              + (VersionColProp -> versionCol),
            files), prev, op = "merge")
        }
      }
      fs.delete(stage, true)
    } finally { tagged.unpersist(); () }
  }

  /** Apply an IMPERATIVE row-level delta — the commit primitive behind
    * SQL `MERGE INTO` / `UPDATE` / `DELETE` on the catalog
    * ([[graft.sources.UpsertCatalog]]). Unlike [[merge]]'s LWW-by-
    * version semantics (built for CDC replay), SQL DML is imperative:
    * the delta wins unconditionally. `delta` carries the table's data
    * columns plus `opCol` ∈ {`upsert`, `delete`}; delete rows need
    * only their pk columns (the rest may be NULL).
    *
    * Per touched bucket (delta pks hash through the recorded
    * placement), the new content is `current ∖ delta-pks ∪ upsert
    * rows` — staged and committed through the same single-manifest-
    * rename discipline as every merge, under the writer lease.
    * Buckets the delta doesn't touch are re-referenced verbatim.
    * Tables without a recorded pk refuse; Bloom sidecars are rebuilt
    * for rewritten buckets when the touched buckets carried them.
    */
  private[graft] def applyDelta(spark: SparkSession, dir: String,
                                delta: DataFrame, opCol: String): Unit =
      withWriterLease(spark, dir) {
    val man = currentManifest(spark, dir).getOrElse(
      throw new NoTableException(s"no committed manifest under $dir"))
    val pk = man.props.get(PkColsProp).map(_.split(",").toSeq)
      .filter(_.nonEmpty).getOrElse(throw new TableContractException(
        s"$dir records no pk columns — row-level DML needs the placement contract"))
    val n = man.numBuckets(DefaultNumBuckets)
    val tagged = withBucket(delta, pk, n).persist()
    try {
      val touched: Set[Int] = tagged.select(BucketCol).distinct()
        .collect().map(_.getInt(0)).toSet
      if (touched.isEmpty) return
      val tblSchema = readSchemaOf(spark, man, dir)
      val candFiles = touched.toSeq.flatMap(b => man.files.getOrElse(b, Seq.empty))
      val cur0 =
        if (candFiles.nonEmpty) scanFiles(spark, dir, candFiles, tblSchema)
        else scanFiles(spark, dir, man.allFiles, tblSchema).filter(lit(false))
      val updData = tagged.drop(BucketCol, opCol)
      SchemaEvolution.checkAdditive(spark, cur0.schema, updData.schema,
        "table", "delta", droppedSet(man))
      val unionFields = cur0.schema.fields ++
        updData.schema.fields.filterNot(f => cur0.columns.contains(f.name))
      def widen(df: DataFrame): DataFrame = {
        val have = df.columns.toSet
        df.select(unionFields.toIndexedSeq.map(f =>
          if (have(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)): _*)
      }
      val keys = tagged.select(pk.map(col): _*).distinct()
      val survivors = widen(cur0).join(keys, pk, "left_anti")
      val upserts = widen(tagged.filter(col(opCol) =!= "delete").drop(BucketCol, opCol))
      val merged1 = withBucket(survivors.unionByName(upserts), pk, n)
      // rewritten buckets keep their skipping layers: blooms when the
      // touched buckets carried sidecars, zones per the manifest
      val fs = FsOps.fs(spark, new Path(dir))
      val hadBlooms = touched.exists { b =>
        man.files.getOrElse(b, Seq.empty).headOption.exists { rel =>
          val parent = rel.substring(0, rel.lastIndexOf('/'))
          fs.exists(new Path(abs(dir, s"$parent/${Blooms.SidecarName}")))
        }
      }
      val gen = nextGen(spark, dir)
      val (merged, idProps) = stampForStage(spark, Some(man), gen, merged1)
      val staged = stageGeneration(spark, dir, gen, merged,
        if (hadBlooms) Some(pk) else None,
        (zoneColsOf(man) ++ valueClusterColsOf(man)).distinct,
        valueClusterColsOf(man), regroup = true)
      var files: Map[Int, Seq[String]] = man.files ++ touched.map { b =>
        b -> staged.getOrElse(b, Seq.empty)
      }.toMap
      files = files.filter(_._2.nonEmpty)
      if (files.exists { case (b, _) => b != SchemaBucket }) files -= SchemaBucket
      if (files.isEmpty)
        files = Map(SchemaBucket ->
          stageSchemaAnchor(spark, dir, gen, merged.drop(BucketCol)))
      // keep the RECORDED per-column shape (esp. NOT NULL) for columns
      // that already existed — the plan's union relaxes nullability,
      // and silently loosening pk nullability would break the next
      // DML's row-id contract
      val mergedSchema = merged.drop(BucketCol).schema
      val committed = tableSchema(man) match {
        case Some(ps) => org.apache.spark.sql.types.StructType(
          mergedSchema.fields.map { f =>
            // keep the recorded field (nullability) but ALWAYS the
            // stamped field id — the staged files carry it
            ps.fields.find(_.name == f.name)
              .map(pf => FieldIds.idOf(f).fold(pf)(FieldIds.withId(pf, _)))
              .getOrElse(f)
          })
        case None => mergedSchema
      }
      commitManifest(spark, dir, Manifest(gen,
        man.props ++ idProps + (SchemaProp -> FieldIds.serialize(committed)),
        files), Some(man), op = "sql-dml")
    } finally { tagged.unpersist(); () }
  }

  /** Last-writer-wins + delete resolution over a `__src`-tagged union. */
  private def resolve(combined: DataFrame, pk: Seq[String], versionCol: String,
                      deleteFlagCol: Option[String]): DataFrame = {
    val w = Window.partitionBy(pk.map(col): _*)
      .orderBy(col(versionCol).desc, col("__src").desc)
    val merged0 = combined
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
    deleteFlagCol match {
      case Some(f) => merged0.filter(col(f) =!= "delete" || col(f).isNull)
      case None => merged0
    }
  }

  // ---- maintenance ------------------------------------------------------

  /** Compact buckets that accumulated files (every bloom point merge
    * adds one file and re-references the rest — the price of never
    * rewriting key-disjoint data). Buckets holding more than
    * `maxFilesPerBucket` files are rewritten as a single file (a bucket
    * is sized to one executor's scan budget by design) with a fresh
    * Bloom sidecar; ALL compacted buckets commit in ONE manifest flip.
    * Content is untouched — pure file-count maintenance, the analog of
    * a lakehouse OPTIMIZE, run out of band of the merge path.
    */
  def compactBuckets(spark: SparkSession, dir: String, pk: Seq[String],
                     maxFilesPerBucket: Int = 8,
                     bloom: Boolean = true,
                     clusterBy: Seq[String] = Nil,
                     filesPerBucket: Int = 1): Unit = withWriterLease(spark, dir) {
    val man = currentManifest(spark, dir).getOrElse(return)
    val over = man.files.filter { case (b, fs) =>
      b != SchemaBucket && fs.size > maxFilesPerBucket
    }
    if (over.isEmpty) return
    val gen = nextGen(spark, dir)
    // ONE scan of every over-threshold file, each row's bucket read back
    // from its directory name (placement-faithful for pk-hashed AND
    // snapshot layouts — no re-hash), then ONE staged partitionBy write
    // + the shared single-pass bloom/zones sidecar jobs in
    // [[stageGeneration]]. The previous form ran a write job (and a
    // bloom job) PER over-threshold bucket — a sequential chain of
    // hundreds of jobs on a wide table; this is a constant number.
    val src = scanFiles(spark, dir, over.values.flatten.toSeq,
        readSchemaOf(spark, man, dir))
      .withColumn(BucketCol,
        regexp_extract(input_file_name(), s"$BucketCol=(\\d+)", 1).cast("int"))
    // CLUSTERED compaction: bucket-LOCAL equal-count slices (ntile over
    // a per-bucket window) make each (bucket, slice) a contiguous
    // clusterBy range WITHIN its bucket — a global range split would
    // let a skewed bucket collapse into one wide file and boundary
    // partitions blur neighboring files' ranges. Range-partitioning on
    // the discrete (bucket, slice) pairs lands each slice in its own
    // file, so every bucket gets `filesPerBucket` files with disjoint
    // ranges — the layout that makes [[Zones]] pruning tight (and
    // parquet row-group stats tight inside each file). BEST-EFFORT
    // file-count split: range partitioning over the discrete (bucket,
    // slice) pairs is sample-based, so adjacent slices of one bucket
    // can occasionally share a task and land in one wider file — zone
    // pruning loosens for that bucket, rows stay exact, and the next
    // clustered compact re-splits it. Without clusterBy: pure
    // file-count maintenance, one file per bucket.
    val keyCols = (BucketCol +: clusterBy).map(col)
    val arranged =
      if (clusterBy.nonEmpty && filesPerBucket > 1) {
        val w = Window.partitionBy(col(BucketCol))
          .orderBy(clusterBy.map(col): _*)
        src.withColumn("__slice", ntile(filesPerBucket).over(w))
          .repartitionByRange(over.size * filesPerBucket,
            col(BucketCol), col("__slice"))
          .sortWithinPartitions(
            (col(BucketCol) +: col("__slice") +: clusterBy.map(col)): _*)
          .drop("__slice")
      } else if (clusterBy.nonEmpty)
        src.repartition(over.size, col(BucketCol))
          .sortWithinPartitions(keyCols: _*)
      else src.repartition(over.size, col(BucketCol))
    // a clustered compact ALSO adopts its cluster columns as the
    // table's zone columns (sidecars written for the rewritten files,
    // prop recorded for readers) — the OPTIMIZE ZORDER analog; without
    // clusterBy the recorded zone columns carry over unchanged
    val valueCluster = valueClusterColsOf(man)
    val effZoneCols =
      ((if (clusterBy.nonEmpty) clusterBy else zoneColsOf(man)) ++
        valueCluster).distinct
    val (stamped, idProps) = stampForStage(spark, Some(man), gen, arranged)
    val staged = stageGeneration(spark, dir, gen, stamped,
      if (bloom) Some(pk) else None, effZoneCols, valueCluster)
    // an over-threshold bucket whose files held zero live rows stages
    // no dir — its entry empties rather than keeping the old files
    val compacted: Map[Int, Seq[String]] =
      over.map { case (b, _) => b -> staged.getOrElse(b, Seq.empty) }
    val zoneProp =
      if (clusterBy.nonEmpty) Map(ZoneColsProp -> clusterBy.mkString(","))
      else Map.empty[String, String]
    // a clustered compact's staged files are each SORTED by clusterBy
    // (sortWithinPartitions above) — record the (columns, generation)
    // pair so the DSv2 scan can report per-partition ordering for
    // exactly these files (see SortedByProp); layout-only `__`-prefixed
    // cluster columns (z-order values) are dropped from the written
    // schema, so the recorded order must stop at the first one
    val sortProp =
      if (clusterBy.nonEmpty && !clusterBy.head.startsWith("__"))
        Map(SortedByProp -> clusterBy.takeWhile(!_.startsWith("__")).mkString(","),
          SortedGenProp -> gen.toString)
      else Map.empty[String, String]
    // the declared shape carries over, with the staged files' field
    // ids OVERLAID by name: on an id-stamped table this is a no-op
    // (ids inherited), on a pre-r13 table it is the MIGRATION step — a
    // full rewrite (maxFilesPerBucket = 0) leaves every file id-stamped
    // and the schema id-carrying, which is what enables RENAME COLUMN.
    // Layout-only columns (__slice/z-order) never leak into it.
    val stampedData = stamped.drop(BucketCol).schema
    val committedSchema = tableSchema(man) match {
      case Some(ps) => org.apache.spark.sql.types.StructType(ps.fields.map(f =>
        stampedData.fields.find(_.name == f.name).flatMap(FieldIds.idOf)
          .fold(f)(FieldIds.withId(f, _))))
      case None => org.apache.spark.sql.types.StructType(
        stampedData.fields.filterNot(_.name.startsWith("__")))
    }
    commitManifest(spark, dir,
      Manifest(gen, man.props ++ idProps
        + (SchemaProp -> FieldIds.serialize(committedSchema))
        ++ zoneProp ++ sortProp,
        man.files ++ compacted),
      Some(man), op = "compact")
  }

  /** Live bytes per bucket of the current snapshot — the signal
    * [[Maintenance]]'s rebucket policy reads. Metadata-only (the
    * cached [[bucketLayout]] listing; no Spark job).
    */
  def bucketBytes(spark: SparkSession, dir: String): Map[Int, Long] =
    bucketLayout(spark, dir).files.map { case (b, fs) =>
      b -> fs.map(_._2).sum
    }

  /** Re-place the whole table under `newNumBuckets` — the structural
    * fix when buckets have outgrown the per-task scan budget (a table
    * that grew 100× since CREATE has 100× buckets' worth of data in
    * each bucket; no runtime mechanism restores the layout contract —
    * only re-placement does). One full read + one staged write + ONE
    * manifest rename under the writer lease: readers resolve either
    * the complete old placement or the complete new one, never a mix,
    * and a reader mid-scan on the previous generation finishes
    * against intact files (MVCC, like every commit here). Blooms are
    * rebuilt when the old layout carried them; zones re-declare from
    * the manifest. Placement props (pk, versionCol) are preserved;
    * only `numBuckets` changes.
    */
  def rebucket(spark: SparkSession, dir: String,
               newNumBuckets: Int): Unit = withWriterLease(spark, dir) {
    require(newNumBuckets > 0, s"newNumBuckets must be positive: $newNumBuckets")
    val man = currentManifest(spark, dir).getOrElse(
      throw new NoTableException(s"no committed manifest under $dir"))
    val pk = man.props.get(PkColsProp).map(_.split(",").toSeq)
      .filter(_.nonEmpty).getOrElse(throw new TableContractException(
        s"$dir records no pk columns — rebucket needs the placement contract"))
    if (man.numBuckets(DefaultNumBuckets) == newNumBuckets) return
    val fs = FsOps.fs(spark, new Path(dir))
    val hadBlooms = man.files.keysIterator.filter(_ != SchemaBucket).take(1)
      .exists { b =>
        man.files(b).headOption.exists { rel =>
          val parent = rel.substring(0, rel.lastIndexOf('/'))
          fs.exists(new Path(abs(dir, s"$parent/${Blooms.SidecarName}")))
        }
      }
    val df = readManifest(spark, dir, man)
    val merged0 = withBucket(df, pk, newNumBuckets)
    val gen = nextGen(spark, dir)
    // full rewrite: every file is new, so the id era resets to this gen
    val (merged, idProps) = stampForStage(spark, Some(man), gen, merged0)
    val staged = stageGeneration(spark, dir, gen, merged,
      if (hadBlooms) Some(pk) else None,
      (zoneColsOf(man) ++ valueClusterColsOf(man)).distinct,
      valueClusterColsOf(man), regroup = true)
    val files: Map[Int, Seq[String]] =
      if (staged.valuesIterator.flatten.nonEmpty) staged
      else Map(SchemaBucket -> stageSchemaAnchor(spark, dir, gen, merged.drop(BucketCol)))
    commitManifest(spark, dir, Manifest(gen,
      man.props ++ idProps + (IdGenProp -> gen.toString)
        + (SchemaProp -> FieldIds.serialize(merged.drop(BucketCol).schema))
        + ("numBuckets" -> newNumBuckets.toString), files),
      op = "rebucket")
  }

  /** Bytes and files a [[vacuum]] with this retention would actually
    * free: on-disk generation-dir data files referenced by NONE of the
    * newest `keepManifests` manifests. Metadata-only (listings — no
    * Spark job). [[Maintenance]]'s vacuum trigger uses this rather
    * than [[stats]]' current-manifest reclaimable figure so the policy
    * CONVERGES: files retained for previous-snapshot readers don't
    * re-trigger a vacuum that wouldn't delete them.
    */
  private[graft] def freeableBy(spark: SparkSession, dir: String,
                                keepManifests: Int): (Long, Long) = {
    val root = new Path(dir)
    val fs = FsOps.fs(spark, root)
    if (!fs.exists(root)) return (0L, 0L)
    val gens = manifestGens(spark, dir)
    if (gens.isEmpty) return (0L, 0L)
    val referenced = gens.takeRight(math.max(1, keepManifests))
      .flatMap(g => manifestAt(spark, dir, g)).flatMap(_.allFiles).toSet
    var files = 0L; var bytes = 0L
    fs.listStatus(root).foreach { g =>
      g.getPath.getName match {
        case GenDirRe(_) =>
          fs.listStatus(g.getPath).filter(_.isDirectory).foreach { bDir =>
            def count(d: Path, relPrefix: String): Unit =
              fs.listStatus(d).foreach { f =>
                val name = f.getPath.getName
                if (f.isDirectory && name.startsWith(s"$CvCol="))
                  count(f.getPath, s"$relPrefix/$name")
                else if (!name.startsWith("_") && !name.startsWith(".") &&
                    !referenced.contains(s"$relPrefix/$name")) {
                  files += 1; bytes += f.getLen
                }
              }
            count(bDir.getPath, s"${g.getPath.getName}/${bDir.getPath.getName}")
          }
        case _ =>
      }
    }
    (files, bytes)
  }

  /** Explicit column drop — the subtractive half of the evolution
    * contract (additive is automatic on [[merge]]; see
    * [[SchemaEvolution]]). METADATA-ONLY: one manifest flip removes the
    * columns from the recorded schema (reads pass it explicitly, so
    * every file — old or new — stops surfacing them immediately); no
    * data file is rewritten, which is the only drop a 100 TB table can
    * afford. The dropped names are tombstoned in the manifest: files
    * written before the drop still hold the old values, so a later
    * [[merge]] that re-introduces the name (including an old-shape
    * producer still sending the column) is rejected loudly instead of
    * silently resurrecting stale data. Dropping a column the table's
    * primary key uses makes the next merge fail on the tombstone — the
    * deliberate failure, not a corrupted table.
    */
  def dropColumns(spark: SparkSession, dir: String,
                  cols: Seq[String]): Unit = withWriterLease(spark, dir) {
    if (cols.isEmpty) return
    cols.find(c => c.exists(ch => ch == ',' || ch == '=' || ch == '\n')).foreach(c =>
      throw new SchemaEvolutionException(
        s"cannot drop column '$c': the name contains a manifest metacharacter"))
    val man = currentManifest(spark, dir).getOrElse(
      throw new SchemaEvolutionException(s"cannot drop columns: no table at $dir"))
    val schema = tableSchema(man).getOrElse(
      throw new SchemaEvolutionException(
        s"cannot drop columns: the table at $dir has no recorded schema"))
    def canon(n: String) = SchemaEvolution.canon(spark, n)
    cols.foreach { c =>
      if (!schema.fields.exists(f => canon(f.name) == canon(c)))
        throw new SchemaEvolutionException(
          s"cannot drop column '$c': not in the table schema " +
            s"(${schema.fieldNames.mkString(", ")})")
    }
    val canonCols = cols.map(canon).toSet
    val remaining = schema.fields.filterNot(f => canonCols.contains(canon(f.name)))
    if (remaining.isEmpty)
      throw new SchemaEvolutionException(
        s"cannot drop every column of the table at $dir")
    val tombstones = (droppedSet(man) ++ canonCols).toSeq.sorted.mkString(",")
    commitManifest(spark, dir, Manifest(nextGen(spark, dir),
      man.props +
        (SchemaProp -> FieldIds.serialize(
          org.apache.spark.sql.types.StructType(remaining))) +
        (DroppedProp -> tombstones),
      man.files), Some(man), op = "drop-columns")
  }

  /** `ALTER TABLE ... RENAME COLUMN` — METADATA-ONLY since r13
    * (VERDICT r12 #2): the manifest's schema carries a stable parquet
    * FIELD ID per column ([[FieldIds]]), and reads request columns by
    * id, so renaming is one manifest flip that changes the declared
    * name while every file on disk — old name or new — keeps
    * resolving. `VERSION AS OF` an older generation serves that
    * generation's own names (its manifest is untouched).
    *
    * Refusals (all typed, all naming the remedy):
    *  - files staged before field-id stamping cannot be remapped — run
    *    `compactBuckets(maxFilesPerBucket = 0)` (a full rewrite, which
    *    stamps ids) once, then rename;
    *  - the new name colliding with a live column, a dropped-column
    *    tombstone, or a previously renamed-away name.
    *
    * Change-feed tables rename freely since r14: the ORDERED rename
    * history ([[RenameChainProp]]) plus each feed batch dir's name-era
    * marker let feed readers translate old-name batches to the
    * current names at the read door ([[ChangeFeed]] batch reads by
    * presence, [[graft.sources.ChangeFeedSource]] per-file via
    * era-substituted read schemas) — feed files stay plain
    * name-consumed parquet, no field ids, no id-read tax on consumers.
    *
    * After the rename, a producer still merging the OLD name fails
    * loudly in [[SchemaEvolution.checkAdditive]] (the `renamedFrom`
    * tombstones) instead of silently forking a new column.
    */
  def renameColumn(spark: SparkSession, dir: String,
                   from: String, to: String): Unit = withWriterLease(spark, dir) {
    def canon(n: String) = SchemaEvolution.canon(spark, n)
    Seq(from, to).foreach(c =>
      if (c.exists(ch => ch == ',' || ch == '=' || ch == '\n' || ch == '>'))
        throw new SchemaEvolutionException(
          s"cannot rename column '$c': the name contains a manifest metacharacter"))
    val man = currentManifest(spark, dir).getOrElse(
      throw new SchemaEvolutionException(s"cannot rename: no table at $dir"))
    val schema = tableSchema(man).getOrElse(
      throw new SchemaEvolutionException(
        s"cannot rename: the table at $dir has no recorded schema"))
    if (!schema.fields.exists(f => canon(f.name) == canon(from)))
      throw new SchemaEvolutionException(
        s"cannot rename column '$from': not in the table schema " +
          s"(${schema.fieldNames.mkString(", ")})")
    if (schema.fields.exists(f => canon(f.name) == canon(to)))
      throw new SchemaEvolutionException(
        s"cannot rename column '$from' to '$to': the name is already a column")
    if (droppedSet(man).contains(canon(to)))
      throw new SchemaEvolutionException(
        s"cannot rename column '$from' to '$to': '$to' was dropped from this " +
          "table and files written before the drop still hold its values")
    if (renamedFromOf(man).contains(canon(to)))
      throw new SchemaEvolutionException(
        s"cannot rename column '$from' to '$to': '$to' was itself renamed " +
          s"away (to '${renamedFromOf(man)(canon(to))}') and old producers " +
          "are refused under that name")
    val idGenOk = man.props.get(IdGenProp).exists(g =>
      man.allFiles.forall(genOfPath(_) >= g.toLong))
    if (!idGenOk || !FieldIds.hasIds(schema))
      throw new SchemaEvolutionException(
        s"cannot rename column '$from' on $dir: some live files were staged " +
          "before field-id stamping (pre-r13) and parquet access to them is " +
          "name-based — run compactBuckets(spark, dir, pk, maxFilesPerBucket " +
          "= 0, clusterBy = pk) once (a full rewrite, which stamps ids), " +
          "then rename")
    def sub(n: String): String = if (canon(n) == canon(from)) to else n
    val renamed = org.apache.spark.sql.types.StructType(
      schema.fields.map(f => if (canon(f.name) == canon(from)) f.copy(name = to) else f))
    // every prop that names columns follows the rename in the SAME
    // commit — placement, zones, value clustering, sort report
    def subList(key: String): Map[String, String] =
      man.props.get(key).map(v =>
        key -> v.split(",").filter(_.nonEmpty).map(sub).mkString(",")).toMap
    // chained renames stay transitive: after a->b then b->c, a
    // producer still writing 'a' is pointed at 'c', not the dead 'b'
    val renames = (renamedFromOf(man).map { case (o, n) =>
        o -> (if (canon(n) == canon(from)) to else n)
      } + (canon(from) -> to)).toSeq.sorted
      .map { case (o, n) => s"$o>$n" }.mkString(",")
    // ordered history for the change-feed's name eras: old name
    // recorded VERBATIM (the declared spelling feed files carry) —
    // existing feed batches keep reading through era translation
    // ([[ChangeFeed]]/[[graft.sources.ChangeFeedSource]]), so a
    // changeLog table renames as freely as any other
    val declaredFrom =
      schema.fields.find(f => canon(f.name) == canon(from)).get.name
    val chain = (renameChainOf(man).map { case (o, n) => s"$o>$n" }
      :+ s"$declaredFrom>$to").mkString(",")
    commitManifest(spark, dir, Manifest(nextGen(spark, dir),
      man.props ++ subList(PkColsProp) ++ subList(ZoneColsProp)
        ++ subList(ValueClusterProp) ++ subList(SortedByProp)
        ++ man.props.get(VersionColProp).map(v => VersionColProp -> sub(v))
        + (SchemaProp -> FieldIds.serialize(renamed))
        + (RenamedFromProp -> renames)
        + (RenameChainProp -> chain),
      man.files), Some(man), op = "rename-column")
  }

  /** DDL CREATE: commit an EMPTY first snapshot that records the full
    * table contract — schema, placement pk (order-sensitive), version
    * column, bucket count — before any row exists, so the first
    * [[merge]]/INSERT binds to the declared contract instead of
    * inferring one. Implemented as a merge of a zero-row batch: the
    * same staging + single-manifest-rename commit path, the same
    * schema anchor that keeps every read shape working on an empty
    * table, zero new invariants. A table that already exists refuses
    * with [[TableExistsException]] (CREATE is not idempotent — a
    * second creator must not silently adopt the first one's table).
    */
  def createTable(spark: SparkSession, dir: String,
                  schema: org.apache.spark.sql.types.StructType,
                  pk: Seq[String], versionCol: String,
                  numBuckets: Int = DefaultNumBuckets,
                  zoneCols: Seq[String] = Nil,
                  valueClusterBy: Seq[String] = Nil): Unit = {
    def canon(n: String) = SchemaEvolution.canon(spark, n)
    require(pk.nonEmpty, s"CREATE TABLE $dir needs at least one pk column")
    require(numBuckets > 0,
      s"CREATE TABLE $dir: numBuckets must be positive, got $numBuckets — " +
        "a zero-bucket contract would fail every subsequent write")
    (pk :+ versionCol).foreach { c =>
      if (!schema.fields.exists(f => canon(f.name) == canon(c)))
        throw new TableContractException(
          s"CREATE TABLE $dir: contract column '$c' is not in the schema " +
            s"(${schema.fieldNames.mkString(", ")})")
      if (c.exists(ch => ch == ',' || ch == '=' || ch == '\n'))
        throw new TableContractException(
          s"CREATE TABLE $dir: column name '$c' contains a manifest metacharacter")
    }
    (zoneCols ++ valueClusterBy).foreach(c =>
      if (!schema.fields.exists(f => canon(f.name) == canon(c)))
        throw new TableContractException(
          s"CREATE TABLE $dir: zone/cluster column '$c' is not in the schema " +
            s"(${schema.fieldNames.mkString(", ")})"))
    // the exists check and the creating commit share ONE lease window:
    // two racing creators serialize, and the loser's re-check throws
    // instead of silently adopting the winner's table
    withWriterLease(spark, dir) {
      if (currentManifest(spark, dir).isDefined)
        throw new TableExistsException(s"table at $dir already exists")
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      mergeLocked(spark, dir, empty, pk = pk, versionCol = versionCol,
        deleteFlagCol = None, numBuckets = numBuckets, changeLog = false,
        commitId = None, bloom = false, maxPointKeys = 1024,
        zoneCols = zoneCols, extraProps = Map.empty,
        valueClusterBy = valueClusterBy)
    }
  }

  /** DDL `INSERT OVERWRITE`: rebuild the table's CONTENT under its
    * recorded contract — pk, version column, and bucket count all come
    * from the manifest (an overwrite changes rows, never placement).
    * The batch is LWW-resolved within itself (same pk+version
    * semantics as [[merge]]), re-bucketed, and committed as one full
    * snapshot via [[replaceAll]] — readers see the old table or the
    * complete new one, never a mix, and MVCC time travel still reaches
    * the pre-overwrite generations until vacuum. Manifest props CARRY
    * OVER (same posture as merge): dropped-column tombstones stay
    * binding (retained generations still reference the old files), and
    * the streaming sink's per-query `streamEpoch.*` replay watermarks
    * survive — an overwrite between a sink commit and a checkpoint
    * advance must not turn the replayed epoch back into a merge.
    */
  def overwrite(spark: SparkSession, dir: String, updates: DataFrame): Unit =
      withWriterLease(spark, dir) {
    val man = currentManifest(spark, dir).getOrElse(
      throw new NoTableException(s"no committed manifest under $dir"))
    val pk = man.props.get(PkColsProp).map(_.split(",").toSeq)
      .filter(_.nonEmpty).getOrElse(throw new TableContractException(
        s"$dir records no placement pk — not a merge table; use overwriteSnapshot"))
    val versionCol = man.props.get(VersionColProp).getOrElse(
      throw new TableContractException(
        s"$dir records no versionCol — not a merge table; use overwriteSnapshot"))
    (pk :+ versionCol).foreach(c => require(updates.columns.contains(c),
      s"INSERT OVERWRITE batch lacks contract column '$c' of $dir"))
    // tombstoned names must not ride back in through the rebuild
    tableSchema(man).foreach(existing =>
      SchemaEvolution.checkAdditive(spark, existing,
        updates.drop(BucketCol).schema,
        existingLabel = s"table $dir", incomingLabel = "INSERT OVERWRITE batch",
        dropped = droppedSet(man)))
    val n = man.numBuckets(DefaultNumBuckets)
    val resolved = resolve(updates.withColumn("__src", lit(1)), pk, versionCol, None)
    replaceAll(spark, dir, withBucket(resolved, pk, n), man.props,
      bloomPk = None)
  }

  /** DDL ALTER ADD COLUMNS — metadata-only additive evolution: the
    * widened schema commits as a new generation, no data file is
    * rewritten, rows in every existing file surface NULL for the new
    * columns (the additive contract [[merge]] already applies to
    * wide batches, available as an explicit statement). New columns
    * are forced nullable — existing files cannot retroactively hold a
    * value. Re-adding a tombstoned (dropped) name and duplicating an
    * existing name both refuse loudly.
    */
  def addColumns(spark: SparkSession, dir: String,
                 cols: Seq[org.apache.spark.sql.types.StructField]): Unit =
      withWriterLease(spark, dir) {
    if (cols.isEmpty) return
    def canon(n: String) = SchemaEvolution.canon(spark, n)
    val man = currentManifest(spark, dir).getOrElse(
      throw new NoTableException(s"no committed manifest under $dir"))
    val schema = tableSchema(man).getOrElse(
      throw new SchemaEvolutionException(
        s"cannot add columns: the table at $dir has no recorded schema"))
    cols.foreach { f =>
      if (f.name.exists(ch => ch == ',' || ch == '=' || ch == '\n'))
        throw new SchemaEvolutionException(
          s"cannot add column '${f.name}': the name contains a manifest metacharacter")
      if (schema.fields.exists(tf => canon(tf.name) == canon(f.name)))
        throw new SchemaEvolutionException(
          s"cannot add column '${f.name}': the table already has it")
    }
    cols.groupBy(f => canon(f.name)).collectFirst { case (_, fs) if fs.size > 1 =>
      throw new SchemaEvolutionException(
        s"cannot add column '${fs.head.name}' twice in one statement")
    }
    val widened0 = org.apache.spark.sql.types.StructType(
      schema.fields ++ cols.map(_.copy(nullable = true)))
    // tombstone / type / renamed-away guards on the widened shape
    SchemaEvolution.checkAdditive(spark, schema, widened0,
      existingLabel = s"table $dir", incomingLabel = "ALTER ADD COLUMNS",
      dropped = droppedSet(man), renamed = renamedFromOf(man))
    // fresh field ids for the added columns (never reusing a dropped
    // column's id — maxColumnId is the monotone high-water mark), only
    // when the table is already id-stamped: mixing id-less fields into
    // a stamped schema would withdraw the id-read gate
    val prevMax = math.max(
      man.props.get(MaxColIdProp).map(_.toLong).getOrElse(0L),
      FieldIds.maxId(schema))
    val widened =
      if (FieldIds.hasIds(schema))
        FieldIds.stampSchema(spark, Some(schema), prevMax, widened0)
      else widened0
    commitManifest(spark, dir, Manifest(nextGen(spark, dir),
      man.props + (SchemaProp -> FieldIds.serialize(widened))
        + (MaxColIdProp -> math.max(prevMax, FieldIds.maxId(widened)).toString),
      man.files), Some(man), op = "add-columns")
  }

  /** DDL DROP TABLE: delete the table directory — manifests, data
    * files, sidecars, change feed, staging — in one recursive remove,
    * under the writer lease so an in-flight merge is never raced
    * (the lease file goes down with the dir; release tolerates the
    * vanish). Returns false when no committed table exists (nothing
    * to drop — a raw parquet dir is NOT deletable through this API).
    */
  def dropTable(spark: SparkSession, dir: String): Boolean = {
    if (currentManifest(spark, dir).isEmpty) return false
    withWriterLease(spark, dir) {
      // re-check under the lease: a concurrent drop may have won
      if (currentManifest(spark, dir).isEmpty) false
      else {
        val root = new Path(dir)
        FileMeta.forget(dir)
        FsOps.fs(spark, root).delete(root, true)
      }
    }
  }

  /** Garbage-collect superseded generations: keep the newest
    * `keepManifests` manifests and every file they reference; delete
    * older manifests, unreferenced files, and orphaned staging dirs
    * (crashed merges). keepManifests ≥ 2 leaves the previous snapshot
    * intact for readers that resolved it just before a commit. Takes
    * the same writer lease as merge, so it REFUSES (throws) while a
    * writer holds the table rather than racing its staged files.
    */
  /** Age-based retention — the calendar form of [[vacuum]]: drop
    * generations whose manifest commit stamp ([[CommittedAtProp]]) is
    * older than `olderThanMs`, always keeping the newest `keepLast`
    * (≥ 1; default 2 preserves the previous snapshot for readers that
    * resolved it just before a commit, the same posture as vacuum).
    * Pre-stamp manifests count as expired. Returns the number of
    * generations retained. All GC mechanics (segment files,
    * unreferenced data files, orphaned staging) are [[vacuum]]'s.
    */
  def expireSnapshots(spark: SparkSession, dir: String, olderThanMs: Long,
                      keepLast: Int = 2): Int = {
    if (currentManifest(spark, dir).isEmpty)
      throw new NoTableException(s"no committed manifest under $dir")
    // keep-count and deletion run under ONE lease: a commit landing
    // between them would shift the newest-N window and delete a
    // generation that was inside the age cutoff
    withWriterLease(spark, dir) {
      val floor = math.max(1, keepLast)
      val gens = manifestGens(spark, dir).sorted.reverse
      if (gens.isEmpty) 0
      else {
        val keep = gens.zipWithIndex.count { case (g, idx) =>
          idx < floor || manifestAt(spark, dir, g)
            .flatMap(_.props.get(CommittedAtProp)).map(_.toLong)
            .exists(_ >= olderThanMs)
        }
        vacuumLocked(spark, dir, keep)
        keep
      }
    }
  }

  def vacuum(spark: SparkSession, dir: String, keepManifests: Int = 2): Unit = {
    val root = new Path(dir)
    val fs0 = FsOps.fs(spark, root)
    if (!fs0.exists(root)) return
    withWriterLease(spark, dir) {
      vacuumLocked(spark, dir, keepManifests)
    }
  }

  /** [[vacuum]]'s body, caller already holding `dir`'s writer lease. */
  private def vacuumLocked(spark: SparkSession, dir: String,
                           keepManifests: Int): Unit = {
    val root = new Path(dir)
    val fs0 = FsOps.fs(spark, root)
    if (!fs0.exists(root)) return
    {
    val fs = fs0
    val statuses = fs.listStatus(root)
    val entries = statuses.map(_.getPath.getName)
    // optimistic stages in flight (fresh `_intent-<gen>`, heartbeated
    // like the lease): their generation dirs are being written WITHOUT
    // the table lease this vacuum holds — sweeping them would delete a
    // live writer's staged files out from under its commit. Skip those
    // gens; STALE intents are crashed writers — delete the marker so
    // this (and every later) vacuum reclaims their garbage.
    val staleMs = leaseStaleMs(spark)
    val now = System.currentTimeMillis()
    val liveIntents: Set[Long] = statuses.collect {
      case s if IntentRe.matches(s.getPath.getName) =>
        val g = s.getPath.getName.stripPrefix("_intent-").toLong
        if (now - s.getModificationTime > staleMs) {
          fs.delete(s.getPath, false); -1L
        } else g
    }.toSet - (-1L)
    val gens = entries.collect { case ManifestRe(g) => g.toLong }.sorted
    if (gens.isEmpty) return
    val keep = gens.takeRight(math.max(1, keepManifests))
    // resolve BEFORE deleting: kept roots may reference segment files
    // minted by older (about-to-be-deleted) generations
    val keptManifests = keep.flatMap(g => manifestAt(spark, dir, g))
    val referenced: Set[String] = keptManifests.flatMap(_.allFiles).toSet
    val referencedSegs: Set[String] =
      keptManifests.flatMap(_.segRefs.values).toSet
    // old manifests
    gens.dropRight(math.max(1, keepManifests)).foreach { g =>
      fs.delete(new Path(root, manifestName(g)), false)
    }
    // segment files no kept root references (superseded or orphaned by
    // a crash before a root rename)
    entries.collect { case n @ MsegRe(_, _) => n }
      .filterNot(referencedSegs.contains)
      .foreach(n => fs.delete(new Path(root, n), false))
    // unreferenced data files inside generation dirs, then dirs that no
    // longer hold any referenced file (a dir left with only sidecars /
    // _SUCCESS markers goes too)
    entries.collect { case n @ GenDirRe(_) => n }.foreach { genName =>
      val genPath = new Path(root, genName)
      if (liveIntents.contains(genName.stripPrefix("__gen=").toLong)) {
        // in-flight optimistic stage: leave the whole dir alone
      } else {
      fs.listStatus(genPath).filter(_.isDirectory).foreach { bDir =>
        // value-clustered layouts nest one `__cv=` level under the
        // bucket dir — the sweep must recurse, or every nested data
        // file would be invisible to the referenced-count and the
        // bucket dir (referencedLeft == 0) deleted WITH live data
        var referencedLeft = 0
        def sweep(d: Path, relPrefix: String): Unit =
          fs.listStatus(d).foreach { f =>
            val name = f.getPath.getName
            if (f.isDirectory && name.startsWith(s"$CvCol=")) {
              val before = referencedLeft
              sweep(f.getPath, s"$relPrefix/$name")
              // a cv dir whose every data file was reclaimed goes too
              if (referencedLeft == before) fs.delete(f.getPath, true)
            } else if (!name.startsWith("_") && !name.startsWith(".")) {
              if (referenced.contains(s"$relPrefix/$name")) referencedLeft += 1
              else fs.delete(f.getPath, false)
            }
          }
        sweep(bDir.getPath, s"$genName/${bDir.getPath.getName}")
        if (referencedLeft == 0) fs.delete(bDir.getPath, true)
      }
      if (!fs.listStatus(genPath).exists(_.isDirectory)) fs.delete(genPath, true)
      }
    }
    }
  }

  /** Full-refresh commit for NON-KEYED tables (gold aggregates, DWS
    * snapshots) through the same `_manifest-<gen>` discipline as keyed
    * merges (VERDICT r4 #1 — the last delete-then-rename commit point):
    * the new content stages invisibly under a fresh generation dir and
    * ONE manifest rename makes it the table. A reader never sees a
    * missing dir or a mixed snapshot — it resolves either the previous
    * complete table or the new complete table; superseded generations
    * stay on disk until [[vacuum]] (call with keepManifests ≥ 2 after
    * each refresh to bound garbage while protecting in-flight readers).
    *
    * `props` ride in the manifest, so table data and metadata (e.g. an
    * applied-watermark) are the SAME atomic commit — a crash can never
    * leave the watermark ahead of or behind the content it describes.
    */
  def overwriteSnapshot(spark: SparkSession, dir: String, df: DataFrame,
                        props: Map[String, String] = Map.empty,
                        zoneCols: Seq[String] = Nil,
                        clusterBy: Seq[String] = Nil,
                        filesTarget: Int = 0): Unit = {
    refuseMorRoot(spark, dir, "overwriteSnapshot")
    withWriterLease(spark, dir) {
    val gen = nextGen(spark, dir)
    val out = new Path(dir, s"__gen=$gen/$BucketCol=0")
    // clusterBy + filesTarget: range-split the snapshot into files with
    // disjoint clusterBy ranges (the bulk-load analog of clustered
    // compaction) so the zone sidecar prunes tightly from day one.
    // clusterBy columns prefixed `__` are LAYOUT-ONLY (e.g. a z-order
    // value, see [[Zorder]]): they order the write, then drop from the
    // stored files and schema.
    val layoutCols = clusterBy.filter(_.startsWith("__"))
    val arranged =
      if (clusterBy.nonEmpty && filesTarget > 0)
        df.repartitionByRange(filesTarget, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
      else df
    val stored0 = if (layoutCols.isEmpty) arranged else arranged.drop(layoutCols: _*)
    // field-id continuity (r13): a rebuilt snapshot keeps the column
    // ids of the table it replaces, so reads spanning the rebuild stay
    // id-resolvable; every file is new, so the id era resets to gen
    val (stored, idProps) = stampForStage(spark, currentManifest(spark, dir),
      gen, stored0)
    val storedSchema = stored.schema
    stored.write.mode("overwrite").parquet(out.toString)
    val fs = FsOps.fs(spark, out)
    val zoneStats = zoneCols.flatMap(c =>
      storedSchema.fields.find(_.name == c).map(f => c -> f.dataType))
    if (zoneStats.nonEmpty)
      Zones.write(fs, out, Zones.buildForDir(spark, out.toString, zoneStats))
    val files = fs.listStatus(out).toSeq.map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
      .map(n => s"__gen=$gen/$BucketCol=0/$n")
    val fileMap =
      if (files.nonEmpty) Map(0 -> files)
      else Map(SchemaBucket -> stageSchemaAnchor(spark, dir, gen, stored))
    val zoneProp =
      if (zoneCols.nonEmpty) Map(ZoneColsProp -> zoneCols.mkString(","))
      else Map.empty[String, String]
    commitManifest(spark, dir, Manifest(gen,
      props ++ idProps + (IdGenProp -> gen.toString)
        + (SchemaProp -> FieldIds.serialize(storedSchema)) ++ zoneProp, fileMap),
      op = "overwrite")
  }
  }
}
