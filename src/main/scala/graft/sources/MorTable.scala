package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.MergeOnRead

/** SQL read surface for a merge-on-read root (`dir/base` + `dir/delta`)
  * — `SELECT * FROM graft.`/path/to/mor`` resolves the SAME content as
  * [[graft.io.MergeOnRead.read]]: newest (version, batch) per PK wins,
  * delete rows vanish.
  *
  * A MOR read is read-time COMPUTATION (delta resolution), not a file
  * scan, so it cannot be a DSv2 `Scan` without losing the two-path
  * plan choice (broadcast fast path / zero-exchange SPJ resolve) the
  * API read carries. Instead the catalog hands back this placeholder
  * table — schema and contract from the root's durable `_contract` —
  * and [[MorReadRule]] (an analyzer rule injected by
  * [[graft.core.GraftExtensions]]) replaces the relation with the
  * composed read plan BEFORE optimization. The substituted tree is
  * ordinary Catalyst from there: outer filters push into base and
  * delta scans, column pruning reaches the parquet footers, and the
  * big-delta path keeps its storage-partitioned zero-exchange resolve.
  * This is the standard lakehouse shape for computed reads (Delta Lake
  * rewrites its DML and CDF relations through analyzer rules the same
  * way).
  *
  * Reference analog: upsert-kafka topics resolve retractions at READ
  * time by compacted-topic semantics (SQLUtil.java:46-54); this is
  * that resolution, durably on files, reachable from SQL.
  */
private[graft] case class MorTable(dir: String, pk: Seq[String],
                                   versionCol: String,
                                   deleteFlagCol: Option[String],
                                   numBuckets: Int,
                                   dataSchema: StructType,
                                   snap: MergeOnRead.Snapshot,
                                   pinnedVersion: Option[Long] = None,
                                   // contract AS OF the pinned version
                                   // (r14): time travel reconciles under
                                   // v's own era — names, tombstones,
                                   // declared shape
                                   asOfKv: Option[Map[String, String]] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  override def name(): String =
    s"mor:$dir" + pinnedVersion.map(v => s"@v$v").getOrElse("")
  override def schema(): StructType = dataSchema
  // TRUNCATE is declared so INSERT OVERWRITE reaches our own refusal
  // (with the compact pointer) instead of Spark's generic
  // capability-check message; the builder's truncate() throws.
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  /** `DESCRIBE TABLE EXTENDED`: the recorded merge contract. */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("provider", "graft-mor")
    m.put("pk", pk.mkString(","))
    m.put("versionCol", versionCol)
    deleteFlagCol.foreach(m.put("deleteFlagCol", _))
    m.put("numBuckets", numBuckets.toString)
    m
  }

  /** Never executed when [[MorReadRule]] is installed — the relation
    * is substituted during analysis. The builder itself must exist
    * (DESCRIBE probes it for statistics), but a bare session (no
    * GraftExtensions) that tries to actually SCAN through it gets the
    * honest pointer instead of silent wrong content.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new org.apache.spark.sql.connector.read.Scan {
      override def readSchema(): StructType = dataSchema
      override def toBatch: org.apache.spark.sql.connector.read.Batch =
        throw new UnsupportedOperationException(
          graft.core.GraftExtensions.missing(
            "merge-on-read SQL reads need the MorReadRule analyzer rule") +
            ", or read through graft.io.MergeOnRead.read")
    }

  /** SQL `INSERT INTO` = [[graft.io.MergeOnRead.merge]]: the batch
    * lands verbatim as the next delta directory — O(batch) write cost
    * whatever the key distribution, exactly the firehose contract the
    * layout exists for. Retractions insert a `deleteFlagCol='delete'`
    * row. `INSERT OVERWRITE` refuses: base rewrites belong to
    * compaction, not to a write path that would have to fold live
    * deltas mid-statement.
    */
  /** SQL `MERGE INTO` / `UPDATE` / `DELETE` = one O(batch) delta
    * append ([[MorRowLevelOperation]]): Spark's own row-level rewrites
    * join target and source and hand the write only the CHANGED rows;
    * the commit lands them as the next `delta/batch=K` under the
    * recorded LWW contract — the base is never rewritten, whatever the
    * key distribution. The write-side symmetry of the reference's
    * upsert-kafka SQL surface (SQLUtil.java:46-54).
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    refusePinnedWrite("row-level " + info.command)
    () => new MorRowLevelOperation(this, info.command())
  }

  private def refusePinnedWrite(what: String): Unit =
    pinnedVersion.foreach(v => throw new UnsupportedOperationException(
      s"$what on merge-on-read table $dir VERSION AS OF $v: time-travel " +
        "relations are read-only — write to the current table"))

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    refusePinnedWrite("INSERT INTO")
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder =
        throw new UnsupportedOperationException(
          s"INSERT OVERWRITE on merge-on-read table $dir is not supported — " +
            "the base rewrites through MergeOnRead.compact; append " +
            "corrections/retractions instead")
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
              if (overwrite) throw new UnsupportedOperationException(
                s"INSERT OVERWRITE on merge-on-read table $dir is not " +
                  "supported — the base rewrites through MergeOnRead.compact; " +
                  "append corrections/retractions instead")
              MergeOnRead.merge(data.sparkSession, dir, data)
            }
        }
    }
  }
}

private[graft] object MorTable {
  /** True when `dir` holds a REAL merge-on-read shape (recorded
    * contract / committed base manifest / committed delta batch) —
    * see [[graft.io.MergeOnRead.isMorRoot]]; a raw directory with a
    * child merely named base/delta does not qualify.
    */
  def isMorRoot(spark: SparkSession, dir: String): Boolean =
    MergeOnRead.isMorRoot(spark, dir)

  /** Load the placeholder from the root's recorded contract, pinning
    * ONE snapshot (base manifest + live delta list): the schema is
    * the pinned read's (base ∪ delta widened), and every
    * [[MorReadRule]] substitution in the query composes from the SAME
    * snapshot — a self-join can never resolve two racing states.
    */
  def load(spark: SparkSession, dir: String): MorTable = {
    val (pk, vc, del, n) = contractOf(spark, dir)
    val snap = MergeOnRead.currentSnapshot(spark, dir)
    MorTable(dir, pk, vc, del, n,
      contractSchema(spark, dir, snap, pk, vc, del), snap)
  }

  /** The pinned read's schema with the contract columns (pk + version)
    * reported NOT NULL — the LWW identity/order contract, same as the
    * Upsert table's NOT-NULL pk, and what Spark's row-level DML
    * rewrite requires of row-id attributes. The claim is ENFORCED at
    * BOTH boundaries: recording the contract refuses if the
    * pre-contract resolved content holds any null pk/version row
    * (ADVICE r10 — compact() folds resolved content verbatim, so such
    * rows would otherwise serve forever under this schema), and once
    * recorded, [[graft.io.MergeOnRead.merge]] refuses batches with
    * null (or missing) pk/version columns — so no SQL-readable root
    * can ever hold rows contradicting this schema.
    */
  private def contractSchema(spark: SparkSession, dir: String,
                             snap: MergeOnRead.Snapshot, pk: Seq[String],
                             vc: String, del: Option[String],
                             kvAsOf: Option[Map[String, String]] = None): StructType = {
    val contract = (pk :+ vc).toSet
    StructType(MergeOnRead.readPinned(spark, dir, snap, pk, vc, del,
        MergeOnRead.DefaultBroadcastDeltaBytes, kvAsOf = kvAsOf).schema.fields
      .map(f => if (contract(f.name)) f.copy(nullable = false) else f))
  }

  /** `VERSION AS OF <delta batch id>` — a pinned, read-only snapshot
    * reconstructed from compaction watermarks + retained delta batches
    * ([[graft.io.MergeOnRead.snapshotAt]]); non-reconstructible
    * versions refuse there, naming the GC'd batches.
    *
    * Schema note (r14, VERDICT r13 #4): the contract records a
    * per-evolution SCHEMA HISTORY ([[graft.io.MergeOnRead]]
    * `schemaHistory` — each ADD/DROP/RENAME stamps the pre-evolution
    * name state with its delta-batch watermark), so time travel serves
    * snapshot v under v's OWN era: a column dropped later still
    * surfaces, a column added later stays out, and pre-rename versions
    * read under pre-rename names — CoW-parity versioned schemas.
    * Contracts recorded before the history existed keep the old
    * table-level semantics (their history is unrecoverable).
    */
  def loadAt(spark: SparkSession, dir: String, version: String): MorTable = {
    val v = try version.toLong catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(
        s"VERSION AS OF '$version' on merge-on-read table $dir: versions " +
          "are delta batch ids (integers)") }
    val (pk, vc, del, n) = contractOf(spark, dir)
    val snap = MergeOnRead.snapshotAt(spark, dir, v)
    // the contract AS OF v (r14): the snapshot reconciles under its
    // own era's names and declared shape, not the current contract's
    val kvAt = MergeOnRead.contractKvAt(spark, dir, v)
    MorTable(dir, pk, vc, del, n,
      contractSchema(spark, dir, snap, pk, vc, del, kvAt), snap, Some(v), kvAt)
  }

  /** `TIMESTAMP AS OF` — micros from Spark, resolved to the newest
    * retained delta batch committed at or before it.
    */
  def loadAtTimestamp(spark: SparkSession, dir: String, micros: Long): MorTable =
    loadAt(spark, dir,
      MergeOnRead.versionAtTimestamp(spark, dir,
        Math.floorDiv(micros, 1000L)).toString)

  private def contractOf(spark: SparkSession, dir: String)
      : (Seq[String], String, Option[String], Int) =
    MergeOnRead.contract(spark, dir).getOrElse(
      throw new UnsupportedOperationException(
        s"$dir is a merge-on-read table with no recorded contract — run one " +
          "MergeOnRead.compact (or recordContract) first, or read through " +
          "graft.io.MergeOnRead.read"))
}

/** Analyzer rule: every [[MorTable]] relation becomes the composed
  * [[graft.io.MergeOnRead.read]] plan, re-aliased onto the relation's
  * output attributes. Each occurrence gets a FRESH plan (fresh exprIds)
  * so self-joins of one MOR table never collide; the fixed point
  * terminates because the substitute contains no MorTable relation.
  */
private[graft] case class MorReadRule(spark: SparkSession) extends Rule[LogicalPlan] {
  /** The MorTable behind a relation: direct, or wrapped in Spark's
    * [[org.apache.spark.sql.connector.write.RowLevelOperationTable]]
    * (the target-scan relation the row-level DML rewrites plant inside
    * their WriteDelta query — substituting it is what lets MERGE/
    * UPDATE/DELETE read the RESOLVED content; the WriteDelta's own
    * `table` field is not a child, so the write target survives).
    */
  private def morOf(t: org.apache.spark.sql.connector.catalog.Table): Option[MorTable] =
    t match {
      case m: MorTable => Some(m)
      case other => org.apache.spark.sql.graft.Bridge
        .rowLevelOperationTarget(other)
        .collect { case m: MorTable => m }
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // the TARGET relation of a row-level command must stay a relation:
    // Spark's RewriteUpdateTable/RewriteDeleteFromTable/
    // RewriteMergeIntoTable match on it to build the WriteDelta plan
    // (whose RowLevelOperationTable scan THIS rule then substitutes —
    // the morOf wrapper branch). Substituting the bare target first
    // would leave the command unrewritten and fail at planning.
    // Identity-keyed: the same table may appear on the SOURCE side of
    // a MERGE as a different relation instance, which we DO substitute.
    val dmlTargets = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    def targetsOf(p: LogicalPlan): Unit =
      p.foreach { case r: DataSourceV2Relation => dmlTargets.add(r); case _ => () }
    plan.foreach {
      case u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable =>
        targetsOf(u.table)
      case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable =>
        targetsOf(d.table)
      case m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable =>
        targetsOf(m.targetTable)
      case _ => ()
    }
    plan resolveOperatorsUp {
    case r: DataSourceV2Relation
        if !dmlTargets.contains(r) && morOf(r.table).isDefined =>
      val t = morOf(r.table).get
      // spark.graft.mor.broadcastDeltaBytes scopes the read's
      // fast-path/SPJ choice for SQL readers (no API parameter there)
      val thresh = spark.conf
        .get("spark.graft.mor.broadcastDeltaBytes",
          MergeOnRead.DefaultBroadcastDeltaBytes.toString).toLong
      // composed from the snapshot PINNED at loadTable: all relations
      // of this table in the query resolve one state, and nothing is
      // re-listed per occurrence (fresh exprIds per composition keep
      // self-joins collision-free)
      val child = MergeOnRead
        .readPinned(spark, t.dir, t.snap, t.pk, t.versionCol,
          t.deleteFlagCol, thresh, kvAsOf = t.asOfKv)
        .queryExecution.analyzed
      val byName = child.output.map(a => a.name -> a).toMap
      Project(r.output.map { a =>
        val src = byName.getOrElse(a.name, throw new IllegalStateException(
          s"merge-on-read table ${t.dir} no longer resolves column '${a.name}' " +
            "— schema changed between analysis and substitution (concurrent " +
            "compaction with evolution?); re-run the query"))
        if (src.dataType != a.dataType) throw new IllegalStateException(
          s"merge-on-read table ${t.dir} column '${a.name}' changed type " +
            s"${a.dataType.simpleString} -> ${src.dataType.simpleString} between " +
            "analysis and substitution; re-run the query")
        Alias(src, a.name)(exprId = a.exprId)
      }, child)
    }
  }
}
