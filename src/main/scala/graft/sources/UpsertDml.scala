package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.graft.ParquetWriteShim
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.io.Upsert

/** SQL row-level DML (`MERGE INTO` / `UPDATE` / `DELETE`) over
  * [[UpsertBucketTable]] — the delta-based `SupportsDelta` form:
  * Spark's own rewrites (RewriteMergeIntoTable / RewriteUpdateTable /
  * RewriteDeleteFromTable) join target and source and hand this write
  * only the CHANGED rows, each tagged insert/update/delete with the
  * pk as the row id. Executors append the tagged rows as plain
  * parquet delta files into a hidden staging dir (via Spark's own
  * parquet writer stack, [[ParquetWriteShim]] — never a driver
  * collect), and the driver's commit folds the staged delta through
  * [[graft.io.Upsert.applyDelta]]: one bucket-pruned rewrite, one
  * manifest rename, under the table's writer lease. A crash or abort
  * before that rename leaves only an invisible staging dir.
  *
  * Semantics are imperative (the delta wins), exactly what SQL DML
  * means — distinct from the API merge's LWW-by-version replay
  * contract. Guardrails mirror `INSERT INTO`: tables without a
  * recorded pk refuse at planning, change-feed tables refuse (a SQL
  * write bypassing the feed would silently starve its consumers).
  */
private[sources] class UpsertRowLevelOperation(table: UpsertBucketTable,
                                               cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  require(table.pk.nonEmpty,
    s"${table.name()} records no pk columns; row-level SQL DML needs the " +
      "placement contract — write through graft.io.Upsert")

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new UpsertScanBuilder(table)

  override def rowId(): Array[NamedReference] =
    table.pk.map(Expressions.column).toArray

  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder = {
    val spark = SparkSession.active
    if (graft.io.ChangeFeed.batches(spark, table.dir).nonEmpty)
      throw new UnsupportedOperationException(
        s"${table.dir} has a change feed: SQL ${cmd} would bypass it; " +
          "write through graft.io.Upsert.merge(changeLog = true)")
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new UpsertDeltaWrite(table,
        // a pure DELETE has NO row projection — only the row id (pk);
        // stage just those coordinates, applyDelta's widen fills the rest
        if (info.schema().nonEmpty) info.schema()
        else info.rowIdSchema().orElse(StructType(Nil)))
    }
  }
}

private[sources] class UpsertDeltaWrite(table: UpsertBucketTable,
                                        rowSchema: StructType)
    extends DeltaWrite {
  override def toBatch: DeltaBatchWrite = new UpsertDeltaBatchWrite(table, rowSchema)
}

private[sources] object UpsertDml {
  val OpCol = "__op"
}

/** Shared staging protocol for the delta-based row-level writes: the
  * executors land Spark's tagged rows (row + `__op`) as plain parquet
  * in a hidden `.dml-<uuid>` dir via [[UpsertDeltaWriterFactory]], and
  * the driver's commit hands the staged frame to the layout-specific
  * [[fold]] — `Upsert.applyDelta` (bucket-pruned rewrite) or the
  * merge-on-read O(batch) delta append. A crash or abort before the
  * fold's own atomic commit leaves only the invisible staging dir,
  * which cleanup removes. Staged FULLY NULLABLE: delete rows carry
  * NULL for every non-id column, and a parquet writer given a NOT-NULL
  * schema would write them without definition levels — silent file
  * corruption, not an error.
  */
private[sources] abstract class StagedDeltaBatchWrite(dir: String,
                                                      rowSchema: StructType,
                                                      idCols: Seq[String],
                                                      guardCount: Int,
                                                      guardNames: Seq[String],
                                                      versionGuardIdx: Int = -1)
    extends DeltaBatchWrite {

  // id-free staging (r13): the row schema may carry parquet field-id
  // metadata from the table's manifest; the hidden `.dml` files are
  // transient and the fold re-stamps at commit, so stripping keeps the
  // stage/read pair self-consistent whatever the writer emits
  protected val stagedSchema: StructType =
    StructType(graft.io.FieldIds.stripIds(
      StructType(rowSchema.fields.map(_.copy(nullable = true)))).fields :+
      StructField(UpsertDml.OpCol, StringType, nullable = true))
  private val staging: String =
    s"${dir.stripSuffix("/")}/.dml-${UUID.randomUUID()}"

  /** Fold the staged tagged rows (schema = [[stagedSchema]], `__op` ∈
    * upsert/delete) into the table — the layout-specific commit.
    */
  protected def fold(spark: SparkSession,
                     staged: org.apache.spark.sql.DataFrame): Unit

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    val spark = SparkSession.active
    val fs = new Path(staging).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(staging))
    val support = ParquetWriteShim.build(spark, stagedSchema)
    // row-id order → positions in the row schema
    val idIdx = idCols.map(c => rowSchema.fieldIndex(c)).toArray
    new UpsertDeltaWriterFactory(staging, support, rowSchema, idIdx,
      guardCount, guardNames, versionGuardIdx)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = messages.collect { case DeltaFileCommit(path) => path }
    try {
      if (files.nonEmpty)
        fold(spark, Upsert.scanPaths(spark, staging,
          files.toIndexedSeq.map(new Path(_)), Some(stagedSchema)))
    } finally cleanup(spark)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    cleanup(SparkSession.active)

  private def cleanup(spark: SparkSession): Unit = {
    val p = new Path(staging)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }
}

private[sources] class UpsertDeltaBatchWrite(table: UpsertBucketTable,
                                             rowSchema: StructType)
    extends StagedDeltaBatchWrite(table.dir, rowSchema,
      idCols = table.pk, guardCount = table.pk.length, guardNames = table.pk) {
  override protected def fold(spark: SparkSession,
                              staged: org.apache.spark.sql.DataFrame): Unit =
    Upsert.applyDelta(spark, table.dir, staged, UpsertDml.OpCol)
}

private[sources] case class DeltaFileCommit(path: String) extends WriterCommitMessage

/** Stages Spark's tagged delta rows as parquet on the executors.
  *
  * `pkIdx` maps the operation's ROW-ID fields (in rowId order) to their
  * positions in `dataSchema`; the first `guardCount` of them are the
  * table's IDENTITY columns (the placement pk), and an UPDATE whose new
  * row changes any of them REFUSES loudly at execution: the delta form
  * emits one upsert row per update, so a re-keying SET would land the
  * NEW key and silently leave the OLD row in place — a duplication, not
  * an update. Re-keying is a DELETE + INSERT (SQL or MERGE). The
  * remaining id fields (e.g. the MOR version column, carried in the
  * row id so deletes know the superseded version) may change — but a
  * LOWERED (or nulled) version refuses too when `versionGuardIdx` ≥ 0
  * names one (ADVICE r10): under LWW resolution the landed delta row
  * would lose to the matched row forever, so the UPDATE would report
  * success, change nothing at read, and leave permanent dead weight in
  * the delta log. Raising or keeping the version is an effective
  * update (ties break to the newer batch); lowering it is a silent
  * no-op by construction, surfaced here as an error instead.
  */
private[sources] class UpsertDeltaWriterFactory(staging: String,
                                                support: ParquetWriteShim.WriteSupport,
                                                dataSchema: StructType,
                                                pkIdx: Array[Int],
                                                guardCount: Int,
                                                guardNames: Seq[String],
                                                versionGuardIdx: Int = -1)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val path =
        s"$staging/part-$partitionId-$taskId-${UUID.randomUUID()}.parquet"
      private lazy val writer = support.newWriter(path, partitionId, taskId)
      private var wrote = false
      private val types: Array[DataType] = dataSchema.fields.map(_.dataType)
      private val width = types.length

      private def emit(row: InternalRow, op: String): Unit = {
        val out = new GenericInternalRow(width + 1)
        var i = 0
        while (i < width) {
          out.update(i, if (row.isNullAt(i)) null else row.get(i, types(i)))
          i += 1
        }
        out.update(width, UTF8String.fromString(op))
        writer.write(out); wrote = true
      }

      override def insert(row: InternalRow): Unit = emit(row, "upsert")

      private lazy val versionOrdering =
        org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(types(pkIdx(versionGuardIdx)))

      override def update(metadata: InternalRow, id: InternalRow,
                          row: InternalRow): Unit = {
        var i = 0
        while (i < guardCount) {
          val t = types(pkIdx(i))
          val old = if (id.isNullAt(i)) null else id.get(i, t)
          val neu = if (row.isNullAt(pkIdx(i))) null else row.get(pkIdx(i), t)
          if (!java.util.Objects.equals(old, neu))
            throw new UnsupportedOperationException(
              s"UPDATE must not change identity column '${guardNames(i)}' " +
                s"($old -> $neu): the delta form would land the new key and " +
                "leave the old row in place — re-key via DELETE + INSERT " +
                "(or a MERGE with a DELETE and an INSERT clause)")
          i += 1
        }
        if (versionGuardIdx >= 0) {
          val vi = pkIdx(versionGuardIdx)
          val t = types(vi)
          val old = if (id.isNullAt(versionGuardIdx)) null
            else id.get(versionGuardIdx, t)
          val neu = if (row.isNullAt(vi)) null else row.get(vi, t)
          if (old != null && (neu == null || versionOrdering.compare(neu, old) < 0))
            throw new UnsupportedOperationException(
              s"UPDATE lowers the LWW version column " +
                s"'${dataSchema.fieldNames(vi)}' ($old -> $neu): the landed " +
                "delta row would lose last-writer-wins resolution to the " +
                "matched row forever — the UPDATE would succeed, change " +
                "nothing at read, and leave dead weight in the delta log. " +
                "SET the version to the matched value or higher")
        }
        emit(row, "upsert")
      }

      override def delete(metadata: InternalRow, id: InternalRow): Unit = {
        // only the pk coordinates are known; the applier anti-joins on
        // them, so the remaining columns stay NULL
        val out = new GenericInternalRow(width + 1)
        var i = 0
        while (i < pkIdx.length) {
          val t = types(pkIdx(i))
          out.update(pkIdx(i), if (id.isNullAt(i)) null else id.get(i, t))
          i += 1
        }
        out.update(width, UTF8String.fromString("delete"))
        writer.write(out); wrote = true
      }

      override def commit(): WriterCommitMessage =
        if (wrote) { writer.close(); DeltaFileCommit(path) }
        else DeltaNoopCommit

      override def abort(): Unit = if (wrote) writer.close()

      override def close(): Unit = ()
    }
}

private[sources] case object DeltaNoopCommit extends WriterCommitMessage
