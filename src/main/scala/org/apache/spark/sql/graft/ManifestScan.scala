package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Listing-free parquet scan over files graft already knows — the ONE
  * batch read of a parquet file list graft wrote or a manifest names:
  * Upsert snapshots and lookups (`graft.io.Upsert.scanFiles`, which
  * also reads merge-on-read bases), merge-on-read delta batches
  * (`graft.io.MergeOnRead.readDeltaBatches`, the batch id as a
  * partition value), the staged files of a streaming-sink epoch and of
  * a SQL DML commit, and the IVF probe's cells (the cell id as a
  * partition value).
  *
  * `spark.read.parquet(files: _*)` re-discovers what the caller already
  * holds: it statuses every file again, and with more paths than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) the
  * discovery runs as a SPARK JOB with one task per path — the IVF probe
  * over 14 cells × 16 bucket files scheduled a 224-task listing job per
  * query, pure scheduling overhead that inflates under a contended
  * scheduler and on any real cluster with more executors than work.
  * This [[FileIndex]] serves the caller's statused file list directly
  * to the planner: no discovery job, no footer-inference job, and the
  * per-file PARTITION VALUE comes from the manifest that named the
  * file — not from re-parsing the file path (a regexp miss silently
  * dropped rows at the IVF probe join; a manifest-keyed value cannot
  * misattribute).
  *
  * The index compares by VALUE — roots, groups (file paths included)
  * and partition schema — so two reads of one snapshot are one relation
  * to the planner: exchange reuse and `CacheManager` matching work
  * across them, as they did through `InMemoryFileIndex`'s equality. A
  * snapshot's files are write-once and a new snapshot names new files,
  * so two snapshots of one table never compare equal; a root-only
  * equality would serve a stale cached plan.
  *
  * Lives in the org.apache.spark.sql subpackage because
  * HadoopFsRelation/LogicalRelation construction is private[sql] in
  * Spark 4 — same sanctioned reach-through as [[Bridge]].
  */
object ManifestScan {

  /** One partition-directory group: the partition value row (under
    * `partitionSchema`) and the statused live files carrying it.
    */
  final case class Group(values: InternalRow, files: Seq[FileStatus])

  private final case class ManifestFileIndex(
      roots: Seq[Path],
      groups: Seq[Group],
      override val partitionSchema: StructType) extends FileIndex {

    override def rootPaths: Seq[Path] = roots

    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val dirs = groups.map(g => PartitionDirectory(g.values, g.files.toArray))
      // static partition pruning: FileSourceStrategy REMOVES partition
      // filters from the post-scan residual (pruning here is assumed
      // exact), so they MUST be honoured, not ignored
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) dirs
      else {
        val bound = partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val idx = partitionSchema.fieldIndex(a.name)
            BoundReference(idx, partitionSchema(idx).dataType, nullable = true)
        }
        val pred = Predicate.createInterpreted(bound)
        pred.initialize(0)
        dirs.filter(d => pred.eval(d.values))
      }
    }

    override def inputFiles: Array[String] =
      groups.flatMap(_.files.map(_.getPath.toString)).toArray

    override def refresh(): Unit = ()

    override def sizeInBytes: Long = groups.flatMap(_.files.map(_.getLen)).sum
  }

  /** DataFrame over explicit parquet files with an explicit schema —
    * zero discovery/inference jobs, partition values from the caller's
    * manifest. `partitionSchema` columns surface AFTER the data columns
    * (standard file-source layout). The data columns serve nullable, as
    * `DataSource.resolveRelation` makes them on the v1 path this scan
    * bypasses, so plans and schemas match `spark.read.schema(s)`.
    */
  def parquetFiles(spark: SparkSession,
                   root: Path,
                   dataSchema: StructType,
                   partitionSchema: StructType,
                   groups: Seq[Group]): DataFrame = {
    val index = ManifestFileIndex(Seq(root), groups, partitionSchema)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = partitionSchema,
      dataSchema = dataSchema.asNullable,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    Bridge.ofRows(spark, LogicalRelation(relation))
  }
}
