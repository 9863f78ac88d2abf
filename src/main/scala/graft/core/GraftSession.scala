package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's scale-oriented defaults.
  *
  * Tuned for the driver's local[32] harness but every knob is chosen for
  * cluster semantics too: AQE on (skew-join splitting + partition
  * coalescing at 100 TB), explicit shuffle partitioning, UTC-pinned
  * session time (the reference hardcodes GMT+8 in DateFormatUtil.java:21;
  * we pin instead of inheriting host tz so day-boundary state semantics
  * are reproducible).
  */
object GraftSession {

  /** Engine confs every entry point's session must share — applied by
    * [[builder]] and by the standalone mains' own builders
    * ([[graft.Bench]], [[graft.Verify]], [[graft.Smoke]], the tools,
    * SparkSpec) via this ONE decorator so a new conf cannot drift
    * between entry points:
    *   - UTC-pinned session time (the reference hardcodes GMT+8; we
    *     pin so day-boundary state semantics are reproducible);
    *   - storage-partitioned joins over the Upsert DSv2 reader
    *     (graft.sources.UpsertBucketSource): honor reported
    *     KeyGroupedPartitioning, tolerate missing partitions on one
    *     side, shuffle a small side INTO the reported layout, and let
    *     a join whose keys are a SUPERSET of the partition keys reuse
    *     the children's placement (the default-true co-partition check
    *     would demand an exchange exactly where the bucket layout
    *     already co-locates);
    *   - the local `file:` scheme through [[graft.io.NioLocalFileSystem]]
    *     (the `FileSystem` API) and [[graft.io.NioLocalFs]] (the
    *     `FileContext` API of Spark's checkpoint and state-store file
    *     managers). Without libhadoop, stock Hadoop starts a subprocess
    *     for file metadata: `chmod` after every create and mkdir,
    *     `readlink` for every link status (`FileContext.rename` takes one
    *     of its source and one of its target), and `ls -ld` when a
    *     status's permission is read (`listFiles` reads it for each
    *     file). That is every offset, commit and state-store file of
    *     every trigger and every table commit. These calls now run
    *     through `java.nio` and start no process; files, `.crc`
    *     sidecars, permission bits and rename semantics are as before.
    */
  def engineConfs(b: SparkSession.Builder): SparkSession.Builder =
    b.withExtensions(new GraftExtensions) // graft_* SQL functions +
      // analyzer/optimizer rules (MorReadRule, DimBroadcastRule,
      // MvRewriteRule) on EVERY entry point — a main without them
      // would refuse MOR SQL reads that the specs prove green
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      // NOTE: …partiallyClusteredDistribution is deliberately NOT a
      // session default — Spark disables shuffle-one-side SPJ (the
      // MergeOnRead big-delta path) while it is on. Skewed layouts get
      // it automatically PER JOIN via AutoPartialClusteringRule
      // (sources/AutoSpj.scala, injected below through GraftExtensions);
      // [[graft.io.Bucketing.withPartialClustering]] stays as the
      // explicit scoped override.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // column mapping (r13): staged Upsert generations stamp stable
      // parquet field ids and RENAMED tables read columns BY ID (what
      // makes ALTER ... RENAME COLUMN a metadata-only commit).
      // Emission is a PER-WRITE datasource option. Matching is
      // deliberately NOT enabled here: Spark honours only the SESSION
      // conf (per-read options are clobbered by the reader build), and
      // measured on the full bench the conf taxes EVERY parquet scan
      // ~20% even when no requested schema carries ids — the wrong
      // default at 100 TB. Reads of un-renamed tables never need ids
      // (Upsert.readSchemaOf serves bare schemas); a RENAMED table on
      // a session without the conf refuses loudly, naming
      // spark.sql.parquet.fieldId.read.enabled — flip it (or use a
      // child session, as the j_sql_rename head does) and only that
      // session pays.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.NioLocalFs].getName)

  def builder(appName: String = "graft", cores: String = "*"): SparkSession.Builder =
    engineConfs(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString))

  def get(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
