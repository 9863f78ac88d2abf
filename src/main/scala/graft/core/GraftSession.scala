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
    * [[benchBuilder]] and by the standalone mains' own builders
    * ([[graft.Bench]], [[graft.Verify]], [[graft.Smoke]], SparkSpec)
    * via this ONE decorator so a new conf cannot drift between entry
    * points:
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
    *     sidecars, permission bits and rename semantics are as before;
    *   - a generated-class cache of [[CodegenCacheEntries]] entries
    *     (see there): Spark's default of 100 is smaller than the classes
    *     one wave of the live pipeline runs, so every wave compiled most
    *     of them again.
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
      // parquet TIMESTAMP(NANOS) reads as raw nanos (LongType) instead
      // of failing analysis; Tables.events converts it. Set here, not by
      // the reader: a conf flipped mid-session re-keys every source
      // schema inferred before it
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.NioLocalFs].getName)

  /** Capacity of Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The cache is
    * keyed on the class loader and the generated source, so the driver's
    * and the executor's copy of one class are two entries, and a class
    * that differs only in an inlined literal is a new one. The cap is
    * static: it is read when the first class is compiled in the JVM, so
    * a session that is not built through [[engineConfs]], or a JVM that
    * generated code before such a session existed, keeps 100.
    *
    * Sized from compile counts at a cap far above any of them, so each
    * count is the number of distinct classes (4-vCPU VM, seed 8104):
    *   - one `rtdw_live` run: 255 classes;
    *   - one `warehouse_queries` run: 173, none in its timed window;
    *   - the whole `Bench` board through [[graft.tools.Profile]] at
    *     sf0.01, `SPARK_GRAFT_CPUS=4`, warm-up at sf0.001 included: 2,452.
    * 4,096 holds the board; 2,048 would not. At Spark's 100, one
    * `rtdw_live` run (seed 8801) compiled 893 classes (14.6 s of janino
    * time, 147–194 per timed wave).
    */
  val CodegenCacheEntries = 4096

  /** The session of the measuring tools ([[graft.tools.Profile]],
    * [[graft.tools.PlanDump]]), shaped like [[graft.Bench]]'s so their
    * timings and plan shas compare with the board's: `local[cpus]` with
    * cpus = `SPARK_GRAFT_CPUS` (default 4), shuffle partitions = cpus,
    * AQE with coalescing, the engine confs.
    */
  def benchBuilder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    engineConfs(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true"))
  }

  /** Confs a child session copies from its parent: `newSession()` starts
    * from the SparkConf, not from the parent's runtime values.
    */
  private val ChildConfs = Seq("spark.sql.session.timeZone", "spark.sql.shuffle.partitions",
    "spark.sql.sources.v2.bucketing.enabled",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
    "spark.sql.requireAllClusterKeysForCoPartition")

  private val children =
    new java.util.concurrent.ConcurrentHashMap[(String, String), SparkSession]()

  /** The child session of head `head` over `sfDir`, for a head whose plan
    * needs a conf no other head may see. `newSession()` shares the
    * SparkContext and the extensions but owns its SQLConf, so the
    * `overrides` stay invisible to every other head, and they are still
    * set when the caller lazily executes the returned DataFrame (a
    * try/finally restore would be undone before Verify's write replans
    * it). Created once per (head, sfDir): `overrides` is evaluated then
    * and never again.
    */
  def child(spark: SparkSession, head: String, sfDir: String)(
      overrides: => Seq[(String, String)]): SparkSession =
    children.computeIfAbsent((head, sfDir), _ => {
      val s = spark.newSession()
      ChildConfs.foreach(k => spark.conf.getOption(k).foreach(s.conf.set(k, _)))
      overrides.foreach { case (k, v) => s.conf.set(k, v) }
      s
    })
}
