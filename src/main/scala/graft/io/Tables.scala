package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers over the driver-generated parquet star schema.
  *
  * Single scan entry point so every operator benefits from parquet
  * column pruning + predicate pushdown (operators select/filter on the
  * returned DataFrame; Catalyst pushes both into the scan — verified via
  * `.explain("formatted")` showing PushedFilters/ReadSchema).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A source file read with its schema from [[FileMeta]]: inference
    * (a listing, a footer read and a one-task job) runs once per file,
    * not once per head build. The key carries the one session conf that
    * changes what inference returns for these files.
    */
  private def readCached(spark: SparkSession, path: String): DataFrame = {
    val nanosConf = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    val schema = FileMeta(FileMeta.sourceSchema(nanosConf), path, fileId(spark, path))(
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Row count of an immutable source file, from [[FileMeta]]: a parquet
    * count answers from footers but still schedules a job, which
    * build-once guards (the IVF snapshot check) would pay on every hit.
    */
  def rowCount(spark: SparkSession, path: String): Long =
    FileMeta(FileMeta.SourceRows, path, fileId(spark, path))(
      Long.box(readCached(spark, path).count())).longValue()

  private def fileId(spark: SparkSession, path: String): FileMeta.Id = {
    val p = new org.apache.hadoop.fs.Path(path)
    FileMeta.Id.of(Seq(FsOps.fs(spark, p).getFileStatus(p)))
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else readCached(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** events.ts arrives in whichever physical type the generator chose, so
    * branch on the type Spark actually inferred rather than hard-coding one
    * generation's contract:
    *   - LongType: the file is parquet TIMESTAMP(NANOS), which the vectorized
    *     reader only surfaces as raw nanos under the legacy conf (an engine
    *     conf, so this branch is reachable instead of an analysis error).
    *     Convert with integer `div` — a double division would lose precision
    *     above 2^53 ns.
    *   - TIMESTAMP_NTZ: plain timestamp[us] with no UTC adjustment. Cast to
    *     the session-TZ TimestampType (sessions pin UTC, so the wall-clock
    *     value is preserved) — downstream windows/joins and the verify
    *     pipeline were built against TimestampType outputs.
    *   - TimestampType: use directly.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = readCached(s, s"$d/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Build-once serving-table scaffold shared by the ops heads:
    * `root` = prefix + the sanitized sf-dir key, and a
    * `_built_<sourceKey>_<recipeKey>` marker inside it gates the
    * build. The marker keys on BOTH inputs of the build:
    *   - the source file-metadata fingerprint, so ANY regeneration of
    *     the source parquet rebuilds (even a column the head doesn't
    *     read — ADVICE r7 #1), at zero Spark jobs on cache hit
    *     (ADVICE r7 #3);
    *   - `recipe`, a caller-owned token describing the build closure's
    *     parameters (zone columns, clustering, wave structure, …), so
    *     an edited head recipe over UNCHANGED testdata also rebuilds
    *     instead of serving the stale layout (VERDICT r9 #2 — the
    *     hand-renamed `_v2` root was a per-incident patch for this).
    * `build` receives the root; the marker lands only after it
    * returns, so a crashed build re-runs. A missing marker means the
    * root's content is stale by definition (no build, a crashed one,
    * or one under a different source/recipe), so the root is WIPED
    * before building — several heads build by MUTATION (merge waves,
    * SQL DML) and rebuilding on top of the previous state would
    * double-apply the mutations silently.
    */
  def ensureBuilt(spark: SparkSession, rootPrefix: String, sfDir: String,
                  source: String = "events.parquet", recipe: String = "v1")
                 (build: String => Unit): String = {
    val key = sfDir.replaceAll("[^A-Za-z0-9.]+", "_").replaceAll("^_+", "")
    val root = rootPrefix + key
    val ck = sourceKey(spark, s"$sfDir/$source")
    val rk = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(recipe))
    val marker = new org.apache.hadoop.fs.Path(root, s"_built_${ck}_$rk")
    val fs = FsOps.fs(spark, marker)
    if (!fs.exists(marker)) {
      val rootPath = new org.apache.hadoop.fs.Path(root)
      if (fs.exists(rootPath)) fs.delete(rootPath, true)
      build(root)
      fs.create(marker, true).close()
    }
    root
  }

  /** Metadata fingerprint of a source table: the sorted (path, size,
    * mtime) triple of every data file under `path`, folded into one
    * hash. Build-once caches (MVs, zones/bloom serving snapshots) key
    * their markers on this: a regenerated source — same row count or
    * not — rewrites its files, so sizes/mtimes change and the cache
    * rebuilds instead of serving stale rows. Unlike the previous
    * row-content scan, the key costs ZERO Spark jobs (driver-side
    * listing only — ADVICE r7: every ensure call paid a hidden
    * O(source) aggregation even on cache hit), and whole-file metadata
    * covers every column trivially, so a drift in a column the old
    * fingerprint didn't hash can no longer serve a stale snapshot
    * (ADVICE r7 #1). A spurious mtime touch merely rebuilds — safe.
    */
  def sourceKey(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = FsOps.fs(spark, p)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.toUri.getPath
      if (!name.endsWith(".crc"))
        entries += s"$name|${f.getLen}|${f.getModificationTime}|${tailHash(fs, f)}"
    }
    val h = entries.sorted.foldLeft(1125899906842597L)((acc, e) => acc * 31 + e.hashCode)
    java.lang.Long.toHexString(h)
  }

  /** Hash of a file's last KB. Names+sizes+mtimes alone can collide on
    * stores with coarse mtime granularity (a regeneration inside the
    * same second producing identically-sized files would serve a stale
    * snapshot); a parquet file's tail holds its footer metadata —
    * row-group stats, offsets — which shifts on any content change, so
    * folding it in makes the key content-sensitive at O(files × 1 KB)
    * driver reads, still zero Spark jobs.
    */
  private def tailHash(fs: org.apache.hadoop.fs.FileSystem,
                       f: org.apache.hadoop.fs.LocatedFileStatus): Long = {
    val len = f.getLen
    if (len <= 0) return 0L
    val n = math.min(1024L, len).toInt
    val buf = new Array[Byte](n)
    val in = fs.open(f.getPath)
    try { in.readFully(len - n, buf, 0, n) } finally in.close()
    var h = 1125899906842597L
    var i = 0
    while (i < n) { h = h * 31 + buf(i); i += 1 }
    h
  }

  /** Register every table as a temp view for spark.sql use. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))
}
