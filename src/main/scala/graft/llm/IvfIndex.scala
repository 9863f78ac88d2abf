package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.functions.{dot8, dot_long, norm_sq8, norm_sq_long, quantize_vec, sq8_encode}
import graft.io.Upsert

/** Persisted IVF (inverted-file) ANN index — the production lifecycle
  * [[Similarity.ivfTopK]] lacks (VERDICT r5 #1): build ONCE, maintain
  * incrementally, serve probe-only queries that never re-fit and never
  * scan unprobed data.
  *
  * Layout under `indexDir` (all io.Upsert tables — manifest-committed,
  * snapshot-isolated, lease-protected):
  *
  *   centroids/   (cell int, centroid array<double>) — overwriteSnapshot;
  *                props carry nlist + corpus count + format version, and
  *                its manifest is the index's "build complete" marker
  *                (committed LAST, so a crashed build is simply absent
  *                and rebuilds)
  *   cell=<c>/    (vec_id long PK, q array<long>, n long, __v long) —
  *                one subtable per coarse cell: the FAISS inverted-list
  *                shape on parquet. A query reads ONLY its probed
  *                cells' subtables — file-level pruning by construction,
  *                so query I/O is proportional to the probed fraction
  *                (nprobe/nlist of the corpus), not to table count or
  *                file layout. The quantized vectors live IN the lists
  *                (like FAISS codes): queries never touch the raw
  *                embedding table. With `storage="sq8"` the lists hold
  *                1-byte-per-dim SQ8 codes instead of the 8-byte milli
  *                longs (the [[Similarity.sq8TopK]] scheme — 8× less
  *                list I/O per probe) with the code scale frozen in
  *                the centroids props at build, and queries score by
  *                ADC. Assignment happens in the shared milli space
  *                either way, so both storage modes place every vector
  *                in the same cell.
  *
  * Centroids are FROZEN after build (standard IVF practice): ingest
  * assigns new vectors to the nearest existing centroid and merges into
  * that cell's subtable; a distribution shift big enough to need new
  * centroids is a rebuild, not a maintenance operation. At 100 TB one
  * would train on a sample and raise nlist with corpus size (FAISS
  * practice, keeping per-cell size roughly constant) — both are
  * parameters here, not design changes.
  *
  * Determinism: quantization, integer dot products and the probe
  * arithmetic are IDENTICAL to [[Similarity.ivfTopK]]'s (same formula,
  * same summation order, centers iterated in cell order, ties to the
  * lower cell), so an index built from a corpus answers queries
  * bit-identically to the fit-in-query path on that corpus — the
  * equivalence IvfIndexSpec pins.
  */
object IvfIndex {

  /** Bump when quantization/assignment semantics change: a persisted
    * index from an older format must rebuild, not silently mis-serve.
    * v2: centroids are INTEGER milli vectors (rint of the KMeans
    * means) and assignment/probe distances are integer arithmetic —
    * order-independent, so cell assignment is a pure function of
    * (centroids, quantized vector) that an external oracle can
    * replicate exactly (VERDICT r11 #1); float accumulation order can
    * no longer flip a near-tie assignment between runs.
    */
  private val FormatVersion = "2"

  private def centroidsDir(dir: String) = s"${dir.stripSuffix("/")}/centroids"

  /** Cell subtable location, EPOCH-indirected: epoch 0 is the legacy
    * root layout (`cell=<c>`), every rebuild writes a fresh
    * `epoch=<e>/cell=<c>` generation. The centroids manifest's `epoch`
    * prop is the single switch — readers resolve it first, so a
    * rebuild becomes visible only at the centroids commit and a crash
    * mid-rebuild leaves the index serving the intact previous epoch.
    */
  private def cellDir(dir: String, epoch: Int, cell: Int) =
    if (epoch == 0) s"${dir.stripSuffix("/")}/cell=$cell"
    else s"${dir.stripSuffix("/")}/epoch=$epoch/cell=$cell"

  /** The epoch the centroids manifest currently points at (0 = legacy
    * root layout / fresh build). One manifest read, no Spark job.
    */
  private def currentEpoch(spark: SparkSession, indexDir: String): Int =
    Upsert.currentManifest(spark, centroidsDir(indexDir))
      .flatMap(_.props.get("epoch")).map(_.toInt).getOrElse(0)

  private def quantize(df: DataFrame): DataFrame =
    df.select(col("vec_id"), quantize_vec(col("embedding"), 1000).as("q"))
      .withColumn("n", norm_sq_long(col("q")))

  /** Nearest-centroid assignment in INTEGER milli space: per vector,
    * argmin over cells of Σ(c−x)² with c the integer centroid and x
    * the quantized component — exact long arithmetic, ties to the
    * LOWER cell (array_position returns the first minimum). Shared by
    * build, ingest, and the fit-in-query [[Similarity.ivfTopK]], and
    * replicable verbatim in the DuckDB oracle (the whole point of
    * integer centroids).
    *
    * The centroids ride in as an ARRAY LITERAL (nlist ≤ a few hundred
    * rows — driver data by construction), so the assignment is a pure
    * per-row map: NO crossJoin, NO window, NO shuffle — the input
    * partitioning flows through to the grouped cell write exactly like
    * the old model.transform path. (A window formulation re-shuffled
    * the corpus by vec_id and fanned every cell subtable into
    * shuffle-partition-many tiny files; probe reads paid for it
    * forever — caught by the r12 bench.)
    */
  private[llm] def assignCells(qdf: DataFrame,
                               centroids: Seq[(Int, Seq[Long])]): DataFrame = {
    val ordered = centroids.sortBy(_._1)
    require(ordered.map(_._1) == ordered.indices,
      s"cells must be dense 0..${ordered.size - 1}, got ${ordered.map(_._1)}")
    val centLit = array(ordered.map { case (_, c) => array(c.map(lit): _*) }: _*)
    val dists = transform(centLit, c =>
      aggregate(zip_with(c, col("q"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v))
    qdf.withColumn("cell",
      (array_position(dists, array_min(dists)) - 1).cast("int"))
  }

  /** KMeans means rounded to integer milli units — the persisted
    * centroid format (v2). rint, not floor: the mean of milli-unit
    * vectors should round to the nearest representative.
    */
  private def integerCenters(model: org.apache.spark.ml.clustering.KMeansModel)
      : Seq[(Int, Seq[Long])] =
    model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.map(v => math.rint(v).toLong).toSeq)
    }.toSeq

  /** The frozen centroids as (cell, 1-based dim, value) rows — what an
    * external oracle embeds as a VALUES literal to replicate the
    * assignment and probe selection exactly (VERDICT r11 #1).
    */
  def centroidValues(spark: SparkSession, indexDir: String): Seq[(Int, Int, Long)] =
    Upsert.read(spark, centroidsDir(indexDir))
      .select(col("cell"), col("centroid")).collect()
      .sortBy(_.getInt(0))
      .toSeq.flatMap { r =>
        val cell = r.getInt(0)
        r.getSeq[Long](1).zipWithIndex.map { case (v, i) => (cell, i + 1, v) }
      }

  /** Train the coarse quantizer and persist the full index. The corpus
    * is scanned by KMeans and once more for assignment — the LAST time
    * raw embeddings are read; every later query is probe-only against
    * the persisted lists. Rebuild-safe: cell merges are LWW no-ops on
    * identical content and the centroids snapshot commits last.
    */
  def build(spark: SparkSession, indexDir: String, corpus: DataFrame,
            nlist: Int = 16, storage: String = "milli"): Unit =
    buildImpl(spark, indexDir, corpus, nlist, storage, replace = false)

  /** `replace = true` is the REBUILD path: the retrained assignment is
    * written into a fresh EPOCH directory and the centroids commit —
    * the last step — atomically switches readers to it. A vector whose
    * cell changed under the retrained quantizer can never be served
    * from both cells (the old epoch is never consulted again), a crash
    * at ANY point before the centroids commit leaves the previous
    * epoch serving intact (the half-written new epoch is abandoned,
    * never merged into), and the previous epoch is retained one
    * rebuild longer for in-flight readers (keep-2, like vacuum).
    */
  private def buildImpl(spark: SparkSession, indexDir: String, corpus: DataFrame,
                        nlist: Int, storage: String, replace: Boolean): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import spark.implicits._
    require(storage == "milli" || storage == "sq8", s"unknown storage: $storage")
    // sq8 lists need the build-time code scale; computed here (one
    // max aggregate over the corpus pass KMeans reads anyway) and
    // FROZEN in the centroids props — ingest encodes later batches
    // with the same scale, like it assigns to the same centroids
    val amax: Double =
      if (storage == "sq8")
        corpus.agg(max(expr(
          "array_max(transform(embedding, x -> abs(cast(x as double))))")))
          .head().getDouble(0)
      else 0.0
    val vecs = quantize(corpus)
      .withColumn("features", array_to_vector(
        expr("transform(q, x -> cast(x as double))")))
      .cache()
    val model = new KMeans().setK(nlist).setSeed(42L).setMaxIter(10)
      .fit(vecs.select(col("features")))
    // assignment against the ROUNDED centroids (not model.transform):
    // the integer argmin is what ingest and every query use, so a
    // vector near a cell boundary lands where the persisted quantizer
    // says — one assignment function everywhere, exactly replicable
    val centroidRows = integerCenters(model)
    val assignedBase = assignCells(
      vecs.select(col("vec_id"), col("q"), col("n")), centroidRows)
      .select(col("vec_id"), col("q"), col("n"), col("cell"))
    // sq8 lists replace the milli vectors with 1-byte-per-dim codes —
    // assignment still happens in the shared milli space, so both
    // storage modes put every vector in the SAME cell (spec-pinned)
    val assigned = (storage match {
      case "sq8" =>
        val codes = corpus.join(broadcast(Seq(amax).toDF("__amax")))
          .select(col("vec_id"),
            sq8_encode(col("embedding"), col("__amax")).as("codes"))
          .withColumn("cn", norm_sq8(col("codes")))
        assignedBase.select(col("vec_id"), col("cell")).join(codes, Seq("vec_id"))
      case _ => assignedBase
    }).withColumn("__v", lit(0L))
    val corpusCount = vecs.count()
    val root = new org.apache.hadoop.fs.Path(indexDir.stripSuffix("/"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prevEpoch = currentEpoch(spark, indexDir)
    val newEpoch =
      if (!replace) 0
      else {
        // next epoch after anything on disk — a crashed attempt's dirs
        // are abandoned, never merged into (retrained assignments could
        // differ, and merge would resurrect the crashed attempt's rows)
        val onDisk =
          if (fs.exists(root))
            fs.listStatus(root).map(_.getPath.getName)
              .collect { case s if s.startsWith("epoch=") => s.stripPrefix("epoch=").toInt }
          else Array.empty[Int]
        ((onDisk :+ prevEpoch) :+ 0).max + 1
      }
    // ONE resolved plan + ONE staged write fans out to every cell
    // subtable (Upsert.mergeGrouped) — build cost is O(corpus) in data
    // AND constant in jobs, where the old per-cell chain scheduled
    // nlist sequential merge jobs. Fresh-build/replace cells go
    // through the CREATE path inside, keeping the normal bucketed
    // layout so later ingest batches rewrite only touched buckets.
    Upsert.mergeGrouped(spark, c => cellDir(indexDir, newEpoch, c),
      assigned, "cell", pk = Seq("vec_id"), versionCol = "__v",
      stagingRoot = s"${indexDir.stripSuffix("/")}/_build_staging")
    // the ONE visibility switch: until this commit, readers resolve the
    // previous epoch's intact cells; after it, only the new epoch's.
    // coalesce(1): nlist rows are driver data — without it the local
    // relation writes defaultParallelism-many single-row files and
    // every probe's centroid collect becomes an nlist-task job (r16,
    // guide §6 output sizing / VERDICT r15 #1 tiny-stage fan-out)
    Upsert.overwriteSnapshot(spark, centroidsDir(indexDir),
      centroidRows.toDF("cell", "centroid").coalesce(1),
      props = Map("nlist" -> nlist.toString,
        "corpusCount" -> corpusCount.toString,
        "storage" -> storage,
        "amax" -> amax.toString, // Double.toString round-trips exactly
        "epoch" -> newEpoch.toString,
        "formatVersion" -> FormatVersion))
    if (replace) {
      // retire every epoch except the new one and its predecessor
      // (keep-2, mirroring vacuum's in-flight-reader retention);
      // crashed-attempt dirs above prevEpoch fall out here too
      val keep = Set(newEpoch, prevEpoch)
      fs.listStatus(root).map(_.getPath.getName)
        .collect { case s if s.startsWith("epoch=") => s.stripPrefix("epoch=").toInt }
        .filterNot(keep)
        .foreach(e => fs.delete(new org.apache.hadoop.fs.Path(root, s"epoch=$e"), true))
      if (!keep(0))
        fs.listStatus(root).map(_.getPath.getName)
          .filter(_.startsWith("cell="))
          .foreach(d => fs.delete(new org.apache.hadoop.fs.Path(root, d), true))
    }
    vecs.unpersist()
  }

  /** Is a completed build with these parameters present? Reads one
    * manifest — no Spark job. `corpusCount` (when ≥ 0) also guards the
    * convenience entry points against serving an index built from a
    * different snapshot of the same path.
    */
  def isBuilt(spark: SparkSession, indexDir: String, nlist: Int,
              corpusCount: Long = -1L, storage: String = "milli"): Boolean =
    Upsert.currentManifest(spark, centroidsDir(indexDir)).exists { m =>
      m.props.get("nlist").contains(nlist.toString) &&
        m.props.get("formatVersion").contains(FormatVersion) &&
        m.props.getOrElse("storage", "milli") == storage &&
        (corpusCount < 0 || m.props.get("corpusCount").contains(corpusCount.toString))
    }

  /** Refuse to serve or extend an index whose on-disk format predates
    * [[FormatVersion]]: v1 stored double centroids, and reading them
    * as the v2 integer milli vectors would crash with a bare
    * ClassCastException at query time (or silently assign ingested
    * vectors with float arithmetic) instead of naming the remedy.
    * `isBuilt`/`ensureIndexed` already rebuild on the mismatch; this
    * guards the DIRECT entry points (topK, ingest) a user may call on
    * a pre-existing index dir.
    */
  private def requireFormat(spark: SparkSession, indexDir: String): Unit =
    requireFormatOf(indexDir,
      Upsert.currentManifest(spark, centroidsDir(indexDir)))

  private def requireFormatOf(indexDir: String,
                              man: Option[Upsert.Manifest]): Unit = {
    // distinguish MISSING (never built / wrong path) from a real v1
    // manifest: the version message must not tell a user with a typo'd
    // path to "rebuild" an index that was never there (ADVICE r12)
    if (man.isEmpty)
      throw new Upsert.NoTableException(
        s"no IVF index at $indexDir (no centroids manifest) — build it first " +
          "(IvfIndex.build / ensureIndexed)")
    val v = man.flatMap(_.props.get("formatVersion")).getOrElse("1")
    if (v != FormatVersion)
      throw new IllegalStateException(
        s"IVF index at $indexDir is on-disk format v$v; this build serves " +
          s"v$FormatVersion (integer milli centroids, exact arithmetic) — " +
          "rebuild the index (IvfIndex.build / ensureIndexed)")
  }

  /** (storage mode, frozen sq8 scale) from the centroids manifest. */
  private def storageOf(spark: SparkSession, indexDir: String): (String, Double) = {
    val props = Upsert.currentManifest(spark, centroidsDir(indexDir))
      .map(_.props).getOrElse(Map.empty)
    (props.getOrElse("storage", "milli"),
      props.get("amax").map(_.toDouble).getOrElse(0.0))
  }

  /** Incrementally add a batch: assign each vector to its nearest
    * FROZEN centroid (broadcast — nlist rows), merge each touched
    * cell's slice into that cell's subtable. Per-batch cost is
    * O(batch × nlist) assignment arithmetic plus merges bounded by the
    * batch's buckets — independent of corpus size; history is never
    * read beyond the touched buckets' files. Replay-idempotent: same
    * content + version merges are LWW no-ops.
    *
    * Holds the index-level composite lease for the whole batch: a
    * rebuild and an ingest can no longer interleave (the epoch an
    * ingest resolved could otherwise be retired under it, silently
    * dropping the batch's committed rows) — whichever writer is second
    * fails loudly with ConcurrentWriterException, the single-writer
    * contract lifted from tables to the index.
    */
  def ingest(spark: SparkSession, indexDir: String, batch: DataFrame,
             batchVersion: Long = 0L): Unit = Upsert.withCompositeLease(spark, indexDir) {
    import spark.implicits._
    requireFormat(spark, indexDir)
    val epoch = currentEpoch(spark, indexDir)
    val (storage, amax) = storageOf(spark, indexDir)
    val centroids = Upsert.read(spark, centroidsDir(indexDir))
      .select(col("cell"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1))).toSeq
    val assignedMilli = assignCells(quantize(batch), centroids)
      .select(col("vec_id"), col("q"), col("n"), col("cell"))
    // sq8 index: encode with the scale FROZEN at build — same contract
    // as the frozen centroids (a value beyond the build-time amax
    // clamps to ±127; a shift big enough to matter is a rebuild)
    val assigned = (storage match {
      case "sq8" =>
        val codes = batch.join(broadcast(Seq(amax).toDF("__amax")))
          .select(col("vec_id"),
            sq8_encode(col("embedding"), col("__amax")).as("codes"))
          .withColumn("cn", norm_sq8(col("codes")))
        assignedMilli.select(col("vec_id"), col("cell")).join(codes, Seq("vec_id"))
      case _ => assignedMilli
    }).withColumn("__v", lit(batchVersion))
    // ONE staged write regardless of touched-cell count (VERDICT r8
    // #2): a wide batch touching 256 cells used to schedule 256
    // sequential merge-job chains; mergeGrouped resolves every cell's
    // LWW in one plan and fans the staged dirs out with renames.
    Upsert.mergeGrouped(spark, c => cellDir(indexDir, epoch, c),
      assigned, "cell", pk = Seq("vec_id"), versionCol = "__v",
      stagingRoot = s"${indexDir.stripSuffix("/")}/_ingest_staging")
  }

  /** Probe-only top-k: select each query's `nprobe` nearest centroids
    * on the driver (centroids are nlist rows — the FAISS coarse-probe
    * step), then scan ONLY those cells' subtables and score with the
    * same integer dot/norm kernels as every other similarity operator.
    * No KMeans fit, no full-corpus scan — the unprobed (nlist−nprobe)/
    * nlist of the index is never opened.
    *
    * `queries`: (q_id, embedding) — bounded by contract (a query SET,
    * not a table); collected for probe selection exactly like
    * [[Similarity.ivfTopK]]'s.
    */
  def topK(spark: SparkSession, indexDir: String, queries: DataFrame,
           k: Int = 10, nprobe: Int = 4): DataFrame = {
    import spark.implicits._
    // ONE centroids-manifest read serves the format gate, the storage
    // mode, and the epoch (r15 — formerly requireFormat + storageOf +
    // currentEpoch each re-read it), and the two driver collects
    // (centroids, query vectors) run CONCURRENTLY (guide §2.6 —
    // independent tiny jobs; the serial form paid two back-to-back
    // job-scheduling latencies on every probe).
    val man = Upsert.currentManifest(spark, centroidsDir(indexDir))
    requireFormatOf(indexDir, man)
    val props = man.get.props
    val storage = props.getOrElse("storage", "milli")
    val epoch = props.get("epoch").map(_.toInt).getOrElse(0)
    // carry the caller thread's job labels into the speculative collect
    // (ADVICE r15: ExecutionContext.global inherits no Spark local
    // properties, so the concurrent job lost its group/description)
    val sc = spark.sparkContext
    val desc = sc.getLocalProperty("spark.job.description")
    val group = sc.getLocalProperty("spark.jobGroup.id")
    val qFut = scala.concurrent.Future {
      if (desc != null) sc.setLocalProperty("spark.job.description", desc)
      if (group != null) sc.setLocalProperty("spark.jobGroup.id", group)
      queries
        .select(col("q_id"), quantize_vec(col("embedding"), 1000).as("qv"))
        .withColumn("qn", norm_sq_long(col("qv")))
        .collect()
    }(scala.concurrent.ExecutionContext.global)
    val centers =
      try Upsert.read(spark, centroidsDir(indexDir))
        .select(col("cell"), col("centroid")).collect()
        .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1) // cell order == clusterCenters index order at build
      catch { case t: Throwable =>
        // don't leave the speculative query job running past the error
        // (ADVICE r15): observe its outcome before propagating ours
        try scala.concurrent.Await.ready(qFut,
          scala.concurrent.duration.Duration.Inf)
        catch { case _: Throwable => () }
        throw t
      }
    val qRows = scala.concurrent.Await.result(
      qFut, scala.concurrent.duration.Duration.Inf)
    val probeRows = qRows.toSeq.flatMap { r =>
      val qid = r.getLong(0); val qv = r.getSeq[Long](1).toArray; val qn = r.getLong(2)
      centers.map { case (ci, c) =>
        // exact integer distance — same arithmetic as assignCells',
        // order-independent, ties broken by the explicit (d, cell) sort
        var d = 0L; var i = 0
        while (i < c.length) { val diff = c(i) - qv(i); d += diff * diff; i += 1 }
        (qid, qv, qn, ci, d)
      }.sortBy(t => (t._5, t._4)).take(nprobe)
        .map { case (a, b, c2, ci, _) => (a, b, c2, ci) }
    }
    val probes = spark.createDataset(probeRows).toDF("q_id", "qv", "qn", "cell")
    val listCols =
      if (storage == "sq8") Seq(col("vec_id"), col("codes"), col("cn").as("n"))
      else Seq(col("vec_id"), col("q"), col("n"))
    val probedCells = probeRows.map(_._4).distinct.sorted
    // ONE scan over every probed cell's live files (r15, guide §2.4 /
    // §6), served LISTING-FREE from the manifests (r16, VERDICT r15
    // #1): handing the file paths to spark.read re-discovered them —
    // above 32 paths that discovery is a Spark job with one task per
    // path (a 224-task job per probe at nlist=16 × 16 buckets), pure
    // scheduling fan-out. ManifestScan serves the statused live files
    // straight to the planner with the CELL ID as a partition value
    // taken from the manifest that named the file — which also closes
    // ADVICE r15: no path-regexp recovery that could silently drop a
    // row, and the schema is required uniform across probed cells
    // instead of trusting the first one. Cells without a committed
    // manifest are skipped, as before.
    val cellMans = probedCells.flatMap { c =>
      val d = cellDir(indexDir, epoch, c)
      Upsert.currentManifest(spark, d).map(m => (c, d, m)) // a cell can be empty
    }
    // uniformity modulo nullability: file relations serve every column
    // nullable anyway (ManifestScan normalizes like DataSource does),
    // and build-written cells carry `__v NOT NULL` where ingest-merged
    // cells record it nullable — same content contract. A catalogString
    // names every column and type, and no nullability.
    val cellSchemas = cellMans.map { case (_, d, m) => Upsert.readSchemaOf(spark, m, d) }
    val shapes = cellSchemas.map(_.map(_.catalogString)).distinct
    require(shapes.size <= 1,
      s"IVF cells under $indexDir disagree on schema " +
        s"(${shapes.mkString(" vs ")}) — cells are written by one " +
        "build/ingest pipeline and must stay uniform; rebuild the index")
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val groups = cellMans.map { case (c, d, m) =>
      org.apache.spark.sql.graft.ManifestScan.Group(
        org.apache.spark.sql.catalyst.InternalRow(c),
        graft.io.FsOps.statuses(fs, m.allFiles.map(f =>
          new org.apache.hadoop.fs.Path(s"${d.stripSuffix("/")}/$f"))))
    }.filter(_.files.nonEmpty)
    if (groups.isEmpty)
      return spark.emptyDataset[(Long, Long, Long, Double)]
        .toDF("q_id", "c_id", "rnk", "sim")
    val schema = cellSchemas.headOption.flatten.getOrElse(
      // legacy cell manifest without a recorded schema: footer inference
      // from a single live file, a one-task Spark job
      spark.read.parquet(groups.head.files.head.getPath.toString).schema)
    org.apache.spark.sql.graft.ManifestScan.parquetFiles(spark,
      new org.apache.hadoop.fs.Path(indexDir), schema,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType, nullable = false))),
      groups)
      .select(listCols :+ col("cell"): _*)
      .join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("dot",
        if (storage == "sq8") dot8(col("qv"), col("codes"))
        else dot_long(col("qv"), col("q")))
      .withColumn("sim", col("dot").cast("double") / sqrt((col("qn") * col("n")).cast("double")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id").as("c_id"),
        col("rnk").cast("long").as("rnk"), col("sim"))
  }

  /** Job-free index health (the [[graft.io.Upsert.stats]] pattern, per
    * cell): live files/bytes from each cell subtable's manifest,
    * driver-side metadata only. `byteImbalance` = max cell bytes /
    * mean non-empty cell bytes — the drift signal for FROZEN centroids
    * (ingest keeps assigning to build-time centroids; if the data
    * distribution moves, hot cells grow and probe cost follows).
    * Reading it costs manifest lookups, never a Spark job; crossing a
    * rebuild threshold retrains the quantizer from the corpus — codes
    * alone cannot retrain one, so the automated form
    * ([[rebuildIfImbalanced]]) takes the CURRENT corpus as input.
    */
  final case class IndexHealth(nlist: Int, cellsPresent: Int,
                               liveFiles: Long, liveBytes: Long,
                               maxCellFiles: Long, byteImbalance: Double)

  def health(spark: SparkSession, indexDir: String): Option[IndexHealth] =
    Upsert.currentManifest(spark, centroidsDir(indexDir)).map { m =>
      val nlist = m.props.get("nlist").map(_.toInt).getOrElse(0)
      val epoch = m.props.get("epoch").map(_.toInt).getOrElse(0)
      val cellStats = (0 until nlist)
        .flatMap(c => Upsert.stats(spark, cellDir(indexDir, epoch, c)))
      val bytes = cellStats.map(_.liveBytes).filter(_ > 0)
      IndexHealth(
        nlist = nlist,
        cellsPresent = cellStats.size,
        liveFiles = cellStats.map(_.liveFiles).sum,
        liveBytes = cellStats.map(_.liveBytes).sum,
        maxCellFiles = if (cellStats.isEmpty) 0 else cellStats.map(_.liveFiles).max,
        byteImbalance =
          if (bytes.isEmpty) 0.0
          else bytes.max.toDouble / (bytes.sum.toDouble / bytes.size))
    }

  /** Rebuild-on-drift thresholds. An index is HEALTHY (no-op, zero
    * Spark jobs — health reads manifests only) while `byteImbalance`
    * stays at or below the limit; a rebuild fires only strictly above.
    */
  final case class RebuildPolicy(maxByteImbalance: Double = 3.0)

  /** Imbalance-gated quantizer rebuild (r7 verdict #4): the automated
    * form of the "frozen centroids drift → hot cells grow → rebuild"
    * judgment [[health]]'s scaladoc leaves to the operator. Reading
    * health costs manifest lookups only, so the HEALTHY path runs zero
    * Spark jobs; above threshold the coarse quantizer retrains from
    * `corpus` (the CURRENT corpus — codes alone cannot retrain) under
    * the index-level composite writer lease, and the new assignment is
    * written as a fresh EPOCH that the centroids commit switches to
    * atomically (see [[buildImpl]]): a crash mid-rebuild leaves the
    * previous epoch serving intact, and a concurrent [[ingest]] or
    * rebuild fails loudly on the shared composite lease instead of
    * interleaving.
    *
    * nlist/storage default to the INDEX'S OWN stored configuration —
    * an automated maintenance caller must not silently re-shape the
    * index; pass them explicitly only to deliberately reconfigure.
    */
  def rebuildIfImbalanced(spark: SparkSession, indexDir: String,
                          corpus: DataFrame, nlist: Int = -1,
                          storage: String = "",
                          policy: RebuildPolicy = RebuildPolicy()): Seq[String] =
    health(spark, indexDir) match {
      case None => Nil // no index yet — building it is an explicit operator action
      case Some(h) if h.byteImbalance <= policy.maxByteImbalance => Nil
      case Some(h) =>
        val props = Upsert.currentManifest(spark, centroidsDir(indexDir))
          .map(_.props).getOrElse(Map.empty)
        val useNlist = if (nlist > 0) nlist else props.get("nlist").map(_.toInt).getOrElse(16)
        val useStorage = if (storage.nonEmpty) storage else props.getOrElse("storage", "milli")
        Upsert.withCompositeLease(spark, indexDir) {
          buildImpl(spark, indexDir, corpus, useNlist, useStorage, replace = true)
        }
        Seq(f"rebuild: byteImbalance ${h.byteImbalance}%.2f > " +
          f"${policy.maxByteImbalance}%.2f (nlist=$useNlist, storage=$useStorage)")
    }

  /** Threshold-gated maintenance over every cell subtable. Cell merges
    * are copy-on-write, so per-bucket FILE counts stay flat — what a
    * long-lived index accumulates is superseded MVCC generations: every
    * [[ingest]] batch rewrites its touched buckets and the previous
    * files become reclaimable history. Delegates each cell to
    * [[graft.io.Maintenance.runUpsert]] under the SAME policy contract
    * as every other table (vacuum over the reclaimable thresholds;
    * compaction if a layout change ever stacks files): a healthy index
    * runs ZERO Spark jobs; returns the actions taken, prefixed by
    * cell. Probe results are content-identical before and after
    * (spec-pinned) — maintenance touches dead history, never content.
    */
  def maintain(spark: SparkSession, indexDir: String,
               policy: graft.io.Maintenance.Policy = graft.io.Maintenance.Policy(),
               corpus: Option[DataFrame] = None,
               rebuild: RebuildPolicy = RebuildPolicy())
      : Seq[String] = {
    val m = Upsert.currentManifest(spark, centroidsDir(indexDir))
      .getOrElse(return Nil)
    // drift guard first (VERDICT r12 #6): when the caller supplies the
    // CURRENT corpus, an over-threshold byteImbalance retrains the
    // quantizer under the composite lease before any per-cell pass —
    // the new epoch swaps in atomically and the old one becomes the
    // reclaimable history the cell sweep below then collects. Healthy
    // indexes (and corpus-less calls — codes alone cannot retrain)
    // stay zero-job.
    val drift = corpus.toSeq.flatMap(c =>
      rebuildIfImbalanced(spark, indexDir, c, policy = rebuild))
    val m2 = if (drift.isEmpty) m
      else Upsert.currentManifest(spark, centroidsDir(indexDir)).getOrElse(m)
    val nlist = m2.props.get("nlist").map(_.toInt).getOrElse(return drift)
    val epoch = m2.props.get("epoch").map(_.toInt).getOrElse(0)
    drift ++ (0 until nlist).flatMap { c =>
      graft.io.Maintenance.runUpsert(spark, cellDir(indexDir, epoch, c),
        pk = Seq("vec_id"), policy = policy)
        .map(a => s"cell=$c: $a")
    }
  }
}
