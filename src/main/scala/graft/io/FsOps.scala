package graft.io

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Small filesystem commit primitives shared by the io layer.
  *
  * Every durable state transition in this package commits via a
  * directory/file rename. HDFS-compatible filesystems make that rename
  * atomic but signal failure with a FALSE RETURN, not an exception —
  * swallowing it turns "commit failed" into "commit silently skipped"
  * (the streaming checkpoint then advances past a lost batch, the one
  * failure mode the exactly-once wrappers exist to prevent). Everything
  * here throws on a failed rename so the caller's batch fails and
  * Spark replays it.
  */
object FsOps {

  def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Rename as a commit point; throws when the rename did not happen. */
  def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new IllegalStateException(
        s"atomic commit failed: rename $src -> $dst (target exists or parent missing)")

  def readTextOpt(spark: SparkSession, path: Path): Option[String] = {
    val f = fs(spark, path)
    if (!f.exists(path)) None
    else {
      val in = f.open(path)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in),
        StandardCharsets.UTF_8).trim)
      finally in.close()
    }
  }

  /** Atomically create `path` with `content`, failing (false) when it
    * already exists — the claim primitive behind the writer lease. On
    * HDFS-like filesystems `create(overwrite = false)` is the
    * namenode's atomic exclusive create; Hadoop's LOCAL filesystem
    * implements it as a non-atomic exists()-then-create and adds `.crc`
    * sidecars that go stale under contention, so the local scheme goes
    * through the OS's O_EXCL open instead (atomic by POSIX).
    */
  def createExclusive(fs: FileSystem, path: Path, content: String): Boolean =
    if (fs.getScheme == "file") {
      val nio = java.nio.file.Paths.get(path.toUri.getPath)
      try {
        if (nio.getParent != null) java.nio.file.Files.createDirectories(nio.getParent)
        java.nio.file.Files.write(nio, content.getBytes(StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
    } else {
      try {
        val out = fs.create(path, false)
        try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }

  /** Statuses of `files`, in their order: ONE `listStatus` per distinct
    * parent dir instead of one `getFileStatus` per file — O(dirs), not
    * O(files), round trips on object storage. A name its dir's listing
    * lacks is statused on its own (a missing file fails there).
    */
  def statuses(fs: FileSystem, files: Seq[Path]): Seq[FileStatus] = {
    val listed = files.map(_.getParent).distinct.map { d =>
      d -> fs.listStatus(d).iterator.filter(_.isFile)
        .map(st => st.getPath.getName -> st).toMap
    }.toMap
    files.map(p => listed(p.getParent).getOrElse(p.getName, fs.getFileStatus(p)))
  }

  /** Read a small file bypassing checksum sidecars (None on any read
    * failure — a concurrently rewritten lease token is simply "not
    * ours"). The checksum layer's `.crc` files lag behind a racing
    * recreate on the local scheme and throw ChecksumException at
    * exactly the wrong moment; lease reads must not.
    */
  def readRawOpt(fs: FileSystem, path: Path): Option[String] =
    if (fs.getScheme == "file") {
      val nio = java.nio.file.Paths.get(path.toUri.getPath)
      try Some(new String(java.nio.file.Files.readAllBytes(nio),
        StandardCharsets.UTF_8))
      catch { case _: java.io.IOException => None }
    } else {
      try {
        if (!fs.exists(path)) None
        else {
          val in = fs.open(path)
          try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in),
            StandardCharsets.UTF_8))
          finally in.close()
        }
      } catch { case _: java.io.IOException => None }
    }

  /** The shared numbered-batch commit primitive behind [[ChangeFeed]]
    * appends and [[MergeOnRead]] delta merges: stage the batch under a
    * hidden `.batch-<n>.tmp` dir (re-staging over a crashed attempt),
    * drop the idempotence marker inside, then ONE rename to
    * `batch=<n>` makes marker and data visible together — a reader can
    * never list a half-written batch, and a replayed commitId is found
    * by the marker scan before any restaging happens. `write` receives
    * the staging dir and must leave the batch's files in it.
    */
  /** Marker file carrying a batch's commit time from the DRIVER clock
    * — the same clock [[graft.io.Upsert]] stamps `committedAtMs` with,
    * so `TIMESTAMP AS OF` resolves delta batches and base manifests
    * against ONE time axis (ADVICE r10: a filesystem mtime is the FS
    * clock at staging, which can skew from the driver's).
    */
  val CommittedAtPrefix = "_committedAt-"

  /** A committed batch dir's driver-clock stamp; None for batches
    * written before the marker existed (callers fall back to mtime).
    */
  def batchCommittedAt(fs: FileSystem, batchDir: Path): Option[Long] =
    fs.listStatus(batchDir).iterator.map(_.getPath.getName)
      .collectFirst { case n if n.startsWith(CommittedAtPrefix) =>
        n.stripPrefix(CommittedAtPrefix).toLong }

  /** `preCommit` runs after the staged write, IMMEDIATELY before the
    * publishing rename — the last point a caller can veto the commit
    * (throw → the staged dir is deleted, nothing published). Used by
    * lock-narrowed appends to re-check invariants a concurrent
    * table-lease holder may have changed while the batch staged.
    */
  def stageAndCommitBatch(fs: FileSystem, root: Path, batch: Long,
                          commitId: Option[String],
                          preCommit: () => Unit = () => ())
                         (write: Path => Unit): Unit = {
    val tmp = new Path(root, s".batch-$batch.tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    write(tmp)
    try preCommit()
    catch { case e: Throwable => fs.delete(tmp, true); throw e }
    commitId.foreach(id => fs.create(new Path(tmp, s"_commit-$id"), true).close())
    // stamped just before the publishing rename, from the driver clock
    fs.create(new Path(tmp, s"$CommittedAtPrefix${System.currentTimeMillis()}"),
      true).close()
    renameOrThrow(fs, tmp, new Path(root, s"batch=$batch"))
  }

  /** Write a small text file via stage-and-rename. */
  def writeTextAtomic(spark: SparkSession, path: Path, content: String): Unit = {
    val f = fs(spark, path)
    val tmp = new Path(path.getParent, "." + path.getName + ".tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (f.exists(path)) f.delete(path, false)
    renameOrThrow(f, tmp, path)
  }
}
