package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}

/** Bounded, access-ordered map: past `capacity` entries the least
  * recently used one goes, so a long-running driver holds a fixed number
  * of entries however many tables, generations or sessions it sees.
  * [[FileMeta]] and the session-keyed registries of `graft.core` hold
  * their entries in one of these.
  */
private[graft] final class Lru[K, V](capacity: Int) {
  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      this.size > capacity
  }

  def get(k: K): Option[V] = synchronized(Option(m.get(k)))

  def put(k: K, v: V): Unit = synchronized { m.put(k, v); () }

  /** Atomic: `v` is computed under the lock, so it must be cheap. */
  def getOrElseUpdate(k: K)(v: => V): V =
    synchronized(Option(m.get(k)).getOrElse { val x = v; m.put(k, x); x })

  def removeKeys(p: K => Boolean): Unit = synchronized { m.keySet.removeIf(k => p(k)); () }

  def count(p: K => Boolean): Int = synchronized(m.keySet.stream.filter(k => p(k)).count.toInt)

  def clear(): Unit = synchronized(m.clear())
}

/** The driver's one cache of metadata derived from immutable files:
  * source-table schemas and row counts ([[Tables]]), parsed manifests
  * and bucket layouts ([[Upsert]]), delta-batch schemas ([[MergeOnRead]]).
  *
  * An entry is keyed on what it describes (its [[Kind]] and a path) and
  * carries the [[Id]] of the files it was derived from. The one staleness
  * rule: an entry is served only while the caller's fresh [[Id]] of those
  * files equals the stored one; otherwise it is recomputed and replaced.
  * A dropped-and-recreated table whose generation numbering restarts
  * therefore never serves the dead table's metadata. Currency is not
  * cached: callers list or stat the files on every call and pass the
  * result in. Nothing row-valued is cached; every query still scans the
  * files. A value is computed outside the lock: two threads missing on
  * one entry may both compute it, which is harmless for immutable
  * metadata.
  */
private[graft] object FileMeta {

  /** What an entry holds; `V` is its value type. */
  final case class Kind[V](name: String)

  /** Schema of a source parquet file, per value of the one session conf
    * that changes what inference returns for it (TIMESTAMP(NANOS) reads
    * as LongType under it).
    */
  def sourceSchema(nanosAsLong: String): Kind[org.apache.spark.sql.types.StructType] =
    Kind(s"source schema, nanosAsLong=$nanosAsLong")
  val SourceRows: Kind[java.lang.Long] = Kind("source rows")
  val ParsedManifest: Kind[Upsert.Manifest] = Kind("manifest")
  /** Keyed on its manifest: a layout is derived from one generation. */
  val Layout: Kind[Upsert.BucketLayout] = Kind("bucket layout")
  val DeltaSchema: Kind[org.apache.spark.sql.types.StructType] = Kind("delta schema")

  /** Identity of the files an entry was derived from: total bytes,
    * newest mtime and file count. A write-once file or batch dir keeps
    * it; a rewrite or a recreate changes it. A same-size rewrite inside
    * one mtime tick with an unchanged file count would keep it too —
    * manifests, delta batches and the source files are never rewritten
    * in place, so that window is not reached in normal operation.
    */
  final case class Id(bytes: Long, mtime: Long, files: Int)

  object Id {
    def of(files: Seq[FileStatus]): Id =
      Id(files.map(_.getLen).sum, files.map(_.getModificationTime).max, files.length)
  }

  /** Entries, all kinds together. Sized from measured traffic: distinct
    * keys per kind over one JVM's lifetime (manifests / bucket layouts /
    * delta schemas / source schemas / source row counts):
    *   - one `rtdw_live` run (seed 7001): 10 / 0 / 5 / 0 / 0, 15 in all;
    *   - one `warehouse_queries` run (seed 7001): 1 / 1 / 0 / 8 / 0, 10;
    *   - a whole `Bench` board at sf0.01, `SPARK_GRAFT_CPUS=4`, warm-up
    *     at sf0.001 included: 166 / 42 / 92 / 20 / 4, 324.
    * An eviction counter read 0 on each at this cap; 256 entries would
    * not hold the board's 324 keys.
    */
  val Entries = 512

  private val cache = new Lru[(Kind[_], String), (Id, Any)](Entries)

  /** The `kind` value for `path`, computed by `load` unless an entry
    * derived from files of identity `id` is cached.
    */
  def apply[V](kind: Kind[V], path: String, id: Id)(load: => V): V =
    cache.get((kind, path)) match {
      case Some((`id`, v)) => v.asInstanceOf[V]
      case _ =>
        val v = load
        cache.put((kind, path), (id, v))
        v
    }

  /** Drop every entry of the table at or under `dir`. */
  def forget(dir: String): Unit = cache.removeKeys(k => isUnder(dir)(k._2))

  /** Entries cached for paths at or under `dir`. */
  def entries(dir: String): Int = cache.count(k => isUnder(dir)(k._2))

  def clear(): Unit = cache.clear()

  /** Whether path `p`, qualified or not, is `dir` or lies under it. */
  private def isUnder(dir: String)(p: String): Boolean = {
    val root = new Path(dir).toUri.getPath.stripSuffix("/")
    val q = new Path(p).toUri.getPath
    q == root || q.startsWith(root + "/")
  }
}
