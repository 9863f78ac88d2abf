package graft.io

/** Bounded, access-ordered map behind the driver-side metadata memos
  * (parsed manifests, bucket layouts, delta-batch schemas): past
  * `capacity` entries the least recently used one goes, so a
  * long-running driver holds a fixed number of entries however many
  * generations it commits. A value is computed outside the lock: two
  * threads missing on one key may both compute it, which is harmless
  * for memos of immutable metadata.
  */
private[io] final class Lru[K, V](capacity: Int) {
  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      this.size > capacity
  }

  def get(k: K): Option[V] = synchronized(Option(m.get(k)))

  def put(k: K, v: V): Unit = synchronized { m.put(k, v); () }

  def getOrElseUpdate(k: K)(v: => V): V =
    get(k).getOrElse { val x = v; put(k, x); x }

  def removeKeys(p: K => Boolean): Unit = synchronized { m.keySet.removeIf(k => p(k)); () }

  def count(p: K => Boolean): Int = synchronized(m.keySet.stream.filter(k => p(k)).count.toInt)

  def clear(): Unit = synchronized(m.clear())
}

private[io] object Lru {

  /** Entries of the parsed-manifest and delta-schema memos. Sized from
    * measured traffic, distinct keys per run: a `warehouse_queries` run
    * touches 1 manifest and no delta batch, an `rtdw_live` run 10 and 5,
    * a whole `Bench` board at sf0.01 166 and 92. None of them evicts.
    */
  val MemoEntries = 256
}
