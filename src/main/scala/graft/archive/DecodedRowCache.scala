package graft.archive

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** Process-wide cache of one channel's decoded rows per data file —
  * the shared decode layer of [[DirectServe]] (serve, panels, level
  * planning) and [[DirectServeTyped]].
  *
  * Safe across manifest versions because a manifest store never
  * modifies a data file after writing it: commits, compaction,
  * `replaceRange` and channel removal all stage new UUID-named files.
  * The rows of one channel decoded from one file are therefore valid
  * under every version that references the file, and a new version
  * only decodes the files it added. The key is the resolved file path
  * plus the manifest entry's byte size (a path reused for different
  * bytes cannot hit), the channel, and the projection.
  *
  * Bounded by [[MaxWeight]] row units, least recently used evicted
  * first. A store's entries are purged when its version numbering
  * regresses (deleted and recreated at the same path) and on the
  * serve paths' missing-file retry.
  */
private[graft] object DecodedRowCache {

  /** Decoded-row-group budget per request: a request that would decode
    * more groups than this (pathological fragmentation, or a window so
    * wide the read is a real scan) is the DataFrame engine's job.
    */
  val MaxDecodedGroups = 64

  /** Cache bound in row units: a scalar row is one unit, a typed row
    * (a ~20-field object) [[TypedRowWeight]]. ~2M scalar rows is
    * ~50 MB of primitive arrays.
    */
  val MaxWeight: Long = 1L << 21
  val TypedRowWeight = 8

  /** Row groups decoded from parquet (cache misses only), process-wide
    * — tests pin that a repeated request decodes nothing. */
  private[graft] val decodedGroups = new AtomicLong

  private final case class Key(file: String, bytes: Long, channel: String,
                               projection: String)
  private final class Entry(val store: String, val rows: AnyRef,
                            val weight: Long, val groups: Int)

  /** One request's budget and the rows it already holds: a file read
    * twice in one request (inner scan and a boundary lookup) is charged
    * once. A cache hit charges the entry's decoded group count exactly
    * as a fresh decode would, so whether a request stays under
    * [[MaxDecodedGroups]] never depends on what the cache holds.
    */
  final class Budget {
    private[DecodedRowCache] var used = 0
    private[DecodedRowCache] val held = mutable.HashMap.empty[Key, AnyRef]

    /** Charge one freshly decoded row group — decoders call this per
      * non-empty group, before decoding it. */
    def decodedGroup(): Unit = {
      charge(1)
      decodedGroups.incrementAndGet()
    }

    private[DecodedRowCache] def charge(groups: Int): Unit = {
      used += groups
      if (used > MaxDecodedGroups) throw new DirectServe.FallbackException
    }
  }

  private val lru =
    new java.util.LinkedHashMap[Key, Entry](256, 0.75f, /* accessOrder */ true)
  private var weight = 0L

  /** The rows of `channel` in `file` under `projection`: from this
    * request, from the cache, or from `decode`, which returns the rows
    * and their weight and charges `budget.decodedGroup()` per group.
    * A decode that throws (out of budget, missing file) caches nothing.
    */
  def rows[A <: AnyRef](budget: Budget, store: String, file: String,
                        bytes: Long, channel: String, projection: String)
                       (decode: => (A, Long)): A = {
    val key = Key(file, bytes, channel, projection)
    budget.held.getOrElseUpdate(key, {
      val hit = lru.synchronized(lru.get(key))
      if (hit != null) {
        budget.charge(hit.groups)
        hit.rows
      } else {
        val before = budget.used
        val (decoded, w) = decode
        put(key, new Entry(store, decoded, w max 1L, budget.used - before))
        decoded
      }
    }).asInstanceOf[A]
  }

  private def put(key: Key, e: Entry): Unit =
    if (e.weight <= MaxWeight) lru.synchronized {
      val prev = lru.put(key, e)
      if (prev != null) weight -= prev.weight
      weight += e.weight
      val it = lru.values.iterator
      while (weight > MaxWeight && it.hasNext) {
        weight -= it.next().weight
        it.remove()
      }
    }

  /** Drop every entry decoded from one store's files. */
  def purge(store: String): Unit = lru.synchronized {
    val it = lru.values.iterator
    while (it.hasNext) {
      val e = it.next()
      if (e.store == store) { weight -= e.weight; it.remove() }
    }
  }
}
