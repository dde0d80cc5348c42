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
  * An entry holds the decoded rows and, once a serve path has asked
  * for it ([[Entry.json]]), the JSON v1 wire element of every row: a
  * row's wire text cannot change while its file is immutable, so each
  * row is encoded once per cache lifetime, not once per request.
  *
  * Bounded by [[MaxBytes]] over every entry's decoded arrays plus its
  * encoded elements, least recently used evicted first. A store's
  * entries are purged when its version numbering regresses (deleted
  * and recreated at the same path) and on the serve paths' missing-file
  * retry.
  */
private[graft] object DecodedRowCache {

  /** Decoded-row-group budget per request: a request that would decode
    * more groups than this (pathological fragmentation, or a window so
    * wide the read is a real scan) is the DataFrame engine's job.
    */
  val MaxDecodedGroups = 64

  /** Cache bound in bytes: the decoders' heap estimates of their rows
    * plus the exact size of the encoded element strings (40 bytes of
    * `String` and array headers per element, one byte per char — two
    * when an element holds a char beyond Latin-1). A scalar raw row
    * with its element is about 200 bytes, so the bound holds ~1.3M of
    * them. Worst case the cache holds this bound by its own count
    * (decoded rows are estimates, encodings exact); an entry evicted
    * while a request reads it lives until that request ends, and an
    * entry larger than the whole bound is never cached.
    */
  val MaxBytes: Long = 256L << 20

  /** Row groups decoded from parquet (cache misses only), process-wide
    * — tests pin that a repeated request decodes nothing. */
  private[graft] val decodedGroups = new AtomicLong

  /** Rows encoded to wire elements, process-wide — tests pin that a
    * repeated request encodes nothing. */
  private[graft] val encodedElements = new AtomicLong

  /** Wire elements encoded outside any entry's cached encoding,
    * process-wide: computed points (a derived channel's grid), a typed
    * row's re-raised encoding error, and an M4 or LTTB point of a file
    * no raw serve has encoded yet. An M4 or LTTB request over encoded
    * files encodes none — tests pin it. */
  private[graft] val uncachedElements = new AtomicLong

  private final case class Key(file: String, bytes: Long, channel: String,
                               projection: String)

  /** One cached channel-file: its rows (never mutated) and, after the
    * first [[json]] call, the wire element of each row.
    */
  final class Entry[A <: AnyRef] private[DecodedRowCache] (
      private[DecodedRowCache] val key: Key,
      private[DecodedRowCache] val store: String, val rows: A,
      rowBytes: Long, private[DecodedRowCache] val groups: Int) {
    @volatile private var wire: Array[String] = _
    // counted in `weight` only while the entry is cached; guarded by lru
    private var wireBytes = 0L

    private[DecodedRowCache] def weight: Long = rowBytes + wireBytes

    /** The JSON v1 element of each row, in row order: `encode` runs on
      * the first call, and its strings then count against
      * [[MaxBytes]] for as long as the entry stays cached. */
    /** The elements [[json]] made, or null before its first call. */
    def encoded: Array[String] = wire

    def json(encode: A => Array[String]): Array[String] = {
      val cached = wire
      if (cached != null) return cached
      val fresh = encode(rows)
      encodedElements.addAndGet(fresh.length)
      var bytes = 16L + 4L * fresh.length
      fresh.foreach(s => if (s != null) bytes += stringBytes(s))
      lru.synchronized {
        if (wire == null) {
          wire = fresh
          if (lru.get(key) eq this) {
            wireBytes = bytes
            total += bytes
            evict()
          }
        }
        wire
      }
    }
  }

  private def stringBytes(s: String): Long = {
    var wide = false
    var i = 0
    while (!wide && i < s.length) { wide = s.charAt(i) > 0xFF; i += 1 }
    40L + (if (wide) 2L * s.length else s.length)
  }

  /** One request's budget and the entries it already holds: a file read
    * twice in one request (inner scan and a boundary lookup) is charged
    * once. A cache hit charges the entry's decoded group count exactly
    * as a fresh decode would, so whether a request stays under
    * [[MaxDecodedGroups]] never depends on what the cache holds.
    */
  final class Budget {
    private[DecodedRowCache] var used = 0
    private[DecodedRowCache] val held =
      mutable.HashMap.empty[Key, Entry[_ <: AnyRef]]

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

  private val lru = new java.util.LinkedHashMap[Key, Entry[_ <: AnyRef]](
    256, 0.75f, /* accessOrder */ true)
  private var total = 0L

  /** The entry of `channel` in `file` under `projection`: from this
    * request, from the cache, or from `decode`, which returns the rows
    * and their heap estimate in bytes and charges
    * `budget.decodedGroup()` per group. A decode that throws (out of
    * budget, missing file) caches nothing.
    */
  def entry[A <: AnyRef](budget: Budget, store: String, file: String,
                         bytes: Long, channel: String, projection: String)
                        (decode: => (A, Long)): Entry[A] = {
    val key = Key(file, bytes, channel, projection)
    budget.held.getOrElseUpdate(key, {
      val hit = lru.synchronized(lru.get(key))
      if (hit != null) {
        budget.charge(hit.groups)
        hit
      } else {
        val before = budget.used
        val (decoded, w) = decode
        val e = new Entry(key, store, decoded, w max 1L,
          budget.used - before)
        put(e)
        e
      }
    }).asInstanceOf[Entry[A]]
  }

  private def put(e: Entry[_ <: AnyRef]): Unit =
    if (e.weight <= MaxBytes) lru.synchronized {
      val prev = lru.put(e.key, e)
      if (prev != null) total -= prev.weight
      total += e.weight
      evict()
    }

  /** Least recently used first, until the total is within the bound;
    * call holding the lru lock. */
  private def evict(): Unit = {
    val it = lru.values.iterator
    while (total > MaxBytes && it.hasNext) {
      total -= it.next().weight
      it.remove()
    }
  }

  /** Drop every entry decoded from one store's files. */
  def purge(store: String): Unit = lru.synchronized {
    val it = lru.values.iterator
    while (it.hasNext) {
      val e = it.next()
      if (e.store == store) { total -= e.weight; it.remove() }
    }
  }
}
