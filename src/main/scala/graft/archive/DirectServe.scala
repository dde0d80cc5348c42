package graft.archive

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Dictionary
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter,
  PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.{MessageType, PrimitiveType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, DoubleType, LongType,
  StringType, StructType}

/** Driver-side point-read serving — the cold-path latency fix for the
  * single-channel serve (the reference answers these from Cassandra
  * point reads in milliseconds, ArchiveAccessServiceImpl.java:756-938;
  * the DataFrame path pays several Spark job round trips per request,
  * ~0.4 s even on a warm session).
  *
  * For a [[ManifestBackend]] store, a single-channel request needs no
  * cluster at all: the manifest gives the pruned file list driver-side
  * (level + ts-range + clustering-key range), parquet row-group stats
  * prune inside each file, and the surviving row groups decode on the
  * driver — the same rows a cluster read would funnel through the
  * driver anyway, minus every job-scheduling round trip.
  *
  * This object holds the one row selection both direct serves share
  * ([[Selection]]: the range scan, the two boundary lookups and the
  * first-arrival survivor rule, by binary search over each file's
  * ts-ascending rows), the channel scan both decoders run
  * ([[scanChannel]]), and the vacuum retry ([[direct]]). On top of it,
  * [[tryServe]] serves scalar stores (single-segment plans at any
  * level, with the lo/hi boundary-mode matrix) and [[tryRawRows]] feeds
  * the panels; [[DirectServeTyped]] serves typed-union stores and owns
  * only their decode and wire encoding. Anything outside the envelope
  * (multi-segment retention fallback, non-manifest backends, more row
  * groups than the per-request budget) falls back to the DataFrame
  * path, so this is strictly a fast path, never a different answer —
  * byte-identity with the Spark path is gated by DirectServeSpec,
  * DirectServeTypedSpec and DirectParityFuzzSpec across boundary
  * modes, nulls, non-finite doubles and multi-commit duplicate
  * timestamps.
  *
  * Scale note: this is a LATENCY path for interactive dashboards, not
  * a throughput path — per-request work is O(row groups containing the
  * channel in the requested window), bounded by
  * [[DecodedRowCache.MaxDecodedGroups]] regardless of store size; scans
  * and aggregates stay on the engine. Decoded rows are shared across
  * requests and manifest versions through [[DecodedRowCache]], so a
  * repeated request decodes only files it has not seen.
  */
object DirectServe {

  import ArchiveServer.LevelState
  import ArchiveReader.{AtOrWidened, Exact, LimitMode}

  /** Abort signal: out of the fast path's envelope — caught by
    * [[direct]], which returns None so the caller falls back. */
  private[archive] final class FallbackException extends RuntimeException(
    null, null, false, false)

  /** The typed engine boundary probe's geometric reach: spans of 1, 2,
    * …, 2048 days (4096 would exceed the 3650-day default clamp), so a
    * boundary farther than 2048 days from the bound is NOT found — the
    * typed fast path must stop at the same distance or it would serve
    * a sample the engine's walk never reaches. The scalar probe's span
    * is clamped to the distance to the channel's earliest sample, so
    * the scalar path has no reach cap.
    */
  private[archive] val LimitReach: Long = 2048L * 86400L * 1000000000L

  /** Entry path → absolute data path (manifest entries are
    * root-relative). */
  private[archive] def resolveDataPath(root: String, p: String): String =
    if (p.startsWith("/") || p.contains(":/")) p else s"$root/$p"

  /** Exact per-channel level states, memoized per (store, version,
    * channel) — shared planning metadata for the scalar and typed
    * fast paths.
    */
  private[archive] def levelStatesOf(spark: SparkSession, storePath: String,
                                     version: Long,
                                     manifest: ManifestStore.Manifest,
                                     channel: String): Seq[LevelState] = {
    val key = (storePath, version, channel)
    val hit = levelStatesMemo.get(key)
    if (hit != null) hit
    else {
      val ctx = new Ctx(spark.sparkContext.hadoopConfiguration, storePath,
        channel)
      val computed = computeLevelStates(ctx, manifest)
      if (levelStatesMemo.size > 8192) levelStatesMemo.clear()
      levelStatesMemo.put(key, computed)
      computed
    }
  }

  private val levelStatesMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, String), Seq[LevelState]]()

  // a store deleted and recreated at the same path restarts version
  // numbering — (path, version) keys would serve the DEAD store's
  // level states; the manifest log confirms the regression and purges us
  ManifestStore.log.onRegression(invalidateStore)

  /** The row view the selection reads: one channel's rows in one file,
    * ts-ascending. `sid` is the sample_id, the duplicate-timestamp
    * tiebreak (first arrival = min sample_id wins — the querySamples
    * survivor rule); 0 when it was not decoded. */
  private[archive] trait Rows {
    def length: Int
    def ts(i: Int): Long
    def sid(i: Int): Long
    /** Heap estimate, what [[DecodedRowCache]] bounds. */
    def bytes: Long
  }

  /** Scalar rows as the decoded-rows cache holds them: column-wise.
    * `values` is null for the ts-only planning projection, `nulls`
    * marks null values, `sids` is null when sample_id was not decoded.
    * Never mutated after construction.
    */
  private[archive] final class ScalarRows(val tsArr: Array[Long],
      values: Array[Double], nulls: java.util.BitSet, sids: Array[Long])
      extends Rows {
    def length: Int = tsArr.length
    def ts(i: Int): Long = tsArr(i)
    def value(i: Int): java.lang.Double =
      if (isNull(i)) null else java.lang.Double.valueOf(values(i))
    /** No value: a null sample, or the ts-only projection. */
    def isNull(i: Int): Boolean = values == null || nulls.get(i)
    /** The value of a row that is not [[isNull]], unboxed. */
    def double(i: Int): Double = values(i)
    def sid(i: Int): Long = if (sids == null) 0L else sids(i)
    /** The primitive columns and the null bitmap. */
    def bytes: Long = 64L + 8L * length *
      (1 + (if (values == null) 0 else 1) + (if (sids == null) 0 else 1)) +
      nulls.size / 8
    /** Every row's wire element ([[jsonOf]]), in row order. */
    def json: Array[String] =
      Array.tabulate(length)(i => element(ts(i), value(i)))
    /** The same rows in `order`. */
    def reorder(order: Array[Int]): ScalarRows = {
      val sortedNulls = new java.util.BitSet
      order.indices.foreach(k => if (nulls.get(order(k))) sortedNulls.set(k))
      new ScalarRows(order.map(tsArr),
        if (values == null) null else order.map(values), sortedNulls,
        if (sids == null) null else order.map(sids))
    }
  }

  /** A selected row: index `i` of one cached channel-file. */
  private[archive] final class Hit[R <: Rows](
      val e: DecodedRowCache.Entry[R], val i: Int) {
    def ts: Long = e.rows.ts(i)
    def sid: Long = e.rows.sid(i)
  }

  /** A selected scalar row's wire element: its file's encoding, made
    * once per cached entry. */
  private[archive] def wire(h: Hit[ScalarRows]): String = h.e.json(_.json)(h.i)

  /** A panel point's wire element: the cached one when its file is
    * encoded already, else this point alone ([[jsonOf]]). A panel
    * picks a few points of a file, so it never encodes the whole file
    * for them. */
  private[archive] def pointWire(h: Hit[ScalarRows]): String = {
    val cached = h.e.encoded
    if (cached != null) cached(h.i) else jsonOf(h.ts, h.e.rows.value(h.i))
  }

  /** Rows `[from, until)` of one cached channel-file: a file's slice of
    * a range, ts-ascending. */
  private[archive] final class Run[R <: Rows](
      val e: DecodedRowCache.Entry[R], val from: Int, val until: Int)

  /** The panels' row view ([[tryRawRows]]): one channel's raw rows of a
    * range, merged from the selected files' runs into (ts, sample_id)
    * order, duplicates kept. The accessors read the cached columns in
    * place, and `hit(i)` names the cached row, so a panel that serves
    * stored samples can serve their cached wire elements. One file is
    * read as is; more are merged once into a position index through a
    * heap of the runs' heads, which costs one or two comparisons per
    * row while the top run stays ahead (disjoint runs, the common
    * ingest layout) and log(runs) otherwise. Each run is
    * (ts, sample_id)-ascending ([[scanChannel]]) and ties go to the
    * earlier run, so the merge is the stable (ts, sample_id) sort of
    * every row.
    */
  private[archive] final class PanelRows(runs: IndexedSeq[Run[ScalarRows]]) {
    private val files = runs.map(_.e.rows).toArray
    val length: Int = runs.map(r => r.until - r.from).sum
    // merged position -> run, and -> row of that run's file; null for
    // a single run, whose rows are already in order
    private val runAt: Array[Int] =
      if (runs.length < 2) null else new Array[Int](length)
    private val rowAt: Array[Int] =
      if (runs.length < 2) null else new Array[Int](length)
    if (runAt != null) {
      val pos = runs.map(_.from).toArray
      // run a's head sorts before run b's (ties: the earlier run)
      def before(a: Int, b: Int): Boolean = {
        val ta = files(a).ts(pos(a))
        val tb = files(b).ts(pos(b))
        ta < tb || ta == tb && {
          val sa = files(a).sid(pos(a))
          val sb = files(b).sid(pos(b))
          sa < sb || sa == sb && a < b
        }
      }
      // a binary min-heap of the runs that still hold rows
      val heap = Array.range(0, runs.length)
      var size = heap.length
      def siftDown(at: Int): Unit = {
        var i = at
        var done = false
        while (!done) {
          val l = 2 * i + 1
          var m = i
          if (l < size && before(heap(l), heap(m))) m = l
          if (l + 1 < size && before(heap(l + 1), heap(m))) m = l + 1
          if (m == i) done = true
          else {
            val t = heap(i); heap(i) = heap(m); heap(m) = t
            i = m
          }
        }
      }
      var h = size / 2 - 1
      while (h >= 0) { siftDown(h); h -= 1 }
      var n = 0
      while (n < length) {
        val best = heap(0)
        runAt(n) = best
        rowAt(n) = pos(best)
        pos(best) += 1
        n += 1
        if (pos(best) == runs(best).until) { size -= 1; heap(0) = heap(size) }
        siftDown(0)
      }
    }

    private def file(i: Int): ScalarRows =
      if (runAt == null) files(0) else files(runAt(i))
    private def row(i: Int): Int =
      if (rowAt == null) runs(0).from + i else rowAt(i)

    def ts(i: Int): Long = file(i).ts(row(i))
    def isNull(i: Int): Boolean = file(i).isNull(row(i))
    /** The value at a position that is not [[isNull]]. */
    def value(i: Int): Double = file(i).double(row(i))
    def sid(i: Int): Long = file(i).sid(row(i))
    def hit(i: Int): Hit[ScalarRows] =
      new Hit(if (runAt == null) runs(0).e else runs(runAt(i)).e, row(i))
  }

  /** (ts, sample_id): the survivor order of duplicate timestamps. */
  private def hitOrder[R <: Rows]: Ordering[Hit[R]] = (a, b) => {
    val c = java.lang.Long.compare(a.ts, b.ts)
    if (c != 0) c else java.lang.Long.compare(a.sid, b.sid)
  }

  /** One request's decode state: the channel and the decoded-group
    * budget, which also remembers the files this request already read
    * (the inner scan and both boundary lookups often hit the same day
    * file).
    */
  private[archive] final class Ctx(val conf: Configuration,
                                   val root: String, val channel: String) {
    val budget = new DecodedRowCache.Budget

    /** One file's rows of this channel under `projection`, through the
      * process-wide [[DecodedRowCache]]; `decode` reads the resolved
      * file on a miss. */
    def rows[R <: Rows](e: ManifestStore.FileEntry, projection: String)
                       (decode: String => R): DecodedRowCache.Entry[R] = {
      val file = resolveDataPath(root, e.path)
      DecodedRowCache.entry(budget, root, file, e.bytes, channel,
          projection) {
        val rows = decode(file)
        (rows, rows.bytes)
      }
    }
  }

  /** A direct serve at `snap`: None when it leaves the fast path's
    * envelope (throws [[FallbackException]]).
    *
    * Vacuum race: a concurrent maintenance process can delete a data
    * file between this request's version resolution and its page read
    * (only possible when the file aged past the vacuum GRACE while the
    * request ran — [[ManifestStore.vacuum]]'s reference protection
    * covers anything younger). On a missing file the serve purges the
    * store's memos, re-resolves the store's LATEST version
    * ([[ConfiguredArchive.Snapshot.refreshStore]]), and retries once —
    * the fresh manifest no longer references the deleted file.
    */
  private[archive] def direct[A](spark: SparkSession,
                                 snap: ConfiguredArchive.Snapshot)
                                (serve: ConfiguredArchive.Snapshot => A)
      : Option[A] = {
    def once(s: ConfiguredArchive.Snapshot): Option[A] =
      try Some(serve(s)) catch { case _: FallbackException => None }
    try once(snap)
    catch {
      case _: java.io.FileNotFoundException =>
        invalidateStore(snap.storePath)
        once(snap.refreshStore(spark))
    }
  }

  private[archive] def hasColumn(s: StructType, name: String,
                                 t: DataType): Boolean =
    s.fieldNames.contains(name) && s(name).dataType == t

  /** The manifest of a scalar store — double `value`, long `ts`, string
    * `channel` — or None for an empty store, a backend other than the
    * manifest, and the typed union (served by [[DirectServeTyped]]). */
  private def scalarManifest(snap: ConfiguredArchive.Snapshot)
      : Option[ManifestStore.Manifest] =
    snap.manifest.filter { m =>
      val s = m.schema
      !s.fieldNames.contains("vtype") && hasColumn(s, "value", DoubleType) &&
        hasColumn(s, "ts", LongType) && hasColumn(s, "channel", StringType)
    }

  /** The full fast-path serve, or None when out of envelope. Throws the
    * SAME typed signals as the DataFrame path
    * ([[NoSuchChannelException]], [[ChannelDisabledException]],
    * [[NoStoredDataException]]) so HTTP error mapping stays
    * path-independent.
    */
  def tryServe(spark: SparkSession, configPath: String, storePath: String,
               name: String, startNs: Long, endNs: Long,
               count: Option[Long],
               backend: StoreBackend,
               loMode: Option[LimitMode],
               hiMode: Option[LimitMode],
               refuseDisabled: Boolean): Option[Iterator[String]] =
    tryServe(spark,
      ConfiguredArchive.snapshot(spark, configPath, storePath, backend),
      name, startNs, endNs, count, loMode, hiMode, refuseDisabled)

  /** [[tryServe]] at one request's snapshot. */
  private[graft] def tryServe(spark: SparkSession,
               snap0: ConfiguredArchive.Snapshot,
               name: String, startNs: Long, endNs: Long,
               count: Option[Long],
               loMode: Option[LimitMode],
               hiMode: Option[LimitMode],
               refuseDisabled: Boolean): Option[Iterator[String]] =
    direct(spark, snap0) { snap =>
      val manifest =
        scalarManifest(snap).getOrElse(throw new FallbackException)
      // same config resolution (and the same typed refusals) as the
      // DataFrame path
      val cfg = ConfiguredArchive.resolveServable(snap.config, name,
        refuseDisabled)
      val allowed = cfg.levels.keySet + 0L
      val ctx = new Ctx(spark.sparkContext.hadoopConfiguration,
        snap.storePath, cfg.channelDataId)
      val usable = levelStatesOf(spark, snap.storePath, manifest.version,
          manifest, ctx.channel)
        .filter(s => allowed.contains(s.periodSec))
      if (usable.isEmpty) throw new NoStoredDataException(name)
      val chosen = ResolutionPlanner.selectLevel(
        usable.map(_.periodSec), startNs, endNs, count)
      val segments0 = ResolutionPlanner.fallbackSegments(chosen,
        usable.map(s => s.periodSec -> s.earliestTs).toMap,
        usable.map(_.periodSec).filter(_ > chosen), startNs, endNs)
      // a request entirely before the channel's first sample plans to
      // zero segments — serve the empty range so the widened upper
      // bound still returns its boundary sample (the
      // ArchiveServer.querySamples empty-segments rule)
      val segments =
        if (segments0.isEmpty) Seq((chosen, startNs, endNs)) else segments0
      // retention fallback → engine
      if (segments.size != 1) throw new FallbackException
      val (period, from, to) = segments.head
      if (period != 0L && !hasColumn(manifest.schema, "mean", DoubleType))
        throw new FallbackException
      val valueCol = Some(if (period == 0L) "value" else "mean")
      val defaultMode = if (count.isEmpty) AtOrWidened else Exact
      val sel = new Selection(ctx.channel,
        manifest.files.filter(_.levelSec == period), Long.MaxValue,
        channelRows(ctx, _, valueCol))
      sel.select(from, to, loMode.getOrElse(defaultMode),
          hiMode.getOrElse(defaultMode), usable.find(_.periodSec == period))
        .map(wire)
    }

  /** Drop this JVM's cached planning metadata and decoded rows for one
    * store — the missing-file re-resolve path, and the purge on a
    * version regression (a store deleted and recreated at its path). */
  private[archive] def invalidateStore(storePath: String): Unit = {
    levelStatesMemo.keySet.removeIf(_._1 == storePath)
    DecodedRowCache.purge(storePath)
  }

  /** Raw-level rows of a config-resolved channel with `ts <= hi` (and
    * `>= lo` when given) in (ts, sample_id) order, duplicates across
    * commits KEPT (the DataFrame scan keeps them too — the panels'
    * aggregates must see identical multiplicity). None = out of the
    * fast-path envelope; throws the same typed signals as the engine
    * resolution. The driver-side row source for [[DirectPanels]].
    */
  private[archive] def tryRawRows(spark: SparkSession, configPath: String,
                                  storePath: String, name: String,
                                  lo: Option[Long], hi: Long,
                                  backend: StoreBackend,
                                  refuseDisabled: Boolean)
      : Option[PanelRows] =
    tryRawRows(spark,
      ConfiguredArchive.snapshot(spark, configPath, storePath, backend),
      name, lo, hi, refuseDisabled)

  /** [[tryRawRows]] at one request's snapshot. */
  private[archive] def tryRawRows(spark: SparkSession,
                                  snap0: ConfiguredArchive.Snapshot,
                                  name: String, lo: Option[Long], hi: Long,
                                  refuseDisabled: Boolean)
      : Option[PanelRows] =
    direct(spark, snap0) { snap =>
      val manifest =
        scalarManifest(snap).getOrElse(throw new FallbackException)
      val cfg = ConfiguredArchive.resolveServable(snap.config, name,
        refuseDisabled)
      val ctx = new Ctx(spark.sparkContext.hadoopConfiguration,
        snap.storePath, cfg.channelDataId)
      new PanelRows(new Selection(ctx.channel,
          manifest.files.filter(_.levelSec == 0L), Long.MaxValue,
          channelRows(ctx, _, Some("value")))
        .runs(lo.getOrElse(Long.MinValue), hi))
    }

  // ---- row selection -------------------------------------------------

  /** The row selection of both direct serves over one level's manifest
    * entries of one channel, read through `rowsOf` (the path's cached
    * decode). Each file's slice is found by binary search over its
    * ts-ascending rows. `reach` is how far from a widened bound its
    * boundary sample may lie ([[LimitReach]] for typed stores,
    * `Long.MaxValue` for scalar ones).
    */
  private[archive] final class Selection[R <: Rows](channel: String,
      entries: Seq[ManifestStore.FileEntry], reach: Long,
      rowsOf: ManifestStore.FileEntry => DecodedRowCache.Entry[R]) {

    private val files = entries.filter(mayContain(_, channel))

    /** Each file's non-empty run of rows with `lo <= ts <= hi`, in
      * manifest order, duplicates kept. */
    def runs(lo: Long, hi: Long): IndexedSeq[Run[R]] =
      files.filter(e => e.maxTs >= lo && e.minTs <= hi).map { e =>
        val entry = rowsOf(e)
        new Run(entry, search(entry.rows, lo, after = false),
          search(entry.rows, hi, after = true))
      }.filter(r => r.from < r.until).toIndexedSeq

    /** [[runs]] as hits. */
    def range(lo: Long, hi: Long): Iterator[Hit[R]] =
      runs(lo, hi).iterator.flatMap(r =>
        Iterator.range(r.from, r.until).map(new Hit(r.e, _)))

    /** The rows served for `[from, to]`: with a widened bound the
      * inner range excludes that edge and its boundary lookup serves it
      * (the querySamples 0/1/2 matrix); duplicate timestamps then
      * collapse to the FIRST ARRIVAL (min sample_id) — the engine
      * path's survivor rule — in (ts, sample_id) order. `st` is the
      * level's availability: a bound beyond it has no boundary sample.
      */
    def select(from: Long, to: Long, loMode: LimitMode, hiMode: LimitMode,
               st: Option[LevelState]): Iterator[Hit[R]] = {
      val loWide = loMode == AtOrWidened
      val hiWide = hiMode == AtOrWidened
      val lo = if (loWide && from != Long.MaxValue) from + 1 else from
      val hi = if (hiWide && to != Long.MinValue) to - 1 else to
      val hits = mutable.ArrayBuffer.empty[Hit[R]]
      if (lo <= hi) hits ++= range(lo, hi)
      if (loWide && st.exists(_.earliestTs <= from))
        hits ++= boundary(from, forward = false)
      if (hiWide && st.exists(_.latestTs >= to))
        hits ++= boundary(to, forward = true)
      val out = mutable.ArrayBuffer.empty[Hit[R]]
      hits.sorted(hitOrder[R]).foreach(h =>
        if (out.isEmpty || out.last.ts != h.ts) out += h)
      out.iterator
    }

    /** The sample at-or-before `t` (at-or-after when `forward`) within
      * `reach`, manifest-pruned: files that can hold one, nearest ts
      * stat first, stopping as soon as no remaining file can beat the
      * best hit — the walk-back probe's result without its geometric
      * job chain. Nearer ts wins; equal ts → earlier arrival (min
      * sample_id). The stop condition is STRICT: a file whose ts range
      * merely ties the best may still hold an earlier arrival at the
      * same timestamp, and a compacted file can hold same-ts rows from
      * several source commits.
      */
    private def boundary(t: Long, forward: Boolean): Option[Hit[R]] = {
      def nearer(a: Long, b: Long): Boolean = if (forward) a < b else a > b
      // a file's ts bound nearest to t, and its other one
      def near(e: ManifestStore.FileEntry) = if (forward) e.minTs else e.maxTs
      def far(e: ManifestStore.FileEntry) = if (forward) e.maxTs else e.minTs
      // the last ts within reach, saturating
      val edge =
        if (forward) { if (t > Long.MaxValue - reach) Long.MaxValue
                       else t + reach }
        else if (t < Long.MinValue + reach) Long.MinValue else t - reach
      val it = files.filter(e => !nearer(far(e), t) && !nearer(edge, near(e)))
        .sortBy(near)(if (forward) Ordering.Long else Ordering.Long.reverse)
        .iterator
      var best: Option[Hit[R]] = None
      while (it.hasNext) {
        val e = it.next()
        if (best.exists(b => nearer(b.ts, near(e)))) return best
        val entry = rowsOf(e)
        val rows = entry.rows
        // the row nearest t on its side, then every row at its ts
        val step = if (forward) 1 else -1
        var j = if (forward) search(rows, t, after = false)
                else search(rows, t, after = true) - 1
        if (j >= 0 && j < rows.length && !nearer(edge, rows.ts(j))) {
          val bt = rows.ts(j)
          while (j >= 0 && j < rows.length && rows.ts(j) == bt) {
            val h = new Hit(entry, j)
            if (best.forall(b => nearer(bt, b.ts) ||
                (bt == b.ts && h.sid < b.sid))) best = Some(h)
            j += step
          }
        }
      }
      best
    }
  }

  /** Index of the first row with `ts >= t` (`ts > t` when `after`) in
    * ts-ascending rows; `length` if none. */
  private def search(rows: Rows, t: Long, after: Boolean): Int = {
    var lo = 0; var hi = rows.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val x = rows.ts(mid)
      if (x < t || (after && x == t)) lo = mid + 1 else hi = mid
    }
    lo
  }

  // ---- planning ------------------------------------------------------

  /** Exact per-channel availability per level, from direct file walks:
    * candidate files (clustering-key range contains the channel) in
    * ts-stat order until no remaining file can improve the bound —
    * typically ONE file read per endpoint per level. ts-only
    * projection: the value column never decodes for planning.
    */
  private def computeLevelStates(ctx: Ctx,
                                 m: ManifestStore.Manifest): Seq[LevelState] =
    m.files.groupBy(_.levelSec).toSeq.sortBy(_._1).flatMap {
      case (level, files) =>
        val cands = files.filter(mayContain(_, ctx.channel))
        var earliest = Long.MaxValue
        for (e <- cands.sortBy(_.minTs)) {
          if (e.minTs < earliest) {
            val rows = channelRows(ctx, e, None).rows
            if (rows.length > 0 && rows.ts(0) < earliest)
              earliest = rows.ts(0)
          }
        }
        var latest = Long.MinValue
        for (e <- cands.sortBy(f => -f.maxTs)) {
          if (e.maxTs > latest) {
            val rows = channelRows(ctx, e, None).rows
            if (rows.length > 0 && rows.ts(rows.length - 1) > latest)
              latest = rows.ts(rows.length - 1)
          }
        }
        if (earliest == Long.MaxValue) None
        else Some(LevelState(level, earliest, latest))
    }

  private def mayContain(e: ManifestStore.FileEntry, ch: String): Boolean =
    ManifestStore.chRangeContains(e.chMin, e.chMax, ch)

  // ---- parquet decode ------------------------------------------------

  /** One channel's rows in one file through the process-wide
    * [[DecodedRowCache]] (`valueCol` None = planning: ts only,
    * sample_id not decoded).
    */
  private def channelRows(ctx: Ctx, e: ManifestStore.FileEntry,
                          valueCol: Option[String])
      : DecodedRowCache.Entry[ScalarRows] =
    ctx.rows(e, valueCol.getOrElse(""))(decodeFile(ctx, _, valueCol))

  /** Channel-match converter: with dictionary-encoded pages (the
    * normal case for a (channel, ts)-sorted file) the comparison runs
    * ONCE per dictionary entry, then per row is an array lookup.
    * Shared with [[DirectServeTyped]].
    */
  private[archive] final class ChannelConverter(target: Binary)
      extends PrimitiveConverter {
    var isMatch = false
    private var dictMatch: Array[Boolean] = _
    override def hasDictionarySupport: Boolean = true
    override def setDictionary(d: Dictionary): Unit =
      dictMatch = Array.tabulate(d.getMaxId + 1)(
        i => d.decodeToBinary(i) == target)
    override def addValueFromDictionary(id: Int): Unit =
      isMatch = dictMatch(id)
    override def addBinary(b: Binary): Unit = isMatch = (b == target)
  }

  private[archive] final class LongConverter extends PrimitiveConverter {
    var set = false
    var v = 0L
    override def addLong(value: Long): Unit = { set = true; v = value }
  }

  private[archive] final class DoubleConverter extends PrimitiveConverter {
    var set = false
    var v = 0.0
    override def addDouble(value: Double): Unit = { set = true; v = value }
  }

  /** The materializer of one decoder: it collects the channel's rows
    * of a file for [[scanChannel]]. */
  private[archive] abstract class RowSink[R <: Rows]
      extends RecordMaterializer[java.lang.Void] {
    final def getCurrentRecord: java.lang.Void = null
    /** The collected rows, in file order. */
    def rows(): R
    /** `rows` in `order`. */
    def reorder(rows: R, order: Array[Int]): R
  }

  /** One channel's rows of one data file, ts-ascending — the scan both
    * decoders run. The record filter drives row-group stats AND
    * column-index page skipping inside the reader: only pages whose
    * channel range can contain the target decode at all (parquet
    * compares binary stats in unsigned-byte order — correct at the byte
    * level regardless of locale, unlike a driver-side string compare).
    * `plan` picks the projection from the file schema and the sink for
    * it; each decoded row group is charged to the request's budget.
    * Writers cluster a file by (channel, ts); rows that are not
    * (ts, sample_id)-ascending anyway (a compacted file can hold one
    * timestamp from several commits in any order) are sorted stably by
    * (ts, sample_id), which is what [[PanelRows]] merges on.
    */
  private[archive] def scanChannel[R <: Rows](ctx: Ctx, file: String)
      (plan: (MessageType, Binary) => (MessageType, RowSink[R])): R = {
    val chBin = Binary.fromString(ctx.channel)
    val path = new Path(file)
    val opts = HadoopReadOptions.builder(ctx.conf, path)
      .withRecordFilter(FilterCompat.get(
        FilterApi.eq(FilterApi.binaryColumn("channel"), chBin)))
      .build()
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(path, ctx.conf), opts)
    val sink = try {
      val (proj, sink) =
        plan(reader.getFooter.getFileMetaData.getSchema, chBin)
      reader.setRequestedSchema(proj)
      val io = new ColumnIOFactory().getColumnIO(proj)
      var pages = reader.readNextFilteredRowGroup()
      while (pages != null) {
        val n = pages.getRowCount
        if (n > 0) {
          ctx.budget.decodedGroup()
          val rr = io.getRecordReader(pages, sink)
          var r = 0L
          while (r < n) { rr.read(); r += 1 }
        }
        pages = reader.readNextFilteredRowGroup()
      }
      sink
    } finally reader.close()
    val rows = sink.rows()
    var i = 1
    while (i < rows.length && (rows.ts(i - 1) < rows.ts(i) ||
        rows.ts(i - 1) == rows.ts(i) && rows.sid(i - 1) <= rows.sid(i)))
      i += 1
    if (i >= rows.length) rows
    else sink.reorder(rows, (0 until rows.length)
      .sortBy(j => (rows.ts(j), rows.sid(j))).toArray)
  }

  /** Zero-allocation row sink: primitives land in field converters and
    * `end()` appends the row to primitive column builders iff the
    * channel matched — no per-row objects (the example
    * GroupRecordConverter was the decode bottleneck: ~300 k
    * materialized rows to keep ~1 k).
    * Projection order: channel, ts, [value], [sample_id].
    */
  private final class ScalarSink(chBin: Binary, hasValue: Boolean,
      hasSid: Boolean) extends RowSink[ScalarRows] {
    private val ch = new ChannelConverter(chBin)
    private val ts = new LongConverter
    private val dv = new DoubleConverter
    private val sid = new LongConverter
    private val sidIdx = if (hasValue) 3 else 2
    private val tsOut = new mutable.ArrayBuilder.ofLong
    private val valueOut = new mutable.ArrayBuilder.ofDouble
    private val nulls = new java.util.BitSet
    private val sidOut = new mutable.ArrayBuilder.ofLong
    private var n = 0
    private val root: GroupConverter = new GroupConverter {
      def getConverter(i: Int): Converter =
        if (i == 0) ch else if (i == 1) ts
        else if (hasSid && i == sidIdx) sid else dv
      def start(): Unit = { ch.isMatch = false; ts.set = false
        dv.set = false; sid.set = false }
      def end(): Unit =
        if (ch.isMatch && ts.set) {
          tsOut += ts.v
          if (hasValue) {
            valueOut += dv.v
            if (!dv.set) nulls.set(n)
          }
          if (hasSid) sidOut += (if (sid.set) sid.v else 0L)
          n += 1
        }
    }
    def getRootConverter: GroupConverter = root
    def rows(): ScalarRows = new ScalarRows(tsOut.result(),
      if (hasValue) valueOut.result() else null, nulls,
      if (hasSid) sidOut.result() else null)
    def reorder(rows: ScalarRows, order: Array[Int]): ScalarRows =
      rows.reorder(order)
  }

  private def decodeFile(ctx: Ctx, file: String, valueCol: Option[String])
      : ScalarRows =
    scanChannel(ctx, file) { (fileSchema, chBin) =>
      if (!fileSchema.containsField("channel") ||
          !fileSchema.containsField("ts") ||
          !valueCol.forall(fileSchema.containsField))
        throw new FallbackException
      def fieldOf(n: String): org.apache.parquet.schema.Type =
        fileSchema.getFields.get(fileSchema.getFieldIndex(n))
      // sample_id rides along on serving reads (valueCol defined) as
      // the duplicate-ts survivor tiebreak; planning stays two-column
      val hasSid = valueCol.isDefined &&
        fileSchema.containsField("sample_id") && {
          val t = fieldOf("sample_id")
          t.isPrimitive && t.asPrimitiveType().getPrimitiveTypeName ==
            PrimitiveType.PrimitiveTypeName.INT64
        }
      val fields = Seq(fieldOf("channel"), fieldOf("ts")) ++
        valueCol.map(fieldOf) ++
        (if (hasSid) Seq(fieldOf("sample_id")) else Nil)
      val proj = new MessageType("proj", fields: _*)
      // the decoder reads exactly these shapes; anything else (legacy
      // layouts, repeated fields) belongs to the engine path
      def prim(i: Int) = proj.getType(i).asPrimitiveType()
        .getPrimitiveTypeName
      if (prim(0) != PrimitiveType.PrimitiveTypeName.BINARY ||
          prim(1) != PrimitiveType.PrimitiveTypeName.INT64 ||
          (valueCol.isDefined &&
            prim(2) != PrimitiveType.PrimitiveTypeName.DOUBLE))
        throw new FallbackException
      (proj, new ScalarSink(chBin, valueCol.isDefined, hasSid))
    }

  // ---- wire format ---------------------------------------------------

  /** [[element]] for a point no cached encoding holds (a derived
    * channel's computed grid, a panel point of a file not encoded
    * yet), counted in [[DecodedRowCache.uncachedElements]]. */
  private[archive] def jsonOf(ts: Long, v: java.lang.Double): String = {
    DecodedRowCache.uncachedElements.incrementAndGet()
    element(ts, v)
  }

  /** One JSON v1 raw sample, byte-identical to
    * [[JsonV1.serializeRaw]]'s `to_json` output for the serve frame
    * (severity/status are the serve path's literal zeros; doubles
    * render via Double.toString — the text Jackson's
    * writeNumber(double) emits, with non-finite values quoted exactly
    * like Jackson's QUOTE_NON_NUMERIC_NUMBERS).
    */
  private def element(ts: Long, v: java.lang.Double): String = {
    val sb = new java.lang.StringBuilder(96)
    sb.append("{\"time\":").append(ts)
    sb.append(",\"severity\":{\"level\":\"OK\",\"hasValue\":")
    sb.append(if (v != null) "true" else "false")
    sb.append("},\"status\":\"0\",\"quality\":\"Original\",")
    sb.append("\"type\":\"double\",\"value\":[")
    if (v == null) sb.append("null")
    else {
      val d = v.doubleValue
      if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d))
        sb.append('"').append(d.toString).append('"')
      else sb.append(d.toString)
    }
    sb.append("]}")
    sb.toString
  }
}
