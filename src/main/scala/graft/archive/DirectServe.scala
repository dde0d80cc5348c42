package graft.archive

import scala.collection.mutable
import scala.jdk.CollectionConverters._

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

/** Driver-side point-read serving — the cold-path latency fix for the
  * single-channel serve (the reference answers these from Cassandra
  * point reads in milliseconds, ArchiveAccessServiceImpl.java:756-938;
  * the DataFrame path pays several Spark job round trips per request,
  * ~0.4 s even on a warm session).
  *
  * For a scalar [[ManifestBackend]] store, a single-channel request
  * whose plan resolves to ONE segment needs no cluster at all: the
  * manifest gives the pruned file list driver-side (level + ts-range +
  * clustering-key range), parquet row-group stats prune inside each
  * file, and the surviving row groups decode on the driver — the same
  * rows a cluster read would funnel through the driver anyway, minus
  * every job-scheduling round trip. Anything outside that envelope
  * (typed stores, multi-segment retention fallback, non-manifest
  * backends, more row groups than the per-request budget) falls back
  * to the DataFrame path, so this is strictly a fast path, never a
  * different answer — byte-identity with the Spark path is gated by
  * DirectServeSpec across boundary modes, nulls, non-finite doubles
  * and multi-commit duplicate timestamps.
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
    * [[tryServe]] (and [[DirectServeTyped]]), which returns None so
    * the caller falls back. */
  private[archive] final class FallbackException extends RuntimeException(
    null, null, false, false)

  /** The engine boundary probe's geometric reach: spans of 1, 2, …,
    * 2048 days (4096 would exceed the 3650-day default clamp), so a
    * boundary farther than 2048 days from the bound is NOT found —
    * the fast paths must stop at the same distance or they would
    * serve a sample the engine's walk never reaches.
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

  /** One channel's rows in one file as the decoded-rows cache holds
    * them: ts-ascending in file order, column-wise. `values` is null
    * for the ts-only planning projection, `nulls` marks null values,
    * `sids` is null when sample_id was not decoded. Never mutated after
    * construction.
    */
  private[archive] final class ScalarRows(val ts: Array[Long],
      values: Array[Double], nulls: java.util.BitSet, sids: Array[Long]) {
    def length: Int = ts.length
    def value(i: Int): java.lang.Double =
      if (values == null || nulls.get(i)) null
      else java.lang.Double.valueOf(values(i))
    /** sample_id, the duplicate-timestamp tiebreak (first arrival = min
      * sample_id wins — the querySamples survivor rule); 0 when the
      * projection doesn't decode it (planning) or the file lacks it. */
    def sid(i: Int): Long = if (sids == null) 0L else sids(i)
    /** Heap estimate: the primitive columns and the null bitmap. */
    def bytes: Long = 64L + 8L * length *
      (1 + (if (values == null) 0 else 1) + (if (sids == null) 0 else 1)) +
      nulls.size / 8
    /** Every row's wire element ([[jsonOf]]), in row order. */
    def json: Array[String] =
      Array.tabulate(length)(i => jsonOf(ts(i), value(i)))
  }

  /** A selected row: index `i` of one cached channel-file. */
  private final class Hit(val e: DecodedRowCache.Entry[ScalarRows],
                          val i: Int) {
    def ts: Long = e.rows.ts(i)
    def sid: Long = e.rows.sid(i)
  }

  /** (ts, sample_id): the survivor order of duplicate timestamps. */
  private val hitOrder: Ordering[Hit] = (a, b) => {
    val c = java.lang.Long.compare(a.ts, b.ts)
    if (c != 0) c else java.lang.Long.compare(a.sid, b.sid)
  }

  /** One request's decode state: the channel and the decoded-group
    * budget, which also remembers the files this request already read
    * (the inner scan and both boundary lookups often hit the same day
    * file).
    */
  private final class Ctx(val conf: Configuration, val root: String,
                          val channel: String) {
    val budget = new DecodedRowCache.Budget
  }

  /** The full fast-path serve, or None when out of envelope. Throws the
    * SAME typed signals as the DataFrame path
    * ([[NoSuchChannelException]], [[ChannelDisabledException]],
    * [[NoStoredDataException]]) so HTTP error mapping stays
    * path-independent.
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
               snap: ConfiguredArchive.Snapshot,
               name: String, startNs: Long, endNs: Long,
               count: Option[Long],
               loMode: Option[LimitMode],
               hiMode: Option[LimitMode],
               refuseDisabled: Boolean): Option[Iterator[String]] =
    try tryServeOnce(spark, snap, name, startNs, endNs, count, loMode,
      hiMode, refuseDisabled)
    catch {
      case _: java.io.FileNotFoundException =>
        invalidateStore(snap.storePath)
        tryServeOnce(spark, snap.refreshStore(spark), name, startNs, endNs,
          count, loMode, hiMode, refuseDisabled)
    }

  /** Drop this JVM's cached planning metadata and decoded rows for one
    * store — the missing-file re-resolve path, and the purge on a
    * version regression (a store deleted and recreated at its path). */
  private[archive] def invalidateStore(storePath: String): Unit = {
    levelStatesMemo.keySet.removeIf(_._1 == storePath)
    DecodedRowCache.purge(storePath)
  }

  private def tryServeOnce(spark: SparkSession,
               snap: ConfiguredArchive.Snapshot,
               name: String, startNs: Long, endNs: Long,
               count: Option[Long],
               loMode: Option[LimitMode],
               hiMode: Option[LimitMode],
               refuseDisabled: Boolean): Option[Iterator[String]] = {
    // None for an empty store and for backends other than the manifest
    val manifest = snap.manifest.getOrElse(return None)
    val storePath = snap.storePath
    val version = manifest.version
    val schema = manifest.schema
    val names = schema.fieldNames.toSet
    // scalar stores only: the typed union serves through serveJsonTyped
    if (names.contains("vtype") || !names.contains("channel") ||
        !names.contains("ts") || !names.contains("value")) return None
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    if (schema("value").dataType != DoubleType ||
        schema("ts").dataType != LongType ||
        schema("channel").dataType != StringType) return None

    // same config resolution (and the same typed refusals) as the
    // DataFrame path
    val cfg = ConfiguredArchive.resolveServable(snap.config, name,
      refuseDisabled)
    val channel = cfg.channelDataId
    val allowed = cfg.levels.keySet + 0L
    val ctx = new Ctx(spark.sparkContext.hadoopConfiguration, storePath,
      channel)
    try {
      val states = levelStatesOf(spark, storePath, version, manifest,
        channel)
      val usable = states.filter(s => allowed.contains(s.periodSec))
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
      if (segments.size != 1) return None // retention fallback → engine
      val (period, from, to) = segments.head
      if (period != 0L &&
          (!names.contains("mean") || schema("mean").dataType != DoubleType))
        return None
      val valueCol = if (period == 0L) "value" else "mean"

      val defaultMode = if (count.isEmpty) AtOrWidened else Exact
      val effLo = loMode.getOrElse(defaultMode)
      val effHi = hiMode.getOrElse(defaultMode)
      val st = usable.find(_.periodSec == period)
      val entries = manifest.files.filter(_.levelSec == period)

      val rows = mutable.ArrayBuffer.empty[Hit]
      if (effLo == Exact && effHi == Exact)
        rows ++= rangeRows(ctx, entries, valueCol, from, to)
      else {
        // widened bounds exclude the edge from the inner scan — the
        // boundary lookup serves it (the querySamples 0/1/2 matrix)
        val lo = if (effLo == Exact) from
                 else if (from == Long.MaxValue) from else from + 1
        val hi = if (effHi == Exact) to
                 else if (to == Long.MinValue) to else to - 1
        if (lo <= hi) rows ++= rangeRows(ctx, entries, valueCol, lo, hi)
        if (effLo == AtOrWidened && st.exists(_.earliestTs <= from))
          rows ++= lastAtOrBefore(ctx, entries, valueCol, from)
        if (effHi == AtOrWidened && st.exists(_.latestTs >= to))
          rows ++= firstAtOrAfter(ctx, entries, valueCol, to)
      }
      // multi-commit duplicate timestamps collapse to the FIRST ARRIVAL
      // (min sample_id) — the engine path's survivor rule
      val sorted = rows.sorted(hitOrder)
      val out = mutable.ArrayBuffer.empty[Hit]
      var lastTs = Long.MinValue
      var any = false
      sorted.foreach { r =>
        if (!any || r.ts != lastTs) { out += r; lastTs = r.ts; any = true }
      }
      // each selected row's element comes from its file's encoding,
      // made once per cached entry
      Some(out.iterator.map(h => h.e.json(_.json)(h.i)))
    } catch {
      case _: FallbackException => None
    }
  }

  /** Raw-level rows of a config-resolved channel with `ts <= hi` (and
    * `>= lo` when given), ts-ascending, duplicates across commits KEPT
    * (the DataFrame scan keeps them too — the panels' aggregates must
    * see identical multiplicity). None = out of the fast-path
    * envelope; throws the same typed signals as the engine resolution.
    * The driver-side row source for [[DirectPanels]].
    */
  private[archive] def tryRawRows(spark: SparkSession, configPath: String,
                                  storePath: String, name: String,
                                  lo: Option[Long], hi: Long,
                                  backend: StoreBackend,
                                  refuseDisabled: Boolean)
      : Option[IndexedSeq[(Long, java.lang.Double)]] =
    tryRawRows(spark,
      ConfiguredArchive.snapshot(spark, configPath, storePath, backend),
      name, lo, hi, refuseDisabled)

  /** [[tryRawRows]] at one request's snapshot. */
  private[archive] def tryRawRows(spark: SparkSession,
                                  snap: ConfiguredArchive.Snapshot,
                                  name: String, lo: Option[Long], hi: Long,
                                  refuseDisabled: Boolean)
      : Option[IndexedSeq[(Long, java.lang.Double)]] = {
    val manifest = snap.manifest.getOrElse(return None)
    val schema = manifest.schema
    val names = schema.fieldNames.toSet
    if (names.contains("vtype") || !names.contains("channel") ||
        !names.contains("ts") || !names.contains("value")) return None
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    if (schema("value").dataType != DoubleType ||
        schema("ts").dataType != LongType ||
        schema("channel").dataType != StringType) return None
    val cfg = ConfiguredArchive.resolveServable(snap.config, name,
      refuseDisabled)
    val ctx = new Ctx(spark.sparkContext.hadoopConfiguration, snap.storePath,
      cfg.channelDataId)
    try {
      val entries = manifest.files.filter(_.levelSec == 0L)
      val rows = rangeRows(ctx, entries, "value",
        lo.getOrElse(Long.MinValue), hi)
      // duplicates kept (panel multiplicity); (ts, arrival) order makes
      // equal-ts neighborhoods deterministic
      Some(rows.sorted(hitOrder).map(h => (h.ts, h.e.rows.value(h.i)))
        .toIndexedSeq)
    } catch {
      case _: FallbackException => None
    }
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

  // ---- row assembly --------------------------------------------------

  /** Rows with `lo <= ts <= hi`, each file's slice found by binary
    * search over its ts-ascending rows. */
  private def rangeRows(ctx: Ctx, entries: Seq[ManifestStore.FileEntry],
                        valueCol: String, lo: Long, hi: Long)
      : Seq[Hit] = {
    val out = mutable.ArrayBuffer.empty[Hit]
    entries.filter(e => mayContain(e, ctx.channel) &&
        e.maxTs >= lo && e.minTs <= hi)
      .foreach { e =>
        val entry = channelRows(ctx, e, Some(valueCol))
        val rows = entry.rows
        var i = firstIndexAtOrAfter(rows, lo)
        while (i < rows.length && rows.ts(i) <= hi) {
          out += new Hit(entry, i)
          i += 1
        }
      }
    out.toSeq
  }

  /** `h` beats `best` as the at-or-before boundary: later ts wins;
    * equal ts → earlier arrival (min sample_id), the survivor rule. */
  private def beatsBack(h: Hit, best: Option[Hit]): Boolean =
    best.forall(b => h.ts > b.ts || (h.ts == b.ts && h.sid < b.sid))

  private def beatsFwd(h: Hit, best: Option[Hit]): Boolean =
    best.forall(b => h.ts < b.ts || (h.ts == b.ts && h.sid < b.sid))

  /** The boundary lookup, manifest-pruned: files that can hold a
    * sample at-or-before `t`, newest ts-stat first, stopping as soon
    * as no remaining file can beat the best hit — the walk-back
    * probe's result without its geometric job chain. Stop conditions
    * are STRICT: a file whose ts range merely ties the best may still
    * hold an earlier arrival at the same timestamp.
    */
  private def lastAtOrBefore(ctx: Ctx, entries: Seq[ManifestStore.FileEntry],
                             valueCol: String, t: Long)
      : Option[Hit] = {
    var best: Option[Hit] = None
    val it = entries.filter(e => mayContain(e, ctx.channel) && e.minTs <= t)
      .sortBy(f => -f.maxTs).iterator
    var done = false
    while (it.hasNext && !done) {
      val e = it.next()
      if (best.exists(_.ts > e.maxTs)) done = true
      else {
        val entry = channelRows(ctx, e, Some(valueCol))
        val rows = entry.rows
        // all rows at the candidate boundary ts (a compacted file can
        // hold same-ts rows from several source commits)
        var j = lastIndexAtOrBefore(rows, t)
        if (j >= 0) {
          val bt = rows.ts(j)
          while (j >= 0 && rows.ts(j) == bt) {
            val h = new Hit(entry, j)
            if (beatsBack(h, best)) best = Some(h)
            j -= 1
          }
        }
      }
    }
    best
  }

  /** Index of the LAST row with ts <= t in ts-ascending rows, -1 if
    * none. */
  private def lastIndexAtOrBefore(rows: ScalarRows, t: Long): Int = {
    var lo = 0; var hi = rows.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (rows.ts(mid) <= t) lo = mid + 1 else hi = mid
    }
    lo - 1
  }

  /** Index of the FIRST row with ts >= t in ts-ascending rows, `length`
    * if none. */
  private def firstIndexAtOrAfter(rows: ScalarRows, t: Long): Int = {
    var lo = 0; var hi = rows.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (rows.ts(mid) < t) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def firstAtOrAfter(ctx: Ctx, entries: Seq[ManifestStore.FileEntry],
                             valueCol: String, t: Long)
      : Option[Hit] = {
    var best: Option[Hit] = None
    val it = entries.filter(e => mayContain(e, ctx.channel) && e.maxTs >= t)
      .sortBy(_.minTs).iterator
    var done = false
    while (it.hasNext && !done) {
      val e = it.next()
      if (best.exists(_.ts < e.minTs)) done = true
      else {
        val entry = channelRows(ctx, e, Some(valueCol))
        val rows = entry.rows
        // first index with ts >= t; then all rows at that ts (see
        // lastAtOrBefore)
        var i = firstIndexAtOrAfter(rows, t)
        if (i < rows.length) {
          val bt = rows.ts(i)
          while (i < rows.length && rows.ts(i) == bt) {
            val h = new Hit(entry, i)
            if (beatsFwd(h, best)) best = Some(h)
            i += 1
          }
        }
      }
    }
    best
  }

  // ---- parquet decode ------------------------------------------------

  /** One channel's rows in one file through the process-wide
    * [[DecodedRowCache]] (`valueCol` None = planning: ts only,
    * sample_id not decoded). Row groups whose channel stats exclude
    * the channel never decode.
    */
  private def channelRows(ctx: Ctx, e: ManifestStore.FileEntry,
                          valueCol: Option[String])
      : DecodedRowCache.Entry[ScalarRows] = {
    val file = resolveDataPath(ctx.root, e.path)
    DecodedRowCache.entry(ctx.budget, ctx.root, file, e.bytes, ctx.channel,
        valueCol.getOrElse("")) {
      val rows = decodeFile(ctx, file, valueCol)
      (rows, rows.bytes)
    }
  }

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

  /** Zero-allocation row sink: primitives land in field converters and
    * `end()` appends the row to primitive column builders iff the
    * channel matched — no per-row objects (the example
    * GroupRecordConverter was the decode bottleneck: ~300 k
    * materialized rows to keep ~1 k).
    * Projection order: channel, ts, [value], [sample_id].
    */
  private final class RowsMaterializer(chBin: Binary, hasValue: Boolean,
      hasSid: Boolean) extends RecordMaterializer[java.lang.Void] {
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
    def getCurrentRecord: java.lang.Void = null
    def getRootConverter: GroupConverter = root

    /** The decoded rows, ts-ascending. Within a file, groups are
      * (channel, ts)-sorted by the writer — sort defensively anyway,
      * stably by (ts, sample_id); correctness over one O(n log n). */
    def result(): ScalarRows = {
      val t = tsOut.result()
      val v = if (hasValue) valueOut.result() else null
      val s = if (hasSid) sidOut.result() else null
      var asc = true
      var i = 1
      while (asc && i < t.length) { if (t(i - 1) > t(i)) asc = false; i += 1 }
      if (asc) new ScalarRows(t, v, nulls, s)
      else {
        val order = (0 until t.length)
          .sortBy(j => (t(j), if (s == null) 0L else s(j))).toArray
        val sortedNulls = new java.util.BitSet
        order.indices.foreach(k => if (nulls.get(order(k))) sortedNulls.set(k))
        new ScalarRows(order.map(t), if (v == null) null else order.map(v),
          sortedNulls, if (s == null) null else order.map(s))
      }
    }
  }

  private def decodeFile(ctx: Ctx, file: String, valueCol: Option[String])
      : ScalarRows = {
    val chBin = Binary.fromString(ctx.channel)
    val path = new Path(file)
    // the record filter drives row-group stats AND column-index page
    // skipping inside the reader: only pages whose channel range can
    // contain the target decode at all (parquet compares binary stats
    // in unsigned-byte order — correct at the byte level regardless of
    // locale, unlike a driver-side string compare)
    val opts = HadoopReadOptions.builder(ctx.conf, path)
      .withRecordFilter(FilterCompat.get(
        FilterApi.eq(FilterApi.binaryColumn("channel"), chBin)))
      .build()
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(path, ctx.conf), opts)
    try {
      val fileSchema = reader.getFooter.getFileMetaData.getSchema
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
      reader.setRequestedSchema(proj)
      val io = new ColumnIOFactory().getColumnIO(proj)
      val mat = new RowsMaterializer(chBin, valueCol.isDefined, hasSid)
      var pages = reader.readNextFilteredRowGroup()
      while (pages != null) {
        val n = pages.getRowCount
        if (n > 0) {
          ctx.budget.decodedGroup()
          val rr = io.getRecordReader(pages, mat)
          var r = 0L
          while (r < n) { rr.read(); r += 1 }
        }
        pages = reader.readNextFilteredRowGroup()
      }
      mat.result()
    } finally reader.close()
  }

  // ---- wire format ---------------------------------------------------

  /** One JSON v1 raw sample, byte-identical to
    * [[JsonV1.serializeRaw]]'s `to_json` output for the serve frame
    * (severity/status are the serve path's literal zeros; doubles
    * render via Double.toString — the text Jackson's
    * writeNumber(double) emits, with non-finite values quoted exactly
    * like Jackson's QUOTE_NON_NUMERIC_NUMBERS).
    */
  private[archive] def jsonOf(ts: Long, v: java.lang.Double): String = {
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
