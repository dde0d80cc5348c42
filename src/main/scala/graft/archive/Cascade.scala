package graft.archive

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Samples
import ManifestStore.Frontier

/** A8 — the cascaded decimation DAG, batch form: materialize a chain
  * of decimation levels into the store, each level reading from the
  * configured level with the largest period that properly divides its
  * own (else raw) — the reference's source-selection rule
  * (ArchivedChannel.java:766-793), so a 6h level re-aggregates 15min
  * aggregates instead of re-reading a year of raw samples. This is the
  * medallion rollup that keeps 100 TB of raw data queryable at
  * interactive resolutions: each hop shrinks the input by the period
  * ratio, so total cascade cost ≈ one raw scan.
  *
  * Every written window is FINAL (raw decimation flushes on crossing;
  * coarse hops use [[Decimation.reAggregateFlushed]]), which makes
  * [[catchUp]] pure append — the reference's incremental
  * `generateDecimatedSamples` resume
  * (ArchivedChannelDecimatedSamplesDecimationLevel.java:319-435).
  */
object Cascade {

  /** Decimated-level storage schema: stats columns ride along the
    * canonical (channel, ts) pair.
    */
  private def asStoreRows(decimated: DataFrame): DataFrame =
    decimated.select(
      col("channel"), col("win_start").as("ts"),
      col("mean"), col("std"), col("min_value"), col("max_value"),
      col("covered_fraction"), col("n_samples"))

  private def asDecimated(stored: DataFrame): DataFrame =
    stored.select(
      col("channel"), col("ts").as("win_start"),
      col("mean"), col("std"), col("min_value"), col("max_value"),
      col("covered_fraction"), col("n_samples"))

  /** Decimate `source` rows into `target`-period windows (raw source →
    * slice decimation; decimated source → flushed re-aggregation).
    */
  private def hop(source: DataFrame, sourceSec: Long,
                  targetSec: Long): DataFrame =
    if (sourceSec == 0L)
      Decimation.decimate(source, targetSec * Samples.NS)
    else
      Decimation.reAggregateFlushed(asDecimated(source),
        sourceSec * Samples.NS, targetSec * Samples.NS)

  /** Per-channel [[ManifestStore.Frontier]] of `source` rows for a
    * `targetSec` level — the reference's persisted
    * `lastSampleTimeStamp`
    * (ArchivedChannelDecimatedSamplesDecimationLevel.java:406-435),
    * collected to the driver (one row per channel):
    *
    *  - `lastSrcTs`: newest consumed source ts (raw) / fine window
    *    start (coarse) — the flush frontier: windows ending at-or-
    *    before it were written and are immutable;
    *  - `resumeTs`: where an incremental run must START reading so
    *    the first unflushed window sees both its already-arrived
    *    in-window samples and its held boundary sample. Raw: the last
    *    sample before the frontier window's start (hold-last-value can
    *    reach arbitrarily far back across gaps — this is why the
    *    resume point must be stored rather than derived). Coarse:
    *    frontier − targetPeriod (fine rows are points; no hold).
    *
    * The frontier commits in the same manifest version as the level's
    * windows ([[ManifestStore.commitLevel]]), so no state exists where
    * one is visible without the other.
    */
  private def computeFrontier(source: DataFrame, targetSec: Long,
                              sourceSec: Long, heldSource: Boolean)
      : Map[String, Frontier] = {
    val targetP = targetSec * Samples.NS
    val last = source.groupBy("channel")
      .agg(max(col("ts")).as("last_src_ts"))
    val frame =
      if (sourceSec == 0L || heldSource) {
        val w0 = Samples.windowStart(col("last_src_ts"), targetP)
        val held = source
          .join(broadcast(last.select(col("channel").as("_c"),
            col("last_src_ts"))), col("channel") === col("_c"))
          .where(col("ts") < Samples.windowStart(col("last_src_ts"), targetP))
          .groupBy("channel").agg(max(col("ts")).as("_held_ts"))
        last.join(held, Seq("channel"), "left")
          .select(col("channel"), col("last_src_ts"),
            coalesce(col("_held_ts"), w0).as("resume_ts"))
      } else
        last.select(col("channel"), col("last_src_ts"),
          (col("last_src_ts") - targetP).as("resume_ts"))
    frame.collect()
      .map(r => r.getString(0) -> Frontier(r.getLong(1), r.getLong(2)))
      .toMap
  }

  /** The manifest store a level commits into; the plain parquet store
    * has no log to hold a frontier, so catch-up refuses it. */
  private def levelStore(backend: StoreBackend, storePath: String): String = {
    val store = backend.levelStore(storePath)
    require(store.isDefined, "catch-up and materializeLevel need a " +
      "manifest-backed store: a level's frontier commits with its files")
    store.get
  }

  /** The level's frontier at the latest manifest of `store`. A level
    * with data files but no frontier was written before frontiers
    * committed with the level; it is refused, because resuming it
    * without one would re-append its full history.
    */
  private def storedFrontier(spark: SparkSession, store: String,
                             levelSec: Long): Option[Map[String, Frontier]] = {
    val m = ManifestStore.latestManifest(spark, store)
    val fr = m.flatMap(_.frontiers.get(levelSec))
    if (fr.isEmpty && m.exists(_.files.exists(_.levelSec == levelSec)))
      throw new IllegalStateException(s"level $levelSec has data files " +
        "but no frontier in the manifest (written before frontiers " +
        "committed with the level); rebuild it into a fresh store")
    fr
  }

  /** One full-history level write: on a manifest-backed store the
    * windows and the frontier of `src` commit as one version (applied
    * only while the level has no frontier); the plain store just
    * writes the windows.
    */
  private def buildLevel(backend: StoreBackend, storePath: String,
                         targetSec: Long, rows: DataFrame, src: DataFrame,
                         sourceSec: Long, heldSource: Boolean): Unit =
    backend.levelStore(storePath) match {
      case Some(store) =>
        ManifestStore.commitLevel(rows, store, targetSec, from = None,
          computeFrontier(src, targetSec, sourceSec, heldSource))
        ()
      case None => backend.write(rows, storePath, targetSec)
    }

  /** Write-triggered retention, the reference's rule: after every
    * successful write to a level, delete its buckets that fell past
    * the horizon (ArchivedChannelDecimationLevel.java:602-640) — no
    * separate scheduled job needed. `retentionSec` maps levelSec →
    * keep-duration seconds (absent / 0 = keep forever), the shape of
    * the registry's `decimation_level_to_retention` map
    * ([[ChannelRegistry.levelRetention]] derives it).
    */
  private def retainAfterWrite(spark: SparkSession, storePath: String,
                               levelSec: Long, retentionSec: Map[Long, Long],
                               backend: StoreBackend): Unit =
    retentionSec.getOrElse(levelSec, 0L) match {
      case 0L => ()
      case sec =>
        backend.applyRetention(spark, storePath, levelSec,
          sec * Samples.NS); ()
    }

  /** Write raw samples and materialize every level in `levelsSec`
    * (ascending), cascading from the best available source. On a
    * manifest-backed store each level commits with its frontier, so
    * [[catchUp]] can extend it; on the plain store this is a one-shot
    * build. Each successful level write triggers that level's
    * retention.
    */
  def materialize(spark: SparkSession, storePath: String,
                  raw: DataFrame, levelsSec: Seq[Long],
                  backend: StoreBackend = ArchiveBackend,
                  retentionSec: Map[Long, Long] = Map.empty): Unit = {
    backend.write(Samples.monotonicDedup(raw), storePath, 0)
    retainAfterWrite(spark, storePath, 0L, retentionSec, backend)
    var done = List(0L)
    for (target <- levelsSec.sorted) {
      val source = Decimation.selectSourcePeriod(target, done)
      val src = backend.read(spark, storePath, source)
      buildLevel(backend, storePath, target,
        asStoreRows(hop(src, source, target)), src, source,
        heldSource = false)
      retainAfterWrite(spark, storePath, target, retentionSec, backend)
      done ::= target
    }
  }

  /** Whether a level has been built at least once: its frontier is in
    * the latest manifest (memoized per version) —
    * [[ConfiguredArchive.catchUp]] uses this to route a config-added
    * level to its first full build instead of an incremental run that
    * would have nothing to resume from.
    */
  def hasFrontier(spark: SparkSession, storePath: String,
                  levelSec: Long): Boolean =
    ManifestStore.latestManifest(spark, storePath)
      .exists(_.frontiers.contains(levelSec))

  /** Backfill repair — incremental catch-up's missing half: catch-up
    * extends each channel's FRONTIER, but source data landed BEHIND it
    * (a migrated archive — the EPICS bridge's whole purpose — or a
    * replayed outage) never reaches the decimated levels. This
    * recomputes every target window a backfill into [loNs, hiNs] can
    * have changed: from the window containing loNs through the window
    * holding each channel's first source sample AFTER hiNs (the
    * sample-and-hold entering later windows is unchanged beyond that),
    * extended to whole day buckets so the swap is a lossless
    * WHOLE-DAY file replacement ([[ManifestStore.replaceRange]], one
    * atomic commit — windows in the edge days outside the repair range
    * recompute to identical values). Frontiers are untouched (they did
    * not move); data past the frontier stays [[catchUp]]'s
    * job. Repair levels fine-to-coarse so each coarser hop reads the
    * repaired finer level — [[ConfiguredArchive.repairBackfill]] drives
    * that order. Scalar stores; requires a manifest-backed store (the
    * swap is a manifest operation).
    *
    * Dedup note: when the source is the raw level, the F6 view is
    * recomputed over the FULL raw level (not a clipped prefix) — an
    * out-of-order arrival's dominator can live outside any clipped
    * window, and a partial view would keep rows the true dedup drops.
    */
  def repairRange(spark: SparkSession, storePath: String, targetSec: Long,
                  loNs: Long, hiNs: Long): Unit =
    repairRangeImpl(spark, storePath, targetSec, loNs, hiNs, hop,
      asStoreRows)

  /** [[repairRange]] for typed-union stores — what an EPICS migration
    * ([[graft.sources.EpicsArchiverJson]] → [[materializeTyped]])
    * actually needs repaired: same window algebra, typed dispatch in
    * the hop.
    */
  def repairRangeTyped(spark: SparkSession, storePath: String,
                       targetSec: Long, loNs: Long, hiNs: Long): Unit =
    repairRangeImpl(spark, storePath, targetSec, loNs, hiNs, typedHop,
      asTypedStoreRows)

  private def repairRangeImpl(spark: SparkSession, storePath: String,
                              targetSec: Long, loNs: Long, hiNs: Long,
                              hopFn: (DataFrame, Long, Long) => DataFrame,
                              toStore: DataFrame => DataFrame): Unit = {
    require(targetSec > 0, "repairRange targets a decimated level")
    require(loNs <= hiNs, "repairRange needs loNs <= hiNs")
    val backend = ManifestBackend
    val levels = backend.levels(spark, storePath).filter(_ != targetSec)
    val source = Decimation.selectSourcePeriod(targetSec, levels)
    val targetP = targetSec * Samples.NS
    val dayNs = 86400L * Samples.NS
    val dayLo = ((loNs / targetP) * targetP / dayNs) * dayNs
    val srcAll0 = backend.read(spark, storePath, source)
    val srcAll =
      if (source == 0L) Samples.monotonicDedup(srcAll0) else srcAll0
    // the last window whose ENTERING hold the backfill can change —
    // derived from the DEDUPLICATED view: the first raw arrival past
    // hiNs may be a row F6 drops, and anchoring on it would leave
    // gap-hold windows between dayHi and the first SURVIVING sample
    // holding their stale pre-backfill value
    val firstAfter = srcAll.where(col("ts") > hiNs)
      .groupBy("channel").agg(min("ts").as("fa"))
      .agg(max("fa")).collect().head
    val lastNeeded =
      if (firstAfter.isNullAt(0)) hiNs else firstAfter.getLong(0)
    val upWin = (lastNeeded / targetP + 1L) * targetP
    val dayHi = ((upWin - 1L) / dayNs + 1L) * dayNs // exclusive
    val cols = srcAll.columns
      .filterNot(c => c == "level" || c == "bucket_date").map(col).toSeq
    // source upper edge: whole windows (srcHi == dayHi when the period
    // divides a day; the window straddling dayHi otherwise)
    val srcHi = ((dayHi - 1L) / targetP + 1L) * targetP
    val inRange = srcAll.where(col("ts") >= dayLo && col("ts") < srcHi)
      .select(cols: _*)
    // per-channel held boundary: the last source row before the range
    val boundary = srcAll.where(col("ts") < dayLo)
      .groupBy(col("channel").as("_ch"))
      .agg(max_by(struct(cols: _*), col("ts")).as("_r"))
      .select(col("_r.*"))
    // per-channel FORWARD boundary: without a row past the range the
    // decimator stops at the channel's last in-range sample and the
    // gap-hold windows between it and dayHi never regenerate — the
    // full build emits them because later samples exist
    val forward = srcAll.where(col("ts") >= srcHi)
      .groupBy(col("channel").as("_ch"))
      .agg(min_by(struct(cols: _*), col("ts")).as("_r"))
      .select(col("_r.*"))
    val input = inRange.unionByName(boundary).unionByName(forward)
    val recomputed = hopFn(input, source, targetSec)
      .where(col("win_start") >= dayLo && col("win_start") < dayHi)
    val dates = Iterator.iterate(dayLo)(_ + dayNs).takeWhile(_ < dayHi)
      .map(d => java.time.LocalDate.ofEpochDay(d / dayNs).toString)
      .toSet
    ManifestStore.replaceRange(spark, storePath, targetSec, dates,
      toStore(recomputed))
  }

  /** Build ONE level from the best available source over FULL history
    * — the [[materialize]] loop body as a standalone call, for levels
    * a configuration change adds to an already-materialized store.
    * Needs a manifest-backed store; a level that already has a
    * frontier is left alone (its build committed, possibly by a racing
    * run — [[catchUp]] extends it).
    */
  def materializeLevel(spark: SparkSession, storePath: String,
                       targetSec: Long,
                       backend: StoreBackend = ManifestBackend,
                       retentionSec: Map[Long, Long] = Map.empty): Unit =
    materializeLevelImpl(spark, storePath, targetSec, hop, asStoreRows,
      heldSource = false, backend, retentionSec)

  /** [[materializeLevel]] for typed-union stores: one config-added
    * level built from the best available source over full history,
    * typed dispatch in the hop, held-boundary frontiers.
    */
  def materializeTypedLevel(spark: SparkSession, storePath: String,
                            targetSec: Long,
                            backend: StoreBackend = ManifestBackend,
                            retentionSec: Map[Long, Long] = Map.empty): Unit =
    materializeLevelImpl(spark, storePath, targetSec, typedHop,
      asTypedStoreRows, heldSource = true, backend, retentionSec)

  private def materializeLevelImpl(spark: SparkSession, storePath: String,
                                   targetSec: Long,
                                   hopFn: (DataFrame, Long, Long) => DataFrame,
                                   toStore: DataFrame => DataFrame,
                                   heldSource: Boolean,
                                   backend: StoreBackend,
                                   retentionSec: Map[Long, Long]): Unit = {
    if (storedFrontier(spark, levelStore(backend, storePath), targetSec)
        .isDefined) return
    val done = backend.levels(spark, storePath).filter(_ != targetSec)
    val source = Decimation.selectSourcePeriod(targetSec, done)
    val src0 = backend.read(spark, storePath, source)
    // a raw level may hold undeduplicated streaming appends (the
    // continuous sink writes arrival order): the first build must see
    // the F6-deduplicated view — same rule as catchUpImpl's suffix
    val src =
      if (source == 0L) Samples.monotonicDedup(src0) else src0
    buildLevel(backend, storePath, targetSec,
      toStore(hopFn(src, source, targetSec)), src, source, heldSource)
    retainAfterWrite(spark, storePath, targetSec, retentionSec, backend)
  }

  /** Typed cascade materialization: raw typed samples and every
    * decimation level as typed stores, each level decimating the
    * previous through the full 21-type dispatch
    * ([[TypedDecimation.asTypedSamples]] is the hop conversion —
    * aggregated windows re-enter weighted by their covered fraction,
    * pick-first windows as their payload). Enum, array, and string
    * channels thus cascade with the same semantics the live typed
    * stream applies.
    */
  def materializeTyped(spark: SparkSession, storePath: String,
                       typedRaw: DataFrame, levelsSec: Seq[Long],
                       backend: StoreBackend = ArchiveBackend,
                       retentionSec: Map[Long, Long] = Map.empty): Unit = {
    backend.write(Samples.monotonicDedup(typedRaw), storePath, 0)
    retainAfterWrite(spark, storePath, 0L, retentionSec, backend)
    var done = List(0L)
    for (target <- levelsSec.sorted) {
      val source = Decimation.selectSourcePeriod(target, done)
      val src = backend.read(spark, storePath, source)
      // typed samples hold-last-value at EVERY level (the fine
      // aggregated sample is held until the next fine sample), so the
      // frontier always needs the held-boundary logic
      buildLevel(backend, storePath, target,
        asTypedStoreRows(typedHop(src, source, target)), src, source,
        heldSource = true)
      retainAfterWrite(spark, storePath, target, retentionSec, backend)
      done ::= target
    }
  }

  /** Typed decimated rows keyed for the store (win_start → ts). */
  private def asTypedStoreRows(decimated: DataFrame): DataFrame =
    decimated.withColumnRenamed("win_start", "ts")

  private def fromTypedStore(stored: DataFrame): DataFrame =
    stored.withColumnRenamed("ts", "win_start")

  /** §3.3 incremental catch-up: extend one materialized level over
    * source data that arrived since the last run. Reads only source
    * rows at-or-after each channel's `resumeTs` (the global minimum
    * prunes day partitions; the per-channel bound rides a broadcast
    * join), re-decimates that suffix — identical window stats to a
    * from-scratch build because the resume point preserves the held
    * boundary — and appends only windows past the old flush frontier.
    * Channels with no frontier (new channels) get a full pass, like
    * the reference's no-decimated-sample-yet path
    * (ArchivedChannelDecimatedSamplesDecimationLevel.java:396-401).
    *
    * Exactly-once: the new windows and the frontier of the channels
    * that moved commit as ONE manifest version, applied only while the
    * level's frontier still equals the one this run started from
    * ([[ManifestStore.commitLevel]]) — a re-run or a racing run either
    * starts from the committed frontier or publishes nothing. A run
    * that moves no frontier commits no version. Needs a manifest-backed
    * store and a built level ([[materializeLevel]]).
    */
  def catchUp(spark: SparkSession, storePath: String, targetSec: Long,
              backend: StoreBackend = ManifestBackend,
              retentionSec: Map[Long, Long] = Map.empty,
              knownChannels: Option[Seq[String]] = None): Unit =
    catchUpImpl(spark, storePath, targetSec, hop, asStoreRows,
      backend = backend, retentionSec = retentionSec,
      knownChannels = knownChannels)

  /** [[catchUp]] for typed-union stores built by [[materializeTyped]]:
    * identical frontier machinery (the resume math is ts-based and
    * type-agnostic), typed dispatch in the hop.
    */
  def catchUpTyped(spark: SparkSession, storePath: String, targetSec: Long,
                   backend: StoreBackend = ManifestBackend,
                   retentionSec: Map[Long, Long] = Map.empty,
                   knownChannels: Option[Seq[String]] = None): Unit =
    catchUpImpl(spark, storePath, targetSec, typedHop, asTypedStoreRows,
      heldSource = true, backend = backend, retentionSec = retentionSec,
      knownChannels = knownChannels)

  private def typedHop(source: DataFrame, sourceSec: Long,
                       targetSec: Long): DataFrame =
    if (sourceSec == 0L)
      TypedDecimation.decimate(source, targetSec * Samples.NS)
    else
      TypedDecimation.decimate(
        TypedDecimation.asTypedSamples(fromTypedStore(source)),
        targetSec * Samples.NS)

  private def catchUpImpl(spark: SparkSession, storePath: String,
                          targetSec: Long,
                          hopFn: (DataFrame, Long, Long) => DataFrame,
                          toStore: DataFrame => DataFrame,
                          heldSource: Boolean = false,
                          backend: StoreBackend,
                          retentionSec: Map[Long, Long],
                          knownChannels: Option[Seq[String]]): Unit = {
    val store = levelStore(backend, storePath)
    val old = storedFrontier(spark, store, targetSec).getOrElse(
      throw new IllegalStateException(s"level $targetSec has no frontier " +
        "yet: build it with materializeLevel first"))
    val levels = backend.levels(spark, storePath).filter(_ != targetSec)
    val source = Decimation.selectSourcePeriod(targetSec, levels)
    val targetP = targetSec * Samples.NS

    val globalMin =
      if (old.isEmpty) None else Some(old.valuesIterator.map(_.resumeTs).min)
    val bounds = {
      import spark.implicits._
      old.toSeq.map { case (c, f) => (c, f.lastSrcTs, f.resumeTs) }
        .toDF("_c", "last_src_ts", "resume_ts")
    }

    val clipped = backend.read(spark, storePath, source, globalMin)
      .join(broadcast(bounds), col("channel") === col("_c"), "left")
      .where(col("resume_ts").isNull || col("ts") >= col("resume_ts"))
    // Channels with no frontier yet (first seen after the last run)
    // need their FULL history. Detect them against the source level's
    // channel set — NOT against `clipped`: a new channel whose entire
    // history predates the global clip is absent from the clipped read,
    // and deriving "new" from it would silently skip that history and
    // then mark it as processed. `knownChannels` is the registry
    // route ([[ConfiguredArchive.catchUp]] passes the configured
    // channel set): a metadata lookup instead of the fallback
    // source-level distinct — which, though column-pruned and
    // dictionary-backed, is still a full-level footer+column pass per
    // cascade hop at 100 TB.
    val newChannels =
      if (globalMin.isEmpty) Array.empty[String]
      else knownChannels match {
        case Some(cs) => cs.filterNot(old.contains).toArray
        case None => backend.read(spark, storePath, source)
          .select("channel").distinct()
          .collect().map(_.getString(0)).filterNot(old.contains)
      }
    val src =
      if (newChannels.isEmpty || globalMin.isEmpty) clipped
      else clipped.where(col("resume_ts").isNotNull)
        .unionByName(backend.read(spark, storePath, source)
          .where(col("channel").isin(newChannels.toSeq: _*))
          .join(broadcast(bounds), col("channel") === col("_c"), "left"))

    // a raw suffix may contain undeduplicated streaming appends (the
    // continuous sink writes arrival order): both the hop AND the
    // held-boundary frontier must see the F6-deduplicated view, or an
    // out-of-order late arrival pulls resume_ts past the true held
    // sample and the frontier window loses its hold coverage
    val suffixRaw = src.drop("_c", "last_src_ts", "resume_ts")
    // materialize the suffix ONCE (r13, guide §5): it feeds the
    // frontier stats — which reference it twice (frontier aggregate +
    // held-boundary pass) — and the decimation write; without
    // truncation the clipped read + bounds join + F6 dedup window
    // re-ran per consumer. localCheckpoint is eager, so the one
    // materialization job replaces the recomputes. The suffix is
    // bounded by data since the last run — the incremental contract —
    // so the checkpoint is batch-sized, not corpus-sized.
    val suffix = {
      val s0 =
        if (source == 0L) Samples.monotonicDedup(suffixRaw) else suffixRaw
      s0.localCheckpoint()
    }
    val dec = hopFn(suffix, source, targetSec)
      .join(broadcast(bounds), col("channel") === col("_c"), "left")
      .where(col("last_src_ts").isNull ||
        col("win_start") + targetP > col("last_src_ts"))
      .drop("_c", "last_src_ts", "resume_ts")

    // The new frontier WITHOUT rescanning the full source level: the
    // suffix starts at each present channel's old resume point, so its
    // per-channel stats (frontier, held boundary) are complete for
    // every channel it contains; channels absent from it keep theirs.
    val moved = computeFrontier(suffix, targetSec, source, heldSource)
      .filter { case (c, f) => !old.get(c).contains(f) }
    if (moved.nonEmpty)
      ManifestStore.commitLevel(toStore(dec), store, targetSec,
        from = Some(old), moved)
    retainAfterWrite(spark, storePath, targetSec, retentionSec, backend)
  }
}
