package graft.archive

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Samples

/** Raised when serving is asked for a disabled channel AND the caller
  * opted into refusal (`refuseDisabled = true`). The reference's
  * archive-access path serves a disabled channel's archived history —
  * Api10Controller.java:235-279 never consults the enabled flag
  * (disabling stops ARCHIVING, ArchivedChannel.java:766-835, not
  * retrieval) — so serving history is the default here too; the flag
  * exists for deployments that want decommissioned channels dark.
  */
class ChannelDisabledException(name: String)
  extends RuntimeException(s"channel '$name' is disabled")

/** Configuration-governed archiving — the layer that makes the
  * [[ConfigCommands]] log DRIVE the engine, the way
  * `ArchiveConfigurationService` drives `ArchivingService` in the
  * reference: the cascade derives its level set and retention map from
  * the committed configuration (no caller-passed literals), ingest
  * drops channels that are unknown or disabled, catch-up learns new
  * channels from the registry instead of scanning the source level,
  * and the serving edge refuses disabled channels and plans only over
  * config-declared levels.
  *
  * The store is keyed by the rename-stable `channelDataId` throughout
  * (the id rides the `channel` column internally — the reference keys
  * every bucket by channelDataId for the same reason,
  * SampleBucketId.java:80-89), so a rename is a pure config commit:
  * serving resolves the CURRENT name to the id on the way in and
  * re-labels rows on the way out, and no data file is ever touched.
  */
object ConfiguredArchive {

  /** One request's view of the archive: the config log's head and the
    * store's head, each resolved ONCE. The serving reads of a request
    * (the HTTP response-memo key, the typed decision, the channel's
    * config and the direct serve's manifest) all come from it, so a
    * memoized body is built from the versions its key names, and a
    * request pays one head probe per log ([[VersionLog]]) instead of
    * one per read. A version published after the snapshot is seen by
    * the next request. The M4 and LTTB engine fallbacks read at the
    * request's snapshot too ([[queryM4]], [[queryLttb]]); the stats,
    * spectrum, CUSUM and derived fallbacks still resolve a snapshot of
    * their own.
    *
    * `manifest` is the head manifest of a [[ManifestBackend]] store
    * (None for an empty store and for other backends); `storeVersion`
    * is its version, or [[StoreBackend.metaVersion]] for other
    * backends.
    */
  private[graft] final case class Snapshot(configPath: String,
      storePath: String, backend: StoreBackend,
      config: ConfigCommands.ConfigState, storeVersion: Option[Long],
      manifest: Option[ManifestStore.Manifest]) {

    /** The store's head resolved again, the config kept — the direct
      * serves' retry after a vacuum deleted a file this version names. */
    def refreshStore(spark: SparkSession): Snapshot = {
      val (v, m) = storeHead(spark, storePath, backend)
      copy(storeVersion = v, manifest = m)
    }

    /** What a response built from this snapshot is memoized under:
      * None when the store has no cheap version (no safe key). */
    def memoKey: Option[(StoreBackend, String, String, Long, Long)] =
      storeVersion.map((backend, configPath, storePath, config.version, _))
  }

  private[graft] def snapshot(spark: SparkSession, configPath: String,
                              storePath: String,
                              backend: StoreBackend): Snapshot = {
    val (v, m) = storeHead(spark, storePath, backend)
    Snapshot(configPath, storePath, backend,
      ConfigCommands.state(spark, configPath), v, m)
  }

  private def storeHead(spark: SparkSession, storePath: String,
                        backend: StoreBackend)
      : (Option[Long], Option[ManifestStore.Manifest]) =
    if (backend eq ManifestBackend) {
      val m = ManifestStore.latestManifest(spark, storePath)
      (m.map(_.version), m)
    } else (backend.metaVersion(spark, storePath), None)

  /** Resolve names → data ids for the enabled channel set and key the
    * frame by the id (rides the `channel` column so the cascade, the
    * stores, and the server work unchanged). Unknown and disabled
    * channels are dropped — the reference likewise refuses samples for
    * channels it is not configured to archive.
    */
  private[graft] def idKeyed(samples: DataFrame,
                             enabled: Seq[ChannelConfig]): DataFrame =
    ChannelRegistry.resolveToId(samples, enabled)
      .withColumnRenamed("channel_data_id", "channel")

  /** Full build: write raw and materialize every config-declared level
    * with config-derived retention. Channels whose `controlSystemType`
    * is `"calc"` are COMPUTED from their source channels first
    * ([[withCalcChannels]]) and then archived like any other channel.
    * Returns the config state that governed the build (its `version`
    * is the build's provenance).
    */
  def materialize(spark: SparkSession, configPath: String,
                  storePath: String, raw: DataFrame,
                  backend: StoreBackend = ManifestBackend)
      : ConfigCommands.ConfigState = {
    val st = ConfigCommands.state(spark, configPath)
    Cascade.materialize(spark, storePath,
      idKeyed(withCalcChannels(raw, st), st.enabledConfigs),
      st.levelsSec, backend, st.retentionSec)
    st
  }

  /** Calculated channels — the engine-side analog of archiving an
    * EPICS calc-record PV (the reference archives whatever series the
    * control system computes; here the engine computes it): a channel
    * configured with `controlSystemType = "calc"` is not ingested
    * from the source frame but DERIVED from two other channels at
    * materialize time ([[Analytics.derivedChannel]]), then archived
    * under its own rename-stable id — decimation levels, retention,
    * serving, JSON all apply unchanged downstream. Options:
    * `calc.a` / `calc.b` (source channel names as they appear in the
    * incoming frame), `calc.op` (add|sub|mul|div, default sub),
    * `calc.step_s` (grid step in seconds). The series is defined on
    * the epoch-aligned grid over the INTERSECTION of the two sources'
    * sample spans (a calc record emits only while both inputs are
    * live); `sample_id = ts` keeps the F6 monotonic invariant. Calc
    * channels are folded in name order over the growing frame, so a
    * calc channel may reference an earlier-named calc channel.
    * Scalar-only — [[materializeTyped]] ignores them by construction
    * (its input carries the typed union, never a "calc" source row).
    */
  private[graft] def withCalcChannels(raw: DataFrame,
                                      st: ConfigCommands.ConfigState)
      : DataFrame = {
    val calcs = st.enabledConfigs.filter(_.controlSystemType == "calc")
      .sortBy(_.name)
    if (calcs.isEmpty) return raw
    val configured = st.configs.map(_.name).toSet ++ calcs.map(_.name)
    // derive from the F6-DEDUPLICATED view: Cascade.materialize dedups
    // before writing, so holds computed over the raw arrival frame
    // could see out-of-order rows the STORE never keeps — catch-up's
    // recompute (which reads the store) would then disagree with the
    // build, breaking the byte-identical frontier contract. Dedup is
    // idempotent, so the cascade's own pass downstream is a no-op.
    calcs.foldLeft(Samples.monotonicDedup(raw): DataFrame) { (acc, c) =>
      val (sources, stepNs, derive) = calcPlan(c)
      // a source that is not a configured channel (nor an earlier calc)
      // is a misconfiguration, not "no data yet" — fail the build, a
      // silent skip would serve an empty series indistinguishable from
      // an empty archive
      sources.filterNot(configured.contains).foreach { missing =>
        throw new IllegalArgumentException(
          s"channel '${c.name}': calc source '$missing' is not a " +
            "configured channel")
      }
      // metadata-sized: the sources' first/last ts (one tiny agg)
      val spans = acc.where(col("channel").isin(sources: _*))
        .groupBy("channel").agg(min("ts").as("lo"), max("ts").as("hi"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      // a configured source with no rows YET is legitimate (data can
      // arrive later; catch-up extends the grid then)
      if (!sources.forall(spans.contains)) acc
      else {
        val lo = ((sources.map(spans(_)._1).max + stepNs - 1L) / stepNs) * stepNs
        val hi = (sources.map(spans(_)._2).min / stepNs) * stepNs
        if (lo > hi) acc
        else {
          val known: Map[String, org.apache.spark.sql.Column] = Map(
            "channel" -> col("channel"), "ts" -> col("ts"),
            "value" -> col("value"), "str_value" -> lit(""),
            "severity" -> lit(0), "status" -> lit(0),
            "sample_id" -> col("ts"))
          val cols = acc.schema.fields.map { fld =>
            known.get(fld.name)
              .orElse(if (fld.name == "ts_raw")
                Some(Samples.rawTsFromNs(col("ts"), fld.dataType))
              else None)
              .getOrElse(lit(null).cast(fld.dataType)).as(fld.name)
          }
          acc.unionByName(derive(acc, lo, hi).select(cols.toSeq: _*))
        }
      }
    }
  }

  /** Resolve one calc channel's configuration into (source names, grid
    * step, derive function). Two forms: the binary expression
    * (`calc.a`/`calc.b`/`calc.op`) and the n-ary aggregate
    * (`calc.sources` CSV + `calc.nary` ∈ sum|mean|min|max — the
    * "total beam current = sum of segment currents" shape). Fails
    * loudly on a misconfigured channel; silence here would archive a
    * wrong series.
    */
  private def calcPlan(c: ChannelConfig)
      : (Seq[String], Long, (DataFrame, Long, Long) => DataFrame) = {
    val stepNs = c.options.getOrElse("calc.step_s",
      throw new IllegalArgumentException(
        s"channel '${c.name}': calc.step_s is required")).toLong * Samples.NS
    require(stepNs > 0L, s"channel '${c.name}': calc.step_s must be positive")
    val (sources, derive) = c.options.get("calc.sources") match {
      case Some(csv) =>
        val srcs = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val nary = c.options.getOrElse("calc.nary", "sum")
        require(Set("sum", "mean", "min", "max")(nary),
          s"channel '${c.name}': unknown calc.nary '$nary'")
        (srcs, (in: DataFrame, lo: Long, hi: Long) =>
          Analytics.derivedChannelN(in, c.name, srcs, nary, lo, hi, stepNs))
      case None =>
        val a = c.options.getOrElse("calc.a",
          throw new IllegalArgumentException(
            s"channel '${c.name}': calc.a is required"))
        val b = c.options.getOrElse("calc.b",
          throw new IllegalArgumentException(
            s"channel '${c.name}': calc.b is required"))
        val op = c.options.getOrElse("calc.op", "sub")
        val f = DerivedOps.getOrElse(op, throw new IllegalArgumentException(
          s"channel '${c.name}': unknown calc.op '$op'"))
        require(a != b, s"channel '${c.name}': calc needs two distinct sources")
        (Seq(a, b), (in: DataFrame, lo: Long, hi: Long) =>
          Analytics.derivedChannel(in, c.name, a, b, f, lo, hi, stepNs))
    }
    require(sources.size >= 2 && sources.distinct.size == sources.size,
      s"channel '${c.name}': calc needs >= 2 distinct sources")
    (sources, stepNs, derive)
  }

  /** [[materialize]] for the full 21-type value union: same config-
    * derived levels/retention, typed dispatch in every hop
    * ([[Cascade.materializeTyped]]).
    */
  def materializeTyped(spark: SparkSession, configPath: String,
                       storePath: String, typedRaw: DataFrame,
                       backend: StoreBackend = ManifestBackend)
      : ConfigCommands.ConfigState = {
    val st = ConfigCommands.state(spark, configPath)
    Cascade.materializeTyped(spark, storePath,
      idKeyed(typedRaw, st.enabledConfigs), st.levelsSec, backend,
      st.retentionSec)
    st
  }

  /** [[catchUp]] for typed-union stores: registry-driven new-channel
    * detection and config-derived retention, typed hops. Config-added
    * levels get their first full build via the typed cascade's own
    * source-selection rule.
    */
  def catchUpTyped(spark: SparkSession, configPath: String,
                   storePath: String,
                   backend: StoreBackend = ManifestBackend): Unit = {
    val st = ConfigCommands.state(spark, configPath)
    val known = st.enabledConfigs.map(_.channelDataId)
    for (level <- st.levelsSec) {
      if (!Cascade.hasFrontier(spark, storePath, level))
        Cascade.materializeTypedLevel(spark, storePath, level, backend,
          st.retentionSec)
      else
        Cascade.catchUpTyped(spark, storePath, level, backend,
          st.retentionSec, knownChannels = Some(known))
    }
  }

  /** Backfill repair across every config-declared level, fine to
    * coarse — so each coarser hop reads the repaired finer level. Run
    * after landing history BEHIND the archive's frontier (an EPICS
    * migration via [[graft.sources.EpicsArchiverJson]] + [[ingestRaw]],
    * a replayed outage): [[Cascade.repairRange]] recomputes exactly the
    * windows the backfill can have changed and swaps them atomically.
    * Data past the frontier stays [[catchUp]]'s job.
    */
  def repairBackfill(spark: SparkSession, configPath: String,
                     storePath: String, loNs: Long, hiNs: Long): Unit = {
    val st = ConfigCommands.state(spark, configPath)
    // typed-union stores (the EPICS bridge's output) repair through
    // the typed dispatch — detected like the serving edge does
    val typed =
      try ManifestBackend.read(spark, storePath, 0L).columns
        .contains("vtype")
      catch { case _: Throwable => false }
    for (level <- st.levelsSec.filter(_ > 0L).sorted)
      if (typed) Cascade.repairRangeTyped(spark, storePath, level, loNs, hiNs)
      else Cascade.repairRange(spark, storePath, level, loNs, hiNs)
  }

  /** Incremental ingest: append new raw samples (enabled channels
    * only, id-keyed, F6-deduplicated) and apply the config's raw-level
    * retention — the batch analog of the streaming sink's per-batch
    * write+retain.
    */
  def ingestRaw(spark: SparkSession, configPath: String, storePath: String,
                raw: DataFrame,
                backend: StoreBackend = ManifestBackend): Unit = {
    val st = ConfigCommands.state(spark, configPath)
    backend.write(Samples.monotonicDedup(idKeyed(raw, st.enabledConfigs)),
      storePath, 0L)
    st.retentionSec.get(0L).filter(_ > 0L).foreach { sec =>
      backend.applyRetention(spark, storePath, 0L, sec * Samples.NS); ()
    }
  }

  /** Extend every config-declared level over data that arrived since
    * the last run. A level with no frontier in the manifest (one the
    * configuration added since the store was built) gets its first
    * full build, committed with its frontier in one version; existing
    * levels run the incremental catch-up with the configured channel
    * set as the new-channel registry (no source-level distinct — the
    * fix for the full-level metadata pass flagged in round 4) and
    * config-derived retention after each successful write. Two runs
    * racing over one level commit it once ([[Cascade.catchUp]]).
    */
  def catchUp(spark: SparkSession, configPath: String, storePath: String,
              backend: StoreBackend = ManifestBackend): Unit = {
    val st = ConfigCommands.state(spark, configPath)
    // calc channels first: their extended raw grid then feeds the
    // level catch-up below like any other channel's appended raw data
    catchUpCalc(spark, st, storePath, backend)
    val known = st.enabledConfigs.map(_.channelDataId)
    for (level <- st.levelsSec) {
      if (!Cascade.hasFrontier(spark, storePath, level))
        Cascade.materializeLevel(spark, storePath, level, backend,
          st.retentionSec)
      else
        Cascade.catchUp(spark, storePath, level, backend, st.retentionSec,
          knownChannels = Some(known))
    }
  }

  /** Extend every calc channel's archived grid over source data that
    * arrived since the last build — calc extension rides [[catchUp]]
    * exactly the way decimation catch-up does: raw source appends land
    * via [[ingestRaw]] (which never carries calc rows — the calc name
    * exists only in configuration), then catch-up recomputes the
    * deterministic grid from the STORED sources and appends only the
    * points past the calc channel's stored frontier. Recompute-and-
    * filter keeps the extension byte-identical to an all-at-once build
    * (same holds, same grid) and makes the append idempotent by
    * frontier: a crashed run re-runs with the same result, and the
    * manifest backend's token dedup ([[StoreBackend.writeTxn]], token =
    * new frontier) skips the re-write entirely. A hotter path would
    * bound the re-scan with a boundary argmax at the frontier; the
    * hold look-back is the only reason the scan is open-ended.
    * Options reference sources by CURRENT name — renaming a source
    * without updating its dependents' `calc.a`/`calc.b` severs the
    * reference (the extension is skipped, loudly impossible to
    * confuse with data).
    */
  private def catchUpCalc(spark: SparkSession,
                          st: ConfigCommands.ConfigState,
                          storePath: String, backend: StoreBackend): Unit = {
    val byName = st.configs.map(c => c.name -> c).toMap
    val calcs = st.enabledConfigs.filter(_.controlSystemType == "calc")
      .sortBy(_.name)
    for (c <- calcs) {
      val (sources, stepNs, derive) = calcPlan(c)
      val resolved = sources.flatMap(n => byName.get(n).map(n -> _))
      // an unresolvable source name is a misconfiguration (e.g. a
      // source renamed without updating its dependents) — fail loudly,
      // a silently stalled calc frontier is invisible until a user
      // notices the flat line
      sources.filterNot(byName.contains).foreach { missing =>
        throw new IllegalArgumentException(
          s"channel '${c.name}': calc source '$missing' is not a " +
            "configured channel")
      }
      if (resolved.size == sources.size) {
        def chanRows(id: String, label: String) =
          backend.read(spark, storePath, 0L, channel = Some(id))
            .where(col("channel") === id)
            .withColumn("channel", lit(label))
        // (no checkpoint on `u`: its other consumers — the boundary
        // argmax and the derive — run inside ONE write job below, and
        // the stats job reads only (channel, ts); materializing the
        // full-width union would trade column-pruned parquet scans for
        // a wide block write, an extra job, at no job-count gain)
        val u = resolved.map { case (n, cfg) =>
          chanRows(cfg.channelDataId, n)
        }.reduce(_ unionByName _)
        // ONE stats job (r13): the calc channel's stored frontier and
        // every source's span ride the same aggregate — a `_own`
        // marker keeps the calc channel's own rows apart from a source
        // that might share its label (and the old shape's separate
        // frontier job drops out)
        val ownRows = chanRows(c.channelDataId, c.name)
          .select(lit(true).as("_own"), col("channel"), col("ts"))
        val stats = u.select(lit(false).as("_own"), col("channel"), col("ts"))
          .unionByName(ownRows)
          .groupBy("_own", "channel")
          .agg(min("ts").as("lo"), max("ts").as("hi"))
          .collect()
        // stored frontier of the calc channel's own raw grid
        val gLast = stats.find(_.getBoolean(0))
          .map(_.getLong(3)).getOrElse(Long.MinValue)
        val spans = stats.filterNot(_.getBoolean(0))
          .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3)))
          .toMap
        if (sources.forall(spans.contains)) {
          val lo = ((sources.map(spans(_)._1).max + stepNs - 1L) / stepNs) * stepNs
          val hi = (sources.map(spans(_)._2).min / stepNs) * stepNs
          if (hi > gLast && lo <= hi) {
            val known: Map[String, org.apache.spark.sql.Column] = Map(
              "channel" -> lit(c.channelDataId), "ts" -> col("ts"),
              "value" -> col("value"), "str_value" -> lit(""),
              "severity" -> lit(0), "status" -> lit(0),
              "sample_id" -> col("ts"))
            val cols = u.schema.fields
              .filterNot(fld => fld.name == "level" ||
                fld.name == "bucket_date")
              .map { fld =>
                known.get(fld.name)
                  .orElse(if (fld.name == "ts_raw")
                    Some(Samples.rawTsFromNs(col("ts"), fld.dataType))
                  else None)
                  .getOrElse(lit(null).cast(fld.dataType)).as(fld.name)
              }
            // bounded re-scan: the holds for grid points PAST the
            // frontier need only each source's last sample AT-OR-BEFORE
            // the frontier (one partial-merge argmax — the boundary
            // lookup shape) plus the rows after it, not the full
            // history the all-at-once build shuffles. Byte-identity
            // with the full recompute is construction + the
            // arch_calc_catchup hash gate.
            val input =
              if (gLast == Long.MinValue) u
              else {
                val srcCols = u.columns.map(col).toSeq
                val boundary = u.where(col("ts") <= lit(gLast))
                  .groupBy(col("channel").as("ch"))
                  .agg(max_by(struct(srcCols: _*), col("ts")).as("r"))
                  .select(col("r.*"))
                u.where(col("ts") > lit(gLast)).unionByName(boundary)
              }
            val extLo =
              if (gLast == Long.MinValue) lo
              else math.max(lo, gLast + stepNs)
            val ext = derive(input, extLo, hi)
              .where(col("ts") > lit(gLast))
              .select(cols.toSeq: _*)
            backend.writeTxn(ext, storePath, 0L,
              writerId = s"calc-${c.channelDataId}", token = hi)
          }
        }
      }
    }
  }

  /** Config-governed serving: resolve the current name to its data id,
    * refuse unknown channels ([[NoSuchChannelException]]), plan only
    * over the channel's config-declared levels, and serve rows under
    * the name the caller used. A DISABLED channel's archived history
    * is served (the reference's contract — disabling stops archiving,
    * not retrieval); `refuseDisabled = true` restores the refusal
    * ([[ChannelDisabledException]]) for deployments that want it.
    */
  def querySamples(spark: SparkSession, configPath: String,
                   storePath: String, name: String,
                   startNs: Long, endNs: Long, count: Option[Long],
                   backend: StoreBackend = ManifestBackend,
                   loMode: Option[ArchiveReader.LimitMode] = None,
                   hiMode: Option[ArchiveReader.LimitMode] = None,
                   refuseDisabled: Boolean = false): DataFrame = {
    val cfg = resolveServable(spark, configPath, name, refuseDisabled)
    // raw (0) is always servable: the command surface normalizes it
    // into every config, but a config imported or constructed without
    // that normalization must not lose its raw data at the serving
    // edge (and with it the widened-boundary contract)
    ArchiveServer.querySamples(spark, storePath, cfg.channelDataId,
        startNs, endNs, count, backend,
        allowedLevels = Some(cfg.levels.keySet + 0L),
        loMode = loMode, hiMode = hiMode)
      .withColumn("channel", lit(name))
  }

  /** The complete config-governed user-facing stack: config → id-keyed
    * store → resolution planner → JSON v1 wire. Same streaming
    * `toLocalIterator` contract as [[ArchiveServer.serveJson]].
    */
  def serveJson(spark: SparkSession, configPath: String, storePath: String,
                name: String, startNs: Long, endNs: Long,
                count: Option[Long],
                backend: StoreBackend = ManifestBackend,
                loMode: Option[ArchiveReader.LimitMode] = None,
                hiMode: Option[ArchiveReader.LimitMode] = None,
                refuseDisabled: Boolean = false): Iterator[String] =
    serveJson(spark, snapshot(spark, configPath, storePath, backend), name,
      startNs, endNs, count, loMode, hiMode, refuseDisabled)

  /** [[serveJson]] through one request's [[Snapshot]]. */
  private[graft] def serveJson(spark: SparkSession, snap: Snapshot,
                               name: String, startNs: Long, endNs: Long,
                               count: Option[Long],
                               loMode: Option[ArchiveReader.LimitMode],
                               hiMode: Option[ArchiveReader.LimitMode],
                               refuseDisabled: Boolean): Iterator[String] =
    // single-segment scalar serves answer from driver-side manifest-
    // pruned row-group reads — zero Spark jobs (the cold-path latency
    // fix); anything out of that envelope falls back to the engine.
    // Byte-identity between the two paths is gated by DirectServeSpec.
    DirectServe.tryServe(spark, snap, name, startNs, endNs, count, loMode,
        hiMode, refuseDisabled)
      .getOrElse(serveJsonSpark(spark, snap.configPath, snap.storePath,
        name, startNs, endNs, count, snap.backend, loMode, hiMode,
        refuseDisabled))

  /** The DataFrame serve path — [[serveJson]] without the direct-read
    * dispatch; the fallback for out-of-envelope requests and the
    * byte-parity oracle for [[DirectServe]].
    */
  private[graft] def serveJsonSpark(spark: SparkSession, configPath: String,
                storePath: String,
                name: String, startNs: Long, endNs: Long,
                count: Option[Long],
                backend: StoreBackend = ManifestBackend,
                loMode: Option[ArchiveReader.LimitMode] = None,
                hiMode: Option[ArchiveReader.LimitMode] = None,
                refuseDisabled: Boolean = false): Iterator[String] = {
    val df = querySamples(spark, configPath, storePath, name, startNs,
        endNs, count, backend, loMode, hiMode, refuseDisabled)
      .withColumn("severity", lit(0)).withColumn("status", lit(0))
    ArchiveServer.serializedIterator(JsonV1.serializeRaw(df), count)
  }

  /** Config-governed LTTB serving — the chart-UI read path: instead
    * of the planner picking a coarser LEVEL for `count`
    * (Api10Controller.java:382-456's rule), serve the `k` visually
    * dominant RAW points of [startNs, endNs) via
    * [[Analytics.lttb]]. One pruned raw-level scan (ts range and
    * channel pushed to the manifest/parquet file pruning) + the
    * bucket-parallel downsample — no boundary probes, no level-state
    * job, so the endpoint costs a single range-scan job plus the tiny
    * anchor aggregate.
    */
  def queryLttb(spark: SparkSession, configPath: String,
                storePath: String, name: String,
                startNs: Long, endNs: Long, k: Int,
                backend: StoreBackend = ManifestBackend,
                refuseDisabled: Boolean = false): DataFrame =
    queryLttb(spark, snapshot(spark, configPath, storePath, backend), name,
      startNs, endNs, k, refuseDisabled)

  /** [[queryLttb]] at one request's [[Snapshot]]. */
  private[graft] def queryLttb(spark: SparkSession, snap: Snapshot,
                               name: String, startNs: Long, endNs: Long,
                               k: Int, refuseDisabled: Boolean): DataFrame =
    Analytics.lttb(rawScan(spark, snap, name, startNs, endNs,
        refuseDisabled), startNs, endNs, k)
      .withColumn("channel", lit(name))

  /** [[rawScan]] at a snapshot of the latest versions. */
  private def rawScan(spark: SparkSession, configPath: String,
                      storePath: String, name: String,
                      startNs: Long, endNs: Long,
                      backend: StoreBackend,
                      refuseDisabled: Boolean): DataFrame =
    rawScan(spark, snapshot(spark, configPath, storePath, backend), name,
      startNs, endNs, refuseDisabled)

  /** The shared front half of every config-governed analytic read:
    * resolve the name to its permanent id in the snapshot's config
    * (refusing unknown — and, when asked, disabled — channels), then
    * ONE pruned raw-level scan of that channel's rows in the inclusive
    * range, from the snapshot's manifest where it has one. Without one
    * (a backend other than the manifest, or a manifest store that was
    * empty at the snapshot) the scan reads the latest data. Such a body is never older than its snapshot, and it
    * is newer only by a commit that raced the request; a memo keyed
    * on the snapshot's version can then hold a body from a later
    * version. That is harmless: store versions only grow (a regression
    * purges the memos), every request resolving the newer version
    * misses that key, and a request that still resolves the older one
    * gets rows it could have been served a moment later anyway. An
    * empty manifest store has no memo key at all.
    */
  private def rawScan(spark: SparkSession, snap: Snapshot, name: String,
                      startNs: Long, endNs: Long,
                      refuseDisabled: Boolean): DataFrame = {
    val cfg = resolveServable(snap.config, name, refuseDisabled)
    val id = cfg.channelDataId
    snap.manifest
      .map(m => ManifestStore.readManifestFrame(spark, snap.storePath, m,
        0L, Some(startNs), Some(endNs), Some(id)))
      .getOrElse(snap.backend.read(spark, snap.storePath, 0L,
        loNs = Some(startNs), hiNs = Some(endNs), channel = Some(id)))
      .where(col("channel") === id &&
        col("ts") >= startNs && col("ts") <= endNs)
  }

  /** Fleet staleness panel — [[Analytics.stalenessReport]] over EVERY
    * configured channel's stored raw data as of `asOf`: ONE store-wide
    * read (hi bound pushed down), per-channel cadence windows, data
    * ids mapped back to configured names through a broadcast of the
    * config-sized name table. Channels configured but with nothing
    * stored still report (n_samples = 0, stale) — the ops panel must
    * SHOW the channel that never archived, not drop it.
    */
  def queryStaleness(spark: SparkSession, configPath: String,
                     storePath: String, asOf: Long,
                     graceFactor: Long = 3L,
                     backend: StoreBackend = ManifestBackend): DataFrame = {
    import spark.implicits._
    val st = ConfigCommands.state(spark, configPath)
    val names = st.configs.map(c => (c.channelDataId, c.name))
      .toDF("channel", "name")
    val stored = backend.read(spark, storePath, 0L,
        loNs = None, hiNs = Some(asOf), channel = None)
      .where(col("ts") <= asOf)
    val report = Analytics.stalenessReport(stored, asOf, graceFactor)
    names.join(broadcast(report), Seq("channel"), "left")
      .select(col("name").as("channel"),
        coalesce(col("n_samples"), lit(0L)).as("n_samples"),
        col("t_last"), col("median_gap_ns"), col("expected_next"),
        coalesce(col("stale"), lit(true)).as("stale"))
  }

  /** Config-governed distribution panel — the summary a dashboard
    * shows next to the chart: sample count, min, exact interpolated
    * p50/p90/p99, max over the requested range
    * ([[Analytics.valuePercentiles]] on one pruned raw-level scan).
    */
  def queryStats(spark: SparkSession, configPath: String,
                 storePath: String, name: String,
                 startNs: Long, endNs: Long,
                 backend: StoreBackend = ManifestBackend,
                 refuseDisabled: Boolean = false): DataFrame =
    Analytics.valuePercentiles(rawScan(spark, configPath, storePath,
        name, startNs, endNs, backend, refuseDisabled))
      .withColumn("channel", lit(name))

  /** Config-governed spectral panel — [[Analytics.spectrum]] over the
    * channel's pruned raw range scan: per candidate period the
    * projection sums and normalized power (the HTTP edge derives the
    * dominant period from these rows).
    */
  def querySpectrum(spark: SparkSession, configPath: String,
                    storePath: String, name: String,
                    startNs: Long, endNs: Long, periods: Seq[Long],
                    backend: StoreBackend = ManifestBackend,
                    refuseDisabled: Boolean = false): DataFrame =
    // the serving contract is END-INCLUSIVE like rawScan and /1/stats;
    // Analytics.spectrum's internal bound is exclusive, so widen it by
    // one ns (saturating) or the sample AT endNs silently drops
    Analytics.spectrum(rawScan(spark, configPath, storePath, name,
        startNs, endNs, backend, refuseDisabled), startNs,
        if (endNs == Long.MaxValue) endNs else endNs + 1, periods)
      .withColumn("channel", lit(name))

  /** Config-governed CUSUM panel — [[Analytics.cusumShifts]] over the
    * channel's pruned raw range scan (target self-calibrates to the
    * window mean, the batch operator's contract).
    */
  def queryCusum(spark: SparkSession, configPath: String,
                 storePath: String, name: String,
                 startNs: Long, endNs: Long,
                 slack: Double, threshold: Double,
                 backend: StoreBackend = ManifestBackend,
                 refuseDisabled: Boolean = false): DataFrame =
    // end-INCLUSIVE at the serving edge, like querySpectrum above
    Analytics.cusumShifts(rawScan(spark, configPath, storePath, name,
        startNs, endNs, backend, refuseDisabled), startNs,
        if (endNs == Long.MaxValue) endNs else endNs + 1,
        slack, threshold)
      .withColumn("channel", lit(name))

  /** Config-governed M4 downsampling — [[queryLttb]]'s pixel-exact
    * sibling ([[Analytics.m4]]): same single pruned range-scan job,
    * but the reducer is one hash aggregate (no anchor window at all),
    * returning the first/min/max/last corner points per bucket.
    */
  def queryM4(spark: SparkSession, configPath: String,
              storePath: String, name: String,
              startNs: Long, endNs: Long, k: Int,
              backend: StoreBackend = ManifestBackend,
              refuseDisabled: Boolean = false): DataFrame =
    queryM4(spark, snapshot(spark, configPath, storePath, backend), name,
      startNs, endNs, k, refuseDisabled)

  /** [[queryM4]] at one request's [[Snapshot]]. */
  private[graft] def queryM4(spark: SparkSession, snap: Snapshot,
                             name: String, startNs: Long, endNs: Long,
                             k: Int, refuseDisabled: Boolean): DataFrame =
    Analytics.m4(rawScan(spark, snap, name, startNs, endNs,
        refuseDisabled), startNs, endNs, k)
      .withColumn("channel", lit(name))

  /** The operator set [[queryDerived]] accepts — the HTTP edge checks
    * membership BEFORE calling (an unknown op is a 400, not a 500).
    */
  val DerivedOps: Map[String, (org.apache.spark.sql.Column,
    org.apache.spark.sql.Column) => org.apache.spark.sql.Column] = Map(
    "add" -> (_ + _), "sub" -> (_ - _), "mul" -> (_ * _), "div" -> (_ / _))

  /** The same operator set as scalar doubles — the driver-side panel
    * path ([[DirectPanels.derived]]) evaluates the identical IEEE
    * program Spark's Column arithmetic runs — including ANSI mode's
    * divide-by-zero refusal (Spark throws even for doubles; a fast
    * path returning Infinity where the engine 500s would be a
    * divergence). */
  val DerivedOpsD: Map[String, (Double, Double) => Double] = Map(
    "add" -> (_ + _), "sub" -> (_ - _), "mul" -> (_ * _),
    "div" -> ((a, b) =>
      if (b == 0.0) throw new ArithmeticException(
        "[DIVIDE_BY_ZERO] Division by zero")
      else a / b))

  /** Config-governed derived ("calculated") channel at the serving
    * edge — the EPICS calc-record analog a chart UI can request
    * directly: resolve BOTH names through the current config (the
    * samples endpoint's 404/403 semantics apply to each), one pruned
    * raw-level range scan per source, both held onto the shared
    * [startNs, endNs] grid every `stepNs`, combined pointwise
    * ([[Analytics.derivedChannel]]). Output channel is
    * `calc:<op>(<a>,<b>)`. Grid points before either channel's first
    * sample are dropped (a calc record is undefined until every input
    * exists).
    */
  def queryDerived(spark: SparkSession, configPath: String,
                   storePath: String, nameA: String, nameB: String,
                   op: String, startNs: Long, endNs: Long, stepNs: Long,
                   backend: StoreBackend = ManifestBackend,
                   refuseDisabled: Boolean = false): DataFrame = {
    val f = DerivedOps.getOrElse(op,
      throw new IllegalArgumentException(s"unknown derived op '$op'"))
    require(nameA != nameB, "derived channel needs two distinct sources")
    require(stepNs > 0L, "step must be positive")
    // the hold must reach BACK past startNs (a grid point at startNs
    // takes the last sample at-or-before it — the samples endpoint's
    // AT_OR_BEFORE widening, Api10Controller.java:466-480), so the
    // scan keeps no lower bound; channel + upper-bound pruning still
    // applies. A hotter path would swap the open scan for the
    // boundary-probe walk-back (ArchiveServer.boundaryProbe) unioned
    // with the in-range scan.
    def scan(name: String): DataFrame = {
      val cfg = resolveServable(spark, configPath, name, refuseDisabled)
      backend.read(spark, storePath, 0L, loNs = None, hiNs = Some(endNs),
          channel = Some(cfg.channelDataId))
        .where(col("channel") === cfg.channelDataId && col("ts") <= endNs)
        .withColumn("channel", lit(name))
    }
    Analytics.derivedChannel(scan(nameA).unionByName(scan(nameB)),
      s"calc:$op($nameA,$nameB)", nameA, nameB, f, startNs, endNs, stepNs)
  }

  /** Config-governed TYPED serving — the full 21-type JSON v1 wire
    * from a typed-union store: resolve the current name to its id,
    * refuse unknown/disabled channels, pick the decimation level for
    * `count` through the same [[ResolutionPlanner]] rule as the scalar
    * path (restricted to config-declared levels), then serve that one
    * level boundary-widened via [[ArchiveServer.serveJsonTyped]]. The
    * typed path serves ONE level (no retention-fallback union —
    * decimated typed levels carry the full value union, so falling
    * back is a planner choice, not a format change).
    */
  def serveJsonTyped(spark: SparkSession, configPath: String,
                     storePath: String, name: String,
                     startNs: Long, endNs: Long, count: Option[Long],
                     backend: StoreBackend = ManifestBackend,
                     refuseDisabled: Boolean = false): Iterator[String] =
    serveJsonTyped(spark, snapshot(spark, configPath, storePath, backend),
      name, startNs, endNs, count, refuseDisabled)

  /** [[serveJsonTyped]] through one request's [[Snapshot]]. */
  private[archive] def serveJsonTyped(spark: SparkSession, snap: Snapshot,
                                      name: String, startNs: Long,
                                      endNs: Long, count: Option[Long],
                                      refuseDisabled: Boolean)
      : Iterator[String] =
    // raw-level typed serves answer from driver-side direct reads
    // (DirectServeTyped — zero Spark jobs); decimated-level plans and
    // out-of-envelope stores run the engine. Byte-identity gated by
    // DirectServeTypedSpec.
    DirectServeTyped.tryServe(spark, snap, name, startNs, endNs, count,
        refuseDisabled)
      .getOrElse(serveJsonTypedSpark(spark, snap.configPath, snap.storePath,
        name, startNs, endNs, count, snap.backend, refuseDisabled))

  /** The DataFrame typed serve — [[serveJsonTyped]] without the
    * direct-read dispatch; the fallback and the parity oracle.
    */
  private[graft] def serveJsonTypedSpark(spark: SparkSession,
                     configPath: String,
                     storePath: String, name: String,
                     startNs: Long, endNs: Long, count: Option[Long],
                     backend: StoreBackend = ManifestBackend,
                     refuseDisabled: Boolean = false): Iterator[String] = {
    val cfg = resolveServable(spark, configPath, name, refuseDisabled)
    val states = ArchiveServer.levelStates(spark, storePath,
        cfg.channelDataId, backend)
      .filter(s => (cfg.levels.keySet + 0L).contains(s.periodSec))
    if (states.isEmpty) return Iterator.empty
    val level = ResolutionPlanner.selectLevel(states.map(_.periodSec),
      startNs, endNs, count)
    ArchiveServer.serveJsonTyped(spark, storePath, cfg.channelDataId,
      startNs, endNs, level, backend)
  }

  private[archive] def resolveServable(spark: SparkSession,
                                       configPath: String, name: String,
                                       refuseDisabled: Boolean): ChannelConfig =
    resolveServable(ConfigCommands.state(spark, configPath), name,
      refuseDisabled)

  private[archive] def resolveServable(config: ConfigCommands.ConfigState,
                                       name: String,
                                       refuseDisabled: Boolean): ChannelConfig = {
    val cfg = config.config(name)
      .getOrElse(throw new NoSuchChannelException(name))
    if (refuseDisabled && !cfg.enabled)
      throw new ChannelDisabledException(name)
    cfg
  }
}
