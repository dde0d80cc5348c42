package graft.archive

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The serving edge — the reference's archive-access read path
  * (SURVEY.md §3.1, Api10Controller + ArchiveAccessServiceImpl)
  * as one function over a pluggable [[StoreBackend]] (directory-listing
  * [[ArchiveStore]] by default, manifest-committed [[ManifestStore]]
  * via [[ManifestBackend]]):
  *
  *  1. discover the channel's available decimation levels and each
  *     level's earliest sample (the retention state) from store
  *     metadata — cheap aggregates over pruned reads;
  *  2. pick the level matching the requested count
  *     ([[ResolutionPlanner.selectLevel]]);
  *  3. fall back to coarser levels for time the chosen level no longer
  *     retains ([[ResolutionPlanner.fallbackSegments]]);
  *  4. per segment: widened-boundary range read (AT_OR_BEFORE lower /
  *     AT_OR_AFTER upper on the finest segment only, like the
  *     reference);
  *  5. serialize to the JSON v1 wire format, streamed via
  *     `toLocalIterator` — the driver never materializes the result.
  */
/** The serving stack's "configured channel with no stored data" signal
  * — a SUBTYPE of the generic require failure so an HTTP edge can map
  * exactly this case to the reference's empty-array response while any
  * other IllegalArgumentException (planner misconfig, bad bounds)
  * still surfaces as a 500 instead of silently serving empty data.
  */
class NoStoredDataException(channel: String)
  extends IllegalArgumentException(s"no stored data for channel $channel")

object ArchiveServer {

  case class LevelState(periodSec: Long, earliestTs: Long, latestTs: Long)

  /** Step 1 — per-level availability for one channel, as ONE grouped
    * aggregate over the union of the (channel-pruned, ts-only) level
    * reads — a single Spark job, not one `agg(min)` action per level.
    * Levels are few (≤5) so the serial loop was latency, not
    * correctness, but under per-request serving load the per-level
    * job-submission round trips dominate the aggregate itself; the
    * union keeps every read's pruning and collects once. A level with
    * no rows for the channel simply has no group, matching the old
    * flatMap-None contract.
    */
  def levelStates(spark: SparkSession, storePath: String,
                  channel: String,
                  backend: StoreBackend = ArchiveBackend): Seq[LevelState] =
    backend.metaVersion(spark, storePath) match {
      case Some(v) =>
        // memoized per (store, manifest version, channel): under
        // per-request serving load this job is pure repeated work as
        // long as nothing committed — and any commit/compaction/
        // retention bumps the version, so the memo can never serve
        // stale availability. The version check itself is a
        // driver-side probe of the manifest log head, no Spark job.
        // the backend is part of the key: two StoreBackend
        // implementations defining metaVersion over the same path must
        // not cross-serve each other's cached level states
        val key = (backend, storePath, v, channel)
        val hit = levelStatesMemo.get(key)
        if (hit != null) hit
        else {
          val computed = computeLevelStates(spark, storePath, channel, backend)
          if (levelStatesMemo.size > 4096) levelStatesMemo.clear()
          levelStatesMemo.put(key, computed)
          computed
        }
      case None => computeLevelStates(spark, storePath, channel, backend)
    }

  private val levelStatesMemo = new java.util.concurrent.ConcurrentHashMap[
    (StoreBackend, String, Long, String), Seq[LevelState]]()

  // purge on store-recreate (version regression): see
  // VersionLog.onRegression
  ManifestStore.log.onRegression { path =>
    levelStatesMemo.keySet.removeIf(_._2 == path)
  }

  private def computeLevelStates(spark: SparkSession, storePath: String,
                                 channel: String,
                                 backend: StoreBackend): Seq[LevelState] = {
    val levels = backend.levels(spark, storePath).sorted
    if (levels.isEmpty) return Seq.empty
    levels.map { l =>
        backend.read(spark, storePath, l, channel = Some(channel))
          .where(col("channel") === channel)
          .select(lit(l).as("level_sec"), col("ts"))
      }
      .reduce(_ unionByName _)
      // min AND max in the one aggregate: latestTs lets the serving
      // plan skip boundary probes that provably cannot find a sample
      // (request upper bound past the channel's last sample, or lower
      // bound before its first) without any extra job
      .groupBy("level_sec").agg(min("ts").as("first_ts"),
        max("ts").as("last_ts"))
      .collect()
      .map(r => LevelState(r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_.periodSec).toSeq
  }

  /** One day in nanoseconds — the store's partition granularity. */
  private val DayNs: Long = 86400L * graft.core.Samples.NS

  /** Bounded boundary lookup — the Spark analog of the reference's
    * bucket-by-bucket walk-back (ArchiveAccessServiceImpl.java:239-316).
    * Finding "the last sample ≤ t" must not scan the channel's full
    * history: probe geometrically widening windows behind (ahead of,
    * when `forward`) `t`, each a day-partition-pruned store read, until
    * one contains a sample. The geometric sum bounds the partitions
    * listed across all probes at ~2× the distance to the boundary
    * sample; the common recent-boundary case is a single one-day probe.
    * Returns the single boundary row per the reference's AT_OR_BEFORE /
    * AT_OR_AFTER contract (bound-inclusive), or None past
    * `maxSpanNs`.
    */
  def boundaryProbe(spark: SparkSession, storePath: String, levelSec: Long,
                    channel: String, tNs: Long, forward: Boolean,
                    maxSpanNs: Long = 3650L * 86400L * 1000000000L,
                    backend: StoreBackend = ArchiveBackend)
      : Option[DataFrame] = {
    var span = DayNs
    while (span <= maxSpanNs) {
      val (lo, hi) =
        if (forward) (tNs, tNs + span) else (math.max(tNs - span, 0L), tNs)
      val base = backend.read(spark, storePath, levelSec,
          Some(lo), Some(hi), Some(channel))
        .where(col("channel") === channel)
      // duplicate-timestamp tiebreak at the boundary: first arrival
      // (min sample_id) — the querySamples survivor rule
      val ord =
        Seq(if (forward) col("ts").asc else col("ts").desc) ++
          (if (base.columns.contains("sample_id"))
            Seq(col("sample_id").asc) else Nil)
      val probe = base.orderBy(ord: _*).limit(1)
      // the probe's job already fetched the boundary ROW — return it
      // as a LocalRelation so the final serving job unions a literal
      // instead of RE-EXECUTING the probe scan (one fewer store read
      // per widened bound in the request's one materializing job)
      val got = probe.head(1)
      if (got.nonEmpty)
        return Some(spark.createDataFrame(
          java.util.Arrays.asList(got(0)), probe.schema))
      if (!forward && lo == 0) return None // walked past the epoch
      span *= 2
    }
    None
  }

  /** Steps 2–4 — the planned, unioned sample frame (channel, ts,
    * value, level), time-ascending. `allowedLevels` restricts the
    * planner to the CONFIG-declared level set ([[ConfiguredArchive]]):
    * levels present in the store but no longer configured (a config
    * update that dropped one) stop being served immediately, like the
    * reference's config-driven level DAG.
    *
    * `loMode`/`hiMode` expose the reference's per-request boundary
    * matrix at the serving edge (ArchiveAccessService.java:55-135:
    * every getSamples call carries a TimeStampLimitMode per bound;
    * Api10Controller passes AT_OR_BEFORE/AT_OR_AFTER on both its raw
    * and decimated paths). `None` keeps this server's historical
    * default — widened bounds iff `count` is empty — so existing
    * callers and gates are unchanged; `Some(mode)` forces that bound's
    * handling regardless of `count`.
    */
  def querySamples(spark: SparkSession, storePath: String, channel: String,
                   startNs: Long, endNs: Long, count: Option[Long],
                   backend: StoreBackend = ArchiveBackend,
                   allowedLevels: Option[Set[Long]] = None,
                   loMode: Option[ArchiveReader.LimitMode] = None,
                   hiMode: Option[ArchiveReader.LimitMode] = None): DataFrame = {
    import ArchiveReader.{AtOrWidened, Exact}
    val states = levelStates(spark, storePath, channel, backend)
      .filter(s => allowedLevels.forall(_.contains(s.periodSec)))
    if (states.isEmpty) throw new NoStoredDataException(channel)
    val chosen = ResolutionPlanner.selectLevel(
      states.map(_.periodSec), startNs, endNs, count)
    val segments0 = ResolutionPlanner.fallbackSegments(chosen,
      states.map(s => s.periodSec -> s.earliestTs).toMap,
      states.map(_.periodSec).filter(_ > chosen), startNs, endNs)
    // a request entirely before the channel's first sample plans to
    // ZERO segments (no level's earliest is <= end) — serve the empty
    // range at the chosen level instead of crashing on an empty union,
    // so a widened upper bound still returns its at-or-after boundary
    // sample, like the reference's AT_OR_AFTER contract
    val segments =
      if (segments0.isEmpty) Seq((chosen, startNs, endNs)) else segments0
    val defaultMode = if (count.isEmpty) AtOrWidened else Exact
    // the request's lower-bound mode applies to whichever segment
    // actually holds the request's lower edge: with retention fallback
    // in play that is the EARLIEST (coarsest) segment, not the chosen
    // level — the reference passes AT_OR_BEFORE on the bounds of its
    // fallback reads too (Api10Controller.java:466-480), so the
    // at-or-before-start boundary sample survives a multi-level serve.
    // Interior segment joints stay exact (widening them would re-serve
    // the adjacent segment's rows).
    val earliestFrom = segments.map(_._2).min
    // the upper-bound mode belongs to the FINEST segment actually
    // planned — normally the chosen level, but a request entirely
    // before the chosen level's earliest sample plans coarser-only
    // segments, and keying on `chosen` dropped the widened
    // at-or-after boundary there (found by DirectParityFuzzSpec)
    val finestPlanned = segments.map(_._1).min
    val parts = segments.flatMap { case (period, from, to) =>
      // upper-bound widening only on the finest (most recent) segment —
      // the coarser prepended history ends at an interior joint
      // (reference: Api10Controller range-splits with
      // end = earliestSeen − 1). The widened boundaries come from the
      // walk-back probe, so every read stays day-partition-clipped —
      // no unclipped history scan.
      val effLo = if (from == earliestFrom) loMode.getOrElse(defaultMode)
                  else Exact
      val effHi = if (period == finestPlanned) hiMode.getOrElse(defaultMode)
                  else Exact
      val base = backend.read(spark, storePath, period,
          Some(from), Some(to), Some(channel))
        .where(col("channel") === channel)
      val valueCol = if (period == 0L) col("value") else col("mean")
      // arrival id for the duplicate-timestamp survivor rule (below);
      // decimated levels have unique window starts, so a constant is
      // fine there
      val sidCol =
        if (base.columns.contains("sample_id")) col("sample_id")
        else lit(0L)
      val project = (df: DataFrame) => df.select(col("channel"), col("ts"),
        valueCol.as("value"), lit(period).as("level"), sidCol.as("_sid"))
      if (effLo == Exact && effHi == Exact)
        Seq(project(base.where(col("ts").between(from, to))))
      else {
        // per-bound: an Exact bound keeps its inclusive range edge; a
        // widened bound excludes the edge from the inner scan (the
        // walk-back probe serves it — a sample exactly at the bound IS
        // its own boundary sample, getSamples' 0/1/2 matrix)
        val inner = base.where(
          (if (effLo == Exact) col("ts") >= from else col("ts") > from) &&
            (if (effHi == Exact) col("ts") <= to else col("ts") < to))
        // the two walk-back probes are independent chains of small
        // eager actions — run them CONCURRENTLY (Spark's scheduler is
        // thread-safe), so a request pays max(lower, upper) probe
        // latency instead of their sum. The memoized level metadata
        // prunes them further: a probe whose boundary provably does
        // not exist (request bound outside [earliest, latest]) is
        // skipped with NO job, and an existing boundary clamps the
        // geometric walk's span to ~2× its actual distance.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val st = states.find(_.periodSec == period)
        val lowerF =
          if (effLo == AtOrWidened && st.exists(_.earliestTs <= from))
            Future(boundaryProbe(spark, storePath, period, channel, from,
              forward = false,
              maxSpanNs = 2L * (from - st.get.earliestTs + DayNs),
              backend = backend))
          else Future.successful(None)
        val upperF =
          if (effHi == AtOrWidened && st.exists(_.latestTs >= to))
            Future(boundaryProbe(spark, storePath, period, channel, to,
              forward = true,
              maxSpanNs = 2L * (st.get.latestTs - to + DayNs),
              backend = backend))
          else Future.successful(None)
        val lower = Await.result(lowerF, Duration.Inf)
        val upper = Await.result(upperF, Duration.Inf)
        (Seq(inner) ++ lower ++ upper).map(project)
      }
    }
    parts.reduce(_ unionByName _)
      // a sample exactly at a bound satisfies both its boundary probe
      // and the inner range of an adjacent segment; and a re-sent
      // timestamp from a LATER commit can coexist with the original in
      // the raw level (per-batch write dedup cannot see across
      // commits). Survivor rule: FIRST ARRIVAL (minimum sample_id) —
      // the same F6 discipline the decimation cascade applies, and the
      // reference's ingest rule (ArchivingService drops time <=
      // lastSampleTime, so the first arrival is THE sample). A plain
      // dropDuplicates here picked an arbitrary survivor — found by
      // DirectParityFuzzSpec as a direct-vs-engine byte divergence.
      // min over (sid, value) structs = the min-sid row, null value
      // preserved (struct ordering is by the leading field)
      .groupBy("channel", "ts", "level")
      .agg(min(struct(col("_sid"), col("value"))).as("_sv"))
      .select(col("channel"), col("ts"), col("_sv.value").as("value"),
        col("level"))
      .orderBy("ts")
  }

  /** Step 5 — the full request: plan, read, serialize; an iterator of
    * JSON v1 objects (what an HTTP layer would stream).
    */
  def serveJson(spark: SparkSession, storePath: String, channel: String,
                startNs: Long, endNs: Long, count: Option[Long],
                backend: StoreBackend = ArchiveBackend,
                loMode: Option[ArchiveReader.LimitMode] = None,
                hiMode: Option[ArchiveReader.LimitMode] = None): Iterator[String] = {
    val df = querySamples(spark, storePath, channel, startNs, endNs, count,
      backend, loMode = loMode, hiMode = hiMode)
      .withColumn("severity", lit(0)).withColumn("status", lit(0))
    serializedIterator(JsonV1.serializeRaw(df), count)
  }

  /** The serving action, latency-shaped: a count-driven request is
    * resolution-planned to ~count rows, so ONE collect job beats
    * `toLocalIterator`'s job-per-partition chatter (a globally sorted
    * result has many range partitions — each was a scheduling round
    * trip). An unbounded request still streams, but through a
    * coalesce(1) so the whole serve is a single job; partition order
    * is the sort order, so the stream stays time-ascending.
    */
  private[archive] def serializedIterator(serialized: DataFrame,
                                          count: Option[Long]): Iterator[String] =
    if (count.isDefined)
      serialized.select("json").collect().iterator.map(_.getString(0))
    else
      serialized.select("json").coalesce(1).toLocalIterator()
        .asScala.map(_.getString(0))

  /** Typed serving: a raw-level store holding the full 21-type value
    * union serves the complete JSON v1 wire format — enum channels get
    * their labels, arrays their elements, aggregated samples
    * minMaxDouble with metadata, markers their marker strings. Range
    * read + walk-back boundary, then [[JsonV1.serializeTyped]];
    * streamed via `toLocalIterator` like the scalar path.
    */
  def serveJsonTyped(spark: SparkSession, storePath: String,
                     channel: String, startNs: Long, endNs: Long,
                     levelSec: Long = 0L,
                     backend: StoreBackend = ArchiveBackend): Iterator[String] = {
    val base = backend.read(spark, storePath, levelSec,
        Some(startNs), Some(endNs), Some(channel))
      .where(col("channel") === channel)
    val inner = base.where(col("ts") > startNs && col("ts") < endNs)
    val lower = boundaryProbe(spark, storePath, levelSec, channel,
      startNs, forward = false, backend = backend)
    val upper = boundaryProbe(spark, storePath, levelSec, channel,
      endNs, forward = true, backend = backend)
    val unioned = (Seq(inner) ++ lower ++ upper).reduce(_ unionByName _)
    // duplicate-timestamp survivor: first arrival (min sample_id), the
    // querySamples rule — dropDuplicates picked an arbitrary row when a
    // later commit re-sent a timestamp with different content
    val widened = (if (unioned.columns.contains("sample_id")) {
      val w = Window.partitionBy("channel", "ts")
        .orderBy(col("sample_id").asc)
      unioned.withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1).drop("_rn")
    } else unioned.dropDuplicates("channel", "ts"))
      .orderBy("ts")
    // decimated levels store the typed union too (the typed cascade,
    // Cascade.materializeTyped) but in decimation-output shape:
    // convert to sample shape (aggregated windows → aggregated_*
    // samples, pick-first windows → their payload) and serve as
    // quality "Interpolated" per the reference's decimated contract
    val samples =
      if (levelSec == 0L) widened
      else TypedDecimation.asTypedSamples(
        widened.withColumnRenamed("ts", "win_start"))
    serializedIterator(
      JsonV1.serializeTyped(samples, original = levelSec == 0L), None)
  }
}
