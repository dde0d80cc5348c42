package graft.archive

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pluggable persistence for the decimation cascade: the
  * directory-listing [[ArchiveStore]] and the transaction-logged
  * [[ManifestStore]] expose one (write, read, levels) surface, so
  * [[Cascade]] and its incremental catch-up are storage-agnostic — a
  * deployment can switch to manifest-committed levels (atomic
  * visibility per cascade hop, manifest-side file pruning) without
  * touching the decimation math.
  */
trait StoreBackend {
  def write(samples: DataFrame, path: String, levelSec: Long): Unit
  /** `channel` is a pruning HINT: a backend may use it to skip whole
    * files that cannot contain the channel (manifest clustering-key
    * ranges), but rows of other channels may still come back — callers
    * filter, exactly as without the hint.
    */
  def read(spark: SparkSession, path: String, levelSec: Long,
           loNs: Option[Long] = None, hiNs: Option[Long] = None,
           channel: Option[String] = None): DataFrame
  /** Distinct decimation levels present (period seconds; 0 = raw). */
  def levels(spark: SparkSession, path: String): Seq[Long]
  /** Token-deduplicated write for re-runnable jobs (the calc
    * channels' catch-up, [[Maintenance.migrateStore]]): a backend with
    * transactional metadata skips the write when `token` equals the
    * last applied one for `writerId`, so a re-run after a crash writes
    * nothing twice; the plain store has nowhere to record tokens and
    * just writes (at-least-once).
    */
  def writeTxn(samples: DataFrame, path: String, levelSec: Long,
               writerId: String, token: Long): Unit =
    write(samples, path, levelSec)
  /** The manifest store where this backend commits decimated levels
    * together with their frontiers ([[ManifestStore.commitLevel]]) —
    * what the cascade's catch-up resumes from. None for the plain
    * store: it has no log to commit a frontier into, so it supports
    * only the one-shot [[Cascade.materialize]].
    */
  def levelStore(path: String): Option[String] = None
  /** ST9 — drop expired day buckets of one level (end-of-bucket older
    * than latest − retention; 0 = keep forever). Returns dropped paths.
    */
  def applyRetention(spark: SparkSession, path: String, levelSec: Long,
                     retentionNs: Long): Seq[String]
  /** A cheap, MONOTONIC metadata version for memoizing per-store
    * planning state (serving caches level availability per version):
    * defined only when the backend can answer from metadata alone —
    * the manifest store's version counter, bumped by every
    * commit/compaction/retention. `None` = not cheaply versioned, do
    * not memoize (the raw-parquet store has no transactional counter;
    * directory mtimes are not reliable across filesystems).
    */
  def metaVersion(spark: SparkSession, path: String): Option[Long] = None
}

/** Raw-parquet store: levels come from one driver-side listing of the
  * `level=` partition directories — the values are encoded in the first
  * path component, so a full mergeSchema scan (every footer in the
  * store) just to learn ~5 longs would be pure waste at scale.
  */
object ArchiveBackend extends StoreBackend {
  def write(samples: DataFrame, path: String, levelSec: Long): Unit =
    ArchiveStore.write(samples, path, levelSec)
  def read(spark: SparkSession, path: String, levelSec: Long,
           loNs: Option[Long], hiNs: Option[Long],
           channel: Option[String]): DataFrame =
    // no per-file channel stats in the raw layout — parquet row-group
    // stats on the sorted channel column do the in-file skipping
    ArchiveStore.read(spark, path, levelSec, loNs, hiNs)
  def levels(spark: SparkSession, path: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.listStatus(p).map(_.getPath.getName).toSeq
      .filter(_.startsWith("level="))
      .flatMap(_.stripPrefix("level=").toLongOption)
      .sorted
  }
  def applyRetention(spark: SparkSession, path: String, levelSec: Long,
                     retentionNs: Long): Seq[String] =
    ArchiveStore.applyRetention(spark, path, levelSec, retentionNs)
}

/** Zero-downtime MIGRATION serving: one read surface over a FROZEN
  * old store plus a live store, split at `cutoverNs` — the "we moved
  * the archiver but ten years of history still live in the old
  * cluster" shape. Reads union the old store clipped to
  * `ts < cutoverNs` with the live store clipped to `ts >= cutoverNs`
  * (each side keeps its own pruning: bound hints are tightened to the
  * cutover before they reach the underlying backend, so neither store
  * scans the other's half); a read entirely on one side never touches
  * the other store at all. Writes (plain, token-deduplicated, and
  * level commits with their frontiers) go to the LIVE store only — the
  * old store is read-only by contract.
  *
  * The `path` argument of every call is the LIVE store; the old store
  * is bound at construction. `metaVersion` combines both counters
  * (old << 32 | live — monotonic because manifest versions only
  * grow), so serving caches stay correct even if someone violates the
  * frozen-old contract: a compaction on the old store bumps the
  * combined version and invalidates memoized plans, rather than
  * serving stale state.
  */
final class FederatedBackend(val oldBackend: StoreBackend,
                             val oldPath: String,
                             val cutoverNs: Long,
                             val liveBackend: StoreBackend = ManifestBackend)
    extends StoreBackend {

  def write(samples: DataFrame, path: String, levelSec: Long): Unit =
    liveBackend.write(samples, path, levelSec)

  override def writeTxn(samples: DataFrame, path: String, levelSec: Long,
                        writerId: String, token: Long): Unit =
    liveBackend.writeTxn(samples, path, levelSec, writerId, token)

  /** Decimated levels and their frontiers live in the live store. */
  override def levelStore(path: String): Option[String] =
    liveBackend.levelStore(path)

  /** Per-side level listings memoized on each side's metaVersion —
    * every read needs both sets for routing, and re-listing manifests
    * per request would put a metadata pass on the serving hot path.
    * An unversioned backend is re-listed each time (no safe key).
    */
  private val levelsMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), Seq[Long]]()

  private def levelsOf(spark: SparkSession, b: StoreBackend,
                       p: String): Seq[Long] =
    b.metaVersion(spark, p) match {
      case Some(v) =>
        levelsMemo.computeIfAbsent((p, v), _ => {
          if (levelsMemo.size > 1024) levelsMemo.clear()
          b.levels(spark, p)
        })
      case None => b.levels(spark, p)
    }

  def read(spark: SparkSession, path: String, levelSec: Long,
           loNs: Option[Long], hiNs: Option[Long],
           channel: Option[String]): DataFrame = {
    // a level present on only ONE side is served whole from that side,
    // UNCLIPPED: the cutover splits the raw history, but a derived
    // (decimated) level built after the split lives only in the live
    // store and covers ALL time — clipping it would drop every
    // pre-cutover window. (Routing consults memoized level METADATA of
    // both sides; the data read itself stays one-sided.)
    val oldHas = levelsOf(spark, oldBackend, oldPath).contains(levelSec)
    val liveHas = levelsOf(spark, liveBackend, path).contains(levelSec)
    if (oldHas && !liveHas)
      return oldBackend.read(spark, oldPath, levelSec, loNs, hiNs, channel)
    if (liveHas && !oldHas)
      return liveBackend.read(spark, path, levelSec, loNs, hiNs, channel)
    // both sides hold the level: the split applies. Inclusive-bound
    // hints, as everywhere in the read surface (F1).
    val wantOld = loNs.forall(_ < cutoverNs)
    val wantLive = hiNs.forall(_ >= cutoverNs)
    val oldSide =
      if (wantOld)
        Some(oldBackend.read(spark, oldPath, levelSec, loNs,
            Some(hiNs.fold(cutoverNs - 1)(math.min(_, cutoverNs - 1))),
            channel)
          .where(col("ts") < cutoverNs))
      else None
    val liveSide =
      if (wantLive)
        Some(liveBackend.read(spark, path, levelSec,
            Some(loNs.fold(cutoverNs)(math.max(_, cutoverNs))), hiNs,
            channel)
          .where(col("ts") >= cutoverNs))
      else None
    (oldSide, liveSide) match {
      // a live store that has grown decimated levels serves raw rows
      // with null agg columns (its read schema is the union across its
      // levels) — the old store, frozen before those levels existed,
      // null-fills the SAME way a single store would. But ONLY the
      // known decimation columns may differ: any other schema gap is a
      // misconfiguration (e.g. federating a scalar old store under a
      // typed live store) that must fail loudly, not null-fill into
      // silently wrong wire records.
      case (Some(a), Some(b)) =>
        val extra = (b.columns.toSet -- a.columns.toSet) ++
          (a.columns.toSet -- b.columns.toSet)
        val fillable = Set("mean", "std", "min_value", "max_value",
          "covered_fraction", "n_samples", "level", "bucket_date")
        require(extra.subsetOf(fillable),
          s"federated stores have incompatible schemas — columns " +
            s"${(extra -- fillable).toSeq.sorted.mkString(", ")} exist " +
            "on only one side and are not null-fillable decimation " +
            "columns")
        a.unionByName(b, allowMissingColumns = true)
      case (Some(a), None)    => a
      case (None, Some(b))    => b
      case (None, None)       =>
        // lo > hi: an empty request — serve the live side's empty clip
        liveBackend.read(spark, path, levelSec, loNs, hiNs, channel)
          .where(lit(false))
    }
  }

  def levels(spark: SparkSession, path: String): Seq[Long] =
    (oldBackend.levels(spark, oldPath) ++ liveBackend.levels(spark, path))
      .distinct.sorted

  /** Retention runs on the LIVE store only: the old store is
    * read-only by contract (mutating it would also break
    * [[Maintenance.migrateStore]]'s crash-safety token), and its own
    * latest ts is pinned at the cutover forever, so a
    * latest-minus-retention horizon computed over it would never
    * advance with wall time anyway. Expiring old history is the
    * migration/decommission workflow's job, not routine upkeep's.
    */
  def applyRetention(spark: SparkSession, path: String, levelSec: Long,
                     retentionNs: Long): Seq[String] =
    liveBackend.applyRetention(spark, path, levelSec, retentionNs)

  override def metaVersion(spark: SparkSession, path: String): Option[Long] =
    for {
      o <- oldBackend.metaVersion(spark, oldPath)
      l <- liveBackend.metaVersion(spark, path)
    } yield (o << 32) | (l & 0xffffffffL)
}

/** Manifest-committed store: every cascade hop is one atomic commit,
  * and the level listing is pure manifest metadata — no file I/O.
  */
object ManifestBackend extends StoreBackend {
  def write(samples: DataFrame, path: String, levelSec: Long): Unit = {
    ManifestStore.commit(samples, path, levelSec); ()
  }
  def read(spark: SparkSession, path: String, levelSec: Long,
           loNs: Option[Long], hiNs: Option[Long],
           channel: Option[String]): DataFrame =
    ManifestStore.read(spark, path, levelSec, loNs, hiNs, channel)
  def levels(spark: SparkSession, path: String): Seq[Long] =
    ManifestStore.latestManifest(spark, path)
      .map(_.files.map(_.levelSec).distinct.sorted)
      .getOrElse(Nil)
  override def writeTxn(samples: DataFrame, path: String, levelSec: Long,
                        writerId: String, token: Long): Unit = {
    ManifestStore.commitIfChanged(samples, path, levelSec, writerId, token)
    ()
  }
  override def levelStore(path: String): Option[String] = Some(path)
  def applyRetention(spark: SparkSession, path: String, levelSec: Long,
                     retentionNs: Long): Seq[String] =
    ManifestStore.applyRetention(spark, path, levelSec, retentionNs)
  override def metaVersion(spark: SparkSession, path: String): Option[Long] =
    ManifestStore.latestVersion(spark, path)
}
