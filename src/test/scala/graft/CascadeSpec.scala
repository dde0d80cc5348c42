package graft

import java.nio.file.Files

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.archive.{ArchiveStore, Cascade, Decimation, ManifestBackend,
  ManifestStore, StoreBackend}
import graft.core.Samples

/** A8 — the multi-hop cascade must agree with direct decimation on
  * every complete window (merge law through the store round-trip).
  */
class CascadeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("cascade raw→30s→300s→3600s equals direct decimation on complete windows") {
    val raw = Samples.fromEvents(spark, "/root/testdata/sf0.001")
    val store = Files.createTempDirectory("cascade").toString
    Cascade.materialize(spark, store, raw, Seq(30L, 300L, 3600L))

    // every level materialized
    for (l <- Seq(0L, 30L, 300L, 3600L))
      assert(ArchiveStore.read(spark, store, l).count() > 0, s"level $l empty")

    val cascaded = ArchiveStore.read(spark, store, 3600)
      .select("channel", "ts", "mean").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    val direct = Decimation.decimate(
        Samples.monotonicDedup(raw), 3600L * Samples.NS)
      .select("channel", "win_start", "mean").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap

    val common = cascaded.keySet.intersect(direct.keySet)
    assert(common.size > direct.size * 8 / 10, "too few common windows")
    var checked = 0
    for (k <- common) {
      val (c, d) = (cascaded(k), direct(k))
      if (!c.isNaN && !d.isNaN) {
        assert(math.abs(c - d) < 1e-6, s"mean at $k: $c vs $d")
        checked += 1
      }
    }
    assert(checked > 100)
  }

  test("typed cascade materializes all levels and agrees with direct typed decimation") {
    val typed = graft.core.TypedSamples.fromEvents(spark, "/root/testdata/sf0.001")
    val store = Files.createTempDirectory("tcascade").toString
    Cascade.materializeTyped(spark, store, typed, Seq(3600L, 21600L))

    for (l <- Seq(0L, 3600L, 21600L))
      assert(ArchiveStore.read(spark, store, l).count() > 0, s"level $l empty")

    // the full union survives the cascade: enum/string/array windows
    // present at the fine level alongside aggregated ones
    val fineTags = ArchiveStore.read(spark, store, 3600L)
      .select("vtype").distinct().collect().map(_.getString(0)).toSet
    assert(fineTags.exists(_.startsWith("aggregated_")), s"$fineTags")
    assert(fineTags.contains("scalar_enum") || fineTags.contains("scalar_string"),
      s"$fineTags")

    // merge-law equality holds on HOMOGENEOUS input (mixed windows
    // legitimately differ: the cascade dispatches per fine window like
    // the reference's per-level decimators, while a direct coarse pass
    // dispatches over raw slices)
    val homog = typed.where(org.apache.spark.sql.functions.col("vtype")
      .isin("scalar_double", "disconnected", "disabled"))
    val store2 = Files.createTempDirectory("tcascadeh").toString
    Cascade.materializeTyped(spark, store2, homog, Seq(3600L, 21600L))
    val cascaded = ArchiveStore.read(spark, store2, 21600L)
      .where(org.apache.spark.sql.functions.col("vtype")
        .startsWith("aggregated_"))
      .select("channel", "ts", "vtype", "mean").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getString(2), r.getDouble(3))).toMap
    val direct = graft.archive.TypedDecimation
      .decimate(homog, 21600L * Samples.NS)
      .where(org.apache.spark.sql.functions.col("vtype")
        .startsWith("aggregated_"))
      .select("channel", "win_start", "vtype", "mean").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getString(2), r.getDouble(3))).toMap
    val common = cascaded.keySet.intersect(direct.keySet)
    assert(common.size > direct.size / 2, s"${common.size} of ${direct.size}")
    var checked = 0
    for (k <- common if cascaded(k)._1 == direct(k)._1) {
      assert(math.abs(cascaded(k)._2 - direct(k)._2) < 1e-6,
        s"mean at $k: ${cascaded(k)} vs ${direct(k)}")
      checked += 1
    }
    assert(checked > 20, s"only $checked windows compared")
  }

  test("typed cascade and typed JSON serving agree across both backends") {
    import graft.archive.ArchiveServer
    val typed = graft.core.TypedSamples.fromEvents(spark, "/root/testdata/sf0.001")
    val a = Files.createTempDirectory("tcas_a").toString
    val m = Files.createTempDirectory("tcas_m").toString
    Cascade.materializeTyped(spark, a, typed, Seq(3600L))
    Cascade.materializeTyped(spark, m, typed, Seq(3600L), ManifestBackend)

    for (l <- Seq(0L, 3600L)) {
      def dump(df: org.apache.spark.sql.DataFrame) =
        df.select("channel", "ts", "vtype").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      assert(dump(ManifestStore.read(spark, m, l)) ==
        dump(ArchiveStore.read(spark, a, l)), s"level $l differs")
    }

    // the typed JSON wire output is byte-identical from either store
    val chan = ManifestStore.read(spark, m, 0)
      .select("channel").head.getString(0)
    val (lo, hi) = {
      val r = ManifestStore.read(spark, m, 0)
        .where(org.apache.spark.sql.functions.col("channel") === chan)
        .agg(org.apache.spark.sql.functions.min("ts"),
          org.apache.spark.sql.functions.max("ts")).head
      (r.getLong(0) + 1, r.getLong(1))
    }
    val viaM = ArchiveServer.serveJsonTyped(spark, m, chan, lo, hi,
      backend = ManifestBackend).toSeq
    val viaA = ArchiveServer.serveJsonTyped(spark, a, chan, lo, hi).toSeq
    assert(viaM.nonEmpty && viaM == viaA)
  }

  test("typed incremental catch-up equals a from-scratch typed materialize") {
    import spark.implicits._
    val typed = graft.core.TypedSamples
      .fromEvents(spark, "/root/testdata/sf0.001").cache()
    val cut = typed.agg(org.apache.spark.sql.functions.expr(
      "percentile(ts, 0.6)")).head.getDouble(0).toLong
    val first = typed.where($"ts" <= cut)
    val rest = Samples.monotonicDedup(typed).where($"ts" > cut)

    val inc = Files.createTempDirectory("tcasinc").toString
    Cascade.materializeTyped(spark, inc, first, Seq(3600L), ManifestBackend)
    ManifestStore.commit(rest, inc, 0)
    Cascade.catchUpTyped(spark, inc, 3600L, ManifestBackend)

    val full = Files.createTempDirectory("tcasfull").toString
    Cascade.materializeTyped(spark, full, typed, Seq(3600L))

    def dump(df: DataFrame) = df
      .select("channel", "ts", "vtype", "mean", "n_samples").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getString(2),
          if (r.isNullAt(3)) Long.MinValue else math.round(r.getDouble(3) * 1e9),
          r.getLong(4))).toMap
    val (a, b) = (dump(ManifestStore.read(spark, inc, 3600L)),
      dump(ArchiveStore.read(spark, full, 3600L)))
    assert(a.keySet == b.keySet, s"window sets differ: " +
      s"only-inc=${(a.keySet -- b.keySet).take(3)} " +
      s"only-full=${(b.keySet -- a.keySet).take(3)}")
    for (k <- a.keySet) assert(a(k) == b(k), s"at $k: ${a(k)} vs ${b(k)}")
  }

  test("incremental catch-up equals a from-scratch materialize") {
    import spark.implicits._
    val events = Samples.fromEvents(spark, "/root/testdata/sf0.001")
    val cut = events.agg(org.apache.spark.sql.functions.expr(
      "percentile(ts, 0.6)")).head.getDouble(0).toLong
    // a channel first seen only AFTER the initial build, with history
    // predating every existing watermark — must not be clipped away
    val late = Seq(
      ("latecomer", cut - 40L * 1000000000L, 1.0, "", 0, 0, 900001L),
      ("latecomer", cut + 10L * 1000000000L, 2.0, "", 0, 0, 900002L),
      ("latecomer", cut + 700L * 1000000000L, 3.0, "", 0, 0, 900003L),
      // a channel whose ENTIRE history predates every existing
      // watermark's resume point: absent from the clipped read, it must
      // still be detected as new (and not silently watermarked as done)
      ("ancient", cut - 5000L * 1000000000L, 4.0, "", 0, 0, 900004L),
      ("ancient", cut - 4000L * 1000000000L, 5.0, "", 0, 0, 900005L),
      ("ancient", cut - 3000L * 1000000000L, 6.0, "", 0, 0, 900006L))
      .toDF("channel", "ts", "value", "str_value", "severity", "status",
        "sample_id")
      .withColumn("ts_raw",
        Samples.rawTsFromNs($"ts", events.schema("ts_raw").dataType))
    val raw = events.unionByName(late).cache()
    val first = events.where($"ts" <= cut)
    val rest = Samples.monotonicDedup(raw).where($"ts" > cut ||
      $"channel".isin("latecomer", "ancient"))

    // incremental: build on the first 60%, append the rest, catch up
    val inc = Files.createTempDirectory("casinc").toString
    Cascade.materialize(spark, inc, first, Seq(30L, 300L), ManifestBackend)
    ManifestStore.commit(rest, inc, 0)
    Cascade.catchUp(spark, inc, 30L, ManifestBackend)
    Cascade.catchUp(spark, inc, 300L, ManifestBackend)

    // from scratch on everything
    val full = Files.createTempDirectory("casfull").toString
    Cascade.materialize(spark, full, raw, Seq(30L, 300L))

    for (l <- Seq(30L, 300L)) {
      def dump(df: DataFrame) = df
        .select("channel", "ts", "mean", "covered_fraction", "n_samples")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (math.round(r.getDouble(2) * 1e9),
            math.round(r.getDouble(3) * 1e9), r.getLong(4))).toMap
      val (a, b) = (dump(ManifestStore.read(spark, inc, l)),
        dump(ArchiveStore.read(spark, full, l)))
      assert(a.keySet == b.keySet, s"level $l window sets differ: " +
        s"only-inc=${(a.keySet -- b.keySet).take(3)} " +
        s"only-full=${(b.keySet -- a.keySet).take(3)}")
      for (k <- a.keySet)
        assert(a(k) == b(k), s"level $l at $k: ${a(k)} vs ${b(k)}")
    }
  }

  test("two catch-ups racing from one frontier commit the level exactly once") {
    import spark.implicits._
    val events = Samples.fromEvents(spark, "/root/testdata/sf0.001")
    val cut = events.agg(org.apache.spark.sql.functions.expr(
      "percentile(ts, 0.6)")).head.getDouble(0).toLong
    val store = Files.createTempDirectory("casm_race").toString
    Cascade.materialize(spark, store, events.where($"ts" <= cut),
      Seq(30L), ManifestBackend)
    ManifestStore.commit(
      Samples.monotonicDedup(events).where($"ts" > cut), store, 0)
    val v0 = ManifestStore.latestVersion(spark, store).get

    // the gated run reads the level's frontier, then waits in its first
    // source read until the other run has committed windows and
    // frontier; its own commit, based on the old frontier, is refused
    GatedBackend.race(gateLevel = 0L)(
      g => Cascade.catchUp(spark, store, 30L, g))(
      Cascade.catchUp(spark, store, 30L, ManifestBackend))
    assert(ManifestStore.latestVersion(spark, store).contains(v0 + 1),
      "windows and frontier must land in one version, and only once")

    val keys = ManifestStore.read(spark, store, 30L)
      .select("channel", "ts", "n_samples").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(keys.length == keys.map(k => (k._1, k._2)).distinct.length,
      "duplicate (channel, ts) windows")
    val full = Files.createTempDirectory("casm_race_full").toString
    Cascade.materialize(spark, full, events, Seq(30L))
    assert(keys.toSet == ArchiveStore.read(spark, full, 30L)
      .select("channel", "ts", "n_samples").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("an idle catch-up commits no version, and data after it still lands") {
    import spark.implicits._
    val events = Samples.fromEvents(spark, "/root/testdata/sf0.001")
    val cut = events.agg(org.apache.spark.sql.functions.expr(
      "percentile(ts, 0.6)")).head.getDouble(0).toLong
    val store = Files.createTempDirectory("casm_idle").toString
    Cascade.materialize(spark, store, events.where($"ts" <= cut),
      Seq(30L), ManifestBackend)
    // IDLE catch-up: no new source data, no frontier moves
    val vBuilt = ManifestStore.latestVersion(spark, store)
    Cascade.catchUp(spark, store, 30L, ManifestBackend)
    assert(ManifestStore.latestVersion(spark, store) == vBuilt)
    val nIdle = ManifestStore.read(spark, store, 30L).count()
    // now real data arrives and must be appended
    ManifestStore.commit(
      Samples.monotonicDedup(events).where($"ts" > cut), store, 0)
    Cascade.catchUp(spark, store, 30L, ManifestBackend)
    val after = ManifestStore.read(spark, store, 30L).count()
    assert(after > nIdle, s"catch-up after idle run appended nothing ($after)")
    // and equals a from-scratch build
    val full = Files.createTempDirectory("casm_idle_full").toString
    Cascade.materialize(spark, full, events, Seq(30L))
    assert(after == ArchiveStore.read(spark, full, 30L).count())
  }

  test("a level with data files but no frontier is refused, never re-appended") {
    val events = Samples.fromEvents(spark, "/root/testdata/sf0.001")
    // the level's windows committed as plain files: the layout of a
    // store written before frontiers committed with the level
    val store = Files.createTempDirectory("casm_nofront").toString
    ManifestStore.commit(Samples.monotonicDedup(events), store, 0)
    ManifestStore.commit(Decimation.decimate(Samples.monotonicDedup(events),
        300L * Samples.NS).withColumnRenamed("win_start", "ts"), store, 300L)
    val v = ManifestStore.latestVersion(spark, store)
    for (run <- Seq[() => Unit](
        () => Cascade.catchUp(spark, store, 300L, ManifestBackend),
        () => Cascade.materializeLevel(spark, store, 300L, ManifestBackend))) {
      val e = intercept[IllegalStateException](run())
      assert(e.getMessage.contains("level 300"), e.getMessage)
    }
    assert(ManifestStore.latestVersion(spark, store) == v)
    // and the plain parquet store cannot catch up at all
    val plain = Files.createTempDirectory("cas_plain").toString
    intercept[IllegalArgumentException](Cascade.catchUp(spark, plain, 300L,
      graft.archive.ArchiveBackend))
  }

  test("cascade over the manifest backend equals the archive backend, incl. catch-up") {
    import spark.implicits._
    val events = Samples.fromEvents(spark, "/root/testdata/sf0.001")
    val cut = events.agg(org.apache.spark.sql.functions.expr(
      "percentile(ts, 0.6)")).head.getDouble(0).toLong
    val first = events.where($"ts" <= cut)
    val rest = Samples.monotonicDedup(events).where($"ts" > cut)

    // manifest-backed incremental: build on 60%, append, catch up —
    // every hop is one atomic manifest version
    val inc = Files.createTempDirectory("casminc").toString
    Cascade.materialize(spark, inc, first, Seq(30L, 300L), ManifestBackend)
    val vAfterBuild = ManifestStore.latestManifest(spark, inc).get.version
    assert(vAfterBuild == 3L) // raw + two levels, one commit each
    ManifestStore.commit(rest, inc, 0)
    Cascade.catchUp(spark, inc, 30L, ManifestBackend)
    Cascade.catchUp(spark, inc, 300L, ManifestBackend)
    assert(ManifestStore.latestManifest(spark, inc).get.version == 6L)

    // archive-backed from-scratch on everything
    val full = Files.createTempDirectory("casmfull").toString
    Cascade.materialize(spark, full, events, Seq(30L, 300L))

    for (l <- Seq(30L, 300L)) {
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getLong(1)) ->
          (math.round(r.getDouble(2) * 1e9),
            math.round(r.getDouble(3) * 1e9), r.getLong(4))
      val cols = Seq("channel", "ts", "mean", "covered_fraction", "n_samples")
      val a = ManifestStore.read(spark, inc, l)
        .selectExpr(cols: _*).collect().map(key).toMap
      val b = ArchiveStore.read(spark, full, l)
        .selectExpr(cols: _*).collect().map(key).toMap
      assert(a.keySet == b.keySet, s"level $l window sets differ")
      for (k <- a.keySet)
        assert(a(k) == b(k), s"level $l at $k: ${a(k)} vs ${b(k)}")
    }
  }

  test("cascade over a mid-migration federation equals a single store") {
    import spark.implicits._
    import graft.archive.FederatedBackend
    val events = Samples.fromEvents(spark, "/root/testdata/sf0.001")
    val cut = events.agg(org.apache.spark.sql.functions.expr(
      "percentile(ts, 0.5)")).head.getDouble(0).toLong

    // raw history split across a frozen old store and a live store;
    // the cascade runs through ONE FederatedBackend — reads union the
    // halves, the new decimated levels land in the LIVE store only
    val root = Files.createTempDirectory("casfed").toString
    val old = s"$root/old"; val live = s"$root/live"
    ManifestStore.commit(events.where($"ts" <= cut), old, 0)
    ManifestStore.commit(
      Samples.monotonicDedup(events).where($"ts" > cut), live, 0)
    val fed = new FederatedBackend(ManifestBackend, old, cut + 1)
    Cascade.materializeLevel(spark, live, 30L, fed)
    Cascade.materializeLevel(spark, live, 300L, fed)
    // a catch-up pass right after is a no-op, not a crash or a dup
    Cascade.catchUp(spark, live, 30L, fed)

    // single-store reference
    val full = Files.createTempDirectory("casfedfull").toString
    Cascade.materialize(spark, full, events, Seq(30L, 300L))

    for (l <- Seq(30L, 300L)) {
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getLong(1)) ->
          (math.round(r.getDouble(2) * 1e9),
            math.round(r.getDouble(3) * 1e9), r.getLong(4))
      val cols = Seq("channel", "ts", "mean", "covered_fraction", "n_samples")
      // the decimated levels live ONLY in the live store
      val a = ManifestStore.read(spark, live, l)
        .selectExpr(cols: _*).collect().map(key).toMap
      val b = ArchiveStore.read(spark, full, l)
        .selectExpr(cols: _*).collect().map(key).toMap
      assert(a.keySet == b.keySet, s"level $l window sets differ")
      for (k <- a.keySet)
        assert(a(k) == b(k), s"level $l at $k: ${a(k)} vs ${b(k)}")
      assert(ManifestBackend.levels(spark, old) == Seq(0L),
        "the frozen old store must not grow levels")
    }
  }

  test("write-triggered retention expires day buckets during cascade runs") {
    import org.apache.spark.sql.functions._
    val ns = Samples.NS
    val base = 1704067200L * ns // 2024-01-01T00:00Z
    def hourly(fromH: Long, toH: Long) =
      spark.range(fromH, toH).select(
        lit("chA").as("channel"),
        (lit(base) + col("id") * 3600L * ns).as("ts"),
        col("id").cast("double").as("value"),
        lit(null).cast("string").as("str_value"),
        lit(0).as("severity"), lit(0).as("status"),
        col("id").as("sample_id"))
    def days(store: String, level: Long) =
      ManifestStore.read(spark, store, level)
        .select("bucket_date").distinct().collect()
        .map(_.getDate(0).toString).toSet

    // 3 days of hourly samples, 1-day retention on raw and 1h levels:
    // materialize itself must expire day 1 (bucket END < latest − 1d)
    // with no manual applyRetention call
    val store = Files.createTempDirectory("casret").toString
    val keep = Map(0L -> 86400L, 3600L -> 86400L)
    Cascade.materialize(spark, store, hourly(0, 72), Seq(3600L),
      ManifestBackend, retentionSec = keep)
    assert(days(store, 0L) == Set("2024-01-02", "2024-01-03"))
    assert(days(store, 3600L) == Set("2024-01-02", "2024-01-03"))

    // day 4 arrives; catch-up must advance the horizon and expire
    // day 2 from the decimated level as part of its own write
    ManifestBackend.write(hourly(72, 96), store, 0L)
    Cascade.catchUp(spark, store, 3600L, ManifestBackend,
      retentionSec = keep)
    assert(days(store, 3600L) == Set("2024-01-03", "2024-01-04"))
  }

  test("levelRetention collapses per-channel maps conservatively") {
    val raw = Samples.fromEvents(spark, "/root/testdata/sf0.001")
    val lr = graft.archive.ChannelRegistry.levelRetention(
      graft.archive.ChannelRegistry.configMap(raw))
    // the synthetic config keeps raw forever and bounds the two
    // decimated levels; max-across-channels must preserve that shape
    assert(lr == Map(0L -> 0L, 3600L -> 7L * 86400L, 21600L -> 30L * 86400L))
  }
}

/** [[ManifestBackend]] with a gate on its first read of `gateLevel`:
  * it holds a cascade run after the run has read its base manifest
  * and before it commits, so another run can commit first — a
  * deterministic race between two runs from one manifest version.
  */
class GatedBackend(gateLevel: Long) extends StoreBackend {
  val reading = new CountDownLatch(1)
  val release = new CountDownLatch(1)
  private val armed = new AtomicBoolean(true)
  def write(samples: DataFrame, path: String, levelSec: Long): Unit =
    ManifestBackend.write(samples, path, levelSec)
  def read(spark: SparkSession, path: String, levelSec: Long,
           loNs: Option[Long], hiNs: Option[Long],
           channel: Option[String]): DataFrame = {
    if (levelSec == gateLevel && armed.getAndSet(false)) {
      reading.countDown()
      assert(release.await(300, TimeUnit.SECONDS), "gate never released")
    }
    ManifestBackend.read(spark, path, levelSec, loNs, hiNs, channel)
  }
  def levels(spark: SparkSession, path: String): Seq[Long] =
    ManifestBackend.levels(spark, path)
  def applyRetention(spark: SparkSession, path: String, levelSec: Long,
                     retentionNs: Long): Seq[String] =
    ManifestBackend.applyRetention(spark, path, levelSec, retentionNs)
  override def levelStore(path: String): Option[String] = Some(path)
}

object GatedBackend {
  /** Start `gated` on a [[GatedBackend]], run `winner` to completion
    * once the gated run is parked in its read, then let the gated run
    * finish; rethrows either run's failure.
    */
  def race(gateLevel: Long)(gated: StoreBackend => Unit)
          (winner: => Unit): Unit = {
    val g = new GatedBackend(gateLevel)
    @volatile var failure: Option[Throwable] = None
    val t = new Thread(() =>
      try gated(g) catch { case e: Throwable => failure = Some(e) })
    t.start()
    try {
      assert(g.reading.await(300, TimeUnit.SECONDS) || failure.nonEmpty,
        "the gated run never reached its read")
      failure.foreach(throw _)
      winner
    } finally {
      g.release.countDown()
      t.join()
    }
    failure.foreach(throw _)
  }
}
