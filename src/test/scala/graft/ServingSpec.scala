package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.archive.{ChannelAlreadyExistsException, ChannelConfig,
  ChannelConfigXml, ChannelDisabledException, ChannelRegistry,
  ConfigCommands, ConfiguredArchive, FederatedBackend, JsonV1,
  ManifestBackend, ManifestStore, NoSuchChannelException,
  PendingChannelOperationException, ResolutionPlanner}

class ServingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  test("json v1 raw sample shape") {
    val df = Seq(("c", 123L, 4.5, "", 1, 7, 0L))
      .toDF("channel", "ts", "value", "str_value", "severity", "status", "sample_id")
    val json = JsonV1.serializeRaw(df).select("json").head.getString(0)
    assert(json ==
      """{"time":123,"severity":{"level":"MINOR","hasValue":true},"status":"7","quality":"Original","type":"double","value":[4.5]}""")
  }

  test("json v1 decimated sample carries minimum/maximum") {
    val df = Seq(("c", 1000L, Some(2.0), Some(0.5), Some(1.0), Some(3.0), 1.0, 4L))
      .toDF("channel", "win_start", "mean", "std", "min_value", "max_value",
        "covered_fraction", "n_samples")
    val json = JsonV1.serializeDecimated(df).select("json").head.getString(0)
    assert(json.contains("\"quality\":\"Interpolated\""))
    assert(json.contains("\"minimum\":1.0") && json.contains("\"maximum\":3.0"))
    assert(json.startsWith("{\"time\":1000,"))
  }

  test("json v1 string samples carry a string payload") {
    val df = Seq(("c", 5L, Option.empty[Double], "hello", 0, 1, 0L))
      .toDF("channel", "ts", "value", "str_value", "severity", "status", "sample_id")
    val json = JsonV1.serializeRaw(df).select("json").head.getString(0)
    assert(json.contains("\"type\":\"string\""))
    assert(json.contains("\"strValue\":[\"hello\"]"))
    assert(json.contains("\"hasValue\":true"))
  }

  test("GraftSession exposes the engine through spark.sql") {
    graft.GraftSession.register(spark, "/root/testdata/sf0.001")
    assert(spark.sql("SELECT count(*) FROM samples").head.getLong(0) == 1000L)
    val dec = spark.sql(
      "SELECT channel, win_start, mean FROM decimated_1h WHERE mean IS NOT NULL")
    assert(dec.count() > 1000)
    val d6 = spark.sql("SELECT count(*) FROM decimated_6h").head.getLong(0)
    assert(d6 > 0 && d6 < dec.count())
    val vd = spark.sql(
      """SELECT vector_dot(CAST(a.embedding AS ARRAY<DOUBLE>),
        |                  CAST(b.embedding AS ARRAY<DOUBLE>)) AS d
        |FROM embeddings a JOIN embeddings b ON a.vec_id = 0 AND b.vec_id = 1
        |""".stripMargin)
    assert(!vd.head.isNullAt(0))
    // the typed union and its decimation are SQL-reachable too
    val tags = spark.sql(
      "SELECT count(DISTINCT vtype) FROM samples_typed").head.getLong(0)
    assert(tags >= 10)
    val tdec = spark.sql(
      """SELECT count(*) FROM decimated_typed_1h
        |WHERE vtype LIKE 'aggregated%' AND mean IS NOT NULL""".stripMargin)
      .head.getLong(0)
    assert(tdec > 0)
    // curation views are SQL-reachable (lazy — first touch plans them)
    val oov = spark.sql(
      "SELECT count(*) FROM doc_unigram_score WHERE oov_frac >= 0")
      .head.getLong(0)
    assert(oov > 0)
    val seg = spark.sql(
      "SELECT sum(n_removed) FROM doc_segment_deduped").head.getLong(0)
    assert(seg >= 0)
    // round-5 views: trained classifier scores + refined IVF quantizer
    val trained = spark.sql(
      """SELECT count(*) FROM doc_classifier_trained
        |WHERE n_features > 0 AND score IS NOT NULL""".stripMargin)
      .head.getLong(0)
    assert(trained > 0)
    assert(spark.sql("SELECT count(*) FROM emb_ivf_centroids_refined")
      .head.getLong(0) == 8L)
    // round-5 analytics views: rolling window + sessions
    val roll = spark.sql(
      """SELECT count(*) FROM samples_rolling_1h
        |WHERE roll_n >= 1 AND roll_min <= roll_mean
        |  AND roll_mean <= roll_max""".stripMargin).head.getLong(0)
    assert(roll > 0)
    val sess = spark.sql(
      """SELECT count(*) FROM event_sessions
        |WHERE end_ns >= start_ns AND n_events >= 1""".stripMargin)
      .head.getLong(0)
    assert(sess > 0)
    // round-6 views: gaps, dv/dt, linear resample, matryoshka tier
    val gaps = spark.sql(
      """SELECT count(*) FROM samples_gaps
        |WHERE gap_ns = gap_end - gap_start AND gap_ns > 900000000000""".stripMargin)
      .head.getLong(0)
    assert(gaps > 0)
    assert(spark.sql(
      "SELECT count(*) FROM samples_rate WHERE rate_per_sec IS NOT NULL")
      .head.getLong(0) > 0)
    assert(spark.sql(
      "SELECT count(*) FROM samples_resampled_6h WHERE value IS NOT NULL")
      .head.getLong(0) > 0)
    assert(spark.sql(
      "SELECT count(DISTINCT probe_id) FROM emb_matryoshka_topk")
      .head.getLong(0) == 5L)
    assert(spark.sql(
      """SELECT count(*) FROM channel_health
        |WHERE n_samples > 0 AND n_gaps >= 0 AND n_anomalies >= 0""".stripMargin)
      .head.getLong(0) > 0)
    // round-7 views: chunking, vocab/id encoding, inverted index,
    // interleave order, semantic decontamination
    assert(spark.sql(
      "SELECT count(*) FROM doc_chunks WHERE n_tokens BETWEEN 1 AND 64")
      .head.getLong(0) > 0)
    assert(spark.sql(
      """SELECT count(*) FROM doc_token_ids i JOIN corpus_vocab v
        |ON i.token_id = v.token_id""".stripMargin).head.getLong(0) > 0)
    assert(spark.sql(
      "SELECT count(*) FROM corpus_inverted_index WHERE df >= 2")
      .head.getLong(0) > 0)
    assert(spark.sql(
      "SELECT count(DISTINCT train_ord) = count(*) FROM corpus_interleaved")
      .head.getBoolean(0))
    assert(spark.sql(
      "SELECT count(*) FROM emb_decontaminated WHERE max_eval_cos >= -1")
      .head.getLong(0) > 0)
    // round-9 views: derived channel + lead/lag scan
    assert(spark.sql(
      """SELECT count(*) FROM derived_click_view
        |WHERE channel = 'calc:click-view' AND value IS NOT NULL""".stripMargin)
      .head.getLong(0) > 0)
    assert(spark.sql(
      """SELECT count(*) FROM lag_correlation_click_view
        |WHERE corr BETWEEN -1 AND 1""".stripMargin)
      .head.getLong(0) == 13L)
  }

  test("name→dataId resolution via broadcast config join survives renames") {
    val df = Seq(("c", 1L, 1.0, "", 0, 0, 0L), ("x", 2L, 2.0, "", 0, 0, 1L))
      .toDF("channel", "ts", "value", "str_value", "severity", "status", "sample_id")
    val cfg = Seq(ChannelConfig("c", "uuid-c", "ca", enabled = true, Map(), Map()))
    val got = graft.archive.ChannelRegistry.withConfigs(df, cfg)
      .select("channel", "channel_data_id").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got == Map("c" -> Some("uuid-c"), "x" -> None))
  }

  test("rename-stable store: old data served under the new name without rewrite") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("idstore").toString
    val day = 86400L * graft.core.Samples.NS
    val t0 = 1704067200L * graft.core.Samples.NS
    val raw = Seq(
      ("pv:old", t0 + 1000L, 1.5, 1L), ("pv:old", t0 + day + 2000L, 2.5, 2L))
      .toDF("channel", "ts", "value", "sample_id")

    val before = Seq(ChannelConfig("pv:old", "d-123", "ca", enabled = true,
      Map(), Map()))
    graft.archive.ArchiveStore.writeById(
      graft.archive.ChannelRegistry.resolveToId(raw, before), dir, 0L)

    def listing = {
      val p = Paths.get(dir)
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala
        .filter(f => f.toString.endsWith(".parquet")).map(_.toString).toSet
    }
    val filesBefore = listing

    // rename is a pure metadata change: a new config set, same data id
    val after = Seq(ChannelConfig("pv:new", "d-123", "ca", enabled = true,
      Map(), Map()))
    val served = graft.archive.ArchiveStore.readById(spark, dir, after, 0L)
      .select("channel", "ts", "value").collect()
    assert(served.map(_.getString(0)).toSet == Set("pv:new"))
    assert(served.map(_.getDouble(2)).sorted.toSeq == Seq(1.5, 2.5))
    assert(listing == filesBefore) // zero data files touched
    // the old name no longer resolves
    assert(graft.archive.ChannelRegistry.dataIdFor(after, "pv:old").isEmpty)
    assert(graft.archive.ChannelRegistry.dataIdFor(after, "pv:new")
      .contains("d-123"))
  }

  test("xml config round-trips") {
    val cfg = Seq(
      ChannelConfig("ch:b", "uuid-2", "channel_access", enabled = false,
        Map("monitor" -> "true"), Map(0L -> 0L, 30L -> 2592000L)),
      ChannelConfig("ch:a", "uuid-1", "channel_access", enabled = true,
        Map.empty, Map(0L -> 86400L)))
    val xml = ChannelConfigXml.exportXml("srv-1", cfg)
    val (sid, parsed) = ChannelConfigXml.importXml(xml)
    assert(sid == "srv-1")
    assert(parsed.map(_.name) == Seq("ch:a", "ch:b")) // name-sorted
    assert(parsed.toSet == cfg.toSet)
  }

  test("resolution selection prefers the shorter period unless the longer is within 5% and closer") {
    // perfect period = (end-start)/count/1e9 seconds
    val levels = Seq(0L, 30L, 300L, 3600L)
    // want ~600 points over 1h → perfect 6 s → shorter=0(raw)... 30 is > 6
    assert(ResolutionPlanner.selectLevel(levels, 0, 3600L * 1000000000L,
      Some(600)) == 0L)
    // want 12 points over 1h → perfect 300 s → exact level
    assert(ResolutionPlanner.selectLevel(levels, 0, 3600L * 1000000000L,
      Some(12)) == 300L)
    // no count → raw
    assert(ResolutionPlanner.selectLevel(levels, 0, 1, None) == 0L)
    // want 13 points over 1h → perfect ≈ 276.9 → shorter 30 (diff 247),
    // longer 300 (diff 23, within 5%? 0.05*276.9=13.8 → no) → 30
    assert(ResolutionPlanner.selectLevel(levels, 0, 3600L * 1000000000L,
      Some(13)) == 30L)
    // perfect 3500 s: shorter 300 (diff 3200), longer 3600 (diff 100,
    // within 5% of 3500=175, closer) → 3600
    assert(ResolutionPlanner.selectLevel(levels, 0, 3500L * 1000000000L,
      Some(1)) == 3600L)
  }

  test("retention fallback covers older ranges with coarser levels, no overlap") {
    val segs = ResolutionPlanner.fallbackSegments(
      chosenPeriod = 30L,
      earliestByPeriod = Map(30L -> 5000L, 3600L -> 1000L),
      coarserPeriods = Seq(3600L),
      startNs = 0L, endNs = 10000L)
    // 30s level covers [5000,10000]; 3600s level covers [1000,4999];
    // nothing below 1000
    assert(segs == Seq((3600L, 1000L, 4999L), (30L, 5000L, 10000L)))
  }

  private def lifecycleRaw(name: String, ids: Seq[Long]) =
    ids.map(i => (name, 1704067200L * graft.core.Samples.NS + i * 1000L,
        i.toDouble, i))
      .toDF("channel", "ts", "value", "sample_id")

  test("calculated channel: config-defined calc archives the derived series first-class") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val NS = graft.core.Samples.NS
    val T0 = 1704067200L * NS
    val cfgDir = Files.createTempDirectory("calccfg").toString
    val store = Files.createTempDirectory("calcstore").toString
    // a: value i at minute i (1..120); b: value 2i at minute i (5..60)
    // → intersection span [minute 5, minute 60]; 10-min grid → points
    // at minutes 10..60, value a−b = m − 2m = −m
    def series(name: String, ids: Seq[Long], f: Long => Double) =
      ids.map(i => (name, T0 + i * 60L * NS, f(i), "", 0, 0, i))
        .toDF("channel", "ts", "value", "str_value", "severity",
          "status", "sample_id")
    val raw = series("pv:a", 1L to 120L, _.toDouble)
      .unionByName(series("pv:b", 5L to 60L, i => 2.0 * i))
    Seq(
      ChannelConfig("pv:a", "id-a", "ca", enabled = true, Map(),
        Map(0L -> 0L)),
      ChannelConfig("pv:b", "id-b", "ca", enabled = true, Map(),
        Map(0L -> 0L)),
      ChannelConfig("calc:diff", "id-calc", "calc", enabled = true,
        Map("calc.a" -> "pv:a", "calc.b" -> "pv:b", "calc.op" -> "sub",
          "calc.step_s" -> "600"), Map(0L -> 0L))
    ).foreach(c => ConfigCommands.addChannel(spark, cfgDir, c))
    ConfiguredArchive.materialize(spark, cfgDir, store, raw)
    // the derived series is archived and serves like any channel
    val got = ConfiguredArchive.querySamples(spark, cfgDir, store,
        "calc:diff", T0, T0 + 120L * 60L * NS, None)
      .select("ts", "value").orderBy("ts").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val expected = (1 to 6).map(_ * 10).map { m =>
      (T0 + m * 60L * NS, -m.toDouble)
    }
    assert(got.toSeq == expected, s"got ${got.toSeq}")
    // rename is metadata-only for calc channels too
    ConfigCommands.renameChannel(spark, cfgDir, "calc:diff", "calc:d2")
    val renamed = ConfiguredArchive.querySamples(spark, cfgDir, store,
        "calc:d2", T0, T0 + 120L * 60L * NS, None)
      .select("ts", "value").orderBy("ts").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(renamed.toSeq == expected)
    // misconfigured calc fails loudly at materialize, not silently
    val badCfg = Files.createTempDirectory("calcbad").toString
    Seq(
      ChannelConfig("pv:a", "id-a", "ca", enabled = true, Map(),
        Map(0L -> 0L)),
      ChannelConfig("calc:bad", "id-bad", "calc", enabled = true,
        Map("calc.a" -> "pv:a", "calc.b" -> "pv:a", "calc.op" -> "pow",
          "calc.step_s" -> "600"), Map(0L -> 0L))
    ).foreach(c => ConfigCommands.addChannel(spark, badCfg, c))
    intercept[IllegalArgumentException] {
      ConfiguredArchive.materialize(spark, badCfg,
        Files.createTempDirectory("calcbadstore").toString, raw)
    }
  }

  test("n-ary calc channel: configured sum of three sources archives and catches up") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val NS = graft.core.Samples.NS
    val T0 = 1704067200L * NS
    def series(name: String, ids: Seq[Long], f: Long => Double) =
      ids.map(i => (name, T0 + i * 60L * NS, f(i), "", 0, 0, i))
        .toDF("channel", "ts", "value", "str_value", "severity",
          "status", "sample_id")
    val all = series("pv:a", 1L to 90L, _.toDouble)
      .unionByName(series("pv:b", 1L to 90L, i => 2.0 * i))
      .unionByName(series("pv:c", 10L to 80L, i => 3.0 * i))
    val cfgDir = Files.createTempDirectory("narycfg").toString
    val store = Files.createTempDirectory("narystore").toString
    (Seq("pv:a", "pv:b", "pv:c").map(n =>
      ChannelConfig(n, s"id-$n", "ca", enabled = true, Map(),
        Map(0L -> 0L))) :+
      ChannelConfig("calc:total", "id-total", "calc", enabled = true,
        Map("calc.sources" -> "pv:a, pv:b, pv:c", "calc.nary" -> "sum",
          "calc.step_s" -> "600"), Map(0L -> 0L)))
      .foreach(c => ConfigCommands.addChannel(spark, cfgDir, c))
    // two-phase: first 40 minutes, then the rest through catch-up
    val cut = T0 + 40L * 60L * NS
    ConfiguredArchive.materialize(spark, cfgDir, store,
      all.where(col("ts") <= cut))
    ConfiguredArchive.ingestRaw(spark, cfgDir, store,
      all.where(col("ts") > cut))
    ConfiguredArchive.catchUp(spark, cfgDir, store)
    val got = ConfiguredArchive.querySamples(spark, cfgDir, store,
        "calc:total", T0, T0 + 200L * 60L * NS, None)
      .select("ts", "value").orderBy("ts").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // intersection span [minute 10, minute 80]; sum = m + 2m + 3m = 6m
    val expected = (1 to 8).map(_ * 10).map { m =>
      (T0 + m * 60L * NS, 6.0 * m)
    }
    assert(got == expected, s"got $got")
  }

  test("calc catch-up: incremental grid extension equals all-at-once, idempotent") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val NS = graft.core.Samples.NS
    val T0 = 1704067200L * NS
    def series(name: String, ids: Seq[Long], f: Long => Double) =
      ids.map(i => (name, T0 + i * 60L * NS, f(i), "", 0, 0, i))
        .toDF("channel", "ts", "value", "str_value", "severity",
          "status", "sample_id")
    def cfgFor(dir: String): Unit = Seq(
      ChannelConfig("pv:a", "id-a", "ca", enabled = true, Map(),
        Map(0L -> 0L)),
      ChannelConfig("pv:b", "id-b", "ca", enabled = true, Map(),
        Map(0L -> 0L)),
      ChannelConfig("calc:diff", "id-calc", "calc", enabled = true,
        Map("calc.a" -> "pv:a", "calc.b" -> "pv:b", "calc.op" -> "sub",
          "calc.step_s" -> "600"), Map(0L -> 0L))
    ).foreach(c => ConfigCommands.addChannel(spark, dir, c))
    val all = series("pv:a", 1L to 120L, _.toDouble)
      .unionByName(series("pv:b", 5L to 110L, i => 2.0 * i))
    val cut = T0 + 60L * 60L * NS
    // incremental: first hour, then the rest + catch-up (twice)
    val cfg1 = Files.createTempDirectory("cucfg").toString
    val st1 = Files.createTempDirectory("custore").toString
    cfgFor(cfg1)
    ConfiguredArchive.materialize(spark, cfg1, st1,
      all.where(col("ts") <= cut))
    ConfiguredArchive.ingestRaw(spark, cfg1, st1,
      all.where(col("ts") > cut))
    ConfiguredArchive.catchUp(spark, cfg1, st1)
    ConfiguredArchive.catchUp(spark, cfg1, st1) // idempotent by frontier
    // all-at-once reference
    val cfg2 = Files.createTempDirectory("cucfg2").toString
    val st2 = Files.createTempDirectory("custore2").toString
    cfgFor(cfg2)
    ConfiguredArchive.materialize(spark, cfg2, st2, all)
    def serve(cfg: String, st: String) =
      ConfiguredArchive.querySamples(spark, cfg, st, "calc:diff",
          T0, T0 + 200L * 60L * NS, None)
        .select("ts", "value").orderBy("ts").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inc = serve(cfg1, st1); val once = serve(cfg2, st2)
    assert(inc == once, s"incremental ${inc.size} rows vs ${once.size}")
    // grid reaches the intersection end (minute 110 floor → 110? 600 s
    // grid → minute 110 exactly), values −m throughout
    assert(inc.nonEmpty && inc.last == (T0 + 110L * 60L * NS, -110.0))
  }

  test("concurrent admin commits never lose a channel: config-log CAS under thread races") {
    // 8 threads racing addChannel on one config log — the shape of
    // concurrent admin-API requests. Every add must land (the CAS
    // claims exactly cur.version+1 through AtomicClaim, retrying lost
    // races), the version chain must be gapless, and the final state
    // must hold all 24 channels.
    import java.nio.file.Files
    val cfgDir = Files.createTempDirectory("cfgrace").toString
    val nThreads = 8
    val perThread = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val latch = new java.util.concurrent.CountDownLatch(1)
    val done = new java.util.concurrent.CountDownLatch(nThreads)
    (0 until nThreads).foreach { t =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            latch.await()
            (0 until perThread).foreach { i =>
              ConfigCommands.addChannel(spark, cfgDir,
                ChannelConfig(s"pv:race-$t-$i", s"id-$t-$i", "ca",
                  enabled = true, Map(), Map(3600L -> 0L)))
            }
          } catch { case e: Throwable => failures.add(e) }
          finally done.countDown()
      })
    }
    latch.countDown()
    assert(done.await(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(failures.isEmpty, s"commit failures: ${failures.size} ${failures.peek()}")
    val st = ConfigCommands.state(spark, cfgDir)
    assert(st.version == (nThreads * perThread).toLong)
    assert(st.configs.size == nThreads * perThread)
  }

  test("channel lifecycle: add → write → query, update, rename") {
    import java.nio.file.Files
    val cfgDir = Files.createTempDirectory("cfglog").toString
    val store = Files.createTempDirectory("cfgstore").toString

    val a = ChannelConfig("pv:a", "id-a", "ca", enabled = true,
      Map("rate" -> "10"), Map(3600L -> 86400L))
    ConfigCommands.addChannel(spark, cfgDir, a)
    intercept[ChannelAlreadyExistsException] {
      ConfigCommands.addChannel(spark, cfgDir, a)
    }
    // raw level auto-added, negative retentions clamped (normalize)
    val st1 = ConfigCommands.state(spark, cfgDir)
    assert(st1.config("pv:a").get.levels.contains(0L))

    // write under the rename-stable id, query under the current name
    ManifestStore.commitById(
      ChannelRegistry.resolveToId(lifecycleRaw("pv:a", 1L to 5L),
        st1.configs), store, 0L)
    val served = ManifestStore.readById(spark, store, st1.configs, 0L)
      .select("channel").distinct().collect().map(_.getString(0)).toSet
    assert(served == Set("pv:a"))

    // update: enabled flips, data id / control-system type immutable
    ConfigCommands.updateChannel(spark, cfgDir, a.copy(enabled = false))
    assert(!ConfigCommands.state(spark, cfgDir).config("pv:a").get.enabled)
    intercept[IllegalArgumentException] {
      ConfigCommands.updateChannel(spark, cfgDir,
        a.copy(channelDataId = "id-other"))
    }

    // rename: metadata-only; the same files serve the new name
    ConfigCommands.renameChannel(spark, cfgDir, "pv:a", "pv:b")
    val st2 = ConfigCommands.state(spark, cfgDir)
    assert(st2.config("pv:a").isEmpty)
    val served2 = ManifestStore.readById(spark, store, st2.configs, 0L)
      .select("channel").distinct().collect().map(_.getString(0)).toSet
    assert(served2 == Set("pv:b"))
  }

  test("configuration governs the engine: levels, enabled flag, rename, registry-driven catch-up") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val cfgDir = Files.createTempDirectory("govcfg").toString
    val store = Files.createTempDirectory("govstore").toString
    val NS = graft.core.Samples.NS
    val t0 = 1704067200L * NS

    // the configuration DECLARES the engine's shape: one enabled
    // channel with a 1h level, one disabled channel. The test passes
    // NO level or retention literals to any cascade call.
    ConfigCommands.addChannel(spark, cfgDir, ChannelConfig("pv:gov", "id-gov",
      "ca", enabled = true, Map(), Map(3600L -> 0L)))
    ConfigCommands.addChannel(spark, cfgDir, ChannelConfig("pv:off", "id-off",
      "ca", enabled = false, Map(), Map(3600L -> 0L)))

    def rawFor(name: String, ids: Seq[Int], base: Long) =
      ids.map(i => (name, base + i * 60L * NS, i.toDouble, "", 0, 0, i.toLong))
        .toDF("channel", "ts", "value", "str_value", "severity", "status",
          "sample_id")

    ConfiguredArchive.materialize(spark, cfgDir, store,
      rawFor("pv:gov", 1 to 600, t0)
        .unionByName(rawFor("pv:off", 1 to 10, t0)))

    // the cascade built exactly the configured level set, id-keyed,
    // and never archived the disabled channel
    assert(ManifestBackend.levels(spark, store).toSet == Set(0L, 3600L))
    assert(ManifestStore.read(spark, store, 0L)
      .where(col("channel") === "id-off").count() == 0)
    assert(ManifestStore.read(spark, store, 3600L)
      .where(col("channel") === "id-gov").count() > 0)

    // serving: configured name resolves (rows re-labeled with the
    // name), disabled and unknown channels refuse
    val hi = t0 + 4L * 3600L * NS
    val got = ConfiguredArchive.querySamples(spark, cfgDir, store,
      "pv:gov", t0, hi, None)
    val vals = got.select("channel", "value").collect()
    assert(vals.nonEmpty && vals.forall(_.getString(0) == "pv:gov"))
    // pv:off is disabled and was therefore never ARCHIVED: the default
    // serving contract (reference: disabling stops archiving, not
    // retrieval) resolves it fine and finds no stored data; the
    // opt-in refusal flag turns that into the disabled refusal
    intercept[graft.archive.NoStoredDataException] {
      ConfiguredArchive.querySamples(spark, cfgDir, store, "pv:off",
        t0, hi, None)
    }
    intercept[ChannelDisabledException] {
      ConfiguredArchive.querySamples(spark, cfgDir, store, "pv:off",
        t0, hi, None, refuseDisabled = true)
    }
    intercept[NoSuchChannelException] {
      ConfiguredArchive.querySamples(spark, cfgDir, store, "pv:none",
        t0, hi, None)
    }

    // disable → archived HISTORY still serves (the reference's
    // contract: Api10Controller never checks the enabled flag), while
    // the opt-in flag refuses; re-enable + rename → the SAME data
    // serves under the new name (id-keyed store: zero files touched)
    val gov = ConfigCommands.state(spark, cfgDir).config("pv:gov").get
    ConfigCommands.updateChannel(spark, cfgDir, gov.copy(enabled = false))
    val disabledServed = ConfiguredArchive.querySamples(spark, cfgDir,
      store, "pv:gov", t0, hi, None).select("value").collect()
    assert(disabledServed.map(_.getDouble(0)).sorted.toSeq ==
      vals.map(_.getDouble(1)).sorted.toSeq)
    intercept[ChannelDisabledException] {
      ConfiguredArchive.querySamples(spark, cfgDir, store, "pv:gov",
        t0, hi, None, refuseDisabled = true)
    }
    ConfigCommands.updateChannel(spark, cfgDir, gov.copy(enabled = true))
    ConfigCommands.renameChannel(spark, cfgDir, "pv:gov", "pv:gov2")
    val got2 = ConfiguredArchive.querySamples(spark, cfgDir, store,
      "pv:gov2", t0, hi, None)
    assert(got2.select("value").collect().map(_.getDouble(0)).sorted.toSeq ==
      vals.map(_.getDouble(1)).sorted.toSeq)

    // incremental: a NEW configured channel plus new samples; catch-up
    // derives channels from the REGISTRY and levels from config — the
    // new channel's 1h windows appear without any level literal
    ConfigCommands.addChannel(spark, cfgDir, ChannelConfig("pv:new", "id-new",
      "ca", enabled = true, Map(), Map(3600L -> 0L)))
    ConfiguredArchive.ingestRaw(spark, cfgDir, store,
      rawFor("pv:new", 1 to 600, t0))
    ConfiguredArchive.catchUp(spark, cfgDir, store)
    assert(ManifestStore.read(spark, store, 3600L)
      .where(col("channel") === "id-new").count() > 0)

    // a config update that ADDS a level: the next catch-up builds it
    // from scratch (first full build, then incremental thereafter).
    // Two catch-ups race to build it from one manifest version: the
    // gated one reads its base, then waits in its read of the source
    // level until the other has committed the level with its frontier;
    // its own first-build commit is refused, so the level lands once
    val gov2 = ConfigCommands.state(spark, cfgDir).config("pv:gov2").get
    ConfigCommands.updateChannel(spark, cfgDir,
      gov2.copy(levels = gov2.levels + (21600L -> 0L)))
    val v0 = ManifestStore.latestVersion(spark, store).get
    GatedBackend.race(gateLevel = 3600L)(
      g => ConfiguredArchive.catchUp(spark, cfgDir, store, g))(
      ConfiguredArchive.catchUp(spark, cfgDir, store))
    assert(ManifestStore.latestVersion(spark, store).contains(v0 + 1))
    assert(ManifestBackend.levels(spark, store).toSet ==
      Set(0L, 3600L, 21600L))
    val built = ManifestStore.read(spark, store, 21600L)
      .select("channel", "ts").collect()
    assert(built.nonEmpty && built.distinct.length == built.length)
    ConfiguredArchive.catchUp(spark, cfgDir, store)
    assert(ManifestStore.read(spark, store, 21600L).count() == built.length)

    // the full stack serves the JSON v1 wire under the current name
    val json = ConfiguredArchive.serveJson(spark, cfgDir, store,
      "pv:gov2", t0, hi, None).toSeq
    assert(json.nonEmpty && json.forall(_.startsWith("{\"time\":")))
  }

  test("federated old+live stores serve byte-identical JSON to a single store") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val NS = graft.core.Samples.NS
    val t0 = 1704067200L * NS
    val root = Files.createTempDirectory("fedsrv").toString
    val cfgDir = s"$root/config"
    val one = s"$root/one"; val old = s"$root/old"; val live = s"$root/live"
    ConfigCommands.addChannel(spark, cfgDir, ChannelConfig("pv:f", "id-f",
      "ca", enabled = true, Map(), Map(0L -> 0L)))
    val raw = (0L until 600L).map(i => ("id-f", t0 + i * 60L * NS,
        math.sin(i * 0.1) * 100.0, "", 0, 0, i))
      .toDF("channel", "ts", "value", "str_value", "severity", "status",
        "sample_id")
    val cut = t0 + 300L * 60L * NS
    ManifestStore.commit(raw, one, levelSec = 0)
    ManifestStore.commit(raw.where(col("ts") < cut), old, levelSec = 0)
    ManifestStore.commit(raw.where(col("ts") >= cut), live, levelSec = 0)
    val fed = new FederatedBackend(ManifestBackend, old, cut)
    val lo = t0 + 60L * 60L * NS; val hi = t0 + 500L * 60L * NS
    val single = ConfiguredArchive.serveJson(spark, cfgDir, one,
      "pv:f", lo, hi, None).toSeq
    val federated = ConfiguredArchive.serveJson(spark, cfgDir, live,
      "pv:f", lo, hi, None, backend = fed).toSeq
    assert(federated == single,
      "the federated split must reassemble the single-store wire bytes")
    // a request entirely before the cutover never touches the live
    // store; entirely after never touches the old — both still serve
    val before = ConfiguredArchive.serveJson(spark, cfgDir, live,
      "pv:f", t0, cut - 1, None, backend = fed).toSeq
    val after = ConfiguredArchive.serveJson(spark, cfgDir, live,
      "pv:f", cut, t0 + 600L * 60L * NS, None, backend = fed).toSeq
    // both sides serve; the sum covers all 600 samples (±2 for the
    // serving stack's boundary-widening probes at the cut)
    assert(before.nonEmpty && after.nonEmpty)
    assert((before.size + after.size) >= 600 &&
      (before.size + after.size) <= 602)
    // combined metaVersion is defined (both manifest stores versioned)
    assert(fed.metaVersion(spark, live).isDefined)
    // levels union both sides
    assert(fed.levels(spark, live) == Seq(0L))

    // RETIRE the federation: token-deduplicated backfill of the old
    // history into the live store — afterwards the live store ALONE
    // serves the single-store bytes, and a re-run migrates 0 rows
    val migrated = graft.archive.Maintenance.migrateStore(spark,
      ManifestBackend, old, ManifestBackend, live, cut)
    assert(migrated == Map(0L -> 300L))
    val retired = ConfiguredArchive.serveJson(spark, cfgDir, live,
      "pv:f", lo, hi, None).toSeq
    assert(retired == single,
      "post-migration the live store alone must serve the bytes")
    val rerun = graft.archive.Maintenance.migrateStore(spark,
      ManifestBackend, old, ManifestBackend, live, cut)
    assert(rerun == Map(0L -> 0L), "a second migration must be a no-op")
  }

  test("retention-fallback serve widens the EARLIEST segment's lower bound (reference AT_OR_BEFORE on fallback reads)") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val NS = graft.core.Samples.NS
    val Day = 86400L * NS
    val t0 = 1704067200L * NS // day-aligned
    val store = Files.createTempDirectory("fbstore").toString

    // coarse 1h level holds days 0..20 every 6h; the raw level only
    // retains days 10..20 (hourly) — the classic retention-fallback
    // layout where old time serves from the coarser level
    val coarse = (0 to 80).map(i => ("fb", t0 + i * 6L * 3600L * NS,
        i.toDouble, i.toLong))
      .toDF("channel", "ts", "mean", "sample_id")
    val fine = (240 to 480).map(i => ("fb", t0 + i * 3600L * NS,
        i.toDouble * 10, "", 0, 0, i.toLong))
      .toDF("channel", "ts", "value", "str_value", "severity", "status",
        "sample_id")
    ManifestStore.commit(fine, store, 0L)
    ManifestStore.commit(coarse, store, 3600L)

    // start mid-day-5, strictly between two coarse samples, so the
    // at-or-before-start boundary is a real widening, not an edge hit
    val start = t0 + 5L * Day + 3L * 3600L * NS + 1L
    val end = t0 + 20L * Day
    val rows = graft.archive.ArchiveServer.querySamples(spark, store,
        "fb", start, end, None, ManifestBackend)
      .orderBy("ts").collect()

    // exactly ONE row before the requested start — the coarse level's
    // at-or-before boundary sample (the reference passes AT_OR_BEFORE
    // on its fallback reads, Api10Controller.java:466-480); before the
    // round-9 fix the widening sat on the FINE segment's interior
    // joint instead and this row was dropped
    val before = rows.filter(_.getAs[Long]("ts") < start)
    assert(before.length == 1)
    assert(before.head.getAs[Long]("level") == 3600L)
    // start is day5+3h+1ns; the 6h coarse grid's last sample at-or-
    // before it is the day5+0h one
    assert(before.head.getAs[Long]("ts") == t0 + 5L * Day)
    // no fine-level row leaks below the fine level's retention horizon
    assert(!rows.exists(r => r.getAs[Long]("level") == 0L &&
      r.getAs[Long]("ts") < t0 + 10L * Day))
    // both levels actually served their ranges
    assert(rows.exists(_.getAs[Long]("level") == 3600L))
    assert(rows.exists(_.getAs[Long]("level") == 0L))
  }

  test("a disabled channel's keep-forever retention vote still protects its data") {
    import java.nio.file.Files
    val cfgDir = Files.createTempDirectory("retvote").toString
    ConfigCommands.addChannel(spark, cfgDir, ChannelConfig("pv:keep",
      "id-keep", "ca", enabled = true, Map(), Map(0L -> 0L)))
    ConfigCommands.addChannel(spark, cfgDir, ChannelConfig("pv:short",
      "id-short", "ca", enabled = true, Map(), Map(0L -> 30L * 86400L)))
    // disabling pv:keep stops archiving/serving, but its history on
    // the SHARED day buckets must not fall to pv:short's 30-day horizon
    val keep = ConfigCommands.state(spark, cfgDir).config("pv:keep").get
    ConfigCommands.updateChannel(spark, cfgDir, keep.copy(enabled = false))
    val st = ConfigCommands.state(spark, cfgDir)
    assert(st.retentionSec(0L) == 0L) // keep-forever vote survives
    // but the disabled channel no longer votes for LEVELS to build
    assert(st.levelsSec.isEmpty || !st.levelsSec.contains(0L))
  }

  test("production loop: configured stream ingest → config catch-up → config serving → remove") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, lit}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cfgDir = Files.createTempDirectory("loopcfg").toString
    val store = Files.createTempDirectory("loopstore").toString
    val ckpt = Files.createTempDirectory("loopckpt").toString
    val NS = graft.core.Samples.NS
    val t0 = 1704067200L * NS
    ConfigCommands.addChannel(spark, cfgDir, ChannelConfig("pv:loop",
      "id-loop", "ca", enabled = true, Map(), Map(3600L -> 0L)))

    // the whole production loop with NO literals outside the config:
    // stream → exactly-once id-keyed commits → catch-up builds the
    // config's levels → serving answers under the configured name
    val mem = MemoryStream[graft.streaming.StreamingDecimation.InSample]
    val q = graft.streaming.StreamingDecimation.writeRawStreamConfigured(
      mem.toDS().toDF().select($"channel", $"ts",
        $"value".cast("double").as("value"), $"seq".as("sample_id"),
        lit("").as("str_value"), lit(0).as("severity"), lit(0).as("status")),
      store, ckpt, cfgDir)
    try {
      (1 to 600).grouped(250).foreach { g =>
        mem.addData(g.map(i => graft.streaming.StreamingDecimation.InSample(
          "pv:loop", t0 + i * 60L * NS, Some(i.toDouble), i.toLong)))
        q.processAllAvailable()
      }
    } finally q.stop()

    ConfiguredArchive.catchUp(spark, cfgDir, store)
    assert(ManifestBackend.levels(spark, store).toSet == Set(0L, 3600L))
    val rows = ConfiguredArchive.querySamples(spark, cfgDir, store,
      "pv:loop", t0, t0 + 10L * 3600L * NS, Some(5)).collect()
    assert(rows.nonEmpty &&
      rows.forall(_.getAs[String]("channel") == "pv:loop"))

    // remove: two-phase config+data removal; serving then refuses and
    // the live snapshot holds no rows of the id on any level
    ConfigCommands.removeChannel(spark, cfgDir, "pv:loop", Some(store))
    intercept[NoSuchChannelException] {
      ConfiguredArchive.querySamples(spark, cfgDir, store, "pv:loop",
        t0, t0 + NS, None)
    }
    for (l <- Seq(0L, 3600L))
      assert(ManifestStore.read(spark, store, l)
        .where(col("channel") === "id-loop").count() == 0, s"level $l")
  }

  test("config-governed TYPED cascade: levels from config, registry-driven typed catch-up") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val cfgDir = Files.createTempDirectory("govtcfg").toString
    val store = Files.createTempDirectory("govtstore").toString
    val typed = graft.core.TypedSamples.fromEvents(spark,
      "/root/testdata/sf0.001")
    val chans = typed.select("channel").distinct()
      .collect().map(_.getString(0)).sorted
    chans.foreach(c => ConfigCommands.addChannel(spark, cfgDir,
      ChannelConfig(c, s"id-$c", "ca", enabled = true, Map(),
        Map(3600L -> 0L))))

    ConfiguredArchive.materializeTyped(spark, cfgDir, store, typed)
    assert(ManifestBackend.levels(spark, store).toSet == Set(0L, 3600L))
    // id-keyed and carrying the typed union at the decimated level
    val fine = ManifestStore.read(spark, store, 3600L)
    assert(fine.select("channel").distinct().collect()
      .forall(_.getString(0).startsWith("id-")))
    assert(fine.select("vtype").distinct().count() > 1)

    // config adds a 6h level: the typed catch-up first-builds it from
    // the 1h level (typed source-selection rule), no literals passed
    val c0 = ConfigCommands.state(spark, cfgDir).config(chans.head).get
    ConfigCommands.updateChannel(spark, cfgDir,
      c0.copy(levels = c0.levels + (21600L -> 0L)))
    ConfiguredArchive.catchUpTyped(spark, cfgDir, store)
    assert(ManifestBackend.levels(spark, store).toSet ==
      Set(0L, 3600L, 21600L))
    assert(ManifestStore.read(spark, store, 21600L).count() > 0)
  }

  test("channel remove is two-phase: pending lock, data gone after vacuum, crash rolls forward") {
    import java.nio.file.Files
    val cfgDir = Files.createTempDirectory("cfglog2").toString
    val store = Files.createTempDirectory("cfgstore2").toString
    for (n <- Seq("pv:x", "pv:y"))
      ConfigCommands.addChannel(spark, cfgDir,
        ChannelConfig(n, s"id-$n", "ca", enabled = true, Map(), Map()))
    val cfgs = ConfigCommands.state(spark, cfgDir).configs
    // one file straddles both ids, so removal exercises the rewrite path
    ManifestStore.commitById(ChannelRegistry.resolveToId(
      lifecycleRaw("pv:x", 1L to 20L).unionByName(
        lifecycleRaw("pv:y", 21L to 40L)), cfgs).coalesce(1), store, 0L)

    // simulate a remove that crashed after phase 1: the channel is
    // locked against every other command
    ConfigCommands.beginRemove(spark, cfgDir, "pv:x")
    intercept[PendingChannelOperationException] {
      ConfigCommands.updateChannel(spark, cfgDir,
        cfgs.find(_.name == "pv:x").get)
    }
    intercept[PendingChannelOperationException] {
      ConfigCommands.beginRemove(spark, cfgDir, "pv:x")
    }
    intercept[PendingChannelOperationException] {
      ConfigCommands.renameChannel(spark, cfgDir, "pv:x", "pv:z")
    }

    // recovery rolls the crashed remove forward
    assert(ConfigCommands.recoverPending(spark, cfgDir, Some(store))
      == Seq("pv:x"))
    val st = ConfigCommands.state(spark, cfgDir)
    assert(st.config("pv:x").isEmpty && st.pending.isEmpty)
    assert(st.config("pv:y").isDefined)

    // rows gone from the live snapshot, survivor intact
    val ids = ManifestStore.read(spark, store, 0L)
      .select("channel_data_id").distinct().collect()
      .map(_.getString(0)).toSet
    assert(ids == Set("id-pv:y"))

    // bytes gone after vacuum (grace 0: no concurrent readers here)
    val freed = ManifestStore.vacuum(spark, store, graceMs = 0L)
    assert(freed.nonEmpty)
    assert(ManifestStore.read(spark, store, 0L).count() == 20L)

    // a second removal of the same data id is a clean no-op
    ConfigCommands.recoverPending(spark, cfgDir, Some(store))
    assert(ManifestStore.read(spark, store, 0L).count() == 20L)
  }
}
