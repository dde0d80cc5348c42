package graft.archive

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Byte-parity gate for the TYPED direct serve ([[DirectServeTyped]]):
  * the full 21-tag synthetic frame (markers, enums with states,
  * arrays, aggregated minMaxDouble, numeric metadata blocks) and the
  * EPICS migration fixture must serve EXACTLY the engine's `to_json`
  * bytes through the driver-side path; decimated-level plans decline;
  * the decoded-rows cache it shares with the scalar path never serves
  * stale rows.
  */
class DirectServeTypedSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val NS = graft.core.Samples.NS

  /** Typed store from the full 21-tag synthetic frame. */
  private lazy val fx: (String, String, Seq[String], Long, Long) = {
    val cfgDir = Files.createTempDirectory("tdscfg").toString
    val store = Files.createTempDirectory("tdsstore").toString
    val typed = graft.core.TypedSamples.fromEvents(spark,
      "/root/testdata/sf0.001")
    val names = typed.select("channel").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    names.foreach(n => ConfigCommands.addChannel(spark, cfgDir,
      ChannelConfig(n, s"tid-$n", "ca", enabled = true, Map(), Map())))
    ConfiguredArchive.materializeTyped(spark, cfgDir, store, typed)
    val span = typed.agg(org.apache.spark.sql.functions.min("ts"),
      org.apache.spark.sql.functions.max("ts")).collect().head
    (cfgDir, store, names, span.getLong(0), span.getLong(1))
  }

  test("typed serve bytes equal the engine path across the 21-tag frame") {
    val (cfg, store, names, lo, hi) = fx
    var total = 0
    for (n <- names.take(4)) {
      val fast = DirectServeTyped.tryServe(spark, cfg, store, n,
        lo - 1, hi + 1, None, ManifestBackend, refuseDisabled = false)
      assert(fast.isDefined, s"typed fast path must engage for $n")
      val fastV = fast.get.toVector
      val slow = ConfiguredArchive.serveJsonTypedSpark(spark, cfg, store,
        n, lo - 1, hi + 1, None, ManifestBackend).toVector
      assert(fastV == slow, s"typed serve diverged for $n")
      assert(fastV.nonEmpty)
      total += fastV.size
    }
    assert(total > 50)
    // the frame covers the interesting families — prove the parity
    // actually exercised them
    val all = names.take(4).flatMap(n =>
      ConfiguredArchive.serveJsonTyped(spark, cfg, store, n,
        lo - 1, hi + 1, None, ManifestBackend)).mkString("\n")
    for (needle <- Seq("\"minMaxDouble\"", "\"enum\"", "\"states\":",
        "Archive_Disabled", "Disconnected", "\"metaData\":",
        "\"type\":\"long\"", "\"type\":\"string\""))
      assert(all.contains(needle), s"family not exercised: $needle")
  }

  test("interior window with boundary samples on both sides is " +
      "byte-identical") {
    val (cfg, store, names, lo, hi) = fx
    val mid = lo + (hi - lo) / 2
    val q = (hi - lo) / 8
    val n = names.head
    val fast = DirectServeTyped.tryServe(spark, cfg, store, n,
      mid - q, mid + q, None, ManifestBackend, refuseDisabled = false)
      .map(_.toVector)
    val slow = ConfiguredArchive.serveJsonTypedSpark(spark, cfg, store,
      n, mid - q, mid + q, None, ManifestBackend).toVector
    assert(fast.contains(slow))
  }

  test("EPICS migration fixture serves byte-identically through the " +
      "fast path") {
    val dir = Files.createTempDirectory("tdse").toString
    val export = s"$dir/export"; val cfg = s"$dir/config"
    val store = s"$dir/store"
    graft.sources.EpicsArchiverJson.writeFixture(export)
    (0 until 8).foreach(p =>
      ConfigCommands.addChannel(spark, cfg, ChannelConfig(s"epics:pv$p",
        s"epics-id$p", "ca", enabled = true, Map(), Map())))
    ConfiguredArchive.materializeTyped(spark, cfg, store,
      graft.sources.EpicsArchiverJson.read(spark, export))
    val lo = 1704067200L * NS - 1
    val hi = lo + 4000L * NS * 60L
    for (p <- 0 until 8) {
      val fast = DirectServeTyped.tryServe(spark, cfg, store,
        s"epics:pv$p", lo, hi, None, ManifestBackend,
        refuseDisabled = false).map(_.toVector)
      val slow = ConfiguredArchive.serveJsonTypedSpark(spark, cfg, store,
        s"epics:pv$p", lo, hi, None, ManifestBackend).toVector
      assert(fast.contains(slow), s"epics pv$p diverged")
      assert(slow.size == 60)
    }
  }

  private val Day = 86400L * NS
  private val T0 = 1704067200L * NS

  /** `scalar_double` samples copied from one row of the 21-tag store,
    * placed at each (channel, ts, sample_id) of `at` (without `ts_raw`,
    * which would keep the source row's time). */
  private def typedAt(at: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val stored = ManifestStore.read(spark, fx._2, 0L)
      .drop("level", "bucket_date", "ts_raw")
    val tmpl = spark.createDataFrame(java.util.Arrays.asList(
        stored.where(col("vtype") === "scalar_double").limit(1).collect()
          : _*), stored.schema)
      .drop("channel", "ts", "sample_id")
    at.crossJoin(tmpl).select(stored.columns.map(col): _*)
  }

  private def typedChannels(prefix: String, names: Seq[String])
      : (String, String) = {
    val cfg = Files.createTempDirectory(prefix + "cfg").toString
    val store = Files.createTempDirectory(prefix + "store").toString
    names.foreach(n => ConfigCommands.addChannel(spark, cfg,
      ChannelConfig(n, s"id-$n", "ca", enabled = true, Map(), Map())))
    (cfg, store)
  }

  test("typed boundary samples reach as far as the engine probe: 2000 " +
      "days out is served and 2100 days out is not, on both sides") {
    import spark.implicits._
    val start = T0 + 2200 * Day
    val end = start + 3600L * NS
    val inside = start + 1800L * NS
    // channel → its one sample outside the window, and whether the
    // widened bound reaches it (the engine probe stops at 2048 days)
    val far = Seq(
      "t:lo2100" -> (start - 2100 * Day, false),
      "t:lo2000" -> (start - 2000 * Day, true),
      "t:hi2100" -> (end + 2100 * Day, false),
      "t:hi2000" -> (end + 2000 * Day, true))
    val (cfg, store) = typedChannels("tdsreach", far.map(_._1))
    // arrival ids in ts order (ingest drops a sample older than its
    // channel's previous arrival)
    val at = far.flatMap { case (n, (t, _)) =>
        Seq((n, t), (n, inside)).sortBy(_._2) }
      .zipWithIndex.map { case ((n, t), i) => (n, t, i.toLong) }
    ConfiguredArchive.materializeTyped(spark, cfg, store,
      typedAt(at.toDF("channel", "ts", "sample_id")))
    for ((n, (t, reached)) <- far) {
      val fast = DirectServeTyped.tryServe(spark, cfg, store, n, start, end,
        None, ManifestBackend, refuseDisabled = false).map(_.toVector)
      val slow = ConfiguredArchive.serveJsonTypedSpark(spark, cfg, store,
        n, start, end, None, ManifestBackend).toVector
      assert(fast.contains(slow), s"$n diverged")
      assert(slow.exists(_.contains(s"\"time\":$inside,")), n)
      assert(slow.exists(_.contains(s"\"time\":$t,")) == reached, n)
    }
  }

  test("a typed request over the row-group budget falls back on a cold " +
      "and on a warm cache alike") {
    import org.apache.spark.sql.functions.{col, lit}
    val (cfg, store) = typedChannels("tdsg", Seq("t:g"))
    // three one-day files of ~30 tiny row groups each: any one day fits
    // the 64-group budget, all three do not
    spark.conf.set("parquet.block.size", "1")
    try (0 until 3).foreach { d =>
      val day = typedAt(spark.range(0, 3000, 1, 1).select(
        lit("t:g").as("channel"),
        (col("id") * (28L * NS) + (T0 + d * Day)).as("ts"),
        (col("id") + d * 3000L).as("sample_id")))
      if (d == 0) ConfiguredArchive.materializeTyped(spark, cfg, store, day)
      else ManifestBackend.write(ConfiguredArchive.idKeyed(day,
        ConfigCommands.state(spark, cfg).enabledConfigs), store, 0L)
    } finally spark.conf.unset("parquet.block.size")
    val files = ManifestStore.latestManifest(spark, store).get.files
    val groups = files.map { e =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$store/${e.path}"),
          spark.sparkContext.hadoopConfiguration))
      try r.getRowGroups.size finally r.close()
    }
    assert(groups.size == 3 && groups.forall(g => g > 1 && g <= 32) &&
      groups.sum > DecodedRowCache.MaxDecodedGroups, s"groups $groups")

    def serve(from: Long, to: Long) = (
      DirectServeTyped.tryServe(spark, cfg, store, "t:g", from, to, None,
        ManifestBackend, refuseDisabled = false).map(_.toVector),
      ConfiguredArchive.serveJsonTypedSpark(spark, cfg, store, "t:g", from,
        to, None, ManifestBackend).toVector)
    val (coldFast, _) = serve(T0, T0 + 3 * Day)
    assert(coldFast.isEmpty, "a cold request over budget must fall back")
    // both bounds inside one day's samples: the inner scan and both
    // boundary lookups read that day's file only
    (0 until 3).foreach { d =>
      val (fast, slow) = serve(T0 + d * Day + 1, T0 + d * Day + 80000L * NS)
      assert(fast.contains(slow) && slow.size > 2800)
    }
    val before = DecodedRowCache.decodedGroups.get
    val (warmFast, slow) = serve(T0, T0 + 3 * Day)
    assert(DecodedRowCache.decodedGroups.get == before,
      "every file of the warm request was cached")
    assert(warmFast.isEmpty, "a warm request over budget must fall back")
    assert(slow.size == 9000)
    assert(ConfiguredArchive.serveJsonTyped(spark, cfg, store, "t:g",
      T0, T0 + 3 * Day, None, ManifestBackend).toVector == slow)
  }

  test("a decimated-level plan declines the fast path and the engine " +
      "answers") {
    val (cfg, store, names, lo, hi) = fx
    // a tiny count over a wide range pushes the planner to a coarser
    // level on a store with decimated typed levels — build one
    val cfg2 = Files.createTempDirectory("tdscfg2").toString
    val store2 = Files.createTempDirectory("tdsstore2").toString
    val typed = graft.core.TypedSamples.fromEvents(spark,
      "/root/testdata/sf0.001")
    val n = names.head
    ConfigCommands.addChannel(spark, cfg2, ChannelConfig(n, s"t2-$n",
      "ca", enabled = true, Map(), Map(3600L -> 0L)))
    ConfiguredArchive.materializeTyped(spark, cfg2, store2,
      typed.where(org.apache.spark.sql.functions.col("channel") === n))
    val fast = DirectServeTyped.tryServe(spark, cfg2, store2, n,
      lo, hi, Some(2L), ManifestBackend, refuseDisabled = false)
    assert(fast.isEmpty, "decimated plans must decline")
    val served = ConfiguredArchive.serveJsonTyped(spark, cfg2, store2, n,
      lo, hi, Some(2L), ManifestBackend).toVector
    val slow = ConfiguredArchive.serveJsonTypedSpark(spark, cfg2, store2,
      n, lo, hi, Some(2L), ManifestBackend).toVector
    assert(served == slow)
  }

  test("decoded-rows cache: typed serve stays byte-identical across " +
      "commit, compact, vacuum and store recreate") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("tdsk").toString
    val export = s"$dir/export"; val cfg = s"$dir/config"
    val store = s"$dir/store"
    graft.sources.EpicsArchiverJson.writeFixture(export)
    (0 until 2).foreach(p =>
      ConfigCommands.addChannel(spark, cfg, ChannelConfig(s"epics:pv$p",
        s"epics-id$p", "ca", enabled = true, Map(), Map())))
    val source = graft.sources.EpicsArchiverJson.read(spark, export)
      .where(col("channel").isin("epics:pv0", "epics:pv1"))
    ConfiguredArchive.materializeTyped(spark, cfg, store, source)
    val lo = 1704067200L * NS - 1
    val hi = lo + 4000L * NS * 60L
    def check(): Vector[String] = {
      val fast = DirectServeTyped.tryServe(spark, cfg, store, "epics:pv0",
        lo, hi, None, ManifestBackend, refuseDisabled = false)
        .map(_.toVector)
      val slow = ConfiguredArchive.serveJsonTypedSpark(spark, cfg, store,
        "epics:pv0", lo, hi, None, ManifestBackend).toVector
      assert(fast.contains(slow))
      slow
    }
    val first = check()
    // a second file of the same day: every sample again, 1 ns later
    val stored = ManifestStore.read(spark, store, 0L)
      .drop("level", "bucket_date")
    ManifestStore.commit(stored.where(col("channel") === "epics-id0")
      .withColumn("ts", col("ts") + 1L), store, 0L)
    val grown = check()
    assert(grown.size == 2 * first.size)
    assert(ManifestStore.compactAll(spark, store, 0L).nonEmpty)
    assert(check() == grown)
    assert(ManifestStore.vacuum(spark, store, graceMs = 0)
      .exists(_.endsWith(".parquet")))
    assert(check() == grown)
    // deleted and recreated at the same path with half the samples
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(store))
    val mid = lo + 30L * NS * 60L
    ConfiguredArchive.materializeTyped(spark, cfg, store,
      source.where(col("ts") < mid))
    val recreated = check()
    assert(recreated.nonEmpty && recreated.size < first.size)
  }

  test("typed wire elements are encoded once per cached file: a repeated " +
      "request encodes nothing, and commit, compact, vacuum and recreate " +
      "encode only the files they add") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("tdse").toString
    val export = s"$dir/export"; val cfg = s"$dir/config"
    val store = s"$dir/store"
    graft.sources.EpicsArchiverJson.writeFixture(export)
    ConfigCommands.addChannel(spark, cfg, ChannelConfig("epics:pv0",
      "epics-id0", "ca", enabled = true, Map(), Map()))
    val source = graft.sources.EpicsArchiverJson.read(spark, export)
      .where(col("channel") === "epics:pv0")
    ConfiguredArchive.materializeTyped(spark, cfg, store, source)
    val stored = ManifestStore.read(spark, store, 0L)
      .drop("level", "bucket_date").where(col("channel") === "epics-id0")
    val n0 = stored.count().toInt
    val span = stored.agg(org.apache.spark.sql.functions.min("ts"),
      org.apache.spark.sql.functions.max("ts")).collect().head
    // the window covers every sample (and its 1 ns-later copy below), so
    // a step's new files are read whole: each must encode exactly its
    // own rows of the channel
    val lo = span.getLong(0) - 1
    val hi = span.getLong(1) + 2
    def encodes(expected: Int): Vector[String] = {
      val before = DecodedRowCache.encodedElements.get
      val fast = DirectServeTyped.tryServe(spark, cfg, store, "epics:pv0",
        lo, hi, None, ManifestBackend, refuseDisabled = false)
        .map(_.toVector)
      val slow = ConfiguredArchive.serveJsonTypedSpark(spark, cfg, store,
        "epics:pv0", lo, hi, None, ManifestBackend).toVector
      assert(fast.contains(slow))
      assert(DecodedRowCache.encodedElements.get - before == expected)
      slow
    }
    assert(n0 > 10)
    val first = encodes(n0)
    assert(first.nonEmpty)
    assert(encodes(0) == first)
    ManifestStore.commit(stored.withColumn("ts", col("ts") + 1L), store, 0L)
    val grown = encodes(n0)
    assert(grown.size == 2 * first.size)
    assert(ManifestStore.compactAll(spark, store, 0L).nonEmpty)
    assert(encodes(2 * n0) == grown)
    assert(ManifestStore.vacuum(spark, store, graceMs = 0)
      .exists(_.endsWith(".parquet")))
    assert(encodes(0) == grown)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(store))
    val mid = lo + (hi - lo) / 2
    ConfiguredArchive.materializeTyped(spark, cfg, store,
      source.where(col("ts") < mid))
    val n1 = ManifestStore.read(spark, store, 0L)
      .where(col("channel") === "epics-id0").count().toInt
    assert(n1 > 0 && n1 < n0)
    val recreated = encodes(n1)
    assert(recreated.nonEmpty && recreated.size < first.size)
    assert(encodes(0) == recreated)
  }
}
