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
