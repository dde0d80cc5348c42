package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.archive.{ArchiveReader, ChannelConfig, ChannelDisabledException,
  ConfigCommands, ConfiguredArchive, DecodedRowCache, DirectServe,
  ManifestBackend, ManifestStore, NoSuchChannelException,
  NoStoredDataException}

/** Byte-parity gate for the driver-side direct-read serve path
  * ([[DirectServe]]): every in-envelope request must produce EXACTLY
  * the bytes of the DataFrame path ([[ConfiguredArchive.serveJsonSpark]])
  * — across boundary modes, decimated level selection, null values,
  * non-finite doubles, duplicate timestamps from separate commits, and
  * the before-first-sample edge; out-of-envelope requests (retention
  * fallback across levels, more row groups than the budget) must
  * decline so the engine path answers. The process-wide decoded-rows
  * cache must never change an answer: not across commits, compaction,
  * vacuum or a store recreated at the same path, and not whether a
  * request falls back; a stale concurrent version listing must not
  * purge it.
  */
class DirectServeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val NS = graft.core.Samples.NS
  private val T0 = 1704067200L * NS
  private val Widened = Some(ArchiveReader.AtOrWidened)

  private def row(ch: String, i: Int, v: Option[Double]) =
    (ch, T0 + i * 60L * NS, v, "", 0, 0, i.toLong)

  /** Raw-only store (no decimation level touches the non-finite
    * values): a weird-values channel, a late-data channel, and a
    * cross-commit duplicate timestamp.
    */
  private lazy val fx: (String, String) = {
    import spark.implicits._
    val cfgDir = Files.createTempDirectory("dscfg").toString
    val store = Files.createTempDirectory("dsstore").toString
    Seq(
      ChannelConfig("pv:w", "id-w", "ca", enabled = true, Map(), Map()),
      ChannelConfig("pv:late", "id-late", "ca", enabled = true, Map(), Map()),
      ChannelConfig("pv:off", "id-off", "ca", enabled = false, Map(), Map()),
      ChannelConfig("pv:empty", "id-empty", "ca", enabled = true, Map(), Map())
    ).foreach(c => ConfigCommands.addChannel(spark, cfgDir, c))
    val weird = (1 to 600).map { i =>
      val v: Option[Double] = i match {
        case 5 => Some(Double.NaN)
        case 6 => Some(Double.PositiveInfinity)
        case 7 => Some(Double.NegativeInfinity)
        case 8 => Some(-0.0)
        case 9 => Some(1e-7)
        case 10 => Some(1.5e300)
        case 11 => None
        case _ => Some(i * 1.25)
      }
      row("pv:w", i, v)
    }
    // pv:late starts five days after T0 — the before-first-sample edge
    val late = (1 to 60).map(i => row("pv:late", 7200 + i, Some(i.toDouble)))
    val df = (weird ++ late)
      .toDF("channel", "ts", "value", "str_value", "severity", "status",
        "sample_id")
    ConfiguredArchive.materialize(spark, cfgDir, store, df)
    // a second commit re-sends one existing timestamp (same value) —
    // dropDuplicates territory on the engine path
    ConfiguredArchive.ingestRaw(spark, cfgDir, store,
      Seq(row("pv:w", 20, Some(20 * 1.25)))
        .toDF("channel", "ts", "value", "str_value", "severity", "status",
          "sample_id"))
    (cfgDir, store)
  }

  /** Decimated store: one clean channel with a 1 h level. */
  private lazy val fxC: (String, String) = {
    import spark.implicits._
    val cfgDir = Files.createTempDirectory("dscfgc").toString
    val store = Files.createTempDirectory("dsstorec").toString
    ConfigCommands.addChannel(spark, cfgDir, ChannelConfig("pv:c", "id-c",
      "ca", enabled = true, Map(), Map(3600L -> 0L)))
    val clean = (1 to 3000).map(i => row("pv:c", i, Some(i % 97 * 0.5)))
    ConfiguredArchive.materialize(spark, cfgDir, store,
      clean.toDF("channel", "ts", "value", "str_value", "severity",
        "status", "sample_id"))
    (cfgDir, store)
  }

  private def bothIn(fix: (String, String))(name: String, lo: Long, hi: Long,
                     count: Option[Long],
                     loMode: Option[ArchiveReader.LimitMode] = Widened,
                     hiMode: Option[ArchiveReader.LimitMode] = Widened)
      : (Option[Vector[String]], Vector[String]) = {
    val (cfgDir, store) = fix
    val fast = DirectServe.tryServe(spark, cfgDir, store, name, lo, hi,
      count, ManifestBackend, loMode, hiMode, refuseDisabled = false)
      .map(_.toVector)
    val slow = ConfiguredArchive.serveJsonSpark(spark, cfgDir, store, name,
      lo, hi, count, ManifestBackend, loMode, hiMode).toVector
    (fast, slow)
  }

  private def both(name: String, lo: Long, hi: Long, count: Option[Long],
                   loMode: Option[ArchiveReader.LimitMode] = Widened,
                   hiMode: Option[ArchiveReader.LimitMode] = Widened)
      : (Option[Vector[String]], Vector[String]) =
    bothIn(fx)(name, lo, hi, count, loMode, hiMode)

  test("raw widened serve is byte-identical, including non-finite and " +
      "null values") {
    val (fast, slow) = both("pv:w", T0 + 3 * 60L * NS, T0 + 30 * 60L * NS,
      None)
    assert(fast.isDefined, "fast path must engage on a scalar manifest store")
    assert(fast.get == slow)
    assert(slow.nonEmpty)
    val all = slow.mkString("\n")
    assert(all.contains("\"NaN\"") && all.contains("\"Infinity\"") &&
      all.contains("\"-Infinity\"") && all.contains("[null]") &&
      all.contains("1.0E-7") && all.contains("1.5E300") &&
      all.contains("-0.0"))
  }

  test("exact bounds (count-driven default) are byte-identical") {
    val (fast, slow) = both("pv:w", T0 + 5 * 60L * NS, T0 + 90 * 60L * NS,
      Some(1000000L), loMode = None, hiMode = None)
    assert(fast.isDefined)
    assert(fast.get == slow)
  }

  test("count-driven serve picks the decimated level and stays " +
      "byte-identical") {
    // 3000 minutes at count 50 → perfect period 3600 s → the 1h level
    val (fast, slow) = bothIn(fxC)("pv:c", T0, T0 + 3000 * 60L * NS,
      Some(50L))
    assert(fast.isDefined)
    assert(fast.get == slow)
    assert(slow.size > 10)
  }

  test("request entirely before the first sample serves only the " +
      "at-or-after boundary sample on both paths") {
    val (fast, slow) = both("pv:late", T0, T0 + 10 * 60L * NS, None)
    assert(fast.isDefined)
    assert(fast.get == slow)
    assert(slow.size == 1)
    assert(slow.head.contains(s"\"time\":${T0 + 7201 * 60L * NS}"))
  }

  test("request entirely after the last sample serves only the " +
      "at-or-before boundary sample on both paths") {
    val farLo = T0 + 20000 * 60L * NS
    val (fast, slow) = both("pv:w", farLo, farLo + 60L * NS, None)
    assert(fast.isDefined)
    assert(fast.get == slow)
    assert(slow.size == 1)
    assert(slow.head.contains(s"\"time\":${T0 + 600 * 60L * NS}"))
  }

  test("a scalar boundary sample 3000 days before the window is served " +
      "on both paths (the scalar boundary has no reach cap)") {
    val cfgDir = Files.createTempDirectory("dscfgf").toString
    val store = Files.createTempDirectory("dsstoref").toString
    ConfigCommands.addChannel(spark, cfgDir, ChannelConfig("pv:far", "id-far",
      "ca", enabled = true, Map(), Map()))
    val Day = 86400L * NS
    val start = T0 + 3000 * Day
    ConfiguredArchive.materialize(spark, cfgDir, store, frame(Seq(
      ("pv:far", T0, Some(1.0), "", 0, 0, 1L),
      ("pv:far", start + 30 * 60L * NS, Some(2.0), "", 0, 0, 2L))))
    val (fast, slow) = bothIn((cfgDir, store))("pv:far", start,
      start + 3600L * NS, None)
    assert(fast.contains(slow))
    assert(slow.size == 2 && slow.head.contains(s"\"time\":$T0,"))
  }

  test("cross-commit duplicate timestamps collapse identically") {
    val (fast, slow) = both("pv:w", T0 + 19 * 60L * NS, T0 + 21 * 60L * NS,
      None)
    assert(fast.isDefined)
    assert(fast.get == slow)
    assert(slow.count(_.contains(s"\"time\":${T0 + 20 * 60L * NS}")) == 1)
  }

  test("error signals match the engine path") {
    val (cfgDir, store) = fx
    intercept[NoSuchChannelException] {
      DirectServe.tryServe(spark, cfgDir, store, "pv:nope", T0, T0 + NS,
        None, ManifestBackend, Widened, Widened, refuseDisabled = false)
    }
    intercept[ChannelDisabledException] {
      DirectServe.tryServe(spark, cfgDir, store, "pv:off", T0, T0 + NS,
        None, ManifestBackend, Widened, Widened, refuseDisabled = true)
    }
    intercept[NoStoredDataException] {
      DirectServe.tryServe(spark, cfgDir, store, "pv:empty", T0, T0 + NS,
        None, ManifestBackend, Widened, Widened, refuseDisabled = false)
    }
  }

  test("retention fallback across levels declines the fast path and " +
      "serveJson still answers through the engine") {
    import spark.implicits._
    val cfgDir = Files.createTempDirectory("dscfg2").toString
    val store = Files.createTempDirectory("dsstore2").toString
    // raw keeps 2 days, the 1 h level keeps everything → a request
    // spanning old history plans two segments. Retention applies AFTER
    // the cascade so the 1 h level retains what raw dropped.
    ConfigCommands.addChannel(spark, cfgDir, ChannelConfig("pv:r", "id-r",
      "ca", enabled = true, Map(), Map(3600L -> 0L)))
    val df = (0 until 5 * 1440).map(i =>
        ("pv:r", T0 + i * 60L * NS, Some(i * 0.5), "", 0, 0, i.toLong))
      .toDF("channel", "ts", "value", "str_value", "severity", "status",
        "sample_id")
    ConfiguredArchive.materialize(spark, cfgDir, store, df)
    ManifestBackend.applyRetention(spark, store, 0L, 2L * 86400L * NS)
    val fast = DirectServe.tryServe(spark, cfgDir, store, "pv:r",
      T0, T0 + 5L * 86400L * NS, None, ManifestBackend, Widened, Widened,
      refuseDisabled = false)
    assert(fast.isEmpty, "multi-segment plans must fall back")
    val served = ConfiguredArchive.serveJson(spark, cfgDir, store, "pv:r",
      T0, T0 + 5L * 86400L * NS, None, ManifestBackend, Widened, Widened)
      .toVector
    val slow = ConfiguredArchive.serveJsonSpark(spark, cfgDir, store, "pv:r",
      T0, T0 + 5L * 86400L * NS, None, ManifestBackend, Widened, Widened)
      .toVector
    assert(served == slow)
    assert(served.size > 1440)
  }

  private def frame(rows: Seq[(String, Long, Option[Double], String, Int,
                               Int, Long)]) = {
    import spark.implicits._
    rows.toDF("channel", "ts", "value", "str_value", "severity", "status",
      "sample_id")
  }

  test("decoded-rows cache: byte-identical across commit, compact, " +
      "vacuum and store recreate; an unchanged file set decodes nothing") {
    val cfgDir = Files.createTempDirectory("dscfgk").toString
    val store = Files.createTempDirectory("dsstorek").toString
    ConfigCommands.addChannel(spark, cfgDir, ChannelConfig("pv:k", "id-k",
      "ca", enabled = true, Map(), Map()))
    val lo = T0 + 30 * 60L * NS
    val hi = T0 + 900 * 60L * NS
    def check(): Vector[String] = {
      val (fast, slow) = bothIn((cfgDir, store))("pv:k", lo, hi, None)
      assert(fast.contains(slow))
      slow
    }
    ConfiguredArchive.materialize(spark, cfgDir, store,
      frame((1 to 600).map(i => row("pv:k", i, Some(i * 0.5)))))
    val first = check()

    // a new manifest version over the same files: planning and the
    // serve read only cached rows
    val m = ManifestStore.latestManifest(spark, store).get
    ManifestStore.commitEntries(spark, store, Nil, m.schema)
    assert(ManifestStore.latestVersion(spark, store).get > m.version)
    val before = DecodedRowCache.decodedGroups.get
    assert(check() == first)
    assert(DecodedRowCache.decodedGroups.get == before,
      "a repeated request over an unchanged file set decoded row groups")
    // a concurrent reader's listing that began before that commit
    // reports the older version: stale, not a store recreate, so the
    // cache survives it
    ManifestStore.noteObservedVersion(
      new org.apache.hadoop.fs.Path(store).getFileSystem(
        spark.sparkContext.hadoopConfiguration), store, m.version)
    assert(check() == first)
    assert(DecodedRowCache.decodedGroups.get == before,
      "a stale version listing purged the decoded-rows cache")

    // new rows in a second file of the same day
    ConfiguredArchive.ingestRaw(spark, cfgDir, store,
      frame((601 to 800).map(i => row("pv:k", i, Some(i * 0.5)))))
    val grown = check()
    assert(grown.size > first.size)

    // compaction swaps in a new file; vacuum then deletes the cached ones
    assert(ManifestStore.compactAll(spark, store, 0L).nonEmpty)
    assert(check() == grown)
    assert(ManifestStore.vacuum(spark, store, graceMs = 0)
      .exists(_.endsWith(".parquet")))
    assert(check() == grown)

    // deleted and recreated at the same path with other values
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(store))
    ConfiguredArchive.materialize(spark, cfgDir, store,
      frame((1 to 600).map(i => row("pv:k", i, Some(i * 3.0)))))
    val recreated = check()
    assert(recreated.exists(_.contains("\"value\":[90.0]")))
    assert(!recreated.exists(_.contains("\"value\":[15.0]")))
  }

  test("wire elements are encoded once per cached file: a repeated " +
      "request encodes nothing, and commit, compact, vacuum and recreate " +
      "encode only the files they add") {
    val cfgDir = Files.createTempDirectory("dscfge").toString
    val store = Files.createTempDirectory("dsstoree").toString
    ConfigCommands.addChannel(spark, cfgDir, ChannelConfig("pv:e", "id-e",
      "ca", enabled = true, Map(), Map()))
    // the window covers every sample, so a step's new files are read
    // whole: each must encode exactly its own rows of the channel
    val lo = T0
    val hi = T0 + 2000 * 60L * NS
    def encodes(expected: Int): Vector[String] = {
      val before = DecodedRowCache.encodedElements.get
      val (fast, slow) = bothIn((cfgDir, store))("pv:e", lo, hi, None)
      assert(fast.contains(slow))
      assert(DecodedRowCache.encodedElements.get - before == expected)
      slow
    }
    ConfiguredArchive.materialize(spark, cfgDir, store,
      frame((1 to 600).map(i => row("pv:e", i, Some(i * 0.5)))))
    val first = encodes(600)
    assert(first.size == 600)
    assert(encodes(0) == first)
    // a manifest-only commit: the same files under a new version
    val m = ManifestStore.latestManifest(spark, store).get
    ManifestStore.commitEntries(spark, store, Nil, m.schema)
    assert(encodes(0) == first)
    ConfiguredArchive.ingestRaw(spark, cfgDir, store,
      frame((601 to 800).map(i => row("pv:e", i, Some(i * 0.5)))))
    val grown = encodes(200)
    assert(grown.size == 800)
    assert(ManifestStore.compactAll(spark, store, 0L).nonEmpty)
    assert(encodes(800) == grown)
    assert(ManifestStore.vacuum(spark, store, graceMs = 0)
      .exists(_.endsWith(".parquet")))
    assert(encodes(0) == grown)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(store))
    ConfiguredArchive.materialize(spark, cfgDir, store,
      frame((1 to 300).map(i => row("pv:e", i, Some(i * 3.0)))))
    val recreated = encodes(300)
    assert(recreated.exists(_.contains("\"value\":[90.0]")))
    assert(encodes(0) == recreated)
  }

  test("a request over the row-group budget falls back on a cold and on " +
      "a warm cache alike") {
    val cfgDir = Files.createTempDirectory("dscfgg").toString
    val store = Files.createTempDirectory("dsstoreg").toString
    ConfigCommands.addChannel(spark, cfgDir, ChannelConfig("pv:g", "id-g",
      "ca", enabled = true, Map(), Map()))
    val Day = 86400L * NS
    // three one-day files of ~30 tiny row groups each: any one day fits
    // the 64-group budget, all three do not
    spark.conf.set("parquet.block.size", "1")
    try (0 until 3).foreach { d =>
      ConfiguredArchive.ingestRaw(spark, cfgDir, store, frame(
        (0 until 3000).map(i => ("pv:g", T0 + d * Day + i * 28L * NS,
          Some(i * 0.25), "", 0, 0, d * 3000L + i))))
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

    val exact = Some(ArchiveReader.Exact)
    def serve(from: Long, to: Long) =
      bothIn((cfgDir, store))("pv:g", from, to, None, exact, exact)
    val (coldFast, _) = serve(T0, T0 + 3 * Day)
    assert(coldFast.isEmpty, "a cold request over budget must fall back")
    (0 until 3).foreach { d =>
      val (fast, slow) = serve(T0 + d * Day, T0 + (d + 1) * Day - 1)
      assert(fast.contains(slow) && slow.size == 3000)
    }
    val before = DecodedRowCache.decodedGroups.get
    val (warmFast, slow) = serve(T0, T0 + 3 * Day)
    assert(DecodedRowCache.decodedGroups.get == before,
      "every file of the warm request was cached")
    assert(warmFast.isEmpty, "a warm request over budget must fall back")
    assert(ConfiguredArchive.serveJson(spark, cfgDir, store, "pv:g",
      T0, T0 + 3 * Day, None, ManifestBackend, exact, exact).toVector == slow)
  }

  test("a serve through a snapshot resolved before a commit returns the " +
      "older version's bytes; the next request returns the new ones") {
    val cfgDir = Files.createTempDirectory("dscfgs").toString
    val store = Files.createTempDirectory("dsstores").toString
    ConfigCommands.addChannel(spark, cfgDir, ChannelConfig("pv:s", "id-s",
      "ca", enabled = true, Map(), Map()))
    ConfiguredArchive.materialize(spark, cfgDir, store,
      frame((1 to 600).map(i => row("pv:s", i, Some(i * 0.5)))))
    val (lo, hi) = (T0 + 500 * 60L * NS, T0 + 900 * 60L * NS)
    def spark0(): Vector[String] = ConfiguredArchive.serveJsonSpark(spark,
      cfgDir, store, "pv:s", lo, hi, None, ManifestBackend, Widened,
      Widened).toVector
    val snap = ConfiguredArchive.snapshot(spark, cfgDir, store,
      ManifestBackend)
    val older = spark0()
    ConfiguredArchive.ingestRaw(spark, cfgDir, store,
      frame((601 to 700).map(i => row("pv:s", i, Some(i * 0.5)))))
    val newer = spark0()
    assert(newer.size == older.size + 100)
    assert(DirectServe.tryServe(spark, snap, "pv:s", lo, hi, None, Widened,
      Widened, refuseDisabled = false).map(_.toVector).contains(older))
    assert(ConfiguredArchive.serveJson(spark, snap, "pv:s", lo, hi, None,
      Widened, Widened, refuseDisabled = false).toVector == older)
    assert(ConfiguredArchive.serveJson(spark, cfgDir, store, "pv:s", lo, hi,
      None, ManifestBackend, Widened, Widened).toVector == newer)
  }
}
