package graft.archive

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Bit-for-bit parity of the driver-side panel folds ([[DirectPanels]])
  * against their engine twins (the queryX DataFrame paths the HTTP
  * handlers previously always ran) — over the shapes that break naive
  * replicas: NaN values, null-valued samples, duplicate timestamps
  * from separate commits, value ties inside a bucket, empty buckets,
  * a held marker masking a derived grid, and division by zero. M4 and
  * LTTB are also compared as wire bodies, byte for byte, over signed
  * zeros, cross-file duplicate timestamps and extreme bucket counts,
  * and their engine fallbacks are pinned to the request's snapshot.
  */
class DirectPanelsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val NS = graft.core.Samples.NS
  private val T0 = 1704067200L * NS

  private lazy val fx: (String, String) = {
    import spark.implicits._
    val cfgDir = Files.createTempDirectory("dpcfg").toString
    val store = Files.createTempDirectory("dpstore").toString
    Seq(
      ChannelConfig("pv:m", "idm", "ca", enabled = true, Map(), Map()),
      ChannelConfig("pv:b", "idb", "ca", enabled = true, Map(), Map())
    ).foreach(c => ConfigCommands.addChannel(spark, cfgDir, c))
    def row(ch: String, i: Int, v: Option[Double]) =
      (ch, T0 + i * 60L * NS, v, "", 0, 0, i.toLong)
    val m = (0 until 600).filterNot(i => i >= 200 && i < 250).map { i =>
      val v: Option[Double] = i match {
        case 5 => Some(Double.NaN)
        case 6 => None // held marker shape
        // an ALL-NaN run wide enough to own whole buckets at every
        // tested k — the engine's decimal sum of such a bucket is
        // NULL, its LTTB anchor is NULL, and neighboring buckets'
        // areas go NULL (nulls sort first): the fast path must bias
        // identically, not treat the dead bucket's anchor as zero
        case _ if i >= 300 && i < 360 => Some(Double.NaN)
        case _ =>
          val base = math.sin(i * 0.21) * 10.0 + (if (i >= 400) 15.0 else 0.0)
          // value ties inside a bucket every ~97 samples
          Some(if (i % 97 == 0) 42.0 else base)
      }
      row("pv:m", i, v)
    }
    val b = (0 until 300 by 7).map { i =>
      val v: Option[Double] =
        if (i == 140) None // marker masks the hold
        else if (i == 70) Some(0.0) // division-by-zero shape
        else Some(i * 0.3 - 20.0)
      row("pv:b", i, v)
    }
    ConfiguredArchive.materialize(spark, cfgDir, store,
      (m ++ b).toDF("channel", "ts", "value", "str_value", "severity",
        "status", "sample_id"))
    // duplicate-timestamp rows via a second commit
    ConfiguredArchive.ingestRaw(spark, cfgDir, store,
      Seq(row("pv:m", 20, Some(math.sin(20 * 0.21) * 10.0)))
        .toDF("channel", "ts", "value", "str_value", "severity",
          "status", "sample_id"))
    (cfgDir, store)
  }

  private def rowsOf(name: String, lo: Option[Long], hi: Long) = {
    val (cfg, store) = fx
    val r = DirectServe.tryRawRows(spark, cfg, store, name, lo, hi,
      ManifestBackend, refuseDisabled = false)
    assert(r.isDefined, "fast row fetch must engage on the fixture store")
    r.get
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  /** A picked row as (ts, value bits). */
  private def pt(h: DirectServe.Hit[DirectServe.ScalarRows]): (Long, Long) =
    (h.ts, bits(h.e.rows.double(h.i)))

  test("m4 corner points match the engine bit for bit") {
    val (cfg, store) = fx
    val lo = T0; val hi = T0 + 600L * 60L * NS
    for (k <- Seq(1, 7, 37)) {
      val eng = Analytics.m4Points(ConfiguredArchive.queryM4(spark, cfg,
          store, "pv:m", lo, hi, k))
        .orderBy("ts").collect()
        .map(r => (r.getLong(r.fieldIndex("ts")),
          bits(r.getDouble(r.fieldIndex("value"))))).toVector
      val fast = DirectPanels.m4Points(rowsOf("pv:m", Some(lo), hi),
        lo, hi, k).map(pt).toVector
      assert(fast == eng, s"m4 k=$k diverged")
    }
  }

  test("lttb picks match the engine bit for bit") {
    val (cfg, store) = fx
    val lo = T0; val hi = T0 + 600L * 60L * NS
    for (k <- Seq(3, 12, 50)) {
      val eng = ConfiguredArchive.queryLttb(spark, cfg, store, "pv:m",
          lo, hi, k)
        .orderBy("ts").collect()
        .map(r => (r.getLong(r.fieldIndex("ts")),
          bits(r.getDouble(r.fieldIndex("value"))))).toVector
      val fast = DirectPanels.lttb(rowsOf("pv:m", Some(lo), hi),
        lo, hi, k).map(pt).toVector
      assert(fast == eng, s"lttb k=$k diverged")
    }
  }

  test("stats matches the engine bit for bit") {
    val (cfg, store) = fx
    val lo = T0; val hi = T0 + 600L * 60L * NS
    val eng = ConfiguredArchive.queryStats(spark, cfg, store, "pv:m",
        lo, hi)
      .select("n_samples", "v_min", "p50", "p90", "p99", "v_max")
      .collect().head
    val fast = DirectPanels.stats(rowsOf("pv:m", Some(lo), hi)).get
    assert(fast._1 == eng.getLong(0))
    assert(Seq(fast._2, fast._3, fast._4, fast._5, fast._6).map(bits) ==
      (1 to 5).map(i => bits(eng.getDouble(i))))
  }

  test("spectrum matches the engine bit for bit") {
    val (cfg, store) = fx
    val lo = T0; val hi = T0 + 600L * 60L * NS - 1
    val periods = Seq(600L * NS, 1800L * NS, 7200L * NS)
    val eng = ConfiguredArchive.querySpectrum(spark, cfg, store, "pv:m",
        lo, hi, periods)
      .select("period_s", "n", "power").orderBy("period_s").collect()
      .map(r => (r.getLong(0), r.getLong(1), bits(r.getDouble(2)))).toVector
    val fast = DirectPanels.spectrum(rowsOf("pv:m", Some(lo), hi),
      lo, hi + 1, periods).map(t => (t._1, t._2, bits(t._3))).toVector
    assert(fast == eng)
  }

  test("cusum matches the engine bit for bit") {
    val (cfg, store) = fx
    val lo = T0; val hi = T0 + 600L * 60L * NS - 1
    val eng = ConfiguredArchive.queryCusum(spark, cfg, store, "pv:m",
        lo, hi, 0.5, 3.0)
      .select("n_samples", "n_hi", "n_lo", "t_first_hi", "t_first_lo",
        "peak_hi", "peak_lo").collect().head
    val fast = DirectPanels.cusum(rowsOf("pv:m", Some(lo), hi),
      lo, hi + 1, 0.5, 3.0).get
    assert(fast._1 == eng.getLong(0) && fast._2 == eng.getLong(1) &&
      fast._3 == eng.getLong(2))
    assert(fast._4 == (if (eng.isNullAt(3)) None else Some(eng.getLong(3))))
    assert(fast._5 == (if (eng.isNullAt(4)) None else Some(eng.getLong(4))))
    assert(bits(fast._6) == bits(eng.getDouble(5)) &&
      bits(fast._7) == bits(eng.getDouble(6)))
    // the shifted tail must actually trip the detector, or this test
    // proves nothing
    assert(fast._2 > 0)
  }

  test("derived grid matches the engine bit for bit, markers mask, " +
      "division by zero flows through") {
    val (cfg, store) = fx
    val start = T0 + 10L * 60L * NS
    val end = T0 + 300L * 60L * NS
    val step = 90L * NS
    for (op <- Seq("sub", "mul")) {
      val eng = ConfiguredArchive.queryDerived(spark, cfg, store, "pv:m",
          "pv:b", op, start, end, step)
        .orderBy("ts").collect()
        .map(r => (r.getLong(r.fieldIndex("ts")),
          bits(r.getDouble(r.fieldIndex("value"))))).toVector
      val fast = DirectPanels.derived(
        rowsOf("pv:m", None, end), rowsOf("pv:b", None, end),
        ConfiguredArchive.DerivedOpsD(op), start, end, step)
        .map(p => (p._1, bits(p._2)))
      assert(fast == eng, s"derived op=$op diverged")
    }
    // a zero divisor: ANSI Spark throws even for doubles, and the
    // fast path must refuse identically rather than serve Infinity
    intercept[Exception] {
      ConfiguredArchive.queryDerived(spark, cfg, store, "pv:m", "pv:b",
        "div", start, end, step).collect()
    }
    intercept[ArithmeticException] {
      DirectPanels.derived(rowsOf("pv:m", None, end),
        rowsOf("pv:b", None, end), ConfiguredArchive.DerivedOpsD("div"),
        start, end, step)
    }
  }

  // ---- wire bodies over the edge shapes -----------------------------

  /** One channel, 300 one-minute samples, with a 60-minute gap (empty
    * buckets), value ties, signed zeros tying as a bucket's minimum
    * (minutes 40–49) and maximum (60–69), NaN, null markers; compacted
    * into one file, then overlapped by a fresh commit that re-sends
    * some timestamps with other values (later arrivals). */
  private lazy val edge: (String, String) = {
    import spark.implicits._
    val cfgDir = Files.createTempDirectory("dpecfg").toString
    val store = Files.createTempDirectory("dpestore").toString
    ConfigCommands.addChannel(spark, cfgDir,
      ChannelConfig("pv:e", "ide", "ca", enabled = true, Map(), Map()))
    def frame(rows: Seq[(Int, Option[Double], Long)]): DataFrame =
      rows.map { case (i, v, sid) =>
        ("pv:e", T0 + i * 60L * NS, v, "", 0, 0, sid)
      }.toDF("channel", "ts", "value", "str_value", "severity", "status",
        "sample_id")
    val base = (0 until 300).filterNot(i => i >= 100 && i < 160).map { i =>
      val v: Option[Double] = i match {
        case 41 | 47 => Some(0.0)
        case 43 => Some(-0.0)
        case _ if i >= 40 && i < 50 => Some(1.0 + i)
        case 61 => Some(-0.0)
        case 64 | 66 => Some(0.0)
        case _ if i >= 60 && i < 70 => Some(-1.0 - i)
        case 80 | 85 => Some(Double.NaN)
        case 90 | 91 => None
        case 171 | 173 => Some(-5.0) // a value tie for the minimum
        case _ if i % 10 == 3 => Some(7.5)
        case _ => Some(math.cos(i * 0.3) * 4.0)
      }
      (i, v, i.toLong)
    }
    ConfiguredArchive.materialize(spark, cfgDir, store,
      frame(base.filter(_._1 < 200)))
    ConfiguredArchive.ingestRaw(spark, cfgDir, store,
      frame(base.filter(_._1 >= 200)))
    ManifestStore.compactAll(spark, store, 0L)
    // the fresh commit: duplicate timestamps with other values, one
    // that only becomes a minimum, one a maximum, one the last corner
    ConfiguredArchive.ingestRaw(spark, cfgDir, store, frame(Seq(
      (200, Some(-300.0), 100200L), (205, Some(300.0), 100205L),
      (206, Some(4.0), 100206L), (209, Some(-0.5), 100209L),
      (250, Some(123.0), 100250L), (299, Some(-7.0), 100299L),
      (300, Some(1.0), 100300L))))
    val files = ManifestStore.latestManifest(spark, store).get.files
      .filter(_.levelSec == 0L)
    assert(files.size >= 2 && files.exists(a => files.exists(b =>
      (a ne b) && a.minTs <= b.maxTs && b.minTs <= a.maxTs)),
      "the fixture needs two overlapping raw files")
    (cfgDir, store)
  }

  private def engineBody(df: DataFrame): Vector[String] =
    JsonV1.serializeRaw(df.withColumn("severity", lit(0))
        .withColumn("status", lit(0)))
      .orderBy("ts").select("json").collect().map(_.getString(0)).toVector

  private def edgeRows(lo: Long, hi: Long): DirectServe.PanelRows = {
    val (cfg, store) = edge
    DirectServe.tryRawRows(spark, cfg, store, "pv:e", Some(lo), hi,
      ManifestBackend, refuseDisabled = false).get
  }

  private val EdgeWindows = Seq(
    (T0, T0 + 300L * 60L * NS),
    (T0 + 37L * 60L * NS + 13L * NS, T0 + 301L * 60L * NS))

  test("m4 bodies equal the engine's byte for byte over ties, cross-file " +
      "duplicate timestamps, NaN, signed zeros, nulls, empty buckets, " +
      "k = 1, k above the row count and an overflowing (ts - lo) * k") {
    val (cfg, store) = edge
    for ((lo, hi) <- EdgeWindows;
         k <- Seq(1, 7, 30, 97, 5000, 2000000000)) {
      val eng = engineBody(Analytics.m4Points(ConfiguredArchive.queryM4(
        spark, cfg, store, "pv:e", lo, hi, k)))
      val picked = DirectPanels.m4Points(edgeRows(lo, hi), lo, hi, k)
      // each point alone (cold at first), then from its file's encoding
      for (fast <- Seq(picked.map(DirectServe.pointWire).toVector,
                       picked.map(DirectServe.wire).toVector))
        assert(fast == eng, s"m4 k=$k over [$lo, $hi) diverged")
    }
  }

  test("lttb bodies equal the engine's byte for byte over the same " +
      "shapes") {
    val (cfg, store) = edge
    for ((lo, hi) <- EdgeWindows; k <- Seq(3, 12, 30, 5000, 2000000000)) {
      val eng = engineBody(ConfiguredArchive.queryLttb(spark, cfg, store,
        "pv:e", lo, hi, k))
      val picked = DirectPanels.lttb(edgeRows(lo, hi), lo, hi, k)
      for (fast <- Seq(picked.map(DirectServe.pointWire).toVector,
                       picked.map(DirectServe.wire).toVector))
        assert(fast == eng, s"lttb k=$k over [$lo, $hi) diverged")
    }
  }

  test("m4 and lttb at k = 2,000,000,000 allocate nothing sized by k") {
    val (lo, hi) = EdgeWindows.head
    val rows = edgeRows(lo, hi)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def allocated(f: => Any): Long = {
      val id = Thread.currentThread.getId
      val before = mx.getThreadAllocatedBytes(id)
      f
      mx.getThreadAllocatedBytes(id) - before
    }
    // one array slot per bucket would be gigabytes; a few hundred rows
    // cost kilobytes
    for ((name, fold) <- Seq[(String, () => Any)](
        "m4" -> (() => DirectPanels.m4Points(rows, lo, hi, 2000000000)),
        "lttb" -> (() => DirectPanels.lttb(rows, lo, hi, 2000000000)))) {
      fold() // warm
      val bytes = allocated(fold())
      assert(bytes < (4L << 20), s"$name allocated $bytes bytes")
    }
  }

  test("an m4 or lttb fallback through a snapshot resolved before a " +
      "commit returns the older version's bytes") {
    import spark.implicits._
    val cfgDir = Files.createTempDirectory("dpscfg").toString
    val store = Files.createTempDirectory("dpsstore").toString
    ConfigCommands.addChannel(spark, cfgDir,
      ChannelConfig("pv:s", "ids", "ca", enabled = true, Map(), Map()))
    def frame(is: Seq[Int], v: Int => Double, sid: Int => Long) =
      is.map(i => ("pv:s", T0 + i * 60L * NS, v(i), "", 0, 0, sid(i)))
        .toDF("channel", "ts", "value", "str_value", "severity", "status",
          "sample_id")
    ConfiguredArchive.materialize(spark, cfgDir, store,
      frame(0 until 300, i => math.sin(i * 0.1), _.toLong))
    val (lo, hi) = (T0, T0 + 400L * 60L * NS)
    def bodies(): (Vector[String], Vector[String]) = (
      engineBody(Analytics.m4Points(ConfiguredArchive.queryM4(spark,
        cfgDir, store, "pv:s", lo, hi, 10))),
      engineBody(ConfiguredArchive.queryLttb(spark, cfgDir, store, "pv:s",
        lo, hi, 10)))
    val snap = ConfiguredArchive.snapshot(spark, cfgDir, store,
      ManifestBackend)
    val older = bodies()
    // new rows past the old end, and a re-sent timestamp that becomes
    // a bucket's maximum
    ConfiguredArchive.ingestRaw(spark, cfgDir, store,
      frame((300 until 400) :+ 150, i => if (i == 150) 99.0 else i * 0.01,
        i => 1000L + i))
    val newer = bodies()
    assert(newer._1 != older._1 && newer._2 != older._2)
    assert(engineBody(Analytics.m4Points(ConfiguredArchive.queryM4(spark,
      snap, "pv:s", lo, hi, 10, refuseDisabled = false))) == older._1)
    assert(engineBody(ConfiguredArchive.queryLttb(spark, snap, "pv:s", lo,
      hi, 10, refuseDisabled = false)) == older._2)
  }
}
