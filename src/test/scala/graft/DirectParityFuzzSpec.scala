package graft.archive

import java.nio.file.Files

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Property-fuzzed byte-parity between the driver-side direct serve
  * ([[DirectServe]] / [[DirectServeTyped]]) and the engine path — the
  * drift insurance for the dual-implementation surface: generated
  * store layouts (random channels, gaps, markers, NaN/Inf/-0.0/null
  * values, duplicate timestamps, commit splits, decimated levels,
  * non-ASCII channel ids incl. supplementary-plane) across every
  * endpoint shape, asserting the fast path either DECLINES or serves
  * the engine's exact bytes. ≥200 generated per-channel layouts per
  * run, scalar and typed; seeds fixed for reproducibility.
  */
class DirectParityFuzzSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val NS = graft.core.Samples.NS
  private val T0 = 1704067200L * NS
  private val Widened = Some(ArchiveReader.AtOrWidened)

  // ---- scalar layout generator ---------------------------------------

  /** One channel's life: rows (ts, value, severity, commit index). */
  private case class ChLayout(name: String,
                              rows: Seq[(Long, Option[Double], Int, Int)])

  private val valGen: Gen[Option[Double]] = Gen.frequency(
    12 -> Gen.choose(-1000.0, 1000.0).map(Some(_)),
    1 -> Gen.const(Some(Double.NaN)),
    1 -> Gen.const(Some(Double.PositiveInfinity)),
    1 -> Gen.const(Some(Double.NegativeInfinity)),
    1 -> Gen.const(Some(-0.0)),
    1 -> Gen.const(Some(1e-7)),
    1 -> Gen.const(Some(1.5e300)),
    2 -> Gen.const(Option.empty[Double]))

  private def chanGen(name: String): Gen[ChLayout] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 12 -> Gen.choose(1, 50))
    off <- Gen.choose(0L, 2L * 86400L)
    steps <- Gen.listOfN(n, Gen.frequency(
      6 -> Gen.choose(5L, 900L),        // dense run
      2 -> Gen.choose(3600L, 90000L),   // gap / day jump
      2 -> Gen.const(0L)))              // duplicate timestamp
    vs <- Gen.listOfN(n, valGen)
    sevs <- Gen.listOfN(n, Gen.frequency(8 -> Gen.const(0),
      1 -> Gen.const(1), 1 -> Gen.const(3)))
    commits <- Gen.listOfN(n, Gen.frequency(6 -> Gen.const(0),
      2 -> Gen.const(1), 1 -> Gen.const(2)))
  } yield {
    var t = T0 + off * NS
    val rows = (0 until n).map { i =>
      t += steps(i) * NS
      (t, vs(i), sevs(i), commits(i))
    }
    ChLayout(name, rows)
  }

  private def gen[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  /** Build one store from `layouts` with up to three commits (one
    * materialize + up to two ingests — cross-commit duplicates happen
    * whenever a dup-ts row lands in a later commit than its twin).
    * With `resend`, every other channel also gets a fourth commit that
    * re-sends every third of its rows with another value, so those
    * channels hold at least two overlapping files with duplicate
    * timestamps of different values (later arrivals).
    */
  private def buildScalarStore(layouts: Seq[ChLayout], withLevel: Boolean,
                               resend: Boolean = false)
      : (String, String) = {
    import spark.implicits._
    val cfgDir = Files.createTempDirectory("fzcfg").toString
    val store = Files.createTempDirectory("fzstore").toString
    val levels: Map[Long, Long] =
      if (withLevel) Map(3600L -> 0L) else Map()
    layouts.zipWithIndex.foreach { case (l, i) =>
      ConfigCommands.addChannel(spark, cfgDir,
        ChannelConfig(l.name, s"fz-id-$i", "ca", enabled = true, Map(),
          levels))
    }
    var sid = 0L
    val sent = layouts.flatMap { l =>
      l.rows.map { case (ts, v, sev, c) =>
        sid += 1
        (l.name, ts, v, "", sev, 0, sid, c)
      }
    }
    val resent =
      if (!resend) Nil
      else layouts.zipWithIndex.filter(_._2 % 2 == 0).flatMap { case (l, _) =>
        l.rows.zipWithIndex.filter(_._2 % 3 == 0).map {
          case ((ts, v, sev, _), _) =>
            sid += 1
            (l.name, ts, Some(v.fold(2.5)(_ * 2.0 + 1.0)), "", sev, 0, sid, 3)
        }
      }
    val all = sent ++ resent
    def frame(c: Int): DataFrame = all.filter(_._8 == c)
      .map(r => (r._1, r._2, r._3, r._4, r._5, r._6, r._7))
      .toDF("channel", "ts", "value", "str_value", "severity", "status",
        "sample_id")
    ConfiguredArchive.materialize(spark, cfgDir, store, frame(0))
    Seq(1, 2, 3).foreach { c =>
      if (all.exists(_._8 == c))
        ConfiguredArchive.ingestRaw(spark, cfgDir, store, frame(c))
    }
    (cfgDir, store)
  }

  /** Run one request shape on both paths; returns whether the fast
    * path engaged (None = declined, which is always allowed).
    */
  private def compareScalar(cfgDir: String, store: String, name: String,
                            lo: Long, hi: Long, count: Option[Long],
                            loMode: Option[ArchiveReader.LimitMode],
                            hiMode: Option[ArchiveReader.LimitMode],
                            tag: String): Boolean = {
    val fast = Try(DirectServe.tryServe(spark, cfgDir, store, name, lo, hi,
      count, ManifestBackend, loMode, hiMode, refuseDisabled = false)
      .map(_.toVector))
    val slow = Try(ConfiguredArchive.serveJsonSpark(spark, cfgDir, store,
      name, lo, hi, count, ManifestBackend, loMode, hiMode).toVector)
    (fast, slow) match {
      case (Success(Some(f)), Success(s)) =>
        assert(f == s, s"$tag $name: direct/engine bytes diverged\n" +
          s"direct=${f.take(3)}...\nengine=${s.take(3)}...")
        true
      case (Success(None), Success(_)) => false // declined: engine answers
      case (Failure(a), Failure(b)) =>
        assert(a.getClass == b.getClass,
          s"$tag $name: error classes diverged: $a vs $b")
        true
      case (a, b) =>
        fail(s"$tag $name: one path failed, the other answered: $a vs $b")
    }
  }

  test("scalar direct serve is byte-identical to the engine over " +
      "generated layouts (all endpoint shapes)") {
    var layoutCount = 0
    var engaged = 0
    var requests = 0
    for (storeIdx <- 0 until 4) {
      val withLevel = storeIdx % 2 == 1
      val layouts = (0 until 36).map { ci =>
        // two non-ASCII ids per store, one supplementary-plane — the
        // UTF-8 vs UTF-16 ordering edge in chMin/chMax pruning
        val name = ci match {
          case 34 => s"pv:s$storeIdx:priv"
          case 35 => s"pv:s$storeIdx:😀emoji"
          case _ => s"pv:s$storeIdx:c$ci"
        }
        gen(chanGen(name), seed = 1000L * storeIdx + ci)
      }
      layoutCount += layouts.size
      val (cfgDir, store) = buildScalarStore(layouts, withLevel)
      layouts.zipWithIndex.foreach { case (l, ci) =>
        if (l.rows.isEmpty) {
          // both paths must refuse identically
          requests += 1
          if (compareScalar(cfgDir, store, l.name, T0, T0 + NS, None,
            Widened, Widened, s"s$storeIdx/empty")) engaged += 1
        } else {
          val ts = l.rows.map(_._1)
          val (mn, mx) = (ts.min, ts.max)
          val span = math.max(mx - mn, 120L * NS)
          // interior widened window — every channel
          requests += 1
          if (compareScalar(cfgDir, store, l.name, mn + span / 4,
            mn + 3 * span / 4, None, Widened, Widened,
            s"s$storeIdx/interior")) engaged += 1
          // a rotating second shape
          val extra = ci % 4 match {
            case 0 => // entirely before the first sample
              (mn - 3L * 86400L * NS, mn - NS, None: Option[Long],
                Widened, Widened)
            case 1 => // entirely after the last sample
              (mx + NS, mx + 86400L * NS, None: Option[Long],
                Widened, Widened)
            case 2 => // exact bounds, count-driven default
              (mn, mx, Some(1000000L): Option[Long],
                None: Option[ArchiveReader.LimitMode],
                None: Option[ArchiveReader.LimitMode])
            case _ => // small count over the whole span (level selection)
              (mn - NS, mx + NS, Some(13L): Option[Long], Widened, Widened)
          }
          requests += 1
          if (compareScalar(cfgDir, store, l.name, extra._1, extra._2,
            extra._3, extra._4, extra._5, s"s$storeIdx/extra${ci % 4}"))
            engaged += 1
        }
      }
    }
    assert(layoutCount >= 144, s"scalar layouts: $layoutCount")
    info(s"scalar: $layoutCount layouts, $requests requests, " +
      s"$engaged direct-path engagements")
    // the fast path must actually carry the fuzz, not decline its way out
    assert(engaged * 10 >= requests * 5,
      s"direct path engaged only $engaged/$requests")
  }

  // ---- panel reducers --------------------------------------------------

  test("panel folds (m4/lttb/stats/spectrum/cusum) are bit-identical to " +
      "their engine twins over generated layouts") {
    def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
    // parity includes REFUSAL: the engine's exact-integer quantization
    // (cusum, spectrum) throws on non-finite values by pinned design
    // (ANSI cast) — the direct fold must refuse the same inputs. Both
    // produce → compare bits; both throw → parity; mixed → bug.
    def samely[A](tag: String)(eng: => A, fast: => A): Unit =
      (Try(eng), Try(fast)) match {
        case (Success(e), Success(f)) => assert(f == e, s"$tag diverged")
        case (Failure(_), Failure(_)) => ()
        case (e, f) => fail(s"$tag: one path refused, the other " +
          s"answered: $e vs $f")
      }
    var layoutCount = 0
    var crossFile = 0
    for (storeIdx <- 0 until 2) {
      val layouts = (0 until 16).map(ci =>
        gen(chanGen(s"pv:p$storeIdx:c$ci"), seed = 7000L * storeIdx + ci))
      layoutCount += layouts.size
      val (cfgDir, store) =
        buildScalarStore(layouts, withLevel = false, resend = true)
      layouts.foreach { l =>
        if (l.rows.nonEmpty) {
          val name = l.name
          val ts = l.rows.map(_._1)
          val (lo, hi) = (ts.min, ts.max max (ts.min + 60L * NS))
          val rowsOpt = DirectServe.tryRawRows(spark, cfgDir, store, name,
            Some(lo), hi, ManifestBackend, refuseDisabled = false)
          assert(rowsOpt.isDefined, s"$name: raw row fetch declined")
          val rows = rowsOpt.get
          // equal-ts neighbours read from two different files
          if ((1 until rows.length).exists(i =>
              rows.ts(i) == rows.ts(i - 1) &&
                (rows.hit(i).e ne rows.hit(i - 1).e))) crossFile += 1
          // m4 + lttb
          for (k <- Seq(3, 11)) {
            samely(s"$name m4 k=$k")(
              Analytics.m4Points(ConfiguredArchive.queryM4(spark,
                  cfgDir, store, name, lo, hi, k))
                .orderBy("ts").collect()
                .map(r => (r.getLong(r.fieldIndex("ts")),
                  bits(r.getDouble(r.fieldIndex("value"))))).toVector,
              DirectPanels.m4Points(rows, lo, hi, k)
                .map(h => (h.ts, bits(h.e.rows.double(h.i)))).toVector)
            samely(s"$name lttb k=$k")(
              ConfiguredArchive.queryLttb(spark, cfgDir, store,
                  name, lo, hi, k)
                .orderBy("ts").collect()
                .map(r => (r.getLong(r.fieldIndex("ts")),
                  bits(r.getDouble(r.fieldIndex("value"))))).toVector,
              DirectPanels.lttb(rows, lo, hi, k)
                .map(h => (h.ts, bits(h.e.rows.double(h.i)))).toVector)
          }
          // stats — an all-null channel may answer n=0 on the engine
          // side and None on the fold; both mean "no distribution"
          samely(s"$name stats")(
            ConfiguredArchive.queryStats(spark, cfgDir, store, name, lo,
                hi)
              .select("n_samples", "v_min", "p50", "p90", "p99", "v_max")
              .collect().headOption
              .filter(e => e.getLong(0) > 0L && !e.isNullAt(1))
              .map(e => (e.getLong(0) +: (1 to 5)
                .map(i => bits(e.getDouble(i)))).toVector),
            DirectPanels.stats(rows).map(f =>
              (f._1 +: Seq(f._2, f._3, f._4, f._5, f._6).map(bits))
                .toVector))
          // spectrum + cusum (exclusive upper on the fold side)
          val periods = Seq(600L * NS, 3600L * NS)
          samely(s"$name spectrum")(
            ConfiguredArchive.querySpectrum(spark, cfgDir, store, name,
                lo, hi, periods)
              .select("period_s", "n", "power").orderBy("period_s")
              .collect()
              .map(r => (r.getLong(0), r.getLong(1), bits(r.getDouble(2))))
              .toVector,
            DirectPanels.spectrum(rows, lo, hi + 1, periods)
              .map(t => (t._1, t._2, bits(t._3))).toVector)
          samely(s"$name cusum")(
            ConfiguredArchive.queryCusum(spark, cfgDir, store, name, lo,
                hi, 0.5, 3.0)
              .select("n_samples", "n_hi", "n_lo").collect().headOption
              .filter(_.getLong(0) > 0L)
              .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))),
            DirectPanels.cusum(rows, lo, hi + 1, 0.5, 3.0)
              .map(t => (t._1, t._2, t._3)))
        }
      }
    }
    info(s"panels: $layoutCount layouts x {m4,lttb}x2 + stats + " +
      s"spectrum + cusum; $crossFile with cross-file duplicate timestamps")
    assert(layoutCount >= 32)
    assert(crossFile >= 8, s"only $crossFile channels hold overlapping files")
  }

  // ---- typed layouts --------------------------------------------------

  test("typed direct serve is byte-identical to the engine over " +
      "mutated 21-type layouts") {
    val base = graft.core.TypedSamples.fromEvents(spark,
      "/root/testdata/sf0.001")
    var layoutCount = 0
    var engaged = 0
    var requests = 0
    for (storeIdx <- 0 until 2) {
      val cfgDir = Files.createTempDirectory("fztcfg").toString
      val store = Files.createTempDirectory("fztstore").toString
      // fan the ~5 source channels out to 30 by a seeded hash of
      // sample_id, jitter timestamps (keeping the ms truncation), and
      // re-send a slice as a SECOND commit (cross-commit duplicates)
      val fan = base
        .withColumn("channel", concat(col("channel"), lit("#"),
          pmod(xxhash64(col("sample_id"), lit(storeIdx)), lit(6L))))
        .withColumn("ts", col("ts") +
          pmod(xxhash64(col("sample_id"), lit(7 + storeIdx)), lit(50L))
            * lit(1000L))
      val names = fan.select("channel").distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      names.zipWithIndex.foreach { case (n, i) =>
        ConfigCommands.addChannel(spark, cfgDir,
          ChannelConfig(n, s"fzt-$storeIdx-$i", "ca", enabled = true,
            Map(), Map()))
      }
      ConfiguredArchive.materializeTyped(spark, cfgDir, store, fan)
      // second commit: a ~10% slice RE-SENT LATER with a new arrival id
      // and conflicting numeric payload — the duplicate-timestamp
      // survivor rule (first arrival wins) must hold on both paths
      val st = ConfigCommands.state(spark, cfgDir)
      ManifestBackend.write(
        ConfiguredArchive.idKeyed(
          fan.where(pmod(col("sample_id"), lit(10L)) === storeIdx)
            .withColumn("sample_id", col("sample_id") + 100000000L)
            .withColumn("value",
              when(col("value").isNotNull, col("value") * 2.0)),
          st.enabledConfigs),
        store, 0L)
      val span = fan.agg(min("ts"), max("ts")).collect().head
      val (lo, hi) = (span.getLong(0), span.getLong(1))
      layoutCount += names.size
      // each channel's stored timestamps, ascending: the exact-bound,
      // zero-width and outside-the-data window shapes sit on them
      val stamps = fan.groupBy("channel").agg(sort_array(collect_set("ts")))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toVector)
        .toMap
      val H = 3600L * NS
      names.zipWithIndex.foreach { case (n, i) =>
        val ts = stamps(n)
        val (at1, at3) = (ts(ts.size / 4), ts(3 * ts.size / 4))
        val shapes = Seq(
          if (i % 3 == 0) (lo + (hi - lo) / 3, hi - (hi - lo) / 3)
          else (lo - 1, hi + 1),
          i % 4 match {
            case 0 => (at1, at3)                      // bounds on stored ts
            case 1 => (at1, at1)                      // zero width
            case 2 => (ts.head - 2 * H, ts.head - H)  // before the first
            case _ => (ts.last + H, ts.last + 2 * H)  // after the last
          })
        for ((qLo, qHi) <- shapes) {
          val fast = Try(DirectServeTyped.tryServe(spark, cfgDir, store, n,
            qLo, qHi, None, ManifestBackend, refuseDisabled = false)
            .map(_.toVector))
          val slow = Try(ConfiguredArchive.serveJsonTypedSpark(spark, cfgDir,
            store, n, qLo, qHi, None, ManifestBackend).toVector)
          requests += 1
          (fast, slow) match {
            case (Success(Some(f)), Success(s)) =>
              assert(f == s, s"typed $n diverged")
              engaged += 1
            case (Success(None), Success(_)) => ()
            case (Failure(a), Failure(b)) =>
              assert(a.getClass == b.getClass, s"typed $n errors diverged")
              engaged += 1
            case (a, b) =>
              fail(s"typed $n: one path failed, the other answered: " +
                s"$a vs $b")
          }
        }
      }
    }
    assert(layoutCount >= 56, s"typed layouts: $layoutCount")
    info(s"typed: $layoutCount layouts, $requests requests, $engaged engaged")
    assert(engaged * 10 >= requests * 5,
      s"typed direct path engaged only $engaged/$requests")
  }
}
