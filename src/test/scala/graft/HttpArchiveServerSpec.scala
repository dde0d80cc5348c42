package graft

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.archive.{ArchiveReader, ChannelConfig, ConfigCommands,
  ConfiguredArchive, HttpArchiveServer}

/** Integration spec for the HTTP serving edge: real requests over a
  * real socket against a config-governed manifest store, byte-compared
  * with [[ConfiguredArchive.serveJson]] (the engine boundary the HTTP
  * layer wraps). Mirrors the reference's Api10Controller contract —
  * URL-decoded channel paths (an encoded `/` stays inside the name),
  * the 400/404 parameter/route matrix (Api10Controller.java:258-276),
  * glob/regexp channel listing (:160-211), and the widened
  * AT_OR_BEFORE/AT_OR_AFTER sample bounds (:388-394).
  */
class HttpArchiveServerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val NS = graft.core.Samples.NS
  private val T0 = 1704067200L * NS

  /** Channel with every URL hazard: slash, space, colon, plus, tilde. */
  private val Hairy = "pv/room 1:a+b~c"

  private lazy val fixture: (String, String, HttpArchiveServer.Running) = {
    import spark.implicits._
    val cfgDir = Files.createTempDirectory("httpcfg").toString
    val store = Files.createTempDirectory("httpstore").toString
    def rawFor(name: String, ids: Seq[Int]) =
      ids.map(i => (name, T0 + i * 60L * NS, i.toDouble, "", 0, 0, i.toLong))
        .toDF("channel", "ts", "value", "str_value", "severity", "status",
          "sample_id")
    Seq(
      ChannelConfig("pv:alpha", "id-alpha", "ca", enabled = true, Map(),
        Map(3600L -> 0L)),
      ChannelConfig("pv:beta", "id-beta", "ca", enabled = true, Map(),
        Map(3600L -> 0L)),
      ChannelConfig(Hairy, "id-hairy", "ca", enabled = true, Map(),
        Map(3600L -> 0L)),
      ChannelConfig("pv:off", "id-off", "ca", enabled = false, Map(),
        Map(3600L -> 0L)),
      ChannelConfig("pv:empty", "id-empty", "ca", enabled = true, Map(),
        Map(3600L -> 0L)),
      ChannelConfig("pv:late", "id-late", "ca", enabled = true, Map(),
        Map(3600L -> 0L))
    ).foreach(c => ConfigCommands.addChannel(spark, cfgDir, c))
    ConfiguredArchive.materialize(spark, cfgDir, store,
      rawFor("pv:alpha", 1 to 600)
        .unionByName(rawFor("pv:beta", 1 to 60))
        .unionByName(rawFor(Hairy, 1 to 60))
        .unionByName(rawFor("pv:late", 1 to 60)))
    // pv:late: archived while enabled, then decommissioned — the
    // disabled-with-history case the reference keeps serving
    val late = ConfigCommands.state(spark, cfgDir).config("pv:late").get
    ConfigCommands.updateChannel(spark, cfgDir, late.copy(enabled = false))
    val running = HttpArchiveServer.start(spark, cfgDir, store)
    sys.addShutdownHook(running.stop())
    (cfgDir, store, running)
  }

  private def cfgDir: String = fixture._1
  private def storePath: String = fixture._2
  private def base: String = fixture._3.baseUrl

  private def get(url: String): (Int, String) = {
    val (code, body, _) = getWithHeaders(url)
    (code, body)
  }

  /** Status, body, and the two framing headers: `Content-Length` and
    * `Transfer-Encoding` (null when absent). */
  private def getWithHeaders(url: String)
      : (Int, String, (String, String)) = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body =
      if (in == null) ""
      else try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    val framing = (conn.getHeaderField("Content-Length"),
      conn.getHeaderField("Transfer-Encoding"))
    conn.disconnect()
    (code, body, framing)
  }

  /** The edge's array framing of engine elements. */
  private def framed(elems: Seq[String], pretty: Boolean): String =
    if (!pretty) elems.mkString("[", ",", "]")
    else if (elems.isEmpty) "[]"
    else elems.mkString("[\n  ", ",\n  ", "\n]")

  /** Path-segment encoding: percent-encode, never '+'-for-space (a
    * literal '+' in a path is not decoded as a space by clients that
    * follow the URL spec — the reference's own UI sends %20).
    */
  private def enc(s: String): String =
    URLEncoder.encode(s, StandardCharsets.UTF_8).replace("+", "%20")

  test("archive info endpoint serves the fixed one-archive array") {
    val (code, body) = get(s"$base/")
    assert(code == 200)
    assert(body ==
      """[{"key":1,"name":"Graft","description":"Spark Graft Archive"}]""")
  }

  test("samples bytes equal serveJson with the controller's widened modes") {
    val lo = T0 + 100L * 60L * NS
    val hi = T0 + 400L * 60L * NS
    val (code, body) =
      get(s"$base/1/samples/${enc("pv:alpha")}?start=$lo&end=$hi")
    assert(code == 200)
    val expected = ConfiguredArchive.serveJson(spark, cfgDir,
        storePath, "pv:alpha", lo, hi, None,
        loMode = Some(ArchiveReader.AtOrWidened),
        hiMode = Some(ArchiveReader.AtOrWidened))
      .mkString("[", ",", "]")
    assert(body == expected)
    // widened: the first element is the at-or-before-lo boundary
    assert(body.startsWith("""[{"time":""" + (T0 + 100L * 60L * NS)))
  }

  test("count parameter drives resolution selection over HTTP") {
    val lo = T0
    val hi = T0 + 600L * 60L * NS
    val (code, body) =
      get(s"$base/1/samples/${enc("pv:alpha")}?start=$lo&end=$hi&count=5")
    assert(code == 200)
    val expected = ConfiguredArchive.serveJson(spark, cfgDir,
        storePath, "pv:alpha", lo, hi, Some(5L),
        loMode = Some(ArchiveReader.AtOrWidened),
        hiMode = Some(ArchiveReader.AtOrWidened))
      .mkString("[", ",", "]")
    assert(body == expected)
    // a count this small over 10 h picks the 1 h decimation level —
    // far fewer elements than the 600 raw samples
    assert(body.count(_ == '{') < 100)
  }

  test("URL-decoded channel names: encoded slash/space/plus stay in the name") {
    val lo = T0
    val hi = T0 + 100L * 60L * NS
    val (code, body) =
      get(s"$base/1/samples/${enc(Hairy)}?start=$lo&end=$hi")
    assert(code == 200)
    val expected = ConfiguredArchive.serveJson(spark, cfgDir,
        storePath, Hairy, lo, hi, None,
        loMode = Some(ArchiveReader.AtOrWidened),
        hiMode = Some(ArchiveReader.AtOrWidened))
      .mkString("[", ",", "]")
    assert(body == expected)
    assert(body.count(_ == '{') > 0)
  }

  test("parameter validation: the 400 matrix") {
    val ch = enc("pv:alpha")
    assert(get(s"$base/1/samples/$ch?start=5&end=4")._1 == 400) // end < start
    assert(get(s"$base/1/samples/$ch?start=-1&end=4")._1 == 400) // start < 0
    assert(get(s"$base/1/samples/$ch?start=0&end=4&count=0")._1 == 400)
    assert(get(s"$base/1/samples/$ch?start=0&end=4&count=-3")._1 == 400)
    assert(get(s"$base/1/samples/$ch?start=abc&end=4")._1 == 400)
    assert(get(s"$base/1/samples/$ch?end=4")._1 == 400) // missing start
    assert(get(s"$base/1/samples/$ch?start=0")._1 == 400) // missing end
    assert(get(s"$base/1/samples/$ch?start=0&end=4&count=x")._1 == 400)
    assert(get(s"$base/1/samples/$ch?start=0&end=4&lttb=x")._1 == 400)
    assert(get(s"$base/1/samples/$ch?start=0&end=4&lttb=2")._1 == 400)
    assert(get(s"$base/1/samples/$ch?start=0&end=4&m4=x")._1 == 400)
    assert(get(s"$base/1/samples/$ch?start=0&end=4&m4=0")._1 == 400)
    assert(get(s"$base/1/samples/$ch?start=0&end=4&lttb=4&m4=4")._1 == 400)
  }

  test("lttb parameter serves the k dominant raw points in wire format") {
    val lo = T0
    val hi = T0 + 600L * 60L * NS
    val k = 12
    val (code, body) =
      get(s"$base/1/samples/${enc("pv:alpha")}?start=$lo&end=$hi&lttb=$k")
    assert(code == 200)
    // exactly k elements (600 raw samples, every bucket non-empty)
    assert(body.count(_ == '{') == 2 * k, // each element nests severity
      s"expected $k elements")
    // byte-compare against the engine boundary the handler wraps
    import org.apache.spark.sql.functions.lit
    val df = ConfiguredArchive.queryLttb(spark, cfgDir, storePath,
        "pv:alpha", lo, hi, k)
      .withColumn("severity", lit(0)).withColumn("status", lit(0))
    val expected = graft.archive.JsonV1.serializeRaw(df)
      .orderBy("ts").select("json").collect().map(_.getString(0))
      .mkString("[", ",", "]")
    assert(body == expected)
    // first/last raw points survive (the LTTB edge contract; the
    // range is [start, end) so the last in-range sample is minute 599)
    assert(body.startsWith("""[{"time":""" + (T0 + 1L * 60L * NS)))
    assert(body.contains(""""time":""" + (T0 + 599L * 60L * NS)))
  }

  test("m4 parameter serves the distinct bucket corner points in wire format") {
    val lo = T0
    val hi = T0 + 600L * 60L * NS
    val k = 10
    val (code, body) =
      get(s"$base/1/samples/${enc("pv:alpha")}?start=$lo&end=$hi&m4=$k")
    assert(code == 200)
    // byte-compare against an INDEPENDENT flattening: collect the m4
    // bucket rows and assemble the corner-point series driver-side
    // (plain Scala, not the handler's m4Points plan), then serialize
    // through the separately-gated JsonV1 writer
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val corners = ConfiguredArchive.queryM4(spark, cfgDir, storePath,
        "pv:alpha", lo, hi, k).collect()
      .flatMap(r => Seq(
        r.getAs[Long]("t_first") -> r.getAs[Double]("v_first"),
        r.getAs[Long]("t_min") -> r.getAs[Double]("v_min"),
        r.getAs[Long]("t_max") -> r.getAs[Double]("v_max"),
        r.getAs[Long]("t_last") -> r.getAs[Double]("v_last")))
      .toMap.toSeq.sortBy(_._1)
    val pts = corners.toDF("ts", "value")
      .select(lit("pv:alpha").as("channel"), $"ts", $"value")
      .withColumn("severity", lit(0)).withColumn("status", lit(0))
    val expected = graft.archive.JsonV1.serializeRaw(pts)
      .orderBy("ts").select("json").collect().map(_.getString(0))
      .mkString("[", ",", "]")
    assert(body == expected)
    // ≤ 4k corner points, ≥ k (every bucket non-empty here); elements
    // nest one severity object each
    val n = "\\{\"time\":".r.findAllIn(body).length
    assert(n >= k && n <= 4 * k, s"got $n elements for k=$k")
    // the envelope contract: first and last in-range raw points survive
    assert(body.startsWith("""[{"time":""" + (T0 + 1L * 60L * NS)))
    assert(body.contains(""""time":""" + (T0 + 599L * 60L * NS)))
  }

  test("stats endpoint serves the distribution panel with the samples error matrix") {
    val lo = T0; val hi = T0 + 600L * 60L * NS
    val ch = enc("pv:beta")
    val (code, body) = get(s"$base/1/stats/$ch?start=$lo&end=$hi")
    assert(code == 200)
    // pv:beta holds values 1..60: count/min/max are exact, p50 of
    // 1..60 interpolates to 30.5
    assert(body.contains(""""channel":"pv:beta""""))
    assert(body.contains(""""samples":60"""))
    assert(body.contains("\"min\":1") && body.contains("\"max\":60"))
    assert(body.contains(""""p50":30.5"""))
    // range clipping: only the first 10 minutes → samples 1..10
    val (c2, b2) =
      get(s"$base/1/stats/$ch?start=$lo&end=${T0 + 10L * 60L * NS}")
    assert(c2 == 200 && b2.contains(""""samples":10""") &&
      b2.contains(""""max":10"""))
    // error matrix mirrors the samples endpoint
    assert(get(s"$base/1/stats/$ch?start=5&end=4")._1 == 400)
    assert(get(s"$base/1/stats/$ch?end=4")._1 == 400)
    assert(get(s"$base/1/stats/$ch?start=x&end=4")._1 == 400)
    assert(get(s"$base/1/stats/${enc("pv:nope")}?start=0&end=4")._1 == 404)
    // configured but nothing stored in range → a zero-sample object
    assert(get(s"$base/1/stats/${enc("pv:empty")}?start=0&end=4") ==
      (200, """{"channel":"pv:empty","samples":0}"""))
  }

  test("spectrum endpoint serves the oscillation panel; custom periods; error matrix") {
    val lo = T0; val hi = T0 + 600L * 60L * NS
    val ch = enc("pv:beta")
    val (code, body) = get(s"$base/1/spectrum/$ch?start=$lo&end=$hi")
    assert(code == 200)
    assert(body.contains(""""channel":"pv:beta""""))
    // default grid = 7 candidates, every row carries the sample count
    assert(body.split("\"period_s\":").length - 1 == 7)
    assert(body.contains(""""n":60"""))
    assert(body.contains(""""dominant_period_s":"""))
    // the served numbers are the engine's own querySpectrum values
    val eng = graft.archive.ConfiguredArchive.querySpectrum(spark, cfgDir,
        storePath, "pv:beta", lo, hi,
        graft.archive.Analytics.DefaultSpectrumPeriods)
      .orderBy("period_s").collect()
      .map(r => (r.getAs[Long]("period_s"), r.getAs[Double]("power")))
    eng.foreach { case (p, pw) =>
      assert(body.contains(s""""period_s":$p"""), s"missing period $p")
      val printed = if (pw == math.rint(pw) && math.abs(pw) < 1e15)
        pw.toLong.toString else pw.toString
      assert(body.contains(s""""power":$printed"""), s"power $p=$printed")
    }
    // custom periods: parsed, deduped, sorted; two entries
    val (c2, b2) =
      get(s"$base/1/spectrum/$ch?start=$lo&end=$hi&periods=240,120,240")
    assert(c2 == 200 && b2.split("\"period_s\":").length - 1 == 2)
    assert(b2.indexOf("\"period_s\":120") < b2.indexOf("\"period_s\":240"))
    // INCLUSIVE end: a window ending exactly on a sample counts it
    // (the stats/rawScan contract — two samples at +60 s and +120 s)
    val (ci, bi) = get(s"$base/1/spectrum/$ch?start=${T0 + 60L * NS}" +
      s"&end=${T0 + 120L * NS}&periods=60")
    assert(ci == 200 && bi.contains(""""n":2"""), bi)
    // error matrix
    assert(get(s"$base/1/spectrum/$ch?start=5&end=4")._1 == 400)
    assert(get(s"$base/1/spectrum/$ch?end=4")._1 == 400)
    assert(get(s"$base/1/spectrum/$ch?start=$lo&end=$hi&periods=abc")._1 == 400)
    assert(get(s"$base/1/spectrum/$ch?start=$lo&end=$hi&periods=0")._1 == 400)
    // Java split drops all-empty tokens: "," must be a 400, not a 500
    assert(get(s"$base/1/spectrum/$ch?start=$lo&end=$hi&periods=,")._1 == 400)
    assert(get(s"$base/1/spectrum/$ch?start=$lo&end=$hi&periods=9999999999")
      ._1 == 400)
    assert(get(s"$base/1/spectrum/${enc("pv:nope")}?start=0&end=4")._1 == 404)
    assert(get(s"$base/1/spectrum/${enc("pv:empty")}?start=0&end=4") ==
      (200, """{"channel":"pv:empty","periods":[]}"""))
  }

  test("cusum endpoint serves the mean-shift panel; tuning params; error matrix") {
    val lo = T0; val hi = T0 + 600L * 60L * NS
    val ch = enc("pv:beta")
    // the ramp 1..60 against its own mean: low side fires early, high
    // side late — slack 0, threshold 5 make both sides certain
    val (code, body) =
      get(s"$base/1/cusum/$ch?start=$lo&end=$hi&slack=0&threshold=5")
    assert(code == 200)
    val eng = graft.archive.ConfiguredArchive.queryCusum(spark, cfgDir,
        storePath, "pv:beta", lo, hi, 0.0, 5.0).collect().head
    assert(body.contains(""""samples":60"""))
    assert(body.contains(s""""n_hi":${eng.getAs[Long]("n_hi")}"""))
    assert(body.contains(s""""n_lo":${eng.getAs[Long]("n_lo")}"""))
    assert(eng.getAs[Long]("n_hi") > 0 && eng.getAs[Long]("n_lo") > 0)
    assert(body.contains(s""""t_first_hi":${eng.getAs[Long]("t_first_hi")}"""))
    assert(body.contains(s""""t_first_lo":${eng.getAs[Long]("t_first_lo")}"""))
    // defaults: no tuning params is still a valid panel
    assert(get(s"$base/1/cusum/$ch?start=$lo&end=$hi")._1 == 200)
    // INCLUSIVE end, like stats: [+60 s, +120 s] holds two samples
    val (ci, bi) = get(s"$base/1/cusum/$ch?start=${T0 + 60L * NS}" +
      s"&end=${T0 + 120L * NS}")
    assert(ci == 200 && bi.contains(""""samples":2"""), bi)
    // error matrix
    assert(get(s"$base/1/cusum/$ch?start=5&end=4")._1 == 400)
    assert(get(s"$base/1/cusum/$ch?start=$lo&end=$hi&slack=-1")._1 == 400)
    assert(get(s"$base/1/cusum/$ch?start=$lo&end=$hi&threshold=0")._1 == 400)
    assert(get(s"$base/1/cusum/$ch?start=$lo&end=$hi&threshold=x")._1 == 400)
    assert(get(s"$base/1/cusum/${enc("pv:nope")}?start=0&end=4")._1 == 404)
    assert(get(s"$base/1/cusum/${enc("pv:empty")}?start=0&end=4") ==
      (200, """{"channel":"pv:empty","samples":0}"""))
  }

  test("staleness endpoint: fleet panel with never-archived channels, grace tuning, error matrix") {
    // pv:beta last archived at T0+60 min with a 1-min cadence
    val lastBeta = T0 + 60L * 60L * NS
    val (code, body) = get(s"$base/1/staleness?asOf=${lastBeta + 60L * NS}")
    assert(code == 200)
    assert(body.contains(s""""asOf":${lastBeta + 60L * NS}"""))
    // engine cross-check: the served numbers are queryStaleness's own
    val eng = graft.archive.ConfiguredArchive.queryStaleness(spark, cfgDir,
        storePath, lastBeta + 60L * NS).orderBy("channel").collect()
      .map(r => r.getString(0) -> r).toMap
    val beta = eng("pv:beta")
    assert(!beta.getBoolean(5), "one cadence past last is not overdue")
    assert(body.contains(
      s""""channel":"pv:beta","samples":${beta.getLong(1)},""" +
        s""""t_last":${beta.getLong(2)}"""))
    // never-archived channel: present, zero samples, stale
    assert(body.contains(""""channel":"pv:empty","samples":0"""))
    assert(body.replaceAll(""".*"pv:empty","samples":0,[^}]*"stale":""", "")
      .startsWith("true"))
    // far-future asOf: beta becomes overdue
    val (c2, b2) = get(s"$base/1/staleness?asOf=${lastBeta + 7L * 86400L * NS}")
    assert(c2 == 200 && b2.contains(
      s""""t_last":${beta.getLong(2)},"median_gap_ns":${beta.getLong(3)}"""))
    val betaObj2 = b2.split("""\{"channel":""").find(_.startsWith("\"pv:beta\"")).get
    assert(betaObj2.contains(""""stale":true"""))
    // error matrix
    assert(get(s"$base/1/staleness")._1 == 400)
    assert(get(s"$base/1/staleness?asOf=x")._1 == 400)
    assert(get(s"$base/1/staleness?asOf=-1")._1 == 400)
    assert(get(s"$base/1/staleness?asOf=5&grace=0")._1 == 400)
  }

  test("route matrix: 404 unknown/empty channel and route") {
    assert(get(s"$base/1/samples/${enc("pv:nope")}?start=0&end=4")._1 == 404)
    assert(get(s"$base/1/samples/?start=0&end=4")._1 == 404)
    assert(get(s"$base/1/nonsense/x")._1 == 404)
    // disabled and never archived: resolves, no stored data → empty
    // array (the reference's answer for any known channel w/o samples)
    assert(get(s"$base/1/samples/${enc("pv:off")}?start=0&end=4") ==
      (200, "[]"))
    // configured but no stored data: an empty array, not an error
    assert(get(s"$base/1/samples/${enc("pv:empty")}?start=0&end=4") ==
      (200, "[]"))
  }

  test("disabled channel's archived history serves by default; refuseDisabled=true maps to 403") {
    val lo = T0
    val hi = T0 + 100L * 60L * NS
    // default server: pv:late (archived, then disabled) serves bytes
    // identical to the engine-boundary serve — Api10Controller never
    // checks the enabled flag on retrieval
    val (code, body) =
      get(s"$base/1/samples/${enc("pv:late")}?start=$lo&end=$hi")
    assert(code == 200)
    val expected = ConfiguredArchive.serveJson(spark, cfgDir,
        storePath, "pv:late", lo, hi, None,
        loMode = Some(ArchiveReader.AtOrWidened),
        hiMode = Some(ArchiveReader.AtOrWidened))
      .mkString("[", ",", "]")
    assert(body == expected)
    assert(body.count(_ == '{') > 0)
    // opt-in refusal: same store, refuseDisabled server → visible 403
    val strict = HttpArchiveServer.start(spark, cfgDir, storePath,
      refuseDisabled = true)
    try {
      val url = s"http://localhost:${strict.port}" +
        s"${HttpArchiveServer.ContextPath}/1/samples/${enc("pv:late")}" +
        s"?start=$lo&end=$hi"
      assert(get(url)._1 == 403)
    } finally strict.stop()
  }

  test("channels-by-pattern: case-insensitive glob, sorted, hairy included") {
    val (code, body) = get(s"$base/1/channels-by-pattern/${enc("PV*")}")
    assert(code == 200)
    assert(body ==
      s"""["pv/room 1:a+b~c","pv:alpha","pv:beta","pv:empty","pv:late","pv:off"]""")
    val (c2, b2) = get(s"$base/1/channels-by-pattern/${enc("pv:?lpha")}")
    assert(c2 == 200 && b2 == """["pv:alpha"]""")
  }

  test("channels-by-regexp: anchored matches, bad pattern is 400") {
    val (code, body) = get(s"$base/1/channels-by-regexp/${enc("pv:(alpha|beta)")}")
    assert(code == 200)
    assert(body == """["pv:alpha","pv:beta"]""")
    val (c2, b2) = get(s"$base/1/channels-by-regexp/${enc("pv:(")}")
    assert(c2 == 400 && b2.contains("Invalid regular expression"))
  }

  test("typed-union store auto-serves the full 21-type wire format") {
    val cfg2 = Files.createTempDirectory("httpcfgT").toString
    val store2 = Files.createTempDirectory("httpstoreT").toString
    // the sf0.001 events corpus as the typed union — every family
    val typed = graft.core.TypedSamples.fromEvents(spark,
      "/root/testdata/sf0.001")
    val names = typed.select("channel").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    names.foreach { n =>
      ConfigCommands.addChannel(spark, cfg2, ChannelConfig(n, s"tid-$n",
        "ca", enabled = true, Map(), Map(3600L -> 0L)))
    }
    ConfiguredArchive.materializeTyped(spark, cfg2, store2, typed)
    val running2 = HttpArchiveServer.start(spark, cfg2, store2)
    try {
      val lo = T0 + 10L * 86400L * NS
      val hi = lo + 86400L * NS
      val (code, body) = get(s"http://localhost:${running2.port}" +
        s"${HttpArchiveServer.ContextPath}/1/samples/${enc(names.head)}" +
        s"?start=$lo&end=$hi")
      assert(code == 200)
      val expected = ConfiguredArchive.serveJsonTyped(spark, cfg2, store2,
        names.head, lo, hi, None).mkString("[", ",", "]")
      assert(body == expected)
      // the union's families actually crossed the wire
      assert(body.contains("\"quality\":\"Original\""))
      val types = "\"type\":\"([A-Za-z]+)\"".r
        .findAllMatchIn(body).map(_.group(1)).toSet
      assert(types.size >= 3, s"families seen: $types")
      // count picks the typed decimated level (Interpolated quality)
      val (c2, b2) = get(s"http://localhost:${running2.port}" +
        s"${HttpArchiveServer.ContextPath}/1/samples/${enc(names.head)}" +
        s"?start=$lo&end=$hi&count=5")
      assert(c2 == 200)
      assert(b2.contains("\"quality\":\"Interpolated\""))
    } finally running2.stop()
  }

  test("a store path recreated in the other layout serves its own wire " +
      "format on the next request, both ways") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val cfg = Files.createTempDirectory("httpcfgR").toString
    val storeDir = Files.createTempDirectory("httpstoreR").toFile
    val store = storeDir.toString
    org.apache.commons.io.FileUtils.deleteDirectory(storeDir)
    val typedAll = graft.core.TypedSamples.fromEvents(spark,
      "/root/testdata/sf0.001")
    val name = typedAll.select("channel").distinct()
      .collect().map(_.getString(0)).min
    ConfigCommands.addChannel(spark, cfg, ChannelConfig(name, s"tid-$name",
      "ca", enabled = true, Map(), Map(3600L -> 0L)))
    val lo = T0 + 10L * 86400L * NS
    val hi = lo + 86400L * NS
    def scalar(v: Double) = (1 to 100).map(i => (name, lo + i * 60L * NS,
        v * i, "", 0, 0, i.toLong))
      .toDF("channel", "ts", "value", "str_value", "severity", "status",
        "sample_id")
    def recreate(build: => Unit, bumps: Int): Long = {
      org.apache.commons.io.FileUtils.deleteDirectory(storeDir)
      build
      (1 to bumps).foreach(_ => graft.archive.ManifestStore.commitEntries(
        spark, store, Nil,
        graft.archive.ManifestStore.latestManifest(spark, store).get.schema))
      graft.archive.ManifestStore.latestVersion(spark, store).get
    }
    val running = HttpArchiveServer.start(spark, cfg, store)
    try {
      val url = s"${running.baseUrl}/1/samples/${enc(name)}" +
        s"?start=$lo&end=$hi"
      def scalarBody = ConfiguredArchive.serveJson(spark, cfg, store, name,
        lo, hi, None).mkString("[", ",", "]")
      def typedBody = ConfiguredArchive.serveJsonTyped(spark, cfg, store,
        name, lo, hi, None).mkString("[", ",", "]")
      val types = "\"type\":\"([A-Za-z]+)\"".r
      // no store yet: a configured channel with nothing stored
      assert(get(url) == (200, "[]"))
      val v1 = recreate(ConfiguredArchive.materialize(spark, cfg, store,
        scalar(1.0)), bumps = 2)
      val b1 = get(url)
      assert(b1 == (200, scalarBody))
      assert(types.findAllMatchIn(b1._2).map(_.group(1)).toSet ==
        Set("double"))
      val v2 = recreate(ConfiguredArchive.materializeTyped(spark, cfg,
        store, typedAll.where(col("channel") === name)), bumps = 1)
      val b2 = get(url)
      assert(b2 == (200, typedBody))
      assert(types.findAllMatchIn(b2._2).map(_.group(1)).toSet.size >= 3)
      val v3 = recreate(ConfiguredArchive.materialize(spark, cfg, store,
        scalar(2.0)), bumps = 0)
      // each recreate lands below the last head, so this JVM confirms
      // a version regression rather than reading a dead version's memo
      assert(v1 > v2 && v2 > v3, s"versions $v1, $v2, $v3")
      val b3 = get(url)
      assert(b3 == (200, scalarBody))
      assert(b3 != b1 && b3._2.contains("\"value\":[200.0]"))
    } finally running.stop()
  }

  test("a store recreated at its path never serves a memoized body of " +
      "the dead store at the same version") {
    import spark.implicits._
    val cfg = Files.createTempDirectory("httpcfgM").toString
    val storeDir = Files.createTempDirectory("httpstoreM").toFile
    val store = storeDir.toString
    ConfigCommands.addChannel(spark, cfg, ChannelConfig("pv:m", "id-m",
      "ca", enabled = true, Map(), Map()))
    def build(v: Double, bumps: Int): Long = {
      ConfiguredArchive.materialize(spark, cfg, store, (1 to 50).map(i =>
          ("pv:m", T0 + i * 60L * NS, v * i, "", 0, 0, i.toLong))
        .toDF("channel", "ts", "value", "str_value", "severity", "status",
          "sample_id"))
      (1 to bumps).foreach(_ => graft.archive.ManifestStore.commitEntries(
        spark, store, Nil,
        graft.archive.ManifestStore.latestManifest(spark, store).get.schema))
      graft.archive.ManifestStore.latestVersion(spark, store).get
    }
    val running = HttpArchiveServer.start(spark, cfg, store)
    try {
      val url = s"${running.baseUrl}/1/samples/pv:m?start=$T0" +
        s"&end=${T0 + 60L * 60L * NS}"
      val head = build(1.0, bumps = 2)
      val dead = get(url)
      org.apache.commons.io.FileUtils.deleteDirectory(storeDir)
      assert(build(2.0, bumps = 0) < head)
      assert(get(url)._1 == 200) // confirms the regression
      while (graft.archive.ManifestStore.latestVersion(spark, store).get <
          head)
        graft.archive.ManifestStore.commitEntries(spark, store, Nil,
          graft.archive.ManifestStore.latestManifest(spark, store).get.schema)
      val fresh = get(url)
      assert(fresh != dead)
      assert(fresh == (200, ConfiguredArchive.serveJson(spark, cfg, store,
        "pv:m", T0, T0 + 60L * 60L * NS, None).mkString("[", ",", "]")))
    } finally running.stop()
  }

  test("derived endpoint serves the calc-record series in wire format") {
    val lo = T0
    val hi = T0 + 120L * 60L * NS
    val step = 10L * 60L * NS
    val other = URLEncoder.encode("pv:beta", "UTF-8")
    val (code, body) = get(s"$base/1/derived/${enc("pv:alpha")}" +
      s"?other=$other&op=sub&start=$lo&end=$hi&step=$step")
    assert(code == 200)
    // independent semantics check, plain Scala: alpha/beta both carry
    // value i at minute i (alpha 1..600, beta 1..60); held at grid
    // point t = m minutes, alpha holds min(m, 600), beta min(m, 60) —
    // undefined before minute 1 (neither has a sample at T0)
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val expectedRows = (0 to 12).map(_ * 10).filter(_ >= 1).map { m =>
      (T0 + m * 60L * NS, (math.min(m, 600) - math.min(m, 60)).toDouble)
    }
    val pts = expectedRows.toDF("ts", "value")
      .select(lit("calc:sub(pv:alpha,pv:beta)").as("channel"),
        $"ts", $"value")
      .withColumn("severity", lit(0)).withColumn("status", lit(0))
    val expected = graft.archive.JsonV1.serializeRaw(pts)
      .orderBy("ts").select("json").collect().map(_.getString(0))
      .mkString("[", ",", "]")
    assert(body == expected)
    // and byte-parity with the engine boundary the handler wraps
    val df = ConfiguredArchive.queryDerived(spark, cfgDir, storePath,
        "pv:alpha", "pv:beta", "sub", lo, hi, step)
      .withColumn("severity", lit(0)).withColumn("status", lit(0))
    val engine = graft.archive.JsonV1.serializeRaw(df)
      .orderBy("ts").select("json").collect().map(_.getString(0))
      .mkString("[", ",", "]")
    assert(body == engine)
  }

  test("derived endpoint: 400/404 matrix") {
    val lo = T0; val hi = T0 + 3600L * NS; val step = 600L * NS
    val a = enc("pv:alpha")
    val other = URLEncoder.encode("pv:beta", "UTF-8")
    // unknown op, missing other, same source twice, missing step,
    // bad range — all 400
    assert(get(s"$base/1/derived/$a?other=$other&op=pow&start=$lo&end=$hi&step=$step")._1 == 400)
    assert(get(s"$base/1/derived/$a?op=sub&start=$lo&end=$hi&step=$step")._1 == 400)
    assert(get(s"$base/1/derived/$a?other=${URLEncoder.encode("pv:alpha", "UTF-8")}&op=sub&start=$lo&end=$hi&step=$step")._1 == 400)
    assert(get(s"$base/1/derived/$a?other=$other&op=sub&start=$lo&end=$hi")._1 == 400)
    assert(get(s"$base/1/derived/$a?other=$other&op=sub&start=$hi&end=$lo&step=$step")._1 == 400)
    assert(get(s"$base/1/derived/$a?other=$other&op=sub&start=$lo&end=$hi&step=0")._1 == 400)
    // unknown source channel (either side) — 404 like samples
    assert(get(s"$base/1/derived/$a?other=nope&op=sub&start=$lo&end=$hi&step=$step")._1 == 404)
    assert(get(s"$base/1/derived/nope?other=$other&op=sub&start=$lo&end=$hi&step=$step")._1 == 404)
    // op defaults to sub: same bytes as the explicit form
    val (c1, b1) = get(s"$base/1/derived/$a?other=$other&start=$lo&end=$hi&step=$step")
    val (c2, b2) = get(s"$base/1/derived/$a?other=$other&op=sub&start=$lo&end=$hi&step=$step")
    assert(c1 == 200 && c2 == 200 && b1 == b2)
  }

  test("prettyPrint puts each element on its own line") {
    val (code, body) = get(
      s"$base/1/channels-by-pattern/${enc("pv:*")}?prettyPrint")
    assert(code == 200)
    assert(body ==
      "[\n  \"pv:alpha\",\n  \"pv:beta\",\n  \"pv:empty\",\n  \"pv:late\",\n  \"pv:off\"\n]")
  }

  test("samples bodies are sent whole with a Content-Length, " +
      "byte-identical to serveJsonSpark with and without prettyPrint; a " +
      "repeat is a response-cache hit and encodes nothing") {
    val lo = T0 + 50L * 60L * NS
    val hi = T0 + 450L * 60L * NS
    val elems = ConfiguredArchive.serveJsonSpark(spark, cfgDir, storePath,
      "pv:alpha", lo, hi, None, loMode = Some(ArchiveReader.AtOrWidened),
      hiMode = Some(ArchiveReader.AtOrWidened)).toVector
    assert(elems.size > 300)
    val hits = fixture._3.stats.responseCacheHits
    for (pretty <- Seq(false, true)) {
      val url = s"$base/1/samples/${enc("pv:alpha")}?start=$lo&end=$hi" +
        (if (pretty) "&prettyPrint" else "")
      val encoded = graft.archive.DecodedRowCache.encodedElements.get
      val (code, body, (length, chunked)) = getWithHeaders(url)
      assert(code == 200)
      assert(body == framed(elems, pretty))
      assert(length == body.getBytes(StandardCharsets.UTF_8).length.toString)
      assert(chunked == null)
      // the second framing of the same rows re-encodes none of them
      if (pretty)
        assert(graft.archive.DecodedRowCache.encodedElements.get == encoded)
      val hits0 = hits.get
      assert(getWithHeaders(url) == (code, body, (length, chunked)))
      assert(hits.get == hits0 + 1, "the repeat must hit the response cache")
      assert(graft.archive.DecodedRowCache.encodedElements.get == encoded)
    }
    // the downsample fast path drains within the cap: sent whole too
    val (c4, b4, (l4, t4)) = getWithHeaders(
      s"$base/1/samples/${enc("pv:alpha")}?start=$lo&end=$hi&m4=10")
    assert(c4 == 200 && t4 == null &&
      l4 == b4.getBytes(StandardCharsets.UTF_8).length.toString)
  }

  test("an m4 request encodes only its points on a cold file, none on " +
      "a warm one, and is byte-identical to the engine path's body") {
    import org.apache.spark.sql.functions.lit
    import graft.archive.DecodedRowCache
    val lo = T0 + 20L * 60L * NS
    val hi = T0 + 580L * 60L * NS
    val ch = enc("pv:alpha")
    def m4(k: Int): String = {
      val hits = fixture._3.stats.responseCacheHits.get
      val (code, body) = get(s"$base/1/samples/$ch?start=$lo&end=$hi&m4=$k")
      assert(code == 200)
      assert(fixture._3.stats.responseCacheHits.get == hits,
        "the m4 request must be served, not replayed from the response cache")
      val pts = graft.archive.Analytics.m4Points(ConfiguredArchive.queryM4(
          spark, cfgDir, storePath, "pv:alpha", lo, hi, k))
        .withColumn("severity", lit(0)).withColumn("status", lit(0))
      val expected = graft.archive.JsonV1.serializeRaw(pts)
        .orderBy("ts").select("json").collect().map(_.getString(0))
      assert(expected.length > k)
      assert(body == framed(expected.toSeq, pretty = false))
      body
    }
    def points(body: String): Long = "\\{\"time\":".r.findAllIn(body).size
    // cold: the files' rows are decoded, but only the picked points are
    // encoded, not every row of the files
    DecodedRowCache.purge(storePath)
    var encoded = DecodedRowCache.encodedElements.get
    var uncached = DecodedRowCache.uncachedElements.get
    val cold = m4(11)
    assert(DecodedRowCache.encodedElements.get == encoded,
      "a cold m4 request encoded whole files")
    assert(DecodedRowCache.uncachedElements.get - uncached == points(cold))
    // a raw request warms the files: their rows' wire elements
    assert(get(s"$base/1/samples/$ch?start=$lo&end=$hi")._1 == 200)
    encoded = DecodedRowCache.encodedElements.get
    uncached = DecodedRowCache.uncachedElements.get
    m4(13)
    assert(DecodedRowCache.encodedElements.get == encoded)
    assert(DecodedRowCache.uncachedElements.get == uncached,
      "the m4 fast path re-encoded stored samples")
  }

  test("a samples body over RespCacheMaxElems streams chunked and " +
      "byte-identical to serveJsonSpark") {
    import spark.implicits._
    val cfg2 = Files.createTempDirectory("httpcfgBig").toString
    val store2 = Files.createTempDirectory("httpstoreBig").toString
    ConfigCommands.addChannel(spark, cfg2, ChannelConfig("pv:big", "id-big",
      "ca", enabled = true, Map(), Map()))
    val n = 20100
    ConfiguredArchive.materialize(spark, cfg2, store2,
      (1 to n).map(i => ("pv:big", T0 + i * 10L * NS, i * 0.25, "", 0, 0,
          i.toLong))
        .toDF("channel", "ts", "value", "str_value", "severity", "status",
          "sample_id"))
    val running2 = HttpArchiveServer.start(spark, cfg2, store2)
    try {
      val lo = T0
      val hi = T0 + (n + 1) * 10L * NS
      val elems = ConfiguredArchive.serveJsonSpark(spark, cfg2, store2,
        "pv:big", lo, hi, None, loMode = Some(ArchiveReader.AtOrWidened),
        hiMode = Some(ArchiveReader.AtOrWidened)).toVector
      assert(elems.size == n)
      for (pretty <- Seq(false, true)) {
        val (code, body, (length, chunked)) = getWithHeaders(
          s"http://localhost:${running2.port}" +
          s"${HttpArchiveServer.ContextPath}/1/samples/pv:big" +
          s"?start=$lo&end=$hi" + (if (pretty) "&prettyPrint" else ""))
        assert(code == 200)
        assert(length == null && chunked == "chunked")
        assert(body == framed(elems, pretty))
      }
    } finally running2.stop()
  }

  test("the response cache is bounded by bytes, least recently used " +
      "evicted first") {
    val body = Array.fill[Byte](100)(1)
    val w = HttpArchiveServer.BodyLru.weight(body)
    val bound = 3 * w
    val lru = new HttpArchiveServer.BodyLru[String](bound)
    Seq("a", "b", "c").foreach { k =>
      lru.put(k, body)
      assert(lru.bytes <= bound)
    }
    assert(lru.bytes == bound)
    assert(lru.get("a").isDefined) // a re-request: a is now the newest
    lru.put("d", body)
    assert(lru.bytes <= bound)
    assert(lru.get("b").isEmpty, "the least recently used entry is evicted")
    assert(Seq("a", "c", "d").forall(lru.get(_).isDefined))
    lru.put("e", Array.fill[Byte](250)(2))
    assert(lru.bytes <= bound)
    assert(lru.get("c").isEmpty && lru.get("a").isEmpty &&
      lru.get("d").isDefined && lru.get("e").isDefined)
    // a body larger than the whole bound is not cached and evicts nothing
    lru.put("huge", new Array[Byte](bound.toInt))
    assert(lru.get("huge").isEmpty && lru.get("d").isDefined)
    assert(lru.bytes <= bound)
  }
}
