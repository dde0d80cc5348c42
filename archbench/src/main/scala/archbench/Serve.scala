package archbench

import java.net.{HttpURLConnection, URI}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.archive.{Analytics, ArchiveReader, ConfiguredArchive,
  DirectServe, DirectServeTyped, HttpArchiveServer, JsonV1, ManifestBackend}

/** One request of the dashboard mix. `typed` requests go to the typed
  * store's server; `m4` carries the bucket count of an `m4=` request;
  * `count` the `count=` of a decimated one.
  */
final case class Req(shape: String, channel: String, startNs: Long,
                     endNs: Long, count: Option[Long] = None,
                     m4: Option[Int] = None, typed: Boolean = false) {
  def path: String = s"/1/samples/$channel?start=$startNs&end=$endNs" +
    count.fold("")(c => s"&count=$c") + m4.fold("")(k => s"&m4=$k")
}

final case class Done(req: Req, ms: Double, ok: Boolean, body: String)

/** The seeded dashboard mix over the scalar store (and the typed one).
  *
  *  - `raw_day`: a one-day raw window, random channel and minute offset;
  *  - `decimated_day`: `count=100` over a one-day window, which the
  *    planner serves from the 900 s level;
  *  - `m4_day`: `m4=250` over the same kind of window;
  *  - `typed_day`: a one-day window on the typed store;
  *  - `chart_poll`: one channel and window, re-requested;
  *  - `live_tail`: the last five simulated minutes of a channel being
  *    ingested.
  *
  * Windows on the history end at least half a day before the history
  * does, so a response to them cannot change while samples are
  * appended past the history's end.
  */
final class Mix(seed: Long, scalar: Fixtures.Scalar, typed: Fixtures.Typed,
                val shapes: Seq[String], tail: () => Long) {
  import Fixtures.{NS, T0, DayNs}
  private val minute = 60L * NS
  private val pollCh = new scala.util.Random(seed).nextInt(scalar.channels)
  /** One cycle: each shape once, in a fixed order. Clients walk it from
    * evenly spaced offsets, so every run serves the same shape
    * proportions in the same interleaving, and the median does not jump
    * between the modes of a multimodal latency mix with the draw. */
  val cycle: IndexedSeq[String] = shapes.toIndexedSeq

  /** The `i`-th request of a client; `r` draws its channel and window. */
  def next(r: scala.util.Random, i: Long): Req = {
    val shape = cycle((i % cycle.size).toInt)
    val ch = scalar.name(r.nextInt(scalar.channels))
    val histMinutes = scalar.days * 1440
    shape match {
      case "raw_day" =>
        val s = T0 + r.nextInt(histMinutes - 1440 - 720) * minute
        Req(shape, ch, s, s + DayNs)
      case "decimated_day" =>
        val s = T0 + r.nextInt(histMinutes - 1440 - 720) * minute
        Req(shape, ch, s, s + DayNs, count = Some(100))
      case "m4_day" =>
        val s = T0 + r.nextInt(histMinutes - 1440 - 720) * minute
        Req(shape, ch, s, s + DayNs, m4 = Some(250))
      case "typed_day" =>
        val s = T0 + r.nextInt(720) * minute
        Req(shape, typed.name(r.nextInt(typed.channels)), s, s + DayNs,
          typed = true)
      case "chart_poll" =>
        Req(shape, scalar.name(pollCh), T0 + 6 * 3600L * NS,
          T0 + 18 * 3600L * NS)
      case "live_tail" =>
        val t = tail()
        Req(shape, ch, t - 5 * minute, t)
    }
  }
}

/** Keep-alive HTTP client: the JDK keeps one idle connection per
  * thread and host in its cache, so each client thread reuses its
  * own connection, as a dashboard does. */
object Http {
  def get(url: String): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val in = if (code < 400) conn.getInputStream else conn.getErrorStream
    val out = new java.io.ByteArrayOutputStream()
    if (in != null) {
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      in.close()
    }
    (code, out.toString("UTF-8"))
  }
}

/** The serving side of a run: servers, closed-loop clients, the
  * response checks and the traced single-client probe.
  */
final class Serving(spark: SparkSession, val scalar: Fixtures.Scalar,
                    val typed: Fixtures.Typed) {
  val server: HttpArchiveServer.Running =
    HttpArchiveServer.start(spark, scalar.cfg, scalar.store)
  val typedServer: HttpArchiveServer.Running =
    HttpArchiveServer.start(spark, typed.cfg, typed.store)

  def url(r: Req): String =
    (if (r.typed) typedServer.baseUrl else server.baseUrl) + r.path

  def stop(): Unit = { server.stop(); typedServer.stop() }

  /** One HTTP request, timed from send to last byte; a non-200 answer
    * or an exception is a failed request. */
  def send(r: Req): Done = {
    val t0 = System.nanoTime()
    val (code, body) =
      try Trace.span("http", r.shape)(Http.get(url(r)))
      catch { case e: Exception => (-1, String.valueOf(e.getMessage)) }
    val ms = (System.nanoTime() - t0) / 1e6
    Done(r, ms, code == 200, body)
  }

  /** `clients` closed-loop clients, each sending its next request when
    * the previous one has completed, until `untilNs`. Each client keeps
    * up to `keepPerClient` responses, picked by a seeded draw, for the
    * checks; the rest are timed and dropped.
    */
  def load(mix: Mix, seed: Long, clients: Int, untilNs: Long,
           keepPerClient: Int): (Seq[Done], Seq[Done]) = {
    val done = new ConcurrentLinkedQueue[Done]()
    val kept = new ConcurrentLinkedQueue[Done]()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val r = new scala.util.Random(seed * 7919L + c)
        var i = (c * mix.cycle.size / clients).toLong
        var k = 0
        while (System.nanoTime() < untilNs) {
          val d = send(mix.next(r, i)); i += 1
          if (k < keepPerClient && r.nextDouble() < 0.05) { kept.add(d); k += 1 }
          done.add(d.copy(body = if (d.ok) "" else d.body))
        }
      }, s"bench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    (done.asScala.toSeq, kept.asScala.toSeq)
  }

  /** The engine's answer to `r` with no HTTP in between: the JSON
    * elements `ConfiguredArchive.serveJson` / `serveJsonTyped` stream
    * (widened bounds, as the edge serves them), framed as the edge
    * frames a JSON array. `m4` requests are checked against the
    * engine's Spark reducer. */
  def expected(r: Req): String = {
    val elems: Iterator[String] =
      if (r.typed)
        ConfiguredArchive.serveJsonTyped(spark, typed.cfg, typed.store,
          r.channel, r.startNs, r.endNs, r.count)
      else if (r.m4.isDefined) {
        val m = ConfiguredArchive.queryM4(spark, scalar.cfg, scalar.store,
          r.channel, r.startNs, r.endNs, r.m4.get)
        JsonV1.serializeRaw(Analytics.m4Points(m)
            .withColumn("severity", lit(0)).withColumn("status", lit(0))
            .orderBy("ts"))
          .select("json").collect().iterator.map(_.getString(0))
      } else
        ConfiguredArchive.serveJson(spark, scalar.cfg, scalar.store,
          r.channel, r.startNs, r.endNs, r.count,
          loMode = Some(ArchiveReader.AtOrWidened),
          hiMode = Some(ArchiveReader.AtOrWidened))
    elems.mkString("[", ",", "]")
  }

  /** Response check: each kept response must be byte-identical to
    * [[expected]] at the same store version. Returns the mismatches. */
  def check(kept: Seq[Done]): Seq[String] =
    kept.flatMap { d =>
      val want = expected(d.req)
      if (Checks.sameBytes(want, d.body)) None
      else Some(s"${d.req.shape} ${d.req.path}: response differs from " +
        s"the engine's (${d.body.length} vs ${want.length} bytes)")
    }

  /** Traced probe, one client, no concurrency: per request of a seeded
    * sample of the mix, the response-cache hit/miss split (exact,
    * since nothing else is in flight), the edge time (HTTP minus the
    * same request's `serveJson`), whether the direct path (in-process,
    * no Spark job) answers, and the direct/fallback and config-resolve
    * times.
    */
  def probe(mix: Mix, seed: Long, n: Int, out: Result): Unit = {
    val r = new scala.util.Random(seed + 17)
    val hits = mutable.Map.empty[String, (Int, Int)].withDefaultValue((0, 0))
    val edge = mutable.ArrayBuffer.empty[Double]
    val direct = mutable.ArrayBuffer.empty[Double]
    val fallback = mutable.ArrayBuffer.empty[Double]
    val cfgMs = mutable.ArrayBuffer.empty[Double]
    var directSome = 0; var directTried = 0
    for (i <- 0 until n) {
      val q = mix.next(r, i)
      val st = if (q.typed) typedServer.stats else server.stats
      val h0 = st.responseCacheHits.get()
      val d = send(q)
      val hit = st.responseCacheHits.get() > h0
      val (hh, mm) = hits(q.shape)
      hits(q.shape) = if (hit) (hh + 1, mm) else (hh, mm + 1)
      if (q.m4.isEmpty) {
        val (cfg, store) = if (q.typed) (typed.cfg, typed.store)
                           else (scalar.cfg, scalar.store)
        val c0 = System.nanoTime()
        Trace.span("config", "state")(
          graft.archive.ConfigCommands.state(spark, cfg))
        cfgMs += (System.nanoTime() - c0) / 1e6
        spark.sparkContext.setJobGroup("bench.serve_probe", "direct probe")
        try {
          val t0 = System.nanoTime()
          val got = Trace.span("serve", "tryServe") {
            if (q.typed) DirectServeTyped.tryServe(spark, cfg, store,
              q.channel, q.startNs, q.endNs, q.count, ManifestBackend,
              refuseDisabled = false).map(_.size)
            else DirectServe.tryServe(spark, cfg, store, q.channel,
              q.startNs, q.endNs, q.count, ManifestBackend,
              Some(ArchiveReader.AtOrWidened),
              Some(ArchiveReader.AtOrWidened), refuseDisabled = false)
              .map(_.size)
          }
          val tDirect = (System.nanoTime() - t0) / 1e6
          directTried += 1
          if (got.isDefined) { directSome += 1; direct += tDirect }
          val t1 = System.nanoTime()
          Trace.span("serve", "serveJson")(expected(q).length)
          val tServe = (System.nanoTime() - t1) / 1e6
          if (got.isEmpty) fallback += tServe
          if (!hit) edge += d.ms - tServe
        } finally spark.sparkContext.clearJobGroup()
      }
    }
    mix.shapes.foreach { s =>
      val (hh, mm) = hits(s)
      out.layer(s"shape.$s.hit_ratio", if (hh + mm == 0) 0.0
        else hh.toDouble / (hh + mm), "ratio")
    }
    out.layer("http.edge_ms_p50", Stats.median(edge), "ms")
    out.layer("serve.direct_ratio",
      if (directTried == 0) 0.0 else directSome.toDouble / directTried, "ratio")
    out.layer("serve.direct_ms_p50", Stats.median(direct), "ms")
    out.layer("serve.fallback_ms_p50", Stats.median(fallback), "ms")
    out.layer("config.state_ms_p50", Stats.median(cfgMs), "ms")
  }

  /** Per-shape latency and the HTTP counters between the snapshots
    * `st0` and `st1` taken at the window's edges. */
  def report(done: Seq[Done], mix: Mix, sec: Double, st0: (Long, Long, Long, Long),
             st1: (Long, Long, Long, Long), jobs: Long, out: Result): Unit = {
    mix.shapes.foreach { s =>
      val xs = done.filter(_.req.shape == s).map(d =>
        if (d.ok) d.ms else Double.PositiveInfinity)
      out.layer(s"shape.$s.p50_ms", Stats.median(xs), "ms")
      out.layer(s"shape.$s.p99_ms", Stats.pct(xs, 99), "ms")
    }
    val (req, sreq, hits, errs) = st1
    out.layer("http.requests", (req - st0._1).toDouble, "count")
    out.layer("http.errors", (errs - st0._4).toDouble, "count")
    out.layer("http.cache_hit_ratio",
      if (sreq == st0._2) 0.0 else (hits - st0._3).toDouble / (sreq - st0._2),
      "ratio")
    out.layer("serve.spark_jobs_per_request",
      if (done.isEmpty) 0.0 else jobs.toDouble / done.size, "ratio")
    val lat = done.map(d => if (d.ok) d.ms else Double.PositiveInfinity)
    out.layer("serve_p50_ms", Stats.median(lat), "ms")
    out.layer("serve_p99_ms", Stats.pct(lat, 99), "ms")
    out.layer("serve_rps", done.count(_.ok) / sec, "1/s")
  }

  /** (requests, samples requests, cache hits, errors) over both servers. */
  def counters: (Long, Long, Long, Long) = {
    val a = server.stats; val b = typedServer.stats
    (a.requests.get + b.requests.get,
      a.samplesRequests.get + b.samplesRequests.get,
      a.responseCacheHits.get + b.responseCacheHits.get,
      a.errors.get + b.errors.get)
  }
}
