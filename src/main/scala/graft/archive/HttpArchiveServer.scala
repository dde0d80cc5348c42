package graft.archive

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.regex.{Pattern, PatternSyntaxException}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

/** The reference's archive-access HTTP API (version 1.0) as a real
  * process a user can curl — the layer the engine stopped short of
  * through round 7. Fresh implementation of the CONTRACT of
  * Api10Controller.java (cassandra-pv-archiver-server/.../web/
  * archiveaccess/controller/Api10Controller.java:127-345) over
  * [[ConfiguredArchive]], on the JDK's built-in `HttpServer` (no new
  * dependency):
  *
  *   - `GET <ctx>/` — fixed one-archive info array
  *     (Api10Controller.java:122-137)
  *   - `GET <ctx>/1/samples/<channel>?start=S&end=E[&count=N][&lttb=K]` —
  *     JSON v1 sample array. The channel is the URL-DECODED extra path
  *     (Api10Controller.extractExtraPathInfo → URLDecoder, :359-375),
  *     taken from the RAW request path so an encoded `/` (%2F) stays
  *     inside the name instead of splitting it into path segments.
  *     Missing/empty/unknown channel → 404; `start`/`end` missing or
  *     non-numeric, `start < 0`, `end < start`, `count <= 0` → 400
  *     (:246-279). Both bounds are served widened — AT_OR_BEFORE lower
  *     / AT_OR_AFTER upper — exactly the modes the reference's
  *     controller passes on BOTH its raw and decimated paths.
  *     `lttb=K` (beyond the reference) serves the K visually dominant
  *     raw points via [[Analytics.lttb]] instead of a planner-selected
  *     level — the chart-UI path; `lttb` non-numeric or < 3, or a
  *     typed-union store, → 400
  *     (:388-394, :455-462); `count` still drives resolution
  *     selection through [[ResolutionPlanner]]. `m4=K` serves the
  *     pixel-exact alternative ([[Analytics.m4]]): the distinct
  *     first/min/max/last corner points of K equal buckets,
  *     time-ordered; `m4` non-numeric or < 1, combined with `lttb`,
  *     or on a typed store, → 400.
  *   - `GET <ctx>/1/stats/<channel>?start=S&end=E` (beyond the
  *     reference) — the dashboard's distribution panel: one JSON
  *     object with samples/min/p50/p90/p99/max over the inclusive
  *     range; the 400/404/403 matrix mirrors the samples endpoint,
  *     and a configured channel with no samples in range answers
  *     `{"channel":…,"samples":0}`.
  *   - `GET <ctx>/1/derived/<chanA>?other=<chanB>&op=add|sub|mul|div&
  *     start=S&end=E&step=NS` (beyond the reference) — derived
  *     (calculated) channel serving, the EPICS calc-record analog:
  *     both sources held onto the shared grid and combined pointwise
  *     ([[ConfiguredArchive.queryDerived]]), served as a JSON v1 raw
  *     array named `calc:<op>(<a>,<b>)`. Unknown op, missing/equal
  *     `other`, or a non-positive `step` → 400; either source
  *     unknown → 404; `op` defaults to `sub`.
  *   - `GET <ctx>/1/spectrum/<channel>?start=S&end=E[&periods=600,…]`
  *     (beyond the reference) — the oscillation panel: power at each
  *     candidate period in seconds ([[ConfiguredArchive.querySpectrum]])
  *     plus the dominant period; same 400/404/403 matrix as stats.
  *   - `GET <ctx>/1/cusum/<channel>?start=S&end=E[&slack=K]
  *     [&threshold=H]` (beyond the reference) — the mean-shift panel:
  *     two-sided CUSUM excursion counts/timestamps/peaks
  *     ([[ConfiguredArchive.queryCusum]]); invalid tuning → 400.
  *   - `GET <ctx>/1/staleness?asOf=NS[&grace=G]` (beyond the
  *     reference) — the fleet ops panel: every configured channel's
  *     last arrival, median cadence, expected next, and overdue flag
  *     ([[ConfiguredArchive.queryStaleness]]).
  *   - `GET <ctx>/1/channels-by-pattern/<glob>` — case-insensitive
  *     `*`/`?` glob over the configured channel names, sorted
  *     (:160-175, compileGlobPattern :307-345).
  *   - `GET <ctx>/1/channels-by-regexp/<regexp>` — anchored
  *     `Pattern.matches` semantics; a bad pattern is 400 with the
  *     parse message (:189-211).
  *
  * Responses are `application/json; charset=UTF-8`. A sample array of
  * at most `RespCacheMaxElems` elements is framed whole and sent as one
  * write with its `Content-Length`; a longer one is STREAMED chunked as
  * the elements come off [[ConfiguredArchive.serveJson]]'s iterator,
  * so the server never materializes an unbounded result (the
  * reference's generator-per-sample loop, :520-533). `prettyPrint`
  * puts each element on its own line (the reference delegates to
  * Jackson's default pretty printer; our elements are pre-serialized
  * JsonV1 objects, so prettiness applies to the array framing).
  *
  * A typed-union store (the 21-type `vtype` layout) is auto-detected
  * and served through [[ConfiguredArchive.serveJsonTyped]] — the FULL
  * wire format (enum labels, array elements, aggregated minMaxDouble
  * with metadata, markers), which is the reference's only serving
  * path (`serializeSampleToJsonV1`); scalar stores keep the scalar
  * serializer.
  *
  * Disabled channels serve their archived history by default, exactly
  * like the reference (Api10Controller.java:235-279 never consults the
  * enabled flag — disabling stops archiving, not retrieval). A
  * deployment that wants decommissioned channels dark starts the
  * server with `refuseDisabled = true`, which maps the refusal to 403
  * so it is visible rather than a lying 404.
  */
object HttpArchiveServer {

  // TCP_NODELAY on the JDK server's sockets: the response headers and
  // the first body chunk are separate small writes, and Nagle holding
  // the second until the client's delayed ACK put a flat ~40 ms under
  // EVERY response (measured — even the driver-side channel listing).
  // ServerConfig reads the property once at class-load, so set it
  // before any HttpServer.create in this JVM.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** The reference's servlet context for the API. */
  val ContextPath = "/archive-access/api/1.0/archive"

  /** Serving counters for the status endpoint — one instance per
    * [[Running]] server, so two servers in one JVM report their own
    * traffic.
    */
  final class Stats {
    val requests = new java.util.concurrent.atomic.AtomicLong()
    val samplesRequests = new java.util.concurrent.atomic.AtomicLong()
    val responseCacheHits = new java.util.concurrent.atomic.AtomicLong()
    val errors = new java.util.concurrent.atomic.AtomicLong()
  }

  final case class Running(server: HttpServer,
                           pool: java.util.concurrent.ExecutorService,
                           stats: Stats = new Stats,
                           registration: Option[ServerRegistry.Registration] =
                             None) {
    def port: Int = server.getAddress.getPort
    def baseUrl: String = s"http://localhost:$port$ContextPath"
    def stop(): Unit = {
      registration.foreach(_.close())
      server.stop(0); pool.shutdown()
    }
  }

  /** Start serving `configPath`/`storePath` on `port` (0 = ephemeral).
    * Requests are handled on a fixed pool (`threads`, default 8) — the
    * Spark session and scheduler are thread-safe, so concurrent
    * requests interleave their small jobs instead of queueing behind
    * one another's scheduling round trips (measured: HTTPLAT row).
    */
  /** `adminUsers`: path to a [[UserStore]] log — persisted users with
    * roles (admin vs read-only), seeded admin/admin on first start,
    * all mutable over the API without a restart; takes precedence over
    * the static `adminAuth` pair when both are given.
    */
  /** `registryDir`: a [[ServerRegistry]] directory — when given, the
    * server registers itself (`serverId`/`serverName`) with a renewal
    * heartbeat on start and deregisters on [[Running.stop]], and the
    * admin cluster-status endpoint reports the live fleet instead of
    * the single-server constant.
    */
  def start(spark: SparkSession, configPath: String, storePath: String,
            backend: StoreBackend = ManifestBackend,
            port: Int = 0, threads: Int = 8,
            refuseDisabled: Boolean = false,
            adminAuth: Option[(String, String)] = None,
            adminUsers: Option[String] = None,
            registryDir: Option[String] = None,
            serverId: String = "graft",
            serverName: String = "graft"): Running = {
    val stats = new Stats
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext(ContextPath, (ex: HttpExchange) =>
      try {
        stats.requests.incrementAndGet()
        handle(spark, configPath, storePath, backend, ex, refuseDisabled,
          stats)
      } catch {
        case e: Throwable =>
          // last-resort 500 — contract errors are mapped before this
          stats.errors.incrementAndGet()
          try sendError(ex, 500, s"internal error: ${e.getMessage}")
          catch { case _: Throwable => () }
      } finally ex.close())
    // the reference's admin configuration API on the same socket —
    // channel add/update/rename/remove + XML import/export over
    // [[ConfigCommands]] (the serving handlers above read the same
    // config log, so an admin change is served on the next request)
    // `adminAuth` guards ONLY this context with HTTP Basic — the
    // reference secures its admin UI/API (Spring Security) while
    // archive-access stays anonymous
    server.createContext(HttpAdminApi.ContextPath, (ex: HttpExchange) =>
      try {
        stats.requests.incrementAndGet()
        HttpAdminApi.handle(spark, configPath, Some(storePath), ex,
          adminAuth, Some(stats),
          storeVersion = () => backend.metaVersion(spark, storePath),
          users = adminUsers, registryDir = registryDir,
          serverId = serverId)
      } catch {
        case e: Throwable =>
          stats.errors.incrementAndGet()
          try sendError(ex, 500, s"internal error: ${e.getMessage}")
          catch { case _: Throwable => () }
      } finally ex.close())
    // the human-facing admin page — one static HTML document over the
    // wsapi above (the reference's Thymeleaf admin UI surface)
    server.createContext(AdminUi.ContextPath, (ex: HttpExchange) =>
      try AdminUi.handle(ex)
      catch { case _: Throwable => () }
      finally ex.close())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    server.setExecutor(pool)
    server.start()
    // register AFTER the socket binds so the advertised url answers
    // the moment a peer reads the record
    val registration = registryDir.map { dir =>
      val host =
        try java.net.InetAddress.getLocalHost.getHostName
        catch { case _: java.net.UnknownHostException => "localhost" }
      ServerRegistry.register(spark, dir, serverId, serverName,
        s"http://$host:${server.getAddress.getPort}")
    }
    Running(server, pool, stats, registration)
  }

  /** Whether the snapshot's store is a typed-union store (the `vtype`
    * discriminator): those serve the FULL 21-type wire format — the
    * reference has exactly one serving path (serializeSampleToJsonV1 on
    * typed samples); the scalar path is this engine's simplification
    * for scalar-double stores. Decided per request from the snapshot,
    * so a store populated, or deleted and recreated in the other
    * layout, after the server started serves its own format on the
    * next request. A manifest store answers from the head manifest's
    * schema (parsed once per version). Other backends probe a read of
    * the raw level; only a SUCCESSFUL probe is memoized, keyed on the
    * snapshot's version, and a backend without cheap versions
    * re-probes every time.
    */
  private def detectTyped(spark: SparkSession,
                          snap: ConfiguredArchive.Snapshot): Boolean =
    if (snap.backend eq ManifestBackend)
      snap.manifest.exists(_.schema.fieldNames.contains("vtype"))
    else probeTyped(spark, snap)

  private val typedMemo = new java.util.concurrent.ConcurrentHashMap[
    (StoreBackend, String, Long), java.lang.Boolean]()

  private def probeTyped(spark: SparkSession,
                         snap: ConfiguredArchive.Snapshot): Boolean = {
    val (backend, storePath) = (snap.backend, snap.storePath)
    def probe: Option[Boolean] =
      try Some(backend.read(spark, storePath, 0L).columns.contains("vtype"))
      catch { case _: Throwable => None }
    snap.storeVersion match {
      case Some(v) =>
        val key = (backend, storePath, v)
        val hit = typedMemo.get(key)
        if (hit != null) hit.booleanValue()
        else probe match {
          case Some(b) =>
            if (typedMemo.size > 4096) typedMemo.clear()
            typedMemo.put(key, b); b
          case None => false
        }
      case None => probe.getOrElse(false)
    }
  }

  private def handle(spark: SparkSession, configPath: String,
                     storePath: String, backend: StoreBackend,
                     ex: HttpExchange, refuseDisabled: Boolean,
                     stats: Stats): Unit = {
    if (ex.getRequestMethod != "GET") { sendError(ex, 405, "GET only"); return }
    // RAW path: getPath percent-decodes, which would split an encoded
    // '/' inside a channel name into path segments — the reference
    // reads request.getRequestURI (undecoded) for the same reason
    val rawPath = ex.getRequestURI.getRawPath
    val rest = rawPath.stripPrefix(ContextPath)
    val params = queryParams(ex)
    // each data endpoint reads one version of each log
    def snap =
      ConfiguredArchive.snapshot(spark, configPath, storePath, backend)
    rest match {
      case "" | "/" => sendJson(ex,
        """[{"key":1,"name":"Graft","description":"Spark Graft Archive"}]""")
      case p if p.startsWith("/1/samples/") =>
        samples(spark, snap, ex, decodePath(p.stripPrefix("/1/samples/")),
          params, refuseDisabled, stats)
      case p if p.startsWith("/1/stats/") =>
        statsPanel(spark, snap, ex, decodePath(p.stripPrefix("/1/stats/")),
          params, refuseDisabled)
      case p if p.startsWith("/1/derived/") =>
        derived(spark, snap, ex, decodePath(p.stripPrefix("/1/derived/")),
          params, refuseDisabled)
      case p if p.startsWith("/1/spectrum/") =>
        spectrumPanel(spark, snap, ex,
          decodePath(p.stripPrefix("/1/spectrum/")), params, refuseDisabled)
      case p if p.startsWith("/1/cusum/") =>
        cusumPanel(spark, snap, ex, decodePath(p.stripPrefix("/1/cusum/")),
          params, refuseDisabled)
      case "/1/staleness" =>
        stalenessPanel(spark, snap, ex, params)
      case p if p.startsWith("/1/channels-by-pattern/") =>
        val glob = decodePath(p.stripPrefix("/1/channels-by-pattern/"))
        listChannels(spark, configPath, ex, params,
          Pattern.compile(ChannelRegistry.globToRegex(glob)))
      case p if p.startsWith("/1/channels-by-regexp/") =>
        val re = decodePath(p.stripPrefix("/1/channels-by-regexp/"))
        try listChannels(spark, configPath, ex, params,
          Pattern.compile("^(?:" + re + ")$"))
        catch {
          case e: PatternSyntaxException =>
            sendError(ex, 400, s"Invalid regular expression: ${e.getMessage}")
        }
      case _ => sendError(ex, 404, "not found")
    }
  }

  /** Bodies under one byte bound, least recently used evicted first.
    * Each entry weighs its body plus [[BodyLru.EntryOverhead]] for its
    * key and map node, so many tiny bodies cannot outgrow the bound.
    */
  private[graft] final class BodyLru[K](maxBytes: Long) {
    private val map =
      new java.util.LinkedHashMap[K, Array[Byte]](64, 0.75f, true)
    private var total = 0L

    def get(k: K): Option[Array[Byte]] = synchronized(Option(map.get(k)))

    def put(k: K, body: Array[Byte]): Unit =
      if (BodyLru.weight(body) <= maxBytes) synchronized {
        val prev = map.put(k, body)
        if (prev != null) total -= BodyLru.weight(prev)
        total += BodyLru.weight(body)
        val it = map.values.iterator
        while (total > maxBytes) {
          total -= BodyLru.weight(it.next())
          it.remove()
        }
      }

    /** The counted total, never above the bound. */
    def bytes: Long = synchronized(total)

    def removeIf(p: K => Boolean): Unit = synchronized {
      val it = map.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        if (p(e.getKey)) { total -= BodyLru.weight(e.getValue); it.remove() }
      }
    }
  }

  private[graft] object BodyLru {
    val EntryOverhead = 256L
    def weight(body: Array[Byte]): Long = body.length + EntryOverhead
  }

  /** Elements of a body sent whole; a longer array streams chunked. */
  private val RespCacheMaxElems = 20000
  /** Byte bound of the response cache, and the most chars of a body
    * sent whole. */
  private val RespCacheMaxBytes = 64L << 20
  /** Upper bound on /1/derived grid cardinality per request. */
  private val MaxDerivedGridPoints = 1000000L
  /** Entries of each panel memo (stats, spectrum, staleness, cusum). */
  private val RespCacheMaxEntries = 1024

  /** The store and config versions a memoized response was built
    * from ([[ConfiguredArchive.Snapshot.memoKey]]). */
  private type Versions = (StoreBackend, String, String, Long, Long)

  /** Response cache for the chart-UI polling pattern (a panel
    * re-requesting the same channel/range at 1 Hz): the framed body of
    * a completed response, keyed by the FULL request (`prettyPrint`
    * included) plus the store's and the config log's versions in the
    * request's snapshot, the versions the body was built from — any
    * commit, retention pass, or config change bumps a version and the
    * stale entry simply stops being addressable. Only version-capable
    * backends cache (no version = no safe invalidation), and only
    * bodies sent whole (the unbounded-raw firehose keeps streaming
    * uncached).
    */
  private val respMemo = new BodyLru[(Versions, String, Long, Long,
    Option[Long], Boolean, Boolean, Option[(String, Int)], Boolean)](
    RespCacheMaxBytes)

  private def samples(spark: SparkSession, snap: ConfiguredArchive.Snapshot,
                      ex: HttpExchange, channel: String,
                      params: Map[String, String],
                      refuseDisabled: Boolean, stats: Stats): Unit = {
    stats.samplesRequests.incrementAndGet()
    if (channel.isEmpty) { sendError(ex, 404, "not found"); return }
    // parameter validation per Api10Controller.java:246-279: a missing
    // or non-numeric required param is 400 (Spring's @RequestParam
    // binding), as are the explicit range/count checks
    val start = params.get("start").flatMap(_.toLongOption)
    val end = params.get("end").flatMap(_.toLongOption)
    val countRaw = params.get("count")
    val count = countRaw.map(_.toLongOption)
    if (start.isEmpty || end.isEmpty || count.exists(_.isEmpty)) {
      sendError(ex, 400, "start and end (and count, if given) must be integers")
      return
    }
    if (start.get < 0L || end.get < start.get) {
      sendError(ex, 400, "require 0 <= start <= end")
      return
    }
    if (count.exists(_.exists(_ <= 0L))) {
      sendError(ex, 400, "count must be positive")
      return
    }
    // lttb=<k>: serve the k visually dominant raw points instead of a
    // planner-selected level (the chart-UI read path)
    val lttbK = params.get("lttb").map(_.toIntOption)
    if (lttbK.exists(_.isEmpty)) {
      sendError(ex, 400, "lttb must be an integer"); return
    }
    if (lttbK.exists(_.exists(_ < 3))) {
      sendError(ex, 400, "lttb must be at least 3"); return
    }
    // m4=<k>: the pixel-exact min/max envelope reducer — serves the
    // DISTINCT first/min/max/last corner points of k equal buckets
    val m4K = params.get("m4").map(_.toIntOption)
    if (m4K.exists(_.isEmpty)) {
      sendError(ex, 400, "m4 must be an integer"); return
    }
    if (m4K.exists(_.exists(_ < 1))) {
      sendError(ex, 400, "m4 must be at least 1"); return
    }
    if (lttbK.isDefined && m4K.isDefined) {
      sendError(ex, 400, "lttb and m4 are mutually exclusive"); return
    }
    val isTyped = detectTyped(spark, snap)
    if ((lttbK.isDefined || m4K.isDefined) && isTyped) {
      sendError(ex, 400, "downsampling is not supported on typed stores")
      return
    }
    val downsample: Option[(String, Int)] =
      lttbK.flatten.map(("lttb", _)).orElse(m4K.flatten.map(("m4", _)))
    val pretty = params.contains("prettyPrint")
    // both versions come from the request's snapshot
    val cacheKey = snap.memoKey.map((_, channel, start.get, end.get,
      count.flatten, isTyped, refuseDisabled, downsample, pretty))
    val hit = cacheKey.flatMap(respMemo.get)
    if (hit.isDefined) {
      stats.responseCacheHits.incrementAndGet()
      sendJsonBytes(ex, hit.get); return
    }
    // driver-side downsample fast path: the manifest-pruned rows fold
    // on the driver (DirectPanels — exact replicas of the engine
    // reducers), zero Spark jobs, and every point it picks is a stored
    // row, served as its file's cached wire element once a raw serve
    // has encoded that file; out-of-envelope stores fall through to
    // the engine at the same snapshot
    def fastPoints(fold: DirectServe.PanelRows =>
        collection.IndexedSeq[DirectServe.Hit[DirectServe.ScalarRows]])
        : Option[Iterator[String]] =
      DirectServe.tryRawRows(spark, snap, channel, Some(start.get), end.get,
          refuseDisabled)
        .map(rows => fold(rows).iterator.map(DirectServe.pointWire))
    val it =
      try {
        if (lttbK.isDefined) {
          fastPoints(DirectPanels.lttb(_, start.get, end.get,
              lttbK.flatten.get)).getOrElse {
            val df = ConfiguredArchive.queryLttb(spark, snap, channel,
                start.get, end.get, lttbK.flatten.get, refuseDisabled)
              .withColumn("severity", lit(0)).withColumn("status", lit(0))
              .orderBy("ts")
            ArchiveServer.serializedIterator(JsonV1.serializeRaw(df),
              Some(lttbK.flatten.get.toLong))
          }
        } else if (m4K.isDefined) {
          fastPoints(DirectPanels.m4Points(_, start.get, end.get,
              m4K.flatten.get)).getOrElse {
            val m = ConfiguredArchive.queryM4(spark, snap, channel,
              start.get, end.get, m4K.flatten.get, refuseDisabled)
            // the distinct time-ordered corner points
            // (Analytics.m4Points — shared with the byte-parity spec)
            val pts = Analytics.m4Points(m)
              .withColumn("severity", lit(0)).withColumn("status", lit(0))
              .orderBy("ts")
            ArchiveServer.serializedIterator(JsonV1.serializeRaw(pts),
              Some(4L * m4K.flatten.get))
          }
        } else if (isTyped)
          ConfiguredArchive.serveJsonTyped(spark, snap, channel, start.get,
            end.get, count.flatten, refuseDisabled)
        else
          ConfiguredArchive.serveJson(spark, snap, channel, start.get,
            end.get, count.flatten, Some(ArchiveReader.AtOrWidened),
            Some(ArchiveReader.AtOrWidened), refuseDisabled)
      }
      catch {
        case _: NoSuchChannelException => sendError(ex, 404, "not found"); return
        case e: ChannelDisabledException =>
          sendError(ex, 403, e.getMessage); return
        // a CONFIGURED channel with no stored data (unknown names
        // already 404'd above via the config resolution) — the
        // reference serves an empty array for a channel that exists
        // but has no samples. ONLY that typed signal maps here: any
        // other IllegalArgumentException (planner misconfig, probe
        // contract breach) falls through to the 500 handler instead of
        // being silently masked as empty data.
        case _: NoStoredDataException => Iterator.empty[String]
      }
    // a body sent whole is cached; anything larger streamed uncached
    sendJsonArray(ex, it, pretty,
      body => cacheKey.foreach(respMemo.put(_, body)))
  }

  /** `GET <ctx>/1/derived/<chanA>?other=<chanB>&op=add|sub|mul|div&
    * start=S&end=E&step=NS` — derived (calculated) channel serving,
    * the EPICS calc-record analog a chart UI requests directly: both
    * channels resolved through the current config (the samples
    * endpoint's 404/403 semantics apply to each source), held onto
    * the shared [start, end] grid every `step` ns (holds reach back
    * past `start` — AT_OR_BEFORE widening), combined pointwise, and
    * served as a JSON v1 raw sample array named
    * `calc:<op>(<a>,<b>)`. Grid points before either channel's first
    * sample are dropped. Responses are grid-sized (bounded by
    * construction), so the array collects in one job like the
    * count-driven samples path.
    */
  private def derived(spark: SparkSession, snap: ConfiguredArchive.Snapshot,
                      ex: HttpExchange, channel: String,
                      params: Map[String, String],
                      refuseDisabled: Boolean): Unit = {
    if (channel.isEmpty) { sendError(ex, 404, "not found"); return }
    val start = params.get("start").flatMap(_.toLongOption)
    val end = params.get("end").flatMap(_.toLongOption)
    val step = params.get("step").flatMap(_.toLongOption)
    if (start.isEmpty || end.isEmpty || step.isEmpty) {
      sendError(ex, 400, "start, end and step must be integers"); return
    }
    if (start.get < 0L || end.get < start.get) {
      sendError(ex, 400, "require 0 <= start <= end"); return
    }
    if (step.get <= 0L) { sendError(ex, 400, "step must be positive"); return }
    val other = params.getOrElse("other", "")
    if (other.isEmpty) { sendError(ex, 400, "other is required"); return }
    if (other == channel) {
      sendError(ex, 400, "derived channel needs two distinct sources"); return
    }
    val op = params.getOrElse("op", "sub")
    if (!ConfiguredArchive.DerivedOps.contains(op)) {
      sendError(ex, 400, "op must be one of " +
        ConfiguredArchive.DerivedOps.keys.toSeq.sorted.mkString(", "))
      return
    }
    if (detectTyped(spark, snap)) {
      sendError(ex, 400, "derived channels are not supported on typed stores")
      return
    }
    val gridPoints = (end.get - start.get) / step.get + 1L
    // unlike /1/samples, this endpoint MANUFACTURES rows from request
    // parameters (explode(sequence(...))) — an uncapped step=1 over a
    // wide range would allocate a multi-billion-element array on an
    // executor and collect it on the server JVM. Same class of guard
    // as the reference's count validation (Api10Controller.java:269).
    if (gridPoints > MaxDerivedGridPoints) {
      sendError(ex, 400, s"step too small for the range: " +
        s"$gridPoints grid points exceeds the $MaxDerivedGridPoints cap")
      return
    }
    val it =
      try {
        // driver-side hold+combine (DirectPanels.derived) when both
        // sources read fast — both resolve through the config so the
        // 404/403 matrix is path-independent
        val fast = for {
          a <- DirectServe.tryRawRows(spark, snap, channel, None, end.get,
            refuseDisabled)
          b <- DirectServe.tryRawRows(spark, snap, other, None, end.get,
            refuseDisabled)
        } yield DirectPanels.derived(a, b,
            ConfiguredArchive.DerivedOpsD(op), start.get, end.get,
            step.get)
          .iterator.map(p => DirectServe.jsonOf(p._1, p._2))
        fast.getOrElse {
          val df = ConfiguredArchive.queryDerived(spark, snap.configPath,
              snap.storePath, channel, other, op, start.get, end.get,
              step.get, snap.backend, refuseDisabled = refuseDisabled)
            .withColumn("severity", lit(0)).withColumn("status", lit(0))
            .orderBy("ts")
          ArchiveServer.serializedIterator(JsonV1.serializeRaw(df),
            Some(gridPoints))
        }
      }
      catch {
        case _: NoSuchChannelException => sendError(ex, 404, "not found"); return
        case e: ChannelDisabledException =>
          sendError(ex, 403, e.getMessage); return
        case _: NoStoredDataException => Iterator.empty[String]
      }
    sendJsonArray(ex, it, params.contains("prettyPrint"))
  }

  private def listChannels(spark: SparkSession, configPath: String,
                           ex: HttpExchange, params: Map[String, String],
                           pattern: Pattern): Unit = {
    // metadata-sized: the config state is a driver-side Seq, matched
    // and sorted like the reference's SortedMap-backed cache walk
    val names = ConfigCommands.state(spark, configPath).configs
      .map(_.name).filter(n => pattern.matcher(n).matches()).sorted
    sendJsonArray(ex, names.iterator.map(jsonString),
      pretty = params.contains("prettyPrint"))
  }

  /** JSON string literal: quote/backslash/control-char escaped. */
  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  // ---- plumbing ------------------------------------------------------

  /** The reference decodes the extra path info with plain URLDecoder
    * UTF-8 (Api10Controller.java:366-369). URLDecoder treats '+' as a
    * space, and so therefore does this edge — channel names with real
    * plus signs arrive as %2B, exactly as the reference requires.
    */
  private def decodePath(raw: String): String =
    URLDecoder.decode(raw, StandardCharsets.UTF_8)

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split("&").toSeq)
      .filter(_.nonEmpty)
      .map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => decodePath(k) -> decodePath(v)
          case Array(k) => decodePath(k) -> ""
        }
      }.toMap

  /** `GET <ctx>/1/stats/<channel>?start=S&end=E` — the dashboard's
    * distribution panel: one JSON object with the sample count, min,
    * exact interpolated p50/p90/p99 and max over the inclusive range
    * ([[ConfiguredArchive.queryStats]]). 400/404/403 mirror the
    * samples endpoint; a configured channel with no samples in range
    * answers `{"channel":…,"samples":0}`.
    */
  private val statsMemo = new java.util.concurrent.ConcurrentHashMap[
    (Versions, String, Long, Long, Boolean), String]()

  private def statsPanel(spark: SparkSession,
                         snap: ConfiguredArchive.Snapshot, ex: HttpExchange,
                         channel: String, params: Map[String, String],
                         refuseDisabled: Boolean): Unit = {
    if (channel.isEmpty) { sendError(ex, 404, "not found"); return }
    val start = params.get("start").flatMap(_.toLongOption)
    val end = params.get("end").flatMap(_.toLongOption)
    if (start.isEmpty || end.isEmpty) {
      sendError(ex, 400, "start and end must be integers"); return
    }
    if (start.get < 0L || end.get < start.get) {
      sendError(ex, 400, "require 0 <= start <= end"); return
    }
    // scalar-value percentiles over a typed-union store would silently
    // rank enum codes and drop string samples — refuse, like lttb/m4
    if (detectTyped(spark, snap)) {
      sendError(ex, 400, "stats is not supported on typed stores"); return
    }
    // the panel IS the 1 Hz polling pattern the response cache exists
    // for: one row per request, keyed like respMemo on both versions
    val cacheKey = snap.memoKey.map((_, channel, start.get, end.get,
      refuseDisabled))
    val hit = cacheKey.flatMap(k => Option(statsMemo.get(k)))
    if (hit.isDefined) { sendJson(ex, hit.get); return }
    val row: Option[(Long, Double, Double, Double, Double, Double)] =
      try DirectServe.tryRawRows(spark, snap, channel, Some(start.get),
          end.get, refuseDisabled) match {
        // driver-side percentile fold (DirectPanels.stats) — zero
        // Spark jobs on the panel's cold path
        case Some(rows) => DirectPanels.stats(rows)
        case None =>
          ConfiguredArchive.queryStats(spark, snap.configPath,
              snap.storePath, channel, start.get, end.get, snap.backend,
              refuseDisabled = refuseDisabled)
            .select("n_samples", "v_min", "p50", "p90", "p99", "v_max")
            .collect().headOption
            .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
              r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      }
      catch {
        case _: NoSuchChannelException =>
          sendError(ex, 404, "not found"); return
        case e: ChannelDisabledException =>
          sendError(ex, 403, e.getMessage); return
        case _: NoStoredDataException => None
      }
    // shared integral-double / non-finite JSON rendering rule
    def num(d: Double): String = jsonNum(d)
    val body = row match {
      case None =>
        s"""{"channel":${jsonString(channel)},"samples":0}"""
      case Some((n, mn, p50, p90, p99, mx)) =>
        s"""{"channel":${jsonString(channel)},"samples":$n,""" +
          s""""min":${num(mn)},"p50":${num(p50)},""" +
          s""""p90":${num(p90)},"p99":${num(p99)},""" +
          s""""max":${num(mx)}}"""
    }
    cacheKey.foreach { k =>
      if (statsMemo.size > RespCacheMaxEntries) statsMemo.clear()
      statsMemo.put(k, body)
    }
    sendJson(ex, body)
  }

  // integral doubles print without the trailing ".0" (the JSON a human
  // reads on a dashboard); non-finite values QUOTE (bare Infinity/NaN
  // is not JSON — the rule Jackson applies on the samples path).
  // Shared by the stats / spectrum / cusum panels.
  private def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "\"" + d.toString + "\""
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** Upper bound on /1/spectrum candidate periods per request (each
    * period multiplies the projection scan).
    */
  private val MaxSpectrumPeriods = 64

  private val spectrumMemo = new java.util.concurrent.ConcurrentHashMap[
    (Versions, String, Long, Long, String, Boolean), String]()

  /** `GET <ctx>/1/spectrum/<channel>?start=S&end=E[&periods=600,3600]`
    * — the oscillation panel: power at each candidate period (seconds,
    * default grid [[Analytics.DefaultSpectrumPeriods]]) over the
    * inclusive range, plus the dominant period. 400/404/403 mirror the
    * stats endpoint; no samples in range answers an empty panel.
    */
  private def spectrumPanel(spark: SparkSession,
                            snap: ConfiguredArchive.Snapshot,
                            ex: HttpExchange, channel: String,
                            params: Map[String, String],
                            refuseDisabled: Boolean): Unit = {
    if (channel.isEmpty) { sendError(ex, 404, "not found"); return }
    val start = params.get("start").flatMap(_.toLongOption)
    val end = params.get("end").flatMap(_.toLongOption)
    if (start.isEmpty || end.isEmpty) {
      sendError(ex, 400, "start and end must be integers"); return
    }
    if (start.get < 0L || end.get < start.get) {
      sendError(ex, 400, "require 0 <= start <= end"); return
    }
    if (detectTyped(spark, snap)) {
      sendError(ex, 400, "spectrum is not supported on typed stores"); return
    }
    val periodsSec: Seq[Long] = params.get("periods") match {
      case None => Analytics.DefaultSpectrumPeriods.map(_ / 1000000000L)
      case Some(csv) =>
        val parsed = csv.split(",").toSeq.map(_.trim.toLongOption)
        // upper bound keeps the ns conversion inside a Long (292 years);
        // Java split drops all-empty tokens, so "," parses to an EMPTY
        // list — reject it here or the engine's nonEmpty require
        // surfaces as a 500
        if (parsed.isEmpty || parsed.exists(p => p.isEmpty || p.get <= 0L ||
            p.get > 9000000000L)) {
          sendError(ex, 400, "periods must be positive integer seconds")
          return
        }
        if (parsed.size > MaxSpectrumPeriods) {
          sendError(ex, 400, s"at most $MaxSpectrumPeriods periods"); return
        }
        parsed.flatten.distinct.sorted
    }
    val cacheKey = snap.memoKey.map((_, channel, start.get, end.get,
      periodsSec.mkString(","), refuseDisabled))
    val hit = cacheKey.flatMap(k => Option(spectrumMemo.get(k)))
    if (hit.isDefined) { sendJson(ex, hit.get); return }
    val rows: Seq[(Long, Long, Double)] =
      try DirectServe.tryRawRows(spark, snap, channel, Some(start.get),
          end.get, refuseDisabled) match {
        // driver-side projection fold (DirectPanels.spectrum) — the
        // serving contract's end-inclusive bound is the engine's +1
        case Some(raw) => DirectPanels.spectrum(raw, start.get,
          if (end.get == Long.MaxValue) end.get else end.get + 1,
          periodsSec.map(_ * 1000000000L))
        case None =>
          ConfiguredArchive.querySpectrum(spark, snap.configPath,
              snap.storePath, channel, start.get, end.get,
              periodsSec.map(_ * 1000000000L), snap.backend,
              refuseDisabled = refuseDisabled)
            .select("period_s", "n", "power")
            .orderBy("period_s")
            .collect()
            .toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
      catch {
        case _: NoSuchChannelException =>
          sendError(ex, 404, "not found"); return
        case e: ChannelDisabledException =>
          sendError(ex, 403, e.getMessage); return
        case _: NoStoredDataException => Nil
      }
    val items = rows.map { case (p, n, pw) =>
      s"""{"period_s":$p,"n":$n,"power":${jsonNum(pw)}}"""
    }
    // dominant: max power, ties toward the shorter period — the
    // dominantPeriod contract, computed over the already-collected rows
    val dominant =
      if (rows.isEmpty) ""
      else {
        val d = rows.minBy(r => (-r._3, r._1))
        s""","dominant_period_s":${d._1}"""
      }
    val body = s"""{"channel":${jsonString(channel)},""" +
      s""""periods":[${items.mkString(",")}]$dominant}"""
    cacheKey.foreach { k =>
      if (spectrumMemo.size > RespCacheMaxEntries) spectrumMemo.clear()
      spectrumMemo.put(k, body)
    }
    sendJson(ex, body)
  }

  private val stalenessMemo = new java.util.concurrent.ConcurrentHashMap[
    (Versions, Long, Long), String]()

  /** `GET <ctx>/1/staleness?asOf=NS[&grace=G]` — the fleet ops panel:
    * every configured channel's last arrival, median cadence, expected
    * next arrival, and overdue flag as of `asOf`
    * ([[ConfiguredArchive.queryStaleness]]); a configured channel with
    * nothing stored reports samples 0 and stale. Missing/invalid
    * `asOf` or a non-positive integer `grace` → 400.
    */
  private def stalenessPanel(spark: SparkSession,
                             snap: ConfiguredArchive.Snapshot,
                             ex: HttpExchange,
                             params: Map[String, String]): Unit = {
    val asOf = params.get("asOf").flatMap(_.toLongOption)
    if (asOf.isEmpty || asOf.get < 0L) {
      sendError(ex, 400, "asOf must be a non-negative integer"); return
    }
    val grace = params.get("grace").map(_.toLongOption)
      .getOrElse(Some(3L))
    if (grace.isEmpty || grace.get < 1L) {
      sendError(ex, 400, "grace must be a positive integer"); return
    }
    val cacheKey = snap.memoKey.map((_, asOf.get, grace.get))
    val hit = cacheKey.flatMap(k => Option(stalenessMemo.get(k)))
    if (hit.isDefined) { sendJson(ex, hit.get); return }
    val rows = ConfiguredArchive.queryStaleness(spark, snap.configPath,
        snap.storePath, asOf.get, grace.get, snap.backend)
      .orderBy("channel").collect()
    def optLong(r: org.apache.spark.sql.Row, i: Int): String =
      if (r.isNullAt(i)) "null" else r.getLong(i).toString
    val items = rows.map { r =>
      s"""{"channel":${jsonString(r.getString(0))},""" +
        s""""samples":${r.getLong(1)},"t_last":${optLong(r, 2)},""" +
        s""""median_gap_ns":${optLong(r, 3)},""" +
        s""""expected_next":${optLong(r, 4)},"stale":${r.getBoolean(5)}}"""
    }
    val body =
      s"""{"asOf":${asOf.get},"channels":[${items.mkString(",")}]}"""
    cacheKey.foreach { k =>
      if (stalenessMemo.size > RespCacheMaxEntries) stalenessMemo.clear()
      stalenessMemo.put(k, body)
    }
    sendJson(ex, body)
  }

  private val cusumMemo = new java.util.concurrent.ConcurrentHashMap[
    (Versions, String, Long, Long, Long, Long, Boolean), String]()

  // a store deleted and recreated at its path restarts version
  // numbering, so its memoized bodies go once the manifest log
  // confirms the regression
  ManifestStore.log.onRegression { path =>
    respMemo.removeIf(_._1._3 == path)
    statsMemo.keySet.removeIf(_._1._3 == path)
    spectrumMemo.keySet.removeIf(_._1._3 == path)
    stalenessMemo.keySet.removeIf(_._1._3 == path)
    cusumMemo.keySet.removeIf(_._1._3 == path)
  }

  /** `GET <ctx>/1/cusum/<channel>?start=S&end=E[&slack=K][&threshold=H]`
    * — the mean-shift panel: two-sided CUSUM excursion counts, first
    * excursion timestamps, and peak statistics over the inclusive
    * range (target self-calibrates to the window mean). 400/404/403
    * mirror the stats endpoint.
    */
  private def cusumPanel(spark: SparkSession,
                         snap: ConfiguredArchive.Snapshot, ex: HttpExchange,
                         channel: String, params: Map[String, String],
                         refuseDisabled: Boolean): Unit = {
    if (channel.isEmpty) { sendError(ex, 404, "not found"); return }
    val start = params.get("start").flatMap(_.toLongOption)
    val end = params.get("end").flatMap(_.toLongOption)
    if (start.isEmpty || end.isEmpty) {
      sendError(ex, 400, "start and end must be integers"); return
    }
    if (start.get < 0L || end.get < start.get) {
      sendError(ex, 400, "require 0 <= start <= end"); return
    }
    if (detectTyped(spark, snap)) {
      sendError(ex, 400, "cusum is not supported on typed stores"); return
    }
    val slack = params.get("slack").map(_.toDoubleOption)
      .getOrElse(Some(Analytics.DefaultCusumSlack))
    val threshold = params.get("threshold").map(_.toDoubleOption)
      .getOrElse(Some(Analytics.DefaultCusumThreshold))
    if (slack.isEmpty || slack.get < 0.0 || !slack.get.isFinite) {
      sendError(ex, 400, "slack must be a non-negative number"); return
    }
    if (threshold.isEmpty || threshold.get <= 0.0 || !threshold.get.isFinite) {
      sendError(ex, 400, "threshold must be a positive number"); return
    }
    val cacheKey = snap.memoKey.map((_, channel, start.get, end.get,
      math.round(slack.get * 1e6), math.round(threshold.get * 1e6),
      refuseDisabled))
    val hit = cacheKey.flatMap(k => Option(cusumMemo.get(k)))
    if (hit.isDefined) { sendJson(ex, hit.get); return }
    val row: Option[(Long, Long, Long, Option[Long], Option[Long],
        Double, Double)] =
      try DirectServe.tryRawRows(spark, snap, channel, Some(start.get),
          end.get, refuseDisabled) match {
        // driver-side exact-integer CUSUM fold (DirectPanels.cusum);
        // end-inclusive serving bound = the engine's +1
        case Some(raw) => DirectPanels.cusum(raw, start.get,
          if (end.get == Long.MaxValue) end.get else end.get + 1,
          slack.get, threshold.get)
        case None =>
          ConfiguredArchive.queryCusum(spark, snap.configPath,
              snap.storePath, channel, start.get, end.get, slack.get,
              threshold.get,
              snap.backend, refuseDisabled = refuseDisabled)
            .select("n_samples", "n_hi", "n_lo", "t_first_hi",
              "t_first_lo", "peak_hi", "peak_lo")
            .collect().headOption
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
              if (r.isNullAt(3)) None else Some(r.getLong(3)),
              if (r.isNullAt(4)) None else Some(r.getLong(4)),
              r.getDouble(5), r.getDouble(6)))
      }
      catch {
        case _: NoSuchChannelException =>
          sendError(ex, 404, "not found"); return
        case e: ChannelDisabledException =>
          sendError(ex, 403, e.getMessage); return
        case _: NoStoredDataException => None
      }
    def tsOrNull(t: Option[Long]): String = t.fold("null")(_.toString)
    val body = row match {
      case None =>
        s"""{"channel":${jsonString(channel)},"samples":0}"""
      case Some((n, nHi, nLo, tHi, tLo, pkHi, pkLo)) =>
        s"""{"channel":${jsonString(channel)},"samples":$n,""" +
          s""""n_hi":$nHi,"n_lo":$nLo,""" +
          s""""t_first_hi":${tsOrNull(tHi)},""" +
          s""""t_first_lo":${tsOrNull(tLo)},""" +
          s""""peak_hi":${jsonNum(pkHi)},""" +
          s""""peak_lo":${jsonNum(pkLo)}}"""
    }
    cacheKey.foreach { k =>
      if (cusumMemo.size > RespCacheMaxEntries) cusumMemo.clear()
      cusumMemo.put(k, body)
    }
    sendJson(ex, body)
  }

  private def sendJson(ex: HttpExchange, body: String): Unit =
    sendJsonBytes(ex, body.getBytes(StandardCharsets.UTF_8))

  /** One fixed-length write: `Content-Length` is the body's size. */
  private def sendJsonBytes(ex: HttpExchange, body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type",
      "application/json; charset=UTF-8")
    ex.sendResponseHeaders(200, body.length.toLong)
    ex.getResponseBody.write(body)
    ex.getResponseBody.close()
  }

  private def sendError(ex: HttpExchange, code: Int, msg: String): Unit = {
    val bytes = msg.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "text/plain; charset=UTF-8")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.getResponseBody.close()
  }

  /** A JSON array response. The elements drain first: when they all
    * fit in `RespCacheMaxElems` elements and `RespCacheMaxBytes` chars,
    * the framed body is passed to `whole` (the caller caches it there,
    * BEFORE the client can see the response and ask again) and goes
    * out as one fixed-length write; otherwise what was drained and the
    * rest stream chunked. An element that throws while draining fails
    * the request before any header is sent.
    */
  private def sendJsonArray(ex: HttpExchange, elems: Iterator[String],
                            pretty: Boolean,
                            whole: Array[Byte] => Unit = _ => ()): Unit = {
    val head = new scala.collection.mutable.ArrayBuffer[String]
    var chars = 0L
    while (elems.hasNext && head.length < RespCacheMaxElems &&
        chars < RespCacheMaxBytes) {
      val e = elems.next()
      head += e
      chars += e.length
    }
    if (elems.hasNext) streamJsonArray(ex, head.iterator ++ elems, pretty)
    else {
      val sb = new java.lang.StringBuilder(
        (chars + 4L * head.length + 4L).min(Int.MaxValue - 16L).toInt)
      frameJsonArray(head.iterator, pretty, s => sb.append(s))
      val body = sb.toString.getBytes(StandardCharsets.UTF_8)
      whole(body)
      sendJsonBytes(ex, body)
    }
  }

  /** `[e1,e2,…]`, or one element a line under `pretty`, written piece
    * by piece to `w`. */
  private def frameJsonArray(elems: Iterator[String], pretty: Boolean,
                             w: String => Unit): Unit = {
    w("[")
    var first = true
    elems.foreach { e =>
      if (!first) w(",")
      if (pretty) w("\n  ")
      w(e)
      first = false
    }
    if (pretty && !first) w("\n")
    w("]")
  }

  /** Chunked-streamed JSON array for a body over the whole-send caps:
    * one element written per iterator step, nothing more materialized —
    * length 0 in sendResponseHeaders is the JDK server's
    * chunked-transfer mode. The stream is BUFFERED: per-element writes
    * each became a tiny TCP chunk, and the small-segment chatter put a
    * ~40 ms delayed-ACK floor under every response (measured); 64 KB
    * buffering restores full-segment writes.
    */
  private def streamJsonArray(ex: HttpExchange, elems: Iterator[String],
                              pretty: Boolean): Unit = {
    ex.getResponseHeaders.set("Content-Type",
      "application/json; charset=UTF-8")
    ex.sendResponseHeaders(200, 0L)
    val out = new java.io.BufferedOutputStream(ex.getResponseBody, 65536)
    frameJsonArray(elems, pretty,
      s => out.write(s.getBytes(StandardCharsets.UTF_8)))
    out.close()
  }
}
