package archbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.archive.{ConfiguredArchive, Decimation, Maintenance,
  ManifestStore}
import graft.streaming.StreamingDecimation

/** Live ingest into the scalar store: simulated 1 Hz samples for every
  * channel go out over a TCP socket in fixed-size slices of
  * `sliceSec` simulated seconds, through the spooling receiver, the
  * spool file source and the config-governed manifest sink. The loop
  * is closed: the next slice goes out once the previous one is
  * visible in the store's manifest. Alongside, one thread runs the
  * decimation catch-up back to back and one runs maintenance on a
  * fixed cadence.
  */
final class Ingest(spark: SparkSession, s: Fixtures.Scalar, seed: Long,
                   dir: String, sliceSec: Int, maintenanceEveryMs: Long) {
  import Fixtures.NS
  private val startSec = s.endNs / NS
  def storePath: String = s.store
  private val sliceRows = s.channels.toLong * sliceSec

  // ---- socket → spool → stream ----------------------------------------
  private val listen = new ServerSocket(0)
  private val receiver = StreamingDecimation.spoolSocket("localhost",
    listen.getLocalPort, s"$dir/spool", linesPerChunk = 1 << 20)
  private val sock = listen.accept()
  private val out = new BufferedWriter(new OutputStreamWriter(
    sock.getOutputStream, StandardCharsets.UTF_8), 1 << 20)
  val query = StreamingDecimation.writeRawStreamConfigured(
    StreamingDecimation.spooledSamples(spark, s"$dir/spool"), s.store,
    s"$dir/ckpt", s.cfg)

  /** Every row sent: (channel index, second, cents, sample id). */
  private val sent = mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
  @volatile private var slices = 0
  /** Largest simulated second made visible at level 0 (ns). */
  val visibleTailNs = new AtomicLong(s.endNs - 60L * NS)

  // per-slice and per-window timings
  val visibleLagS = mutable.ArrayBuffer.empty[Double]
  val latestMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  @volatile var counting = false
  /** (level, window start) → when its first later sample was sent. */
  private val closedAt = new ConcurrentHashMap[(Long, Long), Long]()
  /** (level, window start) → lag in seconds, once visible. */
  val levelLagS = new ConcurrentHashMap[(Long, Long), Double]()

  def latest(): ManifestStore.Manifest =
    Trace.span("manifest", "latestManifest") {
      val t0 = System.nanoTime()
      val m = ManifestStore.latestManifest(spark, s.store).get
      latestMs.add((System.nanoTime() - t0) / 1e6)
      m
    }

  private def rawRows(m: ManifestStore.Manifest): Long =
    m.files.filter(_.levelSec == 0L).map(_.rows).sum

  /** Send the next slice and wait until its rows are visible. */
  def sendSlice(): Unit = {
    val sb = new java.lang.StringBuilder(sliceRows.toInt * 40)
    val sec0 = startSec + slices.toLong * sliceSec
    var sid = s.rows + sent.size
    for (sec <- sec0 until sec0 + sliceSec; ch <- 0 until s.channels) {
      val c = Fixtures.cents(seed, ch, sec)
      sb.append("ch").append(ch).append('\t').append(sec * NS).append('\t')
        .append(c / 100).append('.').append(if (c % 100 < 10) "0" else "")
        .append(c % 100).append('\t').append(sid).append('\n')
      sent += ((ch, sec, c, sid)); sid += 1
    }
    val want = s.rows + sent.size
    val counted = counting
    Trace.span("stream", "slice") {
      out.write(sb.toString); out.flush()
      val tSent = System.nanoTime()
      slices += 1
      val lastSec = sec0 + sliceSec - 1
      if (counted) Fixtures.Levels.foreach { p =>
        // windows whose end this slice crosses close now
        var w = ((sec0 - 1) / p) * p
        while (w + p <= lastSec) {
          if (w + p > sec0 - 1) closedAt.putIfAbsent((p, w * NS), tSent)
          w += p
        }
      }
      val deadline = tSent + 120L * NS
      var m = latest()
      while (rawRows(m) < want) {
        query.exception.foreach(e => throw e)
        if (System.nanoTime() > deadline)
          throw new IllegalStateException("slice not visible after 120 s")
        Thread.sleep(2); m = latest()
      }
      val tVis = System.nanoTime()
      visibleTailNs.set(lastSec * NS)
      if (counted) {
        visibleLagS += (tVis - tSent) / 1e9
      }
    }
  }

  // ---- background catch-up and maintenance --------------------------
  private val running = new AtomicBoolean(true)
  private val feeding = new AtomicBoolean(true)
  val catchupS = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  val maintS = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  val compacted = new AtomicLong(0)
  val vacuumed = new AtomicLong(0)
  @volatile var failure: Option[Throwable] = None

  /** Level → start of its last stored window (ns), as of the latest
    * catch-up. */
  private val frontierNs = new ConcurrentHashMap[Long, Long]()

  private def frontierCheck(tDone: Long): Unit = {
    val m = latest()
    Fixtures.Levels.foreach { p =>
      val fs = m.files.filter(_.levelSec == p)
      if (fs.nonEmpty) {
        val front = fs.map(_.maxTs).max
        frontierNs.put(p, front)
        closedAt.asScala.foreach { case (k @ (lvl, w), t) =>
          if (lvl == p && w <= front && !levelLagS.containsKey(k))
            levelLagS.put(k, (tDone - t) / 1e9)
        }
      }
    }
  }

  def catchUpOnce(): Unit = {
    spark.sparkContext.setJobGroup("bench.cascade", "catch-up")
    try {
      val t0 = System.nanoTime()
      Trace.span("cascade", "catchUp")(
        ConfiguredArchive.catchUp(spark, s.cfg, s.store))
      val t1 = System.nanoTime()
      if (counting) catchupS.add((t1 - t0) / 1e9)
      frontierCheck(t1)
    } finally spark.sparkContext.clearJobGroup()
  }

  /** Maintenance runs attempted while counting, and the errors of
    * those that failed. A failed run is a failed operation of the
    * workload; the cadence goes on, as an operator's scheduler would. */
  val maintRuns = new AtomicLong(0)
  val maintErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def maintainOnce(): Unit = {
    spark.sparkContext.setJobGroup("bench.maintenance", "maintenance")
    val counted = counting
    if (counted) maintRuns.incrementAndGet()
    try {
      val t0 = System.nanoTime()
      // a grace of a few seconds keeps files that in-flight reads of a
      // just-superseded version still open
      val r = Trace.span("maintenance", "runConfigured")(
        Maintenance.runConfigured(spark, s.cfg, s.store,
          vacuumGraceMs = 3000L))
      if (counted) {
        maintS.add((System.nanoTime() - t0) / 1e9)
        compacted.addAndGet(r.compacted.map(_.files.toLong).sum)
        vacuumed.addAndGet(r.vacuumed.size.toLong)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        maintErrors.add(s"maintenance run failed: $e")
        System.err.println(s"[archbench] maintenance run failed: $e")
    } finally spark.sparkContext.clearJobGroup()
  }

  private def loop(name: String)(body: => Unit): Thread = {
    val t = new Thread(() =>
      try while (running.get) body
      catch { case e: Throwable => failure = Some(e) }, name)
    t.setDaemon(true); t.start(); t
  }

  private var bg: Seq[Thread] = Nil
  /** Catch-up runs back to back while samples arrive, and once the
    * feed has stopped until every level holds the windows it closed.
    * Maintenance runs on its cadence while samples arrive. */
  def startBackground(): Unit = bg = Seq(
    loop("bench-catchup") {
      if (feeding.get || levelsBehind.nonEmpty || pendingWindows > 0) catchUpOnce()
      else Thread.sleep(20)
    },
    loop("bench-maintenance") {
      if (feeding.get) {
        val next = System.currentTimeMillis() + maintenanceEveryMs
        maintainOnce()
        while (feeding.get && System.currentTimeMillis() < next) Thread.sleep(20)
      } else Thread.sleep(20)
    })

  private var feeder: Option[Thread] = None

  /** Send slices back to back, each once the previous one is visible,
    * until [[stopFeeder]]. */
  def startFeeder(): Unit = feeder = Some {
    val t = new Thread(() =>
      try while (feeding.get && failure.isEmpty) sendSlice()
      catch { case e: Throwable => failure = Some(e) }, "bench-feeder")
    t.setDaemon(true); t.start(); t
  }

  /** Stop feeding; returns once the slice in flight is visible. */
  def stopFeeder(): Unit = { feeding.set(false); feeder.foreach(_.join(180000)) }

  /** Start (ns) of the last window of level `p` the samples sent so far
    * have closed: a window closes once a sample past its end is sent. */
  private def lastClosedNs(p: Long): Long = {
    val lastSec = startSec + slices.toLong * sliceSec - 1
    ((lastSec / p) * p - p) * NS
  }

  /** Whether the samples sent have closed a window of the finest level
    * that lies wholly past the history, so the cascade had new work. */
  def closedNewWindow: Boolean = lastClosedNs(Fixtures.Levels.head) >= s.endNs

  /** Levels whose stored frontier, as of the latest catch-up, is short
    * of the last window the sent samples closed: (level, frontier,
    * wanted), both in ns. Read once the feed has stopped. */
  def levelsBehind: Seq[(Long, Long, Long)] =
    behindWith(p => frontierNs.getOrDefault(p, Long.MinValue))

  /** [[levelsBehind]] for the frontiers `front` gives. */
  def behindWith(front: Long => Long): Seq[(Long, Long, Long)] =
    Fixtures.Levels.flatMap { p =>
      val want = lastClosedNs(p)
      if (front(p) < want) Some((p, front(p), want)) else None
    }

  /** Windows closed while counting whose level has not caught up yet. */
  def pendingWindows: Int =
    closedAt.keySet.asScala.count(k => !levelLagS.containsKey(k))

  /** Stop the feed and the background threads, drain the query. */
  def stop(): Unit = {
    stopFeeder()
    running.set(false)
    bg.foreach(_.join(120000))
    out.close(); sock.close(); listen.close()
    receiver.join(60000)
    query.processAllAvailable()
    query.stop()
  }

  def windowsClosed: Int = closedAt.size

  /** Rows made visible per second of ingest: the rows of the slices
    * completed in the window over the time they took, send to visible.
    * Counting only completed slices keeps the slice the window's end
    * cuts from skewing the rate. */
  def rowsPerSecond: Double =
    if (visibleLagS.isEmpty) 0.0 else sliceRows * visibleLagS.size / visibleLagS.sum

  // ---- correctness -----------------------------------------------------

  /** The rows sent, as the store keys them (channel data id). */
  def sentFrame: DataFrame = {
    import spark.implicits._
    sent.toSeq.map { case (ch, sec, c, sid) =>
      (s.id(ch), sec * NS, c / 100.0, sid)
    }.toDF("channel", "ts", "value", "sample_id")
  }

  /** Level-0 rows committed past the history. */
  def committedFrame: DataFrame =
    ManifestStore.read(spark, s.store, 0L)
      .where(col("ts") >= s.endNs)
      .select("channel", "ts", "value", "sample_id")

  /** Cascade check input, per decimated level: the windows as stored,
    * and the same windows recomputed in batch from the committed raw —
    * `Decimation.decimate` for the first level, its flushed
    * re-aggregation for the next, the rule the cascade applies. Both
    * start at a window-aligned cut `b` before the streamed part (every
    * channel has a sample at `b`, so no window from `b` on needs
    * anything earlier) and end at the level's stored frontier: windows
    * past it have not been caught up yet, and the drain after the feed
    * stopped already required the frontier to reach the last window
    * the sent samples closed ([[levelsBehind]]).
    */
  def cascadeFrames: Seq[(Long, DataFrame, DataFrame)] = {
    val Seq(fine, coarse) = Fixtures.Levels
    val b = ((s.endNs / NS - 3600L) / coarse) * coarse * NS
    val raw = ManifestStore.read(spark, s.store, 0L).where(col("ts") >= b)
      .select("channel", "ts", "value", "str_value", "severity", "status",
        "sample_id")
    val refFine = Decimation.decimate(raw, fine * NS)
    val refCoarse = Decimation.reAggregateFlushed(refFine, fine * NS, coarse * NS)
    val cols = Seq("channel", "ts", "mean", "std", "min_value", "max_value",
      "covered_fraction", "n_samples")
    val m = ManifestStore.latestManifest(spark, s.store).get
    def frontier(p: Long) = m.files.filter(_.levelSec == p).map(_.maxTs).max
    def stored(p: Long) = ManifestStore.read(spark, s.store, p)
      .where(col("ts") >= b).select(cols.map(col): _*)
    def asStored(d: DataFrame, p: Long) =
      d.withColumnRenamed("win_start", "ts").where(col("ts") <= frontier(p))
        .select(cols.map(col): _*)
    Seq((fine, stored(fine), asStored(refFine, fine)),
      (coarse, stored(coarse), asStored(refCoarse, coarse)))
  }
}
