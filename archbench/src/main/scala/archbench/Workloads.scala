package archbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** The two workloads. Each builds its fixtures twice in fresh
  * directories (`setup_s` is the median of the builds), measures, then
  * runs its correctness checks outside the timed window.
  */
object Workloads {

  /** Sizes; the self-test runs every workload at the tiny ones. */
  final case class Sizes(channels: Int, serveDays: Int, typedChannels: Int,
                         sliceSec: Int, setups: Int, warmupSec: Int,
                         gateScale: Double, probeReqs: Int)
  private val Full = Sizes(channels = 24, serveDays = 2, typedChannels = 10,
    sliceSec = 20, setups = 2, warmupSec = 6, gateScale = 1.0, probeReqs = 60)
  // a tiny slice spans a whole finest-level window, so the self-test's
  // few slices still close windows for the cascade to catch up
  private val Tiny = Sizes(channels = 8, serveDays = 2, typedChannels = 4,
    sliceSec = 60, setups = 1, warmupSec = 2, gateScale = 0.2, probeReqs = 6)

  /** The dashboard mix: one request of each shape per cycle. No traffic
    * trace gives the shares of a real site, so every shape has the
    * same one. */
  private val Shapes = Seq("raw_day", "decimated_day", "m4_day", "typed_day",
    "chart_poll", "live_tail")

  /** How long catch-up may take, after the feed stops, to make every
    * window the sent samples closed visible in its level. */
  private val CascadeDrainSec = 45L

  def run(c: Ctx, r: Result): Unit = c.workload match {
    case "serve_during_ingest" => serveDuringIngest(c, r)
    case "batch_gates" => batchGates(c, r)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  private def sizes(c: Ctx) = if (c.tiny) Tiny else Full
  private def clients(c: Ctx) = math.min(4, c.nproc)

  /** Build fixtures `sizes.setups` times in fresh directories; the last
    * build is the one the run uses, and `setup_s` is the median build
    * time. */
  private def setups[T](c: Ctx, r: Result)(build: String => T): T = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    for (i <- 0 until sizes(c).setups) {
      val t0 = System.nanoTime()
      last = Some(build(s"${c.work}/setup$i"))
      times += (System.nanoTime() - t0) / 1e9
    }
    r.e2e("setup_s", Stats.median(times), "s")
    last.get
  }

  private def timed[T](r: Result, name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val v = f
    r.layer(name, (System.nanoTime() - t0) / 1e9, "s")
    v
  }

  /** Engine and JVM counters over the timed window. */
  private final class Window(c: Ctx) {
    private val gc0 = Jvm.gcSeconds
    Jvm.resetHeapPeak()
    c.listener.counting = true
    val t0: Long = System.nanoTime()
    private var t1 = 0L
    def end(): Unit = { t1 = System.nanoTime(); c.listener.counting = false }
    def sec: Double = (t1 - t0) / 1e9
    def report(r: Result): Unit = {
      val tot = c.listener.total()
      r.layer("engine.jobs", tot.jobs.toDouble, "count")
      r.layer("engine.stages", tot.stages.toDouble, "count")
      r.layer("engine.tasks", tot.tasks.toDouble, "count")
      r.layer("engine.task_s", tot.taskNs / 1e9, "s")
      r.layer("engine.busy_frac", tot.taskNs / 1e9 / (sec * c.nproc), "ratio")
      r.layer("engine.shuffle_write_bytes", tot.shuffleWrite.toDouble, "bytes")
      r.layer("engine.spill_bytes", tot.spill.toDouble, "bytes")
      r.layer("jvm.gc_s", Jvm.gcSeconds - gc0, "s")
      r.layer("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB")
    }
  }

  private def latencyE2e(r: Result, msSample: Seq[Double]): Unit = {
    r.e2e("latency_p50_ms", Stats.median(msSample), "ms")
    r.e2e("latency_p90_ms", Stats.pct(msSample, 90), "ms")
  }

  private def finish(c: Ctx, r: Result): Unit = {
    r.layer("jvm.peak_rss_mb", Jvm.peakRssMb, "MB")
    r.layer("error_rate",
      if (r.attempted == 0) 0.0 else r.failed.toDouble / r.attempted, "ratio")
    // the traced run's own end-to-end figures: minus the untraced
    // medians of the same seeds, they are the tracing overhead
    if (c.trace) r.e2eM.foreach { case (k, (v, u)) => r.layer(s"traced.$k", v, u) }
  }

  private def serveChecks(c: Ctx, r: Result, sv: Serving,
                          kept: Seq[Done]): Unit = {
    c.spark.sparkContext.setJobGroup("bench.check", "response check")
    try {
      sv.check(kept.filter(_.ok)).foreach(r.problem)
      if (c.tiny) {
        val k = kept.find(d => d.ok && d.body.exists(_.isDigit))
        k.foreach { d =>
          val i = d.body.indexWhere(_.isDigit)
          val flipped = d.body.updated(i, if (d.body(i) == '7') '8' else '7')
          r.selftest += ("serve: flipped digit in a response is rejected" ->
            sv.check(Seq(d.copy(body = flipped))).nonEmpty)
        }
        if (k.isEmpty) r.selftest += ("serve: a response was kept" -> false)
      }
    } finally c.spark.sparkContext.clearJobGroup()
  }

  // ---- serve_during_ingest ----------------------------------------------

  private def serveDuringIngest(c: Ctx, r: Result): Unit = {
    val z = sizes(c)
    val (scalar, typed) = setups(c, r) { d =>
      Log.phase("setup")((Fixtures.scalar(c.spark, d, z.channels, z.serveDays, c.seed),
        Fixtures.typed(c.spark, d, z.typedChannels, c.seed)))
    }
    val ing = new Ingest(c.spark, scalar, c.seed, s"${c.work}/ingest",
      z.sliceSec, maintenanceEveryMs = 3000L)
    val sv = new Serving(c.spark, scalar, typed)
    val mix = new Mix(c.seed, scalar, typed, Shapes, () => ing.visibleTailNs.get)
    try {
      // warm-up: the whole steady state (feed, catch-up, maintenance,
      // clients) runs for a while, and the timed window continues it
      // without a restart, so the first slices, requests and the JIT's
      // early compiles stay out of the window
      ing.startBackground()
      ing.startFeeder()
      timed(r, "setup.warmup_s")(sv.load(mix, c.seed + 1, clients(c),
        System.nanoTime() + z.warmupSec * 1000000000L, 0))
      val st0 = sv.counters
      val v0 = ing.latest().version
      val b0 = Option(ing.query.lastProgress).map(_.batchId).getOrElse(-1L)
      ing.counting = true
      val w = new Window(c)
      val (done, kept) = sv.load(mix, c.seed, clients(c),
        w.t0 + c.seconds * 1000000000L, keepPerClient = 4)
      val loadSec = (System.nanoTime() - w.t0) / 1e9
      val st1 = sv.counters
      ing.stopFeeder()
      w.end()
      ing.counting = false
      val mEnd = ing.latest()
      val b1 = Option(ing.query.lastProgress).map(_.batchId).getOrElse(-1L)
      // every run: catch-up must bring each level up to the last window
      // the sent samples closed (and, for the level lags, record every
      // window closed in the timed window); a stalled cascade fails here
      val drainUntil = System.nanoTime() + CascadeDrainSec * 1000000000L
      while ((ing.levelsBehind.nonEmpty || ing.pendingWindows > 0) &&
             ing.failure.isEmpty && System.nanoTime() < drainUntil)
        Thread.sleep(20)
      r.attempted += 1
      ing.levelsBehind.foreach { case (p, front, want) =>
        r.problem(s"cascade: level ${p}s stopped at ${front / Fixtures.NS}, " +
          s"not at the last window the sent samples closed (${want / Fixtures.NS})")
      }
      if (ing.levelsBehind.isEmpty && ing.pendingWindows > 0)
        r.problem(s"${ing.pendingWindows} closed windows never became visible")
      if (!ing.closedNewWindow)
        r.problem("cascade: the samples sent closed no window past the history")
      if (c.tiny) r.selftest += ("cascade: a level stalled at the history's end is rejected" ->
        ing.behindWith(p => scalar.endNs - p * Fixtures.NS).nonEmpty)
      // the single-client probe, on the store as the feed left it
      if (c.trace) sv.probe(mix, c.seed, z.probeReqs, r)
      val streamAcc = c.listener.get("stream")
      val cascadeAcc = c.listener.get("cascade")
      ing.stop()
      ing.failure.foreach(e => r.problem(s"background job failed: $e"))

      latencyE2e(r, done.map(d => if (d.ok) d.ms else Double.PositiveInfinity))
      r.e2e("throughput_per_s", done.count(_.ok) / loadSec, "1/s")
      val lags = ing.levelLagS.values.asScala.toSeq
      r.attempted += ing.visibleLagS.size + ing.windowsClosed +
        ing.maintRuns.get + done.size + kept.size
      r.failed += done.count(!_.ok)
      ing.maintErrors.asScala.foreach(r.failedOp)
      done.filterNot(_.ok).take(3).foreach(d =>
        r.problems += s"${d.req.shape} ${d.req.path} failed: ${d.body.take(200)}")

      // checks, outside the window
      Log.phase("response checks")(serveChecks(c, r, sv, kept))
      Log.phase("ingest checks")(ingestChecks(c, r, ing))

      if (c.trace) {
        sv.report(done, mix, loadSec, st0, st1, c.listener.get("serve").jobs, r)
        w.report(r)
        r.layer("ingest_rows_per_s", ing.rowsPerSecond, "1/s")
        r.layer("visible_lag_p50_s", Stats.median(ing.visibleLagS), "s")
        r.layer("visible_lag_p90_s", Stats.pct(ing.visibleLagS, 90), "s")
        r.layer("level_lag_p50_s", Stats.median(lags), "s")
        r.layer("level_lag_p90_s", Stats.pct(lags, 90), "s")
        streamLayer(r, ing, b0, b1, streamAcc)
        manifestLayer(r, ing, v0, mEnd)
        val cu = ing.catchupS.asScala.toSeq
        val n = math.max(cu.size, 1).toDouble
        r.layer("cascade.catchups", cu.size.toDouble, "count")
        r.layer("cascade.catchup_s_p50", Stats.median(cu), "s")
        r.layer("cascade.jobs_per_catchup", cascadeAcc.jobs / n, "count")
        r.layer("cascade.task_s_per_catchup", cascadeAcc.taskNs / 1e9 / n, "s")
        r.layer("cascade.shuffle_bytes_per_catchup",
          cascadeAcc.shuffleWrite / n, "bytes")
        r.layer("cascade.windows", lags.size.toDouble, "count")
        val ms = ing.maintS.asScala.toSeq
        r.layer("maintenance.runs", ing.maintRuns.get.toDouble, "count")
        r.layer("maintenance.run_s_p50", Stats.median(ms), "s")
        r.layer("maintenance.files_compacted", ing.compacted.get.toDouble, "count")
        r.layer("maintenance.files_vacuumed", ing.vacuumed.get.toDouble, "count")
      }
    } finally sv.stop()
    finish(c, r)
  }

  private def streamLayer(r: Result, ing: Ingest, b0: Long, b1: Long,
                          acc: JobListener#Acc): Unit = {
    val ps = ing.query.recentProgress.toSeq
      .filter(p => p.batchId > b0 && p.batchId <= b1 && p.numInputRows > 0)
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    r.layer("stream.batches", ps.size.toDouble, "count")
    r.layer("stream.batch_ms_p50", Stats.median(ps.map(d(_, "triggerExecution"))), "ms")
    r.layer("stream.add_batch_ms_p50", Stats.median(ps.map(d(_, "addBatch"))), "ms")
    r.layer("stream.trigger_overhead_ms_p50",
      Stats.median(ps.map(p => d(p, "triggerExecution") - d(p, "addBatch"))), "ms")
    val committed = ps.map(_.numInputRows).sum
    r.layer("stream.source_reads_per_row",
      if (committed == 0) 0.0 else acc.recordsRead.toDouble / committed, "ratio")
  }

  private def manifestLayer(r: Result, ing: Ingest, v0: Long,
                            m: graft.archive.ManifestStore.Manifest): Unit = {
    r.layer("manifest.commits", (m.version - v0).toDouble, "count")
    r.layer("manifest.version_end", m.version.toDouble, "count")
    r.layer("manifest.latest_ms_p50", Stats.median(ing.latestMs.asScala), "ms")
    (0L +: Fixtures.Levels).foreach(l =>
      r.layer(s"manifest.files_end.l$l",
        m.files.count(_.levelSec == l).toDouble, "count"))
    r.layer("manifest.max_files_per_level_day",
      m.files.groupBy(f => (f.levelSec, f.bucketDate)).values
        .map(_.size).maxOption.getOrElse(0).toDouble, "count")
  }

  private def ingestChecks(c: Ctx, r: Result, ing: Ingest): Unit = {
    val spark = c.spark
    spark.sparkContext.setJobGroup("bench.check", "ingest check")
    try {
      val got = ing.committedFrame.cache()
      val want = ing.sentFrame.cache()
      r.attempted += 2
      val d = Checks.diffRows(got, want)
      if (d != 0) r.problem(s"ingest: $d rows differ between committed and sent")
      val all = graft.archive.ManifestStore.read(spark, ing.storePath, 0L)
      val dup = Checks.duplicateIds(all)
      if (dup != 0) r.problem(s"ingest: $dup duplicated sample ids")
      if (c.tiny) r.selftest += ("ingest: a dropped committed row is rejected" ->
        (Checks.diffRows(got.exceptAll(got.limit(1)), want) > 0))
      ing.cascadeFrames.foreach { case (p, live, ref) =>
        r.attempted += 1
        val n = Checks.diffRows(live, ref)
        if (n != 0) r.problem(s"cascade: level ${p}s has $n windows unlike a " +
          "batch decimation of the committed raw")
        if (c.tiny && p == Fixtures.Levels.head) {
          val bad = live.withColumn("mean", when(col("ts") === live.agg(min("ts"))
            .head().getLong(0), col("mean") + 1.0).otherwise(col("mean")))
          r.selftest += ("cascade: a changed window mean is rejected" ->
            (Checks.diffRows(bad, ref) > 0))
        }
      }
      got.unpersist(); want.unpersist()
    } finally spark.sparkContext.clearJobGroup()
  }

  // ---- batch_gates -------------------------------------------------------

  private def batchGates(c: Ctx, r: Result): Unit = {
    val z = sizes(c)
    val data = setups(c, r) { d =>
      Fixtures.gateTables(c.spark, d, c.seed, z.gateScale); d
    }
    // one pass, the JVM's first: a second, warm pass would double the
    // run's cost, and the run budget has no room for it
    val oracleDir = s"$data/oracle"
    val w = new Window(c)
    val per = Gates.pass(c.spark, data, oracleDir)
    w.end()
    r.oracleDir = Some(oracleDir)
    val calls = per.map(_._2 * 1000.0)
    latencyE2e(r, calls)
    r.e2e("throughput_per_s", calls.size / w.sec, "1/s")
    r.attempted += calls.size
    if (c.trace) {
      w.report(r)
      r.layer("gates_s", per.map(_._2).sum, "s")
      per.foreach { case (n, sec) =>
        val a = c.listener.get(s"gate.$n")
        r.layer(s"gate.$n.s", sec, "s")
        r.layer(s"gate.$n.jobs", a.jobs.toDouble, "count")
        r.layer(s"gate.$n.shuffle_bytes", a.shuffleWrite.toDouble, "bytes")
      }
    }
    finish(c, r)
  }
}
