package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.archive.{Analytics, ArchiveReader, ChannelConfig, ChannelRegistry, ConfigCommands, ConfiguredArchive, Decimation, JsonV1, Maintenance, ManifestStore, TypedDecimation}
import graft.core.{Samples, Tables, TypedSamples}
import graft.pipeline.{Dedup, Multimodal, Retrieval, Sampling, Similarity, TextAnalysis}
import OracleSql._

/** Driver contract — one entry per implemented operator from SURVEY.md
  * §2, each with a DuckDB oracle in [[OracleSql]]. Query functions are
  * thin wrappers over the library (graft.archive / graft.core /
  * graft.pipeline); all rounding happens here at the output edge.
  */
object SparkEntry {

  type Q = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("arch_decimate_1h")(spark, "/root/testdata/sf0.001")

  private def r6(c: String): Column = round(col(c), 6).as(c)

  /** Scaled 6dp round (multiply → scale-0 round → divide): the
    * engine-deterministic sequence for columns that land on systematic
    * 6dp ties (e.g. decimal-sum / power-of-two-count rolling means,
    * where plain round(x,6) HALF_UPs on Spark but not DuckDB).
    */
  private def sr6(c: String): Column =
    (round(col(c) * lit(1e6)).cast("long").cast("double") / lit(1e6)).as(c)

  private def raw(s: SparkSession, dir: String) = Samples.fromEvents(s, dir)
  private def clean(s: SparkSession, dir: String) =
    Samples.monotonicDedup(Samples.fromEvents(s, dir))
  private def marked(s: SparkSession, dir: String) =
    Samples.fromEventsWithMarkers(s, dir)

  private val coreCols =
    Seq("channel", "ts", "value", "severity", "status", "sample_id").map(col)

  /** Exact-cents sum: route a double money column through DECIMAL so
    * summation order cannot perturb the result, back to double at the
    * edge. Partial aggregation still applies (decimal sum merges).
    */
  private def moneySum(c: Column, scale: Int): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** Per-process scratch root for gates that persist state (manifest
    * stores, IVF indexes): two concurrent verify/bench runs on one
    * machine must never share these paths — a fixed tmpdir name had
    * one run's index overwritten mid-query by the other. Cleaned on
    * JVM exit, so repeated runs don't accumulate copies either.
    */
  private lazy val runScratch: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-run-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(p.toFile)
    }))
    p.toString
  }

  private def scratchDir(prefix: String): String =
    java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(runScratch), prefix)
      .toString

  /** Memory-sink gates need a fresh temp-view name per invocation —
    * bench runs every query twice in one session.
    */
  private val streamGateSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** One parquet input copy per (streaming gate, sf-dir) per JVM (the
    * bpeMemo pattern): the bounded file-source input a stream gate
    * drains is deterministic given the sf-dir, so writing it once and
    * replaying it on every invocation (bench runs each gate twice)
    * keeps the gate measuring the STREAMING operator, not a repeated
    * setup write. Bounded: ≤ one copy per gate kind × sf-dir, under
    * runScratch (deleted at JVM exit). Checkpoints are NOT memoized —
    * a reused checkpoint would resume past the replayed files and
    * emit nothing.
    */
  private val streamInMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def memoInput(kind: String, dir: String)
                       (write: String => Unit): String =
    streamInMemo.computeIfAbsent(s"$kind|$dir", _ => {
      val p = scratchDir(kind) + "/data"
      write(p); p
    })

  /** dedup_clusters_incremental's day-N state (the old corpus's
    * verified pairs and its persisted MinHash index) — the heaviest
    * memo fixtures in the suite, shared between the gate and
    * [[primeBenchFixtures]]. */
  private def incdupPairsPath(s: SparkSession, dir: String): String =
    memoInput("incdup-pairs", dir)(p =>
      Dedup.nearDupPairs(
          Tables.documents(s, dir).where(col("doc_id") % 4 =!= 0))
        .select("doc_a", "doc_b").write.parquet(p))

  private def incdupIndexPath(s: SparkSession, dir: String): String =
    memoInput("incdup-index", dir)(p =>
      Dedup.minHashIndex(
          Tables.documents(s, dir).where(col("doc_id") % 4 =!= 0))
        .write.parquet(p))

  /** Bench warm-up hook: build the expensive per-(JVM, sfDir) fixtures
    * BEFORE any timed run, so no gate's first reading (or a variance-
    * guard clean-cache re-run) pays a fixture construction job. The
    * builds are memoized — the gates call the same accessors and get
    * the already-built paths. (The r11 bench's one banded gate,
    * dedup_clusters_incremental at 19.3 s banded vs 5.4 s committed,
    * was fixture-adjacent allocation noise; priming plus the in-gate
    * cache removes the build from every timed window.)
    */
  def primeBenchFixtures(s: SparkSession, dir: String): Unit = {
    incdupPairsPath(s, dir)
    incdupIndexPath(s, dir)
    ()
  }

  /** The shared output shape of the two EPICS Appliance ingest gates
    * (JSON and PB decode the same fixture and share one oracle). */
  private def epicsIngestProjection(df: DataFrame): DataFrame =
    df.select(col("channel"), col("ts"), col("vtype"), col("value"),
        col("str_value"), col("enum_value"),
        graft.core.TypedSamples.strArrayToString(col("labels"))
          .as("labels"),
        graft.core.TypedSamples.numArrayToString(col("arr_num"))
          .as("arr_num"),
        col("severity"), col("status"),
        col("meta_units"), col("meta_precision"))
      .orderBy("channel", "ts")

  /** ONE parameterized builder behind every memoized config+store
    * serving fixture (gate setup built once per (JVM, sfDir); the
    * measured operator is the SERVE): add a ChannelConfig per event
    * channel via `mkConfig(name, index)` (plus any `extraConfigs`),
    * materialize the id-keyed manifest store from the clean samples,
    * then run `post` (rename/disable commands — driver-side
    * version-file writes). Returns (configDir, storePath, names).
    */
  private val serveFixMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (String, String, Seq[String])]()

  private def serveFixture(tag: String, s: SparkSession, dir: String,
                           mkConfig: (String, Int) => ChannelConfig,
                           extraConfigs: Seq[ChannelConfig] = Nil,
                           post: (String, Seq[String]) => Unit = (_, _) => ())
      : (String, String, Seq[String]) =
    serveFixMemo.computeIfAbsent((tag, dir), _ => {
      val root = scratchDir(tag)
      val cfgDir = root + "/config"; val store = root + "/store"
      val names = raw(s, dir).select("channel").distinct()
        .orderBy("channel").collect().map(_.getString(0)).toSeq
      names.zipWithIndex.foreach { case (n, i) =>
        ConfigCommands.addChannel(s, cfgDir, mkConfig(n, i))
      }
      extraConfigs.foreach(c => ConfigCommands.addChannel(s, cfgDir, c))
      ConfiguredArchive.materialize(s, cfgDir, store, clean(s, dir))
      post(cfgDir, names)
      (cfgDir, store, names)
    })

  private def rawChan(n: String, enabled: Boolean = true,
                      levels: Map[Long, Long] = Map(0L -> 0L)) =
    ChannelConfig(n, s"id-$n", "ca", enabled, Map(), levels)

  /** All-channels-enabled raw store for the chart-serving gates
    * (arch_serve_lttb / arch_serve_m4 / arch_serve_stats /
    * arch_serve_limit_modes serve the IDENTICAL store).
    */
  private def chartServeFixture(s: SparkSession, dir: String) =
    serveFixture("chartsrv", s, dir, (n, _) => rawChan(n))

  /** Post-rename fixture for arch_configured_serve /
    * arch_xml_config_serve: channel index 1 disabled at ADD time so
    * its rows drop at ingest, first channel renamed AFTER the build
    * (rename-stability: zero data files change). The XML gate re-runs
    * its codec round trip per invocation into its own log and serves
    * from this same store.
    */
  private def configuredServeFixture(s: SparkSession, dir: String) =
    serveFixture("cfgsrv", s, dir,
      (n, i) => rawChan(n, enabled = i != 1),
      post = (cfgDir, names) => ConfigCommands.renameChannel(s, cfgDir,
        names.head, names.head + "#renamed"))

  /** arch_disabled_serve: every channel archived while enabled, the
    * lexicographically second decommissioned AFTER the build —
    * retrieval must still answer for it (the reference's contract).
    */
  private def disabledServeFixture(s: SparkSession, dir: String) =
    serveFixture("cfgdis", s, dir, (n, _) => rawChan(n),
      post = (cfgDir, names) => {
        val victim = ConfigCommands.state(s, cfgDir).config(names(1)).get
        ConfigCommands.updateChannel(s, cfgDir, victim.copy(enabled = false))
      })

  /** arch_calc_configured: the raw channels PLUS a config-defined
    * calculated channel (click − view on the 1 h grid) — materialize
    * computes and archives the derived series under its own id; the
    * measured operator is the widened serve of the calc channel.
    */
  private def calcServeFixture(s: SparkSession, dir: String) =
    serveFixture("calccfg", s, dir, (n, _) => rawChan(n),
      extraConfigs = Seq(ChannelConfig("calc:cv", "id-calc-cv", "calc",
        enabled = true,
        Map("calc.a" -> "click", "calc.b" -> "view", "calc.op" -> "sub",
          "calc.step_s" -> "3600"), Map(0L -> 0L))))

  /** arch_serve_decimated_widened: config-governed store whose only
    * level is the 1 h decimation (the COUNT-path serving plan is the
    * measured operator, not the cascade build).
    */
  private def decimatedServeFixture(s: SparkSession, dir: String) =
    serveFixture("cfgdw", s, dir,
      (n, _) => rawChan(n, levels = Map(3600L -> 0L)))

  /** One PRE-MUTATION fixture store per (tag, sfDir) per JVM, COPIED
    * per invocation: gates whose measured operator MUTATES a store
    * (compaction, maintenance, catch-up) would otherwise measure the
    * fixture build twice per bench. Manifest stores are copy-safe by
    * design (entry paths are root-relative — ManifestStoreSpec pins
    * relocation), and the copy is a driver-side file walk of a
    * gate-scale store — milliseconds next to the Spark commit jobs it
    * replaces. Copies land under runScratch (deleted at JVM exit).
    */
  private val storeFixMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String), String]()

  private def mutableStoreFixture(tag: String, dir: String)
                                 (build: String => Unit): String = {
    val src = storeFixMemo.computeIfAbsent((tag, dir), _ => {
      val p = scratchDir(tag) + "/store"; build(p); p
    })
    val dst = scratchDir(tag + "cp") + "/store"
    copyTree(src, dst)
    dst
  }

  /** Immutable store fixtures, built ONCE per (tag, dir) and read-only
    * thereafter — no per-invocation copy. For gates whose measured
    * operator is a READ: the store construction is setup (archbench's
    * `serve_during_ingest` times the write path), and memoizing it
    * keeps the bench reading on the pruned read instead of an in-query
    * ingest job (the r10
    * verdict's banded `arch_manifest_scan`: 11.3 s with the in-query
    * commit vs 2.3 s without — both mostly write I/O, neither the scan).
    */
  private val immStoreMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String), String]()

  private def immutableStoreFixture(tag: String, dir: String)
                                   (build: String => Unit): String =
    immStoreMemo.computeIfAbsent((tag, dir), _ => {
      val p = scratchDir(tag) + "/store"; build(p); p
    })

  /** arch_time_travel's immutable fixture: (store path, v1 handle). */
  private val ttFixMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Long)]()

  /** arch_calc_catchup's immutable config log (the store copies per
    * invocation; the config is never mutated by catch-up).
    */
  private val calcCuCfgMemo = new java.util.concurrent.ConcurrentHashMap[
    String, String]()

  private def copyTree(src: String, dst: String): Unit = {
    val sp = java.nio.file.Paths.get(src)
    val dp = java.nio.file.Paths.get(dst)
    val walk = java.nio.file.Files.walk(sp)
    try walk.forEach { p =>
      val t = dp.resolve(sp.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else {
        java.nio.file.Files.createDirectories(t.getParent)
        java.nio.file.Files.copy(p, t)
      }
      ()
    } finally walk.close()
  }

  /** Detach a drained memory-sink table and delete the gate's scratch
    * inputs NOW (not at JVM exit): the returned frame keeps the sink's
    * MemoryPlan alive until the caller is done with it, but dropping
    * the temp view releases the catalog reference, so repeated gate
    * runs in one session (bench runs every query twice) don't
    * accumulate full-result memory sinks in the driver — or parquet
    * copies of the input on scratch disk. Memoized inputs
    * ([[memoInput]]) are NOT passed here — they live for the JVM.
    */
  private def detachSink(s: SparkSession, sink: String,
                         scratch: String*): DataFrame = {
    val res = s.table(sink)
    s.catalog.dropTempView(sink)
    dropScratch(scratch: _*)
    res
  }

  /** Recursively delete gate scratch paths that are no longer inputs
    * to the frame being returned (drained stream inputs, stopped-query
    * checkpoints).
    */
  private def dropScratch(paths: String*): Unit =
    paths.foreach { p =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(p))
    }

  /** One BPE training run per sf-dir, shared by every gate that needs
    * the merge list (`text_bpe_vocab` re-serves the trace,
    * `text_bpe_tokenize` replays the merges): training is K sequential
    * corpus scans by nature, and re-running it inside the tokenize
    * gate measured the trainer, not the apply scan. Driver-side memo —
    * the trace is GateBpeRounds rows.
    */
  private val bpeMemo =
    new java.util.concurrent.ConcurrentHashMap[
      String, Seq[(Int, String, String, String, Long)]]()

  private def trainedBpe(s: SparkSession, dir: String)
      : Seq[(Int, String, String, String, Long)] =
    bpeMemo.computeIfAbsent(dir, _ =>
      TextAnalysis.bpeTrain(Tables.documents(s, dir),
          rounds = TextAnalysis.GateBpeRounds)
        .orderBy("round").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq)

  /** One sketch-discovered stopword list per sf-dir (the bpeMemo
    * pattern): three gates compose on it (`text_heavy_hitters` feeds
    * the same sketch, `text_stop_density`, `pipeline_curate3`) and
    * each would otherwise redo the sketch build + candidate distinct +
    * collect per invocation, twice per bench run.
    */
  private val stopMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private def discoveredStopwords(s: SparkSession, dir: String): Seq[String] =
    stopMemo.computeIfAbsent(dir, _ => {
      val docs = Tables.documents(s, dir)
      val cands = docs
        .select(explode(graft.pipeline.Dedup.tokens("text")).as("tok"))
        .distinct()
      TextAnalysis.cmsHeavyHitters(cands, TextAnalysis.countMinSketch(docs))
        .collect().map(_.getString(0)).toSeq
    })

  def queries: Map[String, Q] = Map(
    // ---- TPC-H-style relational core (scan/filter/agg/join/topk) ----
    "q1_pricing_summary" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
        .where(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
      val discPrice = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val charge = discPrice * (lit(1) + col("l_tax"))
      l.groupBy("l_returnflag", "l_linestatus")
        .agg(
          moneySum(col("l_quantity"), 2).as("sum_qty"),
          moneySum(col("l_extendedprice"), 2).as("sum_base_price"),
          // 2dp at the output edge, applied on the DECIMAL before the
          // double cast: these totals reach 17 significant digits at
          // sf1 (> double's 15.9), where the exact-DECIMAL → double
          // conversion differs between engines by one ulp; the per-row
          // DECIMAL(18,6) sums stay exact, only the edge is
          // money-rounded (found by the sf1 sweep)
          sum(discPrice.cast("decimal(18,6)")).cast("decimal(38,2)")
            .cast("double").as("sum_disc_price"),
          sum(charge.cast("decimal(18,6)")).cast("decimal(38,2)")
            .cast("double").as("sum_charge"),
          round(moneySum(col("l_quantity"), 2) / count(lit(1)), 6).as("avg_qty"),
          round(moneySum(col("l_extendedprice"), 2) / count(lit(1)), 6).as("avg_price"),
          round(moneySum(col("l_discount"), 6) / count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q3_shipping_priority" -> ((s, dir) => {
      val cutoff = lit("1996-06-30").cast("timestamp")
      val c = Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir).where(col("o_orderdate") < cutoff)
      val l = Tables.lineitem(s, dir).where(col("l_shipdate") > cutoff)
      // customer is the small side — broadcast it into orders, then join
      // the big fact table once.
      l.join(o.join(broadcast(c), col("c_custkey") === col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    "q5_local_supplier" -> ((s, dir) => {
      val r = Tables.region(s, dir).where(col("r_name") === "ASIA")
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir)
      val sup = Tables.supplier(s, dir)
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
               col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, dir)
      // dimension chain broadcast; lineitem⨝orders is the only big join
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(c), col("c_custkey") === col("o_custkey") &&
                            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // ---- archive read path (SURVEY §2.1/2.2/2.5/2.6) ----
    "arch_range_scan" -> ((s, dir) =>
      ArchiveReader.rangeScan(raw(s, dir), LO, HI)
        .select(coreCols: _*)
        .orderBy(col("channel"), col("ts"), col("sample_id"))),

    // The same range scan served through the manifest-committed store:
    // raw samples committed into a transaction-logged table (ONCE per
    // dir — the store is immutable after the commit; archbench's
    // serve_during_ingest times the write path), read back the clip — gates the
    // stats/prune/read path against the arch_range_scan oracle
    // (identical output bytes required). The measured operator is the
    // manifest-pruned read.
    "arch_manifest_scan" -> ((s, dir) => {
      val store = immutableStoreFixture("mstore", dir) { p =>
        ManifestStore.commit(raw(s, dir), p, levelSec = 0); ()
      }
      ManifestStore.read(s, store, 0, Some(LO), Some(HI))
        .select(coreCols: _*)
        .orderBy(col("channel"), col("ts"), col("sample_id"))
    }),

    // ---- Spark SQL surface (DataSource V2 connector) ----
    // the SAME manifest-pruned read, reached through ANSI SQL text over
    // the catalog-registered `graft` format: level + ts-range predicates
    // push into driver-side manifest file pruning (visible as
    // PushedFilters + files=N/M in .explain), the residual clip reaches
    // parquet row-group stats, and the bytes must equal the library
    // API's arch_range_scan output exactly
    "sql_range_scan" -> ((s, dir) => {
      val store = immutableStoreFixture("mstore", dir) { p =>
        ManifestStore.commit(raw(s, dir), p, levelSec = 0); ()
      }
      s.read.format("graft").load(store).createOrReplaceTempView("graft_pv")
      s.sql(
        s"""SELECT channel, ts, value, severity, status, sample_id
           |FROM graft_pv
           |WHERE level = 0 AND ts BETWEEN $LO AND $HI
           |ORDER BY channel, ts, sample_id""".stripMargin)
    }),

    // channel-equality pushdown through SQL: the clustering-key
    // (chMin/chMax) file pruning the library read does, driven from a
    // WHERE clause
    "sql_channel_scan" -> ((s, dir) => {
      val store = immutableStoreFixture("mstore", dir) { p =>
        ManifestStore.commit(raw(s, dir), p, levelSec = 0); ()
      }
      s.read.format("graft").load(store)
        .createOrReplaceTempView("graft_pv_ch")
      s.sql(
        s"""SELECT channel, ts, value, severity, status, sample_id
           |FROM graft_pv_ch
           |WHERE level = 0 AND channel = 'click'
           |  AND ts BETWEEN $LO AND $HI
           |ORDER BY ts, sample_id""".stripMargin)
    }),

    // the SQL WRITE path: a store populated ONLY through DDL + INSERT
    // statements (CREATE TABLE … USING graft, then two appending
    // INSERT INTO … SELECT over the ts midpoint — each one atomic
    // manifest commit through ManifestStore.commitMultiLevel), read
    // back through the connector — must serve the arch_range_scan
    // bytes exactly
    "sql_insert_roundtrip" -> ((s, dir) => {
      val store = immutableStoreFixture("sqlins", dir) { p =>
        val r = raw(s, dir)
        r.createOrReplaceTempView("sql_ins_src")
        s.sql("DROP TABLE IF EXISTS sql_ins_tbl")
        s.sql(s"CREATE TABLE sql_ins_tbl (${r.schema.toDDL}, level BIGINT) " +
          s"USING graft OPTIONS (path '$p')")
        val mid = LO + (HI - LO) / 2
        s.sql("INSERT INTO sql_ins_tbl SELECT *, CAST(0 AS BIGINT) " +
          s"FROM sql_ins_src WHERE ts < $mid")
        s.sql("INSERT INTO sql_ins_tbl SELECT *, CAST(0 AS BIGINT) " +
          s"FROM sql_ins_src WHERE ts >= $mid")
        s.sql("DROP TABLE IF EXISTS sql_ins_tbl")
        s.catalog.dropTempView("sql_ins_src")
        ()
      }
      s.read.format("graft").load(store)
        .createOrReplaceTempView("graft_pv_ins")
      s.sql(
        s"""SELECT channel, ts, value, severity, status, sample_id
           |FROM graft_pv_ins
           |WHERE level = 0 AND ts BETWEEN $LO AND $HI
           |ORDER BY channel, ts, sample_id""".stripMargin)
    }),

    // the manifest log as a streaming changefeed:
    // readStream.format("graft") over a store built by THREE appending
    // commits — each version is one micro-batch of exactly its new
    // rows (per-batch exactness is GraftChangefeedSpec's job; this
    // gate pins the drained union against the range-scan oracle)
    "stream_sql_changefeed" -> ((s, dir) => {
      val store = immutableStoreFixture("cfstore", dir) { p =>
        val r = raw(s, dir)
        val t1 = LO + (HI - LO) / 3
        val t2 = LO + 2 * (HI - LO) / 3
        ManifestStore.commit(r.where(col("ts") < t1), p, levelSec = 0)
        ManifestStore.commit(
          r.where(col("ts") >= t1 && col("ts") < t2), p, levelSec = 0)
        ManifestStore.commit(r.where(col("ts") >= t2), p, levelSec = 0)
        ()
      }
      val sink = s"cf_out_${streamGateSeq.incrementAndGet()}"
      val q = s.readStream.format("graft").load(store)
        .writeStream.format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      detachSink(s, sink)
        .where(col("level") === 0L && col("ts").between(LO, HI))
        .select(coreCols: _*)
        .orderBy(col("channel"), col("ts"), col("sample_id"))
    }),

    // the changefeed DRIVING decimation: the manifest log's
    // version-ordered replay feeds the same keyed decimation state
    // machine the socket/file streams use — the cascade hop riding the
    // store's own commit history instead of separate watermark
    // bookkeeping, serving the batch decimation bytes
    "stream_changefeed_decimate" -> ((s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val store = immutableStoreFixture("cfdec", dir) { p =>
        val m = marked(s, dir)
        val t1 = LO + (HI - LO) / 3
        val t2 = LO + 2 * (HI - LO) / 3
        ManifestStore.commit(m.where(col("ts") < t1), p, levelSec = 0)
        ManifestStore.commit(
          m.where(col("ts") >= t1 && col("ts") < t2), p, levelSec = 0)
        ManifestStore.commit(m.where(col("ts") >= t2), p, levelSec = 0)
        ()
      }
      val ds = s.readStream.format("graft").load(store)
        .where(col("level") === 0L)
        .select(col("channel"), col("ts"), col("value"),
          col("sample_id").as("seq"))
        .as[graft.streaming.StreamingDecimation.InSample]
      val sink = s"cfdec_out_${streamGateSeq.incrementAndGet()}"
      val q = graft.streaming.StreamingDecimation.decimateStream(ds, P1H)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      detachSink(s, sink)
        .select(col("channel"), col("win_start"), r6("mean"), r6("std"),
          col("min_value"), col("max_value"), r6("covered_fraction"),
          col("n_samples"))
        .orderBy("channel", "win_start")
    }),

    // two levels of ONE store joined in SQL — the connector exposes the
    // whole resolution cascade as a single relational table with
    // `level` an ordinary filterable column, so each join branch plans
    // its own pruned scan (level=3600 reads ~1/3600th the bytes of raw)
    "sql_decimate_join" -> ((s, dir) => {
      val store = immutableStoreFixture("sqldec", dir) { p =>
        graft.archive.Cascade.materialize(s, p, marked(s, dir), Seq(3600L),
          graft.archive.ManifestBackend)
      }
      s.read.format("graft").load(store)
        .createOrReplaceTempView("graft_pv_dec")
      s.sql(
        s"""SELECT d.channel, d.ts AS win_start, round(d.mean, 6) AS mean,
           |       d.n_samples, r.n_raw
           |FROM (SELECT channel, ts, mean, n_samples FROM graft_pv_dec
           |      WHERE level = 3600) d
           |JOIN (SELECT channel, ts - ts % ${P1H} AS win_start,
           |             count(*) AS n_raw
           |      FROM graft_pv_dec WHERE level = 0 GROUP BY 1, 2) r
           |  ON d.channel = r.channel AND d.ts = r.win_start
           |ORDER BY d.channel, win_start""".stripMargin)
    }),

    // pure-stats SQL answered from manifest metadata: COUNT(*) /
    // MIN(ts) / MAX(ts) per level with NO parquet scan — the pushed
    // aggregation reads only file entries (the reference's
    // getSampleBucketState metadata reads as SQL). GraftSqlSpec pins
    // the plan shape (GraftStoreStats, no data scan) and the
    // filter-defeats-stats fallback; this gate pins the VALUES.
    "sql_stats_pushdown" -> ((s, dir) => {
      val store = immutableStoreFixture("sqldec", dir) { p =>
        graft.archive.Cascade.materialize(s, p, marked(s, dir), Seq(3600L),
          graft.archive.ManifestBackend)
      }
      s.read.format("graft").load(store)
        .createOrReplaceTempView("graft_pv_stats")
      s.sql(
        """SELECT level, count(*) AS n, min(ts) AS min_ts, max(ts) AS max_ts
          |FROM graft_pv_stats GROUP BY level ORDER BY level""".stripMargin)
    }),

    // zero-downtime migration: history split at the window midpoint
    // across a frozen old store and a live store, read back through
    // ONE FederatedBackend — must serve the arch_range_scan bytes
    "arch_federated_scan" -> ((s, dir) => {
      val cut = LO + (HI - LO) / 2
      // both stores are frozen after their one commit — built once per
      // dir; the measured operator is the federated two-store read
      val root = immutableStoreFixture("fedstore", dir) { p =>
        val r = raw(s, dir)
        ManifestStore.commit(r.where(col("ts") < cut), p + "/old",
          levelSec = 0)
        ManifestStore.commit(r.where(col("ts") >= cut), p + "/live",
          levelSec = 0)
        ()
      }
      val fed = new graft.archive.FederatedBackend(
        graft.archive.ManifestBackend, root + "/old", cut)
      fed.read(s, root + "/live", 0, Some(LO), Some(HI), channel = None)
        .select(coreCols: _*)
        .orderBy(col("channel"), col("ts"), col("sample_id"))
    }),

    // snapshot isolation through the gate: a later garbage commit must
    // be invisible when reading the earlier version
    // versioned reads never mutate — the two-commit store memoizes
    // whole (with its v1 handle); the measured operator is the
    // snapshot-isolated read
    "arch_time_travel" -> ((s, dir) => {
      val (store, v1) = ttFixMemo.computeIfAbsent(dir, _ => {
        val store = scratchDir("mtt")
        val r = raw(s, dir)
        val v1 = ManifestStore.commit(r, store, levelSec = 0)
        ManifestStore.commit(
          r.withColumn("value", col("value") + 1e9d)
            .withColumn("sample_id", col("sample_id") + 10000000L),
          store, levelSec = 0)
        (store, v1)
      })
      ManifestStore.readVersion(s, store, v1, 0, Some(LO), Some(HI))
        .select(coreCols: _*)
        .orderBy(col("channel"), col("ts"), col("sample_id"))
    }),

    // atomic compaction through the gate: three small commits collapsed
    // per (level, day) must serve the exact same bytes. The fragmented
    // store is setup (built once, copied per invocation — manifest
    // stores relocate); the measured operator is compaction + the read
    "arch_compacted_scan" -> ((s, dir) => {
      val store = mutableStoreFixture("fragstore", dir) { p =>
        val r = raw(s, dir)
        (0 to 2).foreach(i =>
          ManifestStore.commit(r.where(pmod(col("sample_id"), lit(3)) === i),
            p, levelSec = 0))
      }
      // every fragmented day in ONE job + ONE manifest swap
      ManifestStore.compactAll(s, store, levelSec = 0)
      ManifestStore.read(s, store, 0, Some(LO), Some(HI))
        .select(coreCols: _*)
        .orderBy(col("channel"), col("ts"), col("sample_id"))
    }),

    // the reference's background-upkeep loop as ONE idempotent call
    // (ArchivingService's periodic maintenance): 21-day retention
    // (drops the pre-gate-range days; horizon rule = bucket end <
    // level max − retention), compaction of the fragmented
    // survivors, vacuum of the dead bytes. The maintained store is
    // itself the fixture (fragmented commits + ONE Maintenance.run,
    // then immutable): compaction timing is arch_compacted_scan's job;
    // the measured operator here is the READ of a maintained store —
    // retention horizon + compacted layout must still serve the exact
    // arch_range_scan bytes.
    "arch_maintenance_scan" -> ((s, dir) => {
      val store = immutableStoreFixture("maintstore", dir) { p =>
        val r = raw(s, dir)
        (0 to 2).foreach(i =>
          ManifestStore.commit(r.where(pmod(col("sample_id"), lit(3)) === i),
            p, levelSec = 0))
        graft.archive.Maintenance.run(s, p,
          retentionSec = Map(0L -> (21L * 86400L)))
        ()
      }
      ManifestStore.read(s, store, 0, Some(LO), Some(HI))
        .select(coreCols: _*)
        .orderBy(col("channel"), col("ts"), col("sample_id"))
    }),

    // the streaming ingest path under the SAME oracle as the batch
    // scan: a bounded file-source stream drains through
    // writeRawStream (watermark + day-partitioned exactly-once file
    // sink), then the resulting STORE is served with the
    // arch_range_scan semantics — the continuous sink's bytes are
    // rows/schema/hash-gated, not just spec-asserted.
    "stream_range_scan" -> ((s, dir) => {
      val r = raw(s, dir)
      val in = memoInput("stream-in", dir)(r.write.parquet(_))
      val store = scratchDir("stream-store")
      val ckpt = scratchDir("stream-ckpt")
      val q = graft.streaming.StreamingDecimation.writeRawStream(
        s.readStream.schema(r.schema).parquet(in), store, ckpt)
      try q.processAllAvailable() finally q.stop()
      // the served result reads the STORE only — the stopped query's
      // checkpoint can go now instead of at JVM exit
      dropScratch(ckpt)
      ArchiveReader.rangeScan(
          graft.archive.ArchiveStore.read(s, store, 0), LO, HI)
        .select(coreCols: _*)
        .orderBy(col("channel"), col("ts"), col("sample_id"))
    }),

    // the live-dashboard histogram: the SAME binning plan runs as a
    // complete-mode streaming aggregation (bin counts maintained
    // incrementally across micro-batches) and must serve the batch
    // histogram bytes. Input is pre-deduped batch-side — the in-stream
    // dedup parity is stream_range_scan's gate, this one gates the
    // streaming AGGREGATION
    "stream_histogram" -> ((s, dir) => {
      val r = clean(s, dir)
      val in = memoInput("shist-in", dir)(r.write.parquet(_))
      val stream = s.readStream.schema(r.schema).parquet(in)
      val sink = s"shist_out_${streamGateSeq.incrementAndGet()}"
      val q = Analytics.histogram(stream, bins = 20, lo = 0.0, hi = 500.0)
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      detachSink(s, sink).orderBy("channel", "bin")
    }),

    // the live ops-dashboard baseline: Complete-mode streaming
    // seasonal profile — state is channels × 24 rows, each micro-batch
    // merges DECIMAL partials; drains to the batch bytes
    "stream_seasonal_profile" -> ((s, dir) => {
      val r = clean(s, dir)
      val in = memoInput("sseas-in", dir)(r.write.parquet(_))
      val stream = s.readStream.schema(r.schema).parquet(in)
      val sink = s"sseas_out_${streamGateSeq.incrementAndGet()}"
      val q = Analytics.seasonalProfile(stream)
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      detachSink(s, sink).orderBy("channel", "hour")
    }),

    // the live chart envelope: Complete-mode streaming M4 — every
    // column is a min/max/min_by/max_by, so the state is one row per
    // (channel, bucket) and each micro-batch merges partials; the
    // drained sink must serve the batch arch_m4 bytes
    "stream_m4" -> ((s, dir) => {
      val r = clean(s, dir)
      val in = memoInput("sm4-in", dir)(r.write.parquet(_))
      val stream = s.readStream.schema(r.schema).parquet(in)
      val sink = s"sm4_out_${streamGateSeq.incrementAndGet()}"
      val q = Analytics.m4(stream, LO, HI, k = 48)
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      detachSink(s, sink).orderBy("channel", "bucket")
    }),

    // ST2 under the driver oracle: the SAME marked samples drain
    // through the streaming keyed-state decimator (file source →
    // flatMapGroupsWithState over DecimatorCore → append sink) and
    // must hash-match the batch decimation oracle byte for byte — the
    // stream ≡ batch property, gated in DuckDB instead of ScalaTest
    "stream_decimate_1h" -> ((s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      // arrival order = sample_id: the seq the batch F6 rule uses
      val m = marked(s, dir).select(col("channel"), col("ts"),
        col("value"), col("sample_id").as("seq"))
      val in = memoInput("sdec-in", dir)(m.write.parquet(_))
      val ds = s.readStream.schema(m.schema).parquet(in)
        .as[graft.streaming.StreamingDecimation.InSample]
      val sink = s"sdec_out_${streamGateSeq.incrementAndGet()}"
      val q = graft.streaming.StreamingDecimation.decimateStream(ds, P1H)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      detachSink(s, sink)
        .select(col("channel"), col("win_start"), r6("mean"), r6("std"),
          col("min_value"), col("max_value"), r6("covered_fraction"),
          col("n_samples"))
        .orderBy("channel", "win_start")
    }),

    "arch_boundary_before" -> ((s, dir) =>
      ArchiveReader.boundaryBefore(raw(s, dir), TB)
        .select(coreCols: _*).orderBy("channel")),

    "arch_boundary_after" -> ((s, dir) =>
      ArchiveReader.boundaryAfter(raw(s, dir), TB)
        .select(coreCols: _*).orderBy("channel")),

    "arch_limit_modes" -> ((s, dir) =>
      ArchiveReader.getSamples(clean(s, dir), LO, ArchiveReader.AtOrWidened,
          HI, ArchiveReader.AtOrWidened)
        .select(coreCols: _*).orderBy("channel", "ts")),

    "arch_reverse_topk" -> ((s, dir) =>
      ArchiveReader.reverseTopK(raw(s, dir), 5)
        .select(coreCols: _*)
        .orderBy(col("channel"), col("ts").desc, col("sample_id").desc)),

    "arch_bounded_fetch" -> ((s, dir) =>
      ArchiveReader.boundedFetch(raw(s, dir), LO, HI, 50)
        .select(coreCols: _*)
        .orderBy(col("channel"), col("ts"), col("sample_id"))),

    "arch_monotonic_dedup" -> ((s, dir) =>
      clean(s, dir).select(coreCols: _*).orderBy("channel", "sample_id")),

    // the admin-side ingest-health scan: per channel, F6 contract
    // violations in the RAW arrival stream (duplicate canonical ts /
    // arrival-order regressions) before monotonicDedup repairs them —
    // one lag window + one aggregate, no second scan
    "arch_integrity_report" -> ((s, dir) =>
      Maintenance.integrityReport(raw(s, dir))
        .orderBy("channel")),

    // trailing 1h sliding-window aggregates per channel (graft.archive
    // .Rolling): the window rides the full clean history, the output is
    // clipped to the gate range AFTER — left-edge windows keep their
    // look-back
    "arch_rolling_window" -> ((s, dir) =>
      graft.archive.Rolling.trailingReference(clean(s, dir), 3600L)
        .where(col("ts").between(LO, HI))
        .select(col("channel"), col("ts"), sr6("roll_mean"),
          col("roll_min"), col("roll_max"), col("roll_n"))
        .orderBy("channel", "ts")),

    // the linear-time deque path must serve the exact same bytes as
    // the declarative RANGE frame (Spark's sliding frame re-evaluates
    // per row — O(n·frame) on dense channels; the deque is O(n))
    "arch_rolling_window_fast" -> ((s, dir) =>
      graft.archive.Rolling.trailingFast(clean(s, dir), 3600L)
        .where(col("ts").between(LO, HI))
        .select(col("channel"), col("ts"), sr6("roll_mean"),
          col("roll_min"), col("roll_max"), col("roll_n"))
        .orderBy("channel", "ts")),

    // the NATIVE tumbling window() streaming aggregation under the
    // driver oracle (the fourth oracle-gated streaming path — the
    // built-in windowed-state form of ST2, complementing the custom
    // keyed-state decimator): events drain through watermark +
    // groupBy(window(...)) in append mode, a sentinel one window past
    // the corpus end finalizes every real window, and the emitted
    // counts/sums must hash-match the batch tumbling aggregation
    "stream_window_counts" -> ((s, dir) => {
      val win = 21600L
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("value"))
      val in = memoInput("swc-in", dir) { p =>
        val maxTs = ev.agg(max(col("ts"))).head.getLong(0)
        val sentinel = s.range(1).select(lit(-1L).as("event_id"),
          lit(maxTs + (win + 60L) * 1000000000L).as("ts"),
          lit(0.0).as("value"))
        ev.unionByName(sentinel).write.parquet(p)
      }
      val stream = s.readStream.schema(ev.schema).parquet(in)
        .withColumn("_ts", timestamp_micros(
          (col("ts").cast("decimal(20,0)") / 1000L).cast("long")))
        .withWatermark("_ts", "0 seconds")
      val sink = s"swc_out_${streamGateSeq.incrementAndGet()}"
      val q = stream
        .groupBy(window(col("_ts"), s"$win seconds"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(38,12)")).cast("double")
            .as("sum_value"))
        .select((unix_micros(col("window.start")) * 1000L).as("win_start"),
          col("n_events"), col("sum_value"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      detachSink(s, sink)
        .select(col("win_start"), col("n_events"), sr6("sum_value"))
        .orderBy("win_start")
    }),

    // tumbling-window event analytics: per 6h epoch-aligned window,
    // event count + EXACT distinct users (the gate tier; production
    // swaps approx_count_distinct — HLL++, mergeable) + value sum
    "events_window_users" -> ((s, dir) =>
      graft.streaming.Sessionize.windowedUserStats(
          Tables.events(s, dir), 21600L)
        .select(col("win_start"), col("n_events"), col("n_users"),
          sr6("sum_value"))
        .orderBy("win_start")),

    // the SIXTH oracle-gated streaming path: streaming exact dedup
    // (dropDuplicatesWithinWatermark over the content hash) must keep
    // exactly one survivor per distinct text — the kept TEXT set is
    // deterministic even though which doc_id survives a within-batch
    // tie is not, so the gate hashes md5(text) of the survivors. The
    // op keys on (md5, length) — the same 128-bit key as the batch
    // exact tier — so the gate's DISTINCT-text oracle and the op's
    // semantics are symmetric (a red would need two same-length texts
    // sharing an md5).
    "stream_dedup_exact" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          timestamp_micros(lit(1704067200L) * 1000000L + col("doc_id"))
            .as("event_time"))
      val in = memoInput("sdx-in", dir)(docs.write.parquet(_))
      val stream = s.readStream.schema(docs.schema).parquet(in)
      val sink = s"sdx_out_${streamGateSeq.incrementAndGet()}"
      val q = graft.pipeline.Dedup
        .exactStreaming(stream, "event_time", "10 minutes")
        .select(md5(col("text")).as("text_hash"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      detachSink(s, sink).select(col("text_hash")).orderBy("text_hash")
    }),

    // streaming MinHash-LSH near-dup: per-row (shuffle-free)
    // signatures → banding → ONE keyed-state operator per (band, key)
    // bucket. A pair is emitted by EVERY shared under-cap bucket
    // (duplicates confined to one micro-batch); the drain's distinct
    // is the production per-batch dedup, mirroring the batch
    // operator's own trailing dropDuplicates — the deduped set must
    // equal the batch `dedup_minhash_lsh` pairs byte for byte, so the
    // gate shares that oracle.
    "stream_dedup_minhash" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val in = memoInput("sdmh-in", dir)(docs.write.parquet(_))
      val stream = s.readStream.schema(docs.schema).parquet(in)
      val sink = s"sdmh_out_${streamGateSeq.incrementAndGet()}"
      val q = graft.streaming.StreamingDedup.minhashStream(stream)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      detachSink(s, sink)
        .dropDuplicates("doc_a", "doc_b")
        .select(col("doc_a"), col("doc_b"), r6("est_jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // EPICS migration ingest: the Archiver Appliance's documented JSON
    // retrieval format decoded onto the 21-type union — the bridge a
    // real EPICS site migrates its archive in through. The fixture is
    // deterministic, the oracle regenerates it by formula.
    "epics_json_ingest" -> ((s, dir) => {
      val in = memoInput("epicsjson", dir)(p =>
        graft.sources.EpicsArchiverJson.writeFixture(p))
      epicsIngestProjection(graft.sources.EpicsArchiverJson.read(s, in))
    }),

    // the Appliance's bulk-export `.pb` format (escaped-protobuf lines
    // with a PayloadInfo year header) — the SAME logical fixture as
    // the JSON bridge, decoded through the proto2 wire reader, so the
    // two bridges share one oracle: a migration may take either path
    // and must land identical rows
    "epics_pb_ingest" -> ((s, dir) => {
      val in = memoInput("epicspb", dir)(p =>
        graft.sources.EpicsArchiverPb.writeFixture(p))
      epicsIngestProjection(graft.sources.EpicsArchiverPb.read(s, in))
    }),

    // the HORIZON-TTL streaming near-dup: event time rides doc_id (one
    // minute per id), the horizon admits pairs within 500 ids — the
    // drained stream must serve the batch candidate set FILTERED to
    // the horizon (the operator's whole semantics; state eviction is
    // hygiene the StreamingDedupTtlSpec probes separately)
    "stream_dedup_minhash_ttl" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val in = memoInput("sdmh-in", dir)(docs.write.parquet(_))
      val stream = s.readStream.schema(docs.schema).parquet(in)
        .withColumn("event_time",
          timestamp_seconds(lit(1704067200L) + col("doc_id") * 60L))
      val sink = s"sdmt_out_${streamGateSeq.incrementAndGet()}"
      val q = graft.streaming.StreamingDedup.minhashStreamTtl(stream,
          horizonMs = 500L * 60L * 1000L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      detachSink(s, sink)
        .dropDuplicates("doc_a", "doc_b")
        .select(col("doc_a"), col("doc_b"), r6("est_jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // the FIFTH oracle-gated streaming path: per-channel keyed-state
    // trailing window — every sample emits its trailing stats once,
    // and the drained stream must serve the batch RANGE-frame bytes
    "stream_rolling_window" -> ((s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val m = clean(s, dir).select(col("channel"), col("ts"),
        col("value"), col("sample_id").as("seq"))
      val in = memoInput("sroll-in", dir)(m.write.parquet(_))
      val ds = s.readStream.schema(m.schema).parquet(in)
        .as[graft.streaming.StreamingDecimation.InSample]
      val sink = s"sroll_out_${streamGateSeq.incrementAndGet()}"
      val q = graft.streaming.StreamingRolling.trailingStream(ds, 3600L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      detachSink(s, sink)
        .where(col("ts").between(LO, HI))
        .select(col("channel"), col("ts"), sr6("roll_mean"),
          col("roll_min"), col("roll_max"), col("roll_n"))
        .orderBy("channel", "ts")
    }),

    // the streaming CUSUM detector: calibrate targets on the window
    // (batch pass), monitor the replayed stream with per-channel keyed
    // state, aggregate the drained per-sample statistics to the batch
    // summary — must serve the arch_cusum_shifts oracle byte for byte
    "stream_cusum" -> ((s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val m = clean(s, dir)
        .where(col("ts") >= LO && col("ts") < HI)
        .select(col("channel"), col("ts"), col("value"),
          col("sample_id").as("seq"))
      val targets = Analytics.cusumTargets(clean(s, dir), LO, HI)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val in = memoInput("scusum-in", dir)(m.write.parquet(_))
      val ds = s.readStream.schema(m.schema).parquet(in)
        .as[graft.streaming.StreamingDecimation.InSample]
      val sink = s"scusum_out_${streamGateSeq.incrementAndGet()}"
      val q = graft.streaming.StreamingCusum
        .cusumStream(ds, targets, CusumSlack)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val hQ = math.round(CusumThreshold * 1e6)
      detachSink(s, sink)
        .groupBy("channel")
        .agg(count(lit(1)).as("n_samples"),
          sum(when(col("cusum_hi_q") > hQ, lit(1L)).otherwise(lit(0L)))
            .as("n_hi"),
          sum(when(col("cusum_lo_q") > hQ, lit(1L)).otherwise(lit(0L)))
            .as("n_lo"),
          min(when(col("cusum_hi_q") > hQ, col("ts"))).as("t_first_hi"),
          min(when(col("cusum_lo_q") > hQ, col("ts"))).as("t_first_lo"),
          (max(col("cusum_hi_q")).cast("double") / lit(1e6)).as("peak_hi"),
          (max(col("cusum_lo_q")).cast("double") / lit(1e6)).as("peak_lo"))
        .orderBy("channel")
    }),

    // streaming spectral monitor: the identical stateless projection
    // feeding an order-free Complete-mode aggregate — no keyed state
    // machine needed (projection sums are commutative exact integers);
    // the drained table must serve the batch spectrum bytes
    "stream_spectrum" -> ((s, dir) => {
      val base = Analytics.cusumBase(clean(s, dir), LO, HI)
      val means = Analytics.spectrumMeans(base)
      val in = memoInput("sspec-in", dir)(base.write.parquet(_))
      val stream = s.readStream.schema(base.schema).parquet(in)
      val d = (c: Column) => c.cast("decimal(38,0)")
      val agg = Analytics.spectrumTerms(
          stream.join(broadcast(means), Seq("channel")),
          LO, SpectrumPeriods)
        .groupBy("channel", "period")
        .agg(sum(d(col("qdc"))).as("sc_d"), sum(d(col("qds"))).as("ss_d"))
      val sink = s"sspec_out_${streamGateSeq.incrementAndGet()}"
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      Analytics.spectrumPower(
          detachSink(s, sink).join(broadcast(means), Seq("channel"))
            .select(col("channel"), col("period"), col("n"),
              col("sc_d"), col("ss_d")))
        .orderBy("channel", "period_s")
    }),

    // trailing-window anomaly scores: z = (value − mean)/std against
    // the channel's own 1h window, DECIMAL Σx/Σx² window sums, NULL
    // (never garbage) on degenerate frames. r13: the declarative form
    // is the ghost-row running frame (O(n), bit-identical — RollingSpec
    // pins it against the O(n·frame) RANGE reference, which remains
    // the equivalence oracle)
    "arch_rolling_zscore" -> ((s, dir) =>
      graft.archive.Rolling.zscoreRunning(clean(s, dir), 3600L)
        .where(col("ts").between(LO, HI))
        .select(col("channel"), col("ts"), col("value"),
          sr6("zmean"), sr6("zstd"), sr6("zscore"))
        .orderBy("channel", "ts")),

    // the linear walker must serve the declarative z-score bytes
    "arch_rolling_zscore_fast" -> ((s, dir) =>
      graft.archive.Rolling.zscoreFast(clean(s, dir), 3600L)
        .where(col("ts").between(LO, HI))
        .select(col("channel"), col("ts"), col("value"),
          sr6("zmean"), sr6("zstd"), sr6("zscore"))
        .orderBy("channel", "ts")),

    // and so must the chunk-parallel skew path
    "arch_rolling_zscore_chunked" -> ((s, dir) =>
      graft.archive.Rolling.zscoreFastChunked(clean(s, dir), 3600L, 7200L)
        .where(col("ts").between(LO, HI))
        .select(col("channel"), col("ts"), col("value"),
          sr6("zmean"), sr6("zstd"), sr6("zscore"))
        .orderBy("channel", "ts")),

    // the skew path: the same bytes with the time axis split into
    // 2h chunks processed in parallel (context-row warm-up across
    // chunk boundaries) — a hot channel stops being one straggler task
    "arch_rolling_window_chunked" -> ((s, dir) =>
      graft.archive.Rolling.trailingFastChunked(clean(s, dir), 3600L, 7200L)
        .where(col("ts").between(LO, HI))
        .select(col("channel"), col("ts"), sr6("roll_mean"),
          col("roll_min"), col("roll_max"), col("roll_n"))
        .orderBy("channel", "ts")),

    // day-cohort retention matrix: distinct users active k days after
    // their cohort's first day, rate against the cohort size
    "events_retention_cohorts" -> ((s, dir) =>
      graft.streaming.Sessionize.retentionCohorts(Tables.events(s, dir))
        .orderBy("cohort_day", "day_offset")),

    // ordered funnel over the events stream: earliest strictly-ordered
    // view→click→purchase completion within 3 days of the first view —
    // greedy per-user fold ≡ the oracle's chained conditional minima
    "events_funnel" -> ((s, dir) =>
      graft.streaming.Sessionize.funnel(Tables.events(s, dir),
          Seq("view", "click", "purchase"), windowNs = 3L * 86400L * NS)
        .orderBy("step")),

    // the funnel as a LIVE detector: per-user keyed state emits each
    // step completion once; the drained reached-set summarized by the
    // shared tail must serve the batch funnel's bytes
    "stream_funnel" -> ((s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val steps = Seq("view", "click", "purchase")
      val ev = Tables.events(s, dir)
        .where(col("event_type").isin(steps: _*))
        .select(col("user_id"), col("ts"), col("event_type"))
        .orderBy("ts")
      val in = memoInput("sfunnel-in", dir)(ev.write.parquet(_))
      val ds = s.readStream.schema(ev.schema).parquet(in)
        .as[graft.streaming.StreamingFunnel.InEvent]
      val sink = s"sfunnel_out_${streamGateSeq.incrementAndGet()}"
      val q = graft.streaming.StreamingFunnel
        .funnelStream(ds, steps, windowNs = 3L * 86400L * NS)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      graft.streaming.Sessionize.funnelSummary(
          detachSink(s, sink).select(col("step")), steps)
        .orderBy("step")
    }),

    // gap-based sessionization of the raw events stream (graft
    // .streaming.Sessionize, 12h gap — the corpus' median per-user
    // inter-event gap is ~7.3h, so sessions genuinely merge AND split)
    "events_sessionize" -> ((s, dir) =>
      graft.streaming.Sessionize.sessions(Tables.events(s, dir), 43200L)
        .select(col("user_id"), col("start_ns"), col("end_ns"),
          col("n_events"), r6("sum_value"))
        .orderBy("user_id", "start_ns")),

    // ST7 under the driver oracle: the same events drain through the
    // native session_window streaming aggregation (file source,
    // append mode, 0 s watermark) and must hash-match the batch
    // sessionization oracle. A sentinel event one gap past the corpus
    // end advances the watermark so every real session finalizes (the
    // SessionizeSpec drain pattern); the sentinel user is filtered out.
    "stream_sessionize" -> ((s, dir) => {
      val gap = 43200L
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val in = memoInput("sess-in", dir) { p =>
        val maxTs = ev.agg(max(col("ts"))).head.getLong(0)
        val sentinel = s.range(1).select(
          lit(-1L).as("event_id"), lit(-1L).as("user_id"),
          lit(maxTs + (gap + 60L) * 1000000000L).as("ts"),
          lit(0.0).as("value"))
        ev.unionByName(sentinel).write.parquet(p)
      }
      val stream = s.readStream.schema(ev.schema).parquet(in)
      val sink = s"sess_out_${streamGateSeq.incrementAndGet()}"
      val q = graft.streaming.Sessionize.sessionWindowAgg(stream, gap,
          watermark = Some("0 seconds"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      detachSink(s, sink).where(col("user_id") =!= -1L)
        .select(col("user_id"), col("start_ns"), col("end_ns"),
          col("n_events"), r6("sum_value"))
        .orderBy("user_id", "start_ns")
    }),

    "arch_decimate_1h" -> ((s, dir) =>
      Decimation.decimate(marked(s, dir), P1H)
        .select(col("channel"), col("win_start"), r6("mean"), r6("std"),
          col("min_value"), col("max_value"), r6("covered_fraction"),
          col("n_samples"))
        .orderBy("channel", "win_start")),

    // correlated-channel search: probe-vs-all Pearson over aligned
    // decimated windows — linear in channels, never the O(C²) matrix
    "arch_correlated_channels" -> ((s, dir) =>
      Analytics.correlatedChannels(clean(s, dir), P1H, probe = "click")),

    // archive-viewer value distribution: fixed-bin clamped histogram
    "arch_histogram" -> ((s, dir) =>
      Analytics.histogram(clean(s, dir), bins = 20, lo = 0.0, hi = 500.0)
        .orderBy("channel", "bin")),

    // chart downsampling: parallel LTTB (neighbor-bucket-average
    // anchors) — 48 buckets over the full window, per channel
    "arch_lttb" -> ((s, dir) =>
      Analytics.lttb(clean(s, dir), LO, HI, k = 48)
        .orderBy("channel", "bucket")),

    // alarm dwell rollup: time-at-severity + entry counts per channel
    "arch_alarm_stats" -> ((s, dir) =>
      Analytics.alarmStats(clean(s, dir), LO, HI)
        .orderBy("channel", "severity")),

    // M4 chart downsampling: first/min/max/last per pixel bucket —
    // the pixel-exact envelope reducer next to LTTB, one hash aggregate
    "arch_m4" -> ((s, dir) =>
      Analytics.m4(clean(s, dir), LO, HI, k = 48)
        .orderBy("channel", "bucket")),

    // hour-of-day seasonal baseline per channel (UTC, integer ns math)
    "arch_seasonal_profile" -> ((s, dir) =>
      Analytics.seasonalProfile(clean(s, dir))
        .orderBy("channel", "hour")),

    // the baseline composed into detection: per-(channel, hour) band,
    // |v − mean| > 3σ on quantized grid values, no sqrt anywhere
    "arch_seasonal_anomalies" -> ((s, dir) =>
      Analytics.seasonalAnomalies(clean(s, dir), nSigma = 3.0)
        .orderBy("channel")),

    // oscillation hunting: demeaned DFT power at the candidate-period
    // grid — quantized-phase cos/sin table shared with the oracle,
    // exact DECIMAL projection sums, fixed-order double power
    "arch_spectrum" -> ((s, dir) =>
      Analytics.spectrum(clean(s, dir), LO, HI, SpectrumPeriods)
        .orderBy("channel", "period_s")),

    // resolution-aware spectrum: the projection over the 1 h level's
    // means instead of raw — 1/cadence the scan for periods ≫ 1 h
    // (the planner logic a spectral dashboard would use)
    "arch_spectrum_decimated" -> ((s, dir) =>
      Analytics.spectrum(
          Decimation.decimate(marked(s, dir), P1H)
            .select(col("channel"), col("win_start").as("ts"),
              col("mean").as("value")),
          LO, HI, DecSpectrumPeriods)
        .orderBy("channel", "period_s")),

    // frequency-domain correlated-channel search: cross-spectral
    // density of every channel against the 'click' probe
    "arch_cross_spectrum" -> ((s, dir) =>
      Analytics.crossSpectrum(clean(s, dir), LO, HI,
          SpectrumPeriods, probe = "click")
        .orderBy("channel", "period_s")),

    // the spectrum reduced to its per-channel argmax + power share
    "arch_dominant_period" -> ((s, dir) =>
      Analytics.dominantPeriod(
          Analytics.spectrum(clean(s, dir), LO, HI, SpectrumPeriods))
        .orderBy("channel")),

    // persistent-mean-shift detection: two-sided CUSUM as two running-
    // extremum window passes over exact DECIMAL prefix sums
    "arch_cusum_shifts" -> ((s, dir) =>
      Analytics.cusumShifts(clean(s, dir), LO, HI,
          CusumSlack, CusumThreshold)
        .orderBy("channel")),

    // the hot-channel skew path: prefix-scan cascade over per-chunk
    // summaries — must serve the plain detector's bytes (1-day chunks
    // split the 10-day window into ~10 chunks per channel)
    "arch_cusum_chunked" -> ((s, dir) =>
      Analytics.cusumShiftsChunked(clean(s, dir), LO, HI,
          CusumSlack, CusumThreshold, chunkNs = 86400L * NS)
        .orderBy("channel")),

    // ops panel: which channels stopped updating as of HI — median
    // inter-arrival cadence, expected next arrival, overdue flag
    "arch_staleness_report" -> ((s, dir) =>
      Analytics.stalenessReport(clean(s, dir), asOf = HI)
        .orderBy("channel")),

    // the same panel through the config-governed serving stack: ONE
    // store-wide pruned read, ids mapped back to configured names —
    // must serve the direct report's bytes (shared oracle)
    "arch_fleet_staleness" -> ((s, dir) => {
      val (cfg, store, _) = chartServeFixture(s, dir)
      ConfiguredArchive.queryStaleness(s, cfg, store, asOf = HI)
        .orderBy("channel")
    }),

    // threshold-crossing report at 250: up/down counts, first/last
    // up-crossing ts, sample-and-hold time above — exact integers
    "arch_crossings" -> ((s, dir) =>
      Analytics.thresholdCrossings(clean(s, dir), LO, HI, threshold = 250.0)
        .orderBy("channel")),

    // incident triage: top-5 channels by |mean shift| between the two
    // halves of the window, exact integer-grid delta ranking
    "arch_top_movers" -> ((s, dir) =>
      Analytics.topMovers(clean(s, dir), LO, HI, k = 5)),

    // element-wise waveform statistics over the array vtypes of the
    // 21-type union: the cross-sample view the reference's opaque
    // per-sample blobs cannot offer
    "arch_waveform_stats" -> ((s, dir) =>
      Analytics.waveformStats(TypedSamples.fromEvents(s, dir))
        .orderBy("channel", "vtype", "idx")),

    // archive-viewer distribution panel: exact interpolated p50/90/99
    // per channel (percentile ≡ quantile_cont)
    "arch_value_percentiles" -> ((s, dir) =>
      Analytics.valuePercentiles(clean(s, dir)).orderBy("channel")),

    "arch_decimate_severity" -> ((s, dir) =>
      Decimation.decimateSeverity(raw(s, dir), P1H)
        .orderBy("channel", "win_start")),

    "arch_pick_first" -> ((s, dir) =>
      Decimation.pickFirst(raw(s, dir), P1H)
        .orderBy("channel", "win_start")),

    "arch_decimate_1h_onepass" -> ((s, dir) =>
      Decimation.decimateSorted(marked(s, dir), P1H)
        .select(col("channel"), col("win_start"), r6("mean"), r6("std"),
          col("min_value"), col("max_value"), r6("covered_fraction"),
          col("n_samples"))
        .orderBy("channel", "win_start")),

    "arch_decimate_typed" -> ((s, dir) =>
      Decimation.decimateTyped(
          Samples.monotonicDedup(Samples.fromEventsTyped(s, dir)), P1H)
        .select(col("channel"), col("win_start"), col("win_type"),
          r6("mean"), r6("std"), col("first_value"), r6("covered_fraction"))
        .orderBy("channel", "win_start")),

    // ---- full 21-type value union (SURVEY §1.3; A6 true dispatch) ----
    "arch_typed_roundtrip" -> ((s, dir) =>
      TypedSamples.fromEvents(s, dir)
        .select(col("channel"), col("ts"), col("vtype"), col("value"),
          col("str_value"), col("enum_value"),
          TypedSamples.strArrayToString(col("labels")).as("labels_str"),
          TypedSamples.numArrayToString(col("arr_num")).as("arr_num_str"),
          TypedSamples.strArrayToString(col("arr_str")).as("arr_str_str"),
          col("agg_mean"), col("agg_std"), col("agg_min"), col("agg_max"),
          r6("agg_cov"), col("severity"), col("status"),
          col("meta_units"), col("meta_precision"),
          col("meta_display_low"), col("meta_display_high"),
          col("meta_warn_low"), col("meta_warn_high"),
          col("meta_alarm_low"), col("meta_alarm_high"),
          col("meta_control_low"), col("meta_control_high"), col("sample_id"))
        .orderBy("channel", "sample_id")),

    "arch_decimate_typed21" -> ((s, dir) =>
      TypedDecimation.decimate(TypedSamples.fromEvents(s, dir), P1H)
        .select(col("channel"), col("win_start"), col("vtype"),
          r6("mean"), r6("std"), col("min_value"), col("max_value"),
          r6("covered_fraction"), col("max_severity"), col("status_at_max"),
          col("first_value"), col("first_str"), col("enum_value"),
          TypedSamples.strArrayToString(col("labels")).as("labels_str"),
          TypedSamples.numArrayToString(col("arr_num")).as("arr_num_str"),
          TypedSamples.strArrayToString(col("arr_str")).as("arr_str_str"),
          col("severity"), col("status"),
          col("meta_units"), col("meta_precision"),
          col("meta_display_low"), col("meta_display_high"),
          col("meta_warn_low"), col("meta_warn_high"),
          col("meta_alarm_low"), col("meta_alarm_high"),
          col("meta_control_low"), col("meta_control_high"), col("n_samples"))
        .orderBy("channel", "win_start")),

    "arch_decimate_typed21_onepass" -> ((s, dir) =>
      TypedDecimation.decimateSorted(TypedSamples.fromEvents(s, dir), P1H)
        .select(col("channel"), col("win_start"), col("vtype"),
          r6("mean"), r6("std"), col("min_value"), col("max_value"),
          r6("covered_fraction"), col("max_severity"), col("status_at_max"),
          when(!col("vtype").startsWith("aggregated_"), col("first.value"))
            .as("first_value"),
          col("first.enumValue").as("enum_value"), col("n_samples"))
        .orderBy("channel", "win_start")),

    // ST2 for the FULL 21-type union under the driver oracle: the
    // typed samples drain through the keyed-state TypedDecimatorCore
    // dispatch (file source → flatMapGroupsWithState → append sink)
    // and must hash-match the one-pass typed oracle byte for byte —
    // the 21-type dispatch cannot silently drift between the batch
    // plan and the streaming state machine without a red gate
    "stream_decimate_typed" -> ((s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      // the same TValue struct packing as TypedDecimation.decimateSorted;
      // arrival order = sample_id (the seq the F6/ST5 drop rule uses)
      val m = TypedSamples.fromEvents(s, dir)
        .select(col("channel"), col("ts"),
          struct(col("vtype"), col("value").as("value"),
            col("str_value").as("strValue"),
            col("enum_value").as("enumValue"),
            col("labels").as("labels"), col("arr_num").as("arrNum"),
            col("arr_str").as("arrStr"), col("agg_mean").as("aggMean"),
            col("agg_std").as("aggStd"), col("agg_min").as("aggMin"),
            col("agg_max").as("aggMax"), col("agg_cov").as("aggCov"),
            col("severity").as("severity"), col("status").as("status"))
            .as("v"),
          col("sample_id").as("seq"))
      val in = memoInput("stdec-in", dir)(m.write.parquet(_))
      val ds = s.readStream.schema(m.schema).parquet(in)
        .as[graft.streaming.StreamingDecimation.TypedIn]
      val sink = s"stdec_out_${streamGateSeq.incrementAndGet()}"
      val q = graft.streaming.StreamingDecimation
        .decimateTypedStream(ds, P1H)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      detachSink(s, sink)
        .select(col("channel"), col("win_start"), col("vtype"),
          r6("mean"), r6("std"), col("min_value"), col("max_value"),
          r6("covered_fraction"), col("max_severity"), col("status_at_max"),
          when(!col("vtype").startsWith("aggregated_"), col("first.value"))
            .as("first_value"),
          col("first.enumValue").as("enum_value"), col("n_samples"))
        .orderBy("channel", "win_start")
    }),

    "arch_decimate_enum" -> ((s, dir) =>
      TypedDecimation.decimate(TypedSamples.fromEvents(s, dir), P1H)
        .where(col("vtype") === "scalar_enum")
        .select(col("channel"), col("win_start"), col("vtype"),
          col("enum_value"),
          element_at(col("labels"), col("enum_value") + 1).as("label"),
          TypedSamples.strArrayToString(col("labels")).as("labels_str"),
          col("severity"), col("status"))
        .orderBy("channel", "win_start")),

    "arch_decimate_array" -> ((s, dir) =>
      TypedDecimation.decimate(TypedSamples.fromEvents(s, dir), P1H)
        .where(col("vtype").startsWith("array"))
        .select(col("channel"), col("win_start"), col("vtype"),
          TypedSamples.numArrayToString(col("arr_num")).as("arr_num_str"),
          TypedSamples.strArrayToString(col("arr_str")).as("arr_str_str"),
          col("severity"), col("status"), col("meta_units"))
        .orderBy("channel", "win_start")),

    // the JSON v1 wire format, gated byte-exact against a DuckDB
    // string-assembly oracle (the one symmetric exclusion: rows whose
    // agg_std falls in Java's sub-1e-3 scientific-notation range)
    "json_v1_typed" -> ((s, dir) =>
      // sort the narrow typed rows FIRST: serialization then runs
      // above the sort, so the ~450-byte json strings never ride the
      // range-shuffle
      JsonV1.serializeTypedFast(TypedSamples.fromEvents(s, dir)
          .where(expr(OracleSqlJson.PlainRange))
          .orderBy("channel", "sample_id"))
        .select(col("channel"), col("sample_id"), col("json"))),

    // Gated through the engine-exact merge (see reAggregateExact's
    // scaladoc): full-precision merges amplify library-level half-ULP
    // engine differences into 6dp digit flips; the exact variant's
    // integer half-up arithmetic is bit-identical on any engine.
    // DecimationSpec pins reAggregateExact ≡ reAggregate at 6dp.
    "arch_reagg_6h" -> ((s, dir) =>
      Decimation.reAggregateExact(
        Decimation.decimate(marked(s, dir), P1H), P1H, P6H)
        .orderBy("channel", "win_start")),

    // the streaming cascade hop (A2/A8 live form) under the driver
    // oracle: 1h fine windows (byte-identical to the streamed ones by
    // the stream_decimate_1h gate) drain through the engine-exact
    // keyed-state merge and must hash-match the batch reAggregateExact
    // oracle. One sentinel fine window per channel past the channel's
    // last coarse window flushes the final open state (a coarse window
    // only emits once a fine window at-or-after its end arrives);
    // sentinel states hold nothing and never emit.
    "stream_reagg_6h" -> ((s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val fine = Decimation.decimate(marked(s, dir), P1H)
        .select(col("channel"), col("win_start"), col("mean"), col("std"),
          col("min_value"), col("max_value"), col("covered_fraction"),
          col("n_samples"))
      val in = memoInput("sreagg-in", dir) { p =>
        val sentinels = fine.groupBy("channel")
          .agg(max(col("win_start")).as("w"))
          .select(col("channel"), (col("w") + lit(P6H)).as("win_start"),
            lit(null).cast("double").as("mean"),
            lit(null).cast("double").as("std"),
            lit(null).cast("double").as("min_value"),
            lit(null).cast("double").as("max_value"),
            lit(0.0).as("covered_fraction"), lit(0L).as("n_samples"))
        // ONE file → one micro-batch: the keyed merge needs per-channel
        // win_start order, which a multi-file replay can't guarantee
        fine.unionByName(sentinels).coalesce(1).write.parquet(p)
      }
      val ds = s.readStream.schema(fine.schema).parquet(in)
        .as[graft.streaming.StreamingDecimation.AggOut]
      val sink = s"sreagg_out_${streamGateSeq.incrementAndGet()}"
      val q = graft.streaming.StreamingDecimation
        .reAggregateExactStream(ds, P1H, P6H)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      detachSink(s, sink)
        .select(col("channel"), col("win_start"), col("mean"), col("std"),
          col("min_value"), col("max_value"), col("covered_fraction"),
          col("n_samples"))
        .orderBy("channel", "win_start")
    }),

    // inter-sample gap report: every gap strictly over 15 min per
    // channel — the outage view an archiver operator reads daily
    "arch_gap_report" -> ((s, dir) =>
      ArchiveReader.gapReport(clean(s, dir), 900L)
        .orderBy("channel", "gap_start")),

    // S12 under the driver oracle: the SAME config-governed serving
    // as arch_configured_serve, but the serving config log is built
    // from an XML EXPORT→IMPORT round trip of the first log's
    // post-rename state — a dropped data id, garbled enabled flag, or
    // lost level in the XML codec mislabels/refuses/misplans serving
    // and reds the hash (same oracle as arch_configured_serve)
    "arch_xml_config_serve" -> ((s, dir) => {
      val (cfg1, store, _) = configuredServeFixture(s, dir)
      val cfg2 = scratchDir("xmlcfg") + "/c2"
      val xml = graft.archive.ChannelConfigXml.exportXml("srv",
        ConfigCommands.state(s, cfg1).configs)
      val (_, imported) = graft.archive.ChannelConfigXml.importXml(xml)
      imported.foreach(c => ConfigCommands.addChannel(s, cfg2, c))
      val served = ConfigCommands.state(s, cfg2).enabledConfigs
        .map(_.name).sorted
      served.map { n =>
        ConfiguredArchive.querySamples(s, cfg2, store, n, LO, HI, None)
      }.reduce(_ unionByName _)
        .select(col("channel"), col("ts"), col("value"), col("level"))
        .orderBy("channel", "ts")
    }),

    // the cross-family archive composition flagship: per channel —
    // samples/last-seen, gaps over 15 min, worst slew rate, trailing
    // 1h |z| > 3 anomaly count (via the linear z walker)
    "arch_health_report" -> ((s, dir) =>
      ArchiveReader.healthReport(clean(s, dir), 900L, 3600L, 3.0)
        .orderBy("channel")),

    // dv/dt per sample (slew-rate analytic): exact integer ts deltas,
    // one double division, 6dp scaled round at the edge
    "arch_rate_of_change" -> ((s, dir) =>
      ArchiveReader.rateOfChange(clean(s, dir))
        .select(col("channel"), col("ts"), col("value"),
          sr6("rate_per_sec"))
        .orderBy("channel", "ts")),

    // the EIGHTH oracle-gated streaming path: live gap detection —
    // per-channel keyed state of ONE timestamp, each closing sample
    // emits its gap once, and the drained stream must serve the batch
    // lag-window bytes (same oracle as arch_gap_report)
    "stream_gap_report" -> ((s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val m = clean(s, dir).select(col("channel"), col("ts"),
        col("value"), col("sample_id").as("seq"))
      // the stream_rolling_window input is the same frame — share it
      val in = memoInput("sroll-in", dir)(m.write.parquet(_))
      val ds = s.readStream.schema(m.schema).parquet(in)
        .as[graft.streaming.StreamingDecimation.InSample]
      val sink = s"sgap_out_${streamGateSeq.incrementAndGet()}"
      val q = graft.streaming.StreamingDecimation
        .gapStream(ds, 900L * NS)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      detachSink(s, sink)
        .select(col("channel"), col("gap_start"), col("gap_end"),
          col("gap_ns"))
        .orderBy("channel", "gap_start")
    }),

    // the cross-channel streaming calc record: click − view on the 1h
    // grid, each point emitted as soon as the SLOWER source passes it
    // (per-source monotonic arrival finalizes the hold exactly then —
    // no end-of-stream sentinel); the drained stream must hash-match
    // the batch span-intersection derive (the same series the
    // config-governed calc channel archives). Every other streaming
    // core is per-channel keyed state; this is the first keyed on a
    // DERIVED identity fed by two channels.
    "stream_derived" -> ((s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val m = clean(s, dir).select(col("channel"), col("ts"),
        col("value"), col("sample_id").as("seq"))
      // same frame as stream_rolling_window / stream_gap_report
      val in = memoInput("sroll-in", dir)(m.write.parquet(_))
      val ds = s.readStream.schema(m.schema).parquet(in)
        .as[graft.streaming.StreamingDecimation.InSample]
      val sink = s"sder_out_${streamGateSeq.incrementAndGet()}"
      val q = graft.streaming.StreamingDecimation
        .derivedStream(ds, "calc:cv", "click", "view", "sub", P1H)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      detachSink(s, sink)
        .select(col("channel"), col("ts"), col("value"))
        .orderBy("ts")
    }),

    // the streaming calc record over MARKER-BEARING input: severity-3
    // rows become value-less markers that BREAK the hold — a grid
    // point held by a marker on either side is undefined and the
    // drained stream must drop exactly the points the batch null-hold
    // drops (the semantics the review fixed, now oracle-pinned)
    "stream_derived_marked" -> ((s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val m = marked(s, dir).select(col("channel"), col("ts"),
        col("value"), col("sample_id").as("seq"))
      val in = memoInput("sdermk-in", dir)(m.write.parquet(_))
      val ds = s.readStream.schema(m.schema).parquet(in)
        .as[graft.streaming.StreamingDecimation.InSample]
      val sink = s"sdermk_out_${streamGateSeq.incrementAndGet()}"
      val q = graft.streaming.StreamingDecimation
        .derivedStream(ds, "calc:cv", "click", "view", "sub", P1H)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      detachSink(s, sink)
        .select(col("channel"), col("ts"), col("value"))
        .orderBy("ts")
    }),

    // the NINTH oracle-gated streaming path: live threshold-crossing
    // alerts — per-channel keyed state of (ts, last value), each
    // rise/fall transition emitted exactly once; the drained stream
    // must serve the batch lag-window bytes
    "stream_alerts" -> ((s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val m = clean(s, dir).select(col("channel"), col("ts"),
        col("value"), col("sample_id").as("seq"))
      // same frame as stream_rolling_window / stream_gap_report
      val in = memoInput("sroll-in", dir)(m.write.parquet(_))
      val ds = s.readStream.schema(m.schema).parquet(in)
        .as[graft.streaming.StreamingDecimation.InSample]
      val sink = s"salert_out_${streamGateSeq.incrementAndGet()}"
      val q = graft.streaming.StreamingDecimation
        .alertStream(ds, 250.0)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      detachSink(s, sink)
        .select(col("channel"), col("ts"), col("value"),
          col("prev_value"), col("kind"))
        .orderBy("channel", "ts")
    }),

    // linear-interpolation resample onto the 6h grid: exact on-sample
    // hits, lerp between neighbors, NULL outside the sampled span —
    // the both-directions union-merge (no join, one shuffle)
    "arch_resample_linear" -> ((s, dir) => {
      val grid = raw(s, dir).select("channel").distinct()
        .withColumn("g", explode(sequence(lit(LO), lit(HI), lit(P6H))))
      ArchiveReader.resampleLinear(clean(s, dir), grid)
        .select(col("channel"), col("ts"), sr6("value"))
        .orderBy("channel", "ts")
    }),

    "arch_asof_lookup" -> ((s, dir) => {
      val grid = raw(s, dir).select("channel").distinct()
        .withColumn("g", explode(sequence(lit(LO), lit(HI), lit(P6H))))
      ArchiveReader.asOfLookup(clean(s, dir), grid).orderBy("channel", "g")
    }),

    // the archive⇄ML bridge: five channels sampled-and-held onto the
    // shared 1h grid and pivoted wide — one as-of union-merge + one
    // known-values pivot (a single conditional aggregation)
    "arch_aligned_matrix" -> ((s, dir) =>
      Analytics.alignedMatrix(clean(s, dir), MatrixChannels, LO, HI, P1H)
        .orderBy("ts")),

    // derived (calculated) channel — the EPICS calc-record analog:
    // click − view held onto the shared 1h grid; held values are
    // exact copies and one IEEE subtraction is bit-identical across
    // engines, so the oracle carries no rounding
    "arch_derived_channel" -> ((s, dir) =>
      Analytics.derivedChannel(clean(s, dir), "calc:click-view",
        "click", "view", _ - _, LO, HI, P1H)
        .orderBy("ts")),

    // lead/lag scan: corr(click at t, view at t + ℓ·1h) for ℓ ∈ ±6 —
    // the delay-estimation primitive; 6dp-quantized held values into
    // exact DECIMAL moment sums (correlatedChannels' convention)
    "arch_lag_correlation" -> ((s, dir) =>
      Analytics.lagCorrelation(clean(s, dir), "click", "view",
        LO, HI, P1H, maxLagSteps = 6)
        .orderBy("lag")),

    // n-ary derived channel — the aggregate-PV shape: mean of three
    // held sources on the shared grid; fixed-order IEEE reduction
    // (left-to-right adds, one division), so no rounding
    "arch_derived_nary" -> ((s, dir) =>
      Analytics.derivedChannelN(clean(s, dir), "calc:mean3",
        Seq("click", "view", "error"), "mean", LO, HI, P1H)
        .orderBy("ts")),

    // the derived series rolled into 6h epoch-aligned windows: on a
    // regular grid every held point carries equal weight, so the
    // time-weighted mean IS the arithmetic mean — DECIMAL-routed like
    // every other gated mean
    "arch_derived_rollup" -> ((s, dir) =>
      Analytics.derivedChannel(clean(s, dir), "calc:click-view",
        "click", "view", _ - _, LO, HI, P1H)
        .groupBy(col("channel"),
          (col("ts") - pmod(col("ts"), lit(P6H))).as("win_start"))
        .agg(count(lit(1)).as("n"),
          (round((sum(col("value").cast("decimal(38,12)")).cast("double") /
              count(lit(1))) * lit(1e6)).cast("long").cast("double") / lit(1e6))
            .as("mean"),
          min("value").as("v_min"),
          max("value").as("v_max"))
        .orderBy("win_start")),

    "arch_multilevel_union" -> ((s, dir) => {
      val coarse = Decimation.decimate(marked(s, dir), P1H)
        .select(col("channel"), col("win_start").as("ts"), col("mean").as("value"))
      ArchiveReader.multiLevelUnion(clean(s, dir), 0L, coarse, P1H / NS, CUT)
        .select(col("channel"), col("ts"), round(col("value"), 6).as("value"),
          col("level"))
        .orderBy("channel", "ts", "level")
    }),

    // the reference's full read-path planning (Api10Controller:382-518):
    // count-based level selection + retention fallback, end to end
    "arch_auto_resolution" -> ((s, dir) => {
      val m = marked(s, dir)
      val dfs = OracleSql.autoSegments.map { case (p, from, to) =>
        Decimation.decimate(m, p * NS)
          .where(col("win_start").between(from, to))
          .select(col("channel"), col("win_start").as("ts"),
            round(col("mean"), 6).as("value"), lit(p).as("level"))
      }
      dfs.reduce(_ unionByName _).orderBy("channel", "ts", "level")
    }),

    // the config-GOVERNED stack under the driver oracle (round-5
    // review's ask): a config log built in-gate — every channel
    // enabled on the raw level, the lexicographically FIRST channel
    // renamed after the store is built, the SECOND disabled —
    // materializes an id-keyed manifest store, then every enabled
    // channel is served through ConfiguredArchive.querySamples
    // (name→id resolution, config-declared level planning, widened
    // boundaries) under its CURRENT name. The oracle rebuilds the
    // same rename/disable table from rank-by-name and the same
    // inner+boundary union from the clean frame — so a regression in
    // name→id resolution, the disabled-drop at ingest, or the
    // boundary-widened serving plan reds a hash, not just a spec.
    // (The disabled channel's serving REFUSAL stays spec-asserted in
    // ServingSpec — an exception has no oracle row to hash.)
    "arch_configured_serve" -> ((s, dir) => {
      val (cfgDir, store, _) = configuredServeFixture(s, dir)
      val served = ConfigCommands.state(s, cfgDir).enabledConfigs
        .map(_.name).sorted
      served.map { n =>
        ConfiguredArchive.querySamples(s, cfgDir, store, n, LO, HI, None)
      }.reduce(_ unionByName _)
        .select(col("channel"), col("ts"), col("value"), col("level"))
        .orderBy("channel", "ts")
    }),

    // the chart-UI serving path: config-governed LTTB downsampling
    // straight off the manifest store's raw level — one pruned scan +
    // the bucket-parallel pick; must serve the arch_lttb bytes (store
    // round-trip lossless, planner bypassed by design)
    "arch_serve_lttb" -> ((s, dir) => {
      val (cfgDir, store, names) = chartServeFixture(s, dir)
      names.map { n =>
        ConfiguredArchive.queryLttb(s, cfgDir, store, n, LO, HI, k = 48)
      }.reduce(_ unionByName _)
        .select(col("channel"), col("bucket"), col("ts"), col("value"))
        .orderBy("channel", "bucket")
    }),

    // the dashboard's distribution panel through the config-governed
    // serving stack — must serve the arch_value_percentiles bytes
    "arch_serve_stats" -> ((s, dir) => {
      val (cfgDir, store, names) = chartServeFixture(s, dir)
      names.map { n =>
        ConfiguredArchive.queryStats(s, cfgDir, store, n,
          startNs = 0L, endNs = Long.MaxValue / 2, backend =
            graft.archive.ManifestBackend)
      }.reduce(_ unionByName _)
        .select(col("channel"), col("n_samples"), col("v_min"),
          col("p50"), col("p90"), col("p99"), col("v_max"))
        .orderBy("channel")
    }),

    // M4 through the config-governed serving stack: id-keyed store,
    // name resolution, single pruned range scan per channel — must
    // serve the arch_m4 bytes (same fixture as arch_serve_lttb: the
    // store build is setup, the measured operator is the serve)
    "arch_serve_m4" -> ((s, dir) => {
      val (cfgDir, store, names) = chartServeFixture(s, dir)
      names.map { n =>
        ConfiguredArchive.queryM4(s, cfgDir, store, n, LO, HI, k = 48)
      }.reduce(_ unionByName _)
        .select(col("channel"), col("bucket"), col("t_first"),
          col("v_first"), col("t_min"), col("v_min"), col("t_max"),
          col("v_max"), col("t_last"), col("v_last"))
        .orderBy("channel", "bucket")
    }),

    // config-governed CALCULATED channel end to end: a "calc"-typed
    // channel (click − view on the 1 h grid over the sources' span
    // intersection) is computed at materialize time and archived under
    // its own rename-stable id — then served through the SAME widened
    // plan as any stored channel; a regression in the calc options
    // parse, the span-intersection grid, the id-keyed store write, or
    // the serve reds this hash
    "arch_calc_configured" -> ((s, dir) => {
      val (cfgDir, store, _) = calcServeFixture(s, dir)
      ConfiguredArchive.querySamples(s, cfgDir, store, "calc:cv",
          LO, HI, None)
        .select(col("channel"), col("ts"), col("value"), col("level"))
        .orderBy("ts")
    }),

    // calc-channel CATCH-UP parity: build on the first slice of
    // history (ts ≤ CUT), append the remainder raw, run the config
    // catch-up — the extended calc grid must serve the EXACT bytes of
    // the all-at-once build (the arch_calc_configured oracle), so a
    // frontier bug (re-emitted point, clipped look-back, stale span)
    // reds a hash, not just a spec
    "arch_calc_catchup" -> ((s, dir) => {
      // setup = config log + first-slice materialize + raw append
      // (built once; the store copies per invocation, the immutable
      // config log is shared); the measured operator is the
      // config-driven catch-up (incl. the calc frontier extension)
      // and the widened serve
      val cfgDir = calcCuCfgMemo.computeIfAbsent(dir, _ => {
        val p = scratchDir("calccucfg") + "/config"
        val names = raw(s, dir).select("channel").distinct()
          .orderBy("channel").collect().map(_.getString(0)).toSeq
        names.foreach { n =>
          ConfigCommands.addChannel(s, p, ChannelConfig(n, s"id-$n",
            "ca", enabled = true, Map(), Map(0L -> 0L)))
        }
        ConfigCommands.addChannel(s, p, ChannelConfig("calc:cv",
          "id-calc-cv", "calc", enabled = true,
          Map("calc.a" -> "click", "calc.b" -> "view", "calc.op" -> "sub",
            "calc.step_s" -> "3600"), Map(0L -> 0L)))
        p
      })
      val store = mutableStoreFixture("calccu", dir) { p =>
        val m = clean(s, dir)
        ConfiguredArchive.materialize(s, cfgDir, p,
          m.where(col("ts") <= lit(CUT)))
        ConfiguredArchive.ingestRaw(s, cfgDir, p,
          m.where(col("ts") > lit(CUT)))
      }
      ConfiguredArchive.catchUp(s, cfgDir, store)
      ConfiguredArchive.querySamples(s, cfgDir, store, "calc:cv",
          LO, HI, None)
        .select(col("channel"), col("ts"), col("value"), col("level"))
        .orderBy("ts")
    }),

    // disabled-channel serving end to end (round-9): every channel
    // archived while enabled, then the lexicographically SECOND
    // channel decommissioned — the serving stack still answers for it
    // (Api10Controller.java:235-279 never consults the enabled flag;
    // disabling stops archiving, not retrieval), so ALL channels serve
    // their full widened-boundary history and the oracle carries no
    // enabled filter at all
    "arch_disabled_serve" -> ((s, dir) => {
      val (cfgDir, store, names) = disabledServeFixture(s, dir)
      names.map { n =>
        ConfiguredArchive.querySamples(s, cfgDir, store, n, LO, HI, None)
      }.reduce(_ unionByName _)
        .select(col("channel"), col("ts"), col("value"), col("level"))
        .orderBy("channel", "ts")
    }),

    // per-request limit modes END TO END (ArchiveAccessService.java:
    // 55-135 exposes a TimeStampLimitMode per bound on every request):
    // the same config-governed stack served with an EXPLICIT
    // non-default pair — Exact lower bound, AT_OR_AFTER upper — which
    // is neither the all-widened count-empty default nor the all-exact
    // count path, so a serving edge that ignores the per-request modes
    // reds this hash
    "arch_serve_limit_modes" -> ((s, dir) => {
      // the chart fixture IS this gate's store (all channels enabled,
      // raw level, id-keyed) — the measured operator is the
      // explicit-mode serve
      val (cfgDir, store, names) = chartServeFixture(s, dir)
      names.map { n =>
        ConfiguredArchive.querySamples(s, cfgDir, store, n, LO, HI, None,
          loMode = Some(ArchiveReader.Exact),
          hiMode = Some(ArchiveReader.AtOrWidened))
      }.reduce(_ unionByName _)
        .select(col("channel"), col("ts"), col("value"), col("level"))
        .orderBy("channel", "ts")
    }),

    // the reference controller's COUNT path verbatim at the serving
    // edge (Api10Controller sendSamples :388-462): count drives level
    // selection AND both bounds stay widened AT_OR_BEFORE/AT_OR_AFTER.
    // count=240 over the 10-day range makes the perfect period exactly
    // 3600 s, so the planner must pick the 1 h level and serve its
    // widened window set — strict-inner windows plus the at-or-before-
    // LO and at-or-after-HI DECIMATED boundary rows. A serving edge
    // that forgets widening on the decimated path (the historical
    // default widened only when count was empty) reds this hash.
    "arch_serve_decimated_widened" -> ((s, dir) => {
      val (cfgDir, store, names) = decimatedServeFixture(s, dir)
      names.map { n =>
        ConfiguredArchive.querySamples(s, cfgDir, store, n, LO, HI,
          Some(240L),
          loMode = Some(ArchiveReader.AtOrWidened),
          hiMode = Some(ArchiveReader.AtOrWidened))
      }.reduce(_ unionByName _)
        .select(col("channel"), col("ts"),
          round(col("value"), 6).as("value"), col("level"))
        .orderBy("channel", "ts")
    }),

    // incremental catch-up under the oracle: build the 1h level on the
    // first slice of history (ts ≤ CUT), append the remainder raw, run
    // the frontier-resumed catch-up — the extended level must serve
    // the EXACT bytes of decimating the whole corpus in one pass (the
    // arch_decimate_1h oracle). CascadeSpec pins incremental ≡
    // from-scratch at 1e-9; this gate pins it hash-exact against
    // DuckDB, so a frontier-resume bug (clipped look-back, re-emitted
    // held window, dropped boundary window) reds a hash
    "arch_incremental_catchup" -> ((s, dir) => {
      // the pre-catch-up state (first-slice build + raw append) is
      // setup — built once, copied per invocation; the measured
      // operator is the frontier-resumed catch-up + the read
      val store = mutableStoreFixture("inccat", dir) { p =>
        val m = marked(s, dir)
        graft.archive.Cascade.materialize(s, p,
          m.where(col("ts") <= lit(CUT)), Seq(3600L),
          graft.archive.ManifestBackend)
        graft.archive.ManifestBackend.write(
          m.where(col("ts") > lit(CUT)), p, 0L)
      }
      graft.archive.Cascade.catchUp(s, store, 3600L,
        graft.archive.ManifestBackend)
      ManifestStore.read(s, store, 3600L)
        .select(col("channel"), col("ts").as("win_start"), r6("mean"),
          r6("std"), col("min_value"), col("max_value"),
          r6("covered_fraction"), col("n_samples"))
        .orderBy("channel", "win_start")
    }),

    // BACKFILL repair — catch-up's missing half: a two-day slice of
    // history lands BEHIND every channel's frontier (the EPICS
    // migration shape), so frontier-resumed catch-up would never see
    // it; repairRange recomputes exactly the affected 1h windows and
    // swaps them atomically. The repaired store must serve the SAME
    // bytes as a from-scratch decimation of the complete history —
    // the incremental-catchup oracle, shared.
    "arch_backfill_repair" -> ((s, dir) => {
      val gapLo = CUT - 3L * 86400L * NS
      val gapHi = CUT - 1L * 86400L * NS
      val store = mutableStoreFixture("backfill", dir) { p =>
        val m = marked(s, dir)
        graft.archive.Cascade.materialize(s, p,
          m.where(col("ts") <= lit(gapLo) || col("ts") > lit(gapHi)),
          Seq(3600L), graft.archive.ManifestBackend)
        graft.archive.ManifestBackend.write(
          m.where(col("ts") > lit(gapLo) && col("ts") <= lit(gapHi)),
          p, 0L)
      }
      graft.archive.Cascade.repairRange(s, store, 3600L, gapLo + 1, gapHi)
      ManifestStore.read(s, store, 3600L)
        .select(col("channel"), col("ts").as("win_start"), r6("mean"),
          r6("std"), col("min_value"), col("max_value"),
          r6("covered_fraction"), col("n_samples"))
        .orderBy("channel", "win_start")
    }),

    "arch_retention" -> ((s, dir) =>
      ArchiveReader.retain(clean(s, dir), RET7D)
        .groupBy("channel")
        .agg(count(lit(1)).as("n_kept"), min(col("ts")).as("first_ts"),
          max(col("ts")).as("last_ts"))
        .orderBy("channel")),

    // ---- channel registry (S7/F3/F4/O4) ----
    "chan_registry" -> ((s, dir) => ChannelRegistry.registry(raw(s, dir))),

    "chan_glob" -> ((s, dir) => ChannelRegistry.channelsByGlob(raw(s, dir), "*u*")),

    "chan_regex" -> ((s, dir) =>
      ChannelRegistry.channelsByRegex(raw(s, dir), "click|view")),

    "chan_config_map" -> ((s, dir) =>
      ChannelRegistry.configMap(raw(s, dir))
        .select(col("channel"),
          element_at(col("options"), "unit").as("unit"),
          element_at(col("options"), "rate").as("rate"),
          size(col("options")).as("n_options"),
          array_join(map_keys(col("options")), ",").as("option_keys"),
          element_at(col("retention_sec"), 3600).as("retention_1h"))
        .orderBy("channel")),

    // ---- corpus pipeline: dedup / text / similarity / multimodal ----
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir)).orderBy("text_hash")),

    // the curation dashboard's first panel: per-source duplication —
    // totals, corpus-wide copies, keep-smallest-id removals, 6dp rate
    "dedup_rate_by_source" -> ((s, dir) =>
      Dedup.rateBySource(Tables.documents(s, dir)).orderBy("source")),

    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minHashCandidates(Tables.documents(s, dir))
        .select(col("doc_a"), col("doc_b"), r6("est_jaccard"))
        .orderBy("doc_a", "doc_b")),

    // the banding join's quadratic-explosion guard (capBandSize): a
    // (band, key) bucket over the cap is dropped whole BEFORE the
    // self-join — the oracle rebuilds the same bucket-size filter, so
    // the guard's exact semantics (which pairs survive) are hashed,
    // not just its existence. Cap 4 is deliberately small enough to
    // trip on this corpus's near-dup families.
    "dedup_minhash_lsh_capped" -> ((s, dir) =>
      Dedup.minHashCandidates(Tables.documents(s, dir),
          maxBandSize = Some(4))
        .select(col("doc_a"), col("doc_b"), r6("est_jaccard"))
        .orderBy("doc_a", "doc_b")),

    // the production composition: LSH candidates → exact verification,
    // one shared shingle computation
    "dedup_minhash_verified" -> ((s, dir) =>
      Dedup.nearDupPairs(Tables.documents(s, dir))
        .select(col("doc_a"), col("doc_b"), r6("jaccard"))
        .orderBy("doc_a", "doc_b")),

    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simHashCandidates(Tables.documents(s, dir), maxHamming = 3)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("doc_a", "doc_b")),

    // incremental ingest-batch dedup: new docs (doc_id % 4 == 0) against
    // the persisted band index of the already-ingested corpus
    "dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val index = Dedup.minHashIndex(docs.where(col("doc_id") % 4 =!= 0))
      Dedup.incrementalCandidates(index, docs.where(col("doc_id") % 4 === 0))
        .select(col("doc_a"), col("doc_b"), r6("est_jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // bloom-prefiltered incremental EXACT dedup: the corpus has no
    // full-text duplicates, so the batch perturbs half its texts to a
    // deterministic unseen variant — the gate exercises both branches
    // (bloom miss → definitively new, bloom hit → exact-confirmed
    // duplicate) and the oracle is the plain anti-join semantics.
    "dedup_bloom_new" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = docs.where(col("doc_id") % 4 === 0)
        .withColumn("text",
          when(col("doc_id") % 8 === 0, concat(col("text"), lit(" graftnew")))
            .otherwise(col("text")))
      Dedup.bloomNewDocs(docs, batch)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // pairwise near-dups → duplicate clusters (connected components by
    // hash-min label propagation) + canonical representative per cluster
    "dedup_clusters" -> ((s, dir) =>
      Dedup.duplicateClusters(Dedup.nearDupPairs(Tables.documents(s, dir)))
        .orderBy("doc_id")),

    // daily-ingest cluster MAINTENANCE: the full corpus's clusters
    // rebuilt without re-banding the old corpus — yesterday's verified
    // pairs (persisted) ∪ today's batch banded against the persisted
    // index (incrementalCandidates), exact-verified, re-clustered.
    // Candidate algebra: band-sharing pairs partition into old-vs-old
    // and pairs-involving-new, so the union feeds the identical graph
    // and the gate shares the from-scratch dedup_clusters oracle.
    "dedup_clusters_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val fresh = docs.where(col("doc_id") % 4 === 0)
      // the day-N state an incremental maintainer starts FROM (the old
      // corpus's pairs and its persisted MinHash index) is setup, not
      // the measured operator — materialized once per (JVM, sfDir) in
      // Bench's warm-up ([[primeBenchFixtures]]) and CACHED here so
      // the CC loop's repeated passes and the second timed run hit
      // memory instead of re-reading the memo parquet (the r11 bench's
      // 3.6× banding was allocation noise on exactly these re-reads);
      // the measured work is the incremental path itself: banding the
      // fresh docs against the index, Jaccard verification, and the
      // re-cluster
      val oldPairs = s.read.parquet(incdupPairsPath(s, dir)).cache()
      val oldIndex = s.read.parquet(incdupIndexPath(s, dir)).cache()
      // counted verification (r13): the persisted index carries each
      // doc's shingle count, so verification shingles only the docs in
      // a candidate pair for the INTERSECTION — no per-doc counts
      // re-aggregation; value-identical to verifyCandidates under the
      // positive jaccard threshold (see verifyCandidatesCounted doc)
      val newPairs = Dedup
        .verifyCandidatesCounted(docs,
          Dedup.incrementalCandidates(oldIndex, fresh))
        .where(col("jaccard") >= Dedup.DefaultMinJaccard).select("doc_a", "doc_b")
      Dedup.duplicateClusters(oldPairs.unionByName(newPairs))
        .orderBy("doc_id")
    }),

    // per-language data-card statistics with exact percentiles (already
    // 6dp-rounded engine-deterministically inside corpusStats)
    "corpus_stats" -> ((s, dir) =>
      TextAnalysis.corpusStats(Tables.documents(s, dir))
        .orderBy("lang")),

    // JSONL interchange: the corpus written as newline-delimited JSON
    // (the training-data exchange format) and read back with the
    // declared schema must reproduce every byte — gates Spark's JSON
    // sink+source escaping/typing round-trip against the parquet
    // original
    "doc_jsonl_roundtrip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val out = scratchDir("jsonl") + "/docs"
      docs.write.json(out)
      s.read.schema(docs.schema).json(out)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy("doc_id")
    }),

    // PII scrubbing, gated on synthesized-but-deterministic PII: both
    // engines build the same salted text, redact, and hash the result
    "text_redact_pii" -> ((s, dir) => {
      val salted = Tables.documents(s, dir).withColumn("text",
        concat(col("text"),
          lit(" contact u"), col("doc_id").cast("string"),
          lit("@example.com at 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".7 or 555-867-"),
          format_string("%04d", col("doc_id") % 10000)))
      TextAnalysis.redactPii(salted)
        .select(col("doc_id"), col("email_count"), col("ip_count"),
          col("phone_count"), md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // temperature mixing (tau = 0.5): sqrt-weighted per-language
    // quotas, exact-count deterministic selection
    "sample_mixture" -> ((s, dir) =>
      Sampling.temperatureMix(Tables.documents(s, dir), nTarget = 300)
        .orderBy("doc_id")),

    // BPE tokenizer-training pair statistics: top adjacent char pairs
    "text_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, dir), topK = 30)),

    // one BPE training round applied: merge the corpus's top pair
    // everywhere, report per-doc symbol compression
    "text_bpe_merged" -> ((s, dir) =>
      TextAnalysis.bpeApplyTopMerge(Tables.documents(s, dir))
        .orderBy("doc_id")),

    // unigram corpus-frequency scoring (LM-filter plumbing): small
    // vocabSize so the OOV fraction is non-trivial on the test corpus
    "text_unigram_score" -> ((s, dir) =>
      TextAnalysis.unigramScore(Tables.documents(s, dir), vocabSize = 20)
        .orderBy("doc_id")),

    // hashed-bigram linear classifier (fastText shape) with the
    // deterministic stand-in weight table
    "text_quality_classifier" -> ((s, dir) =>
      TextAnalysis.hashedLinearScore(Tables.documents(s, dir))
        .orderBy("doc_id")),

    // the TRAINED path end to end: one aggregation fits the hashed
    // weight table from deterministic ±1 language labels, the scorer
    // broadcasts it — the production train→score composition under
    // the same rows/schema/hash gate as the stand-in path
    "text_classifier_trained" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val w = TextAnalysis.trainHashedWeights(docs,
        when(col("lang") === "en", 1.0).otherwise(-1.0))
      TextAnalysis.hashedLinearScore(docs, Some(w)).orderBy("doc_id")
    }),

    // count-min-sketch heavy hitters: the depth×width mergeable
    // sketch built in one scan, then queried for the corpus' top-25
    // tokens — width (512) is deliberately smaller than the vocabulary
    // so the gate hashes real collision overestimates, not a
    // degenerate exact count
    "text_heavy_hitters" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sketch = TextAnalysis.countMinSketch(docs)
      val cands = docs
        .select(explode(graft.pipeline.Dedup.tokens("text")).as("tok"))
        .distinct()
      TextAnalysis.cmsHeavyHitters(cands, sketch)
    }),

    // the SEVENTH oracle-gated streaming path: CMS sketch maintenance
    // over a document stream (Complete-mode aggregation — correct
    // here BECAUSE the state is the ≤ depth·width counter table, KBs
    // by construction), drained and point-queried exactly like the
    // batch sketch; counter addition is the cmsMerge law, so the
    // streamed sketch serves the whole-corpus heavy hitters
    "stream_heavy_hitters" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val in = memoInput("shh-in", dir)(docs.write.parquet(_))
      val stream = s.readStream.schema(docs.schema).parquet(in)
      val sink = s"shh_out_${streamGateSeq.incrementAndGet()}"
      val q = TextAnalysis.countMinSketchStream(stream)
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      val sketch = detachSink(s, sink)
      val cands = Tables.documents(s, dir)
        .select(explode(graft.pipeline.Dedup.tokens("text")).as("tok"))
        .distinct()
      TextAnalysis.cmsHeavyHitters(cands, sketch)
    }),

    // the 100 TB CMS story under the oracle: one sketch per corpus
    // SHARD (disjoint doc_id halves), cmsMerge folds them, and the
    // merged sketch must serve the WHOLE-corpus heavy hitters byte for
    // byte — counter-wise addition is exact, so shard-and-fold is not
    // an approximation of the single-pass sketch, it IS the sketch
    "text_heavy_hitters_merged" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val skA = TextAnalysis.countMinSketch(docs.where(col("doc_id") % 2 === 0))
      val skB = TextAnalysis.countMinSketch(docs.where(col("doc_id") % 2 =!= 0))
      val cands = docs
        .select(explode(graft.pipeline.Dedup.tokens("text")).as("tok"))
        .distinct()
      TextAnalysis.cmsHeavyHitters(cands, TextAnalysis.cmsMerge(skA, skB))
    }),

    // PMI collocation mining: adjacent-pair pointwise mutual
    // information over vocabulary-bounded count tables
    "text_collocations" -> ((s, dir) =>
      TextAnalysis.collocations(Tables.documents(s, dir))),

    // per-doc top-5 keywords by smoothed TF-IDF (score 6dp-rounded
    // BEFORE ranking so engine half-ULPs cannot flip a rank)
    "text_tfidf_topk" -> ((s, dir) =>
      Retrieval.tfidfTopK(Tables.documents(s, dir))
        .orderBy("doc_id", "rank")),

    // context-window preparation: 64-token chunks at stride 48
    // (overlapping windows); a pure per-row explode+slice, no shuffle
    "doc_chunks" -> ((s, dir) =>
      TextAnalysis.chunkDocs(Tables.documents(s, dir), 64, 48)
        .orderBy("doc_id", "chunk_id")),

    // the same chunker run as a Structured Streaming transform
    // (stateless per-row ops stream unchanged) and drained against
    // the batch oracle
    "stream_chunks" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
      val in = memoInput("chunk-in", dir)(docs.write.parquet(_))
      val stream = s.readStream.schema(docs.schema).parquet(in)
      val sink = s"chunk_out_${streamGateSeq.incrementAndGet()}"
      val q = TextAnalysis.chunkDocs(stream, 64, 48)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      detachSink(s, sink)
        .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
          col("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    }),

    // tokenizer-for-training step 1: frequency-ranked vocabulary,
    // ids dense from 0 by (count desc, token asc)
    "text_vocab_ids" -> ((s, dir) =>
      TextAnalysis.vocabulary(Tables.documents(s, dir), 1000)
        .orderBy("token_id")),

    // tokenizer-for-training step 2: corpus encoded as id sequences
    // against a deliberately-small top-20 vocabulary so the OOV (−1)
    // path is exercised, not just declared
    "text_encode_ids" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.encodeIds(docs, TextAnalysis.vocabulary(docs, 20))
        .orderBy("doc_id", "pos")
    }),

    // retrieval-side inverted index: sorted posting lists per token
    // within a df band (serialized `,`-joined — the cross-engine
    // array contract)
    "text_inverted_index" -> ((s, dir) =>
      Retrieval.invertedIndex(Tables.documents(s, dir),
          minDf = 2L, maxDf = 1000000L)
        .orderBy("token")),

    // HLL vocabulary sketch under the oracle: the per-lang vocab at
    // this SF (31 tokens) is deep inside the sketch's coupon-collecting
    // regime, where the HLL estimate IS the exact distinct count — so
    // the whole-corpus sketch AND the three-shard merge
    // (vocabSketchMerge = hll_union_agg) must both serve the exact
    // per-lang COUNT(DISTINCT token). The shard ≡ whole identity is the
    // 100 TB contract: per-shard 4 KB sketches fold to the corpus
    // answer without shuffling the token universe.
    "text_vocab_sketch" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val whole = TextAnalysis.vocabEstimate(TextAnalysis.vocabSketch(docs))
      val shards = (0 to 2).map(i =>
        TextAnalysis.vocabSketch(docs.where(col("doc_id") % 3 === i)))
      val merged = TextAnalysis.vocabEstimate(
          TextAnalysis.vocabSketchMerge(shards: _*))
        .withColumnRenamed("est_distinct", "est_distinct_merged")
      whole.join(merged, Seq("lang"))
        .select(col("lang"), col("est_distinct"),
          col("est_distinct_merged"))
        .orderBy("lang")
    }),

    // THIRD composition flagship, from the round-5 third/fourth-batch
    // ops: discover stopwords from the count-min sketch → per-doc
    // stopword-density band filter (too few function words = listy
    // garbage, too many = empty prose) → annotate survivors with
    // their top TF-IDF keyword → growth-stable hash split. Every
    // stage is itself oracle-gated standalone.
    // curriculum-packed shards flagship: quality filter → GLOBAL
    // easy-to-hard position (distributed ordinal, extra cols riding
    // the same shuffle) → prefix-sum shard assignment in curriculum
    // order — the full "what do I actually feed the trainer" answer
    // in one composed, oracle-gated plan
    // the fifth curation flagship — raw docs → TRAINER INPUT in one
    // composed plan: length-floor filter (the Gopher word-count rule,
    // the one battery rule this corpus discriminates on) →
    // exact-dedup keepers among the survivors (keeper = min doc_id
    // within the filtered set) → token-level fixed-length sequence
    // packing (vocab from the survivors, EOS per doc, 64-id rows).
    // The whole arc every training run performs, oracle-gated end to
    // end.
    "pipeline_curate5" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // r12 plan-shape rework, same result set (oracle unchanged):
      // gopherRules is a shuffle-free per-row projection and doc_id is
      // unique, so the old docs ⋈ gopherRules(docs)[ok_words=1] self-
      // join selected exactly docs.where(50 ≤ n_tokens ≤ 100000) — at
      // the price of tokenizing the corpus twice plus a join exchange.
      // Likewise kept ⋈ Dedup.exact(kept)[keeper_id] keeps precisely
      // the min-doc_id row of each md5(text) group — an in-place
      // window min (the pipeline_curate keeper rule), not a groupBy +
      // re-join that evaluates the kept branch twice.
      val nToks = size(Dedup.tokens("text")).cast("long")
      val kept = docs.where(nToks >= 50L && nToks <= 100000L)
      val keeper = min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))))
      val survivors = kept.withColumn("_keeper", keeper)
        .where(col("doc_id") === col("_keeper")).drop("_keeper")
      Sampling.packSequences(survivors, vocabSize = 20, seqLen = 64L)
        .orderBy("seq_id")
    }),

    "pipeline_curate4" -> ((s, dir) => {
      val q = TextAnalysis.quality(Tables.documents(s, dir))
        .where(col("quality_score") >= 0.5)
        .select(col("doc_id"), col("quality_score"),
          col("n_tokens").cast("long").as("n_tokens"))
      val ordered = Sampling.globalOrdinal(q)
      Sampling.packByOrder(ordered, "position", "n_tokens",
          budgetTokens = 2048L)
        .select(col("doc_id"), col("quality_score"), col("position"),
          col("n_tokens"), col("shard"))
        .orderBy("position")
    }),

    "pipeline_curate3" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val stop = discoveredStopwords(s, dir)
      val sd = TextAnalysis.stopwordDensity(docs, stop)
        .where(col("stop_frac").between(0.05, 0.95))
        .select(col("doc_id"), col("stop_frac"))
      val kw = Retrieval.tfidfTopK(docs, k = 1)
        .select(col("doc_id"), col("tok").as("top_keyword"),
          col("score").as("kw_score"))
      // split is a pure per-row hash of doc_id and every sd⋈kw doc_id
      // exists in docs, so the old third join (against
      // hashSplit(docs)[doc_id, split]) attached a column the row
      // itself determines while paying an extra corpus scan + join
      // exchange. Project it in place; result set unchanged.
      Sampling.hashSplit(sd.join(kw, Seq("doc_id")),
          Seq(("train", 0.8), ("val", 0.9), ("test", 1.0)))
        .orderBy("doc_id")
    }),

    // sketch-composition flagship: DISCOVER the corpus' stopwords from
    // the count-min sketch (top-25 heavy hitters — no hand-curated
    // list), collect the k-sized list, score every doc's stopword
    // density in one shuffle-free codegen'd scan
    "text_stop_density" -> ((s, dir) =>
      TextAnalysis.stopwordDensity(Tables.documents(s, dir),
        discoveredStopwords(s, dir)).orderBy("doc_id")),

    // multi-round BPE vocabulary training: the full merge loop, with
    // exact leftmost-greedy application each round (double-space trick).
    // Served from the shared memo (one training run feeds this gate and
    // the tokenizer gate).
    "text_bpe_vocab" -> ((s, dir) => {
      import s.implicits._
      trainedBpe(s, dir)
        .toDF("round", "lhs", "rhs", "pair", "n_occurrences")
        .orderBy("round")
    }),

    // stupid-backoff bigram LM: the (doc_id % 11 = 0) slice scored
    // against counts from the rest — unseen bigrams exercise backoff
    "text_bigram_score" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextAnalysis.bigramScore(
        d.where(col("doc_id") % 11 === 0),
        d.where(col("doc_id") % 11 =!= 0))
        .orderBy("doc_id")
    }),

    // tokenizer APPLY: replay the learned merge list corpus-wide as
    // one chained-replace scan; per-doc subword compression stats.
    // The merge list comes from the shared training memo, so this gate
    // measures the apply scan — the operation a 100 TB corpus actually
    // repeats (train once, tokenize everywhere).
    "text_bpe_tokenize" -> ((s, dir) =>
      TextAnalysis.bpeTokenize(Tables.documents(s, dir),
          trainedBpe(s, dir).map(t => (t._2, t._3)))
        .orderBy("doc_id")),

    // BM25 retrieval over the corpus: targeted search / contamination
    // audit shape, decimal-routed scoring, distributed top-k
    "text_bm25_topk" -> ((s, dir) =>
      Retrieval.bm25TopK(Tables.documents(s, dir),
        query = Retrieval.GateQuery, k = 25)),

    // hybrid retrieval: BM25 top-50 ∪ cosine top-50 (probe vec 0)
    // fused by reciprocal rank — lexical AND paraphrase match in one
    // deterministic ranked list
    "text_hybrid_rrf" -> ((s, dir) =>
      Retrieval.hybridRrf(Tables.documents(s, dir),
          Tables.embeddings(s, dir), query = Retrieval.GateQuery,
          probeVecId = 0L, n = 50, k = 10)
        .orderBy("rank")),

    // the same fusion with the 100 TB semantic generator swapped in:
    // IVF candidates (seed quantizer, nProbe=2) instead of the brute
    // scan — the rank-only fusion contract makes this a one-line swap
    "text_hybrid_rrf_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Retrieval.hybridRrfWith(Tables.documents(s, dir),
          query = Retrieval.GateQuery,
          sem = Similarity.ivfSearch(e, e.where(col("vec_id") === 0L),
              topK = 50, k = 8, nProbe = 2)
            .select(col("vec_id").as("doc_id"), col("rank").as("sem_rank")),
          n = 50, k = 10)
        .orderBy("rank")
    }),

    // global curriculum position (easy-to-hard by quality score)
    // via the range-partition + cumulative-offset recipe — a global
    // ordinal with NO single-partition sort
    "sample_curriculum" -> ((s, dir) =>
      Sampling.curriculumOrder(Tables.documents(s, dir))
        .orderBy("doc_id")),

    // per-language length quantiles + above-median counts: the
    // distribution profile per-language threshold policies read
    "text_length_quantiles" -> ((s, dir) =>
      TextAnalysis.lengthQuantiles(Tables.documents(s, dir))
        .orderBy("lang")),

    // DSIR importance weighting: raw corpus scored against the
    // (doc_id % 11 = 0) target slice — same slice convention as
    // decontamination
    "sample_dsir_weights" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Sampling.dsirWeights(
        docs.where(col("doc_id") % 11 =!= 0),
        docs.where(col("doc_id") % 11 === 0))
        .drop("logw_exact")
        .orderBy("doc_id")
    }),

    // DSIR selection: Gumbel-top-k over the importance weights =
    // deterministic sampling-without-replacement ∝ exp(logw)
    "sample_dsir_select" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Sampling.dsirResample(
        docs.where(col("doc_id") % 11 =!= 0),
        docs.where(col("doc_id") % 11 === 0), n = 60)
        .orderBy("doc_id")
    }),

    // C4-style repeated-segment removal: k-token windows, keep the
    // globally-first occurrence of any repeated segment
    "dedup_segments" -> ((s, dir) =>
      Dedup.segmentDedup(Tables.documents(s, dir), k = 8, minOcc = 2)
        .orderBy("doc_id")),

    // MOSS winnowing: sparse fingerprint index with a detection floor
    // (any shared run of k+w-1 tokens yields a shared fingerprint)
    "dedup_winnow" -> ((s, dir) =>
      Dedup.winnowFingerprints(Tables.documents(s, dir))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fingerprints"), min(col("fp")).as("min_fp"))
        .orderBy("doc_id")),

    // plagiarism-style overlap: pairs sharing >= 2 winnow fingerprints
    "dedup_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowOverlapPairs(
        Dedup.winnowFingerprints(Tables.documents(s, dir)), minShared = 2)
        .orderBy("doc_a", "doc_b")),

    // GPT-3-style benchmark decontamination: training docs sharing any
    // 5-gram with the (deterministic) eval subset
    "dedup_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminate(
        docs.where(col("doc_id") % 11 =!= 0),
        docs.where(col("doc_id") % 11 === 0), k = 3)
        .orderBy("doc_id")
    }),

    // the eval-side accounting of the same overlap: per benchmark doc,
    // how much of it leaks into the training corpus
    "dedup_contamination_report" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminationReport(
        docs.where(col("doc_id") % 11 =!= 0),
        docs.where(col("doc_id") % 11 === 0), k = 3)
        .orderBy("eval_doc_id")
    }),

    // near-dup clusters assigned to train/val/test atomically — no
    // near-duplicate pair may straddle the train/eval boundary
    "sample_split_safe" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // the near-dup pair list is the splitter's INPUT contract (any
      // upstream dedup produces it — its cost is gated by
      // dedup_minhash_verified); materialize once per (JVM, sfDir) so
      // this gate measures the leakage-safe split itself
      val pairs = s.read.parquet(memoInput("splitsafe-pairs", dir)(p =>
        Dedup.nearDupPairs(docs).select("doc_a", "doc_b")
          .write.parquet(p)))
      Sampling.leakageSafeSplit(docs, pairs,
          Seq(("train", 0.8), ("val", 0.9), ("test", 1.0)))
        .select(col("doc_id"), col("split")).orderBy("doc_id")
    }),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(Tables.documents(s, dir), k = 3, minJaccard = Dedup.DefaultMinJaccard)
        .select(col("doc_a"), col("doc_b"), r6("jaccard"))
        .orderBy("doc_a", "doc_b")),

    // exact duplicated-span extraction (Lee et al. 2021 ExactSubstr
    // granularity): maximal runs of corpus-duplicated 5-token windows
    "dedup_dup_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(Tables.documents(s, dir), k = 5)
        .orderBy("doc_id", "span_start")),

    // the removal step: first occurrence kept, covered tokens cut,
    // cleaned text rebuilt
    "dedup_span_apply" -> ((s, dir) =>
      Dedup.spanDedupedCorpus(Tables.documents(s, dir), k = 5)
        .orderBy("doc_id")),

    // deterministic corpus sampling / splitting / packing — hash-gated,
    // reproducible, oracle-exact (no rand() anywhere)
    "sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(Tables.documents(s, dir),
          Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2), defaultRate = 0.1)
        .select(col("doc_id"), col("lang")).orderBy("doc_id")),

    "sample_topn" -> ((s, dir) =>
      Sampling.topNPerStratum(Tables.documents(s, dir), n = 40)
        .select(col("doc_id"), col("lang")).orderBy("doc_id")),

    // deterministic source interleaving: a global training order that
    // round-robins across sources (hash-shuffled within each source)
    "sample_interleave" -> ((s, dir) =>
      Sampling.interleave(Tables.documents(s, dir))
        .select(col("doc_id"), col("source"), col("rank_in_source"),
          col("train_ord"))
        .orderBy("train_ord")),

    // fixed-length training-sequence packing: global token stream in
    // doc_id order (EOS −2 between docs), cut every 64 ids — the
    // prefix-sum offset kernel at TOKEN granularity
    "pack_sequences" -> ((s, dir) =>
      Sampling.packSequences(Tables.documents(s, dir),
          vocabSize = 20, seqLen = 64L)
        .orderBy("seq_id")),

    // sequential shard packing: distributed global prefix sum of
    // token counts in the interleaved training order, shard =
    // tokens-before div budget
    "pack_sequential" -> ((s, dir) =>
      Sampling.packSequential(Tables.documents(s, dir),
          budgetTokens = 512L)
        .orderBy("train_ord")),

    // CCNet-style perplexity-bucketed sampling: 4 quantile buckets of
    // the unigram-LM score, tail kept at 10% up to head at 90%
    "sample_quality_bucket" -> ((s, dir) =>
      Sampling.qualityBucketSample(Tables.documents(s, dir),
          rates = Seq(0.1, 0.3, 0.6, 0.9), vocabSize = 20)
        .orderBy("doc_id")),

    "sample_split" -> ((s, dir) =>
      Sampling.hashSplit(Tables.documents(s, dir),
          Seq(("train", 0.8), ("val", 0.9), ("test", 1.0)))
        .select(col("doc_id"), col("split")).orderBy("doc_id")),

    "pack_greedy" -> ((s, dir) =>
      Sampling.packGreedy(Tables.documents(s, dir), budgetTokens = 512L)
        .select(col("doc_id"), col("lang"), col("shard"),
          col("n_tokens"), col("bin"))
        .orderBy("doc_id")),

    // canonical cleaning scan with a REAL Unicode workload: every doc
    // gets a decomposed-e-acute + ANGSTROM-SIGN + double-space tail
    // appended, so the gate exercises composition, singleton mapping,
    // case folding, and whitespace collapse — not the ASCII no-op path
    "text_normalize" -> ((s, dir) =>
      TextAnalysis.normalizeText(
          Tables.documents(s, dir).withColumn("text",
            concat(col("text"), lit("  Cafe\u0301  \u212B end"))))
        .select(col("doc_id"), col("n_chars_raw"), col("text_norm"),
          col("n_chars_norm"))
        .orderBy("doc_id")),

    "text_langid" -> ((s, dir) =>
      TextAnalysis.languageId(Tables.documents(s, dir)).orderBy("doc_id")),

    // the classifier-quality report: (actual, detected) counts + the
    // 6dp per-actual share — publish before routing a corpus on langid
    "text_langid_confusion" -> ((s, dir) =>
      TextAnalysis.langIdConfusion(Tables.documents(s, dir))
        .orderBy("lang_actual", "lang_detected")),

    "text_quality" -> ((s, dir) =>
      TextAnalysis.quality(Tables.documents(s, dir)).orderBy("doc_id")),

    // the C4 cleaning battery (Raffel et al. 2020 §2.2): line
    // retention, sentence count, page flags, composite keep — all
    // exact integer/boolean rules
    "text_c4_rules" -> ((s, dir) =>
      TextAnalysis.c4Rules(Tables.documents(s, dir)).orderBy("doc_id")),

    "text_token_stats" -> ((s, dir) =>
      TextAnalysis.tokenStats(Tables.documents(s, dir)).orderBy("doc_id")),

    // the named Gopher rule battery (Rae et al. 2021): every rule an
    // exact integer comparison, one shuffle-free projection
    "text_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(Tables.documents(s, dir)).orderBy("doc_id")),

    // tokenizer fertility (subwords per word) + chars per subword per
    // (lang, source) — the token-budget planning table
    "text_fertility" -> ((s, dir) =>
      TextAnalysis.fertility(Tables.documents(s, dir))
        .orderBy("lang", "source")),

    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir)).orderBy("doc_id")),

    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(Tables.documents(s, dir)).orderBy("doc_id")),

    // the end-to-end curation pipeline, composed from the gated pieces:
    // exact-dup keepers → near-dup cluster canonicals → quality +
    // repetition filters → stratified sample → split assignment →
    // token-budget packing. One flagship query proving the operators
    // compose (every stage is itself oracle-gated standalone).
    "pipeline_curate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val clusterDrop = Dedup.duplicateClusters(Dedup.nearDupPairs(docs))
        .where(!col("keep")).select("doc_id")
      // r12 plan-shape rework, same result set (oracle unchanged):
      // the exact-dup keeper rule is a window min over the content
      // hash applied in place (the old groupBy + corpus re-join on
      // doc_id selected exactly the same min-id-per-text rows); the
      // quality filter is a pure per-row projection evaluated inline
      // (the old join of quality(docs) back onto docs was a corpus
      // self-join for a column the row itself determines); and the
      // two token-level filter metrics come from ONE fused tokenize +
      // aggregate (TextAnalysis.docFilterMetrics) instead of
      // repetition + unigramScore separately (two explodes, a bigram
      // pass the filter never reads, and two corpus joins).
      val keeper = min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))))
      // r12: the two token-level filter metrics are per-row array math
      // over a broadcast top-20 vocabulary (withDocFilterMetrics) —
      // the old docFilterMetrics frame re-shuffled every (doc, token)
      // pair twice and then paid a corpus-wide join to re-attach two
      // columns the row's own text determines. The vocabulary is still
      // trained on the FULL corpus, and token-less docs still drop
      // (the old inner join's semantics) — result set unchanged
      // (oracle-checked).
      val kept = TextAnalysis.withDocFilterMetrics(docs,
          docs
            .withColumn("_keeper", keeper)
            .where(col("doc_id") === col("_keeper")).drop("_keeper")
            .join(broadcast(clusterDrop), Seq("doc_id"), "left_anti"),
          vocabSize = 20)
        .where(TextAnalysis.qualityScore("text") >= 0.3 &&
          col("dup_token_frac") <= 0.9 && col("oov_frac") <= 0.42)
      val sampled = Sampling.stratifiedSample(kept,
        Map("en" -> 0.8, "de" -> 0.6), defaultRate = 0.5)
      val packed = Sampling.packGreedy(sampled, budgetTokens = 256L)
      // split is a pure per-row hash of doc_id (hashSplit only adds a
      // projection) and packGreedy is row-preserving, so joining
      // hashSplit(sampled) back on doc_id selected exactly the per-row
      // split of the packed rows — while paying a SECOND full
      // evaluation of the curation chain (sampled is an unmaterialized
      // LSH + verify pipeline; sibling branches do not CSE) plus a
      // join exchange. Project it in place instead; result set
      // unchanged (oracle-checked).
      Sampling.hashSplit(packed,
          Seq(("train", 0.9), ("val", 0.95), ("test", 1.0)))
        .select(col("doc_id"), col("lang"), col("shard"),
          col("n_tokens"), col("bin"), col("split"))
        .orderBy("doc_id")
    }),

    // second composition flagship, from the round-4/5 operators:
    // exact duplicated-SPAN removal → hashed classifier TRAINED on the
    // cleaned corpus (±1 language labels) → keep docs scoring above
    // the corpus MEAN (the class-imbalance-free relative threshold: a
    // shared-vocabulary corpus offsets every absolute score, so
    // "positive" would keep nothing — the mean-relative rule is what a
    // production quality filter calibrates to) → growth-stable hash
    // split. Proves the newer curation ops compose end to end.
    "pipeline_curate2" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // the cleaned corpus feeds FIVE plan branches (label join, train
      // scan, score scan, n_removed join, sub-2-token restore) and
      // self-join branches do not CSE — without truncation the span
      // pipeline recomputes per branch (measured 162 s → 53 s at the
      // 100× probe, 3.1×). Lazy local checkpoint of the narrow
      // (doc_id, text, n_removed) frame, the semanticDedup pattern.
      // r12: `lang` rides spanDedupedCorpus's existing final join and
      // `n_removed` rides hashedLinearScore's restore join (carry
      // params) — the old shape paid two corpus-sized joins to
      // re-attach columns the upstream frames already held. Result
      // set unchanged (oracle-checked).
      val cleaned = Dedup.spanDedupedCorpus(docs, k = 5,
          carry = Seq("lang"))
        .localCheckpoint(false)
      val w = TextAnalysis.trainHashedWeights(cleaned,
        when(col("lang") === "en", 1.0).otherwise(-1.0))
      // scored feeds TWO actions (the threshold aggregate's broadcast
      // subtree and the kept filter) — without truncation the feature
      // explode + score aggregation runs twice (r13; sibling branches
      // do not CSE, the `cleaned` pattern above)
      val scored = TextAnalysis.hashedLinearScore(cleaned, Some(w),
          carry = Seq("n_removed"))
        .where(col("score").isNotNull)
        .localCheckpoint(false)
      // DECIMAL-routed mean of the (already 6dp-rounded) scores: the
      // threshold must be bit-identical across engines and parallelism
      val thr = scored.agg(
        (graft.archive.Decimation.exactSum(col("score")) / count(lit(1)))
          .as("thr"))
      val kept = scored.crossJoin(broadcast(thr))
        .where(col("score") > col("thr"))
      Sampling.hashSplit(kept,
          Seq(("train", 0.8), ("val", 0.9), ("test", 1.0)))
        .select(col("doc_id"), col("n_removed"), col("n_features"),
          col("score"), col("split"))
        .orderBy("doc_id")
    }),

    "sim_bruteforce_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(e, e.where(col("vec_id") < 5), 10)
        .select(col("probe_id"), col("vec_id"), col("cos_sim"), col("rank"))
        .orderBy("probe_id", "rank")
    }),

    // embedding-space QA: intra- vs inter-class cosine histograms over
    // a deterministic probe slice — probe-vs-all, never all-pairs
    "sim_pair_hist" -> ((s, dir) =>
      Similarity.pairHistogram(Tables.embeddings(s, dir),
          probeMod = 97L, bins = 40)
        .orderBy("same_label", "bin")),

    // Matryoshka truncated-prefix tier: top-k on the first 16 of 64
    // dims — dims/Dim of the scan bandwidth; prefix order carries the
    // structure on MRL-trained embeddings
    "sim_matryoshka_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.matryoshkaTopK(e, e.where(col("vec_id") < 5), 16, 10)
        .select(col("probe_id"), col("vec_id"), col("cos_sim"), col("rank"))
        .orderBy("probe_id", "rank")
    }),

    // the MRL serving composition: prefix shortlist (50) → exact
    // full-dim rerank (10)
    "sim_matryoshka_reranked" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.matryoshkaReranked(e, e.where(col("vec_id") < 5), 16, 10)
        .select(col("probe_id"), col("vec_id"), col("cos_sim"), col("rank"))
        .orderBy("probe_id", "rank")
    }),

    // int8-quantized brute-force: integer dot products rescaled by the
    // per-vector scales — 4x the memory bandwidth of the double scan
    "sim_int8_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.int8TopK(e, e.where(col("vec_id") < 5), 10)
        .select(col("probe_id"), col("vec_id"), col("int8_score"), col("rank"))
        .orderBy("probe_id", "rank")
    }),

    // two-tier production search: int8 shortlist → exact rerank
    "sim_int8_reranked" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.int8SearchReranked(e, e.where(col("vec_id") < 5),
          topK = 10, shortK = 50)
        .select(col("probe_id"), col("vec_id"), col("cos_sim"), col("rank"))
        .orderBy("probe_id", "rank")
    }),

    // exact 6dp-grid Gram matrix (upper triangle) — the PCA/whitening
    // raw material, computed as a one-pass outer-product fold (2080
    // partial rows per partition, never a d²·N explode)
    "sim_gram_matrix" -> ((s, dir) =>
      Similarity.gramMatrix(Tables.embeddings(s, dir))
        .orderBy("i", "j")),

    // mixture-design QA: per-source unigram KL divergence from the
    // corpus distribution — the quantity DSIR/temperature act on
    "text_source_kl" -> ((s, dir) =>
      TextAnalysis.sourceKl(Tables.documents(s, dir))
        .orderBy("source")),

    // embedding QA: the 5 farthest-from-centroid docs per source —
    // the mislabeled-data / embedding-drift detector
    "sim_source_outliers" -> ((s, dir) =>
      Similarity.sourceOutliers(Tables.documents(s, dir),
          Tables.embeddings(s, dir), k = 5)
        .orderBy("source", "rank")),

    // recall@10 of each cheap ANN tier against the exact cosine
    // top-10 — the measurable quality artifact of the ladder: a tier
    // is only worth its bandwidth saving if its recall is known
    "sim_recall_report" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val probes = e.where(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopK(e, probes, 10)
        .select(col("probe_id"), col("vec_id"), lit(1).as("in_exact"))
      def hits(tier: String, approx: DataFrame) =
        approx.select(col("probe_id"), col("vec_id"))
          .join(exact, Seq("probe_id", "vec_id"), "left")
          .groupBy("probe_id")
          .agg(sum(coalesce(col("in_exact"), lit(0))).as("hits"))
          .select(col("probe_id"), lit(tier).as("tier"), col("hits"))
      hits("binary", Similarity.binaryTopK(e, probes, 10))
        .unionByName(hits("int8", Similarity.int8TopK(e, probes, 10)))
        .unionByName(hits("matryoshka16",
          Similarity.matryoshkaTopK(e, probes, 16, 10)))
        .orderBy("tier", "probe_id")
    }),

    // 1-bit sign tier of the ANN ladder: Hamming top-k over packed
    // sign bits (pure integer ranking, 1/32 the scan bandwidth)
    "sim_binary_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.binaryTopK(e, e.where(col("vec_id") < 5), 10)
        .select(col("probe_id"), col("vec_id"), col("hamming"), col("rank"))
        .orderBy("probe_id", "rank")
    }),

    // two-tier: sign-bit Hamming shortlist → exact cosine rerank
    "sim_binary_reranked" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.binarySearchReranked(e, e.where(col("vec_id") < 5),
          topK = 10, shortK = 50)
        .select(col("probe_id"), col("vec_id"), col("cos_sim"), col("rank"))
        .orderBy("probe_id", "rank")
    }),

    "sim_ann_lsh" -> ((s, dir) =>
      Similarity.lshNearest(Tables.embeddings(s, dir))
        .orderBy("vec_id")),

    "sim_ivf_assign" -> ((s, dir) =>
      Similarity.ivfAssign(Tables.embeddings(s, dir), k = 8)
        .orderBy("vec_id")),

    "sim_ivf_centroids" -> ((s, dir) =>
      Similarity.ivfCentroids(Tables.embeddings(s, dir), k = 8, iters = 1)
        .select(col("cluster"),
          TypedSamples.numArrayToString(col("centroid")).as("centroid_str"),
          col("n_assigned"))
        .orderBy("cluster")),

    "sim_ivf_search" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfSearch(e, e.where(col("vec_id") < 5), topK = 10,
          k = 8, nProbe = 2)
        .orderBy("probe_id", "rank")
    }),

    // IVF search over Lloyd-REFINED centroids (2 sweeps, 6dp-rounded
    // dims): the production quantizer path, gated on values like the
    // seed-centroid search; recall@10 delta vs seeds is in BASELINE.md
    "sim_ivf_refined" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfSearchRefined(e, e.where(col("vec_id") < 5), topK = 10,
          k = 8, nProbe = 2, iters = 2)
        .orderBy("probe_id", "rank")
    }),

    // the persisted-index serving path must return byte-identical
    // results to the per-query build (same oracle as sim_ivf_search)
    "sim_ivf_persisted" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // per-run scratch: concurrent runs must not overwrite each
      // other's index mid-query; within one run the dir is reused
      val idx = s"$runScratch/ivfidx-gate"
      Similarity.ivfBuildIndex(e, idx, k = 8)
      Similarity.ivfSearchIndexed(s, idx, e.where(col("vec_id") < 5),
          topK = 10, nProbe = 2)
        .orderBy("probe_id", "rank")
    }),

    // index built on the first 400 vectors, last batch appended
    // incrementally — must serve exactly what a full per-query build
    // serves (seeds are the 8 smallest vec_ids either way)
    "sim_ivf_incremental" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // per-run scratch (see sim_ivf_persisted); ivfBuildIndex's
      // overwrite resets the postings before the single append lands
      val idx = s"$runScratch/ivfidx-incr"
      Similarity.ivfBuildIndex(e.where(col("vec_id") < 400), idx, k = 8)
      Similarity.ivfIndexAppend(s, idx, e.where(col("vec_id") >= 400))
      Similarity.ivfSearchIndexed(s, idx, e.where(col("vec_id") < 5),
          topK = 10, nProbe = 2)
        .orderBy("probe_id", "rank")
    }),

    // the IVF freshness policy end to end: index built on 200 vectors,
    // grown 2.5× through appends against the STALE centroids, then the
    // drift trigger fires (2.0 > 0.5 appended fraction) and rebuilds
    // the quantizer over the live postings — after which recall@10 of
    // the rebuilt index is pinned per-probe against the exact top-10
    // (the rebuild is deterministic, so the oracle is simply IVF
    // search over the full corpus + the hit count)
    "sim_recall_after_churn" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // the churn HISTORY (initial build + two appends) is setup —
      // built once, copied per invocation (the index layout is rooted
      // at its directory); the measured operator is the drift-triggered
      // rebuild plus the indexed search and recall join
      val idx = mutableStoreFixture("ivfchurn", dir) { p =>
        Similarity.ivfBuildIndex(e.where(col("vec_id") < 200), p, k = 8)
        Similarity.ivfIndexAppend(s, p,
          e.where(col("vec_id") >= 200 && col("vec_id") < 400))
        Similarity.ivfIndexAppend(s, p, e.where(col("vec_id") >= 400))
      }
      val rebuilt = Similarity.ivfRefreshIfDrifted(s, idx,
        maxAppendFraction = 0.5)
      require(rebuilt, "churn gate expects the drift trigger to fire")
      val probes = e.where(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopK(e, probes, 10)
        .select(col("probe_id"), col("vec_id"), lit(1).as("in_exact"))
      Similarity.ivfSearchIndexed(s, idx, probes, topK = 10, nProbe = 2)
        .select(col("probe_id"), col("vec_id"))
        .join(exact, Seq("probe_id", "vec_id"), "left")
        .groupBy("probe_id")
        .agg(sum(coalesce(col("in_exact"), lit(0))).as("hits"))
        .select(col("probe_id"), lit("ivf_rebuilt").as("tier"), col("hits"))
        .orderBy("probe_id")
    }),

    "dedup_embedding" -> ((s, dir) =>
      Similarity.embeddingNearDup(Tables.embeddings(s, dir), minCos = 0.3)
        .orderBy("vec_a", "vec_b")),

    // semantic train/eval decontamination: broadcast the (small) eval
    // vectors, one corpus scan, flag anything with cosine >= 0.3 to
    // any eval item — the embedding-space twin of dedup_decontaminate
    "dedup_semantic_decon" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.semanticDecontaminate(e, e.where(col("vec_id") < 5),
          minCos = 0.3)
        .orderBy("vec_id")
    }),

    // SemDeDup-style semantic dedup: LSH-bucket clusters, within each
    // bucket keep the ε-dup member farthest from the bucket centroid
    "dedup_semantic" -> ((s, dir) =>
      Similarity.semanticDedup(Tables.embeddings(s, dir), minCos = 0.3)
        .orderBy("vec_id")),

    // representative (mean) embedding per near-dup cluster — the vector
    // a deduplicated index serves; arrays stringified for the oracle
    // embedding prep: L2-normalize → subtract corpus mean direction →
    // re-normalize (the hubness-removing centering step before
    // ANN/clustering); arrays stringified per the oracle convention
    "sim_embed_normalize" -> ((s, dir) =>
      Similarity.normalizeCenter(Tables.embeddings(s, dir))
        .select(col("vec_id"), sr6("pre_norm"),
          TypedSamples.numArrayToString(col("vec")).as("vec_str"))
        .orderBy("vec_id")),

    "sim_cluster_centroids" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // 0.5: centroids are for TIGHT near-dup clusters — at 0.3 the
      // similarity graph percolates into giant sprawling components
      // whose mean vector represents nothing (and whose diameter makes
      // both engines crawl)
      Similarity.clusterCentroids(emb,
          Similarity.embeddingNearDup(emb, minCos = 0.5))
        .select(col("comp"), col("n_members"),
          TypedSamples.numArrayToString(col("centroid")).as("centroid"))
        .orderBy("comp")
    }),

    // product quantization: 4-byte codes + ADC table-lookup scan (the
    // memory-compression half of IVF-PQ), and the production
    // shortlist→exact-rerank composition
    "sim_pq_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.pqSearch(e, e.where(col("vec_id") < 5), topK = 10)
        .orderBy("probe_id", "rank")
    }),

    // one Lloyd iteration of per-subspace codebook training, gated on
    // the centroid VALUES (stringified like sim_ivf_centroids)
    "sim_pq_refined" -> ((s, dir) =>
      Similarity.pqCodebooksRefined(Tables.embeddings(s, dir), iters = 1)
        .select(col("m"), col("code"),
          TypedSamples.numArrayToString(col("cent")).as("cent_str"))
        .orderBy("m", "code")),

    "sim_pq_reranked" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.pqSearchReranked(e, e.where(col("vec_id") < 5),
          topK = 10, shortK = 50)
        .orderBy("probe_id", "rank")
    }),

    // the full billion-scale composition: IVF coarse pruning → ADC
    // code scoring of ONLY the probed clusters' members → exact
    // cosine rerank of the shortlist (FAISS IVFPQ+refine shape)
    "sim_ivfpq_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfPqSearch(e, e.where(col("vec_id") < 5),
          topK = 10, nProbe = 2, shortK = 50)
        .orderBy("probe_id", "rank")
    }),

    // multimodal plumbing: no SQL-expressible oracle (binary decode);
    // driver records a rows-only check, semantics are ScalaTest'd.
    // All mm payloads ENCODE once per (JVM, sfDir) into a parquet copy
    // (memoInput) — the codec round-trip property is intact (the bytes
    // decoded each run ARE the encoder's output, round-tripped through
    // parquet binary), and the gates measure the DECODE+feature path a
    // production pipeline runs over stored media.
    "mm_features" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.extractFeatures(s.read.parquet(memoInput("mm-pay", dir)(q =>
        Multimodal.attachPayload(Tables.documents(s, dir)).write.parquet(q))))
        .toDF()
        .select(col("doc_id"), col("mime"), col("n_bytes"), col("width"),
          col("height"), round(col("mean_px"), 6).as("mean_px"),
          round(col("std_px"), 6).as("std_px"))
        .orderBy("doc_id")
    }),

    // value-checked video path: seekable clip container of REAL PNG
    // frames; only every 2nd frame is decoded (container-index seek),
    // per-frame stats against the closed-form pixel law
    "mm_clip_frames" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.extractClipFrameFeatures(
          s.read.parquet(memoInput("mm-clip", dir)(q => Multimodal
            .attachClipPayload(Tables.documents(s, dir)).write.parquet(q))),
          everyN = 2)
        .toDF()
        .select(col("doc_id"), col("frame_idx"), col("n_frames"),
          col("width"), col("height"), round(col("mean_px"), 6).as("mean_px"),
          col("min_px"), col("max_px"))
        .orderBy("doc_id", "frame_idx")
    }),

    // value-checked audio path: REAL WAV/PCM16 encode→decode
    // (javax.sound.sampled) over analytic waveforms whose statistics
    // the oracle computes in closed form — the gate verifies the codec
    // round-trip, not just plumbing.
    "mm_audio_features" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.extractAudioFeatures(
          s.read.parquet(memoInput("mm-wav", dir)(q => Multimodal
            .attachWavPayload(Tables.documents(s, dir)).write.parquet(q))))
        .toDF()
        .select(col("doc_id"), col("mime"), col("sample_rate"),
          col("n_samples"), round(col("rms"), 6).as("rms"),
          col("zero_crossings"), col("peak"))
        .orderBy("doc_id")
    }),

    // energy-based activity segmentation through the real WAV decode:
    // integer frame energies, exact threshold, gap-and-island merge
    "mm_audio_vad" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.audioActivitySegments(
          s.read.parquet(memoInput("mm-wav", dir)(q => Multimodal
            .attachWavPayload(Tables.documents(s, dir)).write.parquet(q))))
        .orderBy("doc_id", "seg_start")
    }),

    // value-checked image path: REAL PNG encode→decode (javax.imageio)
    // over analytic test images whose statistics the oracle computes
    // in closed form — the gate verifies the codec round-trip.
    "mm_png_features" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.extractImageFeatures(
          s.read.parquet(memoInput("mm-png", dir)(q => Multimodal
            .attachPngPayload(Tables.documents(s, dir)).write.parquet(q))))
        .toDF()
        .select(col("doc_id"), col("mime"), col("width"), col("height"),
          round(col("mean_px"), 6).as("mean_px"), col("min_px"),
          col("max_px"))
        .orderBy("doc_id")
    }),

    // perceptual dHash through the REAL PNG codec — the oracle replays
    // the analytic pixel law, so equality proves codec + hash math
    "mm_image_dhash" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.imageDHash(
          s.read.parquet(memoInput("mm-png", dir)(q => Multimodal
            .attachPngPayload(Tables.documents(s, dir)).write.parquet(q))))
        .toDF().orderBy("doc_id")
    }),

    // image near-dup detection: block equi-join + exact Hamming
    // filter, gated as the per-doc aggregate (the analytic gradient
    // images are deliberately low-diversity, so raw pairs are corpus²)
    "mm_image_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val h = Multimodal.imageDHash(
        s.read.parquet(memoInput("mm-png", dir)(q => Multimodal
          .attachPngPayload(Tables.documents(s, dir)).write.parquet(q)))).toDF()
      Multimodal.imageNearDupPairs(h)
        .groupBy(col("doc_a").as("doc_id"))
        .agg(count(lit(1)).as("n_neardups"),
          min(col("hamming")).as("min_hamming"))
        .orderBy("doc_id")
    }),
  )

  /** DuckDB equivalents (driver correctness gate). */
  def oracleSql: Map[String, String] = {
    val base = OracleSql.all ++ OracleSqlPipeline.all ++ OracleSqlTyped.all ++
      OracleSqlJson.all
    // the manifest store must serve the exact bytes the raw scan serves —
    // same oracle, different storage path
    base + ("arch_manifest_scan" -> base("arch_range_scan")) +
      // the backfill-repaired store must serve the exact bytes of a
      // from-scratch decimation of the COMPLETE history — the
      // incremental-catchup gate's oracle, shared
      ("arch_backfill_repair" -> base("arch_decimate_1h")) +
      // the federated old+live split must reassemble the same bytes
      ("arch_federated_scan" -> base("arch_range_scan")) +
      // the streaming file sink must land the exact bytes the batch
      // scan serves — same oracle, continuous ingest path
      ("stream_range_scan" -> base("arch_range_scan")) +
      // the streaming keyed-state decimator must emit the exact
      // windows the batch decimation plan emits — stream ≡ batch
      // under the DuckDB oracle, not just the ScalaTest property
      ("stream_decimate_1h" -> base("arch_decimate_1h")) +
      // the 21-type streaming dispatch serves the one-pass typed bytes
      ("stream_decimate_typed" -> base("arch_decimate_typed21_onepass")) +
      // the streaming exact cascade hop serves the batch reagg bytes
      ("stream_reagg_6h" -> base("arch_reagg_6h")) +
      // frontier-resumed incremental catch-up serves the bytes of
      // one-pass decimation over the whole corpus
      ("arch_incremental_catchup" -> base("arch_decimate_1h")) +
      // live keyed-state gap detection serves the batch lag bytes
      ("stream_gap_report" -> base("arch_gap_report")) +
      // serving through an XML-round-tripped config serves the same
      // bytes as the directly-committed config
      ("arch_xml_config_serve" -> base("arch_configured_serve")) +
      // LTTB through the config+manifest serving stack picks the same
      // points as LTTB over the raw frame (store round-trip lossless)
      ("arch_serve_lttb" -> base("arch_lttb")) +
      // M4 through the config-governed serving stack = the batch bytes
      ("arch_serve_m4" -> base("arch_m4")) +
      // the stats panel through the serving stack = the batch bytes
      ("arch_serve_stats" -> base("arch_value_percentiles")) +
      // the Complete-mode streaming M4 envelope = the batch bytes
      ("stream_m4" -> base("arch_m4")) +
      // the Complete-mode streaming seasonal baseline = the batch bytes
      ("stream_seasonal_profile" -> base("arch_seasonal_profile")) +
      // shard-sketch + cmsMerge serves the whole-corpus heavy hitters
      ("text_heavy_hitters_merged" -> base("text_heavy_hitters")) +
      // so does the streamed Complete-mode sketch
      ("stream_heavy_hitters" -> base("text_heavy_hitters")) +
      // the complete-mode streaming histogram serves the batch bins
      ("stream_histogram" -> base("arch_histogram")) +
      // the deque sliding-window path serves the RANGE-frame bytes
      ("arch_rolling_window_fast" -> base("arch_rolling_window")) +
      // so does the chunk-parallel skew path
      ("arch_rolling_window_chunked" -> base("arch_rolling_window")) +
      // and the keyed-state streaming form
      ("stream_rolling_window" -> base("arch_rolling_window")) +
      // the drained streaming CUSUM aggregates to the batch summary
      ("stream_cusum" -> base("arch_cusum_shifts")) +
      // the chunk-parallel prefix-scan cascade serves the plain bytes
      ("arch_cusum_chunked" -> base("arch_cusum_shifts")) +
      // the drained Complete-mode spectral monitor serves batch bytes
      ("stream_spectrum" -> base("arch_spectrum")) +
      // the config-governed fleet panel serves the direct report's
      // bytes (the fixture stores exactly the clean frame)
      ("arch_fleet_staleness" -> base("arch_staleness_report")) +
      // the drained streaming funnel summarizes to the batch bytes
      ("stream_funnel" -> base("events_funnel")) +
      // the linear z-score walker serves the declarative bytes
      ("arch_rolling_zscore_fast" -> base("arch_rolling_zscore")) +
      ("arch_rolling_zscore_chunked" -> base("arch_rolling_zscore")) +
      // streaming exact dedup keeps one survivor per distinct text
      ("stream_dedup_exact" ->
        """SELECT md5(text) AS text_hash
          |FROM (SELECT DISTINCT text FROM documents)
          |ORDER BY text_hash""".stripMargin) +
      // the native session_window streaming aggregation must emit the
      // batch sessionization's bytes once the watermark drains it
      ("stream_sessionize" -> base("events_sessionize")) +
      // the persisted IVF index must serve exactly what the per-query
      // build serves — same oracle, different storage path
      ("sim_ivf_persisted" -> base("sim_ivf_search")) +
      // build-on-prefix + incremental append must equal the full build
      ("sim_ivf_incremental" -> base("sim_ivf_search")) +
      // snapshot isolation / atomic compaction serve the same bytes
      ("arch_time_travel" -> base("arch_range_scan")) +
      ("arch_compacted_scan" -> base("arch_range_scan")) +
      // the composed retention→compact→vacuum upkeep pass must leave
      // the served range-scan bytes untouched (retention only drops
      // days strictly before the gate range)
      ("arch_maintenance_scan" -> base("arch_range_scan")) +
      // the SQL connector must serve the exact library-API bytes
      ("sql_range_scan" -> base("arch_range_scan")) +
      // a store populated ONLY through SQL INSERT must serve the same
      ("sql_insert_roundtrip" -> base("arch_range_scan")) +
      // the drained changefeed over three appending commits must union
      // to the same bytes, each commit one micro-batch
      ("stream_sql_changefeed" -> base("arch_range_scan")) +
      // decimation riding the changefeed serves the batch bytes
      ("stream_changefeed_decimate" -> base("arch_decimate_1h")) +
      // metadata-only aggregates: per-level COUNT/MIN/MAX recomputed
      // from the source rows (level 0 = marked, level 3600 = dec)
      ("sql_stats_pushdown" ->
        s"""${decPrelude(P1H)}
           |SELECT * FROM (
           |  SELECT CAST(0 AS BIGINT) AS level, CAST(count(*) AS BIGINT) AS n,
           |         min(ts) AS min_ts, max(ts) AS max_ts FROM marked
           |  UNION ALL
           |  SELECT CAST(3600 AS BIGINT) AS level, CAST(count(*) AS BIGINT) AS n,
           |         min(win_start) AS min_ts, max(win_start) AS max_ts FROM dec
           |) ORDER BY level""".stripMargin) +
      // channel-pruned SQL read over the same store
      ("sql_channel_scan" ->
        s"""WITH $SAMPLES
           |SELECT channel, ts, value, severity, status, sample_id
           |FROM samples
           |WHERE channel = 'click' AND ts BETWEEN $LO AND $HI
           |ORDER BY ts, sample_id""".stripMargin) +
      // SQL join of two resolution levels of one store: the decimated
      // level must equal the decimation oracle, the raw level must
      // count the marked rows per window
      // the PB bulk-export bridge decodes the same fixture the JSON
      // bridge does — one oracle, two wire formats
      ("epics_pb_ingest" -> base("epics_json_ingest")) +
      ("sql_decimate_join" ->
        s"""${decPrelude(P1H)},
           |rawcnt AS (
           |  SELECT channel, ts - (ts % $P1H) AS win_start,
           |         CAST(count(*) AS BIGINT) AS n_raw
           |  FROM marked GROUP BY 1, 2)
           |SELECT d.channel, d.win_start, round(d.mean, 6) AS mean,
           |       d.n_samples, r.n_raw
           |FROM dec d JOIN rawcnt r
           |  ON d.channel = r.channel AND d.win_start = r.win_start
           |ORDER BY d.channel, d.win_start""".stripMargin)
  }
}
