package archbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.archive.{ChannelConfig, ConfigCommands, ConfiguredArchive}

/** The stores and inputs every workload starts from, all derived from
  * the run's seed.
  */
object Fixtures {
  val NS = 1000000000L
  /** 2024-01-01T00:00:00Z — the first simulated sample. */
  val T0: Long = 1704067200L * NS
  val DayNs: Long = 86400L * NS

  /** Decimated levels of the scalar store (seconds). The finer one
    * closes a window every three slices of the simulated 1 Hz feed; the
    * one-day `count=100` request plans onto the coarser one.
    */
  val Levels: Seq[Long] = Seq(60L, 900L)
  /** Raw retention (seconds): on, so every streamed batch runs the
    * retention pass, but longer than any store here, so no run drops
    * data the checkers compare.
    */
  val RawRetentionSec: Long = 30L * 86400L

  final case class Scalar(cfg: String, store: String, channels: Int,
                          days: Int, rows: Long) {
    def endNs: Long = T0 + days * DayNs
    def name(i: Int): String = s"ch$i"
    def id(i: Int): String = s"id$i"
  }

  final case class Typed(cfg: String, store: String, channels: Int) {
    def name(i: Int): String = s"tpv$i"
  }

  /** A sample value in cents: a deterministic function of the seed,
    * the channel and the sample time, shared by the batch history and
    * the streamed slices. */
  def cents(seed: Long, ch: Int, sec: Long): Long =
    Math.floorMod(ch * 7919L + sec * 104729L + seed * 15485863L, 100000L)

  private def centsCol(seed: Long, ch: org.apache.spark.sql.Column,
                       sec: org.apache.spark.sql.Column) =
    pmod(ch * 7919L + sec * 104729L + lit(seed * 15485863L), lit(100000L))

  /** Config-governed scalar store: `channels` channels with 1-minute
    * samples over `days` days, raw plus [[Levels]], materialized
    * through [[ConfiguredArchive.materialize]].
    */
  def scalar(spark: SparkSession, dir: String, channels: Int, days: Int,
             seed: Long): Scalar = {
    val s = Scalar(s"$dir/config", s"$dir/store", channels, days,
      channels.toLong * days * 1440L)
    val levels = Map(0L -> RawRetentionSec) ++ Levels.map(_ -> 0L)
    Log.phase(s"config: $channels channels")((0 until channels).foreach(i =>
      ConfigCommands.addChannel(spark, s.cfg, ChannelConfig(s.name(i),
        s.id(i), "ca", enabled = true, Map(), levels))))
    val ch = col("id") % channels
    val sec = lit(T0 / NS) + expr(s"id div $channels") * 60L
    val raw = spark.range(s.rows).select(
      concat(lit("ch"), ch).as("channel"),
      (sec * NS).as("ts"),
      (centsCol(seed, ch, sec) / 100.0).as("value"),
      lit("").as("str_value"), lit(0).as("severity"), lit(0).as("status"),
      col("id").as("sample_id"))
    Log.phase(s"materialize: ${s.rows} rows")(
      ConfiguredArchive.materialize(spark, s.cfg, s.store, raw))
    s
  }

  /** Typed-union store (raw only): `channels` channels × one day of
    * 1-minute scalar_double samples with display metadata. */
  def typed(spark: SparkSession, dir: String, channels: Int,
            seed: Long): Typed = {
    val t = Typed(s"$dir/tconfig", s"$dir/tstore", channels)
    (0 until channels).foreach(i =>
      ConfigCommands.addChannel(spark, t.cfg, ChannelConfig(t.name(i),
        s"tid$i", "ca", enabled = true, Map(), Map())))
    val ch = col("id") % channels
    val sec = lit(T0 / NS) + expr(s"id div $channels") * 60L
    val raw = spark.range(channels.toLong * 1440L).select(
      concat(lit("tpv"), ch).as("channel"),
      (sec * NS).as("ts"),
      lit("scalar_double").as("vtype"),
      (centsCol(seed, ch, sec) / 100.0).as("value"),
      lit(null).cast("string").as("str_value"),
      lit(null).cast("int").as("enum_value"),
      lit(null).cast("array<string>").as("labels"),
      lit(null).cast("array<double>").as("arr_num"),
      lit(null).cast("array<string>").as("arr_str"),
      lit(null).cast("double").as("agg_mean"),
      lit(null).cast("double").as("agg_std"),
      lit(null).cast("double").as("agg_min"),
      lit(null).cast("double").as("agg_max"),
      lit(null).cast("double").as("agg_cov"),
      (col("id") % 4).cast("int").as("severity"),
      (col("id") % 8).cast("int").as("status"),
      lit("mm").as("meta_units"), lit(2).as("meta_precision"),
      lit(-500.0).as("meta_display_low"), lit(500.0).as("meta_display_high"),
      lit(-100.0).as("meta_warn_low"), lit(100.0).as("meta_warn_high"),
      lit(-200.0).as("meta_alarm_low"), lit(200.0).as("meta_alarm_high"),
      lit(null).cast("double").as("meta_control_low"),
      lit(null).cast("double").as("meta_control_high"),
      col("id").as("sample_id"))
    Log.phase("typed store")(
      ConfiguredArchive.materializeTyped(spark, t.cfg, t.store, raw))
    t
  }

  // ---- batch-gate input tables ---------------------------------------

  private val Vocab = ("a the data row column table key value part order " +
    "line customer query scan filter join sort hash merge group agg " +
    "window stream batch spark fast slow big small vector").split(" ")

  /** The four tables the gate subset reads (`events`, `lineitem`,
    * `documents`, `embeddings`), in the schema of the repository's
    * test tables, generated from `seed` at `scale` (1.0 ≈ the sf0.01
    * row counts). Every value is a pure function of the seed and the
    * row id, so two runs with one seed get identical tables.
    */
  def gateTables(spark: SparkSession, dir: String, seed: Long,
                 scale: Double): Unit = {
    def h(salt: Int, c: org.apache.spark.sql.Column) =
      pmod(xxhash64(c, lit(seed), lit(salt)), lit(Long.MaxValue))
    val nEv = (10000 * scale).toLong
    val types = array(Seq("click", "signup", "error", "view", "purchase").map(lit): _*)
    // 30 days of events, ~uniform, µs timestamps
    spark.range(nEv).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (col("id") * (30L * 86400L * 1000000L / nEv)) +
        (h(1, col("id")) % lit(30L * 86400L * 1000000L / nEv))).as("ts"),
      (h(2, col("id")) % 150).as("user_id"),
      element_at(types, (h(3, col("id")) % 5 + 1).cast("int")).as("event_type"),
      ((h(4, col("id")) % 50000 + 1) / 100.0).as("value"),
      concat(lit("{\"k\": "), (h(5, col("id")) % 100).cast("string"),
        lit("}")).as("props"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")

    val nLi = (60000 * scale).toLong
    val flags = array(Seq("A", "N", "R").map(lit): _*)
    val stat = array(Seq("O", "F").map(lit): _*)
    spark.range(nLi).select(
      expr("id div 4").as("l_orderkey"),
      (h(11, col("id")) % 2000).as("l_partkey"),
      (h(12, col("id")) % 100).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (h(13, col("id")) % 50 + 1).cast("double").as("l_quantity"),
      ((h(14, col("id")) % 10000000 + 90000) / 100.0).as("l_extendedprice"),
      ((h(15, col("id")) % 11) / 100.0).as("l_discount"),
      ((h(16, col("id")) % 9) / 100.0).as("l_tax"),
      element_at(flags, (h(17, col("id")) % 3 + 1).cast("int")).as("l_returnflag"),
      element_at(stat, (h(18, col("id")) % 2 + 1).cast("int")).as("l_linestatus"),
      timestamp_micros(lit(788918400000000L) +
        (h(19, col("id")) % 2500) * lit(86400000000L)).as("l_shipdate"))
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")

    // documents: random word bags, with every fifth document a near-
    // duplicate of an earlier one (one word replaced), so the dedup
    // gates find real clusters
    val nDoc = (500 * scale).toLong
    val vocab = array(Vocab.map(lit).toIndexedSeq: _*)
    val words = (salt: Int, base: org.apache.spark.sql.Column) =>
      transform(sequence(lit(0), (h(salt, base) % 60 + 8).cast("int")),
        i => element_at(vocab, (pmod(xxhash64(base, i, lit(seed)),
          lit(Vocab.length.toLong)) + 1).cast("int")))
    val base = when(col("id") % 5 === 4, col("id") - 3).otherwise(col("id"))
    val w = words(21, base)
    val edited = when(col("id") % 5 === 4,
      concat(slice(w, 1, 3), array(lit("edit")),
        slice(w, 5, 1000))).otherwise(w)
    spark.range(nDoc).select(col("id").as("doc_id"),
        array_join(edited, " ").as("text"),
        lit("en").as("lang"),
        concat(lit("src"), (col("id") % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    // embeddings: 64-d float vectors around 10 label centroids
    val nVec = (500 * scale).toLong
    val label = (h(31, col("id")) % 10).cast("int")
    spark.range(nVec).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), i =>
          ((pmod(xxhash64(label, i, lit(seed)), lit(1000L)) - 500) / 2000.0 +
            (pmod(xxhash64(col("id"), i, lit(seed + 1)), lit(1000L)) - 500) /
              10000.0).cast("float")).as("embedding"),
        label.as("label"))
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
  }
}
