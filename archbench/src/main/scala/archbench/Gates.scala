package archbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The batch-gate subset: each gate is one `SparkEntry.queries` call
  * over generated tables, forced by writing its result as one parquet
  * file, which the oracle check then reads.
  */
object Gates {
  /** Two gates of ROADMAP direction 2's job-budget table plus its
    * one-scan baseline (`q1_pricing_summary`), direction 3's plain/typed
    * decimation twins, the rolling z-score, and the two native-kernel
    * gates. */
  val Names: Seq[String] = Seq(
    "arch_incremental_catchup", "pipeline_curate", "q1_pricing_summary",
    "arch_decimate_1h", "arch_decimate_typed21", "arch_rolling_zscore",
    "stream_dedup_minhash", "sim_ann_lsh")

  /** Run one gate under its own job group; returns wall seconds. */
  def run(spark: SparkSession, dataDir: String, name: String,
          write: org.apache.spark.sql.DataFrame => Unit): Double = {
    spark.sparkContext.setJobGroup(s"bench.gate.$name", name)
    try {
      val t0 = System.nanoTime()
      Trace.span("gates", name)(write(SparkEntry.queries(name)(spark, dataDir)))
      (System.nanoTime() - t0) / 1e9
    } finally spark.sparkContext.clearJobGroup()
  }

  /** One pass over the subset, each result written where the oracle
    * check reads it, with the gate's DuckDB query beside it (the
    * `Verify` layout). Returns each gate's seconds. */
  def pass(spark: SparkSession, dataDir: String,
           outDir: String): Seq[(String, Double)] = {
    val times = Names.map(n => n -> Log.phase(s"gate $n")(run(spark, dataDir, n,
      _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n"))))
    val oracle = SparkEntry.oracleSql
    val json = Names.map(n => s"${Json.str(n)}: ${Json.str(oracle(n))}")
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    times
  }
}
