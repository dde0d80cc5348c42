package archbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one run reports: end-to-end metrics, per-layer metrics,
  * operation counts and any failed check. */
final class Result {
  val e2eM = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerM = mutable.LinkedHashMap.empty[String, (Double, String)]
  val problems = mutable.ArrayBuffer.empty[String]
  val selftest = mutable.ArrayBuffer.empty[(String, Boolean)]
  var attempted = 0L
  var failed = 0L
  var oracleDir: Option[String] = None

  def e2e(n: String, v: Double, u: String): Unit = e2eM(n) = (v, u)
  def layer(n: String, v: Double, u: String): Unit = layerM(n) = (v, u)
  /** A check that failed: the run's outputs are wrong. */
  def problem(p: String): Unit = { problems += p; failed += 1 }
  /** An operation that failed without making any output wrong. */
  val failedOps = mutable.ArrayBuffer.empty[String]
  def failedOp(what: String): Unit = { failedOps += what; failed += 1 }

  def json(record: Seq[(String, String)]): String = {
    def m(xs: Iterable[(String, (Double, String))]) = xs.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val rec = record.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    s"""{"correct":${problems.isEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""e2e":${m(e2eM)},"layer":${m(layerM)},""" +
      s""""problems":${problems.map(Json.str).mkString("[", ",", "]")},""" +
      s""""failed_ops":${failedOps.map(Json.str).mkString("[", ",", "]")},""" +
      s""""selftest":${selftest.map { case (n, ok) => s"[${Json.str(n)},$ok]" }.mkString("[", ",", "]")},""" +
      s""""oracle_dir":${oracleDir.map(Json.str).getOrElse("null")},"record":$rec}"""
  }
}

/** One run's settings. `tiny` shrinks every size for the self-test. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long,
                     seconds: Int, trace: Boolean, work: String,
                     listener: JobListener, nproc: Int, tiny: Boolean)

/** Entry point: `archbench.Main --workload <name> --seed <n> --seconds
  * <s> --trace <0|1> --work <dir> [--selftest]`. Prints one line,
  * `ARCHBENCH_RESULT <json>`, after stopping the session; `run.py`
  * turns it into the benchmark's result line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = kv("workload")
    val tiny = args.contains("--selftest")
    val nproc = Runtime.getRuntime.availableProcessors()
    val master = s"local[$nproc]"
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"archbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val ctx = Ctx(spark, workload, kv("seed").toLong, kv("seconds").toInt,
      kv.get("trace").contains("1"), kv("work"), listener, nproc, tiny)
    Trace.enabled = ctx.trace
    val res = new Result
    try Workloads.run(ctx, res)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        res.problem(s"workload aborted: $e")
    }
    if (ctx.trace) {
      Trace.write(java.nio.file.Paths.get(ctx.work, "spans.jsonl"))
      val self = Trace.selfSecondsByLayer
      Seq("http", "serve", "config", "stream", "manifest", "cascade",
        "maintenance", "gates").foreach(l =>
        res.layer(s"self_s.$l", self.getOrElse(l, 0.0), "s"))
    }
    val heapMb = Runtime.getRuntime.maxMemory / 1048576L
    val record = Seq(
      "workload" -> Json.str(workload), "seed" -> ctx.seed.toString,
      "trace" -> ctx.trace.toString, "nproc" -> nproc.toString,
      "master" -> Json.str(master), "spark" -> Json.str(spark.version),
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " +
        System.getProperty("java.runtime.version")),
      "heap_mb" -> heapMb.toString,
      "source" -> Json.str(System.getProperty("archbench.source", "unknown")))
    spark.stop()
    println("ARCHBENCH_RESULT " + res.json(record))
    System.out.flush()
    // the JDK HTTP server's and client's idle threads would otherwise
    // hold the JVM open for several seconds after the session stops
    sys.exit(0)
  }
}
