package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.archive.{ChannelConfig, ConfigCommands, ConfiguredArchive,
  HttpArchiveServer, UserStore, VersionLog}

/** The `v%012d.json` version log shared by the manifest, config and
  * user logs: the reader's head probe against the authoritative
  * listing, the fallback when the remembered head is gone, and the
  * confirmed-regression purge rule.
  */
class VersionLogSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val NS = graft.core.Samples.NS
  private val T0 = 1704067200L * NS

  private def countingFs(): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.vcount.impl", classOf[CountingFileSystem].getName)
    conf.setBoolean("fs.vcount.impl.disable.cache", true)
    FileSystem.get(URI.create("vcount:///"), conf)
  }

  private def root(): String =
    "vcount:" + Files.createTempDirectory("vlog").toString

  private def publish(log: VersionLog, f: FileSystem, r: String,
                      vs: Range): Unit =
    vs.foreach(v => assert(log.claim(f, r, v)(s"""{"v":$v}""".getBytes)))

  test("the probe follows versions another writer publishes, without " +
      "listing the log") {
    val f = countingFs()
    val r = root()
    val reader = new VersionLog("_t")
    val writer = new VersionLog("_t") // another process's view
    assert(reader.head(f, r).isEmpty)
    publish(writer, f, r, 1 to 3)
    assert(reader.head(f, r).contains(3L))
    publish(writer, f, r, 4 to 6)
    CountingFileSystem.reset()
    assert(reader.head(f, r).contains(6L))
    assert(reader.head(f, r).contains(6L))
    assert(CountingFileSystem.lists.get == 0,
      "a probe of a log whose head this JVM saw listed the directory")
    // a claim is refused on a taken version
    assert(!writer.claim(f, r, 6)("x".getBytes))
    assert(reader.list(f, r) == (1L to 6L))
  }

  test("on a quiet log the probe checks the head and head+1 only; " +
      "version file names are zero-padded to twelve digits") {
    val f = countingFs()
    val r = root()
    val log = new VersionLog("_t")
    publish(log, f, r, 1 to 3)
    assert(log.head(f, r).contains(3L))
    CountingFileSystem.reset()
    assert(log.head(f, r).contains(3L))
    assert(CountingFileSystem.checks("_t").get == 2)
    assert(CountingFileSystem.lists.get == 0)
    for (v <- Seq(0L, 7L, 123456789012L, 1234567890123L, Long.MaxValue))
      assert(VersionLog.fileName(v) == f"v$v%012d.json")
  }

  test("the probe falls back to a listing once the remembered head is " +
      "pruned or the log is recreated, and reports the true head") {
    val f = countingFs()
    val r = root()
    val reader = new VersionLog("_t")
    val writer = new VersionLog("_t")
    publish(writer, f, r, 1 to 4)
    assert(reader.head(f, r).contains(4L))
    // the writer moves on and prunes a prefix past the reader's head
    publish(writer, f, r, 5 to 9)
    (1 to 6).foreach(writer.delete(f, r, _))
    CountingFileSystem.reset()
    assert(reader.head(f, r).contains(9L))
    assert(CountingFileSystem.lists.get == 1)
    // deleted and recreated with fewer versions
    f.delete(new Path(r), true)
    publish(writer, f, r, 1 to 2)
    assert(reader.head(f, r).contains(2L))
    // deleted and not recreated
    f.delete(new Path(r), true)
    assert(reader.head(f, r).isEmpty)
    assert(reader.readHead(f, r)(v => v).isEmpty)
  }

  test("a stale lower observation fires no purge; a confirmed regression " +
      "fires each purge exactly once") {
    val f = countingFs()
    val r = root()
    val log = new VersionLog("_t")
    val a = new AtomicInteger
    val b = new AtomicInteger
    log.onRegression(p => if (p == r) a.incrementAndGet())
    log.onRegression(p => if (p == r) b.incrementAndGet())
    publish(log, f, r, 1 to 5)
    assert(log.head(f, r).contains(5L))
    // a listing that began before versions 4 and 5 landed
    log.observe(f, r, 3L)
    log.observe(f, r, 0L)
    assert(a.get == 0 && b.get == 0, "a stale observation purged")
    assert(log.head(f, r).contains(5L))
    // recreated with fewer versions: confirmed by every reader at once
    f.delete(new Path(r), true)
    publish(log, f, r, 1 to 2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs = (1 to 8).map(_ => pool.submit(
        new java.util.concurrent.Callable[Option[Long]] {
          def call(): Option[Long] = log.head(f, r)
        }))
      assert(fs.map(_.get).forall(_.contains(2L)))
    } finally pool.shutdown()
    assert(log.head(f, r).contains(2L))
    assert(a.get == 1 && b.get == 1,
      s"purges ran ${a.get} and ${b.get} times, not once each")
  }

  test("a config log deleted and recreated at the same path serves only " +
      "the new log's channels") {
    val cfg = Files.createTempDirectory("vlogcfg").toString
    Seq("pv:a", "pv:b", "pv:c").foreach(n =>
      ConfigCommands.addChannel(spark, cfg,
        ChannelConfig(n, s"id-$n", "ca", enabled = true, Map(), Map())))
    assert(ConfigCommands.state(spark, cfg).configs.map(_.name).sorted ==
      Seq("pv:a", "pv:b", "pv:c"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(cfg))
    ConfigCommands.addChannel(spark, cfg,
      ChannelConfig("pv:new", "id-new", "ca", enabled = true, Map(), Map()))
    assert(ConfigCommands.state(spark, cfg).configs.map(_.name) ==
      Seq("pv:new"))
  }

  test("an unreadable head version of the config and user logs is " +
      "skipped by readers and overtaken by the next commit") {
    val root = Files.createTempDirectory("vlogwedge").toString
    def cfg(n: String) =
      ChannelConfig(n, s"id-$n", "ca", enabled = true, Map(), Map())
    ConfigCommands.addChannel(spark, root, cfg("pv:a"))
    UserStore.addUser(spark, root, "ann", "pw-ann", Set(UserStore.UserRole))
    // a truncated or hand-edited head on both logs
    for (log <- Seq("_config", "_users"))
      Files.write(java.nio.file.Paths.get(root, log, "v000000000002.json"),
        "{not json".getBytes(StandardCharsets.UTF_8))
    assert(ConfigCommands.state(spark, root).configs.map(_.name) ==
      Seq("pv:a"))
    assert(UserStore.state(spark, root).users.map(_.name) == Seq("ann"))
    assert(ConfigCommands.addChannel(spark, root, cfg("pv:b")).version == 3L)
    assert(ConfigCommands.state(spark, root).configs.map(_.name).sorted ==
      Seq("pv:a", "pv:b"))
    assert(UserStore.addUser(spark, root, "bob", "pw-bob",
      Set(UserStore.UserRole)).version == 3L)
    assert(UserStore.state(spark, root).users.map(_.name).sorted ==
      Seq("ann", "bob"))
  }

  test("a repeated /1/samples request on an unchanged store lists " +
      "neither version log") {
    import spark.implicits._
    val cfg = Files.createTempDirectory("vlogsrvcfg").toString
    val store = Files.createTempDirectory("vlogsrvstore").toString
    ConfigCommands.addChannel(spark, cfg, ChannelConfig("pv:q", "id-q",
      "ca", enabled = true, Map(), Map(3600L -> 0L)))
    ConfiguredArchive.materialize(spark, cfg, store,
      (1 to 300).map(i => ("pv:q", T0 + i * 60L * NS, i.toDouble, "", 0, 0,
          i.toLong))
        .toDF("channel", "ts", "value", "str_value", "severity", "status",
          "sample_id"))
    spark.sparkContext.hadoopConfiguration.set("fs.vcount.impl",
      classOf[CountingFileSystem].getName)
    val running = HttpArchiveServer.start(spark, s"vcount:$cfg",
      s"vcount:$store", threads = 2)
    try {
      def get(lo: Long, hi: Long): String = {
        val conn = URI.create(s"${running.baseUrl}/1/samples/pv:q" +
            s"?start=$lo&end=$hi").toURL.openConnection()
          .asInstanceOf[HttpURLConnection]
        try {
          assert(conn.getResponseCode == 200)
          new String(conn.getInputStream.readAllBytes(),
            StandardCharsets.UTF_8)
        } finally conn.disconnect()
      }
      val (lo, hi) = (T0 + 10L * 60L * NS, T0 + 200L * 60L * NS)
      CountingFileSystem.reset()
      val first = get(lo, hi)
      assert(CountingFileSystem.lists.get > 0,
        "the first request never listed a log: the counter is not wired")
      CountingFileSystem.reset()
      // the same request (response cache) and another window (direct
      // serve over warm memos)
      assert(get(lo, hi) == first)
      assert(get(lo + 60L * NS, hi).nonEmpty)
      assert(CountingFileSystem.lists.get == 0,
        s"steady-state requests listed a version log " +
          s"${CountingFileSystem.lists.get} times")
    } finally running.stop()
  }

  test("a steady-state /1/samples request checks each version log at " +
      "most twice, and a commit between two requests is visible to the " +
      "second") {
    import spark.implicits._
    val cfg = Files.createTempDirectory("vlogsnapcfg").toString
    val store = Files.createTempDirectory("vlogsnapstore").toString
    ConfigCommands.addChannel(spark, cfg, ChannelConfig("pv:s", "id-s",
      "ca", enabled = true, Map(), Map(3600L -> 0L)))
    def rows(r: Range) = r.map(i => ("pv:s", T0 + i * 60L * NS,
        i.toDouble, "", 0, 0, i.toLong))
      .toDF("channel", "ts", "value", "str_value", "severity", "status",
        "sample_id")
    ConfiguredArchive.materialize(spark, cfg, store, rows(1 to 300))
    spark.sparkContext.hadoopConfiguration.set("fs.vcount.impl",
      classOf[CountingFileSystem].getName)
    val running = HttpArchiveServer.start(spark, s"vcount:$cfg",
      s"vcount:$store", threads = 2)
    try {
      def get(lo: Long, hi: Long): String = {
        val conn = URI.create(s"${running.baseUrl}/1/samples/pv:s" +
            s"?start=$lo&end=$hi").toURL.openConnection()
          .asInstanceOf[HttpURLConnection]
        try {
          assert(conn.getResponseCode == 200)
          new String(conn.getInputStream.readAllBytes(),
            StandardCharsets.UTF_8)
        } finally conn.disconnect()
      }
      /** (manifest-log checks, config-log checks) of one request. */
      def checks(lo: Long, hi: Long): (Int, Int) = {
        CountingFileSystem.reset()
        get(lo, hi)
        (CountingFileSystem.checks("_manifests").get,
          CountingFileSystem.checks("_config").get)
      }
      val hi = T0 + 200L * 60L * NS
      get(T0 + 10L * 60L * NS, hi) // warms the memos and the row cache
      val hits = running.stats.responseCacheHits.get
      // a direct serve over warm memos, then the same request again
      val direct = checks(T0 + 20L * 60L * NS, hi)
      assert(running.stats.responseCacheHits.get == hits)
      val memo = checks(T0 + 20L * 60L * NS, hi)
      assert(running.stats.responseCacheHits.get == hits + 1)
      assert(direct._1 > 0 && direct._2 > 0,
        "no version-file check counted: the counter is not wired")
      for (((m, c), what) <- Seq(direct -> "direct serve",
          memo -> "response-memo hit"))
        assert(m <= 2 && c <= 2, s"a $what checked the manifest log $m " +
          s"and the config log $c times")
      // another writer (here: another root string for the same store)
      // commits one sample past the stored history
      val (lo, end) = (T0 + 290L * 60L * NS, T0 + 400L * 60L * NS)
      val before = get(lo, end)
      ConfiguredArchive.ingestRaw(spark, cfg, store, rows(350 to 350))
      val after = get(lo, end)
      assert(after != before)
      assert(after.contains(s"\"time\":${T0 + 350L * 60L * NS},"))
      assert(after == ConfiguredArchive.serveJson(spark, cfg, store, "pv:s",
        lo, end, None).mkString("[", ",", "]"))
    } finally running.stop()
  }
}

/** The raw local file system under the `vcount:` scheme, counting
  * directory listings of the `_manifests` and `_config` version logs,
  * and existence checks and status lookups (`open` makes one) of their
  * version files, per log.
  */
class CountingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("vcount:///")
  override def getScheme: String = "vcount"
  override def listStatus(p: Path): Array[FileStatus] = {
    if (CountingFileSystem.Logs.contains(p.getName))
      CountingFileSystem.lists.incrementAndGet()
    super.listStatus(p)
  }
  private def check(p: Path): Unit = {
    val parent = p.getParent
    if (parent != null && p.getName.startsWith("v"))
      CountingFileSystem.checks.get(parent.getName)
        .foreach(_.incrementAndGet())
  }
  override def exists(p: Path): Boolean = { check(p); super.exists(p) }
  override def getFileStatus(p: Path): FileStatus = {
    check(p)
    super.getFileStatus(p)
  }
}

object CountingFileSystem {
  val Logs = Set("_manifests", "_config", "_t")
  val lists = new AtomicInteger
  val checks: Map[String, AtomicInteger] =
    Logs.map(_ -> new AtomicInteger).toMap
  def reset(): Unit = { lists.set(0); checks.values.foreach(_.set(0)) }
}
