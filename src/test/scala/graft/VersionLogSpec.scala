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
}

/** The raw local file system under the `vcount:` scheme, counting
  * directory listings of the `_manifests` and `_config` version logs.
  */
class CountingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("vcount:///")
  override def getScheme: String = "vcount"
  override def listStatus(p: Path): Array[FileStatus] = {
    if (CountingFileSystem.Logs.contains(p.getName))
      CountingFileSystem.lists.incrementAndGet()
    super.listStatus(p)
  }
}

object CountingFileSystem {
  val Logs = Set("_manifests", "_config", "_t")
  val lists = new AtomicInteger
  def reset(): Unit = lists.set(0)
}
