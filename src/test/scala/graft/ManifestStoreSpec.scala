package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.archive.ManifestStore

class ManifestStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  private val NS = 1000000000L
  private val DAY = 86400L * NS
  // 2024-01-01T00:00:00Z
  private val T0 = 1704067200L * NS

  private def samples(rows: (String, Long, Double)*): DataFrame =
    rows.zipWithIndex.map { case ((c, t, v), i) =>
      (c, t, v, "", 0, 0, i.toLong)
    }.toDF("channel", "ts", "value", "str_value", "severity", "status", "sample_id")

  test("commit → read round-trip; manifest prunes files driver-side") {
    val dir = Files.createTempDirectory("mstore").toString
    val v1 = ManifestStore.commit(samples(
      ("c", T0 + 1 * NS, 1.0), ("c", T0 + DAY + 2 * NS, 2.0),
      ("c", T0 + 2 * DAY + 3 * NS, 3.0), ("d", T0 + 10 * NS, 4.0)),
      dir, levelSec = 0)
    assert(v1 == 1L)

    val all = ManifestStore.read(spark, dir, 0)
    assert(all.count() == 4)
    assert(all.columns.contains("level") && all.columns.contains("bucket_date"))

    // day-2 clip: only the day-2 file survives manifest pruning — the
    // scan's input is ONE file, proving pruning happened before Spark
    // ever listed the directory.
    val day2 = ManifestStore.read(spark, dir, 0,
      loNs = Some(T0 + DAY), hiNs = Some(T0 + 2 * DAY - 1))
    assert(day2.select("value").collect().map(_.getDouble(0)).toSeq == Seq(2.0))
    assert(day2.inputFiles.length == 1)
  }

  test("append commits merge file sets and bump the version") {
    val dir = Files.createTempDirectory("mstore").toString
    ManifestStore.commit(samples(("c", T0 + 1 * NS, 1.0)), dir, 0)
    val v2 = ManifestStore.commit(samples(("c", T0 + 2 * NS, 2.0)), dir, 0)
    assert(v2 == 2L)
    val got = ManifestStore.read(spark, dir, 0)
      .select("value").collect().map(_.getDouble(0)).sorted.toSeq
    assert(got == Seq(1.0, 2.0))
    assert(ManifestStore.latestManifest(spark, dir).get.files.size == 2)
  }

  test("concurrent writers never lose a commit: optimistic retry under real thread races") {
    // 8 driver threads × 3 commits racing on ONE log — the shape of
    // independent ingest jobs sharing a store. Every commit must land
    // (exclusive-create loses → re-read → re-apply), the version chain
    // must be gapless, and the union of rows must read back complete.
    val dir = Files.createTempDirectory("mstore").toString
    val nThreads = 8
    val perThread = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val latch = new java.util.concurrent.CountDownLatch(1)
    val done = new java.util.concurrent.CountDownLatch(nThreads)
    (0 until nThreads).foreach { t =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            latch.await() // all threads start committing together
            (0 until perThread).foreach { i =>
              ManifestStore.commit(
                samples((s"c$t-$i", T0 + (t * perThread + i) * NS, t + i / 10.0)),
                dir, levelSec = 0)
            }
          } catch { case e: Throwable => failures.add(e) }
          finally done.countDown()
      })
    }
    latch.countDown()
    assert(done.await(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(failures.isEmpty, s"commit failures: ${failures.size}")
    val m = ManifestStore.latestManifest(spark, dir).get
    assert(m.version == (nThreads * perThread).toLong) // gapless chain
    assert(m.files.size == nThreads * perThread)       // no lost file set
    val chans = ManifestStore.read(spark, dir, 0)
      .select("channel").as[String].collect().sorted.toSeq
    val expected = (for (t <- 0 until nThreads; i <- 0 until perThread)
      yield s"c$t-$i").sorted
    assert(chans == expected) // every racing row is served
  }

  test("schema union across levels: decimated stat columns read as null on raw files") {
    val dir = Files.createTempDirectory("mstore").toString
    ManifestStore.commit(samples(("c", T0 + 1 * NS, 1.0)), dir, 0)
    val dec = Seq(("c", T0, 1.5, 0.1, 1.0, 2.0))
      .toDF("channel", "ts", "mean", "std", "min_value", "max_value")
    ManifestStore.commit(dec, dir, levelSec = 3600)

    val raw = ManifestStore.read(spark, dir, 0)
    assert(raw.columns.contains("mean"))
    assert(raw.select("mean").head.isNullAt(0)) // raw files lack the column
    assert(raw.select("value").head.getDouble(0) == 1.0)

    val coarse = ManifestStore.read(spark, dir, 3600)
    assert(coarse.select("mean").head.getDouble(0) == 1.5)
    assert(coarse.select("value").head.isNullAt(0))
  }

  test("level isolation: each level reads only its own files") {
    val dir = Files.createTempDirectory("mstore").toString
    ManifestStore.commit(samples(("c", T0 + 1 * NS, 1.0),
      ("c", T0 + 2 * NS, 2.0)), dir, 0)
    ManifestStore.commit(samples(("c", T0 + 1 * NS, 9.0)), dir, 60)
    assert(ManifestStore.read(spark, dir, 0).count() == 2)
    assert(ManifestStore.read(spark, dir, 60).count() == 1)
  }

  test("compact swaps files atomically; the old snapshot stays readable") {
    val dir = Files.createTempDirectory("mstore").toString
    ManifestStore.commit(samples(("c", T0 + 1 * NS, 1.0)), dir, 0)
    ManifestStore.commit(samples(("c", T0 + 2 * NS, 2.0)), dir, 0)
    ManifestStore.commit(samples(("c", T0 + 3 * NS, 3.0)), dir, 0)
    val before = ManifestStore.latestManifest(spark, dir).get
    assert(before.files.size == 3)

    ManifestStore.compact(spark, dir, 0, "2024-01-01")
    val after = ManifestStore.latestManifest(spark, dir).get
    assert(after.version == before.version + 1)
    assert(after.files.size == 1)
    val got = ManifestStore.read(spark, dir, 0)
      .select("value").collect().map(_.getDouble(0)).sorted.toSeq
    assert(got == Seq(1.0, 2.0, 3.0))

    // time travel: the pre-compaction snapshot still reads its 3 files
    val old = ManifestStore.readVersion(spark, dir, before.version, 0)
    assert(old.inputFiles.length == 3)
    assert(old.count() == 3)
  }

  test("vacuum grace protects a held pre-compaction snapshot from concurrent maintenance") {
    val dir = Files.createTempDirectory("mstore").toString
    ManifestStore.commit(samples(("c", T0 + 1 * NS, 1.0)), dir, 0)
    ManifestStore.commit(samples(("c", T0 + 2 * NS, 2.0)), dir, 0)
    ManifestStore.commit(samples(("c", T0 + 3 * NS, 3.0)), dir, 0)
    val held = ManifestStore.latestManifest(spark, dir).get
    // a concurrent reader pins the pre-maintenance version (the
    // time-travel handle an in-flight long query holds)
    val reader = ManifestStore.readVersion(spark, dir, held.version, 0)

    // maintenance runs UNDER the reader with a real grace: compaction
    // swaps the manifest, but vacuum must not touch bytes younger than
    // the grace — exactly the files the held snapshot still references
    val rep = graft.archive.Maintenance.run(spark, dir,
      vacuumGraceMs = 3600L * 1000)
    assert(rep.compacted.nonEmpty, "fragmented day was not compacted")
    assert(rep.vacuumed.isEmpty, s"grace violated: ${rep.vacuumed}")

    // the held snapshot still serves its exact pre-compaction rows…
    assert(reader.select("value").collect().map(_.getDouble(0)).sorted.toSeq
      == Seq(1.0, 2.0, 3.0))
    // …and the current version serves the same rows from the compacted file
    val cur = ManifestStore.read(spark, dir, 0)
    assert(cur.select("value").collect().map(_.getDouble(0)).sorted.toSeq
      == Seq(1.0, 2.0, 3.0))
    assert(cur.inputFiles.length == 1)

    // once the grace window has passed (grace 0 stands in for elapsed
    // time), the obsolete pre-compaction bytes are reclaimed
    val rep2 = graft.archive.Maintenance.run(spark, dir, vacuumGraceMs = 0L)
    assert(rep2.compacted.isEmpty, "second pass must be compaction-noop")
    assert(rep2.vacuumed.nonEmpty, "obsolete bytes were never reclaimed")
    assert(ManifestStore.read(spark, dir, 0).count() == 3)
  }

  test("vacuum reference-grace: an OLD file dereferenced one moment ago " +
      "survives a full grace measured from dereference, not write") {
    val dir = Files.createTempDirectory("mstore").toString
    ManifestStore.commit(samples(("c", T0 + 1 * NS, 1.0)), dir, 0)
    ManifestStore.commit(samples(("c", T0 + 2 * NS, 2.0)), dir, 0)
    val preCompaction = ManifestStore.latestManifest(spark, dir).get
    // age the DATA files an hour into the past — the grace's file-mtime
    // check alone would see them as long-expired the moment compaction
    // dereferences them, and a serving process that resolved the
    // pre-compaction version moments ago would read deleted bytes
    val dataDir = new java.io.File(s"$dir/data")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val old = System.currentTimeMillis() - 3600L * 1000
    walk(dataDir).foreach(f => assert(f.setLastModified(old)))
    ManifestStore.compactAll(spark, dir, levelSec = 0)
    // a reader pinned on the (seconds-old) pre-compaction version
    val held = ManifestStore.readVersion(spark, dir, preCompaction.version, 0)
    // grace 30 min: the pre-compaction VERSION file is younger than the
    // cutoff, so its files stay protected despite their 1 h mtime
    val gone = ManifestStore.vacuum(spark, dir, graceMs = 1800L * 1000)
    // _SUCCESS markers are never manifest-referenced — deleting them is
    // the janitor working as intended; DATA bytes must all survive
    assert(gone.filterNot(_.endsWith("_SUCCESS")).isEmpty,
      s"reference-grace violated: deleted $gone")
    assert(held.select("value").collect().map(_.getDouble(0)).sorted.toSeq
      == Seq(1.0, 2.0))
    // once the VERSIONS age past the grace too, the bytes reclaim
    val mdir = new java.io.File(s"$dir/_manifests")
    walk(mdir).foreach(f => assert(f.setLastModified(old)))
    val gone2 = ManifestStore.vacuum(spark, dir, graceMs = 1800L * 1000)
    assert(gone2.nonEmpty, "aged-out pre-compaction bytes never reclaimed")
    assert(ManifestStore.read(spark, dir, 0).count() == 2)
  }

  test("vacuum completes when a staging directory vanishes mid-walk and " +
      "deletes exactly the unreferenced out-of-grace files") {
    val dir = Files.createTempDirectory("mstore").toString
    ManifestStore.commit(samples(("c", T0 + 1 * NS, 1.0),
      ("d", T0 + 2 * NS, 2.0)), dir, 0)
    def plant(rel: String, mtime: Long): java.io.File = {
      val f = new java.io.File(s"$dir/data/$rel")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
      assert(f.setLastModified(mtime))
      f
    }
    val hourAgo = System.currentTimeMillis() - 3600L * 1000
    val orphan = plant("commit-orphan/level=0/part-old.parquet", hourAgo)
    val young = plant("commit-young/part-young.parquet",
      System.currentTimeMillis())
    // an in-flight commit's staging dir: the walk lists it, then it is
    // gone before the walk descends into it
    val inflight = plant("commit-inflight/_temporary/0/part-tmp.parquet",
      hourAgo)
    spark.sparkContext.hadoopConfiguration.set("fs.vanish.impl",
      classOf[VanishingTempFileSystem].getName)
    val gone = ManifestStore.vacuum(spark, s"vanish:$dir",
      graceMs = 1800L * 1000)
    assert(!inflight.getParentFile.exists(), "the staging dir never vanished")
    assert(gone.map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath) ==
      Seq(orphan.getPath))
    assert(!orphan.exists() && young.exists())
    assert(ManifestStore.read(spark, dir, 0).count() == 2)
  }

  test("vacuum dereference-grace: an idle store's OLD latest version stays " +
      "protected for a full grace after a fresh commit supersedes it") {
    val dir = Files.createTempDirectory("mstore").toString
    ManifestStore.commit(samples(("c", T0 + 1 * NS, 1.0)), dir, 0)
    ManifestStore.commit(samples(("c", T0 + 2 * NS, 2.0)), dir, 0)
    val idleLatest = ManifestStore.latestManifest(spark, dir).get
    // the store sits idle past the grace: BOTH the data files and the
    // version files age out — under an own-mtime-only rule the idle
    // latest is unprotected the instant anything supersedes it
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val old = System.currentTimeMillis() - 3600L * 1000
    (walk(new java.io.File(s"$dir/data")) ++
      walk(new java.io.File(s"$dir/_manifests")))
      .foreach(f => assert(f.setLastModified(old)))
    // a reader resolves the idle latest moments before compaction…
    val held = ManifestStore.readVersion(spark, dir, idleLatest.version, 0)
    // …which commits a FRESH successor, dereferencing it right now
    ManifestStore.compactAll(spark, dir, levelSec = 0)
    // grace 30 min, measured from DEREFERENCE (the successor's mtime):
    // every pre-compaction data file has a 1 h mtime and so does the
    // superseded version file, yet all must survive
    val gone = ManifestStore.vacuum(spark, dir, graceMs = 1800L * 1000)
    assert(gone.filterNot(_.endsWith("_SUCCESS")).isEmpty,
      s"dereference-grace violated: deleted $gone")
    // the superseded version stays fully readable — files AND manifest
    assert(held.select("value").collect().map(_.getDouble(0)).sorted.toSeq
      == Seq(1.0, 2.0))
    assert(ManifestStore
      .readVersion(spark, dir, idleLatest.version, 0).count() == 2)
    // once the SUCCESSOR ages past the grace too, the bytes reclaim
    walk(new java.io.File(s"$dir/_manifests"))
      .foreach(f => assert(f.setLastModified(old)))
    val gone2 = ManifestStore.vacuum(spark, dir, graceMs = 1800L * 1000)
    assert(gone2.filterNot(_.endsWith("_SUCCESS")).nonEmpty,
      "aged-out superseded bytes never reclaimed")
    assert(ManifestStore.read(spark, dir, 0).count() == 2)
  }

  test("retention drops expired days from the manifest without a data scan; vacuum deletes bytes") {
    val dir = Files.createTempDirectory("mstore").toString
    ManifestStore.commit(samples(
      ("c", T0 + 1 * NS, 1.0),
      ("c", T0 + 5 * DAY, 2.0),
      ("c", T0 + 10 * DAY, 3.0)), dir, 0)

    val dropped = ManifestStore.applyRetention(spark, dir, 0, 7 * DAY)
    assert(dropped.size == 1 && dropped.head.contains("bucket_date=2024-01-01"))
    val left = ManifestStore.read(spark, dir, 0)
      .select("value").collect().map(_.getDouble(0)).sorted.toSeq
    assert(left == Seq(2.0, 3.0))

    // bytes still on disk (old snapshot readable), then vacuum removes them
    val deleted = ManifestStore.vacuum(spark, dir, graceMs = 0)
    assert(deleted.exists(_.contains("bucket_date=2024-01-01")))
    assert(ManifestStore.read(spark, dir, 0).count() == 2)
  }

  test("level frontiers survive a 40-commit chain, compaction, retention, " +
      "replaceRange and vacuum; deltas carry only moved channels") {
    import ManifestStore.Frontier
    val dir = Files.createTempDirectory("mfront").toString
    def latest = ManifestStore.latestManifest(spark, dir).get
    var expect = Map.empty[Long, Map[String, Frontier]]
    def move(level: Long, rows: DataFrame, moved: Map[String, Frontier]): Long = {
      val v = ManifestStore.commitLevel(rows, dir, level,
        latest.frontiers.get(level), moved)
      expect += level -> (expect.getOrElse(level, Map.empty) ++ moved)
      v
    }
    def pad(to: Long): Unit =
      while (latest.version < to)
        ManifestStore.commitEntries(spark, dir, Nil, latest.schema)
    def check(what: String): Unit = {
      assert(latest.frontiers == expect, what)
      ManifestStore.clearAssembledMemo()
      assert(latest.frontiers == expect, s"$what, cold fold")
    }
    def frontiersAt(v: Long) = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Paths.get(dir, "_manifests",
        f"v$v%012d.json").toFile).get("frontiers")

    ManifestStore.commit(samples(("a", T0 + NS, 1.0)), dir, 0)
    move(60L, samples(("a", T0 + NS, 1.0), ("b", T0 + 2 * NS, 2.0)),
      Map("a" -> Frontier(1L, 0L), "b" -> Frontier(2L, 1L)))
    // a level built over no channels is still a built level
    move(900L, samples(), Map.empty)
    pad(30L)
    move(60L, samples(("a", T0 + DAY + NS, 3.0)),
      Map("a" -> Frontier(10L, 9L)))
    pad(ManifestStore.CheckpointInterval) // the checkpoint
    val vb = move(60L, samples(("b", T0 + 2 * DAY + NS, 4.0)),
      Map("b" -> Frontier(20L, 19L)))
    pad(41L)
    check("40-commit chain")
    val cp = frontiersAt(ManifestStore.CheckpointInterval)
    assert(cp.get("60").size == 2 && cp.has("900"))
    val delta = frontiersAt(vb)
    assert(delta.size == 1 && delta.get("60").size == 1 &&
      delta.get("60").has("b"), delta.toString)
    assert(frontiersAt(vb + 1) == null, "a padding commit moved frontiers")

    ManifestStore.compact(spark, dir, 60L, "2024-01-01")
    check("compaction")
    assert(ManifestStore.applyRetention(spark, dir, 60L, DAY).nonEmpty)
    check("retention")
    ManifestStore.replaceRange(spark, dir, 60L, Set("2024-01-02"),
      samples(("a", T0 + DAY + 5 * NS, 7.0)))
    check("replaceRange")
    ManifestStore.vacuum(spark, dir, graceMs = 0)
    check("vacuum")
    // a commit from a stale frontier publishes nothing
    val v = latest.version
    assert(ManifestStore.commitLevel(samples(("a", T0 + 3 * DAY, 9.0)),
      dir, 60L, Some(Map("a" -> Frontier(1L, 0L))),
      Map("a" -> Frontier(99L, 98L))) == v)
    assert(latest.version == v)
    check("stale commit")
  }

  test("Maintenance.run converges a fragmented multi-level store in one idempotent call") {
    import graft.archive.Maintenance
    val dir = Files.createTempDirectory("maint").toString
    // fragment two levels: 3 tiny commits each on the same days, plus
    // an expired old day on the raw level
    for (i <- 0 until 3) {
      ManifestStore.commit(samples(
        ("c", T0 + 10 * DAY + i * NS, i.toDouble),
        ("c", T0 + 11 * DAY + i * NS, 10.0 + i)), dir, 0)
      ManifestStore.commit(samples(
        ("c", T0 + 10 * DAY + i * NS, 20.0 + i)), dir, 3600)
    }
    ManifestStore.commit(samples(("c", T0 + 1 * NS, 99.0)), dir, 0)

    val before = ManifestStore.read(spark, dir, 0)
      .where(col("ts") >= T0 + 10 * DAY)
      .select("value").collect().map(_.getDouble(0)).sorted.toSeq
    val m0 = ManifestStore.latestManifest(spark, dir).get
    assert(m0.files.count(_.levelSec == 0L) >= 7)

    // ONE call: compact both levels, apply per-level retention (7 days
    // on raw — the T0 day expires), vacuum the orphaned bytes
    val report = Maintenance.run(spark, dir,
      retentionSec = Map(0L -> 7L * 86400L))
    assert(report.compacted.nonEmpty)
    assert(report.retainedPaths(0L).exists(_.contains("2024-01-01")))
    assert(report.vacuumed.nonEmpty)

    // reads identical before/after on the surviving range; fragments
    // collapsed to one file per (level, day)
    val after = ManifestStore.read(spark, dir, 0)
      .select("value").collect().map(_.getDouble(0)).sorted.toSeq
    assert(after == before)
    assert(ManifestStore.read(spark, dir, 3600)
      .select("value").collect().map(_.getDouble(0)).sorted.toSeq
      == Seq(20.0, 21.0, 22.0))
    val m1 = ManifestStore.latestManifest(spark, dir).get
    assert(m1.files.groupBy(f => (f.levelSec, f.bucketDate))
      .forall(_._2.size == 1))

    // a second run is a no-op
    assert(Maintenance.run(spark, dir,
      retentionSec = Map(0L -> 7L * 86400L)).isNoop)
  }

  test("a lost commit race retries and lands on the next version") {
    val dir = Files.createTempDirectory("mstore").toString
    ManifestStore.commit(samples(("c", T0 + 1 * NS, 1.0)), dir, 0)
    // squat on v2 with a copy of v1 — as if another writer committed
    // between this writer's read and its write
    val m1 = ManifestStore.latestManifest(spark, dir).get
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val v1 = new org.apache.hadoop.fs.Path(s"$dir/_manifests/v${"%012d".format(1)}.json")
    val v2 = new org.apache.hadoop.fs.Path(s"$dir/_manifests/v${"%012d".format(2)}.json")
    org.apache.hadoop.fs.FileUtil.copy(fs, v1, fs, v2, false,
      spark.sparkContext.hadoopConfiguration)
    // overwrite the squatter's version field so it parses as v2
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_manifests/v${"%012d".format(2)}.json")))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_manifests/v${"%012d".format(2)}.json"),
      raw.replace("\"version\" : 1", "\"version\" : 2").getBytes)
    // the edit bypassed the Hadoop local FS — drop its stale checksum
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/_manifests/.v${"%012d".format(2)}.json.crc"), false)

    val v = ManifestStore.commit(samples(("c", T0 + 2 * NS, 2.0)), dir, 0)
    assert(v == 3L) // lost v2, retried, won v3
    // both the squatter's files (= v1's) and the new commit are live
    assert(ManifestStore.read(spark, dir, 0).count() == 2)
    assert(m1.files.size == 1)
  }

  test("compaction candidates come from manifest stats and clear after compact") {
    val dir = Files.createTempDirectory("mstore").toString
    ManifestStore.commit(samples(("c", T0 + 1 * NS, 1.0)), dir, 0)
    ManifestStore.commit(samples(("c", T0 + 2 * NS, 2.0)), dir, 0)
    ManifestStore.commit(samples(("c", T0 + DAY, 3.0)), dir, 0) // other day, 1 file
    val cands = ManifestStore.compactionCandidates(spark, dir)
    assert(cands.map(c => (c.levelSec, c.bucketDate, c.files)) ==
      Seq((0L, "2024-01-01", 2)))
    assert(cands.head.bytes > 0 && cands.head.rows == 2)
    ManifestStore.compact(spark, dir, 0, "2024-01-01")
    assert(ManifestStore.compactionCandidates(spark, dir).isEmpty)
  }

  test("compactAll rewrites every fragmented day in one commit; rows survive") {
    val dir = Files.createTempDirectory("mstore").toString
    // two fragmented days (2 files each) + one healthy day (1 file)
    ManifestStore.commit(samples(("a", T0 + 1 * NS, 1.0),
      ("a", T0 + DAY + 1 * NS, 3.0)), dir, 0)
    ManifestStore.commit(samples(("b", T0 + 2 * NS, 2.0),
      ("b", T0 + DAY + 2 * NS, 4.0)), dir, 0)
    ManifestStore.commit(samples(("c", T0 + 2 * DAY, 5.0)), dir, 0)
    val before = ManifestStore.read(spark, dir, 0)
      .select("channel", "ts", "value").collect().toSet
    val v0 = ManifestStore.latestManifest(spark, dir).get.version
    val done = ManifestStore.compactAll(spark, dir, 0)
    assert(done.map(_.bucketDate).toSet == Set("2024-01-01", "2024-01-02"))
    // one version bump for the whole batch
    assert(ManifestStore.latestManifest(spark, dir).get.version == v0 + 1)
    assert(ManifestStore.compactionCandidates(spark, dir).isEmpty)
    val after = ManifestStore.read(spark, dir, 0)
      .select("channel", "ts", "value").collect().toSet
    assert(after == before)
    // each rewritten day is one file now; untouched day still there
    val days = ManifestStore.read(spark, dir, 0)
      .select(col("bucket_date").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(days == Set("2024-01-01", "2024-01-02", "2024-01-03"))
  }

  test("channel-range stats prune files for single-channel reads") {
    val dir = Files.createTempDirectory("mstore").toString
    // two commits → two files for the same day, disjoint channel ranges
    ManifestStore.commit(samples(("alpha", T0 + 1 * NS, 1.0),
      ("beta", T0 + 2 * NS, 2.0)), dir, 0)
    ManifestStore.commit(samples(("zeta", T0 + 3 * NS, 3.0)), dir, 0)
    val m = ManifestStore.latestManifest(spark, dir).get
    assert(m.files.forall(f => f.chMin.isDefined && f.chMax.isDefined))

    val pruned = ManifestStore.read(spark, dir, 0, channel = Some("zeta"))
    assert(pruned.inputFiles.length == 1)
    assert(pruned.where(col("channel") === "zeta").count() == 1)
    // a channel outside every range reads zero files
    assert(ManifestStore.read(spark, dir, 0, channel = Some("nu"))
      .inputFiles.isEmpty)
    // no hint → all files
    assert(ManifestStore.read(spark, dir, 0).inputFiles.length == 2)
  }

  test("the store is relocatable: copy the directory, read from the new root") {
    val dir = Files.createTempDirectory("mstore_src").toString
    ManifestStore.commit(samples(("c", T0 + 1 * NS, 1.0),
      ("c", T0 + DAY, 2.0)), dir, 0)
    val moved = Files.createTempDirectory("mstore_dst").toString + "/copy"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(dir), fs,
      new org.apache.hadoop.fs.Path(moved), false,
      spark.sparkContext.hadoopConfiguration)
    val got = ManifestStore.read(spark, moved, 0)
      .select("value").collect().map(_.getDouble(0)).sorted.toSeq
    assert(got == Seq(1.0, 2.0))
    // vacuum on the copy keeps every live data file (only write markers
    // like _SUCCESS are unreferenced)
    assert(!ManifestStore.vacuum(spark, moved, graceMs = 0)
      .exists(_.endsWith(".parquet")))
    assert(ManifestStore.read(spark, moved, 0).count() == 2)
  }

  test("idempotent commit: a replayed batch id is a no-op") {
    val dir = Files.createTempDirectory("mstore").toString
    ManifestStore.commitIdempotent(samples(("c", T0 + 1 * NS, 1.0)),
      dir, 0, "w1", batchId = 0)
    ManifestStore.commitIdempotent(samples(("c", T0 + 2 * NS, 2.0)),
      dir, 0, "w1", batchId = 1)
    val v = ManifestStore.latestManifest(spark, dir).get.version
    // replay batch 1 with (possibly different) data — must change nothing
    ManifestStore.commitIdempotent(samples(("c", T0 + 3 * NS, 99.0)),
      dir, 0, "w1", batchId = 1)
    val m = ManifestStore.latestManifest(spark, dir).get
    assert(m.version == v)
    assert(m.txns == Map("w1" -> 1L))
    val got = ManifestStore.read(spark, dir, 0)
      .select("value").collect().map(_.getDouble(0)).sorted.toSeq
    assert(got == Seq(1.0, 2.0))
    // a different writer's batch 1 is independent
    ManifestStore.commitIdempotent(samples(("c", T0 + 4 * NS, 4.0)),
      dir, 0, "w2", batchId = 1)
    assert(ManifestStore.read(spark, dir, 0).count() == 3)
  }

  test("id-keyed commit serves renamed channels without rewriting data") {
    import graft.archive.{ChannelConfig, ChannelRegistry}
    val dir = Files.createTempDirectory("mstore").toString
    val raw = Seq(("pv:old", T0 + 1000L, 1.5, 1L))
      .toDF("channel", "ts", "value", "sample_id")
    val before = Seq(ChannelConfig("pv:old", "d-123", "ca", enabled = true,
      Map(), Map()))
    ManifestStore.commitById(
      ChannelRegistry.resolveToId(raw, before), dir, 0L)
    val v = ManifestStore.latestManifest(spark, dir).get.version

    val after = Seq(ChannelConfig("pv:new", "d-123", "ca", enabled = true,
      Map(), Map()))
    val got = ManifestStore.readById(spark, dir, after, 0L)
      .select("channel", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == Seq(("pv:new", 1.5)))
    // rename touched no data: same manifest version, no new files
    assert(ManifestStore.latestManifest(spark, dir).get.version == v)
  }

  test("empty clip returns an empty frame with the full schema") {
    val dir = Files.createTempDirectory("mstore").toString
    ManifestStore.commit(samples(("c", T0 + 1 * NS, 1.0)), dir, 0)
    val none = ManifestStore.read(spark, dir, 0,
      loNs = Some(T0 + 100 * DAY), hiNs = Some(T0 + 101 * DAY))
    assert(none.count() == 0)
    assert(none.columns.contains("value") && none.columns.contains("level"))
  }

  test("registerManifestStore exposes levels as SQL views") {
    val dir = Files.createTempDirectory("mstore_sql").toString
    ManifestStore.commit(samples(("c", T0 + 1 * NS, 1.0),
      ("c", T0 + 2 * NS, 2.0)), dir, 0)
    ManifestStore.commit(
      Seq(("c", T0, 1.5)).toDF("channel", "ts", "mean"), dir, 3600)
    GraftSession.registerManifestStore(spark, dir, "arch")
    assert(spark.sql("SELECT count(*) FROM arch_raw").head.getLong(0) == 2)
    assert(spark.sql("SELECT mean FROM arch_l3600").head.getDouble(0) == 1.5)
  }

  test("property: random append/compact/retention/vacuum sequences match an in-memory model") {
    val rnd = new scala.util.Random(20260813L)
    val dir = Files.createTempDirectory("mstore_prop").toString
    // model: per level, the set of (channel, ts, value) rows live
    val model = scala.collection.mutable.Map.empty[Long,
      scala.collection.mutable.Set[(String, Long, Double)]]
    var nextV = 1.0

    def modelRows(level: Long) =
      model.getOrElse(level, scala.collection.mutable.Set.empty)

    def checkAll(): Unit =
      for (l <- model.keys) {
        val got = ManifestStore.read(spark, dir, l)
          .select("channel", "ts", "value").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
        assert(got == modelRows(l).toSet, s"level $l diverged from model")
      }

    for (step <- 1 to 18) {
      rnd.nextInt(4) match {
        case 0 | 1 => // append 1-4 rows at a random level/day
          val level = Seq(0L, 60L)(rnd.nextInt(2))
          val rows = (0 until 1 + rnd.nextInt(4)).map { _ =>
            val ch = s"c${rnd.nextInt(3)}"
            val ts = T0 + rnd.nextInt(5) * DAY + rnd.nextInt(1000) * NS
            nextV += 1
            (ch, ts, nextV)
          }
          ManifestStore.commit(samples(rows: _*), dir, level)
          model.getOrElseUpdate(level,
            scala.collection.mutable.Set.empty) ++= rows
        case 2 if model.nonEmpty => // compact a random (level, day)
          val level = model.keys.toSeq(rnd.nextInt(model.size))
          val m = ManifestStore.latestManifest(spark, dir).get
          val days = m.files.filter(_.levelSec == level).map(_.bucketDate)
          if (days.nonEmpty)
            ManifestStore.compact(spark, dir, level,
              days(rnd.nextInt(days.size)), targetFiles = 1)
        case 3 if model.nonEmpty => // retention at a random level
          val level = model.keys.toSeq(rnd.nextInt(model.size))
          val rows = modelRows(level)
          if (rows.nonEmpty) {
            val retention = (1 + rnd.nextInt(5)) * DAY
            val horizon = rows.map(_._2).max - retention
            ManifestStore.applyRetention(spark, dir, level, retention)
            // model: drop rows in days whose END predates the horizon
            val dead = rows.filter { case (_, ts, _) =>
              val dayStart = ts - (ts % DAY)
              dayStart + DAY - 1 < horizon
            }
            rows --= dead
          }
        case _ => // nothing this step (e.g. compact with no levels yet)
      }
      if (rnd.nextInt(3) == 0) ManifestStore.vacuum(spark, dir, graceMs = 0)
      checkAll()
    }
    // vacuum must never delete live data
    ManifestStore.vacuum(spark, dir, graceMs = 0)
    checkAll()
  }
}

/** The local file system under the `vanish:` scheme, where every
  * `_temporary` directory is deleted right after a listing reports it
  * — a concurrent commit's staging dir disappearing mid-walk. Like the
  * local FS, a listed status loads its permissions lazily, and that
  * load fails once the path is gone.
  */
class VanishingTempFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission

  override def getUri: java.net.URI = java.net.URI.create("vanish:///")
  override def getScheme: String = "vanish"
  override def listStatus(p: Path): Array[FileStatus] = {
    val sts = super.listStatus(p).map(st =>
      new FileStatus(st.getLen, st.isDirectory, 1, st.getBlockSize,
          st.getModificationTime, st.getPath) {
        override def getPermission: FsPermission =
          if (new java.io.File(getPath.toUri.getPath).exists())
            super.getPermission
          else throw new RuntimeException(s"ls: cannot access $getPath")
      })
    sts.filter(st => st.isDirectory && st.getPath.getName == "_temporary")
      .foreach(st => org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(st.getPath.toUri.getPath)))
    sts
  }
}
