package graft.archive

import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path}

/** One `v%012d.json` version log per store root, in directory
  * `<root>/<subdir>` — the layout shared by the manifest log
  * ([[ManifestStore]], `_manifests`), the channel-config log
  * ([[ConfigCommands]], `_config`) and the user log ([[UserStore]],
  * `_users`). Each version file is immutable once published, and a
  * writer claims version N only after a listing showed N-1 as the
  * highest, so a log has no gap ABOVE any surviving version: log
  * retention, config pruning and [[ManifestStore.vacuum]] all delete
  * a prefix.
  *
  * Two ways to find the head:
  *  - [[list]]: the authoritative directory listing. Commit loops take
  *    exactly one per attempt — it feeds both the base state and the
  *    claimed version, and pruning reuses it;
  *  - [[head]]: the reader's probe, constant cost on a quiet log. It
  *    starts at the highest version this JVM has seen for the root,
  *    checks that file still exists, then steps up while the next
  *    version exists — by the no-gap rule that is the head a listing
  *    would report, found with two existence checks instead of a
  *    directory listing that stats every entry (`.crc` siblings
  *    included). When the remembered file is gone (root deleted or
  *    recreated, or the version pruned or vacuumed while this JVM was
  *    not looking) it falls back to [[list]].
  *
  * What a probe costs: on a quiet log, two `FileSystem.exists` calls
  * (the head and head+1) and nothing else; on the local file system
  * they go to the raw one beneath the checksums, a plain file check.
  * Each root's directory
  * `Path` and the version-file `Path`s it probes are built once and
  * kept (parsing a Hadoop `Path` is a `java.net.URI` parse, which cost
  * more than the checks themselves), and file names are zero-padded by
  * hand rather than through `java.util.Formatter`. The kept `Path`s
  * are names only, so a root deleted and recreated reuses them; both
  * maps are bounded. An HTTP request resolves each of its two logs
  * (manifest and config) once ([[ConfiguredArchive.Snapshot]]), so a
  * steady-state `/1/samples` request costs four existence checks.
  *
  * Regression rule: a root deleted and recreated at the same path
  * restarts version numbering, so every (root, version)-keyed memo in
  * the process would address the DEAD log's content. The recorded max
  * only moves up; an observation below it is either stale (a listing
  * that began before a commit another thread already saw) or a real
  * regression, and only a fresh listing tells them apart. Callbacks
  * registered with [[onRegression]] run once per confirmed regression.
  */
private[graft] final class VersionLog(subdir: String) {

  /** A root's log directory and the version-file paths probed in it. */
  private final class Dir(root: String) {
    val path = new Path(s"$root/$subdir")
    private val files =
      new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Path]()
    def file(v: Long): Path = {
      val hit = files.get(v)
      if (hit != null) hit
      else {
        // a reader probes the head and head+1, so old entries are dead
        if (files.size >= VersionLog.MaxPaths) files.clear()
        val p = new Path(path, VersionLog.fileName(v))
        files.put(v, p)
        p
      }
    }
  }

  private val dirs = new java.util.concurrent.ConcurrentHashMap[String, Dir]()

  private def dirOf(root: String): Dir = {
    val hit = dirs.get(root)
    if (hit != null) hit
    else {
      if (dirs.size >= VersionLog.MaxRoots) dirs.clear()
      dirs.computeIfAbsent(root, new Dir(_))
    }
  }

  private def dir(root: String): Path = dirOf(root).path

  private def file(root: String, v: Long): Path = dirOf(root).file(v)

  private val maxSeen =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private val purgers =
    new java.util.concurrent.CopyOnWriteArrayList[String => Unit]()

  /** Register a purge run with the root whenever a regression (root
    * recreated) is confirmed. */
  def onRegression(purge: String => Unit): Unit = { purgers.add(purge); () }

  /** Every version file with its status, ascending by version. Foreign
    * files (backups, editor copies, `.crc` siblings, claim temps) are
    * ignored, not fatal. Records nothing. */
  def statuses(f: FileSystem, root: String): Seq[(Long, FileStatus)] = {
    val d = dir(root)
    if (!f.exists(d)) return Nil
    f.listStatus(d).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("v") && n.endsWith(".json"))
        n.stripPrefix("v").stripSuffix(".json").toLongOption.map(_ -> st)
      else None
    }.sortBy(_._1)
  }

  /** All committed version numbers, ascending — one directory listing.
    * An empty listing observes version 0, so a deleted log is noticed
    * by the next commit that lists it. */
  def list(f: FileSystem, root: String): Seq[Long] = {
    val vs = statuses(f, root).map(_._1)
    observe(f, root, vs.lastOption.getOrElse(0L))
    vs
  }

  /** The head version, or None for an empty or missing log (see the
    * class doc for the probe and its fallback). */
  def head(f: FileSystem, root: String): Option[Long] = {
    val seen = maxSeen.get(root)
    val h = if (seen == null) 0L else seen.longValue
    // the local file system's `exists` builds a full file status (a
    // qualified Path, the access time); the raw one beneath its
    // checksums asks the file itself, and sees the same version files
    val probe = f match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case _ => f
    }
    // version 1 may be pruned, so an empty observation proves nothing
    // about where a log created since then starts
    if (h == 0L || !probe.exists(file(root, h))) list(f, root).lastOption
    else {
      var v = h
      while (probe.exists(file(root, v + 1))) v += 1
      if (v > h) observe(f, root, v)
      Some(v)
    }
  }

  /** [[head]]'s version passed to `read`. A head that fails to read —
    * it vanished between the probe and the read (root deleted, or a
    * lagging probe overtaken by pruning), or it is an unreadable
    * squatter (a truncated or hand-edited file; the publish itself is
    * atomic) — is re-resolved by one listing, newest readable first. */
  def readHead[A](f: FileSystem, root: String)(read: Long => A): Option[A] =
    head(f, root).flatMap { v =>
      scala.util.Try(read(v)).toOption
        .orElse(newestReadable(root, list(f, root))(read))
    }

  /** The newest of `versions` (ascending, from ONE listing) that `read`
    * accepts. Commit loops base the next version and the base state on
    * one listing (two listings are a lost-update race) and claim above
    * the listing's top, so an unreadable squatter is skipped here and
    * overtaken by the next commit instead of wedging the log. Throws
    * only when even the oldest version is unreadable: a corrupt log
    * must fail loudly, not silently reset.
    */
  def newestReadable[A](root: String, versions: Seq[Long])
                       (read: Long => A): Option[A] =
    versions.reverseIterator
      .map(v => v -> scala.util.Try(read(v)))
      .collectFirst {
        case (_, scala.util.Success(a)) => a
        case (v, scala.util.Failure(e)) if v == versions.head =>
          throw new java.io.IOException(
            s"no readable version under ${dir(root)} (last error on v$v)", e)
      }

  /** Record that `v` was the head some reader saw. A value below the
    * recorded max triggers one fresh listing; the purges run only when
    * it confirms the lower head, once per regression. */
  def observe(f: FileSystem, root: String, v: Long): Unit = {
    val prev = maxSeen.merge(root, v, (a, b) => math.max(a, b))
    if (v < prev) {
      val now = statuses(f, root).lastOption.fold(0L)(_._1)
      // one purge per regression: a concurrent confirmer loses the CAS
      if (now < prev && maxSeen.replace(root, prev, now))
        purgers.forEach(p => p(root))
    }
  }

  /** The bytes of version `v`. */
  def read(f: FileSystem, root: String, v: Long): Array[Byte] = {
    val in = f.open(file(root, v))
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      out.toByteArray
    } finally in.close()
  }

  /** Publish version `v`: write `bytes` to a hidden temp file, then
    * claim the version with [[AtomicClaim.publish]] — readers never see
    * a half-written version. Returns true iff this writer won `v`; real
    * write failures (disk full, permissions) propagate instead of
    * masquerading as lost races.
    */
  def claim(f: FileSystem, root: String, v: Long)
           (bytes: => Array[Byte]): Boolean = {
    f.mkdirs(dir(root))
    val target = file(root, v)
    if (f.exists(target)) return false
    val tmp = new Path(dir(root),
      s".tmp-${java.util.UUID.randomUUID().toString.take(12)}")
    val out = f.create(tmp, /* overwrite = */ false)
    try out.write(bytes) finally out.close()
    AtomicClaim.publish(f, tmp, target)
  }

  /** Best-effort delete of version `v`: a lost race or an IO hiccup
    * leaves the file for the next prune. */
  def delete(f: FileSystem, root: String, v: Long): Unit =
    try { f.delete(file(root, v), false); () }
    catch { case _: java.io.IOException => () }
}

private[graft] object VersionLog {

  private val MaxRoots = 1024
  private val MaxPaths = 64

  /** `v%012d.json` for a version `v >= 0`, without `java.util.Formatter`. */
  def fileName(v: Long): String = {
    val digits = java.lang.Long.toString(v)
    val sb = new java.lang.StringBuilder(18).append('v')
    var pad = 12 - digits.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(digits).append(".json").toString
  }

  private val fileSystems = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.hadoop.conf.Configuration, FileSystem)]()

  /** The file system of a log's `root` under `conf`, resolved once per
    * root: `Path.getFileSystem` parses the root and looks the user up
    * in Hadoop's file-system cache on every call. */
  def fs(conf: org.apache.hadoop.conf.Configuration,
         root: String): FileSystem = {
    val hit = fileSystems.get(root)
    if (hit != null && (hit._1 eq conf)) hit._2
    else {
      val f = new Path(root).getFileSystem(conf)
      if (fileSystems.size >= MaxRoots) fileSystems.clear()
      fileSystems.put(root, (conf, f))
      f
    }
  }
}

/** A version log whose every version carries the COMPLETE state — the
  * channel-config log ([[ConfigCommands]]) and the user log
  * ([[UserStore]]). Old versions serve no reconstruction purpose, so
  * each commit prunes all but the last [[KeepVersions]] (they only
  * grow the directory listing every commit pays); the tail protects
  * readers that resolved the head just before the prune.
  *
  * Parsed states are memoized per (root, version): a version file is
  * immutable once published, so a parsed state never goes stale, and
  * the serving edge reads a state several times per request. The
  * regression rule purges a recreated root's entries.
  *
  * An unreadable version (a truncated or hand-edited head) is skipped
  * by readers and overtaken by the next commit, as in the manifest log
  * ([[VersionLog.newestReadable]]).
  */
private[graft] final class StateLog[S](subdir: String, empty: S,
                                       memoMax: Int,
                                       encode: S => Array[Byte],
                                       decode: Array[Byte] => S,
                                       withVersion: (S, Long) => S) {

  private val log = new VersionLog(subdir)

  private val KeepVersions = 16

  /** Also purge `purge`'s per-root state when a root is recreated. */
  def onRegression(purge: String => Unit): Unit = log.onRegression(purge)

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), S]()
  log.onRegression(root => memo.keySet.removeIf(_._1 == root))

  private def fs(spark: org.apache.spark.sql.SparkSession,
                 root: String): FileSystem =
    VersionLog.fs(spark.sparkContext.hadoopConfiguration, root)

  private def at(f: FileSystem, root: String, v: Long): S = {
    val hit = memo.get((root, v))
    if (hit != null) hit
    else {
      val st = decode(log.read(f, root, v))
      if (memo.size > memoMax) memo.clear()
      memo.put((root, v), st)
      st
    }
  }

  /** Whether the log has no version at all (readable or not). */
  def isEmpty(spark: org.apache.spark.sql.SparkSession, root: String): Boolean =
    log.head(fs(spark, root), root).isEmpty

  /** The latest readable state (`empty` for a new log). */
  def state(spark: org.apache.spark.sql.SparkSession, root: String): S = {
    val f = fs(spark, root)
    log.readHead(f, root)(at(f, root, _)).getOrElse(empty)
  }

  /** Optimistic CAS commit: `update` re-runs against the refreshed
    * state on a lost race, so its validations hold against what was
    * actually committed. One listing per attempt feeds the base state,
    * the claimed version and the prune.
    */
  def commit(spark: org.apache.spark.sql.SparkSession, root: String)
            (update: S => S): S = {
    val f = fs(spark, root)
    var attempts = 0
    while (attempts < 50) {
      val versions = log.list(f, root)
      val cur = log.newestReadable(root, versions)(at(f, root, _))
        .getOrElse(empty)
      val v = versions.lastOption.getOrElse(0L) + 1
      val next = withVersion(update(cur), v)
      if (log.claim(f, root, v)(encode(next))) {
        versions.filter(_ < v - KeepVersions).foreach(log.delete(f, root, _))
        return next
      }
      attempts += 1
    }
    throw new java.io.IOException(
      s"commit to $root/$subdir lost $attempts races — giving up")
  }
}
