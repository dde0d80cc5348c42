package graft.archive

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

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
  * Regression rule: a root deleted and recreated at the same path
  * restarts version numbering, so every (root, version)-keyed memo in
  * the process would address the DEAD log's content. The recorded max
  * only moves up; an observation below it is either stale (a listing
  * that began before a commit another thread already saw) or a real
  * regression, and only a fresh listing tells them apart. Callbacks
  * registered with [[onRegression]] run once per confirmed regression.
  */
private[graft] final class VersionLog(subdir: String) {

  private def dir(root: String): Path = new Path(s"$root/$subdir")

  private def file(root: String, v: Long): Path =
    new Path(dir(root), f"v$v%012d.json")

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
    // version 1 may be pruned, so an empty observation proves nothing
    // about where a log created since then starts
    if (h == 0L || !f.exists(file(root, h))) list(f, root).lastOption
    else {
      var v = h
      while (f.exists(file(root, v + 1))) v += 1
      if (v > h) observe(f, root, v)
      Some(v)
    }
  }

  /** [[head]]'s version passed to `read`. A head file that vanishes
    * between the probe and the read (root deleted, or a lagging probe
    * overtaken by pruning) is re-resolved by one listing. */
  def readHead[A](f: FileSystem, root: String)(read: Long => A): Option[A] =
    head(f, root).flatMap { v =>
      try Some(read(v))
      catch {
        case _: java.io.FileNotFoundException =>
          list(f, root).lastOption.map(read)
      }
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
