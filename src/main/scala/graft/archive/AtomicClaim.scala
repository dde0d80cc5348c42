package graft.archive

import org.apache.hadoop.fs.{FileSystem, Path}

/** Atomic exclusive claim of an immutable version file: publish `tmp`
  * (already fully written) at `target` iff no other writer got there
  * first.
  *
  * The claim is load-bearing for both optimistic-CAS commit protocols
  * ([[ManifestStore]] and [[ConfigCommands]]): two racing committers
  * must never BOTH report success for one version, or the overwritten
  * manifest silently vanishes with its whole commit. On HDFS,
  * `rename` refuses an existing destination, so tmp+rename IS the
  * claim. On the LOCAL filesystem, Hadoop's rename delegates to
  * java.io.File.renameTo, which OVERWRITES an existing target — a
  * lost-update hole ManifestStoreSpec's concurrent-writers race
  * catches reliably at 8 threads — so the local claim goes through
  * POSIX link(2) instead: hard-linking tmp at target throws
  * FileAlreadyExistsException atomically when the version is taken.
  * Object stores have no atomic rename at all; a real deployment
  * there fronts the log with a CAS primitive (conditional PUT or an
  * external lock table, the Delta-on-S3 LogStore pattern) — noted,
  * out of scope for this repo's HDFS/local surface.
  *
  * `tmp` is deleted in every outcome. Returns whether we won the
  * version.
  */
object AtomicClaim {
  def publish(f: FileSystem, tmp: Path, target: Path): Boolean =
    // finally, not post-hoc: a transient claim failure (HDFS rename
    // IOException, local AccessDenied) must not orphan the .tmp file —
    // nothing else ever collects it (vacuum only deletes v*.json) and
    // leaked tmps grow the directory LIST every commit pays
    try {
      if (f.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else !f.exists(target) && f.rename(tmp, target)
    } finally f.delete(tmp, false)
}
