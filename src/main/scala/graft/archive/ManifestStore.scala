package graft.archive

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Manifest-committed sample store — the transaction-log layout the
  * plain-parquet [[ArchiveStore]] approximates with directory renames,
  * made explicit (the same protocol Delta Lake / Iceberg use, reduced
  * to what an archive store needs):
  *
  *  - every write is a COMMIT: data files land under `data/` with
  *    unique names, then a new manifest version
  *    (`_manifests/v{N}.json`) listing the complete live file set is
  *    created with an exclusive-create — readers either see the old
  *    version or the new one, never a half-written directory;
  *  - the manifest carries the table schema and per-file stats
  *    (level, bucket day, min/max ts, row count), so a reader plans a
  *    time-range query from ONE small JSON file — no recursive
  *    directory listing, no per-file footer reads. At 100 TB / millions
  *    of files this replaces an O(files) object-store LIST per query
  *    with an O(1) read, and the (level, ts) file pruning happens
  *    driver-side before any task launches;
  *  - compaction and retention are manifest swaps: the new version
  *    stops referencing the replaced/expired files, concurrent readers
  *    holding the old version keep reading the old files, and physical
  *    deletion is deferred to an explicit [[vacuum]] — there is no
  *    moment where live data is unreadable (the rename-swap gap
  *    `ArchiveStore.compact` documents);
  *  - commits are optimistic: on version collision the loser re-reads
  *    the latest manifest and re-applies its delta (appends always
  *    merge; compaction aborts if a replaced file vanished);
  *  - old versions stay readable ([[readVersion]]) until vacuumed —
  *    snapshot isolation and time travel for free.
  *
  * Versions are published by writing to a temp file and renaming into
  * place, so a visible manifest is always complete (rename is atomic on
  * POSIX and HDFS). Version exclusivity is atomic on HDFS; the local FS
  * has a µs check-then-rename window, and S3-class stores need a
  * conditional PUT / external lock — the caveat every log-structured
  * table format carries.
  *
  * Each version rewrites the complete live file list, so manifest size
  * scales with live file count — right-sized files via [[compact]]
  * keep that in the 10⁴–10⁵ range even at 100 TB (100 TB / 256 MB ≈
  * 400k entries ≈ tens of MB of JSON; beyond that a production table
  * format splits the log into delta segments + periodic checkpoints —
  * the protocol here is deliberately the single-checkpoint special
  * case of that design).
  *
  * Data files carry only data columns; `level` and `bucket_date` are
  * manifest metadata (partition values never pay per-row storage), and
  * the read path re-derives them so the frame stays drop-in compatible
  * with [[ArchiveStore.read]] consumers.
  */
object ManifestStore {

  /** `chMin`/`chMax`: the file's clustering-key range (channel name,
    * or channel_data_id for id-keyed stores) — files are written sorted
    * by that key, so the range is tight and a single-channel read can
    * prune files driver-side, exactly like the reference's per-channel
    * bucket index. None on manifests written before the field existed.
    */
  case class FileEntry(path: String, levelSec: Long, bucketDate: String,
                       minTs: Long, maxTs: Long, rows: Long,
                       bytes: Long = 0L,
                       chMin: Option[String] = None,
                       chMax: Option[String] = None)

  /** Unsigned UTF-8 byte comparison — the order Spark's min/max used to
    * compute `chMin`/`chMax` (UTF8String compares raw UTF-8 bytes).
    * Java's `String.compareTo` orders UTF-16 code units, which diverges
    * for supplementary-plane channel ids (surrogates sort BELOW
    * U+E000..U+FFFF in UTF-16 but above in UTF-8); pruning with the
    * JVM order could drop a file that contains the channel. Every
    * chMin/chMax prune must go through this.
    */
  def utf8Leq(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length <= y.length
  }

  /** [[utf8Leq]]-ordered containment of `ch` in a file's clustering-key
    * range; None bounds (pre-field manifests) never prune.
    */
  def chRangeContains(chMin: Option[String], chMax: Option[String],
                      ch: String): Boolean =
    chMin.forall(utf8Leq(_, ch)) && chMax.forall(utf8Leq(ch, _))

  /** One channel's resume point in one decimated level — the
    * reference's persisted `lastSampleTimeStamp`
    * (ArchivedChannelDecimatedSamplesDecimationLevel.java:406-435):
    * `lastSrcTs` is the newest source ts (raw) or fine window start
    * (coarse) the level has consumed, and `resumeTs` is where the next
    * catch-up starts reading ([[Cascade]] derives both).
    */
  case class Frontier(lastSrcTs: Long, resumeTs: Long)

  /** `txns` records one long per idempotent writer: the highest applied
    * batch id for in-order streaming sinks ([[commitIdempotent]]), or
    * the last applied input-state token for re-runnable jobs
    * ([[commitIfChanged]]: the calc catch-up and the store migration)
    * — either way a replay is a no-op. `frontiers` holds each decimated
    * level's per-channel [[Frontier]] (level seconds → channel →
    * frontier), published with the level's files by [[commitLevel]];
    * a level key with an empty map is a level built over no channels.
    */
  case class Manifest(version: Long, schemaDdl: String,
                      files: Seq[FileEntry],
                      txns: Map[String, Long] = Map.empty,
                      frontiers: Map[Long, Map[String, Frontier]] = Map.empty) {
    /** Parsed once per manifest — every serve reads it. */
    lazy val schema: StructType = StructType.fromDDL(schemaDdl)
  }

  private val mapper = new ObjectMapper()

  /** Every `CheckpointInterval`-th version is a FULL manifest
    * (checkpoint); the rest are DELTAS carrying only the commit's file
    * adds/removes plus a parent pointer. A whole-log rewrite per
    * commit is O(live files) — fine to ~10⁴ entries, then each
    * streaming micro-batch pays the entire history (the round-9 MLOG
    * probe's knee); with deltas a commit writes O(its own change) and
    * a cold read folds at most one checkpoint + interval-1 deltas.
    * The cadence is DETERMINISTIC in the version number, so two
    * writers racing for the same version always produce the same
    * kind and the exclusive-create arbitrates as before.
    */
  private[graft] val CheckpointInterval = 32L

  /** Log files older than this many versions behind the head are
    * auto-deleted when a checkpoint commits (the Delta-Lake
    * log-retention rule): without it the manifest directory LIST —
    * paid by every commit's CAS — grows O(commits) forever (measured,
    * when reads listed too: 26 → 80 ms/commit across 5 k commits from
    * the LIST alone). Time travel reaches back this many versions; beyond
    * that is [[vacuum]]'s domain, same contract as production table
    * formats.
    */
  private[graft] val LogRetentionVersions = 512L

  /** One log record: a full manifest (chain end) or a delta against
    * `base` (0 = the empty manifest). Deltas carry the full (small)
    * schema/txns maps; the file list and the frontiers — the parts
    * that grow with the store — are differential: a delta's
    * `frontiers` holds only the channels its commit moved.
    *
    * `rewriteOnly` marks a version whose file changes carry NO new
    * logical rows (compaction: the same data in fewer files) — the
    * analog of Delta's `dataChange=false` actions, read by the
    * streaming changefeed ([[graft.sources.GraftChangefeed]]) to skip
    * re-serving rewritten bytes. Absent in pre-r12 logs → false
    * (data-changing), the conservative reading.
    */
  private sealed trait LogRecord {
    def rewriteOnly: Boolean
  }
  private final case class FullRecord(m: Manifest,
                                      rewriteOnly: Boolean = false)
      extends LogRecord
  private final case class DeltaRecord(version: Long, base: Long,
                                       schemaDdl: String,
                                       txns: Map[String, Long],
                                       frontiers: Map[Long, Map[String, Frontier]],
                                       adds: Seq[FileEntry],
                                       removes: Seq[String],
                                       rewriteOnly: Boolean = false)
      extends LogRecord

  /** The manifest version log, `_manifests/v{N}.json`. Serve-side
    * memos keyed by (store, version) register their purge with its
    * regression rule ([[VersionLog.onRegression]]).
    */
  private[graft] val log = new VersionLog("_manifests")

  private def fs(spark: SparkSession, path: String): FileSystem =
    VersionLog.fs(spark.sparkContext.hadoopConfiguration, path)

  /** Entry paths are stored RELATIVE to the table root so the store can
    * be copied/moved/re-addressed wholesale (DistCp, bucket migration)
    * without rewriting the log; absolute legacy entries pass through.
    */
  private def resolveEntry(root: String, p: String): String =
    if (p.startsWith("/") || p.contains(":/")) p else s"$root/$p"

  private def relativize(f: FileSystem, root: String, uriPath: String): String = {
    val rp = f.makeQualified(new Path(root)).toUri.getPath
    val prefix = if (rp.endsWith("/")) rp else rp + "/"
    val pp = new Path(uriPath).toUri.getPath
    if (pp.startsWith(prefix)) pp.stripPrefix(prefix) else pp
  }

  // ---- manifest serialization ----

  private def writeEntries(arr: ArrayNode, files: Seq[FileEntry]): Unit =
    files.foreach { f =>
      val n = arr.addObject()
      n.put("path", f.path)
      n.put("level", f.levelSec)
      n.put("bucket_date", f.bucketDate)
      n.put("min_ts", f.minTs)
      n.put("max_ts", f.maxTs)
      n.put("rows", f.rows)
      n.put("bytes", f.bytes)
      f.chMin.foreach(v => n.put("ch_min", v))
      f.chMax.foreach(v => n.put("ch_max", v))
    }

  private def readEntries(node: JsonNode): Seq[FileEntry] = {
    val files = ArrayBuffer.empty[FileEntry]
    val it = node.elements()
    while (it.hasNext) {
      val n: JsonNode = it.next()
      files += FileEntry(n.get("path").asText(), n.get("level").asLong(),
        n.get("bucket_date").asText(), n.get("min_ts").asLong(),
        n.get("max_ts").asLong(), n.get("rows").asLong(),
        if (n.has("bytes")) n.get("bytes").asLong() else 0L,
        if (n.has("ch_min")) Some(n.get("ch_min").asText()) else None,
        if (n.has("ch_max")) Some(n.get("ch_max").asText()) else None)
    }
    files.toSeq
  }

  private def writeTxns(root: ObjectNode, txns: Map[String, Long]): Unit = {
    val t: ObjectNode = root.putObject("txns")
    txns.foreach { case (k, v) => t.put(k, v) }
  }

  private def readTxns(root: JsonNode): Map[String, Long] = {
    val txns = scala.collection.mutable.Map.empty[String, Long]
    val tn = root.get("txns")
    if (tn != null) {
      val fields = tn.fields()
      while (fields.hasNext) {
        val e = fields.next()
        txns += e.getKey -> e.getValue.asLong()
      }
    }
    txns.toMap
  }

  /** `{"<level>": {"<channel>": [last_src_ts, resume_ts], …}, …}` */
  private def writeFrontiers(root: ObjectNode,
                             fr: Map[Long, Map[String, Frontier]]): Unit =
    if (fr.nonEmpty) {
      val n = root.putObject("frontiers")
      fr.foreach { case (level, chans) =>
        val l = n.putObject(level.toString)
        chans.foreach { case (ch, f) =>
          l.putArray(ch).add(f.lastSrcTs).add(f.resumeTs)
        }
      }
    }

  private def readFrontiers(root: JsonNode): Map[Long, Map[String, Frontier]] = {
    val fn = root.get("frontiers")
    if (fn == null) return Map.empty
    import scala.jdk.CollectionConverters._
    fn.fields().asScala.map { l =>
      l.getKey.toLong -> l.getValue.fields().asScala.map { c =>
        c.getKey -> Frontier(c.getValue.get(0).asLong(), c.getValue.get(1).asLong())
      }.toMap
    }.toMap
  }

  /** A delta's frontiers folded over its base's: per level, the moved
    * channels replace theirs. */
  private def mergeFrontiers(base: Map[Long, Map[String, Frontier]],
                             moved: Map[Long, Map[String, Frontier]])
      : Map[Long, Map[String, Frontier]] =
    moved.foldLeft(base) { case (acc, (l, m)) =>
      acc + (l -> (acc.getOrElse(l, Map.empty[String, Frontier]) ++ m))
    }

  /** The channels whose frontier `next` moved against `cur` — what a
    * delta records. A level new in `next` is kept even when empty, so
    * the fold learns the level was built. */
  private def movedFrontiers(cur: Manifest, next: Manifest)
      : Map[Long, Map[String, Frontier]] =
    if (next.frontiers eq cur.frontiers) Map.empty
    else next.frontiers.flatMap { case (l, m) =>
      val was = cur.frontiers.get(l)
      val moved = m.filter { case (c, f) => !was.exists(_.get(c).contains(f)) }
      if (moved.nonEmpty || was.isEmpty) Some(l -> moved) else None
    }

  private def toJson(rec: LogRecord): Array[Byte] = {
    val root: ObjectNode = mapper.createObjectNode()
    rec match {
      case FullRecord(m, _) =>
        // the checkpoint format IS the historical full format — logs
        // written before the delta protocol read as all-checkpoints
        root.put("version", m.version)
        root.put("schema_ddl", m.schemaDdl)
        writeTxns(root, m.txns)
        writeFrontiers(root, m.frontiers)
        writeEntries(root.putArray("files"), m.files)
      case d: DeltaRecord =>
        root.put("version", d.version)
        root.put("delta", true)
        root.put("base", d.base)
        root.put("schema_ddl", d.schemaDdl)
        writeTxns(root, d.txns)
        writeFrontiers(root, d.frontiers)
        writeEntries(root.putArray("files_add"), d.adds)
        val rm = root.putArray("files_remove")
        d.removes.foreach(rm.add)
    }
    if (rec.rewriteOnly) root.put("rewrite_only", true)
    rec match {
      // deltas stay pretty (small, human-debuggable); checkpoints
      // serialize the whole file list — compact halves their bytes
      case _: DeltaRecord =>
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root)
      case _ => mapper.writeValueAsBytes(root)
    }
  }

  private def fromJson(bytes: Array[Byte]): LogRecord = {
    val root = mapper.readTree(bytes)
    val rw = root.has("rewrite_only") && root.get("rewrite_only").asBoolean()
    if (root.has("delta") && root.get("delta").asBoolean()) {
      val removes = ArrayBuffer.empty[String]
      root.get("files_remove").forEach(n => removes += n.asText())
      DeltaRecord(root.get("version").asLong(), root.get("base").asLong(),
        root.get("schema_ddl").asText(), readTxns(root), readFrontiers(root),
        readEntries(root.get("files_add")), removes.toSeq, rw)
    } else
      FullRecord(Manifest(root.get("version").asLong(),
        root.get("schema_ddl").asText(),
        readEntries(root.get("files")), readTxns(root),
        readFrontiers(root)), rw)
  }

  /** Record the head a listing of `path` showed — see
    * [[VersionLog.observe]]. */
  private[graft] def noteObservedVersion(f: FileSystem, path: String,
                                        v: Long): Unit =
    log.observe(f, path, v)

  /** The latest committed manifest, or None for an empty/new store.
    * The head comes from [[VersionLog.head]]'s probe (two existence
    * checks on a quiet store, no directory listing) and its body from
    * the assembled-manifest memo or one file read. A head that fails to
    * read (external interference left an unreadable squatter — the
    * publish itself is atomic — or the head vanished mid-read) falls
    * back to one listing, and trailing unreadable versions are skipped
    * rather than bricking every read ([[VersionLog.readHead]]).
    */
  def latestManifest(spark: SparkSession, path: String): Option[Manifest] =
    log.readHead(fs(spark, path), path)(readManifest(spark, path, _))

  /** Latest committed version NUMBER without reading any manifest body
    * — [[VersionLog.head]]'s probe, two existence checks on a quiet
    * store. The cheap, monotonic cache key for memoizing per-store
    * planning metadata across requests on an unchanged store (any
    * commit/compaction/retention bumps it).
    */
  def latestVersion(spark: SparkSession, path: String): Option[Long] =
    log.head(fs(spark, path), path)

  /** Assembled manifests memoized per (path, version) — a version
    * file is immutable once published, so the fold can never go
    * stale; without the memo every read of a delta-logged store would
    * re-fold its chain.
    */
  private val assembledMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), Manifest]()
  log.onRegression(path => assembledMemo.keySet.removeIf(_._1 == path))

  private def readRecord(spark: SparkSession, path: String,
                         version: Long): LogRecord =
    fromJson(log.read(fs(spark, path), path, version))

  /** The manifest AT `version`: a checkpoint reads directly; a delta
    * folds its parent chain (bounded by [[CheckpointInterval]] — the
    * cadence is version-deterministic). The chain follows explicit
    * `base` pointers, so a skipped-over unreadable squatter version
    * never breaks assembly.
    */
  def readManifest(spark: SparkSession, path: String, version: Long): Manifest = {
    val key = (path, version)
    val hit = assembledMemo.get(key)
    if (hit != null) return hit
    val m = readRecord(spark, path, version) match {
      case FullRecord(full, _) => full
      case d: DeltaRecord =>
        val base =
          if (d.base == 0L) Manifest(0L, "", Nil)
          else readManifest(spark, path, d.base)
        val removed = d.removes.toSet
        Manifest(d.version, d.schemaDdl,
          base.files.filterNot(f => removed.contains(f.path)) ++ d.adds,
          d.txns, mergeFrontiers(base.frontiers, d.frontiers))
    }
    if (assembledMemo.size > 128) assembledMemo.clear()
    assembledMemo.put(key, m)
    m
  }

  /** One version's file-level changes — the unit the streaming
    * changefeed ([[graft.sources.GraftChangefeed]]) consumes: entries
    * added by the commit, how many files it removed, and whether it
    * was a pure rewrite (compaction — same logical rows in different
    * files, safe for a changefeed to skip). A delta record carries its
    * changes directly; a checkpoint (full) record diffs against the
    * predecessor's assembled manifest.
    */
  case class VersionChanges(version: Long, adds: Seq[FileEntry],
                            removedCount: Int, rewriteOnly: Boolean)

  private[graft] def versionChanges(spark: SparkSession, path: String,
                                    v: Long): VersionChanges =
    readRecord(spark, path, v) match {
      case d: DeltaRecord =>
        VersionChanges(v, d.adds, d.removes.size, d.rewriteOnly)
      case FullRecord(m, rw) =>
        val prevPaths =
          if (v <= 1) Set.empty[String]
          else readManifest(spark, path, v - 1).files.map(_.path).toSet
        val adds = m.files.filterNot(f => prevPaths.contains(f.path))
        val kept = m.files.size - adds.size
        VersionChanges(v, adds, prevPaths.size - kept, rw)
    }

  /** Version numbers in `target`'s parent chain (inclusive) — what a
    * vacuum must keep for the latest manifest to stay assemblable.
    */
  private def chainVersions(spark: SparkSession, path: String,
                            target: Long): Set[Long] = {
    var out = Set(target)
    var v = target
    var done = false
    while (!done) {
      readRecord(spark, path, v) match {
        case _: FullRecord => done = true
        case d: DeltaRecord =>
          if (d.base == 0L) done = true
          else { out += d.base; v = d.base }
      }
    }
    out
  }

  /** Optimistic-retry commit: apply `update` to the latest manifest and
    * try to claim the next version; on collision, re-read and re-apply.
    * `update` must be idempotent against a refreshed base (append
    * merges; compact re-checks its victims). The next version number
    * skips over any unreadable squatter so a corrupt file can never
    * wedge the log.
    */
  private def commitLoop(spark: SparkSession, path: String,
                         rewriteOnly: Boolean = false)
                        (update: Manifest => Manifest): Manifest = {
    val f = fs(spark, path)
    var attempts = 0
    while (attempts < 50) {
      // ONE listing feeds BOTH the base manifest and the claimed
      // version. Reading "latest" and listing "top" as two separate
      // filesystem round trips is a lost-update hole: a commit landing
      // between them gets skipped over like a corrupt squatter and its
      // file entries silently drop out of the merged manifest (caught
      // by ManifestStoreSpec's 8-thread concurrent-writers race). With
      // a single listing, anything published after it just makes the
      // exclusive claim fail, and the loop re-reads.
      val versions = log.list(f, path)
      val cur = log.newestReadable(path, versions)(readManifest(spark, path, _))
        .getOrElse(Manifest(0L, "", Nil))
      val next = update(cur)
        .copy(version = versions.lastOption.getOrElse(0L) + 1)
      // checkpoint cadence is deterministic in the version number, so
      // racing writers produce the same record KIND for a version and
      // the exclusive-create arbitrates exactly as before
      val rec: LogRecord =
        if (next.version % CheckpointInterval == 0L)
          FullRecord(next, rewriteOnly)
        else {
          // append fast path: most commits only extend the file list,
          // and the update built next.files as cur.files ++ adds — the
          // prefix is the SAME instances, so a reference scan beats
          // building two path maps per commit
          val isAppend = next.files.length >= cur.files.length &&
            cur.files.iterator.zip(next.files.iterator)
              .forall { case (a, b) => a eq b }
          if (isAppend)
            DeltaRecord(next.version, cur.version, next.schemaDdl,
              next.txns, movedFrontiers(cur, next),
              next.files.drop(cur.files.length), Nil, rewriteOnly)
          else {
            val curByPath = cur.files.map(f => f.path -> f).toMap
            val nextByPath = next.files.map(f => f.path -> f).toMap
            // a changed entry (same path, different stats) is a
            // remove+add, so the fold replaces it
            val adds = next.files.filter(f =>
              !curByPath.get(f.path).contains(f))
            val removes = cur.files.map(_.path).filter(p =>
              !nextByPath.get(p).contains(curByPath(p)))
            DeltaRecord(next.version, cur.version, next.schemaDdl,
              next.txns, movedFrontiers(cur, next), adds, removes,
              rewriteOnly)
          }
        }
      // exclusive publish: HDFS rename refuses an existing target and
      // the local FS claims with link(2) (AtomicClaim); S3-class stores
      // need a conditional PUT — the standard log-structured caveat
      if (log.claim(f, path, next.version)(toJson(rec))) {
        // Delta-style log retention, paid only at checkpoints: with
        // the new checkpoint published, versions beyond the retention
        // window can no longer be needed by any chain the head
        // reaches — prune them so the commit's listing stays bounded
        if (rec.isInstanceOf[FullRecord] &&
            next.version > LogRetentionVersions) {
          val cutoff = next.version - LogRetentionVersions
          versions.filter(_ < cutoff).foreach(log.delete(f, path, _))
        }
        return next
      }
      attempts += 1
    }
    throw new java.io.IOException(
      s"manifest commit to $path lost ${attempts} races — giving up")
  }

  /** Union of two schemas by field name (old order first, new fields
    * appended) — how a decimated level's stat columns join a store that
    * so far held only raw columns. A same-name type conflict is a
    * corrupt store and fails loudly.
    */
  /** Structural type equality modulo nullability — a recomputed frame
    * may carry `array<double> containsNull=false` where the store
    * holds the nullable form; that is the SAME storage type (the old,
    * more-nullable field is kept), not a conflict.
    */
  private def sameTypeIgnoreNullability(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = (a, b) match {
    case (x: org.apache.spark.sql.types.ArrayType,
          y: org.apache.spark.sql.types.ArrayType) =>
      sameTypeIgnoreNullability(x.elementType, y.elementType)
    case (x: org.apache.spark.sql.types.MapType,
          y: org.apache.spark.sql.types.MapType) =>
      sameTypeIgnoreNullability(x.keyType, y.keyType) &&
        sameTypeIgnoreNullability(x.valueType, y.valueType)
    case (x: StructType, y: StructType) =>
      x.fields.length == y.fields.length &&
        x.fields.zip(y.fields).forall { case (f, g) =>
          f.name == g.name && sameTypeIgnoreNullability(f.dataType, g.dataType)
        }
    case _ => a == b
  }

  private def mergeSchema(oldDdl: String, newSchema: StructType): StructType = {
    if (oldDdl.isEmpty) return newSchema
    val old = StructType.fromDDL(oldDdl)
    val byName = old.fields.map(f => f.name -> f).toMap
    newSchema.fields.foreach { f =>
      byName.get(f.name).foreach { o =>
        require(sameTypeIgnoreNullability(o.dataType, f.dataType),
          s"schema conflict on '${f.name}': ${o.dataType} vs ${f.dataType}")
      }
    }
    StructType(old.fields ++ newSchema.fields.filterNot(f => byName.contains(f.name)))
  }

  private def withBucketDate(samples: DataFrame): DataFrame =
    samples.withColumn("bucket_date", ArchiveStore.bucketDateCol(col("ts")))

  /** Every file under `dir` (which must exist), recursively, by plain
    * `listStatus`. `listFiles(dir, true)` builds a `LocatedFileStatus`
    * per entry, which on the local FS loads permissions by forking
    * `ls -ld`; when the entry vanished after its parent was listed (a
    * concurrent commit's `_temporary`), that fork fails and the whole
    * walk throws. Here no permissions load, and a subdirectory that
    * vanishes mid-walk holds no files.
    */
  private def listFilesUnder(f: FileSystem, dir: Path): Seq[FileStatus] = {
    val out = ArrayBuffer.empty[FileStatus]
    def visit(st: FileStatus): Unit =
      if (!st.isDirectory) out += st
      else {
        val children =
          try f.listStatus(st.getPath)
          catch {
            case _: java.io.FileNotFoundException => Array.empty[FileStatus]
            // the local FS reports a directory deleted between its
            // existence check and its listing as a plain IOException
            case e: java.io.IOException =>
              if (f.exists(st.getPath)) throw e else Array.empty[FileStatus]
          }
        children.foreach(visit)
      }
    f.listStatus(dir).foreach(visit)
    out.toSeq
  }

  /** Stats + entry list for freshly staged files: ONE distributed scan
    * of only the new files (grouped by the hidden `_metadata.file_path`),
    * collected to the driver — file-count-sized, not row-count-sized.
    * An empty stage (e.g. an empty micro-batch) yields no entries.
    */
  private def statsFor(spark: SparkSession, root: String, staged: String,
                       levelFallback: Long): Seq[FileEntry] = {
    val f = new Path(staged)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one driver-side listing of the staged dir: existence check +
    // per-file byte sizes (keyed by scheme-less path)
    val sizes = listFilesUnder(f, new Path(staged))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => st.getPath.toUri.getPath -> st.getLen).toMap
    if (sizes.isEmpty) return Nil
    val df = spark.read.parquet(staged)
    val ch = clusterCol(df).cast("string")
    val keyed =
      if (df.columns.contains("level"))
        // partition-value inference types `level=0` as int — pin long
        df.select(col("_metadata.file_path").as("fp"),
          col("level").cast("long").as("level"),
          col("bucket_date").cast("string").as("bd"), col("ts"),
          ch.as("ck"))
      else
        df.select(col("_metadata.file_path").as("fp"),
          lit(levelFallback).as("level"),
          ArchiveStore.bucketDateCol(col("ts")).cast("string").as("bd"),
          col("ts"), ch.as("ck"))
    keyed
      .groupBy("fp", "level", "bd")
      .agg(min("ts").as("mn"), max("ts").as("mx"), count(lit(1)).as("n"),
        min("ck").as("cmn"), max("ck").as("cmx"))
      .collect()
      .map(r => FileEntry(relativize(f, root, r.getString(0)),
        r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        sizes.getOrElse(new Path(r.getString(0)).toUri.getPath, 0L),
        Option(r.getString(6)), Option(r.getString(7))))
      .toSeq
  }

  /** Metadata-only commit of pre-computed entries — the protocol
    * benchmark's hook ([[graft.ManifestLogBench]]): measures the LOG,
    * not parquet staging. Private to the library; data commits go
    * through [[commit]].
    */
  private[graft] def commitEntries(spark: SparkSession, path: String,
                                   entries: Seq[FileEntry],
                                   schema: StructType): Long =
    commitLoop(spark, path) { cur =>
      cur.copy(schemaDdl = mergeSchema(cur.schemaDdl, schema).toDDL,
        files = cur.files ++ entries)
    }.version

  /** Drop the process-wide assembled-manifest memo — benchmark hook
    * for measuring a COLD chain fold. */
  private[graft] def clearAssembledMemo(): Unit = assembledMemo.clear()

  /** S9 as a transaction: append one level's samples and commit a new
    * manifest version. Returns the committed version. Layout matches
    * [[ArchiveStore.write]] (day × channel clustering, (channel, ts)
    * sort for row-group locality); `partitionBy` keeps each staged file
    * day-pure so retention never strands a straddling file.
    */
  def commit(samples: DataFrame, path: String, levelSec: Long): Long =
    commitTxn(samples, path, levelSec)(_ => false, identity)

  /** Idempotent commit for replayable writers (streaming micro-batches):
    * the manifest remembers the highest `batchId` applied per
    * `writerId`, so a replay of an already-committed batch is a no-op —
    * exactly-once table contents over `foreachBatch`'s at-least-once
    * side-effect contract. Batches must commit in ascending id order
    * per writer (which structured streaming guarantees).
    */
  def commitIdempotent(samples: DataFrame, path: String, levelSec: Long,
                       writerId: String, batchId: Long): Long =
    commitMarked(samples, path, levelSec, writerId, batchId)(
      _.exists(_ >= batchId))

  /** Token-deduplicated commit for serial re-runnable jobs (the calc
    * channels' catch-up and [[Maintenance.migrateStore]]): the manifest
    * stores the last applied `token` per `writerId`, and a commit whose
    * token EQUALS the stored one is a no-op. Unlike
    * [[commitIdempotent]]'s ascending batch ids, tokens are arbitrary
    * (the job's new frontier or input state): a re-run after a crash
    * recomputes the same token and skips; any genuinely new state
    * yields a different token and commits.
    */
  def commitIfChanged(samples: DataFrame, path: String, levelSec: Long,
                      writerId: String, token: Long): Long =
    commitMarked(samples, path, levelSec, writerId, token)(_.contains(token))

  /** [[commitTxn]] recording `writerId -> value` in `txns`; `applied`
    * reads the writer's stored mark. An applied replay is caught before
    * staging when the latest manifest already shows it, and again in
    * the commit loop when a concurrent replay won.
    */
  private def commitMarked(samples: DataFrame, path: String, levelSec: Long,
                           writerId: String, value: Long)
                          (applied: Option[Long] => Boolean): Long = {
    val done = (m: Manifest) => applied(m.txns.get(writerId))
    latestManifest(samples.sparkSession, path).filter(done) match {
      case Some(m) => m.version // replay of an applied state: no staging
      case None =>
        commitTxn(samples, path, levelSec)(done,
          m => m.copy(txns = m.txns + (writerId -> value)))
    }
  }

  /** One decimated level's new windows and the frontier of the
    * channels they moved, published in ONE version — the cascade's
    * commit ([[Cascade]]), so a level's files and its resume points
    * can never be seen apart. Applies only while the level's frontier
    * still equals `from` (None: the level has no frontier yet); a run
    * that raced another from the same base finds it moved, publishes
    * nothing and returns the current version (its staged files are
    * orphans for [[vacuum]]).
    */
  def commitLevel(samples: DataFrame, path: String, levelSec: Long,
                  from: Option[Map[String, Frontier]],
                  moved: Map[String, Frontier]): Long =
    commitTxn(samples, path, levelSec)(_.frontiers.get(levelSec) != from,
      m => m.copy(frontiers = mergeFrontiers(m.frontiers,
        Map(levelSec -> moved))))

  /** In-file clustering key: channel name, or the permanent data id for
    * rename-stable id-keyed frames ([[commitById]]). */
  private def clusterCol(df: DataFrame) =
    if (df.columns.contains("channel")) col("channel")
    else col("channel_data_id")

  /** Stage `samples` as one level's files and append them in one
    * version, with `mark` applied to the new manifest — unless
    * `applied` holds for the refreshed base, in which case nothing is
    * published and the base's version is returned (the staged files
    * become vacuum-able orphans).
    */
  private def commitTxn(samples: DataFrame, path: String, levelSec: Long)
                       (applied: Manifest => Boolean,
                        mark: Manifest => Manifest): Long = {
    val spark = samples.sparkSession
    val staged = s"$path/data/commit-${java.util.UUID.randomUUID().toString.take(12)}"
    withBucketDate(samples)
      .withColumn("level", lit(levelSec))
      // RANGE partitioning, not hash: each output file then covers a
      // contiguous (day, clustering-key) range, so the manifest's
      // per-file key ranges are tight and disjoint — hash scattering
      // would give every file the full key range and nothing to prune.
      // The sort leads with bucket_date and NOT with the constant
      // `level` column: the V1 file writer requires ordering by its
      // partition columns (level folds away as a constant, leaving
      // [bucket_date]) and only when the plan's ordering PREFIX-matches
      // does the user sort survive — otherwise the optimizer replaces
      // it with the writer's own partition-only sort, shredding the
      // (key, ts) clustering into interleaved runs (measured before
      // this fix: chMin/chMax spanning nearly the whole fleet, page
      // stats useless; after: pages span ~15 keys).
      .repartitionByRange(col("bucket_date"), clusterCol(samples))
      .sortWithinPartitions(col("bucket_date"), clusterCol(samples),
        col("ts"))
      .write.partitionBy("level", "bucket_date").parquet(staged)
    // partitionBy strips level/bucket_date, so the files' schema IS the
    // input frame's — no footer read needed to learn it
    val dataSchema = StructType(samples.schema.fields
      .filterNot(f => f.name == "level" || f.name == "bucket_date"))
    val entries = statsFor(spark, path, staged, levelSec)
    commitLoop(spark, path) { cur =>
      if (applied(cur)) return cur.version
      mark(cur.copy(schemaDdl = mergeSchema(cur.schemaDdl, dataSchema).toDDL,
        files = cur.files ++ entries))
    }.version
  }

  /** The SQL write path (`INSERT INTO … USING graft`,
    * [[graft.sources.GraftDataSource]]): one commit of a frame that
    * carries its own `level` column — any mix of levels in one
    * statement, each row landing in its level's partition. The two
    * derived read-shape columns are never trusted from the caller:
    * `bucket_date` is recomputed from `ts`, and a NULL `level` refuses
    * (it is the resolution key — there is no default). Everything else
    * is [[commit]]'s protocol verbatim: day × key range clustering,
    * (level, day, key, ts) sort for tight per-file manifest stats,
    * staged parquet, then ONE exclusive-claim version publish — a
    * failed stage leaves only vacuum-able orphans and no new version.
    * `overwrite = true` (SQL `INSERT OVERWRITE` / `TRUNCATE`) publishes
    * a version whose file list is ONLY the new files — the old files
    * stay on disk for in-grace readers until [[vacuum]].
    */
  def commitMultiLevel(samples: DataFrame, path: String,
                       overwrite: Boolean = false): Long = {
    val spark = samples.sparkSession
    require(samples.columns.contains("level"),
      "multi-level commit needs a `level` column")
    require(samples.columns.contains("ts"),
      "multi-level commit needs a `ts` column")
    val data = samples.drop("bucket_date")
      .withColumn("level", org.apache.spark.sql.graft.ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
          org.apache.spark.sql.graft.ColumnBridge.expression(
            col("level").cast("long")), Seq("level"))))
    val staged =
      s"$path/data/commit-${java.util.UUID.randomUUID().toString.take(12)}"
    withBucketDate(data)
      // level leads the range partitioning AND the sort (unlike
      // commitTxn, where a constant level folds away): the V1 writer's
      // required ordering is the partition columns [level, bucket_date]
      // and only a prefix-matching user sort survives — see commitTxn
      .repartitionByRange(col("level"), col("bucket_date"), clusterCol(data))
      .sortWithinPartitions(col("level"), col("bucket_date"),
        clusterCol(data), col("ts"))
      .write.partitionBy("level", "bucket_date").parquet(staged)
    val dataSchema = StructType(data.schema.fields
      .filterNot(f => f.name == "level" || f.name == "bucket_date"))
    val entries = statsFor(spark, path, staged, 0L)
    commitLoop(spark, path) { cur =>
      cur.copy(schemaDdl = mergeSchema(cur.schemaDdl, dataSchema).toDDL,
        files = if (overwrite) entries else cur.files ++ entries)
    }.version
  }

  /** Rename-stable commit: the persisted layout is keyed by the
    * permanent `channel_data_id` (the name column is dropped), so a
    * channel rename never touches data files — the manifest-store
    * analog of [[ArchiveStore.writeById]]. Resolve names on input with
    * [[ChannelRegistry.resolveToId]]; re-attach them at read time with
    * [[readById]].
    */
  def commitById(samples: DataFrame, path: String, levelSec: Long): Long =
    commit(samples.drop("channel"), path, levelSec)

  /** Read an id-keyed level and serve it under the CURRENT channel
    * names via a broadcast join of the (tiny) configuration set. */
  def readById(spark: SparkSession, path: String,
               configs: Seq[ChannelConfig], levelSec: Long,
               loNs: Option[Long] = None, hiNs: Option[Long] = None)
      : DataFrame =
    read(spark, path, levelSec, loNs, hiNs)
      .join(broadcast(ChannelRegistry.nameFrame(spark, configs)),
        Seq("channel_data_id"))

  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Read one level clipped to [loNs, hiNs] at a given manifest — file
    * pruning happens HERE, driver-side, from manifest stats (level
    * match + ts-range overlap); the residual ts predicate still reaches
    * parquet row-group stats inside each surviving file. `level` and
    * `bucket_date` are re-derived so consumers of
    * [[ArchiveStore.read]]'s shape work unchanged.
    */
  def readVersion(spark: SparkSession, path: String, version: Long,
                  levelSec: Long, loNs: Option[Long] = None,
                  hiNs: Option[Long] = None): DataFrame = {
    readManifestFrame(spark, path, readManifest(spark, path, version),
      levelSec, loNs, hiNs, None)
  }

  def read(spark: SparkSession, path: String, levelSec: Long,
           loNs: Option[Long] = None, hiNs: Option[Long] = None,
           channel: Option[String] = None): DataFrame = {
    val m = latestManifest(spark, path)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no committed manifest under $path"))
    readManifestFrame(spark, path, m, levelSec, loNs, hiNs, channel)
  }

  /** Frame over an EXPLICIT file-entry subset of one level — the
    * Spark SQL connector's read path ([[graft.sources.GraftDataSource]]):
    * its ScanBuilder prunes entries driver-side from manifest stats
    * (level / ts-range / clustering-key range), and this materializes
    * exactly those files through Spark's vectorized parquet reader,
    * with the residual ts clip still reaching row-group stats. Shape
    * matches [[read]] (`level` + `bucket_date` re-derived).
    */
  private[graft] def readFiles(spark: SparkSession, path: String,
                               schema: StructType, entries: Seq[FileEntry],
                               levelSec: Long, loNs: Option[Long],
                               hiNs: Option[Long]): DataFrame = {
    val base =
      if (entries.isEmpty) emptyFrame(spark, schema)
      else spark.read.schema(schema)
        .parquet(entries.map(e => resolveEntry(path, e.path)): _*)
    var df = base
      .withColumn("level", lit(levelSec))
      .withColumn("bucket_date", ArchiveStore.bucketDateCol(col("ts")))
    loNs.foreach(lo => df = df.where(col("ts") >= lo))
    hiNs.foreach(hi => df = df.where(col("ts") <= hi))
    df
  }

  /** One level of the manifest `m` (see [[read]]), for a reader that
    * resolved its version already. */
  private[graft] def readManifestFrame(spark: SparkSession, path: String,
                                m: Manifest,
                                levelSec: Long, loNs: Option[Long],
                                hiNs: Option[Long],
                                channel: Option[String]): DataFrame = {
    val schema = m.schema
    val live = m.files.filter(f => f.levelSec == levelSec &&
      loNs.forall(lo => f.maxTs >= lo) && hiNs.forall(hi => f.minTs <= hi) &&
      // clustering-key range prune: a file whose [chMin, chMax] cannot
      // contain the requested channel is skipped without being opened —
      // legacy entries without the stats are conservatively kept
      channel.forall(c => chRangeContains(f.chMin, f.chMax, c)))
    val base =
      if (live.isEmpty) emptyFrame(spark, schema)
      else spark.read.schema(schema)
        .parquet(live.map(e => resolveEntry(path, e.path)): _*)
    var df = base
      .withColumn("level", lit(levelSec))
      .withColumn("bucket_date", ArchiveStore.bucketDateCol(col("ts")))
    loNs.foreach(lo => df = df.where(col("ts") >= lo))
    hiNs.foreach(hi => df = df.where(col("ts") <= hi))
    df
  }

  /** Atomic compaction of one (level, day): rewrite its files into
    * `targetFiles` right-sized ones and commit a manifest that swaps
    * them in. Readers of the previous version are untouched; a
    * concurrent commit that removed a victim aborts the swap
    * (retention racing compaction — the retention wins).
    */
  def compact(spark: SparkSession, path: String, levelSec: Long,
              date: String, targetFiles: Int = 1): Unit = {
    val m = latestManifest(spark, path)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no committed manifest under $path"))
    val victims = m.files.filter(f => f.levelSec == levelSec && f.bucketDate == date)
    if (victims.isEmpty) return
    val victimPaths = victims.map(_.path).toSet
    val staged = s"$path/data/compact-${java.util.UUID.randomUUID().toString.take(12)}"
    val victimFrame = spark.read.schema(m.schema)
      .parquet(victims.map(v => resolveEntry(path, v.path)): _*)
    victimFrame
      .repartition(targetFiles)
      .sortWithinPartitions(clusterCol(victimFrame), col("ts"))
      .write.parquet(staged)
    val entries = statsFor(spark, path, staged, levelSec)
    // staged files carry no partition dirs — pin the victims' identity
    val swapped = entries.map(_.copy(levelSec = levelSec, bucketDate = date))
    // rewriteOnly: the same logical rows in fewer files — the
    // streaming changefeed skips this version's file churn
    commitLoop(spark, path, rewriteOnly = true) { cur =>
      require(victimPaths.subsetOf(cur.files.map(_.path).toSet),
        s"compact $levelSec/$date: a victim file left the manifest mid-swap")
      cur.copy(files = cur.files.filterNot(f => victimPaths.contains(f.path))
        ++ swapped)
    }
  }

  /** Batch compaction: rewrite EVERY fragmented (level, day) of one
    * level in a single Spark job and swap them in with ONE manifest
    * commit. The per-day [[compact]] launches a job and a commit per
    * candidate — fine for a targeted rewrite, but a nightly compactor
    * facing thousands of fragmented days wants one shuffle
    * (repartition by day), one staged write (partitionBy keeps files
    * day-pure, so the staged stats recover each file's day from its
    * rows), and one atomic swap. Returns the candidates compacted.
    */
  def compactAll(spark: SparkSession, path: String, levelSec: Long,
                 smallBytes: Long = 32L * 1024 * 1024)
      : Seq[CompactionCandidate] = {
    val cands = compactionCandidates(spark, path, smallBytes)
      .filter(_.levelSec == levelSec)
    if (cands.isEmpty) return Nil
    val m = latestManifest(spark, path).get
    val dates = cands.map(_.bucketDate).toSet
    val victims = m.files.filter(f =>
      f.levelSec == levelSec && dates.contains(f.bucketDate))
    val victimPaths = victims.map(_.path).toSet
    val staged =
      s"$path/data/compact-${java.util.UUID.randomUUID().toString.take(12)}"
    val vf = spark.read.schema(m.schema)
      .parquet(victims.map(v => resolveEntry(path, v.path)): _*)
    vf.withColumn("bucket_date", ArchiveStore.bucketDateCol(col("ts")))
      .repartition(col("bucket_date"))
      // bucket_date first — see commitTxn's writer-ordering note
      .sortWithinPartitions(col("bucket_date"), clusterCol(vf), col("ts"))
      .write.partitionBy("bucket_date").parquet(staged)
    val entries = statsFor(spark, path, staged, levelSec)
      .map(_.copy(levelSec = levelSec))
    commitLoop(spark, path, rewriteOnly = true) { cur =>
      require(victimPaths.subsetOf(cur.files.map(_.path).toSet),
        s"compactAll $levelSec: a victim file left the manifest mid-swap")
      cur.copy(files = cur.files.filterNot(f => victimPaths.contains(f.path))
        ++ entries)
    }
    cands
  }

  /** Atomic whole-day replacement of one level's rows: every file of
    * (levelSec, date ∈ dates) leaves the manifest and `replacement`'s
    * staged files (which must lie within those dates) take their place
    * in ONE commit — the swap primitive behind the cascade's backfill
    * repair ([[Cascade.repairRange]]). Readers on the old snapshot are
    * untouched; replaced bytes go at [[vacuum]].
    */
  def replaceRange(spark: SparkSession, path: String, levelSec: Long,
                   dates: Set[String], replacement: DataFrame): Unit = {
    if (dates.isEmpty) return
    val staged =
      s"$path/data/repair-${java.util.UUID.randomUUID().toString.take(12)}"
    withBucketDate(replacement)
      .withColumn("level", lit(levelSec))
      .repartitionByRange(col("bucket_date"), clusterCol(replacement))
      // bucket_date first — commitTxn's writer-ordering note
      .sortWithinPartitions(col("bucket_date"), clusterCol(replacement),
        col("ts"))
      .write.partitionBy("level", "bucket_date").parquet(staged)
    val entries = statsFor(spark, path, staged, levelSec)
    val stray = entries.filterNot(e => dates.contains(e.bucketDate))
    require(stray.isEmpty,
      s"replaceRange: replacement rows land outside the replaced days " +
        s"(${stray.map(_.bucketDate).distinct.sorted.mkString(", ")})")
    commitLoop(spark, path) { cur =>
      cur.copy(files = cur.files.filterNot(f =>
        f.levelSec == levelSec && dates.contains(f.bucketDate)) ++ entries)
    }
    ()
  }

  /** One (level, day)'s compaction urgency, from manifest stats. */
  case class CompactionCandidate(levelSec: Long, bucketDate: String,
                                 files: Int, bytes: Long, rows: Long)

  /** Compaction planning with ZERO file I/O: (level, day) groups with
    * more than one file where files average under `smallBytes` — the
    * small-file debt a background compactor should pay down first
    * (most-fragmented first). This is the query the reference answers
    * with its bucket-size accounting (96 MB rollover); here it is a
    * fold over manifest entries, at any store size.
    */
  def compactionCandidates(spark: SparkSession, path: String,
                           smallBytes: Long = 32L * 1024 * 1024)
      : Seq[CompactionCandidate] = {
    val m = latestManifest(spark, path)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no committed manifest under $path"))
    m.files.groupBy(f => (f.levelSec, f.bucketDate)).toSeq
      .map { case ((l, d), fs) =>
        CompactionCandidate(l, d, fs.size, fs.map(_.bytes).sum,
          fs.map(_.rows).sum)
      }
      .filter(c => c.files > 1 && c.bytes / c.files < smallBytes)
      .sortBy(c => -c.files)
  }

  /** ST9 — retention as a pure manifest operation: compute the horizon
    * from manifest stats (max ts of the level — NO data scan, unlike
    * the raw-parquet store which must aggregate the level to find its
    * latest sample), drop entries whose day END is older, commit.
    * Physical bytes survive until [[vacuum]]. Returns dropped paths.
    * Horizon rule matches the reference: delete only when bucket end <
    * latest − retention (ArchivedChannelDecimationLevel.java:1226-1229).
    */
  def applyRetention(spark: SparkSession, path: String, levelSec: Long,
                     retentionNs: Long): Seq[String] = {
    if (retentionNs == 0) return Nil
    if (latestManifest(spark, path).isEmpty)
      throw new java.io.FileNotFoundException(
        s"no committed manifest under $path")
    val dayNs = 86400L * graft.core.Samples.NS
    // the expired set is recomputed against the REFRESHED manifest on
    // every retry, so a compact landing mid-retention (swapping victims
    // for a fresh same-day file) cannot make this report files dropped
    // while their rows live on in the replacement
    var dropped: Seq[FileEntry] = Nil
    commitLoop(spark, path) { cur =>
      val level = cur.files.filter(_.levelSec == levelSec)
      if (level.isEmpty) { dropped = Nil; return Nil }
      val horizon = level.map(_.maxTs).max - retentionNs
      dropped = level.filter { f =>
        val dayStartNs =
          java.time.LocalDate.parse(f.bucketDate).toEpochDay * dayNs
        dayStartNs + dayNs - 1 < horizon
      }
      if (dropped.isEmpty) return Nil
      val gone = dropped.map(_.path).toSet
      cur.copy(files = cur.files.filterNot(f => gone.contains(f.path)))
    }
    dropped.map(_.path)
  }

  /** Remove every row of one channel (by the store's clustering key —
    * name, or channel_data_id for id-keyed stores) from ALL levels in
    * one commit: files wholly owned by the channel (chMin = chMax =
    * key) are dropped from the manifest outright; files whose key
    * range straddles it are rewritten without its rows and swapped in
    * the same version. Readers on the old snapshot keep working; bytes
    * go at [[vacuum]]. Idempotent: a replay finds no files that can
    * contain the key and no-ops. In an id-sorted range-partitioned
    * store nearly all of a channel's data is in wholly-owned files, so
    * the rewrite set is small at any scale.
    */
  def removeChannelData(spark: SparkSession, path: String,
                        key: String): Long = {
    val m = latestManifest(spark, path)
      .getOrElse(return -1L)
    val touches = m.files.filter(f =>
      chRangeContains(f.chMin, f.chMax, key))
    if (touches.isEmpty) return m.version
    val owned = touches
      .filter(f => f.chMin.contains(key) && f.chMax.contains(key)).toSet
    val straddle = touches.filterNot(owned)
    val schema = m.schema
    val keyCol =
      if (schema.fieldNames.contains("channel")) "channel"
      else "channel_data_id"
    val rewritten: Seq[FileEntry] =
      straddle.groupBy(_.levelSec).toSeq.flatMap { case (lvl, victims) =>
        val staged =
          s"$path/data/rmch-${java.util.UUID.randomUUID().toString.take(12)}"
        val kept = spark.read.schema(schema)
          .parquet(victims.map(e => resolveEntry(path, e.path)): _*)
          .where(col(keyCol) =!= key)
        withBucketDate(kept)
          .withColumn("level", lit(lvl))
          .repartitionByRange(col("bucket_date"), clusterCol(kept))
          // bucket_date first — see commitTxn's ordering note
          .sortWithinPartitions(col("bucket_date"), clusterCol(kept),
            col("ts"))
          .write.partitionBy("level", "bucket_date").parquet(staged)
        statsFor(spark, path, staged, lvl)
      }
    val gone = touches.map(_.path).toSet
    commitLoop(spark, path) { cur =>
      if (!gone.subsetOf(cur.files.map(_.path).toSet))
        throw new java.io.IOException(
          s"concurrent commit replaced a file of channel '$key' " +
            "mid-removal — re-run removeChannelData")
      cur.copy(files = cur.files.filterNot(f => gone.contains(f.path))
        ++ rewritten)
    }.version
  }

  /** Physically delete data files no longer referenced by the LATEST
    * manifest (compacted-away, expired, or orphaned by a failed stage)
    * whose modification time is older than `graceMs`, and manifest
    * versions older than the latest past the same grace. The grace
    * window (default 24 h, like production table formats) protects
    * in-flight commits whose manifest hasn't landed yet and readers
    * still draining an old snapshot — pass 0 only when no concurrent
    * writer/reader can exist. Time travel to vacuumed versions is gone
    * afterwards. Returns deleted data-file paths.
    *
    * Reference protection (the two-process deployment's contract): a
    * file referenced by ANY manifest version still inside the grace
    * window is NOT deletable, even when the file's own mtime is old —
    * an hours-old file that compaction dereferenced one second ago
    * must survive a full grace measured from DEREFERENCE, or a serving
    * JVM that resolved the pre-compaction version moments ago reads
    * deleted bytes. (The file mtime check alone misses this: it
    * measures age since write.) A version is DEREFERENCED the instant
    * its successor commits, so "in grace" keys on the SUCCESSOR's
    * version-file mtime, not the version's own: an old version
    * superseded a second ago (idle store, then one compaction) has an
    * old mtime itself but a brand-new successor — it stays protected
    * for a full grace after the supersession. Belt-and-braces on the
    * serving side: [[DirectServe]] re-resolves and retries once on a
    * missing file.
    */
  def vacuum(spark: SparkSession, path: String,
             graceMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val m = latestManifest(spark, path)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no committed manifest under $path"))
    val f = fs(spark, path)
    val cutoff = System.currentTimeMillis() - graceMs
    val deleted = ArrayBuffer.empty[String]
    // One mtime-annotated listing of the version log, shared by the
    // data-file and manifest-file passes so both apply the SAME
    // in-grace rule. A version is in grace while a reader that
    // resolved it may still be draining it: until a full grace has
    // passed since its SUCCESSOR's commit (= the successor version
    // file's mtime) — its own mtime measures age since write, which
    // says nothing about when it stopped being the latest. The
    // own-mtime check stays as belt-and-braces against clock skew
    // between the commit and the vacuum host.
    val versionMtimes: Seq[(Long, Long)] = log.statuses(f, path)
      .map { case (v, st) => v -> st.getModificationTime }
    val successorMtime: Map[Long, Long] =
      versionMtimes.zip(versionMtimes.drop(1))
        .map { case ((v, _), (_, nextM)) => v -> nextM }.toMap
    def inGrace(v: Long, ownMtime: Long): Boolean =
      ownMtime > cutoff || successorMtime.get(v).forall(_ > cutoff)
    val dataDir = new Path(s"$path/data")
    if (f.exists(dataDir)) {
      def norm(p: String): String = new Path(p).toUri.getPath
      val recentVersions: Seq[Long] = versionMtimes.collect {
        case (v, mt) if v != m.version && inGrace(v, mt) => v
      }
      val live = (m.files.map(_.path) ++ recentVersions.flatMap { v =>
        scala.util.Try(readManifest(spark, path, v)).toOption
          .map(_.files.map(_.path)).getOrElse(Nil)
      }).map(p => norm(resolveEntry(path, p))).toSet
      listFilesUnder(f, dataDir).foreach { st =>
        val p = st.getPath
        if (!live.contains(norm(p.toString)) &&
            st.getModificationTime <= cutoff &&
            // a file that vanished after the listing was not ours
            f.delete(p, false))
          deleted += p.toString
      }
    }
    // a streaming sink commits one version per micro-batch — without
    // this the manifest dir LIST (paid on every commit) grows forever.
    // With the delta log, the LATEST version's parent chain must
    // survive (deleting a mid-chain delta would brick assembly), so
    // the protected set is the chain, not just the head. Only a PREFIX
    // of the log goes: a gap above a surviving version (a skipped
    // squatter inside the chain's range, a skewed mtime) would stop
    // VersionLog.head's probe short of the head.
    val keep = chainVersions(spark, path, m.version)
    versionMtimes.iterator.takeWhile { case (v, mt) =>
      // same in-grace rule as the data pass: a version a reader may
      // still be draining keeps its manifest file too (time travel to
      // it must outlive its data files, not the other way around)
      v < m.version && !keep.contains(v) && !inGrace(v, mt)
    }.foreach { case (v, _) => log.delete(f, path, v) }
    deleted.toSeq
  }
}
