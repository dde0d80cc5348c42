package graft.archive

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession

/** Raised when a command names a channel that already exists. */
class ChannelAlreadyExistsException(name: String)
  extends RuntimeException(s"channel '$name' already exists")

/** Raised when a command names a channel that does not exist. */
class NoSuchChannelException(name: String)
  extends RuntimeException(s"no such channel '$name'")

/** Raised when another (possibly crashed) operation holds the channel:
  * the reference's concurrent-modification protection
  * (PendingChannelOperationException, ArchiveConfigurationService.java).
  */
class PendingChannelOperationException(name: String, op: String)
  extends RuntimeException(
    s"operation '$op' is pending for channel '$name' — " +
      "complete or recover it first")

/** Channel-configuration lifecycle commands — the reference's
  * add / add-or-update / update / rename / remove surface with
  * pending-operation protection
  * (ArchiveConfigurationService.java:477,719,770,930;
  * AddChannelCommand / UpdateChannelCommand / RenameChannelCommand /
  * RemoveChannelCommand), re-expressed on a tiny versioned config log
  * that commits exactly like [[ManifestStore]] manifests: full state
  * per version, exclusive-create publish, optimistic retry.
  *
  * Pure-metadata commands (add, update, rename — the store layout is
  * keyed by the rename-stable `channelDataId`, so a rename never
  * touches data) are single CAS commits: atomic, no pending state
  * needed. Remove spans the config log AND the sample store, so it is
  * two-phase like the reference's pending-operation protocol:
  *
  *   1. commit `pending(remove, channel)` — any other command on that
  *      channel now fails with [[PendingChannelOperationException]];
  *   2. delete the channel's data ([[ManifestStore.removeChannelData]],
  *      itself an atomic manifest swap; bytes go at vacuum);
  *   3. commit the config removal and clear the pending marker.
  *
  * A crash between 1 and 3 leaves the pending marker: the channel is
  * locked, and [[recoverPending]] replays step 2 (idempotent — a
  * second data removal finds nothing) and completes step 3. This is
  * the reference's crash story (a pending operation found in the
  * database is rolled forward) on manifest-store transactions.
  */
object ConfigCommands {

  case class PendingOp(channel: String, kind: String, startedMs: Long)

  case class ConfigState(version: Long, configs: Seq[ChannelConfig],
                         pending: Seq[PendingOp]) {
    def config(name: String): Option[ChannelConfig] =
      configs.find(_.name == name)

    /** Channels whose archiving is switched on — the set the engine
      * acts on (the reference honors the enabled flag at
      * ArchivedChannel.java:766-835; a disabled channel is neither
      * written nor served).
      */
    def enabledConfigs: Seq[ChannelConfig] = configs.filter(_.enabled)

    /** The decimation-level set the cascade must maintain: the union
      * of every enabled channel's declared levels (sans raw),
      * ascending — the config-derived replacement for caller-passed
      * level lists ([[ConfiguredArchive]]).
      */
    def levelsSec: Seq[Long] =
      enabledConfigs.flatMap(_.levels.keys).filter(_ != 0L).distinct.sorted

    /** Per-level retention derived from ALL configured channels' maps
      * — enabled AND disabled: disabling a channel stops archiving
      * and serving, but its already-stored history must keep its
      * retention protection (a disabled channel's keep-forever vote
      * still pins shared day buckets; dropping the vote would let a
      * neighbour's shorter horizon delete data that re-enabling was
      * supposed to bring back). Votes collapse with the only
      * partition-safe rule (day buckets are shared across channels,
      * so the MOST conservative wins): any channel asking 0 (keep
      * forever) pins the level to 0, otherwise the maximum
      * keep-duration applies — the same rule as
      * [[ChannelRegistry.levelRetention]]. Only [[removeChannel]]
      * withdraws a channel's vote (it deletes the data anyway).
      */
    def retentionSec: Map[Long, Long] =
      configs.flatMap(_.levels.toSeq).groupBy(_._1).map {
        case (l, kvs) =>
          l -> (if (kvs.exists(_._2 == 0L)) 0L else kvs.map(_._2).max)
      }
  }

  // ---- the versioned config log ------------------------------------

  private val mapper = new ObjectMapper()

  private def toJson(st: ConfigState): Array[Byte] = {
    val root: ObjectNode = mapper.createObjectNode()
    root.put("version", st.version)
    val cs: ArrayNode = root.putArray("configs")
    st.configs.sortBy(_.name).foreach { c =>
      val n = cs.addObject()
      n.put("name", c.name)
      n.put("data_id", c.channelDataId)
      n.put("control_system_type", c.controlSystemType)
      n.put("enabled", c.enabled)
      val o = n.putObject("options")
      c.options.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
      val l = n.putObject("levels")
      c.levels.toSeq.sortBy(_._1).foreach { case (k, v) =>
        l.put(k.toString, v)
      }
    }
    val ps: ArrayNode = root.putArray("pending")
    st.pending.foreach { p =>
      val n = ps.addObject()
      n.put("channel", p.channel)
      n.put("kind", p.kind)
      n.put("started_ms", p.startedMs)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root)
  }

  private def fromJson(bytes: Array[Byte]): ConfigState = {
    val root = mapper.readTree(bytes)
    val configs = ArrayBuffer.empty[ChannelConfig]
    root.get("configs").forEach { n =>
      val options = scala.collection.mutable.Map.empty[String, String]
      n.get("options").fields().forEachRemaining(e =>
        options += e.getKey -> e.getValue.asText())
      val levels = scala.collection.mutable.Map.empty[Long, Long]
      n.get("levels").fields().forEachRemaining(e =>
        levels += e.getKey.toLong -> e.getValue.asLong())
      configs += ChannelConfig(n.get("name").asText(),
        n.get("data_id").asText(), n.get("control_system_type").asText(),
        n.get("enabled").asBoolean(), options.toMap, levels.toMap)
    }
    val pending = ArrayBuffer.empty[PendingOp]
    root.get("pending").forEach(n =>
      pending += PendingOp(n.get("channel").asText(), n.get("kind").asText(),
        n.get("started_ms").asLong()))
    ConfigState(root.get("version").asLong(), configs.toSeq, pending.toSeq)
  }

  /** The config log, `_config/v{N}.json`: every version the complete
    * state ([[StateLog]]). Its memo matters here — the serving edge
    * reads the state once per HTTP request
    * ([[ConfiguredArchive.Snapshot]]), and re-parsing a 1000-channel
    * JSON log per read was measurable against the request latency
    * floor.
    */
  private val log = new StateLog[ConfigState]("_config",
    ConfigState(0L, Nil, Nil), memoMax = 1024, toJson, fromJson,
    (st, v) => st.copy(version = v))

  /** The latest committed configuration state (empty for a new store). */
  def state(spark: SparkSession, path: String): ConfigState =
    log.state(spark, path)

  private def requireFree(st: ConfigState, name: String): Unit =
    st.pending.find(_.channel == name).foreach(p =>
      throw new PendingChannelOperationException(name, p.kind))

  // ---- commands ----------------------------------------------------

  /** Add a new channel; fails if the name exists or is locked by a
    * pending operation (AddChannelCommand semantics).
    */
  def addChannel(spark: SparkSession, path: String,
                 cfg: ChannelConfig): ConfigState =
    log.commit(spark, path) { st =>
      requireFree(st, cfg.name)
      if (st.config(cfg.name).isDefined)
        throw new ChannelAlreadyExistsException(cfg.name)
      st.copy(configs = st.configs :+ normalize(cfg))
    }

  /** Update an existing channel's configuration. The rename-stable
    * data id and the control-system type are immutable, like the
    * reference's UpdateChannelCommand (a mismatch fails the command).
    */
  def updateChannel(spark: SparkSession, path: String,
                    cfg: ChannelConfig): ConfigState =
    log.commit(spark, path) { st =>
      requireFree(st, cfg.name)
      val old = st.config(cfg.name)
        .getOrElse(throw new NoSuchChannelException(cfg.name))
      require(old.channelDataId == cfg.channelDataId,
        s"channel_data_id is immutable ('${old.channelDataId}')")
      require(old.controlSystemType == cfg.controlSystemType,
        s"control_system_type is immutable ('${old.controlSystemType}')")
      st.copy(configs =
        st.configs.filterNot(_.name == cfg.name) :+ normalize(cfg))
    }

  /** AddOrUpdateChannelCommand: add when absent, update when present. */
  def addOrUpdateChannel(spark: SparkSession, path: String,
                         cfg: ChannelConfig): ConfigState =
    log.commit(spark, path) { st =>
      requireFree(st, cfg.name)
      st.config(cfg.name) match {
        case None => st.copy(configs = st.configs :+ normalize(cfg))
        case Some(old) =>
          require(old.channelDataId == cfg.channelDataId &&
            old.controlSystemType == cfg.controlSystemType,
            "data id / control-system type are immutable")
          st.copy(configs =
            st.configs.filterNot(_.name == cfg.name) :+ normalize(cfg))
      }
    }

  /** Rename: pure config metadata — the store is keyed by the
    * permanent data id, so no data moves (the whole point of the
    * id-keyed layout; RenameChannelCommand's data copy is obviated).
    * Both names are pending-guarded, the target must be free.
    */
  def renameChannel(spark: SparkSession, path: String,
                    oldName: String, newName: String): ConfigState =
    log.commit(spark, path) { st =>
      requireFree(st, oldName); requireFree(st, newName)
      val old = st.config(oldName)
        .getOrElse(throw new NoSuchChannelException(oldName))
      if (st.config(newName).isDefined)
        throw new ChannelAlreadyExistsException(newName)
      st.copy(configs =
        st.configs.filterNot(_.name == oldName) :+ old.copy(name = newName))
    }

  /** Remove a channel AND its archived data: two-phase with a pending
    * marker (see object docs). `storePath` is the manifest sample
    * store keyed by the channel's data id; pass None for a config-only
    * removal (data already gone or stored elsewhere).
    */
  def removeChannel(spark: SparkSession, path: String, name: String,
                    storePath: Option[String]): ConfigState = {
    val st = beginRemove(spark, path, name)
    completeRemove(spark, path, name,
      st.config(name).get.channelDataId, storePath)
  }

  /** Phase 1 of [[removeChannel]]: commit the pending marker that
    * locks the channel. Public so a crashed remove is reproducible in
    * tests and so schedulers can stage removals — [[recoverPending]]
    * rolls any marker forward.
    */
  def beginRemove(spark: SparkSession, path: String,
                  name: String): ConfigState =
    log.commit(spark, path) { st =>
      requireFree(st, name)
      if (st.config(name).isEmpty) throw new NoSuchChannelException(name)
      st.copy(pending = st.pending :+
        PendingOp(name, "remove", System.currentTimeMillis()))
    }

  private def completeRemove(spark: SparkSession, path: String,
                             name: String, dataId: String,
                             storePath: Option[String]): ConfigState = {
    storePath.foreach(sp =>
      ManifestStore.removeChannelData(spark, sp, dataId))
    log.commit(spark, path) { st =>
      st.copy(configs = st.configs.filterNot(_.name == name),
        pending = st.pending.filterNot(p =>
          p.channel == name && p.kind == "remove"))
    }
  }

  /** Roll pending operations forward after a crash: replays the data
    * deletion (idempotent) and completes the config commit for every
    * pending marker — the reference's recovery of pending operations
    * found in the database. Returns the channels recovered.
    */
  def recoverPending(spark: SparkSession, path: String,
                     storePath: Option[String]): Seq[String] = {
    val st = state(spark, path)
    st.pending.map { p =>
      p.kind match {
        case "remove" =>
          val dataId = st.config(p.channel).map(_.channelDataId)
            .getOrElse(p.channel)
          completeRemove(spark, path, p.channel, dataId, storePath)
        case other =>
          // unknown kinds only clear their marker (nothing to roll
          // forward — metadata commands are single-commit)
          log.commit(spark, path)(s =>
            s.copy(pending = s.pending.filterNot(_ == p)))
      }
      p.channel
    }
  }

  /** Negative retentions → 0 (keep forever) and raw level always
    * present — the reference's argument normalization
    * (ArchiveConfigurationService.java addChannel docs).
    */
  private def normalize(cfg: ChannelConfig): ChannelConfig = {
    val levels = cfg.levels.map { case (p, r) => p -> math.max(0L, r) }
    cfg.copy(levels =
      if (levels.contains(0L)) levels else levels + (0L -> 0L))
  }
}
