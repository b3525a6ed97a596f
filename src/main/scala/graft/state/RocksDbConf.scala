package graft.state

import org.apache.spark.internal.Logging
import org.apache.spark.sql.execution.streaming.state.StateStoreConf

import scala.util.Try

/** Parsed configuration for the graft RocksDB state store provider.
  *
  * Reproduces the reference's TTL config surface (reference
  * `RocksDbStateStoreProvider.scala:699-769`, `README.md:34-104`):
  *
  *  - `spark.sql.streaming.stateStore.stateExpirySecs` — query-wide default
  *    TTL in seconds: `-1` infinite (default), `0` stateless, `N>0` expire N
  *    seconds after creation / last update / last access.
  *  - `spark.sql.streaming.stateStore.stateExpirySecs.<queryName>` — per-query
  *    override; `queryName` is recovered from the checkpoint path exactly as
  *    the reference does (strip a trailing `/state`, take the last segment,
  *    `UNNAMED_QUERY` fallback — reference `:360-373`).
  *  - `spark.sql.streaming.stateStore.strictExpire` — `true` = exact expiry
  *    (per-key deadline tracking), `false` (default) = lazy, expired entries
  *    removed at RocksDB compaction ("at least ttl" semantics).
  *
  * plus RocksDB tuning knobs mirroring the reference's fixed `Options`
  * (`:101-107`) — same defaults, but configurable here.
  */
final case class RocksDbConf(
    ttlSecs: Int,
    strictExpire: Boolean,
    writeBufferSizeMb: Long,
    writeBufferNumber: Int,
    totalMemoryMb: Long,
    backgroundJobs: Int,
    trackTotalNumberOfRows: Boolean,
    changelogEnabled: Boolean,
    queryName: String)

object RocksDbConf extends Logging {
  val PREFIX = "spark.sql.streaming.stateStore"
  val STATE_EXPIRY_SECS: String = s"$PREFIX.stateExpirySecs"
  val STRICT_EXPIRE: String = s"$PREFIX.strictExpire"
  val WRITE_BUFFER_SIZE_MB: String = s"$PREFIX.rocksdb.writeBufferSizeMb"
  val WRITE_BUFFER_NUMBER: String = s"$PREFIX.rocksdb.maxWriteBufferNumber"
  val BACKGROUND_JOBS: String = s"$PREFIX.rocksdb.maxBackgroundJobs"
  /** JVM-wide cap (MB) on RocksDB memory across ALL provider instances in
    * the executor (shared block cache + write-buffer manager). 0 = unbounded
    * per-instance sizing, the reference-compatible default. See
    * [[SharedRocksMemory]]. */
  val TOTAL_MEMORY_MB: String = s"$PREFIX.rocksdb.totalMemoryMb"
  val TRACK_TOTAL_ROWS: String = s"$PREFIX.rocksdb.trackTotalNumberOfRows"
  /** Changelog checkpointing (default on): each commit uploads a delta of
    * the batch's writes, and the maintenance thread adds a snapshot every
    * `minDeltasForSnapshot` versions; `false` restores the reference's
    * snapshot-per-commit behavior. Either way snapshots keep their SSTs in
    * a content-addressed pool, so a snapshot uploads only the SSTs that
    * changed. See [[SnapshotManager]]. */
  val CHANGELOG: String = s"$PREFIX.changelogCheckpointing"
  val UNNAMED_QUERY = "UNNAMED_QUERY"

  def apply(storeConf: StateStoreConf, checkpointRootLocation: String): RocksDbConf = {
    // sqlConfs carries every spark.sql.streaming.stateStore.* entry; session
    // extraOptions (per-operator) may override.
    val confs: Map[String, String] = storeConf.sqlConfs ++ storeConf.extraOptions

    val queryName = deriveQueryName(checkpointRootLocation)
    val ttl = confs.get(s"$STATE_EXPIRY_SECS.$queryName")
      .orElse(confs.get(STATE_EXPIRY_SECS))
      .map(parseInt(STATE_EXPIRY_SECS, _))
      .getOrElse(-1)

    RocksDbConf(
      ttlSecs = math.max(ttl, -1),
      strictExpire = confs.get(STRICT_EXPIRE).exists(parseBool(STRICT_EXPIRE, _)),
      writeBufferSizeMb = confs.get(WRITE_BUFFER_SIZE_MB).map(parseInt(WRITE_BUFFER_SIZE_MB, _).toLong).getOrElse(200L),
      writeBufferNumber = confs.get(WRITE_BUFFER_NUMBER).map(parseInt(WRITE_BUFFER_NUMBER, _)).getOrElse(3),
      totalMemoryMb = confs.get(TOTAL_MEMORY_MB).map(parseInt(TOTAL_MEMORY_MB, _).toLong).getOrElse(0L),
      backgroundJobs = confs.get(BACKGROUND_JOBS).map(parseInt(BACKGROUND_JOBS, _)).getOrElse(10),
      trackTotalNumberOfRows = confs.get(TRACK_TOTAL_ROWS).forall(parseBool(TRACK_TOTAL_ROWS, _)),
      changelogEnabled = confs.get(CHANGELOG).forall(parseBool(CHANGELOG, _)),
      queryName = queryName)
  }

  /** Reference semantics (`RocksDbStateStoreProvider.scala:360-373`): the
    * query name is the last path segment of the checkpoint root once a
    * trailing `/state` is removed; anything unparseable falls back to
    * `UNNAMED_QUERY` with a warning.
    */
  private[state] def deriveQueryName(checkpointRootLocation: String): String = {
    val trimmed = checkpointRootLocation.stripSuffix("/").stripSuffix("state").stripSuffix("/")
    val segment = trimmed.split('/').lastOption.getOrElse("")
    if (segment.isEmpty || segment.contains(":")) {
      logWarning(s"Cannot derive a query name from checkpoint location " +
        s"'$checkpointRootLocation'; per-query state TTL is unavailable (using $UNNAMED_QUERY)")
      UNNAMED_QUERY
    } else segment
  }

  private def parseInt(key: String, v: String): Int =
    Try(v.trim.toInt).getOrElse(
      throw new IllegalArgumentException(s"$key must be an integer, got '$v'"))

  private def parseBool(key: String, v: String): Boolean =
    Try(v.trim.toBoolean).getOrElse(
      throw new IllegalArgumentException(s"$key must be a boolean, got '$v'"))
}
