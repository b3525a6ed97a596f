package graft.state

import java.io.{File, FileInputStream, FileOutputStream}
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.collection.mutable
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.streaming.state._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.rocksdb._

/** A RocksDB-backed [[StateStoreProvider]] for Spark Structured Streaming —
  * the graft re-expression of the reference engine
  * (`ru.chermenin.spark.sql.execution.streaming.state.RocksDbStateStoreProvider`,
  * reference `RocksDbStateStoreProvider.scala`) against the Spark 4.1 SPI.
  *
  * Architecture (reference behaviors cited, none of its code reused):
  *
  *  - State is one RocksDB instance per (operator, partition, store name),
  *    holding `UnsafeRow -> UnsafeRow` pairs as raw bytes (reference
  *    `:152-162, :258-264`), multi-versioned per micro-batch: version `v` is
  *    loaded, updated, and committed as `v+1` (reference `:118, :196-217`).
  *  - Durability = one zip snapshot of the DB directory per committed version
  *    under the store's checkpoint dir (reference `:448-462`), with the
  *    previous batch's local directory moved — not re-downloaded — on the
  *    next load (reference `:299-304, :485-498`), newest-first fallback past
  *    corrupt snapshots (reference `:384-401`) and retention-bounded cleanup
  *    on the maintenance thread (reference `:573-592`).
  *  - Per-key processing-time TTL, the reference's one novel feature
  *    (`:71-94`): `-1` infinite, `0` stateless, `N>0` seconds since
  *    creation/last-update/last-access; lazy mode rides RocksDB's TtlDB
  *    compaction expiry, strict mode gives exact visibility. Unlike the
  *    reference's in-heap per-store-instance Guava cache (which silently
  *    forgot deadlines on every new batch and on failover — SURVEY §7.4),
  *    strict deadlines here live in a parallel RocksDB column family and ride
  *    the same snapshots, so exact expiry survives both.
  *
  * Spark 4 SPI surface beyond the reference: real prefix scans (the
  * reference's `getRange` ignored its bounds, `:190-193`), byte-ordered range
  * scans, column families, multi-valued keys (`merge`/`valuesIterator`), and
  * read-store/upgrade paths — see [[KeyCodec]] and [[ValueCodec]].
  *
  * Known reference defects deliberately not reproduced (SURVEY §4): strict
  * TTL `remove` no-op invalidation (byte-keyed here), `abort` publishing its
  * dirty directory, `commit` marking Committed before the fallible upload,
  * and `metrics` guessing memory from schema default sizes.
  */
class RocksDbStateStoreProvider extends StateStoreProvider with Logging
    with org.apache.spark.sql.graftbridge.ChangeFeedBridge {
  import RocksDbStateStoreProvider._

  org.rocksdb.RocksDB.loadLibrary()

  @volatile private var stateStoreId_ : StateStoreId = _
  @volatile private var keySchema: StructType = _
  @volatile private var valueSchema: StructType = _
  @volatile private var keyEncoderSpec: KeyStateEncoderSpec = _
  @volatile private var useColumnFamilies: Boolean = false
  @volatile private var useMultipleValuesPerKey: Boolean = false
  @volatile private var storeConf: StateStoreConf = _
  @volatile private var hadoopConf: Configuration = _
  @volatile private var conf: RocksDbConf = _
  @volatile private var snapshots: SnapshotManager = _
  @volatile private[state] var tempRoot: File = _
  @volatile private var ckptIdsEnabled: Boolean = false
  @volatile private var schemaProvider: Option[StateSchemaProvider] = None

  /** Local dir holding exactly one committed version, tagged (under
    * checkpoint-format v2) with the unique ID of the commit that produced
    * it so a retried task's different commit is never reused by mistake. */
  private[state] case class LocalSnapshot(dir: File, ckptId: Option[String])

  /** version -> local RocksDB dir holding exactly that committed version
    * (reference `localSnapshots`, `:114, :299-304`). */
  private val localSnapshots = new ConcurrentHashMap[Long, LocalSnapshot]()

  /** Observability for the handle-adoption hot path: physical RocksDB opens
    * performed for store instances (an adopted handle does not count). The
    * adoption suite asserts a steady micro-batch sequence opens once. */
  private[state] val dbOpens = new java.util.concurrent.atomic.AtomicLong(0)
  /** Physical RocksDB closes of store instances (a detached, adopted handle
    * does not count): `dbOpens - dbCloses` is the number of open handles. */
  private[state] val dbCloses = new java.util.concurrent.atomic.AtomicLong(0)

  /** The store most recently opened by this provider. Spark reads
    * `iterator()`/`metrics` *after* `commit()` (e.g. Complete-mode output),
    * so a store must keep its RocksDB open past commit; the provider closes
    * it when the next version loads (or at provider close). The reference
    * closed the DB inside `commit()` (`:208`) — and would have segfaulted on
    * any post-commit read. */
  @volatile private var lastOpenStore: Option[RocksDbStateStore] = None

  /** Newest known durable full snapshot, cached so the per-commit snapshot
    * cadence check costs no filesystem round trip (one listing per commit
    * per partition would be a NameNode RPC storm at cluster scale).
    * Initialized at init, advanced on upload. */
  @volatile private var newestFullSnapshot: Long = -1L

  override def init(
      stateStoreId: StateStoreId,
      keySchema: StructType,
      valueSchema: StructType,
      keyStateEncoderSpec: KeyStateEncoderSpec,
      useColumnFamilies: Boolean,
      storeConfs: StateStoreConf,
      hadoopConf: Configuration,
      useMultipleValuesPerKey: Boolean,
      stateSchemaProvider: Option[StateSchemaProvider]): Unit = {
    this.stateStoreId_ = stateStoreId
    this.keySchema = keySchema
    this.valueSchema = valueSchema
    this.keyEncoderSpec = keyStateEncoderSpec
    this.useColumnFamilies = useColumnFamilies
    this.useMultipleValuesPerKey = useMultipleValuesPerKey
    this.storeConf = storeConfs
    this.hadoopConf = hadoopConf
    // Checkpoint-format v2: every commit gets a unique ID, durable files are
    // suffixed with it, and recovery materializes the exact commit the
    // engine's commit log recorded (never a same-version sibling from a
    // retried or speculative task).
    this.ckptIdsEnabled = storeConfs.enableStateStoreCheckpointIds
    this.schemaProvider = stateSchemaProvider
    this.conf = RocksDbConf(storeConfs, stateStoreId.checkpointRootLocation)
    this.snapshots = new SnapshotManager(stateStoreId.storeCheckpointLocation(), hadoopConf)
    this.tempRoot = java.nio.file.Files.createTempDirectory(
      s"graft-state-${stateStoreId.operatorId}-${stateStoreId.partitionId}-").toFile
    snapshots.ensureBaseDir()
    newestFullSnapshot = snapshots.listVersions().maxOption.getOrElse(0L)
  }

  override def stateStoreId: StateStoreId = stateStoreId_

  override def getStore(version: Long, uniqueId: Option[String]): StateStore =
    loadStore(version, readOnly = false, uniqueId)

  override def getReadStore(version: Long, uniqueId: Option[String]): ReadStateStore =
    loadStore(version, readOnly = true, uniqueId)

  /** Open an EMPTY writable store at `version` (its commit publishes
    * `version + 1`), bypassing version resolution entirely — the offline
    * importer's entry point ([[StateRepartition]]): a fresh checkpoint
    * layout has nothing to load, and under checkpoint-format v2 the normal
    * load path is exact-or-fail (an absent version is an error, never an
    * implicit empty start). Under v2 the store mints a fresh commit ID the
    * importer records into the rewritten commit log. */
  private[state] def emptyStoreAt(version: Long): RocksDbStateStore = synchronized {
    require(version >= 0, "Version cannot be less than 0")
    lastOpenStore.filter(_.isFinished).foreach(_.ensureClosed())
    val store = new RocksDbStateStore(version, freshDir(), readOnly = false, None)
    lastOpenStore = Some(store)
    store
  }

  override def upgradeReadStoreToWriteStore(
      readStore: ReadStateStore, version: Long, uniqueId: Option[String]): StateStore =
    readStore match {
      // under v2 the read store must also be of the requested lineage — a
      // same-version store loaded from a sibling commit must not upgrade
      case s: RocksDbStateStore if s.version == version &&
        (!ckptIdsEnabled || uniqueId.isEmpty || s.lineageId == uniqueId) =>
        s.upgradeToWriteStore(); s
      case other =>
        // release the orphaned read store before replacing it, or its open
        // RocksDB and temp dir would leak until provider close
        Try(other.release())
        getStore(version, uniqueId)
    }

  /** Resolve a local directory containing committed state for `version` and
    * open a store over it. Hot path first: when the previous batch's
    * finished store already holds exactly `version` (its dir is the
    * registered local snapshot for it), the new store ADOPTS the open
    * RocksDB handle — no close, no dir move, no reopen (measured round 16:
    * 13.5 ms open + 1.2 ms close per store per micro-batch, the largest
    * provider-owned fixed cost left; VERDICT r16 item 1). Otherwise exact
    * version resolution (local move, else snapshot download); on corruption
    * fall back loudly to the newest older snapshot, then to empty state —
    * the reference's resilience contract (`:384-401`, tested
    * `RocksDbStateStoreProviderSuite.scala:106-133`). */
  private def loadStore(
      version: Long, readOnly: Boolean, uniqueId: Option[String] = None): RocksDbStateStore =
    synchronized {
      require(version >= 0, "Version cannot be less than 0")
      // Under v2 a caller without a lineage ID (e.g. the statestore reader)
      // gets the store resolved by version; ambiguity is broken toward the
      // lexicographically greatest ID for determinism.
      val resolvedId: Option[String] =
        if (!ckptIdsEnabled || version == 0) None
        else uniqueId.orElse(resolveIdByVersion(version))
      // Handle adoption: sound only when the registry proves the previous
      // store's OWN dir holds exactly the requested commit — commit()
      // registers its dir under the version it published, release() under
      // the version it read, and abort never registers — so
      // a registry entry pointing at the previous store's dir certifies its
      // open handle views exactly `version`. Under checkpoint-format v2 the
      // entry's commit ID must additionally match the resolved lineage (a
      // same-version sibling from a retried task must never be adopted),
      // mirroring materializeV2's local-reuse filter. detachDb() drains
      // in-flight readers under the round-8 native-handle lifetime contract;
      // if they do not drain the handle is leaked (never freed under a live
      // thread) and the normal move+reopen path takes over.
      val adopted: Option[(File, OpenDb)] =
        if (version == 0) None
        else lastOpenStore.filter(_.isFinished).flatMap { prev =>
          Option(localSnapshots.get(version))
            .filter(e => prev.ownsDir(e.dir) && e.dir.isDirectory)
            .filter(e => !ckptIdsEnabled || (resolvedId.isDefined && e.ckptId == resolvedId))
            .flatMap { e =>
              prev.detachDb().map { db =>
                localSnapshots.remove(version)
                (e.dir, db)
              }
            }
        }
      adopted.foreach { case (dir, db) =>
        val store = new RocksDbStateStore(version, dir, readOnly, resolvedId, Some(db))
        lastOpenStore = Some(store)
        return store
      }
      // Close the previous batch's finished store before (possibly) moving its
      // directory; a store still Updating (e.g. an in-use read store) is left
      // alone — its dir is not in the registry yet.
      lastOpenStore.filter(_.isFinished).foreach(_.ensureClosed())
      val dir =
        if (version == 0) freshDir()
        else if (ckptIdsEnabled) {
          val id = resolvedId.getOrElse(throw new IllegalStateException(
            s"No durable commit found for state version $version of $stateStoreId_ " +
              "(checkpoint format v2)"))
          // v2 is exact-or-fail: silently substituting an older version would
          // defeat the lineage contract.
          materializeV2(version, id).getOrElse(throw new IllegalStateException(
            s"Cannot materialize state version $version (commit $id) of $stateStoreId_: " +
              "snapshot or changelog chain missing or unreadable"))
        } else {
          tryMaterialize(version).getOrElse {
            val candidates =
              (snapshots.listVersions() ++ snapshots.listDeltaVersions() ++
                localSnapshots.keySet().asScala)
              .filter(v => v < version && v > 0).distinct.sorted(Ordering.Long.reverse)
            logWarning(s"State version $version of $stateStoreId_ is missing or unreadable; " +
              s"falling back (candidates: ${candidates.mkString(",")})")
            candidates.iterator.flatMap(tryMaterialize).nextOption().getOrElse {
              logWarning(s"No readable snapshot at all for $stateStoreId_; starting empty at version $version")
              freshDir()
            }
          }
        }
      val store = new RocksDbStateStore(version, dir, readOnly, resolvedId)
      lastOpenStore = Some(store)
      store
    }

  /** v2 without a caller-provided lineage ID: pick the commit for `version`
    * from what is visible (local registry first, then durable files). */
  private def resolveIdByVersion(version: Long): Option[String] =
    Option(localSnapshots.get(version)).flatMap(_.ckptId)
      .orElse((snapshots.idsAt(version, snapshot = true) ++
        snapshots.idsAt(version, snapshot = false)).maxOption)

  /** Materialize exactly commit `(v, id)`: local-move reuse when the tagged
    * commit matches, else walk the delta lineage headers back to a full
    * snapshot of the chain and replay forward. */
  private def materializeV2(v: Long, id: String): Option[File] = {
    val fromLocal = Option(localSnapshots.get(v))
      .filter(e => e.ckptId.contains(id) && e.dir.isDirectory)
      .flatMap(e => Option(localSnapshots.remove(v)).map(_ => e.dir))
      .map { src =>
        val dest = freshDir()
        dest.delete()
        java.nio.file.Files.move(src.toPath, dest.toPath)
        dest
      }
    fromLocal.orElse(Try {
      // chain of deltas (ascending) to replay over the snapshot base
      var chain = List.empty[(Long, String)]
      var curV = v
      var curId = id
      while (curV > 0 && !snapshots.snapshotExists(curV, Some(curId))) {
        chain = (curV, curId) :: chain
        curId = Changelog.readHeaderOnly(snapshots.openDelta(curV, Some(curId)))
        curV -= 1
      }
      val dest = freshDir()
      if (curV > 0) snapshots.download(curV, dest, Some(curId))
      if (chain.nonEmpty) replayDeltas(dest, chain.map { case (dv, did) => (dv, Some(did)) })
      dest
    }.recoverWith { case e =>
      logWarning(s"Recovery of commit ($v, $id) failed for $stateStoreId_: $e")
      scala.util.Failure(e)
    }.toOption
      .filter { d =>
        val ok = Try { openDb(d, verifyOnly = true) }.isSuccess
        if (!ok) logWarning(s"Recovered dir for commit ($v, $id) of $stateStoreId_ failed to open; ignoring")
        ok
      })
  }

  /** Try to produce a local dir holding exactly `v`: move the local snapshot
    * if registered (zero-copy reuse of the previous batch — the reference's
    * hot-path trick, `:485-498`), else recover from the durable files: the
    * newest full snapshot `s <= v` whose changelog chain `(s, v]` is
    * complete, downloaded and replayed. Every candidate is verified to open
    * before being accepted. */
  private def tryMaterialize(v: Long): Option[File] = {
    // Local move needs no verify-open: this provider produced the dir itself,
    // and a registered dir is closed before it moves, so its WAL carries
    // every write not yet flushed and the reopen replays it; a second open
    // would double store-open latency on every micro-batch's hot path.
    val fromLocal = Option(localSnapshots.remove(v)).map(_.dir).filter(_.isDirectory).map { src =>
      val dest = freshDir()
      dest.delete()
      java.nio.file.Files.move(src.toPath, dest.toPath)
      dest
    }
    fromLocal.orElse {
      val snaps = snapshots.listVersions()
      val deltas = snapshots.listDeltaVersions().toSet
      // Base candidates: every full snapshot <= v, newest first, plus the
      // EMPTY base (version 0) — a young chain legitimately has no full
      // snapshot at all since the version-1 commit-path snapshot was
      // retired (the cadence snapshot only lands after minDeltasForSnapshot
      // commits), and its recovery is a replay of deltas 1..v from empty,
      // exactly like the v2 lineage walk's v=0 terminal.
      (snaps.filter(_ <= v).sorted(Ordering.Long.reverse).iterator ++ Iterator.single(0L))
        .filter(s => ((s + 1) to v).forall(deltas.contains))
        .flatMap { s =>
          Try {
            val dest = freshDir()
            if (s > 0) snapshots.download(s, dest)
            if (s < v) replayDeltas(dest, ((s + 1) to v).map(dv => (dv, Option.empty[String])))
            dest
          }.recoverWith { case e =>
            logWarning(s"Recovery of version $v from snapshot $s failed for $stateStoreId_: $e")
            scala.util.Failure(e)
          }.toOption
        }
        // recovered dirs are verified to open before being accepted
        .filter { d =>
          val ok = Try { openDb(d, verifyOnly = true) }.isSuccess
          if (!ok) logWarning(s"Recovered dir for version $v of $stateStoreId_ failed to open; ignoring")
          ok
        }
        .nextOption()
    }
  }

  /** Apply the changelog deltas of `chain` (ascending `(version, ckptId)`)
    * to the DB at `dir` (byte-level — no key/value codecs), then flush so
    * the dir is self-contained. v2 entries carry an ID: their lineage
    * header is consumed before the record stream. */
  private def replayDeltas(dir: File, chain: Seq[(Long, Option[String])]): Unit = {
    val opened = openDb(dir, verifyOnly = false)
    try {
      chain.foreach { case (dv, did) =>
        val in = snapshots.openDelta(dv, did)
        if (did.isDefined) Changelog.readHeader(in)
        Changelog.read(in).foreach { r =>
          val h = opened.handles.getOrElseUpdate(r.cf, {
            opened.db.createColumnFamilyWithTtl(
              new ColumnFamilyDescriptor(r.cf.getBytes("UTF-8"), cfOptions()), compactionTtlFor(r.cf))
          })
          if (r.op == Changelog.OpPut) opened.db.put(h, r.key, r.value)
          else opened.db.delete(h, r.key)
        }
      }
      val fo = new FlushOptions().setWaitForFlush(true)
      try opened.db.flush(fo, opened.handles.values.toSeq.asJava) finally fo.close()
    } finally closeDb(opened)
  }

  private def freshDir(): File = {
    val f = java.nio.file.Files.createTempDirectory(tempRoot.toPath, "db-").toFile
    f
  }

  /** Test hook (reference `RocksDbStateStoreProvider.scala:655-660`): the
    * key/value pairs of the newest committed version, materialized through a
    * throwaway read store so the returned iterator outlives it. */
  private[state] def latestIterator(): Iterator[UnsafeRowPair] = {
    val latest = (snapshots.listVersions() ++ snapshots.listDeltaVersions() ++
      localSnapshots.keySet().asScala).maxOption.getOrElse(0L)
    if (latest == 0L) return Iterator.empty
    val store = loadStore(latest, readOnly = true)
    try {
      val buf = Vector.newBuilder[UnsafeRowPair]
      val it = store.iterator(DefaultCf)
      try it.foreach(p => buf += new UnsafeRowPair(p.key.copy(), p.value.copy()))
      finally it.close()
      buf.result().iterator
    } finally store.release()
  }

  // ------------------------------------------------------------------
  // SupportsFineGrainedReplay: the statestore data source's advanced
  // options — `snapshotStartBatchId` (time-travel: rebuild endVersion from
  // one SPECIFIC full snapshot) and `readChangeFeed` (CDC over state,
  // served straight from the changelog deltas). Both are exact-or-fail:
  // a missing snapshot or a broken delta chain is a typed error, never a
  // silently-substituted different answer.
  // ------------------------------------------------------------------

  /** Rebuild state at `endVersion` starting from the full snapshot at
    * exactly `snapshotVersion` (intermediate snapshots are deliberately NOT
    * used — the caller asked to replay from that one, e.g. to debug whether
    * a later snapshot diverged from its chain). Under checkpoint-format v2
    * the delta lineage headers are walked back from `endVersion` so the
    * replay follows the exact commit chain, and a caller-supplied
    * `startStateStoreCkptId` must match the chain's snapshot commit. */
  override def replayStateFromSnapshot(
      snapshotVersion: Long,
      endVersion: Long,
      readOnly: Boolean,
      startStateStoreCkptId: Option[String],
      endStateStoreCkptId: Option[String]): StateStore = synchronized {
    require(snapshotVersion >= 1, s"snapshotVersion must be >= 1, got $snapshotVersion")
    require(endVersion >= snapshotVersion,
      s"endVersion $endVersion cannot precede snapshotVersion $snapshotVersion")
    lastOpenStore.filter(_.isFinished).foreach(_.ensureClosed())
    // Under v2 the store's lineage is the commit the replay materialized:
    // a WRITABLE replayed store commits endVersion+1 with this as its
    // lineage header, so the chain walks back through the exact commit the
    // caller replayed — `None` here would break lineage recovery of any
    // commit built on top of a replay (round-7 ADVICE carryover).
    var replayedLineage: Option[String] = None
    val dir =
      if (ckptIdsEnabled) {
        val endId = endStateStoreCkptId.orElse(resolveIdByVersion(endVersion)).getOrElse(
          throw new IllegalStateException(
            s"No durable commit found for state version $endVersion of $stateStoreId_ " +
              "(checkpoint format v2)"))
        replayedLineage = Some(endId)
        var chain = List.empty[(Long, Option[String])]
        var curV = endVersion
        var curId = endId
        while (curV > snapshotVersion) {
          chain = (curV, Some(curId)) :: chain
          curId = Changelog.readHeaderOnly(snapshots.openDelta(curV, Some(curId)))
          curV -= 1
        }
        startStateStoreCkptId.foreach { sid =>
          if (sid != curId) throw new IllegalStateException(
            s"Snapshot lineage mismatch at version $snapshotVersion of $stateStoreId_: " +
              s"the chain below commit ($endVersion, $endId) passes through commit $curId, " +
              s"not the requested $sid")
        }
        if (!snapshots.snapshotExists(snapshotVersion, Some(curId)))
          throw new IllegalStateException(
            s"No full snapshot at state version $snapshotVersion (commit $curId) of " +
              s"$stateStoreId_ — snapshotStartBatchId must name an existing snapshot")
        val dest = freshDir()
        snapshots.download(snapshotVersion, dest, Some(curId))
        if (chain.nonEmpty) replayDeltas(dest, chain)
        dest
      } else {
        if (!snapshots.snapshotExists(snapshotVersion, None))
          throw new IllegalStateException(
            s"No full snapshot at state version $snapshotVersion of $stateStoreId_ — " +
              "snapshotStartBatchId must name an existing snapshot")
        val deltas = snapshots.listDeltaVersions().toSet
        val missing = ((snapshotVersion + 1) to endVersion).filterNot(deltas.contains)
        if (missing.nonEmpty) throw new IllegalStateException(
          s"Cannot replay versions (${snapshotVersion + 1}, $endVersion] of $stateStoreId_: " +
            s"changelog files missing for ${missing.mkString(",")} " +
            "(was changelog checkpointing disabled?)")
        val dest = freshDir()
        snapshots.download(snapshotVersion, dest)
        if (endVersion > snapshotVersion)
          replayDeltas(dest, ((snapshotVersion + 1) to endVersion).map(v => (v, Option.empty[String])))
        dest
      }
    val store = new RocksDbStateStore(endVersion, dir, readOnly, replayedLineage)
    lastOpenStore = Some(store)
    store
  }

  /** Change feed over the default column family, decoded straight from the
    * changelog deltas — one record per (put | remove) as committed, stamped
    * with the batch that committed it (`version - 1`). Multi-valued
    * (ListState-backed) stores flatten: each put's value blob is a frame
    * list and yields one PUT row per element, so the feed at batch B for
    * key K is the complete list contents after that batch's update (exact —
    * this provider's changelog stores full blobs, not merge deltas). */
  override protected def changeFeedRecords(
      startVersion: Long,
      endVersion: Long,
      colFamilyNameOpt: Option[String],
      endStateStoreCkptId: Option[String])
    : Iterator[(RecordType.Value, UnsafeRow, UnsafeRow, Long)] with AutoCloseable = {
    val cf = colFamilyNameOpt.getOrElse(DefaultCf)
    // Named transformWithState variables are fine: the reader inits this
    // provider with the SELECTED variable's key/value schemas (reading TWS
    // state without stateVarName is rejected upstream), so the init-time
    // codecs below decode that family's bytes. Internal families are commit
    // bookkeeping, never user state.
    if (cf.startsWith(InternalCfPrefix)) throw new UnsupportedOperationException(
      s"readChangeFeed over internal column family '$cf' is not supported")
    if (!conf.changelogEnabled) throw new UnsupportedOperationException(
      s"readChangeFeed requires changelog checkpointing (${RocksDbConf.CHANGELOG}=true); " +
        "this checkpoint was written with full snapshots only")
    require(startVersion >= 1 && endVersion >= startVersion,
      s"invalid change feed range [$startVersion, $endVersion]")
    // v2: per-version commit IDs recovered by walking lineage headers back
    // from the end of the range; v1: version numbers alone name the files.
    val versionIds: Seq[(Long, Option[String])] =
      if (!ckptIdsEnabled) (startVersion to endVersion).map(v => (v, Option.empty[String]))
      else {
        val endId = endStateStoreCkptId.orElse(resolveIdByVersion(endVersion)).getOrElse(
          throw new IllegalStateException(
            s"No durable commit found for state version $endVersion of $stateStoreId_ " +
              "(checkpoint format v2)"))
        var acc = List.empty[(Long, Option[String])]
        var curV = endVersion
        var curId = endId
        while (curV >= startVersion) {
          acc = (curV, Some(curId)) :: acc
          if (curV > startVersion)
            curId = Changelog.readHeaderOnly(snapshots.openDelta(curV, Some(curId)))
          curV -= 1
        }
        acc
      }
    val keyCodec = KeyCodec(keyEncoderSpec)
    // Evolution must be looked up under the family actually being decoded:
    // a named transformWithState variable's rows carry the 2-byte schema-ID
    // prefix exactly when the schema provider tracks THAT family — decoding
    // them under the default family's (absent) evolution shifts every value
    // row by two bytes.
    val evolution = schemaProvider.flatMap { sp =>
      Try(new ValueSchemaEvolution(sp, cf, valueSchema)).toOption
    }
    val valueCodec =
      new ValueCodec(valueSchema.length, multiValued = useMultipleValuesPerKey, evolution)
    new Iterator[(RecordType.Value, UnsafeRow, UnsafeRow, Long)] with AutoCloseable {
      private val remaining = versionIds.iterator
      private var curStream: java.io.InputStream = _
      private var cur: Iterator[Changelog.Record] = Iterator.empty
      private var curVersion = 0L
      /** Rows decoded from the current record but not yet emitted — a
        * multi-valued put yields one row per list element. */
      private var pending: Iterator[(RecordType.Value, UnsafeRow, UnsafeRow, Long)] =
        Iterator.empty

      private def decode(r: Changelog.Record)
        : Iterator[(RecordType.Value, UnsafeRow, UnsafeRow, Long)] = {
        val batch = curVersion - 1
        if (r.op == Changelog.OpPut) {
          if (useMultipleValuesPerKey)
            valueCodec.decodeAll(r.value)
              .map(v => (RecordType.PUT_RECORD, keyCodec.decode(r.key), v, batch))
          else Iterator.single(
            (RecordType.PUT_RECORD, keyCodec.decode(r.key),
              valueCodec.decodeSingle(r.value), batch))
        } else Iterator.single(
          (RecordType.DELETE_RECORD, keyCodec.decode(r.key), null, batch))
      }

      @annotation.tailrec
      private def advance(): Boolean =
        if (pending.hasNext) true
        else if (cur.hasNext) { pending = decode(cur.next()); advance() }
        else if (!remaining.hasNext) false
        else {
          val (v, id) = remaining.next()
          curVersion = v
          curStream = snapshots.openDelta(v, id)
          if (id.isDefined) Changelog.readHeader(curStream)
          // Internal families (TTL deadlines, meta counters) are commit
          // bookkeeping, not user state changes — EXCEPT the persisted key
          // schema of the requested family, which is validated against the
          // init-time codecs as it streams by: decoding a CF whose stored
          // layout differs from what this provider was init'ed with would
          // emit garbage rows, not an error. (The `ks:` record is written in
          // the CF's creation batch; a feed starting after it trusts init,
          // same as the reference-free v1 path.)
          val ksKey = (KeySchemaMetaPrefix + cf).getBytes("UTF-8")
          cur = Changelog.read(curStream).flatMap { r =>
            if (r.cf == cf) Some(r)
            else {
              if (r.cf == MetaCf && r.op == Changelog.OpPut &&
                  java.util.Arrays.equals(r.key, ksKey)) {
                val storedJson = new String(r.value, "UTF-8")
                val stored = DataType.fromJson(storedJson).asInstanceOf[StructType]
                if (!sameKeyLayout(stored, keySchema))
                  throw StateStoreErrors.stateStoreKeySchemaNotCompatible(
                    storedJson, keySchema.json)
              }
              None
            }
          }
          advance()
        }

      override def hasNext: Boolean = advance()
      override def next(): (RecordType.Value, UnsafeRow, UnsafeRow, Long) = {
        if (!advance()) throw new NoSuchElementException("change feed exhausted")
        pending.next()
      }
      override def close(): Unit = if (curStream != null) Try(curStream.close())
    }
  }

  override def supportedCustomMetrics: Seq[StateStoreCustomMetric] =
    RocksDbStateStoreProvider.customMetrics

  /** SQL-UI per-partition metric: the newest uploaded full-snapshot version,
    * so snapshot-upload lag behind the commit frontier is observable (same
    * metric the built-in RocksDB provider reports). */
  override def supportedInstanceMetrics: Seq[StateStoreInstanceMetric] =
    Seq(StateStoreSnapshotLastUploadInstanceMetric())

  override def doMaintenance(): Unit = {
    if (conf.changelogEnabled) lastOpenStore.foreach(_.snapshotIfDue())
    val cutoff = snapshots.cleanup(storeConf.minVersionsToRetain)
    cutoff.foreach { c =>
      localSnapshots.entrySet().asScala.filter(_.getKey < c).foreach { e =>
        if (localSnapshots.remove(e.getKey, e.getValue)) deleteRecursively(e.getValue.dir)
      }
    }
  }

  override def close(): Unit = {
    lastOpenStore.foreach(_.ensureClosed())
    lastOpenStore = None
    localSnapshots.clear()
    if (tempRoot != null) deleteRecursively(tempRoot)
  }

  override def toString: String =
    s"GraftRocksDbStateStoreProvider[op=${stateStoreId_.operatorId},part=${stateStoreId_.partitionId}," +
      s"name=${stateStoreId_.storeName},query=${conf.queryName},ttl=${conf.ttlSecs}s," +
      s"strict=${conf.strictExpire}]"

  // ------------------------------------------------------------------
  // RocksDB plumbing shared by store instances
  // ------------------------------------------------------------------

  /** TtlDB compaction-time expiry for a column family. Zero (= never) for
    * internal families, no-TTL configs, AND strict mode: TtlDB expires by
    * last-PUT time, but strict semantics reset on ACCESS — letting
    * compaction drop a record that reads kept alive (deadline refreshed,
    * data record untouched) would silently lose live state. In strict mode
    * the deadline CF is the only expiry authority; physically expired
    * entries are deleted on access instead. */
  private def compactionTtlFor(cfName: String): Int =
    if (cfName.startsWith(InternalCfPrefix) || conf.ttlSecs <= 0 || conf.strictExpire) 0
    else conf.ttlSecs

  private def cfOptions(): ColumnFamilyOptions = {
    val o = new ColumnFamilyOptions()
      .setWriteBufferSize(conf.writeBufferSizeMb * 1024L * 1024L)
      .setMaxWriteBufferNumber(conf.writeBufferNumber)
      .setCompressionType(CompressionType.SNAPPY_COMPRESSION)
      .setCompactionStyle(CompactionStyle.UNIVERSAL)
    SharedRocksMemory.forBudget(conf.totalMemoryMb).foreach { pool =>
      // Under a JVM-wide budget every CF reads through the ONE shared block
      // cache, so N instances can't each allocate a private default cache.
      o.setTableFormatConfig(
        new org.rocksdb.BlockBasedTableConfig().setBlockCache(pool.cache))
      // Per-instance buffers must be sized for the FLEET, not for one DB:
      // an executor hosts one instance per (operator × partition × store),
      // so a 4-store join at 8+ partitions opens 32+ DBs whose memtable
      // ARENAS are charged to the manager on allocation. Cap each buffer at
      // budget/32 (floor 1 MB) and shrink the arena block to match, so the
      // reference's 200 MB default can't let a single instance's arena
      // swallow the manager's share — with flush-don't-stall this turns
      // over-budget pressure into small flushes instead of write stalls.
      val cap = math.max(pool.budgetBytes / 32, 1L << 20)
      if (cap < conf.writeBufferSizeMb * 1024L * 1024L) {
        o.setWriteBufferSize(cap)
        o.setArenaBlockSize(math.max(cap / 8, 64L * 1024))
      }
    }
    o
  }

  private[state] case class OpenDb(db: TtlDB, handles: mutable.LinkedHashMap[String, ColumnFamilyHandle])

  /** Open (or create) the DB at `dir` with every column family present on
    * disk. TtlDB gives the lazy compaction-time expiry floor (reference
    * `:121`); deadline families never auto-expire. */
  private def openDb(dir: File, verifyOnly: Boolean): OpenDb = {
    val dbOptions = new DBOptions()
      .setCreateIfMissing(true)
      .setCreateMissingColumnFamilies(true)
      .setMaxBackgroundJobs(conf.backgroundJobs)
      // Commit does not flush, so a dir's WAL usually holds data between
      // batches. With fallocate each such WAL reserves 1.1 × the write
      // buffer on disk (about 225 MB at the 200 MB default) for a few
      // hundred bytes of log, and a fleet of stores fills the local disk.
      .setAllowFAllocate(false)
    // Global memtable ceiling: every instance's write buffers are charged to
    // the shared pool, which flushes/stalls at the cap — the per-instance
    // buffer knobs then size ONE DB's burst, not the executor's total.
    SharedRocksMemory.forBudget(conf.totalMemoryMb).foreach { pool =>
      dbOptions.setWriteBufferManager(pool.writeBufferManager)
    }
    val listed = Try {
      org.rocksdb.RocksDB.listColumnFamilies(new Options(dbOptions, cfOptions()), dir.getAbsolutePath)
        .asScala.map(new String(_, "UTF-8")).toSeq
    }.getOrElse(Nil)
    val names = if (listed.isEmpty) Seq(DefaultCf) else listed
    val descriptors = names.map(n => new ColumnFamilyDescriptor(n.getBytes("UTF-8"), cfOptions())).asJava
    val ttls = names.map(n => Integer.valueOf(compactionTtlFor(n))).asJava
    val handleList = new java.util.ArrayList[ColumnFamilyHandle]()
    val db = TtlDB.open(dbOptions, dir.getAbsolutePath, descriptors, handleList, ttls, false)
    val handles = mutable.LinkedHashMap(names.zip(handleList.asScala).toSeq: _*)
    val opened = OpenDb(db, handles)
    if (verifyOnly) { closeDb(opened); null } else opened
  }

  private def closeDb(o: OpenDb): Unit = {
    o.handles.values.foreach(h => Try(h.close()))
    Try(o.db.close())
  }

  // ------------------------------------------------------------------
  // The store
  // ------------------------------------------------------------------

  /** Metadata for one user-visible column family. */
  private case class CfInfo(
      name: String,
      keyCodec: KeyCodec,
      valueCodec: ValueCodec,
      numValueFields: Int,
      multiValued: Boolean,
      isInternal: Boolean,
      var numKeys: Long)

  /** One open store = one micro-batch's view: loaded at `version`, commits
    * `version + 1`. Lifecycle `Updating -> Committed | Aborted | Released`
    * with mutator verification (reference `:124-126`). */
  class RocksDbStateStore private[state] (
      override val version: Long,
      dir: File,
      private var readOnly: Boolean,
      loadedCkptId: Option[String] = None,
      adoptedDb: Option[OpenDb] = None)
    extends StateStore {

    private val newVersion = version + 1

    /** Unique ID of the commit this store will produce (checkpoint-format
      * v2 only) — minted at load so the changelog lineage header and every
      * durable file name agree before commit starts. */
    private val commitCkptId: Option[String] =
      if (ckptIdsEnabled) Some(java.util.UUID.randomUUID().toString) else None

    /** The lineage this store was loaded from (v2; None under v1). */
    private[state] def lineageId: Option[String] = loadedCkptId
    private object State extends Enumeration { val Updating, Committed, Aborted, Released = Value }
    @volatile private var state = State.Updating
    @volatile private var dbClosed = false

    private val opened = adoptedDb.getOrElse { dbOpens.incrementAndGet(); openDb(dir, verifyOnly = false) }
    private def db: TtlDB = {
      verify(!dbClosed, "State store RocksDB instance is already closed")
      opened.db
    }

    /** Per-batch changelog; created on first need (write stores only). */
    private var changelogWriter: Option[Changelog.Writer] = None
    private def changelog: Changelog.Writer = {
      if (changelogWriter.isEmpty) {
        changelogWriter = Some(new Changelog.Writer(
          new File(tempRoot, s"changelog-$newVersion-${System.nanoTime()}"),
          lineage = commitCkptId.map(_ => loadedCkptId.getOrElse(""))))
      }
      changelogWriter.get
    }
    private def recordPut(cf: String, k: Array[Byte], v: Array[Byte]): Unit =
      if (conf.changelogEnabled) changelog.put(cf, k, v)
    private def recordRemove(cf: String, k: Array[Byte]): Unit =
      if (conf.changelogEnabled) changelog.remove(cf, k)

    /** Set when the changelog cannot express a change (column family drop):
      * this commit must publish a full snapshot. */
    private var forceFullSnapshot = false

    private[state] def isFinished: Boolean = state != State.Updating

    /** Native-handle lifetime contract (round-8 SIGSEGV postmortem — two JVM
      * crashes with heap-corruption signatures traced to freeing the native
      * DB under a live reader):
      *
      *  - Every WRITE path (`put`/`remove`/`merge*`/`commit`/`abort`/
      *    `metrics`/`snapshotIfDue`/CF ops) is `synchronized` on this store,
      *    so [[ensureClosed]] (also synchronized) can never free the DB while
      *    a writer is inside a native call.
      *  - READ paths (`get`, `valuesIterator`, and iterators consumed lazily
      *    long after creation) are deliberately NOT synchronized (hot path,
      *    and post-commit reads must not contend) — they hold [[nativeRefs]]
      *    for the duration of each native call instead, via [[withNativeRef]].
      *  - [[ensureClosed]] publishes `dbClosed=true` FIRST, then drains
      *    `nativeRefs` to zero (bounded wait). The increment-then-check /
      *    publish-then-drain pairing guarantees either the closer sees the
      *    reader's ref and waits, or the reader sees the flag and never
      *    touches the native handle.
      *  - If refs do not drain (a thread abandoned by `BoundedRun` or a task
      *    kill is wedged inside a native call), the DB is deliberately
      *    LEAKED — never freed under a live thread. A leaked native handle
      *    costs memory; a freed one costs the whole JVM (delayed SIGSEGV on
      *    a GC or VM thread, which is how round 8 lost two test runs).
      */
    private val nativeRefs = new java.util.concurrent.atomic.AtomicInteger(0)

    /** Native RocksDB iterators currently open on this store; force-closed at
      * [[ensureClosed]] once refs are drained (no thread can be inside one),
      * mirroring how Spark's built-in RocksDB provider tracks and reaps
      * leftover iterators at store close. */
    private val openIterators =
      java.util.concurrent.ConcurrentHashMap.newKeySet[RocksIterator]()

    private def withNativeRef[A](body: => A): A = {
      nativeRefs.incrementAndGet()
      try {
        verify(!dbClosed, "State store RocksDB instance is already closed")
        body
      } finally nativeRefs.decrementAndGet()
    }

    /** Shared retirement path for [[ensureClosed]] and [[detachDb]]: publish
      * the closed flag (no new native call can start), capture metrics, drain
      * in-flight readers, then reap leftover lazy iterators. Returns true
      * when the drain succeeded — only then may the native handle be freed
      * (or handed to a successor); on a failed drain the handle must be
      * LEAKED, never freed or reused under a live thread (round-8 SIGSEGV
      * contract). */
    private def retireDb(): Boolean = {
      cachedMetrics = Some(computeMetrics())
      dbClosed = true
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (nativeRefs.get() > 0 && System.nanoTime() < deadline) Thread.sleep(5)
      if (nativeRefs.get() > 0) {
        logWarning(s"Leaking RocksDB of $this: ${nativeRefs.get()} thread(s) still inside " +
          "native calls after 5s (abandoned by a timeout/kill?) — a leaked handle is " +
          "recoverable, a use-after-free is not")
        false
      } else {
        openIterators.iterator().asScala.foreach(it => Try(it.close()))
        openIterators.clear()
        true
      }
    }

    /** Close the underlying RocksDB (idempotent); metrics stay readable via
      * the cached values captured here. See the lifetime contract on
      * [[nativeRefs]]: publish the closed flag, drain in-flight readers,
      * then free — or leak deliberately if a reader never drains. */
    private[state] def ensureClosed(): Unit = synchronized {
      if (!dbClosed && retireDb()) { closeDb(opened); dbCloses.incrementAndGet() }
    }

    /** Retire this (finished) store WITHOUT closing the RocksDB and hand the
      * open handle to the caller — the micro-batch hot path's handle
      * adoption: the successor store over the same dir keeps reading and
      * writing through it, skipping the close+reopen pair entirely. After a
      * successful detach this store behaves exactly as after
      * [[ensureClosed]] (reads fail the `dbClosed` verify, metrics serve the
      * cached values); on a failed drain returns None and the handle is
      * leaked as in [[ensureClosed]] — the caller must fall back to the
      * normal open path. */
    private[state] def detachDb(): Option[OpenDb] = synchronized {
      if (dbClosed) None
      else if (retireDb()) Some(opened)
      else None
    }

    /** Is `d` this store's own local dir? (Adoption guard: the registry
      * entry for the requested version must point at the previous store's
      * dir for its open handle to view exactly that version.) */
    private[state] def ownsDir(d: File): Boolean = d == dir

    // Concurrent: cfInfo's fast path reads these WITHOUT the store lock
    // (only the auto-registration slow path synchronizes), and the provider
    // documents unsynchronized read paths elsewhere (native-ref counting) —
    // a plain HashMap read racing registerCf's put is a resize/partial-
    // publication hazard. TrieMap gives lock-free reads with safe
    // publication of the CfInfo it returns.
    private val cfs = scala.collection.concurrent.TrieMap.empty[String, CfInfo]
    private val cfKeySchemaJson = scala.collection.concurrent.TrieMap.empty[String, String]
    private val cfRegJson = scala.collection.concurrent.TrieMap.empty[String, String]
    /** (persisted, registered) key-schema JSON per conflicting CF; thrown at
      * first use — see the deferred-check note in [[registerCf]]. */
    private val keySchemaConflicts =
      scala.collection.concurrent.TrieMap.empty[String, (String, String)]

    /** numKeys per column family, persisted in an internal CF so counts ride
      * both full snapshots and changelog deltas. */
    private def metaHandle: ColumnFamilyHandle =
      opened.handles.getOrElseUpdate(MetaCf,
        opened.db.createColumnFamilyWithTtl(
          new ColumnFamilyDescriptor(MetaCf.getBytes("UTF-8"), cfOptions()), 0))

    /** Per-CF numKeys plus the key schema each CF was written under, plus
      * the full registration record (key/value schemas + encoder spec +
      * multi-value flag, under a `cfreg:` prefix) — all persisted in the
      * meta CF. The registration records make the store SELF-DESCRIBING: a
      * cold reader (the `statestore` data source over a transformWithState
      * variable, or the offline repartition tool) can iterate a column
      * family the current session never registered, because Spark's reader
      * never calls `createColFamilyIfAbsent` — it expects the provider to
      * recall its own layout (Spark's built-in RocksDB provider persists
      * the same information in its checkpoint metadata). */
    private val persistedCounts = Map.newBuilder[String, Long]
    private val persistedKeySchemas = mutable.HashMap.empty[String, String]
    private val persistedCfRegs = mutable.HashMap.empty[String, String]
    if (opened.handles.contains(MetaCf)) {
      val it = opened.db.newIterator(opened.handles(MetaCf))
      try {
        it.seekToFirst()
        while (it.isValid) {
          val k = new String(it.key(), "UTF-8")
          if (k.startsWith(KeySchemaMetaPrefix))
            persistedKeySchemas += k.stripPrefix(KeySchemaMetaPrefix) ->
              new String(it.value(), "UTF-8")
          else if (k.startsWith(CfRegMetaPrefix))
            persistedCfRegs += k.stripPrefix(CfRegMetaPrefix) ->
              new String(it.value(), "UTF-8")
          else persistedCounts += k -> beLong(it.value())
          it.next()
        }
      } finally it.close()
    }
    // Mutable: a CF drop deletes its meta entry mid-version, and the commit's
    // write-only-on-change check below must then see "no persisted count" for
    // a re-created family of the same name, not the stale pre-drop value.
    private val persistedCountsMap: mutable.HashMap[String, Long] =
      mutable.HashMap.from(persistedCounts.result())
    registerCf(DefaultCf, keySchema, valueSchema, keyEncoderSpec, useMultipleValuesPerKey,
      isInternal = false, deferSchemaConflict = true)

    private def ttlMs: Long = conf.ttlSecs.toLong * 1000L
    private def strictTtl: Boolean = conf.strictExpire && conf.ttlSecs > 0
    private def stateless: Boolean = conf.ttlSecs == 0

    override def id: StateStoreId = stateStoreId_

    private[state] def upgradeToWriteStore(): Unit = {
      verify(state == State.Updating, "Cannot upgrade a finished store")
      readOnly = false
    }

    // -------------------- column families --------------------

    private def registerCf(
        name: String,
        cfKeySchema: StructType,
        cfValueSchema: StructType,
        spec: KeyStateEncoderSpec,
        multiValued: Boolean,
        isInternal: Boolean,
        deferSchemaConflict: Boolean = false): CfInfo = {
      // Value-schema evolution rides the engine's stateSchemaProvider when
      // one is handed to init. A provider that does not track this column
      // family (e.g. engine-internal families) falls back to raw encoding.
      val evolution = schemaProvider.flatMap { sp =>
        Try(new ValueSchemaEvolution(sp, name, cfValueSchema)).toOption
      }
      // Key-schema evolution is unsupported (matching Spark's built-in
      // providers): a restart with a changed key layout would otherwise
      // decode mismatched bytes into garbage rows. Explicit registrations
      // (createColFamilyIfAbsent) reject eagerly with the engine's typed
      // error; the init-time DEFAULT registration defers the throw to FIRST
      // USE of the family (cfInfo): the `statestore` reader of a
      // transformWithState variable inits the provider with that variable's
      // composite schema as the *default* schema, registering (but never
      // touching) a default family whose layout legitimately differs from
      // the persisted one — an eager throw there broke those cold reads,
      // while a restarted query touches its default family in its first
      // batch, so the protection is equivalent. Field renames and
      // nullability flips don't change the UnsafeRow layout and are allowed.
      persistedKeySchemas.get(name).foreach { storedJson =>
        val stored = DataType.fromJson(storedJson).asInstanceOf[StructType]
        if (!sameKeyLayout(stored, cfKeySchema)) {
          if (!deferSchemaConflict)
            throw StateStoreErrors.stateStoreKeySchemaNotCompatible(storedJson, cfKeySchema.json)
          keySchemaConflicts.put(name, (storedJson, cfKeySchema.json))
        }
      }
      cfKeySchemaJson.put(name, cfKeySchema.json)
      // put, not getOrElseUpdate: under VALUE-schema evolution a restarted
      // query re-registers the family with the evolved value schema, and the
      // persisted record must follow — a cold reader (the `statestore`
      // source) rebuilds its codec from this record, and a stale
      // pre-evolution schema there made it decode evolved families into
      // rows one field short (the reader then read the added field past the
      // row's end). Commit writes the record only when it differs from the
      // persisted one, so the non-evolving steady state stays write-once.
      cfRegJson.put(name,
        RocksDbStateStoreProvider.cfRegToJson(cfKeySchema, cfValueSchema, spec, multiValued, isInternal))
      val info = CfInfo(name, KeyCodec(spec),
        new ValueCodec(cfValueSchema.length, multiValued, evolution),
        cfValueSchema.length, multiValued, isInternal,
        persistedCountsMap.getOrElse(name, 0L))
      cfs.put(name, info)
      info
    }

    /** Auto-register a column family from its persisted registration record
      * — the read path for families the current session never created (see
      * the self-describing note on [[persistedCfRegs]]).
      *
      * The PHYSICAL family may legitimately be absent: column-family
      * creation is not a changelog record, so a partition whose store
      * created a family at init but never wrote a row to it (e.g. a tws
      * variable or timer index on a partition that received no keys) loses
      * the empty family across replay-from-empty recovery (possible since
      * the version-1 chain-base snapshot was retired, round 16). Its
      * registration record still rides the meta CF's changelog entries, and
      * an empty family's content is exactly empty — recreate it. */
    private def autoRegisterPersistedCf(name: String): Option[CfInfo] =
      persistedCfRegs.get(name).map { json =>
        val (ks, vs, spec, mv, internal) = RocksDbStateStoreProvider.cfRegFromJson(json)
        synchronized {
          if (!opened.handles.contains(name)) {
            val ttl = if (internal) 0 else compactionTtlFor(name)
            opened.handles.put(name, db.createColumnFamilyWithTtl(
              new ColumnFamilyDescriptor(name.getBytes("UTF-8"), cfOptions()), ttl))
          }
        }
        registerCf(name, ks, vs, spec, mv, internal)
      }

    override def createColFamilyIfAbsent(
        name: String,
        cfKeySchema: StructType,
        cfValueSchema: StructType,
        spec: KeyStateEncoderSpec,
        useMultipleValuesPerKey: Boolean,
        isInternal: Boolean): Unit = synchronized {
      verify(useColumnFamilies, "Column families are disabled for this store")
      if (!opened.handles.contains(name)) {
        val ttl = if (isInternal) 0 else compactionTtlFor(name)
        val h = db.createColumnFamilyWithTtl(
          new ColumnFamilyDescriptor(name.getBytes("UTF-8"), cfOptions()), ttl)
        opened.handles.put(name, h)
      }
      if (!cfs.contains(name)) {
        registerCf(name, cfKeySchema, cfValueSchema, spec, useMultipleValuesPerKey, isInternal)
      }
    }

    override def removeColFamilyIfExists(name: String): Boolean = synchronized {
      verify(name != DefaultCf, "Cannot remove the default column family")
      val existed = opened.handles.contains(name)
      opened.handles.remove(name).foreach { h =>
        db.dropColumnFamily(h)
        h.close()
      }
      cfs.remove(name)
      opened.handles.remove(deadlineCfName(name)).foreach { h => db.dropColumnFamily(h); h.close() }
      if (existed) {
        // a CF drop is not expressible in the changelog record stream
        forceFullSnapshot = true
        // forget the persisted count, or a re-created CF of the same name
        // would resurrect it as a phantom numKeys base
        db.delete(metaHandle, name.getBytes("UTF-8"))
        // likewise the key schema: a re-created CF may legitimately differ
        db.delete(metaHandle, (KeySchemaMetaPrefix + name).getBytes("UTF-8"))
        db.delete(metaHandle, (CfRegMetaPrefix + name).getBytes("UTF-8"))
        persistedCountsMap.remove(name)
        persistedKeySchemas.remove(name)
        persistedCfRegs.remove(name)
        cfKeySchemaJson.remove(name)
        cfRegJson.remove(name)
      }
      existed
    }

    private def cfInfo(name: String): CfInfo = {
      keySchemaConflicts.get(name).foreach { case (storedJson, newJson) =>
        throw StateStoreErrors.stateStoreKeySchemaNotCompatible(storedJson, newJson)
      }
      cfs.getOrElse(name, synchronized {
        cfs.getOrElse(name, autoRegisterPersistedCf(name).getOrElse(
          throw StateStoreErrors.unsupportedOperationOnMissingColumnFamily("op", name)))
      })
    }

    private def handle(name: String): ColumnFamilyHandle =
      opened.handles.getOrElse(name,
        throw StateStoreErrors.unsupportedOperationOnMissingColumnFamily("op", name))

    // -------------------- strict-TTL deadlines --------------------

    private def deadlineCfName(cf: String): String = InternalCfPrefix + "ttl." + cf

    private def deadlineHandleIfExists(cf: String): Option[ColumnFamilyHandle] =
      opened.handles.get(deadlineCfName(cf))

    private def deadlineHandle(cf: String): ColumnFamilyHandle =
      opened.handles.getOrElseUpdate(deadlineCfName(cf),
        db.createColumnFamilyWithTtl(
          new ColumnFamilyDescriptor(deadlineCfName(cf).getBytes("UTF-8"), cfOptions()), 0))

    private def beLong(v: Long): Array[Byte] = {
      val out = new Array[Byte](8)
      var i = 0
      while (i < 8) { out(i) = (v >>> (8 * (7 - i))).toByte; i += 1 }
      out
    }
    private def beLong(b: Array[Byte]): Long = {
      var v = 0L; var i = 0
      while (i < 8) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
      v
    }

    /** Is the key live under strict TTL, *without* resetting its deadline?
      * Missing deadline (pre-strict data) counts as live — adoption happens
      * on the next access. */
    private def isLive(cf: String, keyBytes: Array[Byte]): Boolean = {
      val d = db.get(deadlineHandle(cf), keyBytes)
      d == null || (clock() - beLong(d)) <= ttlMs
    }

    private def touch(cf: String, keyBytes: Array[Byte]): Unit = {
      val now = beLong(clock())
      db.put(deadlineHandle(cf), keyBytes, now)
      recordPut(deadlineCfName(cf), keyBytes, now)
    }

    // -------------------- reads --------------------

    override def get(key: UnsafeRow, colFamilyName: String): UnsafeRow = {
      if (stateless) return null
      withNativeRef {
        val info = cfInfo(colFamilyName)
        val kBytes = info.keyCodec.encode(key)
        if (strictTtl && !isLive(colFamilyName, kBytes)) {
          // strict mode is the only expiry authority (no TtlDB compaction
          // expiry) — reclaim the dead record on access
          if (!readOnly && state == State.Updating) synchronized {
            if (conf.trackTotalNumberOfRows && db.get(handle(colFamilyName), kBytes) != null) {
              info.numKeys -= 1
            }
            db.delete(handle(colFamilyName), kBytes)
            recordRemove(colFamilyName, kBytes)
            db.delete(deadlineHandle(colFamilyName), kBytes)
            recordRemove(deadlineCfName(colFamilyName), kBytes)
          }
          null
        } else {
          val vBytes = db.get(handle(colFamilyName), kBytes)
          if (vBytes == null) null
          else {
            // Access resets the TTL deadline (reference `expireAfterAccess`
            // semantics, proven at RocksDbStateTimeoutSuite.scala:123-170);
            // only while Updating — post-commit reads must not mutate the
            // committed dir.
            if (strictTtl && !readOnly && state == State.Updating) {
              synchronized { touch(colFamilyName, kBytes) }
            }
            info.valueCodec.decodeSingle(vBytes)
          }
        }
      }
    }

    override def valuesIterator(key: UnsafeRow, colFamilyName: String): Iterator[UnsafeRow] = {
      if (stateless) return Iterator.empty
      withNativeRef {
        val info = cfInfo(colFamilyName)
        val kBytes = info.keyCodec.encode(key)
        if (strictTtl && !isLive(colFamilyName, kBytes)) Iterator.empty
        else info.valueCodec.decodeAll(db.get(handle(colFamilyName), kBytes))
      }
    }

    private def rowPairIterator(
        cf: String, lowerBound: Option[Array[Byte]]): StateStoreIterator[UnsafeRowPair] = {
      val info = cfInfo(cf)
      // Creation, every lazy hasNext/next, and the strict-TTL deadline probe
      // each run under a native ref (see the lifetime contract on
      // [[nativeRefs]]): the iterator is consumed long after this method
      // returns, possibly racing a provider close from another thread.
      val (it, dhOpt) = withNativeRef {
        val i = db.newIterator(handle(cf))
        openIterators.add(i)
        lowerBound match {
          case Some(b) => i.seek(b)
          case None => i.seekToFirst()
        }
        (i, if (strictTtl && !stateless) Some(deadlineHandle(cf)) else None)
      }
      val raw: Iterator[(Array[Byte], Array[Byte])] = new Iterator[(Array[Byte], Array[Byte])] {
        override def hasNext: Boolean = withNativeRef {
          it.isValid && lowerBound.forall(b => startsWith(it.key(), b))
        }
        override def next(): (Array[Byte], Array[Byte]) = withNativeRef {
          it.status()
          val kv = (it.key(), it.value())
          it.next()
          kv
        }
      }
      val visible =
        if (stateless) Iterator.empty
        // Iterator visibility honors strict expiry but does not reset
        // deadlines (matching reference `:272-276`).
        else if (strictTtl) {
          val dh = dhOpt.get
          raw.filter { case (kBytes, _) =>
            withNativeRef {
              val d = db.get(dh, kBytes)
              d == null || (clock() - beLong(d)) <= ttlMs
            }
          }
        } else raw
      val pair = new UnsafeRowPair()
      val rows = visible.map { case (kBytes, vBytes) =>
        pair.withRows(info.keyCodec.decode(kBytes), info.valueCodec.decodeSingle(vBytes))
      }
      new StateStoreIterator(rows, () => if (openIterators.remove(it)) Try(it.close()))
    }

    private def startsWith(bytes: Array[Byte], prefix: Array[Byte]): Boolean = {
      if (bytes.length < prefix.length) return false
      var i = 0
      while (i < prefix.length) { if (bytes(i) != prefix(i)) return false; i += 1 }
      true
    }

    override def iterator(colFamilyName: String): StateStoreIterator[UnsafeRowPair] =
      rowPairIterator(colFamilyName, None)

    override def prefixScan(prefixKey: UnsafeRow, colFamilyName: String): StateStoreIterator[UnsafeRowPair] = {
      val info = cfInfo(colFamilyName)
      verify(info.keyCodec.supportsPrefixScan,
        s"Column family $colFamilyName was not created with prefix scan support")
      rowPairIterator(colFamilyName, Some(info.keyCodec.encodePrefix(prefixKey)))
    }

    // -------------------- writes --------------------

    private def verifyWritable(): Unit = {
      verify(state == State.Updating, "Cannot modify an already committed or aborted state store")
      verify(!readOnly, "Cannot modify a read-only state store")
    }

    override def put(key: UnsafeRow, value: UnsafeRow, colFamilyName: String): Unit = synchronized {
      verifyWritable()
      require(value != null, "Cannot put a null value")
      // stateless mode: nothing is ever readable, so persisting (and
      // snapshotting) the writes would only grow dead checkpoint state
      if (stateless) return
      val info = cfInfo(colFamilyName)
      val kBytes = info.keyCodec.encode(key)
      if (conf.trackTotalNumberOfRows && db.get(handle(colFamilyName), kBytes) == null) {
        info.numKeys += 1
      }
      val vBytes = info.valueCodec.encodeSingle(value)
      db.put(handle(colFamilyName), kBytes, vBytes)
      recordPut(colFamilyName, kBytes, vBytes)
      if (strictTtl) touch(colFamilyName, kBytes)
    }

    override def putList(key: UnsafeRow, values: Array[UnsafeRow], colFamilyName: String): Unit = synchronized {
      verifyWritable()
      if (stateless) return
      val info = cfInfo(colFamilyName)
      verify(info.multiValued, s"putList on single-valued column family $colFamilyName")
      require(values != null && values.nonEmpty, "Cannot put an empty value list")
      val kBytes = info.keyCodec.encode(key)
      if (conf.trackTotalNumberOfRows && db.get(handle(colFamilyName), kBytes) == null) {
        info.numKeys += 1
      }
      val vBytes = info.valueCodec.encodeFrames(values)
      db.put(handle(colFamilyName), kBytes, vBytes)
      recordPut(colFamilyName, kBytes, vBytes)
      if (strictTtl) touch(colFamilyName, kBytes)
    }

    override def merge(key: UnsafeRow, value: UnsafeRow, colFamilyName: String): Unit = synchronized {
      verifyWritable()
      if (stateless) return
      val info = cfInfo(colFamilyName)
      verify(info.multiValued, s"merge on single-valued column family $colFamilyName")
      require(value != null, "Cannot merge a null value")
      val kBytes = info.keyCodec.encode(key)
      val existing = db.get(handle(colFamilyName), kBytes)
      if (conf.trackTotalNumberOfRows && existing == null) info.numKeys += 1
      val merged = info.valueCodec.appendFrame(existing, value)
      db.put(handle(colFamilyName), kBytes, merged)
      recordPut(colFamilyName, kBytes, merged)
      if (strictTtl) touch(colFamilyName, kBytes)
    }

    override def mergeList(key: UnsafeRow, values: Array[UnsafeRow], colFamilyName: String): Unit = synchronized {
      verifyWritable()
      if (stateless || values.isEmpty) return
      val info = cfInfo(colFamilyName)
      verify(info.multiValued, s"mergeList on single-valued column family $colFamilyName")
      // one read + one concatenated write + one changelog record — N
      // separate merge() calls would rewrite the growing blob N times
      val kBytes = info.keyCodec.encode(key)
      val existing = db.get(handle(colFamilyName), kBytes)
      if (conf.trackTotalNumberOfRows && existing == null) info.numKeys += 1
      val frames = info.valueCodec.encodeFrames(values)
      val merged =
        if (existing == null) frames
        else {
          val out = new Array[Byte](existing.length + frames.length)
          System.arraycopy(existing, 0, out, 0, existing.length)
          System.arraycopy(frames, 0, out, existing.length, frames.length)
          out
        }
      db.put(handle(colFamilyName), kBytes, merged)
      recordPut(colFamilyName, kBytes, merged)
      if (strictTtl) touch(colFamilyName, kBytes)
    }

    override def remove(key: UnsafeRow, colFamilyName: String): Unit = synchronized {
      verifyWritable()
      if (stateless) return
      val info = cfInfo(colFamilyName)
      val kBytes = info.keyCodec.encode(key)
      if (conf.trackTotalNumberOfRows && db.get(handle(colFamilyName), kBytes) != null) {
        info.numKeys -= 1
      }
      db.delete(handle(colFamilyName), kBytes)
      recordRemove(colFamilyName, kBytes)
      // Deadline removed with the key — byte-keyed, so actually effective
      // (the reference's UnsafeRow-vs-bytes cache invalidation was a no-op,
      // SURVEY §4 defect 1).
      if (strictTtl) {
        db.delete(deadlineHandle(colFamilyName), kBytes)
        recordRemove(deadlineCfName(colFamilyName), kBytes)
      }
    }

    // -------------------- lifecycle --------------------

    override def commit(): Long = synchronized {
      verify(state == State.Updating, "Cannot commit already committed or aborted state store")
      verify(!readOnly, "Cannot commit a read-only state store")
      try {
        // persist per-CF key counts in the meta CF so they ride both the
        // full snapshot and the changelog delta. Written only when the count
        // CHANGED since load (or the CF has no persisted entry yet): the
        // previous commit's equal value is already durable in snapshot and
        // chain, and unconditionally rewriting it would add a meta record
        // to the delta of every otherwise-empty batch.
        cfs.values.foreach { i =>
          if (!persistedCountsMap.get(i.name).contains(i.numKeys)) {
            val k = i.name.getBytes("UTF-8")
            val v = beLong(i.numKeys)
            db.put(metaHandle, k, v)
            recordPut(MetaCf, k, v)
            // keep the in-memory view of the persisted counts current (a
            // commit runs once per store instance today, but the invariant
            // was implicit — ADVICE r16; any post-commit consumer of the
            // map must see what is now durable)
            persistedCountsMap.put(i.name, i.numKeys)
          }
          // persist each CF's key schema once (write-once: a later change
          // is rejected at registerCf, so an existing entry never differs)
          if (!persistedKeySchemas.contains(i.name)) {
            cfKeySchemaJson.get(i.name).foreach { json =>
              val sk = (KeySchemaMetaPrefix + i.name).getBytes("UTF-8")
              val sv = json.getBytes("UTF-8")
              db.put(metaHandle, sk, sv)
              recordPut(MetaCf, sk, sv)
            }
          }
          // and its full registration record, so a cold reader can rebuild
          // the codec without the engine re-registering the family — see
          // the note on persistedCfRegs. Unlike the key schema this is NOT
          // write-once: value-schema evolution re-registers the family with
          // the evolved schema, and the record must track it or cold reads
          // decode one field short. Written only on change.
          cfRegJson.get(i.name).foreach { json =>
            if (!persistedCfRegs.get(i.name).contains(json)) {
              val rk = (CfRegMetaPrefix + i.name).getBytes("UTF-8")
              val rv = json.getBytes("UTF-8")
              db.put(metaHandle, rk, rv)
              recordPut(MetaCf, rk, rv)
              persistedCfRegs.put(i.name, json)
            }
          }
        }
        // Commit publishes only the delta; it does not flush memtables.
        // The delta is what makes the batch durable. Memtables flush on
        // their own when full, and Checkpoint.createCheckpoint flushes
        // before every full snapshot. The RocksDB WAL (never disabled here)
        // keeps the local dir self-contained: a closed dir that is moved
        // and reopened replays it. Between batches each column family's
        // memtables hold at most writeBufferSizeMb × writeBufferNumber, or
        // share the totalMemoryMb pool. On `file:` checkpoints the delta
        // bypasses Hadoop's forking `create` (see SnapshotManager.uploadDelta).
        if (conf.changelogEnabled) {
          val w = changelog // materialize even if the batch wrote nothing
          w.close()
          snapshots.uploadDelta(w.file, newVersion, commitCkptId)
          w.file.delete()
        }
        if (fullSnapshotDue) uploadFullSnapshot()

        registerLocalSnapshot(newVersion, dir, commitCkptId)
        // Committed only after the durable upload succeeded (the reference
        // flipped state first — SURVEY §4 defect 5). The DB stays open:
        // Spark reads iterator()/metrics after commit; the provider closes
        // it when the next version loads.
        state = State.Committed
        if (storeConf.commitValidationEnabled) {
          StateStore.reportCommitToCoordinator(newVersion, stateStoreId_, hadoopConf)
        }
        newVersion
      } catch {
        case NonFatal(e) =>
          throw new IllegalStateException(s"Error committing version $newVersion into $this", e)
      }
    }

    /** Full snapshot on the commit path only when unavoidable: changelog
      * off (the reference's per-commit behavior) or a CF drop. Version 1
      * is NOT special-cased any more (round 16): a changelog chain replays
      * from the EMPTY base (version 0) in every recovery path — v2 lineage
      * walks stop at v=0, v1 [[tryMaterialize]] falls back to
      * replay-from-empty, and StateFsck counts 0 as a legitimate base — so
      * the version-1 full snapshot bought nothing while charging every
      * streaming query's first batch a per-store Checkpoint+zip+upload
      * (measured: batch-0 state commit 580-670 ms summed vs ~100 ms steady
      * at 8 partitions; every fresh-checkpoint query paid it). The periodic
      * cadence snapshot runs on the maintenance thread instead
      * ([[snapshotIfDue]]) so steady-state commit latency never pays the
      * O(state) upload. */
    private def fullSnapshotDue: Boolean =
      !conf.changelogEnabled || forceFullSnapshot

    /** Maintenance-thread snapshot: upload a full snapshot from this
      * committed, still-open store when the newest durable one has fallen
      * `minDeltasForSnapshot` behind. The RocksDB Checkpoint is consistent
      * against concurrent background compaction, and the store cannot be
      * closed mid-upload (both paths synchronize on the store). */
    private[state] def snapshotIfDue(): Unit = synchronized {
      if (state == State.Committed && !dbClosed &&
        newVersion - newestFullSnapshot >= math.max(storeConf.minDeltasForSnapshot, 1)) {
        uploadFullSnapshot()
      }
    }

    /** Publish `state.snapshot.<newVersion>` from a RocksDB Checkpoint — a
      * hardlink-consistent view, immune to concurrent background compaction
      * rewriting files mid-zip (zipping the live dir, as the reference did,
      * is racy against compaction). */
    private def uploadFullSnapshot(): Unit = {
      val ckptDir = new File(tempRoot, s"ckpt-$newVersion-${System.nanoTime()}")
      val ckpt = Checkpoint.create(db)
      try {
        ckpt.createCheckpoint(ckptDir.getAbsolutePath)
        snapshots.upload(ckptDir, newVersion, commitCkptId,
          incremental = conf.incrementalSnapshot)
        newestFullSnapshot = math.max(newestFullSnapshot, newVersion)
      } finally {
        Try(ckpt.close())
        deleteRecursively(ckptDir)
      }
    }

    override def abort(): Unit = synchronized {
      if (state == State.Updating) {
        state = State.Aborted
        changelogWriter.foreach(_.abortAndDelete())
        ensureClosed()
        // Discard, never publish, the dirty directory (the reference
        // registered it under newVersion + 1 — SURVEY §4 defect 3).
        deleteRecursively(dir)
        logInfo(s"Aborted version $newVersion for $this")
      }
    }

    // Provider lock first, as loadStore takes it before a store's lock: a
    // concurrent load must not displace this store between the ownership
    // check and the registration below.
    override def release(): Unit = RocksDbStateStoreProvider.this.synchronized {
      synchronized {
        if (state == State.Updating) {
          verify(readOnly, "release() is only valid on a read store; use commit()/abort()")
          state = State.Released
          // A read store never wrote: its dir still holds exactly `version`,
          // so park it for zero-copy reuse by the next load. While this is
          // the provider's last open store the DB stays OPEN, mirroring
          // commit(): the next load closes it, or adopts the handle outright
          // when it loads this same version. A store that a later load
          // displaced from that slot has no owner left to close it, and its
          // registered dir may be moved and reopened, so it closes here.
          if (version > 0) {
            if (!lastOpenStore.exists(_ eq this)) ensureClosed()
            registerLocalSnapshot(version, dir, loadedCkptId)
          } else { ensureClosed(); deleteRecursively(dir) }
        }
      }
    }

    private def registerLocalSnapshot(v: Long, d: File, id: Option[String]): Unit = {
      Option(localSnapshots.put(v, LocalSnapshot(d, id)))
        .map(_.dir).filter(_ != d).foreach(deleteRecursively)
      val cutoff = v - math.max(storeConf.minVersionsToRetain, 1) + 1
      localSnapshots.entrySet().asScala.filter(_.getKey < cutoff).foreach { e =>
        if (localSnapshots.remove(e.getKey, e.getValue)) deleteRecursively(e.getValue.dir)
      }
    }

    @volatile private var cachedMetrics: Option[StateStoreMetrics] = None

    private def computeMetrics(): StateStoreMetrics = {
      val user = cfs.values.filter(!_.isInternal)
      val numKeys =
        if (conf.trackTotalNumberOfRows) user.map(_.numKeys).sum
        else user.map(i => Try(opened.db.getLongProperty(handle(i.name), "rocksdb.estimate-num-keys")).getOrElse(0L)).sum
      def prop(name: String): Long = opened.handles.values.map { h =>
        Try(opened.db.getLongProperty(h, name)).getOrElse(0L)
      }.sum
      // real RocksDB sizes, not the reference's keys x schema-default-size
      // guess (SURVEY §4 defect 4)
      val memtables = prop("rocksdb.cur-size-all-mem-tables")
      val sstSize = prop("rocksdb.total-sst-files-size")
      val custom: Map[StateStoreCustomMetric, Long] = Map(
        MetricMemtableSize -> memtables,
        MetricSstSize -> sstSize,
        MetricChangelogRecords -> changelogWriter.map(_.records).getOrElse(0L),
        // lifetime counters (uploads ride the maintenance thread, so they
        // are not attributable to one batch): the measured value of
        // SST-incremental snapshots — deduped/(deduped+uploaded) is the
        // fraction of snapshot bytes content-addressing never re-shipped
        MetricSnapshotBytesUploaded -> snapshots.bytesUploaded.get(),
        MetricSnapshotBytesDeduped -> snapshots.bytesDeduped.get())
      val instance: Map[StateStoreInstanceMetric, Long] = Map(
        StateStoreSnapshotLastUploadInstanceMetric(
          Some(id.partitionId), id.storeName) -> newestFullSnapshot)
      StateStoreMetrics(numKeys, math.max(memtables + sstSize, 1L), custom, instance)
    }

    override def metrics: StateStoreMetrics = synchronized {
      if (dbClosed) cachedMetrics.getOrElse(StateStoreMetrics(0, 1, Map.empty, Map.empty))
      else computeMetrics()
    }

    override def getStateStoreCheckpointInfo(): StateStoreCheckpointInfo =
      StateStoreCheckpointInfo(id.partitionId, newVersion, commitCkptId, loadedCkptId)

    override def hasCommitted: Boolean = state == State.Committed

    private def verify(condition: => Boolean, msg: String): Unit =
      if (!condition) throw new IllegalStateException(msg)

    override def toString: String =
      s"GraftRocksDbStateStore[op=${id.operatorId},part=${id.partitionId},name=${id.storeName}," +
        s"version=$version,readOnly=$readOnly,state=$state]"
  }
}

object RocksDbStateStoreProvider {
  val DefaultCf: String = StateStore.DEFAULT_COL_FAMILY_NAME
  private[state] val InternalCfPrefix = "$graft."
  /** Internal CF holding per-CF numKeys (key = cf name, value = 8B BE). */
  private[state] val MetaCf: String = InternalCfPrefix + "meta"

  /** Meta-CF key prefix under which each column family's key schema JSON is
    * persisted (`ks:<cfName>` → schema), for the restart compatibility check. */
  private[state] val KeySchemaMetaPrefix: String = "ks:"

  /** Meta-CF key prefix for full column-family registration records
    * (`cfreg:<cfName>` → JSON) — key/value schemas, encoder spec, and the
    * multi-value flag, enough for a cold reader to rebuild the codec. */
  private[state] val CfRegMetaPrefix: String = "cfreg:"

  private[state] def cfRegToJson(
      keySchema: StructType,
      valueSchema: StructType,
      spec: KeyStateEncoderSpec,
      multiValued: Boolean,
      isInternal: Boolean): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val o = m.createObjectNode()
    o.put("keySchema", keySchema.json)
    o.put("valueSchema", valueSchema.json)
    spec match {
      case NoPrefixKeyStateEncoderSpec(_) =>
        o.put("spec", "noPrefix")
      case PrefixKeyScanStateEncoderSpec(_, n) =>
        o.put("spec", "prefixScan"); o.put("numColsPrefixKey", n)
      case RangeKeyScanStateEncoderSpec(_, ordinals) =>
        o.put("spec", "rangeScan")
        val arr = o.putArray("orderingOrdinals")
        ordinals.foreach(arr.add)
    }
    o.put("multiValued", multiValued)
    o.put("isInternal", isInternal)
    m.writeValueAsString(o)
  }

  private[state] def cfRegFromJson(json: String)
      : (StructType, StructType, KeyStateEncoderSpec, Boolean, Boolean) = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val o = m.readTree(json)
    val ks = DataType.fromJson(o.get("keySchema").asText()).asInstanceOf[StructType]
    val vs = DataType.fromJson(o.get("valueSchema").asText()).asInstanceOf[StructType]
    val spec: KeyStateEncoderSpec = o.get("spec").asText() match {
      case "noPrefix" => NoPrefixKeyStateEncoderSpec(ks)
      case "prefixScan" => PrefixKeyScanStateEncoderSpec(ks, o.get("numColsPrefixKey").asInt())
      case "rangeScan" =>
        val it = o.get("orderingOrdinals").elements()
        val b = Seq.newBuilder[Int]
        while (it.hasNext) b += it.next().asInt()
        RangeKeyScanStateEncoderSpec(ks, b.result())
      case other => throw new IllegalStateException(s"unknown persisted encoder spec: $other")
    }
    (ks, vs, spec, o.get("multiValued").asBoolean(), o.get("isInternal").asBoolean())
  }

  /** Structural equality of key layouts: field names and nullability are
    * ignored (neither affects UnsafeRow encoding); types must match. */
  private[state] def sameKeyLayout(a: DataType, b: DataType): Boolean = (a, b) match {
    case (x: StructType, y: StructType) =>
      x.length == y.length &&
        x.fields.zip(y.fields).forall { case (f, g) => sameKeyLayout(f.dataType, g.dataType) }
    case (x: ArrayType, y: ArrayType) => sameKeyLayout(x.elementType, y.elementType)
    case (x: MapType, y: MapType) =>
      sameKeyLayout(x.keyType, y.keyType) && sameKeyLayout(x.valueType, y.valueType)
    case _ => a == b
  }

  /** Injectable wall clock so TTL tests are deterministic (the reference used
    * a Guava FakeTicker for the same purpose — `RocksDbStateTimeoutSuite`).
    *
    * LOCAL-MODE-ONLY mechanism: this is a JVM-global on the driver's
    * classloader, so swapping it only reaches the state stores when
    * executors share that JVM (`local[*]`, as the gate runner and test
    * suites do). On a real cluster each executor JVM keeps the default
    * wall clock — deployed queries get wall-clock TTL, and nothing here
    * pretends otherwise. Test/gate harness surface, not a deployment
    * knob. */
  @volatile private[graft] var clock: () => Long = () => System.currentTimeMillis()

  /** Run `body` with the strict-TTL clock swapped for `c`, restoring the
    * wall clock after — the deterministic-expiry harness the oracle-checked
    * TTL gates use (JVM-global like the clock itself: callers must not
    * overlap two swapped-clock regions, which the sequential gate runner
    * guarantees; see [[clock]] for why the swap is visible only in
    * `local[*]`). Only strict-TTL deadline probes consult the clock, so
    * concurrent non-TTL queries are unaffected by a swap. */
  private[graft] def withTtlClock[T](c: () => Long)(body: => T): T = {
    val prev = clock
    clock = c
    try body finally clock = prev
  }

  /** SQL-UI metrics: real RocksDB sizes + per-batch changelog volume. */
  private[state] val MetricMemtableSize =
    StateStoreCustomSizeMetric("rocksdbMemtableSize", "RocksDB memtable bytes")
  private[state] val MetricSstSize =
    StateStoreCustomSizeMetric("rocksdbSstFilesSize", "RocksDB SST files bytes")
  private[state] val MetricChangelogRecords =
    StateStoreCustomSumMetric("changelogRecords", "changelog records written this batch")
  private[state] val MetricSnapshotBytesUploaded =
    StateStoreCustomSizeMetric("snapshotBytesUploaded",
      "checkpoint bytes shipped to durable storage (zips, deltas, new pool SSTs)")
  private[state] val MetricSnapshotBytesDeduped =
    StateStoreCustomSizeMetric("snapshotBytesDeduped",
      "SST bytes skipped by incremental-snapshot content dedup")
  private[state] val customMetrics: Seq[StateStoreCustomMetric] =
    Seq(MetricMemtableSize, MetricSstSize, MetricChangelogRecords,
      MetricSnapshotBytesUploaded, MetricSnapshotBytesDeduped)

  private[state] def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }
}
