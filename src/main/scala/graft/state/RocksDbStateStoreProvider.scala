package graft.state

import java.io.File
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
  *  - Durability = a changelog delta per committed version plus a snapshot
  *    of the DB directory every `minDeltasForSnapshot` versions, taken on the
  *    maintenance thread (the reference zipped the whole DB on every commit,
  *    `:448-462`); [[SnapshotManager]] owns that layout and the rule for
  *    rebuilding a version from it. The previous batch's local directory is
  *    reused — not re-downloaded — on the next load (reference `:299-304,
  *    :485-498`); recovery falls back newest-first past corrupt files
  *    (reference `:384-401`) under checkpoint format v1 and is exact-or-fail
  *    under v2; retention-bounded cleanup runs on the maintenance thread
  *    (reference `:573-592`).
  *  - Per-key processing-time TTL, the reference's one novel feature
  *    (`:71-94`): `-1` infinite, `0` stateless, `N>0` seconds since
  *    creation/last-update/last-access; lazy mode rides RocksDB's TtlDB
  *    compaction expiry, strict mode gives exact visibility. Unlike the
  *    reference's in-heap per-store-instance Guava cache (which silently
  *    forgot deadlines on every new batch and on failover — SURVEY §7.4),
  *    strict deadlines here live in a parallel RocksDB column family and ride
  *    the same snapshots, so exact expiry survives both.
  *  - Each batch's update is one put/delete log: every change to user
  *    state goes through the store's one `write`, which keeps `numKeys`,
  *    the changelog record and the strict deadline in step, and every
  *    column family is opened by one `cfHandle` with the TTL of
  *    [[compactionTtlFor]].
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
  @volatile private[state] var snapshots: SnapshotManager = _
  @volatile private[state] var tempRoot: File = _
  @volatile private var ckptIdsEnabled: Boolean = false
  @volatile private var schemaProvider: Option[StateSchemaProvider] = None

  /** Local dir holding exactly one committed version, tagged (under
    * checkpoint-format v2) with the unique ID of the commit that produced
    * it so a retried task's different commit is never reused by mistake.
    * `owner` is the finished store that registered the dir; it may still
    * hold the dir open, and whoever removes the entry adopts or closes
    * that handle ([[takeLocal]], [[dropLocal]]). */
  private[state] case class LocalSnapshot(
      dir: File, ckptId: Option[String], owner: Option[RocksDbStateStore])

  /** version -> local RocksDB dir holding exactly that committed version
    * (reference `localSnapshots`, `:114, :299-304`). */
  private[state] val localSnapshots = new ConcurrentHashMap[Long, LocalSnapshot]()

  /** Stores whose RocksDB handle is open: every Updating store, plus at
    * most one finished store, the owner of the newest registration. Spark
    * reads `iterator()`/`metrics` *after* `commit()` (e.g. Complete-mode
    * output), so a finished store keeps its DB open until the next load
    * adopts it, a later registration closes it, or the provider closes.
    * The reference closed the DB inside `commit()` (`:208`) and would have
    * segfaulted on any post-commit read. */
  private[state] val openStores = ConcurrentHashMap.newKeySet[RocksDbStateStore]()

  /** Observability for the handle-adoption hot path: physical RocksDB opens
    * performed for store instances (an adopted handle does not count). The
    * adoption suite asserts a steady micro-batch sequence opens once. */
  private[state] val dbOpens = new java.util.concurrent.atomic.AtomicLong(0)
  /** Physical RocksDB closes of store instances (a detached, adopted handle
    * does not count): `dbOpens - dbCloses` is the number of open handles. */
  private[state] val dbCloses = new java.util.concurrent.atomic.AtomicLong(0)

  /** Column-family registration runs for every store this provider builds
    * (every micro-batch, handle adoption included) and would re-render and
    * re-parse the same few schemas each time; these hold the results per
    * provider, keyed by their inputs. */
  private[state] val schemaJsons = scala.collection.concurrent.TrieMap.empty[StructType, String]
  private[state] val parsedSchemas = scala.collection.concurrent.TrieMap.empty[String, StructType]
  private[state] val cfRegJsons = scala.collection.concurrent.TrieMap
    .empty[(StructType, StructType, KeyStateEncoderSpec, Boolean, Boolean), String]

  private def schemaJson(st: StructType): String = schemaJsons.getOrElseUpdate(st, st.json)
  private def parsedSchema(json: String): StructType =
    parsedSchemas.getOrElseUpdate(json, DataType.fromJson(json).asInstanceOf[StructType])

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
    // Under the JVM's staging root, deleted at exit: Spark unloads a
    // provider only when maintenance finds it idle, so a JVM that ends
    // first never calls close() (Spark's own RocksDB provider registers its
    // local dir for deletion at shutdown for the same reason).
    this.tempRoot = graft.Staging.tempDir(
      s"graft-state-${stateStoreId.operatorId}-${stateStoreId.partitionId}-").toFile
    snapshots.ensureBaseDir()
    newestFullSnapshot = snapshots.listing().snapshots.map(_._1).maxOption.getOrElse(0L)
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
    closeOwners()
    new RocksDbStateStore(version, freshDir(), readOnly = false, None)
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
    * open a store over it. Hot path first: the registered local dir of
    * exactly that commit ([[takeLocal]]), usually with the previous batch's
    * open RocksDB handle to adopt (an open and close cost 13.5 ms + 1.2 ms
    * per store per micro-batch, the largest provider-owned fixed cost).
    * Otherwise recovery from the durable files;
    * on corruption fall back loudly to the newest older snapshot, then to
    * empty state — the reference's resilience contract (`:384-401`, tested
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
      val (dir, db) =
        if (version == 0) (freshDir(), None)
        else if (ckptIdsEnabled) {
          val id = resolvedId.getOrElse(throw new IllegalStateException(
            s"No durable commit found for state version $version of $stateStoreId_ " +
              "(checkpoint format v2)"))
          // v2 is exact-or-fail: silently substituting an older version would
          // defeat the lineage contract.
          takeLocal(version, resolvedId).getOrElse((rebuild((version, resolvedId)).getOrElse(
            throw new IllegalStateException(
              s"Cannot materialize state version $version (commit $id) of $stateStoreId_: " +
                "snapshot or changelog chain missing or unreadable")), None))
        } else {
          // bases that failed once in this load are not tried again
          val badBases = mutable.Set.empty[SnapshotManager.Commit]
          def load(v: Long) =
            takeLocal(v, None).orElse(rebuild((v, None), badBases).map(d => (d, None)))
          load(version).getOrElse {
            val candidates = (snapshots.listing().versions ++ localSnapshots.keySet().asScala)
              .filter(v => v < version && v > 0).toSeq.sorted(Ordering.Long.reverse)
            logWarning(s"State version $version of $stateStoreId_ is missing or unreadable; " +
              s"falling back (candidates: ${candidates.mkString(",")})")
            candidates.iterator.flatMap(load).nextOption().getOrElse {
              logWarning(s"No readable snapshot at all for $stateStoreId_; starting empty at version $version")
              (freshDir(), None)
            }
          }
        }
      closeOwners()
      new RocksDbStateStore(version, dir, readOnly, resolvedId, db)
    }

  /** Take the registered local dir of commit `(v, id)` out of the registry
    * for a new store: zero-copy reuse of a batch this provider committed
    * (the reference's hot-path trick, `:485-498`). An open owner hands its
    * handle over ([[RocksDbStateStore.detachDb]] drains in-flight readers
    * under the round-8 native-handle contract, or leaks the handle if they
    * never drain), so the new store skips close, move and reopen. An owner
    * that is already closed leaves the dir to be moved to a fresh name and
    * reopened. A local dir needs no verify-open: this provider produced it,
    * and once closed its WAL carries every write not yet flushed, which the
    * reopen replays. */
  private def takeLocal(v: Long, id: Option[String]): Option[(File, Option[OpenDb])] =
    Option(localSnapshots.get(v))
      .filter(e => e.ckptId == id && e.dir.isDirectory && localSnapshots.remove(v, e))
      .map { e =>
        val adopted = e.owner.flatMap(_.detachDb())
        if (adopted.isDefined) (e.dir, adopted)
        else {
          val dest = freshDir()
          dest.delete()
          java.nio.file.Files.move(e.dir.toPath, dest.toPath)
          (dest, None)
        }
      }

  /** Remove-side twin of [[takeLocal]] for an entry nobody reuses (replaced
    * or pruned): close its owner, then delete the dir. */
  private def dropLocal(e: LocalSnapshot): Unit = {
    e.owner.foreach(_.ensureClosed())
    deleteRecursively(e.dir)
  }

  /** Close the registered owners other than `keep`: a finished store stays
    * open only until the next registration, or the next load, which
    * adopts its handle or closes it here. */
  private def closeOwners(keep: RocksDbStateStore = null): Unit =
    localSnapshots.values().asScala.flatMap(_.owner).filter(_ ne keep).foreach(_.ensureClosed())

  /** v2 without a caller-provided lineage ID: pick the commit for `version`
    * from what is visible (local registry first, then durable files). */
  private def resolveIdByVersion(version: Long): Option[String] =
    Option(localSnapshots.get(version)).flatMap(_.ckptId)
      .orElse(snapshots.listing().idsAt(version).maxOption)

  /** Recover commit `top` from the durable files: the first chain of
    * [[SnapshotManager.chains]] (newest base first) that materializes,
    * skipping chains that end at a base in `badBases`. A chain that fails
    * other than on one of its deltas adds its base there, so a caller that
    * tries several versions (v1's fallback) downloads a bad base once. */
  private def rebuild(top: SnapshotManager.Commit,
      badBases: mutable.Set[SnapshotManager.Commit] = mutable.Set.empty): Option[File] = {
    val files = snapshots.listing()
    try snapshots.chains(top, files.snapshots, files).filterNot(c => badBases(c.base))
      .flatMap { chain =>
        try Some(materialize(chain))
        catch {
          case NonFatal(e) =>
            if (!e.isInstanceOf[BadDelta]) badBases += chain.base
            logWarning(s"Recovery of $top from base ${chain.base} failed for $stateStoreId_: $e")
            None
        }
      }.nextOption()
    catch {
      case NonFatal(e) =>
        logWarning(s"No recovery chain for $top of $stateStoreId_: $e")
        None
    }
  }

  /** Download `chain`'s base snapshot (none for the empty store), replay
    * its deltas and check the result opens: the one way every recovery
    * entry point builds a dir. */
  private def materialize(chain: SnapshotManager.Chain): File = {
    val dest = freshDir()
    try {
      val (base, baseId) = chain.base
      if (base > 0) snapshots.download(base, dest, baseId)
      if (chain.deltas.nonEmpty) replayDeltas(dest, chain.deltas)
      openDb(dest, verifyOnly = true)
      dest
    } catch {
      case NonFatal(e) => deleteRecursively(dest); throw e
    }
  }

  /** A recovery failure while replaying delta `version`: the chain's base
    * may still serve a lower version. */
  private case class BadDelta(version: Long, cause: Throwable)
      extends Exception(s"changelog $version could not be replayed: $cause", cause)

  /** Apply the changelog deltas of `chain` (ascending `(version, ckptId)`)
    * to the DB at `dir` (byte-level — no key/value codecs), then flush so
    * the dir is self-contained. */
  private def replayDeltas(dir: File, chain: Seq[(Long, Option[String])]): Unit = {
    val opened = openDb(dir, verifyOnly = false)
    try {
      chain.foreach { case (dv, did) =>
        try Changelog.read(snapshots.openDelta(dv, did)).foreach { r =>
          val h = opened.cfHandle(r.cf)
          if (r.op == Changelog.OpPut) opened.db.put(h, r.key, r.value)
          else opened.db.delete(h, r.key)
        } catch { case NonFatal(e) => throw BadDelta(dv, e) }
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
    val latest = (snapshots.listing().versions ++ localSnapshots.keySet().asScala)
      .maxOption.getOrElse(0L)
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
    closeOwners()
    // Under v2 the store's lineage is the commit the replay materialized:
    // a WRITABLE replayed store commits endVersion+1 with this as its
    // lineage header, so the chain walks back through the exact commit the
    // caller replayed — `None` here would break lineage recovery of any
    // commit built on top of a replay.
    val top = (endVersion, endCommitId(endVersion, endStateStoreCkptId))
    val files = snapshots.listing()
    val chain = chainDownTo(top, snapshotVersion, files)
    val start = chain.base
    startStateStoreCkptId.filter(_ => ckptIdsEnabled).foreach { sid =>
      if (!start._2.contains(sid)) throw new IllegalStateException(
        s"Snapshot lineage mismatch at version $snapshotVersion of $stateStoreId_: " +
          s"the chain below commit $top passes through commit ${start._2.getOrElse("")}, " +
          s"not the requested $sid")
    }
    if (!files.snapshots(start)) throw new IllegalStateException(
      s"No full snapshot at state version $snapshotVersion (commit ${start._2.getOrElse("-")}) " +
        s"of $stateStoreId_ — snapshotStartBatchId must name an existing snapshot")
    new RocksDbStateStore(endVersion, materialize(chain), readOnly, top._2)
  }

  /** Under v2 the commit ID a fine-grained read of `version` starts from:
    * the caller's, else the one visible for that version. */
  private def endCommitId(version: Long, given: Option[String]): Option[String] =
    if (!ckptIdsEnabled) None
    else Some(given.orElse(resolveIdByVersion(version)).getOrElse(throw new IllegalStateException(
      s"No durable commit found for state version $version of $stateStoreId_ " +
        "(checkpoint format v2)")))

  /** The chain from commit `top` down to version `start`, whatever lies
    * there: the walk a fine-grained read follows. */
  private def chainDownTo(top: SnapshotManager.Commit, start: Long,
      files: SnapshotManager.Listing): SnapshotManager.Chain =
    try snapshots.chains(top, _._1 == start, files).next()
    catch {
      case NonFatal(e) => throw new IllegalStateException(
        s"Cannot walk the changelog chain from $top down to version $start of $stateStoreId_: " +
          s"${e.getMessage} (was changelog checkpointing disabled?)", e)
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
    val chain = chainDownTo((endVersion, endCommitId(endVersion, endStateStoreCkptId)),
      startVersion, snapshots.listing())
    val versionIds = chain.base :: chain.deltas
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

  /** Snapshots from the registry's open owner, then prunes retired local
    * dirs; holds no provider lock, so a snapshot upload never blocks a
    * load (an owner being snapshotted is adopted once the upload ends). */
  override def doMaintenance(): Unit = {
    if (conf.changelogEnabled) localSnapshots.values().asScala.flatMap(_.owner).foreach(_.snapshotIfDue())
    snapshots.cleanup(storeConf.minVersionsToRetain).foreach { c =>
      localSnapshots.asScala.foreach { case (v, e) =>
        if (v < c && localSnapshots.remove(v, e)) dropLocal(e)
      }
    }
  }

  override def close(): Unit = {
    openStores.asScala.foreach(_.ensureClosed())
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
    * internal families ([[isInternalCf]]: commit bookkeeping and Spark's
    * transformWithState indexes must not vanish under the user's TTL),
    * no-TTL configs, AND strict mode: TtlDB expires by
    * last-PUT time, but strict semantics reset on ACCESS — letting
    * compaction drop a record that reads kept alive (deadline refreshed,
    * data record untouched) would silently lose live state. In strict mode
    * the deadline CF is the only expiry authority; physically expired
    * entries are deleted on access instead. */
  private[state] def compactionTtlFor(cfName: String): Int =
    if (isInternalCf(cfName) || conf.ttlSecs <= 0 || conf.strictExpire) 0
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

  private def cfDescriptor(name: String): ColumnFamilyDescriptor =
    new ColumnFamilyDescriptor(name.getBytes("UTF-8"), cfOptions())

  private[state] case class OpenDb(db: TtlDB, handles: mutable.LinkedHashMap[String, ColumnFamilyHandle]) {
    /** The family `name`, created if absent. Like [[openDb]] it takes its
      * TTL from [[compactionTtlFor]], so a family expires the same way
      * whether it was created, replayed or reopened. */
    def cfHandle(name: String): ColumnFamilyHandle =
      handles.getOrElseUpdate(name,
        db.createColumnFamilyWithTtl(cfDescriptor(name), compactionTtlFor(name)))
  }

  /** Open (or create) the DB at `dir` with every column family present on
    * disk. TtlDB gives the lazy compaction-time expiry floor (reference
    * `:121`); internal families never auto-expire. */
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
    val descriptors = names.map(cfDescriptor).asJava
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

  /** One registered column family: its codecs, its live key count, and the
    * key-schema and registration JSON that commit persists in the meta CF. */
  private case class CfInfo(
      name: String,
      keyCodec: KeyCodec,
      valueCodec: ValueCodec,
      multiValued: Boolean,
      isInternal: Boolean,
      keySchemaJson: String,
      regJson: String,
      var numKeys: Long)

  /** One open store = one micro-batch's view: loaded at `version`, commits
    * `version + 1`. Lifecycle `Updating -> Committed | Aborted | Released`
    * with mutator verification (reference `:124-126`). */
  class RocksDbStateStore private[state] (
      override val version: Long,
      private[state] val dir: File,
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
    openStores.add(this)
    private def openChecked: OpenDb = {
      verify(!dbClosed, "State store RocksDB instance is already closed")
      opened
    }
    private def db: TtlDB = openChecked.db
    private def cfHandle(name: String): ColumnFamilyHandle = openChecked.cfHandle(name)

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

    /** Set when the changelog cannot express a change (column family drop):
      * this commit must publish a full snapshot. */
    private var forceFullSnapshot = false

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
      openStores.remove(this)
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

    // Concurrent: cfInfo's fast path reads these WITHOUT the store lock
    // (only the auto-registration slow path synchronizes), and the provider
    // documents unsynchronized read paths elsewhere (native-ref counting) —
    // a plain HashMap read racing registerCf's put is a resize/partial-
    // publication hazard. TrieMap gives lock-free reads with safe
    // publication of the CfInfo it returns.
    private val cfs = scala.collection.concurrent.TrieMap.empty[String, CfInfo]
    /** (persisted, registered) key-schema JSON per conflicting CF; thrown at
      * first use — see the deferred-check note in [[registerCf]]. */
    private val keySchemaConflicts =
      scala.collection.concurrent.TrieMap.empty[String, (String, String)]

    /** Per-CF numKeys plus the key schema each CF was written under, plus
      * the full registration record (key/value schemas + encoder spec +
      * multi-value flag, under a `cfreg:` prefix) — all persisted in the
      * meta CF, so they ride both full snapshots and changelog deltas. The
      * registration records make the store SELF-DESCRIBING: a
      * cold reader (the `statestore` data source over a transformWithState
      * variable, or the offline repartition tool) can iterate a column
      * family the current session never registered, because Spark's reader
      * never calls `createColFamilyIfAbsent` — it expects the provider to
      * recall its own layout (Spark's built-in RocksDB provider persists
      * the same information in its checkpoint metadata). The maps are
      * mutable: a CF drop deletes its entries mid-version, and commit's
      * write-on-change checks must then see "nothing persisted" for a
      * re-created family of the same name. */
    private val persistedNumKeys = mutable.HashMap.empty[String, Long]
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
          else persistedNumKeys += k -> beLong(it.value())
          it.next()
        }
      } finally it.close()
    }
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
      val keyJson = schemaJson(cfKeySchema)
      persistedKeySchemas.get(name).foreach { storedJson =>
        if (!sameKeyLayout(parsedSchema(storedJson), cfKeySchema)) {
          if (!deferSchemaConflict)
            throw StateStoreErrors.stateStoreKeySchemaNotCompatible(storedJson, keyJson)
          keySchemaConflicts.put(name, (storedJson, keyJson))
        }
      }
      // The registration record follows every registration: under
      // VALUE-schema evolution a restarted query re-registers the family
      // with the evolved value schema, and a cold reader (the `statestore`
      // source) that rebuilt its codec from a stale record would decode
      // rows one field short. Commit writes the record only when it differs
      // from the persisted one, so the non-evolving steady state stays
      // write-once.
      val regJson = cfRegJsons.getOrElseUpdate(
        (cfKeySchema, cfValueSchema, spec, multiValued, isInternal),
        RocksDbStateStoreProvider.cfRegToJson(cfKeySchema, cfValueSchema, spec, multiValued, isInternal))
      val info = CfInfo(name, KeyCodec(spec),
        new ValueCodec(cfValueSchema.length, multiValued, evolution),
        multiValued, isInternal, keyJson, regJson, persistedNumKeys.getOrElse(name, 0L))
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
      * the empty family across replay-from-empty recovery. Its
      * registration record still rides the meta CF's changelog entries, and
      * an empty family's content is exactly empty — recreate it. */
    private def autoRegisterPersistedCf(name: String): Option[CfInfo] =
      persistedCfRegs.get(name).map { json =>
        val (ks, vs, spec, mv, internal) = RocksDbStateStoreProvider.cfRegFromJson(json)
        synchronized(cfHandle(name))
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
      // Spark's rule, which also keeps a user family out of the internal
      // families' TTL (compactionTtlFor)
      if (!isInternal && isInternalCf(name))
        throw StateStoreErrors.cannotCreateColumnFamilyWithReservedChars(name)
      cfHandle(name)
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
        // forget the persisted count, key schema and registration, or a
        // re-created CF of the same name would resurrect a phantom numKeys
        // base or reject a layout that may legitimately differ
        Seq(name, KeySchemaMetaPrefix + name, CfRegMetaPrefix + name)
          .foreach(k => db.delete(cfHandle(MetaCf), k.getBytes("UTF-8")))
        persistedNumKeys.remove(name)
        persistedKeySchemas.remove(name)
        persistedCfRegs.remove(name)
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
      val d = db.get(cfHandle(deadlineCfName(cf)), keyBytes)
      d == null || (clock() - beLong(d)) <= ttlMs
    }

    private def touch(cf: String, keyBytes: Array[Byte]): Unit =
      putOrDelete(deadlineCfName(cf), keyBytes, beLong(clock()))

    // -------------------- reads --------------------

    override def get(key: UnsafeRow, colFamilyName: String): UnsafeRow = {
      if (stateless) return null
      withNativeRef {
        val info = cfInfo(colFamilyName)
        val kBytes = info.keyCodec.encode(key)
        if (strictTtl && !isLive(colFamilyName, kBytes)) {
          // strict mode is the only expiry authority (no TtlDB compaction
          // expiry) — reclaim the dead record on access
          synchronized { if (!readOnly && state == State.Updating) write(info, kBytes, null) }
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
      val it = withNativeRef {
        val i = db.newIterator(handle(cf))
        openIterators.add(i)
        lowerBound match {
          case Some(b) => i.seek(b)
          case None => i.seekToFirst()
        }
        i
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
        else if (strictTtl) raw.filter { case (kBytes, _) => withNativeRef(isLive(cf, kBytes)) }
        else raw
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

    /** Put `v` under `k` in family `cf`, or delete `k` when `v` is null,
      * and record the change in this batch's changelog. */
    private def putOrDelete(cf: String, k: Array[Byte], v: Array[Byte]): Unit = {
      val h = cfHandle(cf)
      if (v == null) db.delete(h, k) else db.put(h, k, v)
      if (conf.changelogEnabled) {
        if (v == null) changelog.remove(cf, k) else changelog.put(cf, k, v)
      }
    }

    /** The one write of user state, behind every public write and `get`'s
      * reclaim of an expired key: `v` becomes the value of `k` in `info`'s
      * family, or `k` is deleted when `v` is null. `prev` is the key's
      * current value when the caller has already read it (a merge), which
      * saves the read that keeps `numKeys` exact. Stateless mode persists
      * nothing: no write is ever readable, so logging and snapshotting it
      * would only grow dead checkpoint state. Under strict TTL a put stamps
      * the key's deadline and a delete drops it, byte-keyed so the drop
      * takes effect (the reference's UnsafeRow-keyed invalidation was a
      * no-op, SURVEY §4 defect 1). */
    private def write(info: CfInfo, k: Array[Byte], v: Array[Byte], prev: Array[Byte] = Unread): Unit = {
      verifyWritable()
      if (stateless) return
      if (conf.trackTotalNumberOfRows) {
        val existed = (if (prev eq Unread) db.get(handle(info.name), k) else prev) != null
        if (v == null && existed) info.numKeys -= 1
        else if (v != null && !existed) info.numKeys += 1
      }
      putOrDelete(info.name, k, v)
      if (strictTtl) {
        if (v == null) putOrDelete(deadlineCfName(info.name), k, null) else touch(info.name, k)
      }
    }

    private def multiValuedCf(name: String, op: String): CfInfo = {
      val info = cfInfo(name)
      verify(info.multiValued, s"$op on single-valued column family $name")
      info
    }

    override def put(key: UnsafeRow, value: UnsafeRow, colFamilyName: String): Unit = synchronized {
      require(value != null, "Cannot put a null value")
      val info = cfInfo(colFamilyName)
      write(info, info.keyCodec.encode(key), info.valueCodec.encodeSingle(value))
    }

    override def putList(key: UnsafeRow, values: Array[UnsafeRow], colFamilyName: String): Unit = synchronized {
      val info = multiValuedCf(colFamilyName, "putList")
      require(values != null && values.nonEmpty, "Cannot put an empty value list")
      write(info, info.keyCodec.encode(key), info.valueCodec.encodeFrames(values))
    }

    override def merge(key: UnsafeRow, value: UnsafeRow, colFamilyName: String): Unit = synchronized {
      val info = multiValuedCf(colFamilyName, "merge")
      require(value != null, "Cannot merge a null value")
      val kBytes = info.keyCodec.encode(key)
      val existing = db.get(handle(colFamilyName), kBytes)
      write(info, kBytes, info.valueCodec.appendFrame(existing, value), existing)
    }

    override def mergeList(key: UnsafeRow, values: Array[UnsafeRow], colFamilyName: String): Unit = synchronized {
      val info = multiValuedCf(colFamilyName, "mergeList")
      if (values.nonEmpty) {
        // one read + one concatenated write + one changelog record — N
        // separate merge() calls would rewrite the growing blob N times
        val kBytes = info.keyCodec.encode(key)
        val existing = db.get(handle(colFamilyName), kBytes)
        val frames = info.valueCodec.encodeFrames(values)
        write(info, kBytes, if (existing == null) frames else existing ++ frames, existing)
      }
    }

    override def remove(key: UnsafeRow, colFamilyName: String): Unit = synchronized {
      val info = cfInfo(colFamilyName)
      write(info, info.keyCodec.encode(key), null)
    }

    // -------------------- lifecycle --------------------

    override def commit(): Long = synchronized {
      verify(state == State.Updating, "Cannot commit already committed or aborted state store")
      verify(!readOnly, "Cannot commit a read-only state store")
      try {
        // Each CF's count, key schema and registration record go to the
        // meta CF only when they differ from what is persisted: the equal
        // value is already durable in snapshot and chain, and rewriting it
        // would add meta records to the delta of every otherwise-empty
        // batch. The key schema never differs once written (a changed key
        // layout is rejected at registerCf); the registration record
        // follows value-schema evolution.
        def putMeta(key: String, v: Array[Byte]): Unit = putOrDelete(MetaCf, key.getBytes("UTF-8"), v)
        cfs.values.foreach { i =>
          if (!persistedNumKeys.get(i.name).contains(i.numKeys)) {
            putMeta(i.name, beLong(i.numKeys))
            persistedNumKeys.put(i.name, i.numKeys)
          }
          if (!persistedKeySchemas.contains(i.name)) {
            putMeta(KeySchemaMetaPrefix + i.name, i.keySchemaJson.getBytes("UTF-8"))
            persistedKeySchemas.put(i.name, i.keySchemaJson)
          }
          if (!persistedCfRegs.get(i.name).contains(i.regJson)) {
            putMeta(CfRegMetaPrefix + i.name, i.regJson.getBytes("UTF-8"))
            persistedCfRegs.put(i.name, i.regJson)
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

        registerLocalSnapshot(newVersion, commitCkptId)
        // Committed only after the durable upload succeeded (the reference
        // flipped state first — SURVEY §4 defect 5). The DB stays open for
        // Spark's post-commit iterator()/metrics reads (see [[openStores]]).
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
      * off (the reference's per-commit behavior) or a CF drop. A changelog
      * chain replays from the EMPTY base (version 0) in every recovery path
      * — the chain walk of [[SnapshotManager.chains]], which the provider
      * and StateFsck share, ends at version 0 — so the first version needs
      * no snapshot either (one would charge a query's first batch a
      * per-store Checkpoint+zip+upload: 580-670 ms summed vs ~100 ms steady
      * at 8 partitions). The periodic cadence snapshot runs on the
      * maintenance thread ([[snapshotIfDue]]) so commit latency never pays
      * the O(state) upload. */
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
        snapshots.upload(ckptDir, newVersion, commitCkptId)
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

    override def release(): Unit = synchronized {
      if (state == State.Updating) {
        verify(readOnly, "release() is only valid on a read store; use commit()/abort()")
        state = State.Released
        // A read store never wrote: its dir still holds exactly `version`,
        // so it is parked, like a commit's, for the next load to adopt. No
        // reader is left, so while another store of this provider is open
        // (and will publish the next version) the handle closes now.
        if (version > 0) {
          registerLocalSnapshot(version, loadedCkptId)
          if (openStores.asScala.exists(_ ne this)) ensureClosed()
        } else { ensureClosed(); deleteRecursively(dir) }
      }
    }

    /** Register this finished store's dir as the local copy of commit
      * `(v, id)`, owned by this store. Ownership rule: an entry leaves the
      * registry only with its owner's handle adopted or closed before the
      * dir moves or is deleted, and only the newest registration's owner
      * stays open ([[closeOwners]]). Runs under the provider lock (lock
      * order: store, provider, owner), so two registrations never wait on
      * each other. */
    private def registerLocalSnapshot(v: Long, id: Option[String]): Unit =
      RocksDbStateStoreProvider.this.synchronized {
        Option(localSnapshots.put(v, LocalSnapshot(dir, id, Some(this))))
          .filter(_.dir != dir).foreach(dropLocal)
        val cutoff = v - math.max(storeConf.minVersionsToRetain, 1) + 1
        localSnapshots.asScala.foreach { case (k, e) =>
          if (k < cutoff && localSnapshots.remove(k, e)) dropLocal(e)
        }
        closeOwners(keep = this)
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

  /** Spark's rule for internal column families: the name starts with `$`
    * (graft's own `$graft.` families and transformWithState's `$ttl_`,
    * `$min_`, `$count_`, `$rowCounter_`, `$procTimers…`, `$eventTimers…`). */
  private[state] def isInternalCf(name: String): Boolean = name.startsWith("$")

  /** The `prev` of a write whose caller did not read the key. */
  private val Unread = new Array[Byte](0)

  /** Meta-CF key prefix under which each column family's key schema JSON is
    * persisted (`ks:<cfName>` → schema), for the restart compatibility check. */
  private[state] val KeySchemaMetaPrefix: String = "ks:"

  /** Meta-CF key prefix for full column-family registration records
    * (`cfreg:<cfName>` → JSON) — key/value schemas, encoder spec, and the
    * multi-value flag, enough for a cold reader to rebuild the codec. */
  private[state] val CfRegMetaPrefix: String = "cfreg:"

  /** Shared by every registration record (an `ObjectMapper` is
    * thread-safe once configured, and this one never is). */
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  private[state] def cfRegToJson(
      keySchema: StructType,
      valueSchema: StructType,
      spec: KeyStateEncoderSpec,
      multiValued: Boolean,
      isInternal: Boolean): String = {
    val o = Json.createObjectNode()
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
    Json.writeValueAsString(o)
  }

  private[state] def cfRegFromJson(json: String)
      : (StructType, StructType, KeyStateEncoderSpec, Boolean, Boolean) = {
    val o = Json.readTree(json)
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
