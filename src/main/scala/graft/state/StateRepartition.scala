package graft.state

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Murmur3Hash, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.streaming.state.{KeyStateEncoderSpec, NoPrefixKeyStateEncoderSpec, PrefixKeyScanStateEncoderSpec, RangeKeyScanStateEncoderSpec, StateSchemaBroadcast, StateSchemaCompatibilityChecker, StateSchemaMetadata, StateStore, StateStoreColFamilySchema, StateStoreConf, StateStoreId, StateStoreProviderId}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Offline state-repartition tool: rewrite a Structured Streaming
  * checkpoint written by [[RocksDbStateStoreProvider]] so the query can
  * resume with a DIFFERENT `spark.sql.shuffle.partitions`.
  *
  * Spark pins the shuffle-partition count of a stateful query at its first
  * checkpoint forever (the restart path re-applies the count recorded in the
  * offset log), which is the standing operational trap for long-lived jobs:
  * a stream sized at 32 partitions on day one cannot absorb 100 TB/day of
  * state growth on day 400. This tool performs the offline migration a
  * production deployment needs (the reference has no answer to this — its
  * provider inherits the same pin, reference
  * `RocksDbStateStoreProvider.scala:347-380`):
  *
  *  1. every (operator, store) state at the last committed batch is read
  *     through the `statestore` data source against the OLD checkpoint —
  *     decoded key/value rows, schema included, no byte-format knowledge;
  *  2. rows are redistributed with `df.repartition(newN, hashCols)`, i.e.
  *     exactly Spark's own `HashPartitioning` — the placement the resumed
  *     query's `StatefulOpClusteredDistribution` will require. Using the
  *     engine's own hash (not a reimplementation) makes placement correct
  *     by construction, including the murmur3 seed and type widening;
  *  3. each new partition commits its rows through a fresh provider at the
  *     exact state version the resumed query will load (`lastBatch + 1`),
  *     publishing one full snapshot per (operator, new partition, store) —
  *     plain SPI calls, so TTL wrapping, meta-CF key counts and codec
  *     layout all come from the provider itself;
  *  4. the non-state checkpoint files are copied, with the offset log's
  *     recorded `spark.sql.shuffle.partitions` and each operator's
  *     `_metadata` `numPartitions` rewritten to the new count.
  *
  * The ENTIRE move is a distributed Spark job — state never collects to the
  * driver, so a 10 TB state store repartitions with the same shuffle
  * machinery as any other 10 TB join.
  *
  * Hash-column rule (which prefix of the state key the engine clusters by):
  * `numColsPrefixKey > 0` in the operator metadata → that prefix (session
  * windows); `symmetricHashJoin`'s `*KeyWithIndexToValue` stores → all key
  * columns but the trailing index; everything else → the full key.
  *
  * `transformWithState` operators (v2 operator metadata) migrate through a
  * dedicated path ([[migrateTwsOperator]]): every column family of the tws
  * store — value/list/map state variables (TTL'd or not), the engine's
  * internal row counters, both timer secondary indexes, and the TTL
  * secondary indexes (`$ttl_`/`$min_`/`$count_`) — is read through the
  * provider's self-describing registry, routed by the GROUPING key
  * (extracted per family along the field path [[groupFieldPath]] resolves:
  * the flat key row itself, the nested "key" struct of map/timer families,
  * or the `elementKey` of TTL index rows) under the same Murmur3 expression
  * `HashPartitioning` evaluates, and re-imported through the SPI so frame
  * order, schema-ID prefixes and per-family counters are rebuilt by the
  * provider itself. Native tws TTL deadlines (wall-clock `expirationMs` in
  * wrapped values and index rows) are byte-carried, so per-key expiry
  * schedules survive the migration unchanged.
  *
  * Checkpoint format v2 (per-commit state IDs in Spark's commit log, sized
  * to the partition count) migrates too: the read side resolves the exact
  * recorded lineage, each importer commit mints a fresh per-partition
  * commit ID (the provider's normal v2 discipline), and the last commit
  * log entry's `stateUniqueIds` arrays are rewritten to the new width —
  * with the store-slot order recovered by matching the old IDs to the
  * store directories that carry them. The resumed session must set
  * `spark.sql.streaming.stateStore.checkpointFormatVersion=2` (Spark does
  * not record the format version in the offsets conf).
  *
  * Caveat (documented, not silent): for v1-metadata operators migrating the
  * REFERENCE-style provider TTL, per-key strict-mode deadlines live in an
  * internal CF the `statestore` source does not expose — the importer
  * re-puts every row, so those clocks restart at migration time (lazy-mode
  * expiry likewise measures from the migration).
  */
object StateRepartition extends Logging {

  /** One migrated store: `keys` rows moved into `newPartitions` snapshots
    * at state `version`. */
  case class StoreResult(
      operatorId: Long,
      storeName: String,
      operatorName: String,
      oldPartitions: Int,
      newPartitions: Int,
      version: Long,
      keys: Long)

  private val SupportedOperators = Set(
    "stateStoreSave", "dedupe", "dedupeWithinWatermark",
    "sessionWindowStateStoreSaveExec", "flatMapGroupsWithState", "symmetricHashJoin")

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    require(pos.length == 3,
      "usage: StateRepartition [--force] <oldCheckpointDir> <newCheckpointDir> <newPartitionCount>")
    val spark = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    run(spark, pos(0), pos(1), pos(2).toInt,
      force = flags.contains("--force")).show(100, truncate = false)
  }

  /** Migrate `oldCkpt` to `newCkpt` with `newParts` state partitions; the
    * old checkpoint is left untouched (it IS the rollback plan). Returns a
    * one-row-per-store summary.
    *
    * The write side always lands graft-RocksDB snapshots while the read
    * side replays through whatever provider the checkpoint recorded, so
    * the same pass is also the PROVIDER migration: a checkpoint written by
    * Spark's stock `HDFSBackedStateStoreProvider` (the memory-bound
    * provider the reference exists to replace) comes out the other end as
    * a graft-provider checkpoint — the recorded `providerClass` is
    * rewritten so the resumed query picks the new engine up from the
    * offset log with no code change. Same-partition-count calls are
    * therefore meaningful too: they migrate the provider alone. */
  def run(spark: SparkSession, oldCkpt: String, newCkpt: String, newParts: Int,
      force: Boolean = false): DataFrame = {
    require(newParts >= 1, s"newParts must be >= 1, got $newParts")
    CheckpointGuard.assertQuiescent(spark, oldCkpt, "StateRepartition", force)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val oldRoot = new Path(oldCkpt)
    val newRoot = new Path(newCkpt)
    val fs = oldRoot.getFileSystem(hadoopConf)
    require(fs.exists(oldRoot), s"old checkpoint $oldCkpt does not exist")
    require(!fs.exists(new Path(newRoot, "state")),
      s"new checkpoint $newCkpt already has a state/ directory — refusing to overwrite")

    // ---- resolve the batch to migrate: last committed, nothing in flight
    def batchIds(dir: String): Seq[Long] = {
      val p = new Path(oldRoot, dir)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.map(_.getPath.getName).filter(_.forall(_.isDigit)).map(_.toLong)
    }
    val commits = batchIds("commits")
    val offsets = batchIds("offsets")
    require(commits.nonEmpty, s"$oldCkpt has no committed batches — nothing to repartition")
    val lastBatch = commits.max
    require(offsets.max == lastBatch,
      s"batch ${offsets.max} is in flight (offsets written, no commit) — resume the query to " +
        "finish it (or delete the dangling offsets file) before repartitioning")
    val version = lastBatch + 1

    val mapper = new ObjectMapper()
    val commitText = readText(fs, new Path(oldRoot, s"commits/$lastBatch"))
    // checkpoint-format v2: the commit log's stateUniqueIds arrays are sized
    // to the partition count — the importer mints fresh per-partition commit
    // IDs and the commit log is rewritten to the new width after the move
    val commitLines = commitText.split("\n", -1)
    // a v1 commit file may carry no metadata line at all (older stock
    // checkpoints) — only parse JSON when it is actually there
    val commitMeta: ObjectNode =
      if (commitLines.length > 1 && commitLines(1).trim.startsWith("{"))
        mapper.readTree(commitLines(1)).asInstanceOf[ObjectNode]
      else mapper.createObjectNode()
    val v2Ckpt = commitLines(0).trim == "v2" && commitMeta.hasNonNull("stateUniqueIds")
    // opId -> [old partition][store slot] commit id, exactly as recorded
    val oldUniqueIds: Map[Long, Array[Array[String]]] =
      if (!v2Ckpt) Map.empty
      else {
        val node = commitMeta.get("stateUniqueIds")
        val b = Map.newBuilder[Long, Array[Array[String]]]
        val names = node.fieldNames()
        while (names.hasNext) {
          val op = names.next()
          val pa = node.get(op)
          b += op.toLong -> (0 until pa.size()).map { p =>
            val sa = pa.get(p)
            (0 until sa.size()).map(sa.get(_).asText()).toArray
          }.toArray
        }
        b.result()
      }

    val offsetLines = readText(fs, new Path(oldRoot, s"offsets/$lastBatch")).split("\n", -1)
    val offsetMeta = mapper.readTree(offsetLines(1)).asInstanceOf[ObjectNode]
    val confNode = offsetMeta.get("conf").asInstanceOf[ObjectNode]
    val oldParts = confNode.get("spark.sql.shuffle.partitions").asText().toInt
    logInfo(s"Repartitioning $oldCkpt: batch $lastBatch (state version $version), " +
      s"$oldParts -> $newParts partitions")

    // ---- copy the non-state metadata (offsets rewritten below)
    fs.mkdirs(newRoot)
    fs.listStatus(oldRoot).foreach { st =>
      val name = st.getPath.getName
      if (name != "state" && name != "offsets") {
        FileUtil.copy(fs, st.getPath, fs, new Path(newRoot, name), false, true, hadoopConf)
      }
    }
    // every offsets entry gets the new count and the graft provider class
    // (the restart reads the latest entry's conf; uniform history keeps
    // later inspection unconfusing) — rewriting providerClass is what makes
    // the same pass the stock-to-graft provider migration
    fs.mkdirs(new Path(newRoot, "offsets"))
    offsets.foreach { b =>
      val lines = readText(fs, new Path(oldRoot, s"offsets/$b")).split("\n", -1)
      val meta = mapper.readTree(lines(1)).asInstanceOf[ObjectNode]
      val c = meta.get("conf").asInstanceOf[ObjectNode]
      c.put("spark.sql.shuffle.partitions", newParts.toString)
      c.put("spark.sql.streaming.stateStore.providerClass",
        classOf[RocksDbStateStoreProvider].getName)
      lines(1) = mapper.writeValueAsString(meta)
      writeText(fs, new Path(newRoot, s"offsets/$b"), lines.mkString("\n"))
    }

    // ---- a session pinned to the checkpoint's own streaming confs for the
    // statestore reads (INCLUDING the recorded providerClass — an
    // HDFSBackedStateStoreProvider checkpoint replays through the stock
    // provider here); AQE off so repartition(n, cols) keeps exactly n
    // reduce partitions aligned with partition indices
    val readSession = spark.newSession()
    val it = confNode.fieldNames()
    while (it.hasNext) { val k = it.next(); readSession.conf.set(k, confNode.get(k).asText()) }
    readSession.conf.set(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key, "false")
    // the offsets conf does NOT record the checkpoint format version; the
    // statestore source needs it to even deserialize a v2 commit log
    if (v2Ckpt) {
      readSession.conf.set("spark.sql.streaming.stateStore.checkpointFormatVersion", "2")
    }

    // ---- per-operator migration
    val stateRoot = new Path(oldRoot, "state")
    val newStateRoot = new Path(newRoot, "state").toString
    val hadoopBc = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    val importerConf: StateStoreConf = {
      // changelog OFF so the importer's single commit publishes one
      // snapshot (its SSTs go to the new layout's pool, like any snapshot)
      val sqlConf = new SQLConf()
      sqlConf.setConfString(RocksDbConf.CHANGELOG, "false")
      sqlConf.setConfString("spark.sql.streaming.stateStore.commitValidation.enabled", "false")
      if (v2Ckpt) {
        // v2 in = v2 out: the importer's commits mint the fresh IDs the
        // rewritten commit log records (and the tws read side resolves the
        // old checkpoint's exact lineage)
        sqlConf.setConfString("spark.sql.streaming.stateStore.checkpointFormatVersion", "2")
      }
      new StateStoreConf(sqlConf, Map.empty)
    }
    // (opId, storeName) -> new-partition-indexed commit IDs, filled by the
    // importers when v2Ckpt; consumed by the commit-log rewrite below
    val newIds = mutable.HashMap.empty[(Long, String), Array[String]]

    val results = mutable.ArrayBuffer.empty[StoreResult]
    val opDirs = fs.listStatus(stateRoot).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.forall(_.isDigit))
      .sortBy(_.getPath.getName.toLong)
    opDirs.foreach { opSt =>
      val opId = opSt.getPath.getName.toLong
      val mdPath = new Path(opSt.getPath, "_metadata/metadata")
      if (!fs.exists(mdPath) && fs.exists(new Path(opSt.getPath, "_metadata/v2"))) {
        // transformWithState — v2 operator metadata, dedicated migration
        val recordedProvider = Option(confNode.get(
          "spark.sql.streaming.stateStore.providerClass")).map(_.asText())
        require(recordedProvider.contains(classOf[RocksDbStateStoreProvider].getName),
          s"operator $opId is transformWithState but the checkpoint's recorded provider is " +
            s"${recordedProvider.getOrElse("<none>")} — tws migration reads the old state " +
            "through the graft provider's self-describing registry, so only graft-written " +
            "checkpoints are supported")
        val (twsResults, twsIds) = migrateTwsOperator(spark, fs, hadoopConf, oldRoot,
          newRoot, opId, lastBatch, version, oldParts, newParts, importerConf, hadoopBc,
          oldUniqueIds.get(opId).map(_.map(_.headOption.getOrElse(""))))
        results ++= twsResults
        if (v2Ckpt) newIds((opId, "default")) = twsIds
      } else {
        require(fs.exists(mdPath),
          s"operator $opId has no _metadata/metadata — cannot determine its stores")
        val mdLines = readText(fs, mdPath).split("\n", -1)
        require(mdLines(0).trim == "v1",
          s"operator $opId metadata is ${mdLines(0).trim}, not v1")
        val md = mapper.readTree(mdLines(1)).asInstanceOf[ObjectNode]
        val operatorName = md.get("operatorInfo").get("operatorName").asText()
        require(SupportedOperators.contains(operatorName),
          s"operator $opId ($operatorName) is not in the supported set " +
            s"${SupportedOperators.mkString("{", ",", "}")}")

        // rewrite numPartitions in the operator metadata
        val stores = md.get("stateStoreInfo")
        (0 until stores.size()).foreach { i =>
          stores.get(i).asInstanceOf[ObjectNode].put("numPartitions", newParts)
        }
        mdLines(1) = mapper.writeValueAsString(md)
        writeText(fs, new Path(newRoot, s"state/$opId/_metadata/metadata"), mdLines.mkString("\n"))

        // carry the partition-0 schema file (restart-time compatibility check)
        val schemaDir = new Path(opSt.getPath, "0/_metadata")
        if (fs.exists(schemaDir)) {
          FileUtil.copy(fs, schemaDir, fs, new Path(newRoot, s"state/$opId/0/_metadata"),
            false, true, hadoopConf)
        }

        (0 until stores.size()).foreach { i =>
          val info = stores.get(i)
          val storeName = info.get("storeName").asText()
          val numColsPrefixKey = info.get("numColsPrefixKey").asInt()
          val (res, ids) = migrateStore(readSession, oldCkpt, newStateRoot, opId, operatorName,
            storeName, numColsPrefixKey, lastBatch, version, oldParts, newParts,
            importerConf, hadoopBc)
          results += res
          if (v2Ckpt) newIds((opId, storeName)) = ids
        }
      }
    }
    // ---- v2: rewrite the LAST commit's stateUniqueIds arrays to the new
    // width, with the fresh per-partition IDs the importers minted. Earlier
    // commit files are copied verbatim as historical record — like v1,
    // only the last committed batch's state exists in the new checkpoint.
    if (v2Ckpt) {
      val idsNode = commitMeta.get("stateUniqueIds").asInstanceOf[ObjectNode]
      oldUniqueIds.foreach { case (op, oldArr) =>
        require(oldArr.nonEmpty, s"operator $op: empty stateUniqueIds in the commit log")
        val inner0 = oldArr(0)
        val opStores = newIds.keys.collect { case (o, st) if o == op => st }.toSeq
        require(inner0.length == opStores.length,
          s"operator $op: commit log records ${inner0.length} store slots but " +
            s"${opStores.length} stores were migrated (${opStores.mkString(",")})")
        // the inner arrays' store order, recovered by matching each recorded
        // id to the store dir whose durable files carry it (IDs are opaque;
        // only the file layout ties a slot to a store name). Any single old
        // partition with a complete, unambiguous match proves the order —
        // so a partition whose files were partially cleaned or are
        // transiently unreadable doesn't abort the migration as long as
        // some other partition can still testify.
        val order: Seq[String] =
          if (inner0.length == 1) opStores
          else {
            def orderAt(p: Int): Option[Seq[String]] = {
              // only partition 0's slot width is validated above; a
              // malformed/truncated other partition whose ids all match
              // uniquely would otherwise yield an order SHORTER than the
              // store count and a commit rewrite with too few slots
              if (oldArr(p).length != opStores.length) return None
              val matches = oldArr(p).toSeq.map { id =>
                opStores.filter(st =>
                  storeHasCommitFile(hadoopConf, oldRoot, op, p, st, version, id))
              }
              val o = matches.collect { case Seq(one) => one }
              if (o.length == matches.length && o.distinct.length == o.length) Some(o)
              else None
            }
            val recovered = oldArr.indices.iterator.map(orderAt)
              .collectFirst { case Some(o) => o }
            require(recovered.isDefined,
              s"operator $op: no old partition's durable files yield an " +
                s"unambiguous commit-id -> store mapping for stores " +
                s"${opStores.mkString("{", ",", "}")} at version $version — " +
                "cannot recover the store slot order")
            recovered.get
          }
        val newOpArr = mapper.createArrayNode()
        (0 until newParts).foreach { pid =>
          val slot = mapper.createArrayNode()
          order.foreach { st =>
            val ids = newIds((op, st))
            require(pid < ids.length && ids(pid).nonEmpty,
              s"operator $op store $st: importer returned no commit id for partition $pid")
            slot.add(ids(pid))
          }
          newOpArr.add(slot)
        }
        // `replace`, not `set`: set's generic return infers Nothing in
        // statement position and the cast blows up at runtime
        idsNode.replace(op.toString, newOpArr)
      }
      commitLines(1) = mapper.writeValueAsString(commitMeta)
      writeText(fs, new Path(newRoot, s"commits/$lastBatch"), commitLines.mkString("\n"))
    }

    logInfo(s"Repartition complete: ${results.map(_.keys).sum} keys across " +
      s"${results.size} stores now at $newParts partitions in $newCkpt" +
      (if (v2Ckpt) " (checkpoint format v2: commit log rewritten)" else ""))
    import spark.implicits._
    results.toSeq.toDF()
  }

  /** Does old partition `partition` of `store` hold a durable file for
    * commit `(version, id)`? Single-store operators keep state files
    * directly in the partition dir; named stores (joins) in a
    * subdirectory. */
  private def storeHasCommitFile(
      hadoopConf: Configuration, oldRoot: Path, op: Long,
      partition: Int, store: String, version: Long, id: String): Boolean = {
    val base =
      if (store == "default") new Path(oldRoot, s"state/$op/$partition")
      else new Path(oldRoot, s"state/$op/$partition/$store")
    scala.util.Try(new SnapshotManager(base, hadoopConf).listing().idsAt(version).contains(id))
      .getOrElse(false)
  }

  /** Move one (operator, store): statestore-source read at `lastBatch`,
    * HashPartitioning shuffle to `newParts`, per-partition SPI import
    * committing `version`. Returns the summary plus the per-new-partition
    * commit IDs (empty strings under checkpoint-format v1). */
  private def migrateStore(
      readSession: SparkSession,
      oldCkpt: String,
      newStateRoot: String,
      opId: Long,
      operatorName: String,
      storeName: String,
      numColsPrefixKey: Int,
      lastBatch: Long,
      version: Long,
      oldParts: Int,
      newParts: Int,
      importerConf: StateStoreConf,
      hadoopBc: org.apache.spark.broadcast.Broadcast[SerializableConfiguration])
      : (StoreResult, Array[String]) = {
    val df = readSession.read.format("statestore")
      .option("batchId", lastBatch.toString)
      .option("operatorId", opId.toString)
      .option("storeName", storeName)
      .load(oldCkpt)
      .select(col("key"), col("value"))
    val keySchema = df.schema("key").dataType.asInstanceOf[StructType]
    val valueSchema = df.schema("value").dataType.asInstanceOf[StructType]

    // the prefix of the key the engine clusters on (scaladoc rule)
    val hashFields: Seq[String] =
      if (numColsPrefixKey > 0) keySchema.fieldNames.take(numColsPrefixKey).toSeq
      else if (operatorName == "symmetricHashJoin" && storeName.endsWith("keyWithIndexToValue"))
        keySchema.fieldNames.dropRight(1).toSeq
      else keySchema.fieldNames.toSeq
    require(hashFields.nonEmpty, s"operator $opId store $storeName has an empty hash key")
    val hashCols: Seq[Column] = hashFields.map(f => col("key").getField(f))

    val keySpec: KeyStateEncoderSpec =
      if (numColsPrefixKey > 0) PrefixKeyScanStateEncoderSpec(keySchema, numColsPrefixKey)
      else NoPrefixKeyStateEncoderSpec(keySchema)

    val nKey = keySchema.length
    val nVal = valueSchema.length
    val repart = df.repartition(newParts, hashCols: _*)
    val perPartitionKeys = repart.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      val provider = new RocksDbStateStoreProvider()
      provider.init(
        StateStoreId(newStateRoot, opId, pid, storeName),
        keySchema, valueSchema, keySpec,
        useColumnFamilies = false, importerConf, hadoopBc.value.value,
        useMultipleValuesPerKey = false, stateSchemaProvider = None)
      var n = 0L
      var ckptId = ""
      try {
        // the fresh layout is EMPTY at version-1 by design; emptyStoreAt
        // opens it without version resolution (under v2 the normal load
        // path is exact-or-fail), and the single commit below publishes
        // the full snapshot the resumed query will load
        val store = provider.emptyStoreAt(version - 1)
        val keyProj = UnsafeProjection.create(keySchema)
        val valueProj = UnsafeProjection.create(valueSchema)
        rows.foreach { r =>
          store.put(keyProj(r.getStruct(0, nKey)), valueProj(r.getStruct(1, nVal)))
          n += 1
        }
        val committed = store.commit()
        assert(committed == version, s"importer committed $committed, expected $version")
        ckptId = store.getStateStoreCheckpointInfo().stateStoreCkptId.getOrElse("")
      } finally provider.close()
      Iterator.single((n, ckptId))
    }.collect() // newParts (count, commitId) pairs — scalars, not state rows

    (StoreResult(opId, storeName, operatorName, oldParts, newParts, version,
      perPartitionKeys.map(_._1).sum),
      perPartitionKeys.map(_._2))
  }

  /** Column-family layout shipped to executors for the tws migration —
    * plain strings/ints so the task closure stays serialization-trivial. */
  private case class CfMeta(
      name: String,
      keySchemaJson: String,
      valueSchemaJson: String,
      specType: String, // "np" | "ps" | "rs"
      specArgs: Seq[Int],
      multiValued: Boolean) {
    @transient lazy val keySchema: StructType =
      DataType.fromJson(keySchemaJson).asInstanceOf[StructType]
    @transient lazy val valueSchema: StructType =
      DataType.fromJson(valueSchemaJson).asInstanceOf[StructType]
    @transient lazy val spec: KeyStateEncoderSpec = specType match {
      case "np" => NoPrefixKeyStateEncoderSpec(keySchema)
      case "ps" => PrefixKeyScanStateEncoderSpec(keySchema, specArgs.head)
      case "rs" => RangeKeyScanStateEncoderSpec(keySchema, specArgs)
    }
  }

  private def cfMetaOf(s: StateStoreColFamilySchema, multiValued: Boolean): CfMeta = {
    val (t, args) = s.keyStateEncoderSpec match {
      case Some(NoPrefixKeyStateEncoderSpec(_)) => ("np", Seq.empty[Int])
      case Some(PrefixKeyScanStateEncoderSpec(_, n)) => ("ps", Seq(n))
      case Some(RangeKeyScanStateEncoderSpec(_, ords)) => ("rs", ords)
      case None => ("np", Seq.empty[Int])
    }
    CfMeta(s.colFamilyName, s.keySchema.json, s.valueSchema.json, t, args, multiValued)
  }

  /** Where the grouping key sits inside a tws column family's key row, as a
    * FIELD PATH (empty = the whole row IS the grouping row):
    *
    *  - value/list/rowCounter families store the flat grouping row itself
    *    (`Nil`);
    *  - map-state and timer families nest it as a struct field named "key"
    *    (Spark's tws encoder convention — `Seq(i)`);
    *  - TTL secondary indexes (`$ttl_<name>`) key by
    *    `(expirationMs, elementKey)` where `elementKey` is the primary
    *    family's key row — the grouping row itself for value/list state
    *    (`Seq(1)`), or the map family's `(key, userKey)` composite for
    *    map state (`Seq(1, 0)`); `$min_`/`$count_` (list-TTL) key by the
    *    grouping row directly (`Nil`).
    *
    * Resolution at each struct level: exact layout match wins, then a field
    * named "key" with matching layout, then a unique layout-matching field,
    * then a unique recursively-resolvable struct field. Loud failure when
    * no (or more than one) location matches — routing a family by a guessed
    * key would scatter state silently. */
  private def groupFieldPath(keySchema: StructType, groupSchema: StructType): Seq[Int] = {
    def resolve(st: StructType): Seq[Seq[Int]] = {
      if (RocksDbStateStoreProvider.sameKeyLayout(st, groupSchema)) return Seq(Nil)
      val named = st.fields.zipWithIndex.filter { case (f, _) =>
        f.name == "key" && RocksDbStateStoreProvider.sameKeyLayout(f.dataType, groupSchema)
      }
      if (named.length == 1) return Seq(Seq(named.head._2))
      val direct = st.fields.zipWithIndex.filter { case (f, _) =>
        RocksDbStateStoreProvider.sameKeyLayout(f.dataType, groupSchema)
      }
      if (direct.length == 1) return Seq(Seq(direct.head._2))
      if (direct.length > 1) return direct.map(d => Seq(d._2)).toSeq
      st.fields.zipWithIndex.flatMap {
        case (f, i) if f.dataType.isInstanceOf[StructType] =>
          resolve(f.dataType.asInstanceOf[StructType]).map(i +: _)
        case _ => Nil
      }.toSeq
    }
    val found = resolve(keySchema)
    require(found.length == 1,
      s"cannot locate the grouping key inside key schema ${keySchema.json} " +
        s"(grouping schema ${groupSchema.json}): ${found.length} candidate locations")
    found.head
  }

  /** Migrate one transformWithState operator: every column family of its
    * single "default" store is redistributed by the GROUPING key — extracted
    * per family (flat row, or the nested "key" struct of map/timer families)
    * and hashed with the same Murmur3 expression `HashPartitioning`
    * evaluates — then re-imported through the SPI (put/putList), so value
    * framing, schema-ID prefixes and per-family counters are rebuilt by the
    * provider itself at the new partitioning. Column-family layouts come
    * from the engine's own v3 state-schema file; the read side leans on the
    * graft provider's self-describing registry (persisted `cfreg:` records)
    * plus explicit re-registration for pre-registry checkpoints. */
  private def migrateTwsOperator(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      hadoopConf: Configuration,
      oldRoot: Path,
      newRoot: Path,
      opId: Long,
      lastBatch: Long,
      version: Long,
      oldParts: Int,
      newParts: Int,
      importerConf: StateStoreConf,
      hadoopBc: org.apache.spark.broadcast.Broadcast[SerializableConfiguration],
      oldDefaultIds: Option[Array[String]]): (Seq[StoreResult], Array[String]) = {
    val mapper = new ObjectMapper()
    val mdDir = new Path(oldRoot, s"state/$opId/_metadata/v2")
    val mdBatches = fs.listStatus(mdDir).toSeq.map(_.getPath.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).filter(_ <= lastBatch)
    require(mdBatches.nonEmpty,
      s"operator $opId: no v2 operator metadata at or before batch $lastBatch")
    val mdBatch = mdBatches.max
    val mdLines = readText(fs, new Path(mdDir, mdBatch.toString)).split("\n", -1)
    require(mdLines(0).trim == "v2", s"operator $opId: expected v2 metadata, got ${mdLines(0)}")
    val md = mapper.readTree(mdLines(1)).asInstanceOf[ObjectNode]
    val operatorName = md.get("operatorInfo").get("operatorName").asText()
    require(operatorName == "transformWithStateExec",
      s"operator $opId ($operatorName): unsupported v2-metadata operator")
    val stores = md.get("stateStoreInfo")
    require(stores.size() == 1 && stores.get(0).get("storeName").asText() == "default",
      s"operator $opId: expected a single 'default' store")

    // state variables: ListState families are multi-valued. TTL-enabled
    // variables are fully supported: their `$ttl_`/`$min_`/`$count_`
    // secondary-index families route by the grouping key nested in their
    // key rows (see [[groupFieldPath]]) and their deadline payloads —
    // wall-clock expirationMs in both the wrapped primary values and the
    // index rows — are byte-carried, so per-key TTL clocks survive the
    // migration unchanged (the resumed query keeps expiring on the
    // original schedule).
    val props = mapper.readTree(md.get("operatorPropertiesJson").asText())
    val varTypes = mutable.HashMap.empty[String, String]
    val varsNode = props.get("stateVariables")
    (0 until varsNode.size()).foreach { i =>
      val v = varsNode.get(i)
      varTypes.put(v.get("stateName").asText(), v.get("stateVariableType").asText())
    }

    // column-family layouts from the engine's own v3 schema file(s)
    val storeInfo = stores.get(0).asInstanceOf[ObjectNode]
    val schemaPathsNode = storeInfo.get("stateSchemaFilePaths")
    val schemaPaths = (0 until schemaPathsNode.size()).map(schemaPathsNode.get(_).asText())
    require(schemaPaths.nonEmpty, s"operator $opId: no state schema files recorded")
    // providerId points at a scratch dir: only readSchemaFile(stream) is used
    val checker = new StateSchemaCompatibilityChecker(
      StateStoreProviderId(
        StateStoreId(graft.Staging.tempDir("graft-tws-schema-").toString, opId, 0),
        java.util.UUID.randomUUID()),
      hadoopConf, schemaPaths.map(new Path(_)).toList, None)
    // one schema file = one consistent layout per family. Multiple files
    // mean the query evolved its value schemas across restarts; picking
    // "newest per family" from readSchemaFiles()'s unordered map would be
    // a guess, so reject loudly (resume the query once on the OLD
    // partition count to compact its schema history, then migrate).
    require(schemaPaths.size == 1,
      s"operator $opId records ${schemaPaths.size} state schema files (value-schema " +
        "evolution across restarts) — repartitioning multi-schema tws checkpoints is " +
        "not supported")
    val cfSchemas: Seq[StateStoreColFamilySchema] =
      checker.readSchemaFiles().values.flatten.toSeq
    val cfMetas: IndexedSeq[CfMeta] = cfSchemas.map { s =>
      cfMetaOf(s, multiValued = varTypes.get(s.colFamilyName).contains("ListState"))
    }.toIndexedSeq
    val defaultMeta = cfMetas.find(_.name == "default").getOrElse(
      throw new IllegalStateException(s"operator $opId: schema file lists no 'default' family"))
    val groupSchemaJson = defaultMeta.keySchemaJson
    val groupPaths: IndexedSeq[Seq[Int]] = {
      val g = DataType.fromJson(groupSchemaJson).asInstanceOf[StructType]
      cfMetas.map(m => groupFieldPath(m.keySchema, g))
    }

    // schema-ID-aware value codecs on both sides (tws values carry the
    // 2-byte schema-ID prefix when evolution is active)
    val schemaMeta = StateSchemaMetadata.createStateSchemaMetadata(
      oldRoot.toString, hadoopConf, schemaPaths.toList)
    val schemaBc = StateSchemaBroadcast(spark.sparkContext.broadcast(schemaMeta))

    // ---- copy the schema files; rewrite the operator metadata (partition
    // count + schema paths re-pointed into the new checkpoint)
    val oldSchemaDir = new Path(oldRoot, s"state/$opId/_stateSchema")
    val newSchemaDir = new Path(newRoot, s"state/$opId/_stateSchema")
    FileUtil.copy(fs, oldSchemaDir, fs, newSchemaDir, false, true, hadoopConf)
    val newPaths = storeInfo.putArray("stateSchemaFilePaths")
    schemaPaths.foreach { p =>
      val name = new Path(p).getName
      newPaths.add(fs.makeQualified(new Path(newSchemaDir, s"default/$name")).toString)
    }
    storeInfo.put("numPartitions", newParts)
    mdLines(1) = mapper.writeValueAsString(md)
    writeText(fs, new Path(newRoot, s"state/$opId/_metadata/v2/$mdBatch"), mdLines.mkString("\n"))

    // ---- distributed move: read old partitions -> shuffle by new pid -> import
    val oldStateRoot = new Path(oldRoot, "state").toString
    val newStateRoot = new Path(newRoot, "state").toString
    val nCf = cfMetas.length
    val reads = spark.sparkContext.parallelize(0 until oldParts, oldParts).flatMap { pid =>
      val defM = cfMetas.find(_.name == "default").get
      val provider = new RocksDbStateStoreProvider()
      provider.init(
        StateStoreId(oldStateRoot, opId, pid, "default"),
        defM.keySchema, defM.valueSchema, defM.spec,
        useColumnFamilies = true, importerConf, hadoopBc.value.value,
        useMultipleValuesPerKey = false, stateSchemaProvider = Some(schemaBc))
      // STREAM the partition's state through the shuffle writer — never
      // buffer it: the provider (and each family's native iterator) stays
      // open until its rows are consumed and closes at exhaustion, with a
      // task-completion listener as the failure-path net. Buffering here
      // would make the tool OOM on exactly the oversized partitions it
      // exists to rescue (the v1 path streams for the same reason).
      val closedP = new java.util.concurrent.atomic.AtomicBoolean(false)
      def closeOnce(): Unit = if (closedP.compareAndSet(false, true)) provider.close()
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
      try {
        // v2: resolve the exact lineage the commit log recorded for this
        // partition (None under v1, or for pre-ids checkpoints)
        val lineage = oldDefaultIds.flatMap(ids =>
          if (pid < ids.length && ids(pid).nonEmpty) Some(ids(pid)) else None)
        val store = provider.getReadStore(version, lineage).asInstanceOf[StateStore]
        cfMetas.foreach { m =>
          store.createColFamilyIfAbsent(m.name, m.keySchema, m.valueSchema, m.spec,
            m.multiValued, isInternal = m.name.startsWith("$"))
        }
        val g = DataType.fromJson(groupSchemaJson).asInstanceOf[StructType]
        val hashExpr = new Murmur3Hash(
          g.fields.zipWithIndex.map { case (f, i) =>
            BoundReference(i, f.dataType, f.nullable)
          }.toIndexedSeq)
        def route(ci: Int, keyRow: UnsafeRow): Int = {
          // walk the grouping-key path (empty = the row itself); each hop
          // needs the struct width at that level to read the nested row
          var groupRow: InternalRow = keyRow
          var st = cfMetas(ci).keySchema
          groupPaths(ci).foreach { ord =>
            val sub = st.fields(ord).dataType.asInstanceOf[StructType]
            groupRow = groupRow.getStruct(ord, sub.length)
            st = sub
          }
          val h = hashExpr.eval(groupRow).asInstanceOf[Int]
          ((h % newParts) + newParts) % newParts
        }
        val rows = cfMetas.zipWithIndex.iterator.flatMap { case (m, ci) =>
          val it = store.iterator(m.name)
          new Iterator[(Int, (Int, Array[Byte], Array[Array[Byte]]))] {
            private var open = true
            override def hasNext: Boolean = {
              val h = open && it.hasNext
              if (!h && open) { open = false; it.close() }
              h
            }
            override def next(): (Int, (Int, Array[Byte], Array[Array[Byte]])) = {
              val pair = it.next()
              val key = pair.key.copy()
              val values: Array[Array[Byte]] =
                if (m.multiValued) store.valuesIterator(key, m.name).map(_.getBytes).toArray
                else Array(pair.value.getBytes)
              (route(ci, key), (ci, key.getBytes, values))
            }
          }
        }
        rows ++ { closeOnce(); Iterator.empty }
      } catch { case t: Throwable => closeOnce(); throw t }
    }

    val exact = new org.apache.spark.Partitioner {
      override def numPartitions: Int = newParts
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }
    val perPartCounts = reads.partitionBy(exact).mapPartitionsWithIndex { (pid, rows) =>
      val defM = cfMetas.find(_.name == "default").get
      val provider = new RocksDbStateStoreProvider()
      provider.init(
        StateStoreId(newStateRoot, opId, pid, "default"),
        defM.keySchema, defM.valueSchema, defM.spec,
        useColumnFamilies = true, importerConf, hadoopBc.value.value,
        useMultipleValuesPerKey = false, stateSchemaProvider = Some(schemaBc))
      try {
        val store = provider.emptyStoreAt(version - 1)
        cfMetas.foreach { m =>
          store.createColFamilyIfAbsent(m.name, m.keySchema, m.valueSchema, m.spec,
            m.multiValued, isInternal = m.name.startsWith("$"))
        }
        val counts = new Array[Long](nCf)
        rows.foreach { case (_, (ci, kb, vbs)) =>
          val m = cfMetas(ci)
          val key = new UnsafeRow(m.keySchema.length)
          key.pointTo(kb, kb.length)
          if (m.multiValued) {
            val vals = vbs.map { b =>
              val r = new UnsafeRow(m.valueSchema.length); r.pointTo(b, b.length); r
            }
            store.putList(key, vals, m.name)
          } else {
            val v = new UnsafeRow(m.valueSchema.length)
            v.pointTo(vbs(0), vbs(0).length)
            store.put(key, v, m.name)
          }
          counts(ci) += 1
        }
        val committed = store.commit()
        assert(committed == version, s"tws importer committed $committed, expected $version")
        val ckptId = store.getStateStoreCheckpointInfo().stateStoreCkptId.getOrElse("")
        Iterator.single((counts, ckptId))
      } finally provider.close()
    }.collect()

    (cfMetas.zipWithIndex.map { case (m, ci) =>
      StoreResult(opId, m.name, operatorName, oldParts, newParts, version,
        perPartCounts.map(_._1(ci)).sum)
    },
      perPartCounts.map(_._2))
  }

  private def readText(fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def writeText(fs: org.apache.hadoop.fs.FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }
}

/** Offline checkpoint COMPACTION — squash a changelog-chained checkpoint
  * into ONE full snapshot per (operator, partition, store) at the last
  * committed version, partition count unchanged.
  *
  * Why an operator reaches for this: under changelog checkpointing a
  * long-stopped query's recovery cost is its delta-chain length (the
  * cadence snapshot only happens while maintenance runs), and
  * [[StateFsck]]'s `chainLength` column is exactly the number a restart
  * will replay. Compaction resets it to zero offline: the output
  * checkpoint recovers with one snapshot download per store, no replay.
  * It is [[StateRepartition]] at the same width — the same distributed
  * read-through-the-engine / re-import-through-the-SPI pass, whose
  * importer always publishes full snapshots — so it inherits the
  * provider-migration property too (a stock HDFSBacked checkpoint comes
  * out as a compacted graft checkpoint). The old checkpoint is left
  * untouched; it IS the rollback plan.
  */
object StateCompact extends Logging {

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    require(pos.length == 2,
      "usage: StateCompact [--force] <oldCheckpointDir> <newCheckpointDir>")
    val spark = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    run(spark, pos(0), pos(1), force = flags.contains("--force"))
      .show(100, truncate = false)
  }

  /** Compact `oldCkpt` into `newCkpt` (same partition count). */
  def run(spark: SparkSession, oldCkpt: String, newCkpt: String,
      force: Boolean = false): DataFrame = {
    CheckpointGuard.assertQuiescent(spark, oldCkpt, "StateCompact", force)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val oldRoot = new Path(oldCkpt)
    val fs = oldRoot.getFileSystem(hadoopConf)
    val offsetsDir = new Path(oldRoot, "offsets")
    require(fs.exists(offsetsDir), s"$oldCkpt has no offsets log")
    val last = fs.listStatus(offsetsDir).toSeq.map(_.getPath.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    val lines = {
      val in = fs.open(new Path(offsetsDir, last.toString))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }.split("\n", -1)
    // operator-facing CLI: fail with a message naming the file and the
    // missing key, not a bare NPE, when the offsets metadata line is absent
    // or malformed (e.g. an unexpected log layout)
    val offsetsFile = new Path(offsetsDir, last.toString)
    require(lines.length >= 2 && lines(1).trim.startsWith("{"),
      s"$offsetsFile: line 2 is not the offsets metadata JSON — unexpected log layout")
    val meta = new ObjectMapper().readTree(lines(1))
    val conf = meta.get("conf")
    require(conf != null && conf.get("spark.sql.shuffle.partitions") != null,
      s"$offsetsFile: offsets metadata has no conf.'spark.sql.shuffle.partitions' entry — " +
        "cannot determine the checkpoint's partition count")
    val parts = conf.get("spark.sql.shuffle.partitions").asText().toInt
    StateRepartition.run(spark, oldCkpt, newCkpt, parts, force = force)
  }
}
