package graft.state


import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import StateStoreTestHelper._

/** Top-level (NOT nested in the suite — a nested class would capture the
  * non-serializable scalatest engine in its closure): per-key row counter
  * in a ValueState named "cnt", for the TWS change-feed test. */
class FgrCountProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), (Long, Long)] {
  @transient private var st: org.apache.spark.sql.streaming.ValueState[Long] = _
  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[Long]("cnt",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  override def handleInputRows(k: Long, rows: Iterator[(Long, Long)],
      tv: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long)] = {
    val n = (if (st.exists()) st.get() else 0L) + rows.size
    st.update(n)
    Iterator((k, n))
  }
}

/** Top-level for the same serialization reason as [[FgrCountProcessor]]:
  * per-key value log in a ListState named "vals", for the ListState
  * change-feed test. */
class FgrListProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), (Long, Long)] {
  @transient private var st: org.apache.spark.sql.streaming.ListState[Long] = _
  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getListState[Long]("vals",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  override def handleInputRows(k: Long, rows: Iterator[(Long, Long)],
      tv: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long)] = {
    rows.foreach(r => st.appendValue(r._2))
    Iterator((k, st.get().size.toLong))
  }
}

/** The statestore data source's advanced options against this provider:
  * `snapshotStartBatchId` (time-travel rebuild from one specific snapshot,
  * via `SupportsFineGrainedReplay.replayStateFromSnapshot`) and
  * `readChangeFeed` (CDC served from the changelog deltas). Covered at two
  * levels: the SPI directly (exact replay results, exact change sequences,
  * typed errors for every unsupported/missing-file shape) and end-to-end
  * through `spark.read.format("statestore")` against a real multi-batch
  * streaming-aggregation checkpoint.
  */
class FineGrainedReplaySuite extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-fine-grained-replay")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.streaming.stateStore.providerClass",
      classOf[RocksDbStateStoreProvider].getName)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = { spark; () }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Checkpoint with 4 committed versions and full snapshots at v1 and v2
    * (both via the maintenance cadence with minDeltas=1 — the commit path
    * takes no version-1 snapshot since round 16; a chain replays from the
    * empty base): v1: a=1,b=1 | v2: a=2 | v3: -b, c=3 | v4: d=4. */
  private def buildFixture(): (String, RocksDbStateStoreProvider) = {
    val dir = newCheckpointDir()
    val conf = storeConf(extra = Map(
      SQLConf.STATE_STORE_MIN_DELTAS_FOR_SNAPSHOT.key -> "1"))
    val p = newProvider(dir, conf)
    val s0 = p.getStore(0, None); put(s0, "a", 1); put(s0, "b", 1); s0.commit()
    p.doMaintenance() // cadence snapshot at v1
    val s1 = p.getStore(1, None); put(s1, "a", 2); s1.commit()
    p.doMaintenance() // cadence snapshot at v2
    val s2 = p.getStore(2, None); remove(s2, "b"); put(s2, "c", 3); s2.commit()
    val s3 = p.getStore(3, None); put(s3, "d", 4); s3.commit()
    (dir, p)
  }

  test("replayStateFromSnapshot rebuilds endVersion from the named snapshot") {
    val (_, p) = buildFixture()
    try {
      assert(snapshotFiles(p.stateStoreId.checkpointRootLocation).sorted === Seq(1L, 2L))
      // from the v2 snapshot through deltas 3,4 — sees the remove and late puts
      val s24 = p.replayReadStateFromSnapshot(2, 4)
      try assert(readAll(s24) === Map("a" -> 2, "c" -> 3, "d" -> 4))
      finally s24.release()
      // snapshot-only read: state exactly as of v2
      val s22 = p.replayReadStateFromSnapshot(2, 2)
      try assert(readAll(s22) === Map("a" -> 2, "b" -> 1))
      finally s22.release()
      // longest chain: v1 snapshot + deltas 2,3,4
      val s14 = p.replayReadStateFromSnapshot(1, 4)
      try assert(readAll(s14) === Map("a" -> 2, "c" -> 3, "d" -> 4))
      finally s14.release()
    } finally p.close()
  }

  test("replay from a version with no snapshot is a typed error, not a substitute") {
    val (_, p) = buildFixture()
    try {
      val e = intercept[IllegalStateException](p.replayReadStateFromSnapshot(3, 4))
      assert(e.getMessage.contains("must name an existing snapshot"))
    } finally p.close()
  }

  test("change feed replays the exact put/remove sequence with batch ids") {
    val (_, p) = buildFixture()
    try {
      val it = p.getStateStoreChangeDataReader(1, 4, None, None)
      val got = it.map { case (typ, k, v, batchId) =>
        (typ.toString, keyStr(k), Option(v).map(valueInt), batchId)
      }.toVector
      // enum value names here; the user-facing "update"/"delete" strings are
      // asserted in the end-to-end data source test below
      assert(got === Vector(
        ("put_record", "a", Some(1), 0L),
        ("put_record", "b", Some(1), 0L),
        ("put_record", "a", Some(2), 1L),
        ("delete_record", "b", None, 2L),
        ("put_record", "c", Some(3), 2L),
        ("put_record", "d", Some(4), 3L)))
      // a sub-range re-reads cleanly (files are immutable)
      val it2 = p.getStateStoreChangeDataReader(3, 3, None, None)
      assert(it2.map(_._4).toVector === Vector(2L, 2L))
    } finally p.close()
  }

  test("change feed: internal column families rejected; named families filter") {
    val (_, p) = buildFixture()
    try {
      // internal bookkeeping families (TTL deadlines, meta counters) are
      // never user state
      val e = intercept[UnsupportedOperationException](
        p.getStateStoreChangeDataReader(1, 2,
          Some(RocksDbStateStoreProvider.MetaCf), None))
      assert(e.getMessage.contains("internal"))
      // named user families are served by filtering the changelog; a family
      // with no records in range yields an empty feed (the public reader
      // validates stateVarName against operator metadata upstream, so an
      // unknown name cannot reach this layer through the data source)
      val it = p.getStateStoreChangeDataReader(1, 2, Some("absent_cf"), None)
      assert(it.isEmpty)
    } finally p.close()
  }

  test("replayStateFromSnapshot under v2 carries the replayed commit as its lineage") {
    val dir = newCheckpointDir()
    val conf = storeConf(extra = Map(
      "spark.sql.streaming.stateStore.checkpointFormatVersion" -> "2",
      SQLConf.STATE_STORE_MIN_DELTAS_FOR_SNAPSHOT.key -> "1"))
    val p = newProvider(dir, conf)
    try {
      val s0 = p.getStore(0, None); put(s0, "a", 1); s0.commit()
      p.doMaintenance() // cadence snapshot at v1 (no commit-path v1 snapshot)
      val id1 = s0.getStateStoreCheckpointInfo().stateStoreCkptId
      val s1 = p.getStore(1, id1); put(s1, "b", 2); s1.commit()
      val id2 = s1.getStateStoreCheckpointInfo().stateStoreCkptId
      // writable replay of commit (2, id2) from the v1 chain-base snapshot
      val r = p.replayStateFromSnapshot(1, 2, readOnly = false, None, None)
      // the store's lineage must be the commit the replay materialized —
      // None here would orphan every commit built on top of a replay
      assert(r.getStateStoreCheckpointInfo().baseStateStoreCkptId === id2)
      put(r, "c", 3)
      r.commit()
      val id3 = r.getStateStoreCheckpointInfo().stateStoreCkptId
      // a FRESH provider recovers the replay-based commit by walking the
      // delta lineage headers back through (2, id2) to the v1 snapshot —
      // which only resolves if the replayed store wrote id2 as its lineage
      val pr = newProvider(dir, conf)
      try {
        val s = pr.getStore(3, id3)
        assert(readAll(s) === Map("a" -> 1, "b" -> 2, "c" -> 3))
        s.abort()
      } finally pr.close()
    } finally p.close()
  }

  test("change feed validates the persisted key schema against the init-time codecs") {
    val (dir, p) = buildFixture()
    p.close()
    // a provider init'ed with a DIFFERENT key layout must get a typed error
    // when the stored `ks:` schema record streams by — not garbage-decoded
    // rows (the stored layout is authoritative for the bytes on disk)
    val longKeys = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.LongType, nullable = true)))
    val bad = newProvider(dir, kSchema = longKeys)
    try {
      val it = bad.getStateStoreChangeDataReader(1, 4, None, None)
      val e = intercept[Exception](it.toVector)
      assert(e.getMessage.toLowerCase.contains("schema"),
        s"expected a key-schema incompatibility error, got: ${e.getMessage}")
    } finally bad.close()
  }

  test("change feed over a multi-valued (ListState) store flattens list elements") {
    val dir = newCheckpointDir()
    val p = newProvider(dir, useMultipleValuesPerKey = true)
    try {
      val cf = RocksDbStateStoreProvider.DefaultCf
      val s0 = p.getStore(0, None)
      s0.putList(keyRow("a"), Array(valueRow(1), valueRow(2)), cf)
      s0.commit()
      val s1 = p.getStore(1, None)
      // merge rewrites the full blob, so batch 1 re-emits the whole list —
      // the feed at batch B is the complete list contents after B's update
      s1.merge(keyRow("a"), valueRow(3), cf)
      s1.putList(keyRow("b"), Array(valueRow(9)), cf)
      s1.commit()
      val s2 = p.getStore(2, None)
      s2.remove(keyRow("a"), cf)
      s2.commit()
      val got = p.getStateStoreChangeDataReader(1, 3, None, None).map { case (t, k, v, b) =>
        (t.toString, keyStr(k), Option(v).map(valueInt), b)
      }.toVector
      assert(got === Vector(
        ("put_record", "a", Some(1), 0L),
        ("put_record", "a", Some(2), 0L),
        ("put_record", "a", Some(1), 1L),
        ("put_record", "a", Some(2), 1L),
        ("put_record", "a", Some(3), 1L),
        ("put_record", "b", Some(9), 1L),
        ("delete_record", "a", None, 2L)))
    } finally p.close()
  }

  test("changelog-disabled checkpoints: snapshot-only replay works, ranges and CDC are typed errors") {
    val dir = newCheckpointDir()
    val conf = storeConf(extra = Map(RocksDbConf.CHANGELOG -> "false"))
    val p = newProvider(dir, conf)
    try {
      val s0 = p.getStore(0, None); put(s0, "a", 1); s0.commit()
      val s1 = p.getStore(1, None); put(s1, "b", 2); s1.commit()
      // every commit is a full snapshot: exact-version replay works
      val s = p.replayReadStateFromSnapshot(2, 2)
      try assert(readAll(s) === Map("a" -> 1, "b" -> 2))
      finally s.release()
      // but there are no deltas to bridge versions
      val e1 = intercept[IllegalStateException](p.replayReadStateFromSnapshot(1, 2))
      assert(e1.getMessage.contains("changelog"))
      val e2 = intercept[UnsupportedOperationException](
        p.getStateStoreChangeDataReader(1, 2, None, None))
      assert(e2.getMessage.contains("changelog"))
    } finally p.close()
  }

  // ------------------------------------------------------------------
  // End-to-end through the statestore data source
  // ------------------------------------------------------------------

  /** 3-batch streaming count per key; returns the checkpoint dir.
    * Batches: [a,a,b] [b,c] [a,c,c] → finals a=3, b=2, c=3. */
  private def runAggQuery(): String = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val ckptDir = graft.Staging.tempDir("graft-fgr-ckpt-").toString
    val q = input.toDF().toDF("k")
      .groupBy($"k").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("fgr_sink")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckptDir)
      .start()
    try {
      input.addData("a", "a", "b"); q.processAllAvailable()
      input.addData("b", "c"); q.processAllAvailable()
      input.addData("a", "c", "c"); q.processAllAvailable()
    } finally q.stop()
    ckptDir
  }

  test("statestore source: snapshotStartBatchId time-travel equals the direct read") {
    val ckptDir = runAggQuery()
    val direct = spark.read.format("statestore").load(ckptDir)
      .selectExpr("key.k AS k", "value.count AS n")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(direct === Map("a" -> 3L, "b" -> 2L, "c" -> 3L))
    // snapshotStartBatchId must name an EXISTING full snapshot, and since
    // round 16 the commit path takes none (a young chain replays from the
    // empty base; cadence snapshots ride maintenance) — so produce one the
    // way an operator would: StateCompact squashes the chain into a full
    // snapshot per store at the last committed version (3 = batchId 2).
    // Snapshot+delta replay is covered by the direct-provider tests above.
    val compacted = graft.Staging.tempDir("graft-fgr-compact-").toString
    StateCompact.run(spark, ckptDir, compacted, force = true)
    // snapshot reads are per-partition, so union all shuffle partitions
    val byPartition = (0 until 2).map { pid =>
      spark.read.format("statestore")
        .option("snapshotStartBatchId", 2)
        .option("snapshotPartitionId", pid)
        .option("batchId", 2)
        .load(compacted)
        .selectExpr("key.k AS k", "value.count AS n")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(byPartition.reduce(_ ++ _) === direct)
    assert(byPartition.forall(_.nonEmpty), "both partitions should hold some keys")
  }

  test("statestore source: joinSide reads a stream-stream join's buffered sides") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(Int, String)]
    val right = MemoryStream[(Int, String)]
    val ckptDir = graft.Staging.tempDir("graft-join-ckpt-").toString
    val joined = left.toDF().toDF("k", "lv")
      .join(right.toDF().toDF("k", "rv"), "k")
    val q = joined.writeStream.format("memory").queryName("fgr_join_sink")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckptDir)
      .start()
    try {
      left.addData((1, "a"), (2, "b")); q.processAllAvailable()
      right.addData((2, "x")); q.processAllAvailable()
    } finally q.stop()
    // each side's buffered input rows come back through the join-side reader
    val ls = spark.read.format("statestore").option("joinSide", "left").load(ckptDir)
    assert(ls.select($"value.lv").as[String].collect().toSet === Set("a", "b"))
    val rs = spark.read.format("statestore").option("joinSide", "right").load(ckptDir)
    assert(rs.select($"value.rv").as[String].collect().toSet === Set("x"))
  }

  test("statestore source: readChangeFeed over a named transformWithState variable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val ckptDir = graft.Staging.tempDir("graft-tws-ckpt-").toString
    val q = input.toDS()
      .groupByKey(_._1)
      .transformWithState(new FgrCountProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      .toDF("k", "n")
      .writeStream.format("memory").queryName("fgr_tws_sink")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", ckptDir)
      .start()
    try {
      input.addData((1L, 1L), (2L, 1L)); q.processAllAvailable()
      input.addData((1L, 1L)); q.processAllAvailable()
    } finally q.stop()
    // the reader inits the provider with THIS variable's schemas, so the
    // change feed decodes the named family's records
    val feed = spark.read.format("statestore")
      .option("stateVarName", "cnt")
      .option("readChangeFeed", true)
      .option("changeStartBatchId", 0)
      .load(ckptDir)
    val rows = feed.collect().map { r =>
      (r.getAs[Long]("batch_id"), r.getAs[String]("change_type"),
        r.getStruct(r.fieldIndex("key")).getLong(0),
        r.getStruct(r.fieldIndex("value")).getLong(0))
    }.toSet
    assert(rows === Set(
      (0L, "update", 1L, 1L),
      (0L, "update", 2L, 1L),
      (1L, "update", 1L, 2L)))
  }

  test("statestore source: readChangeFeed over a transformWithState ListState variable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val ckptDir = graft.Staging.tempDir("graft-tws-list-ckpt-").toString
    val q = input.toDS()
      .groupByKey(_._1)
      .transformWithState(new FgrListProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      .toDF("k", "n")
      .writeStream.format("memory").queryName("fgr_tws_list_sink")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", ckptDir)
      .start()
    try {
      input.addData((1L, 10L), (1L, 20L)); q.processAllAvailable()
      input.addData((1L, 30L)); q.processAllAvailable()
    } finally q.stop()
    val feed = spark.read.format("statestore")
      .option("stateVarName", "vals")
      .option("readChangeFeed", true)
      .option("changeStartBatchId", 0)
      .load(ckptDir)
    val rows = feed.collect().map { r =>
      (r.getAs[Long]("batch_id"), r.getAs[String]("change_type"),
        r.getStruct(r.fieldIndex("key")).getLong(0),
        r.getStruct(r.fieldIndex("list_element")).getLong(0))
    }.toVector
    // each appendValue rewrites the full blob, so batch B's rows for a key
    // are the complete list contents after each update within B:
    // batch 0 appends 10 then 20 → [10], [10,20]; batch 1 appends 30 →
    // [10,20,30]. Values must decode EXACTLY (a 2-byte schema-id prefix
    // slip shows up here as value<<16).
    assert(rows === Vector(
      (0L, "update", 1L, 10L),
      (0L, "update", 1L, 10L),
      (0L, "update", 1L, 20L),
      (1L, "update", 1L, 10L),
      (1L, "update", 1L, 20L),
      (1L, "update", 1L, 30L)))
  }

  test("statestore source: joinSide combined with readChangeFeed is a typed upstream rejection") {
    // CDC over a stream-stream join's buffered sides is refused by the data
    // source's own option validation (conflicting options), so the provider
    // SPI can never receive that shape — the join-side CDC gap is
    // correct-by-refusal at the source layer, pinned here so an upstream
    // behavior change surfaces as a test failure instead of a silent new
    // code path.
    val ckptDir = runAggQuery()
    val e = intercept[Exception] {
      spark.read.format("statestore")
        .option("joinSide", "left")
        .option("readChangeFeed", true)
        .option("changeStartBatchId", 0)
        .load(ckptDir)
    }
    val msg = e.getMessage.toLowerCase
    assert(msg.contains("conflict") || msg.contains("cannot") || msg.contains("not support"),
      s"expected a typed option-conflict rejection, got: ${e.getMessage}")
  }

  test("statestore source: readChangeFeed emits per-batch running updates") {
    val ckptDir = runAggQuery()
    val feed = spark.read.format("statestore")
      .option("readChangeFeed", true)
      .option("changeStartBatchId", 0)
      .load(ckptDir)
      .selectExpr("batch_id", "change_type", "key.k AS k", "value.count AS n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(feed === Set(
      (0L, "update", "a", 2L),
      (0L, "update", "b", 1L),
      (1L, "update", "b", 2L),
      (1L, "update", "c", 1L),
      (2L, "update", "a", 3L),
      (2L, "update", "c", 3L)))
  }
}
