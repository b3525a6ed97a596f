package graft.state

import java.io.{File, FileOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.streaming.state._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import StateStoreTestHelper._

/** Provider lifecycle conformance, the graft equivalent of the reference's
  * `RocksDbStateStoreProviderSuite.scala:41-192`: snapshotting, retention
  * cleanup, corrupted-snapshot fallback, metrics, plus the Spark-4-only
  * surface (prefix scan, range scan, column families, multi-value) the
  * reference never had.
  */
class RocksDbStateStoreSuite extends AnyFunSuite {

  test("put, get, remove, iterate within one version") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    try {
      val store = provider.getStore(0, None)
      assert(get(store, "a").isEmpty)
      put(store, "a", 1)
      put(store, "b", 2)
      put(store, "a", 3) // overwrite
      assert(get(store, "a").contains(3))
      assert(get(store, "b").contains(2))
      remove(store, "b")
      assert(get(store, "b").isEmpty)
      assert(readAll(store) === Map("a" -> 3))
      assert(store.metrics.numKeys === 1)
      assert(store.commit() === 1)
      assert(store.hasCommitted)
    } finally provider.close()
  }

  test("committed state is durable across provider instances") {
    val ckpt = newCheckpointDir()
    val p1 = newProvider(ckpt)
    try {
      val s0 = p1.getStore(0, None)
      put(s0, "a", 1)
      s0.commit()
      val s1 = p1.getStore(1, None)
      assert(get(s1, "a").contains(1))
      put(s1, "a", 2)
      put(s1, "b", 20)
      s1.commit()
    } finally p1.close()
    // brand-new provider (simulates executor restart): must read from FS
    assert(getData(ckpt, 1) === Map("a" -> 1))
    assert(getData(ckpt, 2) === Map("a" -> 2, "b" -> 20))
  }

  /** Reference full-snapshot-per-commit mode (changelog off). */
  private val referenceMode = storeConf(Map(RocksDbConf.CHANGELOG -> "false"))

  test("snapshotting and maintenance cleanup respect retention") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt, conf = referenceMode) // minBatchesToRetain = 3
    try {
      (0 until 10).foreach { v =>
        val store = provider.getStore(v, None)
        put(store, "a", v)
        assert(store.commit() === v + 1)
      }
      assert(snapshotFiles(ckpt).sorted === (1L to 10L))
      provider.doMaintenance()
      assert(snapshotFiles(ckpt).sorted === (8L to 10L))
      // retained versions all still readable
      (8 to 10).foreach { v =>
        assert(getData(ckpt, v, conf = referenceMode) === Map("a" -> (v - 1)))
      }
    } finally provider.close()
  }

  test("corrupted snapshot falls back to older version, then empty") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt, conf = referenceMode)
    try {
      (0 until 3).foreach { v =>
        val store = provider.getStore(v, None)
        put(store, "a", v)
        store.commit()
      }
    } finally provider.close()

    // corrupt version 3's snapshot: garbage bytes
    val snap3 = new File(new File(new File(ckpt), "0"), "0/state.snapshot.3")
    val out = new FileOutputStream(snap3)
    out.write(Array.fill[Byte](64)(0x7f)); out.close()
    assert(getData(ckpt, 3, conf = referenceMode) === Map("a" -> 1)) // fell back to version 2

    // corrupt everything: empty store
    Seq(1, 2).foreach { v =>
      val f = new File(new File(new File(ckpt), "0"), s"0/state.snapshot.$v")
      val o = new FileOutputStream(f); o.write(Array.fill[Byte](64)(0x11)); o.close()
    }
    assert(getData(ckpt, 3, conf = referenceMode) === Map.empty)
  }

  test("changelog mode: delta per commit, periodic full snapshots, chain recovery") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt) // changelog on (default)
    try {
      (0 until 12).foreach { v =>
        val store = provider.getStore(v, None)
        put(store, "a", v)
        put(store, s"k$v", v * 10)
        if (v == 5) remove(store, "k3")
        assert(store.commit() === v + 1)
      }
    } finally provider.close()

    // every commit published a delta; the commit path takes NO snapshot at
    // all (round 16: the chain replays from the empty base, cadence
    // snapshots run on the maintenance thread)
    assert(deltaFiles(ckpt).sorted === (1L to 12L))
    assert(snapshotFiles(ckpt).isEmpty)

    // recovery through a fresh provider = newest base + delta replay
    val expected = (0 until 12).map(v => s"k$v" -> v * 10).toMap - "k3" + ("a" -> 11)
    assert(getData(ckpt, 12) === expected)
    // an intermediate version recovers from base 1 + deltas 2..9
    assert(getData(ckpt, 9) ===
      ((0 until 9).map(v => s"k$v" -> v * 10).toMap - "k3" + ("a" -> 8)))
  }

  test("changelog mode: numKeys metadata survives chain recovery") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    try {
      val s0 = provider.getStore(0, None)
      (1 to 50).foreach(i => put(s0, s"k$i", i))
      s0.commit()
      val s1 = provider.getStore(1, None)
      remove(s1, "k1"); remove(s1, "k2")
      s1.commit()
    } finally provider.close()
    val p2 = newProvider(ckpt)
    try {
      val reloaded = p2.getStore(2, None) // base snapshot 1 + delta 2
      assert(reloaded.metrics.numKeys === 48)
      reloaded.abort()
    } finally p2.close()
  }

  test("changelog mode: corrupted delta falls back to an older recoverable version") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    try {
      (0 until 3).foreach { v =>
        val store = provider.getStore(v, None)
        put(store, "a", v)
        store.commit()
      }
    } finally provider.close()

    val delta3 = new File(new File(new File(ckpt), "0"), "0/state.delta.3")
    val out = new FileOutputStream(delta3)
    out.write(Array.fill[Byte](64)(0x7f)); out.close()
    // chain to 3 broken -> falls back to version 2 (base 1 + delta 2)
    assert(getData(ckpt, 3) === Map("a" -> 1))
  }

  test("changelog mode: maintenance cleanup keeps the replay chain intact") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt) // minBatchesToRetain = 3
    try {
      (0 until 12).foreach { v =>
        val store = provider.getStore(v, None)
        put(store, "a", v)
        store.commit()
      }
      provider.doMaintenance()
      // maintenance took a cadence snapshot from the open committed store
      // (12 - 0 >= minDeltasForSnapshot); with no commit-path v1 snapshot
      // (round 16) there is no base <= cutoff(10), so cleanup drops nothing
      // and the whole chain stays
      assert(snapshotFiles(ckpt).sorted === Seq(12L))
      assert(deltaFiles(ckpt).sorted === (1L to 12L))
      // retained versions remain recoverable through a fresh provider
      (10 to 12).foreach { v => assert(getData(ckpt, v) === Map("a" -> (v - 1))) }

      // next batches push the cutoff past the new snapshot: the old base and
      // its deltas are reclaimed, and the chain stays recoverable
      (12 until 15).foreach { v =>
        val store = provider.getStore(v, None)
        put(store, "a", v)
        store.commit()
      }
      provider.doMaintenance()
      assert(snapshotFiles(ckpt).sorted.headOption === Some(12L))
      assert(deltaFiles(ckpt).sorted === (13L to 15L))
      (13 to 15).foreach { v => assert(getData(ckpt, v) === Map("a" -> (v - 1))) }
    } finally provider.close()
  }

  test("abort discards uncommitted changes and does not publish") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    try {
      val s0 = provider.getStore(0, None)
      put(s0, "a", 1)
      s0.commit()
      val s1 = provider.getStore(1, None)
      put(s1, "a", 999)
      s1.abort()
      assert(!s1.hasCommitted)
      // no commit-path snapshot (round 16): version 1 is durable as delta 1
      assert(snapshotFiles(ckpt).isEmpty)
      assert(deltaFiles(ckpt).sorted === Seq(1L))
      // reload version 1 (local dir was consumed then discarded -> replay
      // of delta 1 from the empty base)
      assert(getData(ckpt, 1) === Map("a" -> 1))
      intercept[IllegalStateException] { put(s1, "b", 2) }
    } finally provider.close()
  }

  test("metrics reports exact key count and growing memory") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    try {
      val store = provider.getStore(0, None)
      val m0 = store.metrics
      assert(m0.numKeys === 0)
      (1 to 100).foreach(i => put(store, s"k$i", i))
      remove(store, "k100")
      val m1 = store.metrics
      assert(m1.numKeys === 99)
      assert(m1.memoryUsedBytes > 0)
      store.commit()
      // count survives reload through a fresh provider
      val p2 = newProvider(ckpt)
      try {
        val reloaded = p2.getStore(1, None)
        assert(reloaded.metrics.numKeys === 99)
        reloaded.abort()
      } finally p2.close()
    } finally provider.close()
  }

  test("read store: getReadStore, release parks the dir for reuse, upgrade path") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    try {
      val s0 = provider.getStore(0, None)
      put(s0, "a", 1)
      s0.commit()

      val read = provider.getReadStore(1, None)
      assert(get(read, "a").contains(1))
      intercept[IllegalStateException] { put(read.asInstanceOf[StateStore], "x", 1) }
      read.release()

      // released dir must be reusable as version 1
      val s1 = provider.getStore(1, None)
      assert(get(s1, "a").contains(1))
      put(s1, "b", 2)
      s1.commit()

      val read2 = provider.getReadStore(2, None)
      val write2 = provider.upgradeReadStoreToWriteStore(read2, 2, None)
      put(write2, "c", 3)
      assert(write2.commit() === 3)
      assert(getData(ckpt, 3) === Map("a" -> 1, "b" -> 2, "c" -> 3))
    } finally provider.close()
  }

  test("prefix scan returns exactly the keys under the prefix") {
    val ckpt = newCheckpointDir()
    val kSchema = StructType(Seq(
      StructField("session", StringType), StructField("seq", IntegerType)))
    val proj = UnsafeProjection.create(Array[DataType](StringType, IntegerType))
    def k(session: String, seq: Int): UnsafeRow =
      proj(InternalRow(UTF8String.fromString(session), seq)).copy()
    val prefixProj = UnsafeProjection.create(Array[DataType](StringType))
    def prefix(session: String): UnsafeRow =
      prefixProj(InternalRow(UTF8String.fromString(session))).copy()

    val provider = newProvider(ckpt, kSchema = kSchema,
      keySpec = PrefixKeyScanStateEncoderSpec(kSchema, 1))
    try {
      val store = provider.getStore(0, None)
      store.put(k("alpha", 1), valueRow(11), StateStore.DEFAULT_COL_FAMILY_NAME)
      store.put(k("alpha", 2), valueRow(12), StateStore.DEFAULT_COL_FAMILY_NAME)
      store.put(k("beta", 1), valueRow(21), StateStore.DEFAULT_COL_FAMILY_NAME)
      store.put(k("alphax", 9), valueRow(99), StateStore.DEFAULT_COL_FAMILY_NAME)

      val scanned = store.prefixScan(prefix("alpha"), StateStore.DEFAULT_COL_FAMILY_NAME)
        .map(p => (p.key.getUTF8String(0).toString, p.key.getInt(1), p.value.getInt(0))).toSet
      assert(scanned === Set(("alpha", 1, 11), ("alpha", 2, 12)))

      // full key decode round-trips through iterator too
      val all = store.iterator(StateStore.DEFAULT_COL_FAMILY_NAME)
        .map(p => (p.key.getUTF8String(0).toString, p.key.getInt(1))).toSet
      assert(all === Set(("alpha", 1), ("alpha", 2), ("beta", 1), ("alphax", 9)))
      store.commit()
    } finally provider.close()
  }

  test("range scan iterates in logical order of ordering columns") {
    val ckpt = newCheckpointDir()
    val kSchema = StructType(Seq(
      StructField("expiry", LongType, nullable = false), StructField("id", StringType)))
    val proj = UnsafeProjection.create(Array[DataType](LongType, StringType))
    def k(expiry: Long, id: String): UnsafeRow =
      proj(InternalRow(expiry, UTF8String.fromString(id))).copy()

    val provider = newProvider(ckpt, kSchema = kSchema,
      keySpec = RangeKeyScanStateEncoderSpec(kSchema, Seq(0)))
    try {
      val store = provider.getStore(0, None)
      Seq(500L -> "e", -3L -> "a", 0L -> "b", 42L -> "c", Long.MaxValue -> "f", 43L -> "d")
        .foreach { case (exp, id) =>
          store.put(k(exp, id), valueRow(1), StateStore.DEFAULT_COL_FAMILY_NAME)
        }
      val order = store.iterator(StateStore.DEFAULT_COL_FAMILY_NAME)
        .map(p => p.key.getLong(0)).toSeq
      assert(order === Seq(-3L, 0L, 42L, 43L, 500L, Long.MaxValue))
      store.commit()
    } finally provider.close()
  }

  test("column families: isolation, multi-value merge, removal") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt, useColumnFamilies = true)
    try {
      val store = provider.getStore(0, None)
      store.createColFamilyIfAbsent("listState", keySchema, valueSchema,
        NoPrefixKeyStateEncoderSpec(keySchema), useMultipleValuesPerKey = true, isInternal = false)
      put(store, "a", 1) // default CF
      store.merge(keyRow("a"), valueRow(10), "listState")
      store.merge(keyRow("a"), valueRow(11), "listState")
      store.putList(keyRow("b"), Array(valueRow(20), valueRow(21), valueRow(22)), "listState")

      assert(get(store, "a").contains(1))
      assert(store.valuesIterator(keyRow("a"), "listState").map(valueInt).toSeq === Seq(10, 11))
      assert(store.valuesIterator(keyRow("b"), "listState").map(valueInt).toSeq === Seq(20, 21, 22))
      assert(store.get(keyRow("a"), "listState").getInt(0) === 10) // first value
      store.commit()

      // durable across a fresh provider; CF re-created on the new store
      val p2 = newProvider(ckpt, useColumnFamilies = true)
      try {
        val s2 = p2.getStore(1, None)
        s2.createColFamilyIfAbsent("listState", keySchema, valueSchema,
          NoPrefixKeyStateEncoderSpec(keySchema), useMultipleValuesPerKey = true, isInternal = false)
        assert(s2.valuesIterator(keyRow("b"), "listState").map(valueInt).toSeq === Seq(20, 21, 22))
        assert(s2.removeColFamilyIfExists("listState"))
        assert(!s2.removeColFamilyIfExists("listState"))
        assert(get(s2, "a").contains(1)) // default CF untouched
        s2.abort()
      } finally p2.close()
    } finally provider.close()
  }

  test("a user column family named with a leading $ is rejected, as in Spark's provider") {
    val provider = newProvider(newCheckpointDir(), useColumnFamilies = true)
    try {
      val store = provider.getStore(0, None)
      intercept[StateStoreCannotCreateColumnFamilyWithReservedChars] {
        store.createColFamilyIfAbsent("$user", keySchema, valueSchema,
          NoPrefixKeyStateEncoderSpec(keySchema), useMultipleValuesPerKey = false, isInternal = false)
      }
      // the same name is fine for an internal family
      store.createColFamilyIfAbsent("$user", keySchema, valueSchema,
        NoPrefixKeyStateEncoderSpec(keySchema), useMultipleValuesPerKey = false, isInternal = true)
      store.put(keyRow("a"), valueRow(1), "$user")
      assert(store.get(keyRow("a"), "$user").getInt(0) === 1)
      store.abort()
    } finally provider.close()
  }

  test("under lazy TTL internal families never expire by compaction: create, replay, reopen") {
    // TtlDB stamps each row with the wall clock at write time and drops it
    // at compaction once older than the family's TTL; one second is the
    // smallest TTL, so rows written more than two seconds ago are expired
    // for any family opened with it.
    val conf = storeConf(Map(
      RocksDbConf.STATE_EXPIRY_SECS -> "1", RocksDbConf.STRICT_EXPIRE -> "false"))
    val internal = "$rowCounter_x"
    def compactedRows(o: RocksDbStateStoreProvider#OpenDb, cf: String): Int = {
      o.db.compactRange(o.handles(cf))
      val it = o.db.newIterator(o.handles(cf))
      try {
        it.seekToFirst()
        var n = 0
        while (it.isValid) { n += 1; it.next() }
        n
      } finally it.close()
    }
    def closeDb(o: RocksDbStateStoreProvider#OpenDb): Unit = {
      o.handles.values.foreach(_.close())
      o.db.close()
    }
    val ckpt = newCheckpointDir()

    // created by this session
    val p1 = newProvider(ckpt, conf = conf, useColumnFamilies = true)
    try {
      assert(p1.compactionTtlFor(internal) === 0)
      assert(p1.compactionTtlFor("user") === 1)
      assert(p1.compactionTtlFor(StateStore.DEFAULT_COL_FAMILY_NAME) === 1)
      val s = p1.getStore(0, None).asInstanceOf[p1.RocksDbStateStore]
      Seq(internal -> true, "user" -> false).foreach { case (cf, isInternal) =>
        s.createColFamilyIfAbsent(cf, keySchema, valueSchema,
          NoPrefixKeyStateEncoderSpec(keySchema), useMultipleValuesPerKey = false, isInternal)
        s.put(keyRow("a"), valueRow(1), cf)
      }
      s.commit()
      val o = s.detachDb().get
      try {
        Thread.sleep(2200)
        assert(compactedRows(o, internal) === 1)
        assert(compactedRows(o, "user") === 0)
      } finally closeDb(o)
    } finally p1.close()

    // replayed from the delta by a fresh provider, then reopened
    val p2 = newProvider(ckpt, conf = conf, useColumnFamilies = true)
    try {
      val s = p2.getStore(1, None).asInstanceOf[p2.RocksDbStateStore]
      val o = s.detachDb().get
      try {
        Thread.sleep(2200)
        assert(compactedRows(o, internal) === 1)
        assert(compactedRows(o, "user") === 0)
      } finally closeDb(o)
    } finally p2.close()
  }

  test("getStore rejects negative versions and commit is idempotent-guarded") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    try {
      intercept[IllegalArgumentException] { provider.getStore(-1, None) }
      val store = provider.getStore(0, None)
      put(store, "a", 1)
      store.commit()
      intercept[IllegalStateException] { store.commit() }
      intercept[IllegalStateException] { put(store, "b", 2) }
    } finally provider.close()
  }

  test("stateSchemaProvider: rows written under an old value schema read null-padded") {
    val ckpt = newCheckpointDir()
    val schemaV0 = valueSchema // (value: Int)
    val schemaV1 = StructType(valueSchema.fields :+ StructField("extra", StringType, nullable = true))

    // the engine's schema provider, faked: id 0 = v0, id 1 = v1
    class FakeSchemaProvider(current: Short) extends StateSchemaProvider {
      override def getSchemaMetadataValue(key: StateSchemaMetadataKey): StateSchemaMetadataValue =
        StateSchemaMetadataValue(if (key.schemaId == 0) schemaV0 else schemaV1, null)
      override def getCurrentStateSchemaId(colFamilyName: String, isKey: Boolean): Short = current
    }

    // run 1: write under schema id 0
    val p1 = newProvider(ckpt, vSchema = schemaV0,
      stateSchemaProvider = Some(new FakeSchemaProvider(0)))
    try {
      val s = p1.getStore(0, None)
      put(s, "a", 1)
      s.commit()
    } finally p1.close()

    // restart with the value schema extended by a nullable field (id 1)
    val p2 = newProvider(ckpt, vSchema = schemaV1,
      stateSchemaProvider = Some(new FakeSchemaProvider(1)))
    try {
      val s = p2.getStore(1, None)
      val old = s.get(keyRow("a"), StateStore.DEFAULT_COL_FAMILY_NAME)
      assert(old.getInt(0) === 1)
      assert(old.isNullAt(1)) // the added field null-pads for pre-evolution rows
      // new-schema writes coexist with old rows
      val proj = UnsafeProjection.create(Array[DataType](IntegerType, StringType))
      s.put(keyRow("b"), proj(InternalRow(2, UTF8String.fromString("x"))).copy(),
        StateStore.DEFAULT_COL_FAMILY_NAME)
      s.commit()
      val b = s.get(keyRow("b"), StateStore.DEFAULT_COL_FAMILY_NAME)
      assert(b.getInt(0) === 2 && b.getUTF8String(1).toString === "x")
    } finally p2.close()

    // durable: a third provider still reads both generations correctly
    val p3 = newProvider(ckpt, vSchema = schemaV1,
      stateSchemaProvider = Some(new FakeSchemaProvider(1)))
    try {
      val s = p3.getStore(2, None)
      assert(s.get(keyRow("a"), StateStore.DEFAULT_COL_FAMILY_NAME).isNullAt(1))
      assert(s.get(keyRow("b"), StateStore.DEFAULT_COL_FAMILY_NAME).getUTF8String(1).toString === "x")
      s.abort()
    } finally p3.close()
  }

  test("value-schema evolution resolves fields by NAME: reorder + widen + remove + add") {
    val ckpt = newCheckpointDir()
    // v0: (a Int, b String, d Int); v1: (b String, a Long, c Long)
    // — one evolution exercising all four Avro-resolution directions the
    // built-in provider supports under Avro encoding: d removed, b/a
    // reordered, a widened Int→Long, c added (reads null). A positional
    // projection would mis-assign every field here.
    val schemaV0 = StructType(Seq(
      StructField("a", IntegerType), StructField("b", StringType), StructField("d", IntegerType)))
    val schemaV1 = StructType(Seq(
      StructField("b", StringType), StructField("a", LongType), StructField("c", LongType)))
    class FakeSchemaProvider(current: Short) extends StateSchemaProvider {
      override def getSchemaMetadataValue(key: StateSchemaMetadataKey): StateSchemaMetadataValue =
        StateSchemaMetadataValue(if (key.schemaId == 0) schemaV0 else schemaV1, null)
      override def getCurrentStateSchemaId(colFamilyName: String, isKey: Boolean): Short = current
    }
    val p1 = newProvider(ckpt, vSchema = schemaV0,
      stateSchemaProvider = Some(new FakeSchemaProvider(0)))
    try {
      val s = p1.getStore(0, None)
      val proj = UnsafeProjection.create(Array[DataType](IntegerType, StringType, IntegerType))
      s.put(keyRow("a"), proj(InternalRow(7, UTF8String.fromString("x"), 99)).copy(),
        StateStore.DEFAULT_COL_FAMILY_NAME)
      s.commit()
    } finally p1.close()
    val p2 = newProvider(ckpt, vSchema = schemaV1,
      stateSchemaProvider = Some(new FakeSchemaProvider(1)))
    try {
      val s = p2.getStore(1, None)
      val old = s.get(keyRow("a"), StateStore.DEFAULT_COL_FAMILY_NAME)
      assert(old.getUTF8String(0).toString === "x", "b follows its name across the reorder")
      assert(old.getLong(1) === 7L, "a follows its name and widens Int -> Long")
      assert(old.isNullAt(2), "c (added) null-pads")
      // a RENAME is indistinguishable from remove+add under name resolution:
      // the renamed field reads null, exactly as Avro without aliases — this
      // pin is the documented SCALE.md contract, not an accident
      assert(old.isNullAt(2) && !schemaV1.fieldNames.contains("d"),
        "d (removed/renamed away) contributes nothing to the projected row")
      s.abort()
    } finally p2.close()
  }

  test("value-schema evolution REFUSES narrowing: Long -> Int is a typed error, not a wrap") {
    val ckpt = newCheckpointDir()
    // v0: (a Long); v1: (a Int). Cast.canCast says yes (and would wrap
    // 2^32+5 to 5 silently); Avro resolution says no — recovered state
    // must never decode to in-range garbage.
    val schemaV0 = StructType(Seq(StructField("a", LongType)))
    val schemaV1 = StructType(Seq(StructField("a", IntegerType)))
    class FakeSchemaProvider(current: Short) extends StateSchemaProvider {
      override def getSchemaMetadataValue(key: StateSchemaMetadataKey): StateSchemaMetadataValue =
        StateSchemaMetadataValue(if (key.schemaId == 0) schemaV0 else schemaV1, null)
      override def getCurrentStateSchemaId(colFamilyName: String, isKey: Boolean): Short = current
    }
    val p1 = newProvider(ckpt, vSchema = schemaV0,
      stateSchemaProvider = Some(new FakeSchemaProvider(0)))
    try {
      val s = p1.getStore(0, None)
      val proj = UnsafeProjection.create(Array[DataType](LongType))
      s.put(keyRow("a"), proj(InternalRow((1L << 32) + 5L)).copy(),
        StateStore.DEFAULT_COL_FAMILY_NAME)
      s.commit()
    } finally p1.close()
    val p2 = newProvider(ckpt, vSchema = schemaV1,
      stateSchemaProvider = Some(new FakeSchemaProvider(1)))
    try {
      val s = p2.getStore(1, None)
      val e = intercept[UnsupportedOperationException] {
        s.get(keyRow("a"), StateStore.DEFAULT_COL_FAMILY_NAME)
      }
      assert(e.getMessage.contains("bigint") && e.getMessage.contains("int"),
        s"the refusal names both types: ${e.getMessage}")
      s.abort()
    } finally p2.close()
  }

  test("value-schema evolution REFUSES narrowing array-element nullability") {
    val ckpt = newCheckpointDir()
    // v0: (xs array<long> nullable elems); v1: (xs array<long> non-null
    // elems) — stored null elements under a non-null target must refuse
    // like any narrowing, not slip past into an unresolvable Cast
    val schemaV0 = StructType(Seq(StructField("xs", ArrayType(LongType, containsNull = true))))
    val schemaV1 = StructType(Seq(StructField("xs", ArrayType(LongType, containsNull = false))))
    class FakeSchemaProvider(current: Short) extends StateSchemaProvider {
      override def getSchemaMetadataValue(key: StateSchemaMetadataKey): StateSchemaMetadataValue =
        StateSchemaMetadataValue(if (key.schemaId == 0) schemaV0 else schemaV1, null)
      override def getCurrentStateSchemaId(colFamilyName: String, isKey: Boolean): Short = current
    }
    val p1 = newProvider(ckpt, vSchema = schemaV0,
      stateSchemaProvider = Some(new FakeSchemaProvider(0)))
    try {
      val s = p1.getStore(0, None)
      val proj = UnsafeProjection.create(Array[DataType](ArrayType(LongType, containsNull = true)))
      s.put(keyRow("a"),
        proj(InternalRow(new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array[Any](1L, null, 3L)))).copy(),
        StateStore.DEFAULT_COL_FAMILY_NAME)
      s.commit()
    } finally p1.close()
    val p2 = newProvider(ckpt, vSchema = schemaV1,
      stateSchemaProvider = Some(new FakeSchemaProvider(1)))
    try {
      val s = p2.getStore(1, None)
      intercept[UnsupportedOperationException] {
        s.get(keyRow("a"), StateStore.DEFAULT_COL_FAMILY_NAME)
      }
      s.abort()
    } finally p2.close()
  }

  test("value-schema evolution recurses through NESTED structs (the TTL wrapper shape)") {
    val ckpt = newCheckpointDir()
    // the engine nests user state classes: a TTL'd value row is
    // (value: <user struct>, ttlExpirationMs) — the evolving struct is a
    // FIELD. v0 inner: (cnt Long); v1 inner: (cnt Long, extra Long).
    val innerV0 = StructType(Seq(StructField("cnt", LongType)))
    val innerV1 = StructType(Seq(StructField("cnt", LongType), StructField("extra", LongType)))
    val schemaV0 = StructType(Seq(
      StructField("value", innerV0), StructField("ttlExpirationMs", LongType)))
    val schemaV1 = StructType(Seq(
      StructField("value", innerV1), StructField("ttlExpirationMs", LongType)))
    class FakeSchemaProvider(current: Short) extends StateSchemaProvider {
      override def getSchemaMetadataValue(key: StateSchemaMetadataKey): StateSchemaMetadataValue =
        StateSchemaMetadataValue(if (key.schemaId == 0) schemaV0 else schemaV1, null)
      override def getCurrentStateSchemaId(colFamilyName: String, isKey: Boolean): Short = current
    }
    val p1 = newProvider(ckpt, vSchema = schemaV0,
      stateSchemaProvider = Some(new FakeSchemaProvider(0)))
    try {
      val s = p1.getStore(0, None)
      val proj = UnsafeProjection.create(schemaV0)
      s.put(keyRow("a"),
        proj(InternalRow(InternalRow(7L), 1234L)).copy(), StateStore.DEFAULT_COL_FAMILY_NAME)
      s.put(keyRow("n"),
        proj(InternalRow(null, 99L)).copy(), StateStore.DEFAULT_COL_FAMILY_NAME)
      s.commit()
    } finally p1.close()
    val p2 = newProvider(ckpt, vSchema = schemaV1,
      stateSchemaProvider = Some(new FakeSchemaProvider(1)))
    try {
      val s = p2.getStore(1, None)
      val a = s.get(keyRow("a"), StateStore.DEFAULT_COL_FAMILY_NAME)
      val inner = a.getStruct(0, 2)
      assert(inner.getLong(0) === 7L, "nested cnt decodes intact")
      assert(inner.isNullAt(1), "nested added field null-pads")
      assert(a.getLong(1) === 1234L, "sibling leaf field untouched")
      val n = s.get(keyRow("n"), StateStore.DEFAULT_COL_FAMILY_NAME)
      assert(n.isNullAt(0), "a NULL struct stays null, not a struct of nulls")
      assert(n.getLong(1) === 99L)
      s.abort()
    } finally p2.close()
  }

  test("latestIterator reads the newest committed version across restarts") {
    val ckpt = newCheckpointDir()
    assert(getLatestData(ckpt) === Map.empty) // no state yet
    val p = newProvider(ckpt)
    try {
      (0 until 3).foreach { v =>
        val s = p.getStore(v, None)
        put(s, "a", v)
        put(s, s"k$v", v)
        s.commit()
      }
    } finally p.close()
    assert(getLatestData(ckpt) === Map("a" -> 2, "k0" -> 0, "k1" -> 1, "k2" -> 2))
  }

  /** Checkpoint-format v2 (state store checkpoint IDs). */
  private val v2Mode = storeConf(Map(
    "spark.sql.streaming.stateStore.checkpointFormatVersion" -> "2"))

  test("checkpoint v2: commit IDs flow through checkpoint info and restart recovery") {
    assert(v2Mode.enableStateStoreCheckpointIds)
    val ckpt = newCheckpointDir()
    val p1 = newProvider(ckpt, conf = v2Mode)
    val (id1, id2) =
      try {
        val s1 = p1.getStore(0, None)
        put(s1, "a", 1)
        assert(s1.commit() === 1)
        val info1 = s1.getStateStoreCheckpointInfo()
        assert(info1.batchVersion === 1)
        assert(info1.stateStoreCkptId.isDefined)
        assert(info1.baseStateStoreCkptId.isEmpty)

        val s2 = p1.getStore(1, info1.stateStoreCkptId)
        put(s2, "b", 2)
        assert(s2.commit() === 2)
        val info2 = s2.getStateStoreCheckpointInfo()
        assert(info2.stateStoreCkptId.isDefined)
        assert(info2.baseStateStoreCkptId === info1.stateStoreCkptId)
        (info1.stateStoreCkptId, info2.stateStoreCkptId)
      } finally p1.close()

    // durable files are suffixed with the commit ID
    val partDir = new File(new File(new File(ckpt), "0"), "0")
    val names = Option(partDir.listFiles()).getOrElse(Array.empty[File]).map(_.getName)
    assert(names.exists(_ == s"state.delta.1_${id1.get}")) // empty-base chain, no v1 snapshot
    assert(names.exists(_ == s"state.delta.2_${id2.get}"))

    // executor restart: a fresh provider materializes the exact lineage
    val p2 = newProvider(ckpt, conf = v2Mode)
    try {
      val r = p2.getStore(2, id2)
      assert(readAll(r) === Map("a" -> 1, "b" -> 2))
      r.abort()
    } finally p2.close()
  }

  test("checkpoint v2: same-version sibling commits stay isolated by ID") {
    val ckpt = newCheckpointDir()
    // base: version 0 -> 1
    val p0 = newProvider(ckpt, conf = v2Mode)
    val baseId =
      try {
        val s = p0.getStore(0, None)
        put(s, "k", 1)
        s.commit()
        s.getStateStoreCheckpointInfo().stateStoreCkptId
      } finally p0.close()

    // two attempts commit version 2 over the same base (task retry /
    // speculative execution on different executors)
    def attempt(value: Int): Option[String] = {
      val p = newProvider(ckpt, conf = v2Mode)
      try {
        val s = p.getStore(1, baseId)
        put(s, "k", value)
        s.commit()
        s.getStateStoreCheckpointInfo().stateStoreCkptId
      } finally p.close()
    }
    val idA = attempt(100)
    val idB = attempt(200)
    assert(idA !== idB)

    // each lineage remains readable and carries its own content
    val pr = newProvider(ckpt, conf = v2Mode)
    try {
      val rA = pr.getStore(2, idA)
      assert(get(rA, "k").contains(100))
      rA.abort()
      val rB = pr.getStore(2, idB)
      assert(get(rB, "k").contains(200))
      rB.abort()
    } finally pr.close()
  }

  test("checkpoint v2 with changelog off: every commit is a self-contained ID'd snapshot") {
    val ckpt = newCheckpointDir()
    val conf = storeConf(Map(
      "spark.sql.streaming.stateStore.checkpointFormatVersion" -> "2",
      RocksDbConf.CHANGELOG -> "false"))
    val p = newProvider(ckpt, conf = conf)
    val ids =
      try {
        var base: Option[String] = None
        (0 until 3).map { v =>
          val s = p.getStore(v, base)
          put(s, "a", v)
          s.commit()
          base = s.getStateStoreCheckpointInfo().stateStoreCkptId
          base
        }
      } finally p.close()
    // each version readable through a fresh provider by its own ID
    val pr = newProvider(ckpt, conf = conf)
    try {
      (0 until 3).foreach { v =>
        val s = pr.getStore(v + 1, ids(v))
        assert(get(s, "a").contains(v))
        s.abort()
      }
    } finally pr.close()
  }

  test("checkpoint v2: maintenance cleanup keeps ID'd chains recoverable") {
    val ckpt = newCheckpointDir()
    val p = newProvider(ckpt, conf = v2Mode) // changelog on, retain 3
    val ids =
      try {
        var base: Option[String] = None
        val collected = (0 until 12).map { v =>
          val s = p.getStore(v, base)
          put(s, "a", v)
          s.commit()
          base = s.getStateStoreCheckpointInfo().stateStoreCkptId
          base
        }
        p.doMaintenance() // cadence snapshot + retention cleanup
        collected
      } finally p.close()
    // the newest retained versions recover exactly by ID after cleanup
    val pr = newProvider(ckpt, conf = v2Mode)
    try {
      (10 to 12).foreach { v =>
        val s = pr.getStore(v, ids(v - 1))
        assert(get(s, "a").contains(v - 1))
        s.abort()
      }
    } finally pr.close()
  }

  test("checkpoint v2: missing lineage fails loudly instead of substituting") {
    val ckpt = newCheckpointDir()
    val p = newProvider(ckpt, conf = v2Mode)
    try {
      val s = p.getStore(0, None)
      put(s, "a", 1)
      s.commit()
      intercept[IllegalStateException] {
        p.getStore(1, Some("00000000-0000-0000-0000-000000000000"))
      }
    } finally p.close()
  }

  test("provider close under an open iterator: typed error afterward, never a native crash") {
    // Round-8 postmortem: freeing the native DB while a reader could still
    // touch it corrupted the JVM heap (delayed SIGSEGV). The lifetime
    // contract force-closes leftover native iterators only after in-flight
    // readers drain, and every later use sees the closed flag BEFORE
    // touching a native handle.
    val ckpt = newCheckpointDir()
    val p = newProvider(ckpt)
    val s = p.getStore(0, None)
    (0 until 100).foreach(i => put(s, s"k$i", i))
    s.commit()
    val it = s.iterator(StateStore.DEFAULT_COL_FAMILY_NAME)
    assert(it.hasNext)
    it.next()
    p.close() // drains refs, force-closes the leftover native iterator
    val e = intercept[IllegalStateException](it.hasNext)
    assert(e.getMessage.contains("already closed"))
    // closing the consumer's handle after the force-close is a safe no-op
    it.close()
  }

  test("a changed key schema across restart is rejected with a typed error") {
    val ckpt = newCheckpointDir()
    val p1 = newProvider(ckpt)
    try {
      val s = p1.getStore(0, None)
      put(s, "a", 1)
      s.commit()
    } finally p1.close()

    // restart with an extra key column: layout change → typed rejection at
    // FIRST USE of the family, not a garbage decode (the throw defers past
    // load so statestore-source readers may init with a variable's schema
    // as the default without tripping a family they never touch)
    val widened = StructType(Seq(
      StructField("key", StringType, nullable = true),
      StructField("extra", LongType, nullable = true)))
    val p2 = newProvider(ckpt, kSchema = widened,
      keySpec = NoPrefixKeyStateEncoderSpec(widened))
    try {
      intercept[StateStoreKeySchemaNotCompatible] {
        p2.getStore(1, None).iterator(StateStore.DEFAULT_COL_FAMILY_NAME)
      }
    } finally p2.close()

    // restart with a same-type change: type change → typed rejection
    val retyped = StructType(Seq(StructField("key", LongType, nullable = true)))
    val p3 = newProvider(ckpt, kSchema = retyped,
      keySpec = NoPrefixKeyStateEncoderSpec(retyped))
    try {
      intercept[StateStoreKeySchemaNotCompatible] {
        p3.getStore(1, None).iterator(StateStore.DEFAULT_COL_FAMILY_NAME)
      }
    } finally p3.close()

    // a field rename / nullability flip does not change the UnsafeRow
    // layout and must still load
    val renamed = StructType(Seq(StructField("k2", StringType, nullable = false)))
    val p4 = newProvider(ckpt, kSchema = renamed,
      keySpec = NoPrefixKeyStateEncoderSpec(renamed))
    try {
      val s = p4.getStore(1, None)
      assert(get(s, "a").contains(1))
      s.abort()
    } finally p4.close()
  }
}
