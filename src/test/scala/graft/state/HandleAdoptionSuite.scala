package graft.state

import org.scalatest.funsuite.AnyFunSuite

import StateStoreTestHelper._

/** The micro-batch hot path's RocksDB handle adoption (round 17): when the
  * previous batch's finished store already holds exactly the requested
  * version, the successor store adopts the open native handle instead of
  * close + dir-move + reopen. These tests pin (a) that the steady sequence
  * physically opens RocksDB once, (b) that adopted state is exact across
  * writes, deletes, reads and durable readback, and (c) that every
  * non-adoptable path (abort, version skip, fresh provider) still works.
  */
class HandleAdoptionSuite extends AnyFunSuite {

  test("steady commit chain adopts the handle: one physical open, exact state") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    try {
      var expected = Map.empty[String, Int]
      (0 until 5).foreach { v =>
        val store = provider.getStore(v, None)
        put(store, s"k$v", v)
        expected += (s"k$v" -> v)
        if (v >= 2) remove(store, s"k${v - 2}")
        if (v >= 2) expected -= s"k${v - 2}"
        assert(store.commit() === v + 1)
        assert(readAll(store) === expected, s"post-commit read at version ${v + 1}")
      }
      // batch 0 opened physically; batches 1..4 adopted the same handle
      assert(provider.dbOpens.get() === 1,
        s"expected exactly one physical RocksDB open across 5 chained batches, " +
          s"got ${provider.dbOpens.get()}")
      // durable truth through a brand-new provider (no adoption possible)
      assert(getData(ckpt, 5) === expected)
    } finally provider.close()
  }

  test("registration renders and parses each schema once per provider") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    try {
      (0 until 6).foreach { v =>
        val store = provider.getStore(v, None)
        put(store, s"k$v", v)
        store.commit()
      }
      // six stores registered the default family; versions 1..5 found its
      // persisted key schema. One entry each, not one per store.
      assert(provider.schemaJsons.keySet === Set(keySchema))
      assert(provider.parsedSchemas.size === 1)
      assert(provider.cfRegJsons.size === 1)
      assert(getData(ckpt, 6) === (0 until 6).map(v => s"k$v" -> v).toMap)
    } finally provider.close()
  }

  test("read-store load of the just-committed version adopts too") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    try {
      val s0 = provider.getStore(0, None)
      put(s0, "a", 1)
      s0.commit()
      val r1 = provider.getReadStore(1, None)
      assert(get(r1, "a") === Some(1))
      r1.release()
      // released read store re-registers its dir; the next write store at
      // the same version adopts again
      val s1 = provider.getStore(1, None)
      put(s1, "b", 2)
      assert(s1.commit() === 2)
      assert(provider.dbOpens.get() === 1)
      assert(getData(ckpt, 2) === Map("a" -> 1, "b" -> 2))
    } finally provider.close()
  }

  test("abort breaks the chain: next load recovers from durable files") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    try {
      val s0 = provider.getStore(0, None)
      put(s0, "a", 1)
      s0.commit()
      val s1 = provider.getStore(1, None) // adopts
      put(s1, "junk", 99)
      s1.abort() // closes the adopted handle, deletes the dir
      val s1b = provider.getStore(1, None) // must replay from changelog
      assert(readAll(s1b) === Map("a" -> 1))
      put(s1b, "b", 2)
      s1b.commit()
      assert(getData(ckpt, 2) === Map("a" -> 1, "b" -> 2))
      assert(provider.dbOpens.get() >= 2, "post-abort load must physically reopen")
    } finally provider.close()
  }

  test("version skip (reload of an older version) does not adopt") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    try {
      val s0 = provider.getStore(0, None)
      put(s0, "a", 1)
      s0.commit()
      val s1 = provider.getStore(1, None)
      put(s1, "b", 2)
      s1.commit()
      // re-load version 1 (retry semantics): the registry's open owner holds
      // version 2, so adoption must not fire; the store must see exactly
      // version 1
      val retry = provider.getStore(1, None)
      assert(readAll(retry) === Map("a" -> 1))
      put(retry, "c", 3)
      retry.commit()
      assert(getData(ckpt, 2) === Map("a" -> 1, "c" -> 3))
    } finally provider.close()
  }

  test("adoption carries column families and per-CF counts") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt, useColumnFamilies = true)
    try {
      val s0 = provider.getStore(0, None)
      s0.createColFamilyIfAbsent("aux", keySchema, valueSchema,
        org.apache.spark.sql.execution.streaming.state.NoPrefixKeyStateEncoderSpec(keySchema),
        useMultipleValuesPerKey = false, isInternal = false)
      s0.put(keyRow("x"), valueRow(7), "aux")
      put(s0, "a", 1)
      s0.commit()
      val s1 = provider.getStore(1, None) // adopted handle must expose "aux"
      assert(Option(s1.get(keyRow("x"), "aux")).map(valueInt) === Some(7))
      s1.put(keyRow("y"), valueRow(8), "aux")
      s1.commit()
      assert(provider.dbOpens.get() === 1)
      val s2 = provider.getReadStore(2, None)
      val it = s2.iterator("aux")
      val aux = try it.map(p => keyStr(p.key) -> valueInt(p.value)).toMap finally it.close()
      assert(aux === Map("x" -> 7, "y" -> 8))
      s2.release()
    } finally provider.close()
  }

  test("a read store displaced by a later load closes its handle on release") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    def openHandles: Long = provider.dbOpens.get() - provider.dbCloses.get()
    try {
      val s0 = provider.getStore(0, None)
      put(s0, "a", 1)
      s0.commit()
      val s1 = provider.getStore(1, None)
      put(s1, "b", 2)
      s1.commit()
      val read1 = provider.getReadStore(1, None)
      assert(readAll(read1) === Map("a" -> 1))
      // s2 adopts s1's handle while read1 is still in use; s2 will publish
      // the next version, so read1's handle is not worth keeping open
      val s2 = provider.getStore(2, None)
      assert(openHandles === 2)
      read1.release()
      assert(openHandles === 1, "only s2 is live; the released read store must be closed")
      put(s2, "c", 3)
      s2.commit()
      // read1's registered dir moves and reopens without a second live handle
      val again = provider.getStore(1, None)
      assert(readAll(again) === Map("a" -> 1))
      again.abort()
      assert(openHandles === 0)
    } finally provider.close()
    assert(provider.dbOpens.get() === provider.dbCloses.get())
  }

  test("a write store displaced while Updating is adopted, never moved while open") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    def openHandles: Long = provider.dbOpens.get() - provider.dbCloses.get()
    try {
      val s0 = provider.getStore(0, None)
      put(s0, "a", 1)
      s0.commit()
      val w1 = provider.getStore(1, None) // adopts s0's handle
      val x = provider.getStore(1, None) // a second load of version 1 while w1 is Updating
      put(w1, "b", 2)
      assert(w1.commit() === 2)
      x.abort()
      // version 2's dir is w1's: the load takes it over with w1's handle;
      // it must not be moved and reopened while w1 still holds it
      val s2 = provider.getStore(2, None)
      assert(openHandles === 1, "only s2 may hold a handle over version 2's files")
      assert(readAll(s2) === Map("a" -> 1, "b" -> 2))
      val e = intercept[IllegalStateException](get(w1, "a"))
      assert(e.getMessage.contains("already closed"))
      put(s2, "c", 3)
      s2.commit()
    } finally provider.close()
    assert(openHandles === 0, "provider close must leave no RocksDB handle open")
    assert(getData(ckpt, 3) === Map("a" -> 1, "b" -> 2, "c" -> 3))
  }

  test("clean (write-free) commits chain through adoption") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    try {
      val s0 = provider.getStore(0, None)
      put(s0, "a", 1)
      s0.commit()
      (1 until 4).foreach { v =>
        val s = provider.getStore(v, None)
        assert(get(s, "a") === Some(1))
        assert(s.commit() === v + 1) // no writes: the delta is empty
      }
      assert(provider.dbOpens.get() === 1)
      assert(getData(ckpt, 4) === Map("a" -> 1))
    } finally provider.close()
  }
}
