package graft.state

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import StateStoreTestHelper._

/** The JVM-wide RocksDB memory budget ([[SharedRocksMemory]]): N concurrent
  * provider instances writing more state than the budget must stay under the
  * combined (block cache + charged memtables) ceiling, with flushes — not
  * stalls — absorbing the pressure, and every store must still read back
  * exactly what it committed. Also pins the one-pool-per-JVM contract and
  * the round-7 regression: a join-shaped fleet of 32+ instances under a
  * small budget must make progress (allowStall=true deadlocked it).
  */
class SharedRocksMemorySuite extends AnyFunSuite with BeforeAndAfterAll {

  private val BudgetMb = 32L

  private def boundedConf = storeConf(extra = Map(
    RocksDbConf.TOTAL_MEMORY_MB -> BudgetMb.toString,
    // small per-instance buffers so memtables rotate naturally in-test
    RocksDbConf.WRITE_BUFFER_SIZE_MB -> "4"))

  // Each test pins its OWN pool: without the reset, whichever earlier suite
  // ran a streaming gate pinned the JVM budget at 512 MB and the 32 MB
  // squeeze below silently asserted against the wrong ceiling.
  override protected def afterAll(): Unit = SharedRocksMemory.resetForTest()

  test("unbounded default (0) creates no pool") {
    assert(SharedRocksMemory.forBudget(0).isEmpty)
    assert(SharedRocksMemory.forBudget(-1).isEmpty)
  }

  test("the pool's WriteBufferManager is flush-don't-stall (allowStall=false)") {
    // The fleet test below passes on buffer-capping alone, so it cannot by
    // itself catch stall mode being re-enabled (round-8 regression: the flag
    // flipped back to true while doc and suite still claimed false). Pin the
    // flag directly: with allowStall=true a 512 MB gate budget × 128-instance
    // join fleet can wedge every writer in the JVM on flushes that never run.
    SharedRocksMemory.resetForTest()
    val pool = SharedRocksMemory.forBudget(BudgetMb).get
    assert(!pool.writeBufferManager.allowStall(),
      "shared WriteBufferManager must be created with allowStall=false " +
        "(flush-don't-stall) — stall mode deadlocks many-instance executors")
  }

  test("N concurrent providers stay under the shared budget and read back exactly") {
    SharedRocksMemory.resetForTest()
    val nProviders = 3
    val keysPer = 40000
    // ~230 B per key row x 40k x 3 ≈ 28 MB of raw key bytes alone — with
    // RocksDB overheads the UNshared worst case is well past 32 MB, so a
    // budget violation is observable, not vacuous.
    val pad = "x" * 200
    val dirs = Seq.fill(nProviders)(newCheckpointDir())
    val providers = dirs.map(d => newProvider(d, boundedConf))
    try {
      val pool = SharedRocksMemory.forBudget(BudgetMb)
      assert(pool.isDefined)
      val budgetBytes = pool.get.budgetBytes
      assert(budgetBytes === BudgetMb * 1024 * 1024, "squeeze must run at ITS budget")
      val stores = providers.map(_.getStore(0, None))
      var j = 0
      while (j < keysPer) {
        stores.foreach { st =>
          put(st, s"k$j-$pad", j)
          // The combined ceiling holds THROUGHOUT the write storm, not just
          // at the end: sample every few thousand puts. 25% slack covers
          // LRU shard rounding and non-strict insertion overshoot.
          if (j % 5000 == 0) {
            val usage = SharedRocksMemory.usageBytes
            assert(usage <= budgetBytes * 5 / 4,
              s"shared pool over budget mid-write: $usage of $budgetBytes")
          }
        }
        j += 1
      }
      assert(SharedRocksMemory.usageBytes > 0, "writes were never charged to the pool")
      stores.foreach(_.commit())
    } finally providers.foreach(_.close())

    // Correctness under memory pressure: each checkpoint read back through a
    // FRESH provider (durability, not caches) holds exactly its own keys.
    dirs.zipWithIndex.foreach { case (d, i) =>
      val data = getData(d, 1, boundedConf)
      assert(data.size === keysPer, s"provider $i lost rows under the budget")
      assert(data(s"k7-$pad") === 7 && data(s"k${keysPer - 1}-$pad") === keysPer - 1)
    }
  }

  test("a 32-instance fleet under a tight budget makes progress (round-7 stall regression)") {
    SharedRocksMemory.resetForTest()
    // The shape that deadlocked round 7: a watermarked 4-store join at 8
    // partitions = 32 provider instances open at once, whose memtable
    // ARENAS alone crossed the write-buffer-manager share. With
    // allowStall=true this wedges forever (writers wait for flushes of
    // idle stores' memtables that never run); with flush-don't-stall plus
    // budget-aware buffer sizing it completes in seconds. Bounded wait so
    // a regression fails loudly instead of hanging the suite.
    val nProviders = 32
    val keysPer = 2000
    val pad = "y" * 200
    val tight = storeConf(extra = Map(
      RocksDbConf.TOTAL_MEMORY_MB -> "16",
      // deliberately LARGE per-instance request: the provider must downsize
      // it to fit the fleet (16 MB/32 = 1 MB floor), else arenas alone
      // (32 × writeBufferSize/8) blow the 8 MB manager share instantly
      RocksDbConf.WRITE_BUFFER_SIZE_MB -> "64"))
    val dirs = Seq.fill(nProviders)(newCheckpointDir())
    val providers = dirs.map(d => newProvider(d, tight))
    val done = new java.util.concurrent.CountDownLatch(nProviders)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      val stores = providers.map(_.getStore(0, None))
      val threads = stores.zipWithIndex.map { case (st, i) =>
        val t = new Thread(() => {
          try {
            var j = 0
            while (j < keysPer) { put(st, s"p$i-k$j-$pad", j); j += 1 }
            st.commit()
          } catch { case e: Throwable => failures.add(e) }
          finally done.countDown()
        }, s"graft-stall-regression-$i")
        t.setDaemon(true) // a wedged writer must not block JVM exit
        t.start()
        t
      }
      assert(done.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "fleet write storm did not finish in 120 s — write-stall deadlock is back")
      assert(failures.isEmpty, s"writer failed: ${Option(failures.peek()).map(_.toString)}")
      threads.foreach(_.join(5000))
    } finally providers.foreach(_.close())

    // exactness survived the squeeze: spot-check a third of the fleet
    dirs.zipWithIndex.filter(_._2 % 3 == 0).foreach { case (d, i) =>
      val data = getData(d, 1, tight)
      assert(data.size === keysPer, s"provider $i lost rows under the tight budget")
      assert(data(s"p$i-k0-$pad") === 0 && data(s"p$i-k${keysPer - 1}-$pad") === keysPer - 1)
    }
  }

  test("a real streaming query under the budget computes exactly and charges the pool") {
    SharedRocksMemory.resetForTest()
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .appName("graft-shared-memory-streaming")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.streaming.stateStore.providerClass",
        classOf[RocksDbStateStoreProvider].getName)
      .config(RocksDbConf.TOTAL_MEMORY_MB, BudgetMb.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
      val q = input.toDF().toDF("k")
        .groupBy($"k").agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .writeStream.format("memory").queryName("shared_mem_sink")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
        .option("checkpointLocation",
          graft.Staging.tempDir("graft-sm-ckpt-").toString)
        .start()
      try {
        input.addData("a", "a", "b"); q.processAllAvailable()
        input.addData("b", "c"); q.processAllAvailable()
        val got = spark.table("shared_mem_sink")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got === Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
      } finally q.stop()
      // the engine-created providers really attached to the shared pool
      assert(SharedRocksMemory.usageBytes > 0,
        "streaming state was never charged to the shared pool")
    } finally spark.stop()
  }

  test("one pool per JVM: a differing later budget reuses the first") {
    val first = SharedRocksMemory.forBudget(BudgetMb).get
    val second = SharedRocksMemory.forBudget(BudgetMb * 8).get
    assert(second eq first, "budget must be fixed by the first provider")
  }
}
