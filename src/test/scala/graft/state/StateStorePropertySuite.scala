package graft.state

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.state.{ReadStateStore, StateStore, StateStoreConf}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import StateStoreTestHelper._

/** Property tests: the store must behave exactly like a `Map[String, Int]`
  * under arbitrary operation sequences, including across commit boundaries
  * and provider restarts (durability), in both checkpointing modes. The
  * reference had no property tests (SURVEY §5). ScalaCheck generators with
  * fixed seeds (the scalatest-scalacheck bridge is not on the offline
  * resolver, so sampling is driven manually and deterministically).
  */
class StateStorePropertySuite extends AnyFunSuite {

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  sealed trait Op
  case class Put(k: String, v: Int) extends Op
  case class Remove(k: String) extends Op
  case object CommitBatch extends Op

  private val keyGen = Gen.oneOf((1 to 12).map(i => s"k$i"))
  private val opGen: Gen[Op] = Gen.frequency(
    6 -> (for { k <- keyGen; v <- Gen.choose(0, 1000) } yield Put(k, v)),
    2 -> keyGen.map(Remove(_)),
    1 -> Gen.const(CommitBatch))

  private def runOps(ops: List[Op], changelog: Boolean): Unit = {
    val ckpt = newCheckpointDir()
    val conf = storeConf(Map(RocksDbConf.CHANGELOG -> changelog.toString))
    val provider = newProvider(ckpt, conf = conf)
    val model = scala.collection.mutable.Map.empty[String, Int]
    var version = 0L
    var store = provider.getStore(version, None)
    try {
      ops.foreach {
        case Put(k, v) =>
          store.put(keyRow(k), valueRow(v), org.apache.spark.sql.execution.streaming.state.StateStore.DEFAULT_COL_FAMILY_NAME)
          model(k) = v
        case Remove(k) =>
          remove(store, k)
          model.remove(k)
        case CommitBatch =>
          version = store.commit()
          assert(readAll(store) === model.toMap) // post-commit reads stay valid
          assert(store.metrics.numKeys === model.size)
          store = provider.getStore(version, None)
      }
      // point lookups and full scan agree with the model
      (1 to 12).foreach { i =>
        assert(get(store, s"k$i") === model.get(s"k$i"))
      }
      assert(readAll(store) === model.toMap)
      version = store.commit()
      assert(store.metrics.numKeys === model.size)
    } finally provider.close()

    // durability: a fresh provider recovers the final state from durable files
    assert(getData(ckpt, version, conf = conf) === model.toMap)
    assert(recoveredNumKeys(ckpt, version, conf) === model.size)
  }

  /** The key count a fresh provider recovers for `version`. */
  private def recoveredNumKeys(ckpt: String, version: Long, conf: StateStoreConf): Long = {
    val provider = newProvider(ckpt, conf = conf)
    try {
      val store = provider.getStore(version, None)
      try store.metrics.numKeys finally store.abort()
    } finally provider.close()
  }

  test("store == model Map under arbitrary op sequences (changelog mode)") {
    samples(Gen.listOfN(60, opGen), 15).foreach(ops => runOps(ops, changelog = true))
  }

  test("store == model Map under arbitrary op sequences (full-snapshot mode)") {
    samples(Gen.listOfN(40, opGen), 8).foreach(ops => runOps(ops, changelog = false))
  }

  // ------------------- multi-valued (ListState-backed) stores -------------------
  // The round-9 decodeAll defect (frames decoded without the schema-id
  // prefix) lived exactly in this op family; the model here would have
  // caught any framing slip: putList REPLACES, merge/mergeList APPEND,
  // element order is insertion order.

  sealed trait MOp
  case class PutListOp(k: String, vs: List[Int]) extends MOp
  case class MergeOp(k: String, v: Int) extends MOp
  case class MergeListOp(k: String, vs: List[Int]) extends MOp
  case class MRemoveOp(k: String) extends MOp
  case object MCommitBatch extends MOp

  private val mOpGen: Gen[MOp] = Gen.frequency(
    3 -> (for { k <- keyGen; n <- Gen.choose(1, 4); vs <- Gen.listOfN(n, Gen.choose(0, 1000)) } yield PutListOp(k, vs)),
    4 -> (for { k <- keyGen; v <- Gen.choose(0, 1000) } yield MergeOp(k, v)),
    2 -> (for { k <- keyGen; n <- Gen.choose(1, 3); vs <- Gen.listOfN(n, Gen.choose(0, 1000)) } yield MergeListOp(k, vs)),
    2 -> keyGen.map(MRemoveOp(_)),
    1 -> Gen.const(MCommitBatch))

  private def runMultiOps(ops: List[MOp]): Unit = {
    val cf = org.apache.spark.sql.execution.streaming.state.StateStore.DEFAULT_COL_FAMILY_NAME
    val ckpt = newCheckpointDir()
    val conf = storeConf()
    val provider = newProvider(ckpt, conf = conf, useMultipleValuesPerKey = true)
    val model = scala.collection.mutable.Map.empty[String, Vector[Int]]
    def readLists(store: org.apache.spark.sql.execution.streaming.state.ReadStateStore): Map[String, Vector[Int]] =
      (1 to 12).flatMap { i =>
        val k = s"k$i"
        val vs = store.valuesIterator(keyRow(k), cf).map(valueInt).toVector
        if (vs.nonEmpty) Some(k -> vs) else None
      }.toMap
    var version = 0L
    var store = provider.getStore(version, None)
    try {
      ops.foreach {
        case PutListOp(k, vs) =>
          store.putList(keyRow(k), vs.map(valueRow).toArray, cf)
          model(k) = vs.toVector
        case MergeOp(k, v) =>
          store.merge(keyRow(k), valueRow(v), cf)
          model(k) = model.getOrElse(k, Vector.empty) :+ v
        case MergeListOp(k, vs) =>
          store.mergeList(keyRow(k), vs.map(valueRow).toArray, cf)
          model(k) = model.getOrElse(k, Vector.empty) ++ vs
        case MRemoveOp(k) =>
          remove(store, k)
          model.remove(k)
        case MCommitBatch =>
          version = store.commit()
          assert(readLists(store) === model.toMap) // post-commit reads stay valid
          assert(store.metrics.numKeys === model.size)
          store = provider.getStore(version, None)
      }
      assert(readLists(store) === model.toMap)
      // the single-row iterator view surfaces each key's FIRST element
      val it = store.iterator(cf)
      try it.foreach { p =>
        assert(model(keyStr(p.key)).head === valueInt(p.value))
      } finally it.close()
      version = store.commit()
      assert(store.metrics.numKeys === model.size)
    } finally provider.close()

    // durability: a fresh provider recovers every list from durable files
    val p2 = newProvider(ckpt, conf = conf, useMultipleValuesPerKey = true)
    try {
      val s2 = p2.getStore(version, None)
      try {
        assert(readLists(s2) === model.toMap)
        assert(s2.metrics.numKeys === model.size)
      } finally s2.abort()
    } finally p2.close()
  }

  test("multi-valued store == model Map[String, Vector[Int]] under arbitrary op sequences") {
    samples(Gen.listOfN(50, mOpGen), 10).foreach(runMultiOps)
  }

  // ------------------- store lifecycle state machine -------------------
  // Every SPI lifecycle step in random order against one provider, with a
  // model of each version's content and of every live store's pending
  // writes. After each step: each live store equals its model, every open
  // RocksDB handle is a live (Updating) store's or the one open registry
  // owner's, and no open store's dir has been moved or deleted. A commit
  // from an older version (a retried batch) forks the chain: the model drops
  // the versions above it. v1 names a version's files by number, so a store
  // commits only while its base is still the model's content at its version,
  // and a fork only while no full snapshot of the old chain sits above its
  // base (a later load of the new chain would read it).

  sealed trait Step
  case class Load(write: Boolean, older: Boolean, pick: Int) extends Step
  case class Write(pick: Int, k: String, v: Option[Int]) extends Step
  case class Commit(pick: Int) extends Step
  case class Abort(pick: Int) extends Step
  case class Release(pick: Int) extends Step
  case class Upgrade(pick: Int, sameVersion: Boolean) extends Step
  case object Maintain extends Step
  case object Restart extends Step
  case class Tick(secs: Int) extends Step

  private val pickGen = Gen.choose(0, 1000)
  private val stepGen: Gen[Step] = Gen.frequency(
    4 -> (for { w <- Gen.oneOf(true, false); o <- Gen.prob(0.3); p <- pickGen } yield Load(w, o, p)),
    8 -> (for { p <- pickGen; k <- keyGen; v <- Gen.option(Gen.choose(0, 1000)) } yield Write(p, k, v)),
    3 -> pickGen.map(Commit(_)),
    1 -> pickGen.map(Abort(_)),
    2 -> pickGen.map(Release(_)),
    1 -> (for { p <- pickGen; same <- Gen.oneOf(true, false) } yield Upgrade(p, same)),
    1 -> Gen.const(Maintain),
    1 -> Gen.const(Restart),
    1 -> Gen.choose(1, 4).map(Tick(_)))

  private def runLifecycle(steps: List[Step], ttlSecs: Int): Unit = withFakeClock { clock =>
    val ckpt = newCheckpointDir()
    val conf = storeConf(Map(
      RocksDbConf.STATE_EXPIRY_SECS -> ttlSecs.toString,
      RocksDbConf.STRICT_EXPIRE -> "true",
      org.apache.spark.sql.internal.SQLConf.STATE_STORE_MIN_DELTAS_FOR_SNAPSHOT.key -> "2"))
    type Content = Map[String, (Int, Long)] // key -> (value, last write time)
    def visible(c: Content): Map[String, Int] = c.collect {
      case (k, (v, t)) if ttlSecs <= 0 || clock.now - t <= ttlSecs * 1000L => k -> v
    }
    case class Live(store: ReadStateStore, write: Boolean, version: Long, base: Content, content: Content)

    var provider = newProvider(ckpt, conf = conf)
    val versions = scala.collection.mutable.Map(0L -> Map.empty[String, (Int, Long)])
    var head = 0L
    var live = Vector.empty[Live]
    def openHandles: Long = provider.dbOpens.get() - provider.dbCloses.get()
    // a version the durable files still hold: a full snapshot at or below
    // it, or the empty base, with every delta above that base
    def durable(v: Long): Boolean = {
      val snaps = snapshotFiles(ckpt).toSet
      val deltas = deltaFiles(ckpt).toSet
      (0L +: snaps.filter(_ <= v).toSeq).exists(s => (s + 1 to v.toInt).forall(d => deltas(d.toLong)))
    }
    def pickFrom(xs: Vector[Live], p: Int): Option[Live] = if (xs.isEmpty) None else Some(xs(p % xs.size))
    def drop(l: Live): Unit = live = live.filterNot(_ eq l)

    def check(step: Step): Unit = {
      live.foreach { l =>
        assert(readAll(l.store) === visible(l.content), s"$step: store at version ${l.version}")
      }
      val open = provider.openStores.asScala.toSeq
      val owners = provider.localSnapshots.values().asScala.flatMap(_.owner).toSeq
      val finishedOpen = open.filterNot(s => live.exists(_.store eq s))
      assert(openHandles === open.size, s"$step: a handle is open outside the provider's stores")
      assert(live.forall(l => open.exists(_ eq l.store)), s"$step: a live store lost its handle")
      assert(finishedOpen.size <= 1 && finishedOpen.forall(s => owners.exists(_ eq s)),
        s"$step: a handle is held by a finished store other than the one open registry owner")
      open.foreach(s => assert(s.dir.isDirectory, s"$step: open store's dir ${s.dir} is gone"))
    }

    try {
      steps.foreach { step =>
        val writes = live.filter(_.write)
        val reads = live.filterNot(_.write)
        step match {
          case Load(write, older, p) if live.size < 3 =>
            val candidates = if (older) (0L until head).filter(durable) else Seq(head)
            if (candidates.nonEmpty) {
              val v = candidates(p % candidates.size)
              val s = if (write) provider.getStore(v, None) else provider.getReadStore(v, None)
              live :+= Live(s, write, v, versions(v), versions(v))
            }
          case Write(p, k, v) =>
            pickFrom(writes, p).foreach { l =>
              val s = l.store.asInstanceOf[StateStore]
              val next = v match {
                case Some(x) => put(s, k, x); l.content + (k -> (x, clock.now))
                case None => remove(s, k); l.content - k
              }
              live = live.map(x => if (x eq l) x.copy(content = next) else x)
            }
          case Commit(p) =>
            val committable = writes.filter(l => versions.get(l.version).contains(l.base) &&
              (l.version == head || snapshotFiles(ckpt).forall(_ <= l.version)))
            pickFrom(committable, p).foreach { l =>
              head = l.version + 1
              assert(l.store.asInstanceOf[StateStore].commit() === head)
              versions.filterInPlace((v, _) => v < head)
              versions(head) = l.content
              drop(l)
              assert(readAll(l.store) === visible(l.content), "post-commit reads stay valid")
            }
          case Abort(p) => pickFrom(live, p).foreach { l => l.store.abort(); drop(l) }
          case Release(p) => pickFrom(reads, p).foreach { l => l.store.release(); drop(l) }
          case Upgrade(p, same) =>
            pickFrom(reads, p).foreach { l =>
              val v = if (same || !durable(head)) l.version else head
              val s = provider.upgradeReadStoreToWriteStore(l.store, v, None)
              drop(l)
              live :+= (if (v == l.version) l.copy(store = s, write = true)
                else Live(s, write = true, v, versions(v), versions(v)))
            }
          case Maintain => provider.doMaintenance()
          case Restart =>
            provider.close()
            assert(openHandles === 0, "provider close leaves no handle open")
            live = Vector.empty
            provider = newProvider(ckpt, conf = conf)
          case Tick(secs) => clock.advanceSecs(secs)
          case _ =>
        }
        check(step)
      }
    } finally provider.close()
    assert(openHandles === 0, "provider close leaves no handle open")
    // durability: a fresh provider recovers the newest version
    val fresh = newProvider(ckpt, conf = conf)
    try {
      val s = fresh.getStore(head, None)
      try assert(readAll(s) === visible(versions(head))) finally s.abort()
    } finally fresh.close()
  }

  test("store lifecycle state machine: model state, one owner per open handle, live dirs") {
    samples(Gen.listOfN(80, stepGen), 16).foreach(runLifecycle(_, ttlSecs = -1))
  }

  test("store lifecycle state machine under strict TTL with a fake clock") {
    samples(Gen.listOfN(80, stepGen), 10).foreach(runLifecycle(_, ttlSecs = 5))
  }

  test("range codec is order-preserving for arbitrary longs") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("a", LongType, nullable = false)))
    val codec = new RangeScanKeyCodec(schema, Seq(0))
    val proj = UnsafeProjection.create(Array[DataType](LongType))
    def enc(v: Long) = codec.encode(proj(InternalRow(v)).copy())
    def cmp(x: Array[Byte], y: Array[Byte]): Int = {
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    }
    val longGen = Gen.oneOf(
      Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.oneOf(0L, 1L, -1L, Long.MinValue, Long.MaxValue, 1000L, -1000L))
    samples(Gen.zip(longGen, longGen), 300).foreach { case (a, b) =>
      assert(Integer.signum(cmp(enc(a), enc(b))) === Integer.signum(java.lang.Long.compare(a, b)))
    }
  }
}
