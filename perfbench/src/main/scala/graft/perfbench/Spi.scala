package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.streaming.state._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.state.{RocksDbConf, RocksDbStateStoreProvider, SnapshotManager}

/** The two workloads that drive the `StateStoreProvider`/`StateStore` SPI
  * directly, single store, single thread, closed loop: a version is loaded,
  * its calls are made, it is committed, and only then is the next one
  * loaded.
  *
  * Every `get`, every `prefixScan` and, after recovery, the full `iterator`
  * of a fresh provider is compared against [[Model]], an in-memory map that
  * applies the documented strict-TTL rule on its own.
  */
object Spi {
  val Cf: String = StateStore.DEFAULT_COL_FAMILY_NAME
  /** Epoch of the injected TTL clock (any fixed instant works). */
  val ClockStartMs = 1700000000000L

  /** Provider under test: `graft` (the default), or Spark's built-ins for
    * the reference figures (TTL is graft-only, so they run with TTL off). */
  final case class Target(name: String) {
    def isGraft: Boolean = name == "graft"
    def className: String = name match {
      case "graft" => classOf[RocksDbStateStoreProvider].getName
      case "rocksdb" => "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case "hdfs" => "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      case other => throw new IllegalArgumentException(s"unknown provider '$other'")
    }
  }

  /** The shape of one SPI workload. A round is `roundVersions` loop
    * iterations; the timed chain runs whole rounds, so every run ends at
    * the same place in the maintenance cadence. */
  final case class Shape(
      keys: Int,              // key-space size (groups x items for lookup)
      itemsPerGroup: Int,     // 1 = flat Long keys, else (grp, item) composite keys
      payloadMin: Int,
      payloadMax: Int,
      preloadVersions: Int,
      preloadClockStepMs: Long,
      warmupRounds: Int,
      roundVersions: Int,
      maintenanceAt: Int,     // loop index within a round after which doMaintenance runs
      ttlSecs: Int,           // 0 = TTL off
      clockStepMs: Long,
      conf: Map[String, String])

  val IngestShape: Shape = Shape(
    keys = 40000, itemsPerGroup = 1, payloadMin = 64, payloadMax = 192,
    preloadVersions = 10, preloadClockStepMs = 2000, warmupRounds = 1,
    roundVersions = 20, maintenanceAt = 9, ttlSecs = 20, clockStepMs = 1000,
    conf = Map(
      SQLConf.STATE_STORE_MIN_DELTAS_FOR_SNAPSHOT.key -> "10",
      SQLConf.MIN_BATCHES_TO_RETAIN.key -> "40"))

  val LookupShape: Shape = Shape(
    keys = 45000, itemsPerGroup = 10, payloadMin = 700, payloadMax = 1100,
    preloadVersions = 3, preloadClockStepMs = 0, warmupRounds = 1,
    roundVersions = 16, maintenanceAt = 15, ttlSecs = 0, clockStepMs = 0,
    conf = Map(
      SQLConf.STATE_STORE_MIN_DELTAS_FOR_SNAPSHOT.key -> "12",
      SQLConf.MIN_BATCHES_TO_RETAIN.key -> "24"))

  /** Ingest: 1000 calls per version, 60% put / 30% get / 10% remove. */
  val IngestPuts = 600; val IngestGets = 300; val IngestRemoves = 100
  /** Lookup: per version 1200 gets (15% on keys that never exist), 80
    * prefix scans of one group each, 10 overwrites. Reads take about two
    * thirds of a version; with a quarter as many, the commit's fixed flush
    * took half of it. */
  val LookupGets = 1200; val LookupMissShare = 0.15; val LookupScans = 80; val LookupPuts = 10

  /** Set-ups per run; the first carries the JVM's warm-up, and the median
    * of four is the mean of the middle two. */
  val SetupReps = 4
  val RecoveryLoads = 5

  /** Independent reference: key -> (seq, last touch), with strict TTL: a key
    * is visible iff `now - lastTouch <= ttl`; a `put` or a `get` that finds
    * it visible refreshes the touch; a `get` that finds it expired removes
    * it. Scans and iterators only read. */
  final class Model(n: Int, ttlMs: Long) {
    val seq: Array[Long] = Array.fill(n)(-1L)
    private val touch = new Array[Long](n)
    def live(k: Int, now: Long): Boolean = seq(k) >= 0 && (ttlMs <= 0 || now - touch(k) <= ttlMs)
    def put(k: Int, s: Long, now: Long): Unit = { seq(k) = s; touch(k) = now }
    def remove(k: Int): Unit = seq(k) = -1
    /** Returns the visible seq or -1; counts whether the miss was expiry. */
    def get(k: Int, now: Long): (Long, Boolean) =
      if (seq(k) < 0) (-1L, false)
      else if (!live(k, now)) { seq(k) = -1; (-1L, true) }
      else { touch(k) = now; (seq(k), false) }
    def visibleCount(now: Long): Int = (0 until n).count(live(_, now))
  }

  /** Deterministic payload bytes per (key, seq): a slice of a seeded pool, so
    * the model stores only the seq and the check still compares every byte. */
  final class Payloads(seed: Long, min: Int, max: Int) {
    private val pool = {
      val b = new Array[Byte](1 << 20); new SplittableRandom(seed ^ 0x5eedL).nextBytes(b); b
    }
    private def mix(k: Long, s: Long): Long = {
      var h = k * 0x9E3779B97F4A7C15L + s
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
      h & Long.MaxValue
    }
    def apply(k: Long, s: Long): Array[Byte] = {
      val h = mix(k, s)
      val len = min + (h % (max - min + 1)).toInt
      val off = ((h >>> 16) % (pool.length - max)).toInt
      java.util.Arrays.copyOfRange(pool, off, off + len)
    }
  }

  /** The reads of one version, kept as (key, seq the model expects, seq
    * returned, hash of the returned payload) and compared with the model
    * and the regenerated payloads only after the version's clock stops, so
    * a version's latency holds the store's work and not the check's. */
  final class Pending {
    private var key = new Array[Int](1024)
    private var want = new Array[Long](1024)
    private var got = new Array[Long](1024)
    private var hash = new Array[Int](1024)
    private var n = 0

    /** Queue a `get` result: `v` is null when the store returned none. */
    def add(k: Int, wantSeq: Long, v: UnsafeRow): Unit =
      if (v == null) addRaw(k, wantSeq, -1L, 0) else addRaw(k, wantSeq, v.getLong(0), Pending.hash(v.getBinary(1)))

    def addRaw(k: Int, wantSeq: Long, gotSeq: Long, gotHash: Int): Unit = {
      if (n == key.length) {
        key = java.util.Arrays.copyOf(key, n * 2); want = java.util.Arrays.copyOf(want, n * 2)
        got = java.util.Arrays.copyOf(got, n * 2); hash = java.util.Arrays.copyOf(hash, n * 2)
      }
      key(n) = k; want(n) = wantSeq; got(n) = gotSeq; hash(n) = gotHash
      n += 1
    }

    def verify(report: Report, payloads: Payloads): Unit = {
      var i = 0
      while (i < n) {
        val k = key(i)
        if (want(i) < 0) report.check(got(i) < 0, s"key $k: value seq ${got(i)}, model none")
        else if (got(i) < 0) report.mismatch(s"key $k: none, model seq ${want(i)}")
        else if (got(i) != want(i)) report.mismatch(s"key $k: seq ${got(i)}, model ${want(i)}")
        else report.check(hash(i) == Pending.hash(payloads(k, want(i))), s"key $k: payload differs at seq ${want(i)}")
        i += 1
      }
      n = 0
    }
  }

  object Pending {
    def hash(b: Array[Byte]): Int = scala.util.hashing.MurmurHash3.bytesHash(b)
  }

  /** UnsafeRow encoders for the workload's schemas. Single-threaded: the
    * projections reuse one buffer, and the provider encodes the row to
    * bytes before each call returns. */
  final class Rows(composite: Boolean) {
    val keySchema: StructType =
      if (composite) StructType(Seq(StructField("grp", IntegerType), StructField("item", IntegerType)))
      else StructType(Seq(StructField("k", LongType)))
    val valueSchema: StructType =
      StructType(Seq(StructField("seq", LongType), StructField("payload", BinaryType)))
    val prefixSchema: StructType = StructType(Seq(StructField("grp", IntegerType)))
    val spec: KeyStateEncoderSpec =
      if (composite) PrefixKeyScanStateEncoderSpec(keySchema, 1) else NoPrefixKeyStateEncoderSpec(keySchema)
    private val kp = UnsafeProjection.create(keySchema)
    private val vp = UnsafeProjection.create(valueSchema)
    private val pp = UnsafeProjection.create(prefixSchema)
    def key(grp: Int, item: Int): UnsafeRow =
      if (composite) kp(new GenericInternalRow(Array[Any](grp, item)))
      else kp(new GenericInternalRow(Array[Any](grp.toLong)))
    def prefix(grp: Int): UnsafeRow = pp(new GenericInternalRow(Array[Any](grp)))
    def value(seq: Long, payload: Array[Byte]): UnsafeRow =
      vp(new GenericInternalRow(Array[Any](seq, payload)))
  }

  def storeConf(target: Target, shape: Shape): StateStoreConf = {
    val c = new SQLConf()
    c.setConfString(SQLConf.STATE_STORE_PROVIDER_CLASS.key, target.className)
    // no streaming query coordinates these stores
    c.setConfString("spark.sql.streaming.stateStore.commitValidation.enabled", "false")
    shape.conf.foreach { case (k, v) => c.setConfString(k, v) }
    if (target.isGraft && shape.ttlSecs > 0) {
      c.setConfString(RocksDbConf.STATE_EXPIRY_SECS, shape.ttlSecs.toString)
      c.setConfString(RocksDbConf.STRICT_EXPIRE, "true")
    }
    new StateStoreConf(c, Map.empty)
  }

  def run(workload: String, seed: Long, seconds: Double, tracer: Tracer, work: File,
      target: Target): Report = {
    val shape = if (workload == "spi_ingest_ttl") IngestShape else LookupShape
    val ttlOn = target.isGraft && shape.ttlSecs > 0
    var now = ClockStartMs
    RocksDbStateStoreProvider.withTtlClock(() => now) {
      new Chain(workload, shape, seed, tracer, work, target, ttlOn, () => now, now = _).run(seconds)
    }
  }

  /** One workload run: setups, the timed chain, recovery and the checks. */
  private final class Chain(
      workload: String, shape: Shape, seed: Long, tr: Tracer, work: File, target: Target,
      ttlOn: Boolean, clock: () => Long, setClock: Long => Unit) {
    private val report = new Report
    private val composite = shape.itemsPerGroup > 1
    private val rows = new Rows(composite)
    private val payloads = new Payloads(seed, shape.payloadMin, shape.payloadMax)
    private val conf = storeConf(target, shape)
    private val ttlMs = if (ttlOn) shape.ttlSecs * 1000L else 0L
    private val lookup = workload == "spi_lookup_scan"

    private var rng: SplittableRandom = _
    private var model: Model = _
    private var provider: StateStoreProvider = _
    private var ckptRoot: File = _
    private var version = 0L
    private var nextSeq = 0L
    private var loopIndex = 0L
    private var calls = 0L
    private var expired = 0L
    private var gets = 0L
    private var getHits = 0L
    private var scanRows = 0L
    private val versionMs = mutable.ArrayBuffer.empty[Double]
    private var cpuNanos = 0L
    private val pending = new Pending
    private var lastStore: StateStore = _

    private def grpOf(k: Int) = k / shape.itemsPerGroup
    private def itemOf(k: Int) = k % shape.itemsPerGroup
    private def keyRow(k: Int) = rows.key(grpOf(k), itemOf(k))

    /** Skewed draw over the key space: P(k) ~ 1/sqrt(k) (the square of a
      * uniform), so a hot head is touched every version and a cold tail
      * expires between touches. */
    private def skewedKey(): Int = { val u = rng.nextDouble(); (shape.keys * u * u).toInt }

    private val runId = java.util.UUID.randomUUID().toString

    private def newProvider(): StateStoreProvider = {
      val p = Class.forName(target.className).getDeclaredConstructor().newInstance()
        .asInstanceOf[StateStoreProvider]
      // Spark's built-in providers read the query run id a streaming query
      // would have put in the Hadoop conf
      val hadoopConf = new Configuration()
      hadoopConf.set("sql.streaming.runId", runId)
      p.init(StateStoreId(ckptRoot.getAbsolutePath, 0, 0), rows.keySchema, rows.valueSchema,
        rows.spec, false, conf, hadoopConf, false, None)
      p
    }

    // ------------------------------------------------------------ SPI calls

    private def put(s: StateStore, k: Int): Unit = {
      val sq = nextSeq; nextSeq += 1
      val v = rows.value(sq, payloads(k, sq))
      val kr = keyRow(k)
      val t0 = tr.start()
      s.put(kr, v, Cf)
      tr.stop("put", t0)
      model.put(k, sq, clock())
      calls += 1
    }

    private def remove(s: StateStore, k: Int): Unit = {
      val kr = keyRow(k)
      val t0 = tr.start()
      s.remove(kr, Cf)
      tr.stop("remove", t0)
      model.remove(k)
      calls += 1
    }

    private def checkValue(k: Int, seqExpected: Long, v: UnsafeRow): Unit = {
      val sq = v.getLong(0)
      report.check(sq == seqExpected, s"key $k: seq $sq, model $seqExpected")
      if (sq == seqExpected) {
        report.check(java.util.Arrays.equals(v.getBinary(1), payloads(k, sq)),
          s"key $k: payload differs at seq $sq")
      }
    }

    private def get(s: ReadStateStore, k: Int, exists: Boolean = true): Unit = {
      val kr = if (exists) keyRow(k) else rows.key(grpOf(k), shape.itemsPerGroup + itemOf(k))
      val t0 = tr.start()
      val v = s.get(kr, Cf)
      tr.stop("get", t0)
      calls += 1; gets += 1
      val (want, wasExpired) = if (exists) model.get(k, clock()) else (-1L, false)
      if (wasExpired) expired += 1
      if (v != null) getHits += 1
      pending.add(k, want, v)
    }

    private val scanSeq = new Array[Long](shape.itemsPerGroup)
    private val scanHash = new Array[Int](shape.itemsPerGroup)

    /** One prefix scan; every item of the group is then queued for the
      * check with the seq the model holds for it now (-1 when not live). */
    private def scan(s: ReadStateStore, grp: Int): Unit = {
      java.util.Arrays.fill(scanSeq, -1L)
      val pr = rows.prefix(grp)
      val t0 = tr.start()
      val it = s.prefixScan(pr, Cf)
      var n = 0
      try it.foreach { p =>
        val item = p.key.getInt(1)
        if (p.key.getInt(0) != grp || item < 0 || item >= shape.itemsPerGroup || scanSeq(item) >= 0) {
          report.mismatch(s"scan $grp: unexpected or repeated key (${p.key.getInt(0)}, $item)")
        } else {
          scanSeq(item) = p.value.getLong(0)
          scanHash(item) = Pending.hash(p.value.getBinary(1))
        }
        n += 1
      } finally it.close()
      tr.stop("prefix_scan", t0)
      calls += 1; scanRows += n
      val now = clock()
      var i = 0
      while (i < shape.itemsPerGroup) {
        val k = grp * shape.itemsPerGroup + i
        pending.addRaw(k, if (model.live(k, now)) model.seq(k) else -1L, scanSeq(i), scanHash(i))
        i += 1
      }
    }

    private def load(readOnly: Boolean): ReadStateStore = {
      val t0 = tr.start()
      val s = if (readOnly) provider.getReadStore(version) else provider.getStore(version)
      tr.stopSample("load", t0)
      calls += 1
      s
    }

    private def commit(s: StateStore): Unit = {
      val t0 = tr.start()
      version = s.commit()
      tr.stopSample("commit", t0)
      calls += 1
      lastStore = s
    }

    private def maintain(): Unit = {
      val t0 = tr.start()
      provider.doMaintenance()
      tr.stopSample("maintenance", t0)
      calls += 1
    }

    // ----------------------------------------------------------- the loops

    private def ingestOps(s: StateStore): Unit = {
      var i = 0
      val n = IngestPuts + IngestGets + IngestRemoves
      while (i < n) {
        val r = rng.nextInt(n)
        val k = skewedKey()
        if (r < IngestPuts) put(s, k)
        else if (r < IngestPuts + IngestGets) get(s, k)
        else remove(s, k)
        i += 1
      }
    }

    private def lookupReads(s: ReadStateStore): Unit = {
      var i = 0
      while (i < LookupGets) {
        val k = rng.nextInt(shape.keys)
        get(s, k, exists = rng.nextDouble() >= LookupMissShare)
        i += 1
      }
      i = 0
      while (i < LookupScans) { scan(s, rng.nextInt(shape.keys / shape.itemsPerGroup)); i += 1 }
    }

    private def lookupWrites(s: StateStore): Unit = {
      var i = 0
      while (i < LookupPuts) { put(s, rng.nextInt(shape.keys)); i += 1 }
    }

    /** One loop iteration: a committed version, or (lookup, one in four) a
      * read-only version that is released. Its latency is kept. */
    private def step(): Unit = {
      tr.beginParent("version")
      val c0 = Cpu.nanos()
      val t0 = System.nanoTime()
      setClock(clock() + shape.clockStepMs)
      if (!lookup) {
        val s = load(readOnly = false).asInstanceOf[StateStore]
        ingestOps(s)
        commit(s)
      } else (loopIndex % 4) match {
        case 0 =>
          val r = load(readOnly = true)
          lookupReads(r)
          val tr0 = tr.start(); r.release(); tr.stop("release", tr0); calls += 1
        case 2 =>
          val r = load(readOnly = true)
          lookupReads(r)
          val tu = tr.start()
          val s = provider.upgradeReadStoreToWriteStore(r, version)
          tr.stop("upgrade", tu); calls += 1
          lookupWrites(s)
          commit(s)
        case _ =>
          val s = load(readOnly = false).asInstanceOf[StateStore]
          lookupReads(s)
          lookupWrites(s)
          commit(s)
      }
      if (loopIndex % shape.roundVersions == shape.maintenanceAt) maintain()
      versionMs += (System.nanoTime() - t0) / 1e6
      cpuNanos += Cpu.nanos() - c0
      tr.endParent()
      pending.verify(report, payloads)
      if (tr.enabled && (!lookup || loopIndex % 4 != 0)) {
        tr.sample("changelog_records", custom(lastStore.metrics, "changelogRecords").toDouble)
      }
      loopIndex += 1
    }

    /** Fresh checkpoint, preload of the whole key space, warm-up rounds. */
    private def setup(rep: Int): Unit = {
      rng = new SplittableRandom(seed)
      model = new Model(shape.keys, ttlMs)
      ckptRoot = new File(work, s"ckpt-$rep")
      ckptRoot.mkdirs()
      provider = newProvider()
      version = 0; nextSeq = 0; loopIndex = 0
      setClock(ClockStartMs)
      val perVersion = (shape.keys + shape.preloadVersions - 1) / shape.preloadVersions
      (0 until shape.keys).grouped(perVersion).foreach { ks =>
        setClock(clock() + shape.preloadClockStepMs)
        val s = provider.getStore(version)
        ks.foreach(k => put(s, k))
        version = s.commit()
      }
      provider.doMaintenance()
      (0 until shape.warmupRounds * shape.roundVersions).foreach(_ => step())
    }

    private def teardown(): Unit = {
      provider.close()
      Fs.rm(ckptRoot)
    }

    def run(seconds: Double): Report = {
      report.setups((0 until SetupReps).map { rep =>
        if (rep > 0) teardown()
        Cpu.measure(setup(rep))
      })
      // the timed chain: whole rounds until the budget is spent
      versionMs.clear(); cpuNanos = 0; calls = 0; expired = 0; gets = 0; getHits = 0; scanRows = 0
      tr.reset()
      val firstVersion = version
      var seen = if (tr.enabled) listCkpt() else Map.empty[String, Long]
      var newBytes = 0L
      var spent = 0.0
      var rounds = 0
      val roundRates = mutable.ArrayBuffer.empty[Double]
      while (rounds == 0 || spent < seconds) {
        val before = versionMs.size
        val callsBefore = calls
        (0 until shape.roundVersions).foreach(_ => step())
        val roundS = versionMs.drop(before).sum / 1000.0
        roundRates += (calls - callsBefore) / roundS
        spent += roundS
        rounds += 1
        if (tr.enabled) {
          val now = listCkpt()
          newBytes += now.collect { case (f, b) if !seen.contains(f) => b }.sum
          seen = now
        }
      }
      val committed = version - firstVersion
      val loops = versionMs.size.toLong
      report.attempt("spi_calls", calls)
      report.notes("versions") = loops
      report.notes("committed_versions") = committed
      report.notes("rounds") = rounds
      report.notes("round_ops_per_s") = roundRates.map(x => math.round(x).toDouble).asJava
      report.notes("version_ms_p50") = Stats.median(versionMs)
      // SPI calls per second of the process's CPU time over the versions
      // (the checks against the model run outside them)
      report.e2e("ops_per_cpu_s", calls * 1e9 / cpuNanos, "1/s")
      if (tr.enabled) layerMetrics(committed, newBytes)
      val storeMetrics = if (tr.enabled) Option(lastStore).map(_.metrics) else None
      provider.close()
      recover(storeMetrics)
      Fs.rm(ckptRoot)
      report
    }

    private def layerMetrics(committed: Long, newBytes: Long): Unit = {
      def p(name: String, q: Double) = Stats.quantile(tr.samplesOf(name), q)
      report.layer("state.load_ms_p50", p("load", 0.5), "ms")
      report.layer("state.put_us_mean", tr.meanUs("put"), "us")
      report.layer("state.remove_us_mean", tr.meanUs("remove"), "us")
      report.layer("state.get_us_mean", tr.meanUs("get"), "us")
      report.layer("state.get_hit_ratio", if (gets == 0) 0.0 else getHits.toDouble / gets, "ratio")
      report.layer("state.prefix_scan_us_mean", tr.meanUs("prefix_scan"), "us")
      report.layer("state.scan_rows_per_call",
        Stats.mean(scanRows.toDouble, tr.count("prefix_scan")), "count")
      report.layer("state.commit_ms_p50", p("commit", 0.5), "ms")
      report.layer("state.commit_ms_p95", p("commit", 0.95), "ms")
      report.layer("state.maintenance_ms_p50", p("maintenance", 0.5), "ms")
      report.layer("state.expired_per_batch", Stats.mean(expired.toDouble, committed), "count")
      report.layer("state.batch_ms_p95", Stats.quantile(versionMs, 0.95), "ms")
      report.layer("state.ckpt_bytes_per_batch", Stats.mean(newBytes.toDouble, committed), "bytes")
      report.layer("state.changelog_records_per_batch",
        Stats.median(tr.samplesOf("changelog_records")), "count")
    }

    private def custom(m: StateStoreMetrics, name: String): Long =
      m.customMetrics.collectFirst { case (k, v) if k.name == name => v }.getOrElse(0L)

    /** A fresh provider with no local dirs loads the newest version, several
      * times; the last load's full iterator must equal the model. */
    private def recover(lastMetrics: Option[StateStoreMetrics]): Unit = {
      val loadS = (0 until RecoveryLoads).map { i =>
        val t0 = System.nanoTime()
        val p = newProvider()
        val s = p.getStore(version)
        val dt = (System.nanoTime() - t0) / 1e9
        try if (i == RecoveryLoads - 1) checkFull(s) finally { s.abort(); p.close() }
        dt
      }
      report.attempt("recovery_loads", RecoveryLoads)
      report.notes("recover_ms_samples") = loadS.map(_ * 1000).asJava
      if (tr.enabled) {
        report.layer("state.recover_ms_p50", Stats.median(loadS) * 1000, "ms")
        val (deltas, bytes, files) = recoveryFootprint()
        report.layer("state.recover_deltas", deltas, "count")
        report.layer("state.recover_bytes", bytes, "bytes")
        report.layer("state.ckpt_files", files, "count")
        lastMetrics.foreach { m =>
          report.layer("state.keys_end", m.numKeys, "count")
          report.layer("state.sst_mb_end", custom(m, "rocksdbSstFilesSize") / 1048576.0, "MB")
          report.layer("state.memtable_mb_end", custom(m, "rocksdbMemtableSize") / 1048576.0, "MB")
          val up = custom(m, "snapshotBytesUploaded"); val dd = custom(m, "snapshotBytesDeduped")
          report.layer("state.snapshot_bytes_uploaded", up, "bytes")
          report.layer("state.snapshot_dedup_ratio", if (up + dd == 0) 0.0 else dd.toDouble / (up + dd), "ratio")
        }
      }
    }

    private def checkFull(s: ReadStateStore): Unit = {
      val now = clock()
      val it = s.iterator(Cf)
      var n = 0
      try it.foreach { p =>
        val k =
          if (composite) p.key.getInt(0) * shape.itemsPerGroup + p.key.getInt(1)
          else p.key.getLong(0).toInt
        n += 1
        if (!model.live(k, now)) report.mismatch(s"recovered key $k is not in the model")
        else checkValue(k, model.seq(k), p.value)
      } finally it.close()
      val want = model.visibleCount(now)
      report.check(n == want, s"recovered $n keys, model $want")
    }

    private def storeDir: File = new File(new File(ckptRoot, "0"), "0")

    private def listCkpt(): Map[String, Long] = Fs.list(ckptRoot)

    /** Deltas a recovery of the newest version replays, the bytes it reads
      * (newest snapshot at or below it, the pool SSTs it references, and
      * the deltas after it) and the checkpoint's file count. */
    private def recoveryFootprint(): (Double, Double, Double) = {
      val files = Option(storeDir.listFiles()).toSeq.flatten
      def ver(f: File, prefix: String) =
        if (f.getName.startsWith(prefix)) scala.util.Try(f.getName.stripPrefix(prefix).takeWhile(_ != '_').toLong).toOption
        else None
      val snaps = files.flatMap(f => ver(f, "state.snapshot.").map(_ -> f)).filter(_._1 <= version)
      val (snapV, snapBytes) = snaps.sortBy(_._1).lastOption match {
        case Some((v, f)) => (v, f.length() + pooledBytes(f))
        case None => (0L, 0L)
      }
      val deltas = files.flatMap(f => ver(f, "state.delta.").map(_ -> f))
        .filter { case (v, _) => v > snapV && v <= version }
      val all = listCkpt()
      (deltas.size.toDouble, (snapBytes + deltas.map(_._2.length()).sum).toDouble, all.size.toDouble)
    }

    private def pooledBytes(zip: File): Long = scala.util.Try {
      val z = new java.util.zip.ZipFile(zip)
      try Option(z.getEntry(SnapshotManager.SstRefsEntry)).map { e =>
        scala.io.Source.fromInputStream(z.getInputStream(e), "UTF-8").getLines()
          .map(_.split('\t')).filter(_.length == 2)
          .map(a => new File(new File(storeDir, "sst"), a(1)).length()).sum
      }.getOrElse(0L)
      finally z.close()
    }.getOrElse(0L)
  }
}
