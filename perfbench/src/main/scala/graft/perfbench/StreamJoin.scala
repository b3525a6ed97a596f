package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.state.RocksDbStateStoreProvider

/** A Structured Streaming query under the graft provider: clicks are
  * de-duplicated within the watermark, then inner-joined to purchases of
  * the same user within 3 s of the click. Five state stores per shuffle
  * partition are committed every micro-batch (one for the de-duplication,
  * four for the join).
  *
  * Closed loop: one generated batch of events is offered to a memory
  * source, and the next only after `processAllAvailable` returns, so every
  * offer is exactly one micro-batch (no-data batches are off). Phase
  * timings come from `StreamingQueryProgress`.
  */
object StreamJoin {
  /** One generated event; `kind` 0 = click, 1 = purchase. */
  final case class Ev(kind: Int, id: Long, user: Long, tsMs: Long)

  val ClicksPerBatch = 600
  val PurchasesPerBatch = 150
  val DupShare = 0.05          // clicks re-sent with the same id, user and time
  val Users = 2000
  val EventStartMs = 1700000000000L // after the epoch, where the first watermark sits
  val BatchEventMs = 1000L     // event time advances 1 s per batch
  val DisorderMs = 2000L       // events lag their batch by up to 2 s
  val WatermarkDelay = "5 seconds"
  val JoinBoundMs = 3000L
  val WarmupBatches = 3
  val SetupReps = 3
  /** Micro-batches of a throwaway run of the query before the set-ups: in
    * a fresh JVM the CPU time of a batch falls by a third over its first
    * twenty or so batches while the JIT compiles Spark's and graft's code,
    * and a run's rate would then depend on how many batches it got in.
    * With the set-ups' warm-up batches, 21 batches run before the first
    * timed one. */
  val JvmWarmupBatches = 12
  /** Stateful partitions: half the local cores, so the state stores'
    * background flushes and the JVM's own threads do not queue behind
    * the tasks (10 stores committed per batch). */
  val StatefulPartitions: Int = math.max(1, Main.Cores / 2)

  /** Deterministic event batches: a fresh generator replays the identical
    * sequence for a seed, so every setup repetition sees the same input. */
  final class Gen(seed: Long) {
    private var prevClicks: IndexedSeq[Ev] = IndexedSeq.empty
    private var nextId = 0L
    def batch(b: Int): Seq[Ev] = {
      val r = new SplittableRandom(seed * 1000003L + b)
      def ts() = EventStartMs + b * BatchEventMs - r.nextLong(DisorderMs) + r.nextLong(BatchEventMs)
      val nDup = (ClicksPerBatch * DupShare).toInt
      val fresh = (0 until ClicksPerBatch - nDup).map { _ =>
        nextId += 1; Ev(0, nextId, r.nextInt(Users).toLong, ts())
      }
      val pool = if (prevClicks.isEmpty) fresh else prevClicks
      val dups = (0 until nDup).map(_ => pool(r.nextInt(pool.size)))
      val purchases = (0 until PurchasesPerBatch).map { _ =>
        nextId += 1; Ev(1, nextId, r.nextInt(Users).toLong, ts())
      }
      prevClicks = fresh
      // interleave so the memory source's single partition is not sorted by kind
      val all = (fresh ++ dups ++ purchases).toArray
      var i = all.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = all(i); all(i) = all(j); all(j) = t; i -= 1 }
      all.toSeq
    }
  }

  def query(input: Dataset[Ev]): DataFrame = {
    val ev = input.toDF().withColumn("ts", timestamp_millis(col("tsMs")))
    val clicks = ev.filter(col("kind") === 0)
      .select(col("id").as("click_id"), col("user").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", WatermarkDelay)
      .dropDuplicatesWithinWatermark("click_id")
    val purchases = ev.filter(col("kind") === 1)
      .select(col("id").as("purchase_id"), col("user").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", WatermarkDelay)
    clicks.join(purchases, expr(
      s"c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval ${JoinBoundMs / 1000} seconds"))
      .select(col("click_id"), col("purchase_id"))
  }

  /** The plain-Scala join the query must reproduce: clicks de-duplicated by
    * id, each purchase paired with every click of its user that precedes
    * it by at most the bound. Pairs are packed as `click_id << 32 | purchase_id`. */
  def expectedPairs(events: Seq[Ev]): Map[Long, Int] = {
    val clicks = events.filter(_.kind == 0).groupBy(_.id).values.map(_.head).groupBy(_.user)
    val out = mutable.HashMap.empty[Long, Int]
    events.iterator.filter(_.kind == 1).foreach { p =>
      clicks.getOrElse(p.user, Nil).foreach { c =>
        if (p.tsMs >= c.tsMs && p.tsMs <= c.tsMs + JoinBoundMs) {
          val k = (c.id << 32) | p.id
          out(k) = out.getOrElse(k, 0) + 1
        }
      }
    }
    out.toMap
  }

  /** Progress events, delivered asynchronously by the listener bus. */
  private final class Progress extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    /** The `n` events of run `runId` in batch order (waiting up to 30 s for
      * late deliveries); events of earlier set-up runs are skipped. */
    def of(runId: java.util.UUID, n: Int): Seq[StreamingQueryProgress] = {
      def mine = events.asScala.filter(_.runId == runId).toSeq
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (mine.size < n && System.nanoTime() < deadline) Thread.sleep(5)
      mine.sortBy(_.batchId)
    }
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, tr: Tracer, work: File): Report = {
    val report = new Report
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass", classOf[RocksDbStateStoreProvider].getName)
    s.conf.set("spark.sql.shuffle.partitions", StatefulPartitions.toString)
    // one offer = one micro-batch: eviction rides the next data batch
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val listener = new Progress
    s.streams.addListener(listener)
    import s.implicits._

    var q: StreamingQuery = null
    var input: MemoryStream[Ev] = null
    var fed = mutable.ArrayBuffer.empty[Ev]
    val pairs = mutable.HashMap.empty[Long, Int]
    var gen: Gen = null
    var ckpt: File = null
    var batch = 0

    /** One micro-batch: its wall time (ms), the process CPU time it took
      * (ms), and its input rows. Generating the events is outside both. */
    def offer(): (Double, Double, Int) = {
      val evs = gen.batch(batch)
      fed ++= evs
      val c0 = Cpu.nanos()
      val t0 = System.nanoTime()
      input.addData(evs)
      q.processAllAvailable()
      batch += 1
      ((System.nanoTime() - t0) / 1e6, (Cpu.nanos() - c0) / 1e6, evs.size)
    }

    def start(name: String, batches: Int): Unit = {
      ckpt = new File(work, s"stream-ckpt-$name")
      gen = new Gen(seed)
      fed = mutable.ArrayBuffer.empty[Ev]
      pairs.clear()
      batch = 0
      input = MemoryStream[Ev](s)
      q = query(input.toDS()).writeStream
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach { r =>
            val k = (r.getLong(0) << 32) | r.getLong(1)
            pairs.synchronized { pairs(k) = pairs.getOrElse(k, 0) + 1 }
          }
        }
        .start()
      (0 until batches).foreach(_ => offer())
    }

    report.notes("jvm_warmup_s") = Cpu.measure(start("jvm-warmup", JvmWarmupBatches))._2
    report.setups((0 until SetupReps).map { rep =>
      q.stop(); Fs.rm(ckpt)
      Cpu.measure(start(s"setup-$rep", WarmupBatches))
    })

    val files0 = Fs.list(ckpt)
    val firstTimed = batch
    val lat = mutable.ArrayBuffer.empty[Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var spent = 0.0
    while (lat.isEmpty || spent < seconds) {
      val (ms, cpuMs, n) = offer()
      lat += ms; cpu += cpuMs; rows += n; spent += ms / 1000
    }
    val progress = listener.of(q.runId, batch)
    q.stop()
    val timedProgress = progress.filter(_.batchId >= firstTimed)
    val newBytes = Fs.list(ckpt).collect { case (f, b) if !files0.contains(f) => b }.sum

    report.attempt("micro_batches", lat.size)
    report.notes("input_rows") = rows
    // input rows per second of the process's CPU time over all timed
    // batches: unlike wall time, it leaves out the time the host's other
    // guests held the CPUs (see perfbench/README.md, Steadiness)
    report.e2e("ops_per_cpu_s", rows * 1000.0 / cpu.sum, "1/s")
    report.notes("batch_ms_p50") = Stats.median(lat)
    report.notes("batch_cpu_ms_p50") = Stats.median(cpu)

    // checks: the emitted pairs against the plain join, and no row dropped
    // as late by any stateful operator in any batch
    val want = expectedPairs(fed.toSeq)
    report.check(pairs.toMap == want,
      s"emitted ${pairs.values.sum} pairs (${pairs.size} distinct), plain join ${want.values.sum} (${want.size})")
    val dropped = progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    report.check(dropped == 0, s"$dropped rows dropped by watermark")
    report.check(progress.size == batch, s"${progress.size} progress events for $batch batches")
    report.notes("shuffle_partitions") = StatefulPartitions
    report.notes("batch_ms") = lat.map(x => math.round(x * 10) / 10.0).asJava
    report.notes("batch_cpu_ms") = cpu.map(x => math.round(x * 10) / 10.0).asJava
    report.notes("pairs_emitted") = pairs.values.sum
    report.notes("batches_total") = batch

    if (tr.enabled) layerMetrics(report, tr, timedProgress, lat.toSeq, newBytes)
    Fs.rm(ckpt)
    s.streams.removeListener(listener)
    report
  }

  private val Phases = Seq(
    "trigger" -> "triggerExecution", "latest_offset" -> "latestOffset",
    "planning" -> "queryPlanning", "add_batch" -> "addBatch",
    "wal_commit" -> "walCommit", "commit_offsets" -> "commitOffsets")

  private def layerMetrics(report: Report, tr: Tracer, ps: Seq[StreamingQueryProgress],
      lat: Seq[Double], newBytes: Long): Unit = {
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
    ps.zip(lat).foreach { case (p, ms) =>
      tr.beginParent("micro_batch")
      tr.endParent(Phases.map { case (n, k) => n -> dur(p, k) } ++
        p.stateOperators.map(o => s"${opName(o.operatorName)}.commit" -> o.commitTimeMs.toDouble) :+
        ("closed_loop_batch" -> ms))
    }
    Phases.foreach { case (n, k) =>
      report.layer(s"stream.${n}_ms_p50", Stats.median(ps.map(dur(_, k))), "ms")
    }
    report.layer("stream.ckpt_bytes_per_batch", Stats.mean(newBytes.toDouble, ps.size), "bytes")
    for (op <- Seq("dedup", "join")) {
      val os = ps.flatMap(_.stateOperators.filter(o => opName(o.operatorName) == op))
      def p50(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) = Stats.median(os.map(f))
      report.layer(s"stream.$op.commit_ms_p50", p50(_.commitTimeMs.toDouble), "ms")
      report.layer(s"stream.$op.updates_ms_p50", p50(_.allUpdatesTimeMs.toDouble), "ms")
      report.layer(s"stream.$op.removals_ms_p50", p50(_.allRemovalsTimeMs.toDouble), "ms")
      report.layer(s"stream.$op.rows_total", os.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
      report.layer(s"stream.$op.rows_updated_per_batch", p50(_.numRowsUpdated.toDouble), "count")
      report.layer(s"stream.$op.rows_removed_per_batch", p50(_.numRowsRemoved.toDouble), "count")
      report.layer(s"stream.$op.memory_mb", os.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0), "MB")
      report.layer(s"stream.$op.changelog_records_per_batch",
        p50(o => Option(o.customMetrics.get("changelogRecords")).map(_.doubleValue()).getOrElse(0.0)), "count")
    }
  }

  private def opName(n: String): String = if (n.toLowerCase.contains("join")) "join" else "dedup"

}
