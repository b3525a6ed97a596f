package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import graft.Tables
import graft.state.RocksDbStateStoreProvider
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, StatefulProcessorWithInitialState, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import org.apache.spark.sql.types.StructType

/** Stateful streaming operators as driver-gated queries (SURVEY §2C).
  *
  * Each entry replays the `events` fixture through a real file stream in
  * several micro-batches (`maxFilesPerTrigger=1` + `Trigger.AvailableNow`),
  * runs the stateful operator under the graft RocksDB state store provider,
  * and returns the sink table — whose content is designed to be
  * batch-equivalent, so a plain DuckDB `GROUP BY`/`JOIN`/islands query is an
  * exact oracle:
  *
  *  - complete-mode aggregations are batch-equivalent by definition;
  *  - append-mode dedup/join run without watermarks, so no row is ever
  *    dropped or finalized early;
  *  - update-mode operators emit per batch, and the final value per key is
  *    recovered with `max_by` over a monotonically growing column.
  *
  * Cross-batch state (the part a batch query can't fake) is exercised
  * because every operator sees the input split across multiple micro-batch
  * commits of the state store; cross-restart fault tolerance is covered by
  * the ScalaTest suites in `graft.state`.
  */
object StreamingQueries {

  private val Chunks = 4

  /** Stateful shuffle parallelism for the fixture-scale gates, capped at the
    * session's core count (round 17, PERF r16 scaling legibility): the
    * per-micro-batch cost is one state-store commit per shuffle partition,
    * so fixture-scale streams run 8 partitions — but never MORE partitions
    * than cores, so a low-core driver run (`$SPARK_GRAFT_CPUS < 8`) isn't
    * charged state commits for partitions it cannot run in parallel. The
    * active value is recorded in the bench artifact
    * (`stream_shuffle_partitions`). Output is partition-count-independent
    * (pinned by PartitionInvarianceSuite); at production scale this knob is
    * sized to state volume, not left at the batch default. */
  private def gateShufflePartitions(s: SparkSession): String =
    math.min(8, s.sparkContext.defaultParallelism).toString

  /** One staged copy of `events` per scale-factor dir, shared by every
    * streaming entry (staging writes the table once; each query then gets
    * its own file-stream over it with column pruning at the stream scan). */
  private val stagedDirs = new graft.Memo[String]

  /** `table` staged as [[Chunks]] parquet files, once per fixture dir
    * (`memo` so a racing first pair of gates cannot both run the staging
    * write). */
  private def stageChunks(memo: graft.Memo[String], dir: String, prefix: String,
      table: => DataFrame): String =
    memo.getOrStage(dir) {
      val t = graft.Staging.tempDir(prefix).toString
      table.repartition(Chunks).write.mode("overwrite").parquet(t)
      t
    }

  private def eventsStagedDir(s: SparkSession, dir: String): String =
    stageChunks(stagedDirs, dir, "graft-stream-in-", Tables.events(s, dir))

  private def events(s: SparkSession, dir: String): DataFrame =
    fileStream(s, Tables.events(s, dir).schema, eventsStagedDir(s, dir))

  /** CHAINED stateful operators — two event-time window aggregations in one
    * query (10-minute counts re-windowed into hourly sum/max), the
    * multi-stateful-operator pipeline Spark 3.5 unlocked (watermark
    * propagates through the first aggregation to drive the second's
    * eviction; `window(col("window"), ...)` re-windows on the struct).
    * Append mode over the in-order staged stream: a level-1 window closes
    * and flows downstream when the watermark passes its end, and the hour
    * window emits once the SAME global watermark passes the hour end — so
    * the emitted set is exactly "hours closed under the final watermark",
    * which the oracle states directly (empty 10-minute buckets produce no
    * level-1 row, matching batch GROUP BY). Scale: each level is an
    * ordinary windowed aggregate — partial combine, shuffle on its own
    * window key, state = one row per open window per key; chaining adds no
    * new shuffle class, and the level-2 input is already aggregate-sized
    * (one row per closed 10-min window, not raw events). */
  def stream_chained_agg(s: SparkSession, dir: String): DataFrame =
    runToTable(s, { s2 =>
      val l1 = eventsOrdered(s2, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "10 minutes"))
        .agg(count(lit(1)).as("n10"))
      l1.groupBy(window(col("window"), "1 hour"))
        .agg(sum(col("n10")).as("n_hour"), max(col("n10")).as("max10"))
    }, OutputMode.Append(), "stream_chained_agg")
      .select(col("window.start").as("win_start"), col("n_hour"), col("max10"))

  val stream_chained_agg_sql: String =
    """WITH w10 AS (
      |  SELECT time_bucket(INTERVAL '10 minutes', ts) AS b, count(*) AS n10
      |  FROM events GROUP BY 1)
      |SELECT date_trunc('hour', b) AS win_start,
      |       CAST(sum(n10) AS BIGINT) AS n_hour,
      |       CAST(max(n10) AS BIGINT) AS max10
      |FROM w10
      |GROUP BY 1
      |HAVING win_start + INTERVAL '1 hour' <=
      |       (SELECT max(ts) - INTERVAL '1 hour' FROM events)""".stripMargin

  /** Time-ordered staging for the watermark entry: the fixture is split
    * into [[Chunks]] ts-range chunks WRITTEN SEQUENTIALLY (one file per
    * chunk, strictly increasing mtime), because FileStreamSource consumes
    * files in modification-time order — a parallel range-partitioned write
    * lands part files in arbitrary task-finish order and the watermark
    * would race ahead and drop whole chunks. Ordered arrival means the
    * watermark never drops an event (every event is >= the previous chunk's
    * max - delay), which is what makes the append-mode emission set exactly
    * "windows closed under the final watermark" — a set a batch oracle can
    * compute. Chunk boundaries are approximate quantiles; only the ORDER
    * matters to the semantics, not the split points. */
  private val stagedOrderedDirs = new graft.Memo[String]
  private val stagedSortedDirs = new graft.Memo[String]

  /** The first mtime of a sequenced staging or replay: an hour in the past,
    * so no file is ever future-dated. */
  private def pastTick: Long = System.currentTimeMillis() - 3600000L

  /** Stamp `files` as the next arrival unit at `tick` and return the next
    * unit's tick, one minute later. FileStreamSource consumes files in
    * MODIFICATION-TIME order, and write-time clocks tie or reorder on
    * coarse-mtime filesystems (HDFS 1 s, some object stores), so every
    * staging and replay that needs ordered arrival sets its mtimes here. */
  private def stamp(files: Seq[Path], tick: Long): Long = {
    files.foreach(Files.setLastModifiedTime(_, FileTime.fromMillis(tick)))
    tick + 60000L
  }

  /** Append `chunk` as the next mtime-sequenced unit of staged dir `t`:
    * the write's new part files (those not in `seen`) are stamped together
    * at `tick`. Returns the next tick. */
  private def appendSequencedChunk(
      chunk: DataFrame, t: String,
      seen: scala.collection.mutable.HashSet[Path], tick: Long): Long = {
    chunk.write.mode("append").parquet(t)
    val parts = partFiles(t).filterNot(seen)
    seen ++= parts
    stamp(parts, tick)
  }

  /** The `part-` files of `dir`, name-sorted (the directory stream is closed). */
  private def partFiles(dir: String): Vector[Path] = {
    val st = Files.list(Paths.get(dir))
    try st.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toVector.sortBy(_.getFileName.toString)
    finally st.close()
  }

  /** Stage events as [[Chunks]] ascending disjoint ts-range parquet files,
    * one per chunk, mtime-sequenced. Arrival order is enforced by EXPLICIT
    * mtimes (FileStreamSource consumes in mtime order): each chunk's part
    * file gets a timestamp one minute after the previous chunk's, set with
    * setLastModifiedTime rather than relying on write-time clocks —
    * filesystems with coarse mtime granularity (HDFS: 1 s; some object
    * stores) could otherwise tie or reorder chunks and the watermark would
    * race ahead. `sortedWithin = true` additionally sorts each chunk by
    * (ts, event_id), making the whole staged sequence one GLOBAL total
    * order (the [[stream_limit]] oracle's premise); the range split happens
    * first either way, so no single task ever sorts the whole table. */
  private def stageEventChunks(
      s: SparkSession, dir: String, sortedWithin: Boolean): String = {
    val t = graft.Staging.tempDir(
      if (sortedWithin) "graft-stream-sorted-" else "graft-stream-ord-").toString
    val b = Tables.events(s, dir).withColumn("tsl", col("ts").cast("long"))
    val qs = b.stat.approxQuantile("tsl",
      (1 until Chunks).map(_.toDouble / Chunks).toArray, 0.01).map(_.toLong)
    val bounds = (Long.MinValue +: qs :+ Long.MaxValue).toSeq
    val seen = scala.collection.mutable.HashSet.empty[Path]
    var tick = pastTick
    bounds.sliding(2).foreach { case Seq(lo, hi) =>
      val chunk = b.filter(col("tsl") > lo && col("tsl") <= hi).coalesce(1)
      val shaped =
        if (sortedWithin) chunk.sortWithinPartitions(col("ts"), col("event_id"))
        else chunk
      tick = appendSequencedChunk(shaped.drop("tsl"), t, seen, tick)
    }
    t
  }

  private def eventsOrdered(s: SparkSession, dir: String): DataFrame =
    fileStream(s, Tables.events(s, dir).schema,
      stagedOrderedDirs.getOrStage(dir)(stageEventChunks(s, dir, sortedWithin = false)))

  // ------------------------------------------------------------------
  // Gate harness: every gate takes its session, its replay feed, its
  // batch-id sink and its run loop from here.
  // ------------------------------------------------------------------

  /** Trigger interval of the paced gates, and how long a paced run may
    * take before it fails. Processing-time tws and
    * `GroupStateTimeout.ProcessingTimeTimeout` schedule batches forever,
    * so `AvailableNow` never ends for them: they run on this trigger and
    * stop once their done batch has committed. */
  private val PaceMs = 25L
  private val PollDeadlineMs = 240000L

  /** The gate session. Per-query engine settings live on a *cloned*
    * session (`newSession()`: shared SparkContext, isolated SQLConf and
    * temp-view catalog), so the caller's session is never mutated by
    * running a gate; the gate builds its stream against the clone. `extra`
    * confs (avro state encoding, strict TTL, the checkpoint format
    * version) are set after the common ones. Gates without a stateful
    * operator get the same settings; they change none of their output. */
  private def gateSession(s0: SparkSession, extra: (String, String)*): SparkSession = {
    val s = s0.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      classOf[RocksDbStateStoreProvider].getName)
    s.conf.set("spark.sql.shuffle.partitions", gateShufflePartitions(s))
    // Reap deactivated store instances promptly: the loaded-provider cache
    // is only swept on the maintenance tick (60 s default), so a bench or
    // verify run executing all 22 streaming gates back-to-back in one JVM
    // would otherwise accumulate hundreds of open RocksDB instances (a
    // 4-store watermarked join × 8 partitions each) whose native memory
    // degrades every query that follows. The sweep only closes instances
    // the coordinator reports inactive — never live state — and later
    // readers (the `statestore` source) re-open from the checkpoint.
    // (JVM-global: the first streaming query pins the tick period.)
    s.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "1s")
    // Dogfood the executor-wide RocksDB budget on every gate: all streaming
    // queries here run under one shared 512 MB block-cache +
    // write-buffer-manager pool (JVM-global, pinned by the first gate), so
    // the bounded-memory production profile is what the driver actually
    // grades — not an untested optional knob. Fixture state is far below
    // the cap; the suite proves exactness under a 32 MB squeeze.
    s.conf.set(graft.state.RocksDbConf.TOTAL_MEMORY_MB, "512")
    // Exact per-CF key counting does a read-before-every-write purely to
    // feed the numRowsTotal metric — the documented write-amplification
    // trade-off this knob exists for (Spark's built-in RocksDB provider
    // exposes the same switch for write-heavy state). The gates' outputs
    // never read the metric, so they run the write-optimized profile at
    // EVERY scale (measured round 16: the watermarked join family commits
    // ~40k rows/batch across 4 stores; ~15% per-query). The provider
    // default stays `true` — reference-compatible exact metrics — and the
    // suite pins the exact-count behavior under that default.
    s.conf.set(graft.state.RocksDbConf.TRACK_TOTAL_ROWS, "false")
    extra.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private val AvroState = "spark.sql.streaming.stateStore.encodingFormat" -> "avro"

  /** A memory-sink name unique to this run: a gate may run more than once
    * in one JVM. */
  private def sinkName(name: String): String =
    name + "_" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  /** A file stream over `path` that takes one file per micro-batch. */
  private def fileStream(s: SparkSession, schema: StructType, path: String): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(path)

  /** Replay `files` through a fresh input dir in two halves, calling
    * `phase(inDir, 1)` once the first half has landed and `phase(inDir, 2)`
    * once the second has. The restart gates stop their query at the end of
    * phase 1, so the checkpoint sees a true stop. Each copy is stamped one
    * mtime unit after the previous one, in feed order across both halves. */
  private[streaming] def replayInHalves(files: Seq[Path])(phase: (String, Int) => Unit): Unit = {
    val inDir = graft.Staging.tempDir("graft-replay-in-")
    var tick = pastTick
    val (first, second) = files.splitAt(files.size / 2)
    Seq(first, second).zipWithIndex.foreach { case (half, i) =>
      half.foreach { p =>
        tick = stamp(Seq(Files.copy(p, inDir.resolve(p.getFileName.toString))), tick)
      }
      phase(inDir.toString, i + 1)
    }
  }

  /** The idempotent batch-id sink: `batch` lands in `outDir` as the
    * parquet partition `batch_id=key` under dynamic partition overwrite,
    * so a batch replayed at recovery (stopped after its write but before
    * its commit) overwrites its own partition instead of duplicating it —
    * how foreachBatch achieves exactly-once on engines without a streaming
    * sink. `key` is the batch id unless a gate needs more than one id
    * space in one dir. */
  private[streaming] def writeBatch(batch: DataFrame, key: Long, outDir: String): Unit =
    batch.withColumn("batch_id", lit(key))
      .write.mode("overwrite").format("parquet")
      .partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .save(outDir)

  /** Run `w` on `Trigger.AvailableNow` until its input is drained. */
  private def drain(w: DataStreamWriter[Row]): Unit =
    w.trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** Run `out` on the [[PaceMs]] trigger with every batch, empty or not,
    * written through [[writeBatch]] into `outDir`, until `done` holds.
    * `done` is asked, inside the batch and after its write returned, about
    * that batch's OWN just-written partition (a batch that wrote nothing
    * is not done), so the signal is race-free by construction and no Spark
    * job runs per poll. The run then waits for the done batch's commit-log
    * entry, which closes the phase exactly: a resumed query starts after
    * it, so no batch is re-run into another phase's output dir. Fails,
    * naming `name`, if that has not happened within `deadlineMs` (always
    * [[PollDeadlineMs]] for the gates; tests shorten it); the query is
    * stopped either way. Batches after the done one must be
    * empty (no input remains); one that is not adds rows to `outDir`, and
    * the oracle hash fails on them. */
  private[streaming] def pacedRun(name: String, out: DataFrame, ckptDir: String, outDir: String,
      deadlineMs: Long = PollDeadlineMs)(done: DataFrame => Boolean): Unit = {
    val s = out.sparkSession
    val doneBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, outDir)
        if (doneBatch.get < 0 &&
            scala.util.Try(done(s.read.parquet(s"$outDir/batch_id=$batchId"))).getOrElse(false))
          doneBatch.set(batchId)
      }
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.ProcessingTime(PaceMs))
      .start()
    try {
      def committed: Boolean = doneBatch.get >= 0 &&
        Files.exists(Paths.get(ckptDir, "commits", doneBatch.get.toString))
      val deadline = System.nanoTime() + deadlineMs * 1000000L
      while (!committed && System.nanoTime() < deadline) Thread.sleep(PaceMs)
      require(committed, s"$name: poll deadline reached before its done batch " +
        s"(${doneBatch.get}, -1 = none) was emitted and committed")
    } finally q.stop()
  }

  /** `done` for [[pacedRun]]: the batch emitted a row of day-bucket `b`. */
  private def emitsBucket(b: Int)(part: DataFrame): Boolean =
    part.filter(col("bucket") === b).limit(1).count() == 1L

  /** Run to a memory sink under our provider; returns the sink table. */
  private def runToTable(
      s0: SparkSession, build: SparkSession => DataFrame,
      mode: OutputMode, name: String): DataFrame =
    runStream(s0, build, mode, name)._2

  /** The memory-sink path of most gates: clone and configure the session,
    * drain the query built on it, and also hand back the clone and its
    * checkpoint dir for entries that read state back after the query. */
  private def runStream(
      s0: SparkSession, build: SparkSession => DataFrame,
      mode: OutputMode, name: String): (SparkSession, DataFrame, String) = {
    val s = gateSession(s0)
    val sink = sinkName(name)
    val ckptDir = graft.Staging.tempDir("graft-ckpt-").toString
    drain(build(s).writeStream.format("memory").queryName(sink).outputMode(mode)
      .option("checkpointLocation", ckptDir))
    (s, s.table(sink), ckptDir)
  }

  /** Streaming aggregation: per-event-type count + decimal sum (complete mode). */
  def stream_agg(s: SparkSession, dir: String): DataFrame =
    runToTable(s, s2 =>
      events(s2, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).as("sum_value")),
      OutputMode.Complete(), "stream_agg")
      // sum computed exactly in DECIMAL across micro-batches; DOUBLE is the
      // gate-canonical output type on both sides
      .withColumn("sum_value", col("sum_value").cast("double"))

  val stream_agg_sql: String =
    """SELECT event_type, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin

  /** UNION of two independent streaming sources feeding one stateful
    * aggregation — the multi-input topology of a real ingestion job (N
    * feeds → one state): each branch is its own FileStreamSource over the
    * staged events (its own offsets and file tracking), tagged, unioned,
    * then aggregated in complete mode under this provider. Micro-batch
    * alignment between the two sources doesn't matter — complete-mode
    * output after both drain equals the batch union, which is what the
    * oracle states. */
  def stream_union(s: SparkSession, dir: String): DataFrame =
    runToTable(s, { s2 =>
      val clicks = events(s2, dir).filter(col("event_type") === "click")
        .select(lit("clicks").as("branch"), col("user_id"), col("value"))
      val purchases = events(s2, dir).filter(col("event_type") === "purchase")
        .select(lit("purchases").as("branch"), col("user_id"), col("value"))
      clicks.union(purchases).groupBy(col("branch"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).as("sum_value"))
    }, OutputMode.Complete(), "stream_union")
      .select(col("branch"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))

  val stream_union_sql: String =
    """SELECT CASE WHEN event_type = 'click' THEN 'clicks' ELSE 'purchases' END AS branch,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1""".stripMargin

  /** STREAM-STATIC equi-join — the enrichment topology every production
    * ingest runs (stream ⋈ dimension table) and the one join class the
    * stream-stream matrix doesn't cover: the static side is a batch
    * DataFrame (here a per-user activity-tier profile computed from the
    * events table), joined stateLESSly — no watermark, no join state, the
    * only state is the downstream aggregation's. Spark re-plans the static
    * side every micro-batch (which is what picks up dim-table updates); at
    * production scale the dim side is broadcast when small, or pre-bucketed
    * on the key so each micro-batch joins without a full dim shuffle.
    * Complete-mode totals after the stream drains equal the batch join,
    * which is exactly what the oracle states. */
  def stream_static_join(s: SparkSession, dir: String): DataFrame =
    runToTable(s, { s2 =>
      val profile = graft.Tables.events(s2, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_hist"))
        .select(col("user_id"), expr("least(CAST(n_hist div 10 AS INT), 5)").as("tier"))
      events(s2, dir)
        .join(profile, "user_id")
        .groupBy(col("tier"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
    }, OutputMode.Complete(), "stream_static_join")

  val stream_static_join_sql: String =
    """WITH prof AS (SELECT user_id, LEAST(CAST(count(*) // 10 AS INT), 5) AS tier
      |              FROM events GROUP BY 1)
      |SELECT tier, event_type, count(*) AS n_events
      |FROM events JOIN prof USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  /** Event-time tumbling window counts (complete mode). */
  def stream_window(s: SparkSession, dir: String): DataFrame =
    runToTable(s, s2 =>
      events(s2, dir).groupBy(window(col("ts"), "1 hour"), col("event_type")).count(),
      OutputMode.Complete(), "stream_window")
      .select(col("window.start").as("win_start"), col("event_type"),
        col("count").as("n_events"))

  val stream_window_sql: String =
    """SELECT date_trunc('hour', ts) AS win_start, event_type, count(*) AS n_events
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Sliding event-time windows (2-hour length, 1-hour slide; complete
    * mode) — every event lands in exactly two windows, which the oracle
    * reproduces by unnesting both epoch-aligned candidate starts. */
  def stream_sliding(s: SparkSession, dir: String): DataFrame =
    runToTable(s, s2 =>
      events(s2, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type")).count(),
      OutputMode.Complete(), "stream_sliding")
      .select(col("window.start").as("win_start"), col("event_type"),
        col("count").as("n_events"))

  val stream_sliding_sql: String =
    """SELECT win_start, event_type, count(*) AS n_events
      |FROM (SELECT unnest([date_trunc('hour', ts) - INTERVAL '1 hour',
      |                     date_trunc('hour', ts)]) AS win_start,
      |             event_type
      |      FROM events)
      |GROUP BY 1, 2""".stripMargin

  /** Session windows per user with a 2-hour inactivity gap (complete mode;
    * exercises the provider's prefix-scan path). */
  def stream_session(s: SparkSession, dir: String): DataFrame =
    runToTable(s, s2 =>
      events(s2, dir).groupBy(session_window(col("ts"), "2 hours"), col("user_id"))
        .agg(count(lit(1)).as("n_events")),
      OutputMode.Complete(), "stream_session")
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  val stream_session_sql: String =
    """WITH marked AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL '2 hours' THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), numbered AS (
      |  SELECT user_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, new_session DESC
      |                           ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marked
      |)
      |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
      |FROM numbered GROUP BY user_id, session_id""".stripMargin

  /** DYNAMIC-GAP session windows: the gap is an expression of the row —
    * `error` events hold a session open for only 30 minutes, everything
    * else for 2 hours — the shape real funnels use (a checkout keeps the
    * session alive longer than a heartbeat). Spark merges an event into a
    * session when its start precedes the session's current end, where the
    * end is the RUNNING MAX of per-event (ts + gap(event)) — a later short
    * event never shortens a window an earlier long event already opened.
    * The oracle states exactly that recurrence (running max over the
    * ordered history, strict half-open boundary), so a green hash pins the
    * merge semantics, not just the counts. */
  def stream_session_dynamic(s: SparkSession, dir: String): DataFrame =
    runToTable(s, s2 =>
      events(s2, dir).groupBy(
        session_window(col("ts"),
          when(col("event_type") === "error", "30 minutes").otherwise("2 hours")),
        col("user_id"))
        .agg(count(lit(1)).as("n_events")),
      OutputMode.Complete(), "stream_session_dynamic")
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  val stream_session_dynamic_sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts,
      |    ts + CASE WHEN event_type = 'error' THEN INTERVAL '30 minutes'
      |              ELSE INTERVAL '2 hours' END AS ev_end
      |  FROM events),
      |m AS (
      |  SELECT user_id, event_id, ts,
      |    max(ev_end) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |  FROM e),
      |f AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0 END AS new_sess
      |  FROM m),
      |n AS (
      |  SELECT user_id, ts,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM f)
      |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
      |FROM n GROUP BY user_id, sid""".stripMargin

  /** Streaming deduplication on (user_id, event_type) (append mode, no
    * watermark so dedup is global — exactly DISTINCT).
    *
    * ANCHOR ONLY — without a watermark the seen-key state grows without
    * bound (one entry per distinct key, forever). This shape exists because
    * its batch equivalence makes it an exact oracle anchor for the
    * cross-batch state machinery; never run it on an unbounded production
    * stream. The production twin is [[stream_dedup_wm]]
    * (`dropDuplicatesWithinWatermark`), whose state is watermark-evicted. */
  def stream_dedup(s: SparkSession, dir: String): DataFrame =
    runToTable(s, s2 =>
      events(s2, dir).select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type"),
      OutputMode.Append(), "stream_dedup")

  val stream_dedup_sql: String =
    "SELECT DISTINCT user_id, event_type FROM events"

  /** Two chained stateful operators in ONE query — dedup feeding a
    * complete-mode aggregation — so a single checkpoint carries state for
    * two operator IDs (dedup keys under operator 0, aggregation buffers
    * under operator 1), each with its own per-partition store instances of
    * this provider. Equivalent to COUNT(DISTINCT user) per type in batch. */
  def stream_dedup_agg(s: SparkSession, dir: String): DataFrame =
    runToTable(s, s2 =>
      events(s2, dir).select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users")),
      OutputMode.Complete(), "stream_dedup_agg")

  val stream_dedup_agg_sql: String =
    "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY 1"

  /** Stream-stream inner join: purchases within 1 hour after a click by the
    * same user (append mode, no watermark so no state eviction).
    *
    * ANCHOR ONLY — with no watermark BOTH join sides are retained in state
    * forever (every click and every purchase ever seen), which is exactly
    * what makes the batch join an exact oracle, and exactly what a
    * production stream must never do. The production twins are the
    * watermarked matrix: [[stream_join_inner_wm]],
    * [[stream_join_outer]]/[[stream_join_right]]/[[stream_join_full]],
    * where the 1 h watermark bounds state to the open join window. */
  def stream_join(s: SparkSession, dir: String): DataFrame =
    runToTable(s, { s2 =>
      val clicks = events(s2, dir).filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("click_user"), col("ts").as("click_ts"))
      val purchases = events(s2, dir).filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("purchase_user"), col("ts").as("purchase_ts"))
      clicks.join(purchases, expr(
        """click_user = purchase_user AND
          |purchase_ts >= click_ts AND
          |purchase_ts <= click_ts + interval 1 hour""".stripMargin))
        .select(col("click_id"), col("purchase_id"))
    }, OutputMode.Append(), "stream_join")

  val stream_join_sql: String =
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id
      |FROM events c JOIN events p
      |  ON c.event_type = 'click' AND p.event_type = 'purchase'
      | AND c.user_id = p.user_id
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '1 hour'""".stripMargin

  /** Stream-stream LEFT OUTER join with watermarks — the eviction-driven
    * emission path the inner-join entry never exercises: a click with no
    * purchase within 1 hour is emitted null-padded only once the watermark
    * proves no match can still arrive (its join window has fully closed).
    * Over the in-order staged stream the null-padded set is exactly the
    * unmatched clicks with `click_ts + 1h < final watermark`, which the
    * oracle states directly; matches always emit (ordered arrival means no
    * side is ever late or evicted while still matchable). */
  def stream_join_outer(s: SparkSession, dir: String): DataFrame =
    runToTable(s, { s2 =>
      val clicks = eventsOrdered(s2, dir).filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = eventsOrdered(s2, dir).filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("purchase_user"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
      clicks.join(purchases, expr(
        """click_user = purchase_user AND
          |purchase_ts >= click_ts AND
          |purchase_ts <= click_ts + interval 1 hour""".stripMargin), "left_outer")
        .select(col("click_id"), col("purchase_id"))
    }, OutputMode.Append(), "stream_join_outer")

  // The query's global watermark is the MIN across both watermark nodes,
  // each of which sees only its own filtered side: min(max click_ts,
  // max purchase_ts) - 1h — not the all-events max.
  val stream_join_outer_sql: String =
    """WITH c AS (SELECT event_id cid, user_id cu, ts cts FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id pid, user_id pu, ts pts FROM events WHERE event_type = 'purchase'),
      |wm AS (SELECT least((SELECT max(cts) FROM c), (SELECT max(pts) FROM p))
      |              - INTERVAL '1 hour' AS w),
      |m AS (SELECT cid, pid FROM c JOIN p
      |      ON cu = pu AND pts >= cts AND pts <= cts + INTERVAL '1 hour')
      |SELECT cid AS click_id, pid AS purchase_id FROM m
      |UNION ALL
      |SELECT cid AS click_id, NULL AS purchase_id FROM c, wm
      |WHERE cid NOT IN (SELECT cid FROM m) AND cts + INTERVAL '1 hour' < w""".stripMargin

  /** Stream-stream RIGHT OUTER join with watermarks — the mirror of
    * [[stream_join_outer]]: a purchase with no prior click within 1 hour is
    * null-padded once the watermark passes its own event time (a matching
    * click would need click_ts <= purchase_ts, and clicks older than the
    * watermark can no longer arrive). Same ordered staging, same
    * min-across-sides watermark model in the oracle. */
  def stream_join_right(s: SparkSession, dir: String): DataFrame =
    runToTable(s, { s2 =>
      val clicks = eventsOrdered(s2, dir).filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = eventsOrdered(s2, dir).filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("purchase_user"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
      clicks.join(purchases, expr(
        """click_user = purchase_user AND
          |purchase_ts >= click_ts AND
          |purchase_ts <= click_ts + interval 1 hour""".stripMargin), "right_outer")
        .select(col("click_id"), col("purchase_id"))
    }, OutputMode.Append(), "stream_join_right")

  val stream_join_right_sql: String =
    """WITH c AS (SELECT event_id cid, user_id cu, ts cts FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id pid, user_id pu, ts pts FROM events WHERE event_type = 'purchase'),
      |wm AS (SELECT least((SELECT max(cts) FROM c), (SELECT max(pts) FROM p))
      |              - INTERVAL '1 hour' AS w),
      |m AS (SELECT cid, pid FROM c JOIN p
      |      ON cu = pu AND pts >= cts AND pts <= cts + INTERVAL '1 hour')
      |SELECT cid AS click_id, pid AS purchase_id FROM m
      |UNION ALL
      |SELECT NULL AS click_id, pid AS purchase_id FROM p, wm
      |WHERE pid NOT IN (SELECT pid FROM m) AND pts < w""".stripMargin

  /** Stream-stream FULL OUTER join with watermarks — completes the gated
    * join matrix: unmatched rows from EITHER side null-pad once their own
    * join window closes under the min-across-sides watermark (the left
    * side's window closes at click_ts + 1h, the right side's at its own
    * purchase_ts — asymmetric because the time-interval condition is). */
  def stream_join_full(s: SparkSession, dir: String): DataFrame =
    runToTable(s, { s2 =>
      val clicks = eventsOrdered(s2, dir).filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = eventsOrdered(s2, dir).filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("purchase_user"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
      clicks.join(purchases, expr(
        """click_user = purchase_user AND
          |purchase_ts >= click_ts AND
          |purchase_ts <= click_ts + interval 1 hour""".stripMargin), "full_outer")
        .select(col("click_id"), col("purchase_id"))
    }, OutputMode.Append(), "stream_join_full")

  val stream_join_full_sql: String =
    """WITH c AS (SELECT event_id cid, user_id cu, ts cts FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id pid, user_id pu, ts pts FROM events WHERE event_type = 'purchase'),
      |wm AS (SELECT least((SELECT max(cts) FROM c), (SELECT max(pts) FROM p))
      |              - INTERVAL '1 hour' AS w),
      |m AS (SELECT cid, pid FROM c JOIN p
      |      ON cu = pu AND pts >= cts AND pts <= cts + INTERVAL '1 hour')
      |SELECT cid AS click_id, pid AS purchase_id FROM m
      |UNION ALL
      |SELECT cid AS click_id, NULL AS purchase_id FROM c, wm
      |WHERE cid NOT IN (SELECT cid FROM m) AND cts + INTERVAL '1 hour' < w
      |UNION ALL
      |SELECT NULL AS click_id, pid AS purchase_id FROM p, wm
      |WHERE pid NOT IN (SELECT pid FROM m) AND pts < w""".stripMargin

  /** Watermarked INNER stream-stream join — the state-EVICTING inner
    * variant ([[stream_join]] deliberately runs unwatermarked for batch
    * equivalence, so its state only grows). Over the in-order staged stream
    * no match is ever lost to eviction: a click is evicted only once the
    * watermark passes click_ts + 1h, which requires both sides to have seen
    * events beyond click_ts + 2h — and ordered arrival means every matching
    * purchase (ts <= click_ts + 1h) arrived before that. So the emitted set
    * is exactly the batch inner join, while the state store demonstrably
    * evicts (suite asserts the metrics); the oracle is the same SQL as the
    * unwatermarked entry. */
  def stream_join_inner_wm(s: SparkSession, dir: String): DataFrame =
    runToTable(s, { s2 =>
      val clicks = eventsOrdered(s2, dir).filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = eventsOrdered(s2, dir).filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("purchase_user"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
      clicks.join(purchases, expr(
        """click_user = purchase_user AND
          |purchase_ts >= click_ts AND
          |purchase_ts <= click_ts + interval 1 hour""".stripMargin))
        .select(col("click_id"), col("purchase_id"))
    }, OutputMode.Append(), "stream_join_inner_wm")

  val stream_join_inner_wm_sql: String = stream_join_sql

  /** flatMapGroupsWithState: running per-user event count + per-mille value
    * sum (update mode; last emission per key recovered via max_by). */
  def stream_fmgws(s: SparkSession, dir: String): DataFrame =
    runToTable(s, { s2 =>
      import s2.implicits._
      val typed = events(s2, dir)
        .select(col("user_id"), floor(col("value") * 1000).cast("long").as("mille"))
        .as[(Long, Long)]
      typed.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
          (user: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
            var (n, total) = state.getOption.getOrElse((0L, 0L))
            rows.foreach { r => n += 1; total += r._2 }
            state.update((n, total))
            Iterator((user, n, total))
        }.toDF("user_id", "n", "mille")
    }, OutputMode.Update(), "stream_fmgws")
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n_events"), max_by(col("mille"), col("n")).as("sum_mille"))

  val stream_fmgws_sql: String =
    """SELECT user_id, count(*) AS n_events,
      |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_mille
      |FROM events GROUP BY 1""".stripMargin

  /** transformWithState (arbitrary state v2): per-user running max value
    * (per-mille) and count in a ValueState (update mode). */
  def stream_tws(s: SparkSession, dir: String): DataFrame =
    runToTable(s, { s2 =>
      import s2.implicits._
      val typed = events(s2, dir)
        .select(col("user_id"), floor(col("value") * 1000).cast("long").as("mille"))
        .as[(Long, Long)]
      typed.groupByKey(_._1)
        .transformWithState(new RunningMaxProcessor, TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n", "max_mille")
    }, OutputMode.Update(), "stream_tws")
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n_events"), max_by(col("max_mille"), col("n")).as("max_mille"))

  private class RunningMaxProcessor
    extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
    @transient private var st: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("agg", Encoders.product[(Long, Long)], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      var (n, mx) = if (st.exists()) st.get() else (0L, Long.MinValue)
      rows.foreach { r => n += 1; mx = math.max(mx, r._2) }
      st.update((n, mx))
      Iterator((user, n, mx))
    }
  }

  val stream_tws_sql: String =
    """SELECT user_id, count(*) AS n_events,
      |       max(CAST(floor(value * 1000) AS BIGINT)) AS max_mille
      |FROM events GROUP BY 1""".stripMargin

  /** transformWithState with a batch-bootstrapped initial state
    * (`StatefulProcessorWithInitialState`) — the migration path for a user
    * moving a batch job into streaming: per-user signup counts computed IN
    * BATCH seed a ValueState via `handleInitialState` (which runs before
    * any input batch), then the stream replays every event on top of the
    * seed. Every seeded user also appears in the stream (its signup events
    * are in it), so the final per-user counter is exactly
    * `n_all_events + n_signup_events` — a plain batch oracle. Update mode;
    * the counter grows monotonically, so `max` recovers the final value.
    * Scale: the seed is a per-key single row co-partitioned with the state
    * (it IS the state), so bootstrapping shuffles each key once — no
    * broadcast, no driver materialization. */
  def stream_tws_init(s: SparkSession, dir: String): DataFrame =
    runToTable(s, { s2 =>
      import s2.implicits._
      val seed = Tables.events(s2, dir)
        .filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n0"))
        .as[(Long, Long)]
        .groupByKey(_._1).mapValues(_._2)
      val typed = events(s2, dir)
        .select(col("user_id"), col("event_id")).as[(Long, Long)]
      typed.groupByKey(_._1)
        .transformWithState(new SeededCountProcessor, TimeMode.None(),
          OutputMode.Update(), seed)
        .toDF("user_id", "n")
    }, OutputMode.Update(), "stream_tws_init")
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n_total"))

  private class SeededCountProcessor
    extends StatefulProcessorWithInitialState[Long, (Long, Long), (Long, Long), Long] {
    @transient private var n: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      n = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInitialState(user: Long, seed: Long,
        timerValues: TimerValues): Unit =
      n.update(seed)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long)] = {
      val t = (if (n.exists()) n.get() else 0L) + rows.size
      n.update(t)
      Iterator.single((user, t))
    }
  }

  val stream_tws_init_sql: String =
    """SELECT user_id,
      |  CAST(count(*) + count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_total
      |FROM events GROUP BY 1""".stripMargin

  /** transformWithState with MapState: per-user sub-map keyed by event type
    * (count per type), exercising the provider's prefix-scan column
    * families through the real operator (update mode; counts grow
    * monotonically, so `max` recovers the final value per (user, type)). */
  def stream_tws_map(s: SparkSession, dir: String): DataFrame =
    runToTable(s, { s2 =>
      import s2.implicits._
      val typed = events(s2, dir)
        .select(col("user_id"), col("event_type")).as[(Long, String)]
      typed.groupByKey(_._1)
        .transformWithState(new PerTypeCountProcessor, TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "event_type", "n")
    }, OutputMode.Update(), "stream_tws_map")
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n_events"))

  private class PerTypeCountProcessor
    extends StatefulProcessor[Long, (Long, String), (Long, String, Long)] {
    @transient private var counts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[(Long, String, Long)] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { r =>
        val t = r._2
        val cur = if (counts.containsKey(t)) counts.getValue(t) else 0L
        counts.updateValue(t, cur + 1L)
        touched += t
      }
      touched.iterator.map(t => (user, t, counts.getValue(t))).toVector.iterator
    }
  }

  val stream_tws_map_sql: String =
    """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_events
      |FROM events GROUP BY 1, 2""".stripMargin

  /** transformWithState with ListState: per-user top-3 event values
    * (per-mille), the bounded-leaderboard shape. Two state variables in one
    * processor — a ListState holding the current top-3 and a ValueState
    * event counter — so one query exercises multi-variable column families
    * AND the ListState changelog path (multi-valued CDC). The list is
    * rewritten with `put` (not appended) each batch: state per key is 3
    * longs forever, regardless of stream length — the reason a bounded
    * leaderboard is safe at 100 TB where "collect all values then sort"
    * is not. Update mode; the final per-user row is the one with the
    * highest counter (`max_by`). */
  def stream_tws_list(s: SparkSession, dir: String): DataFrame =
    runToTable(s, { s2 =>
      import s2.implicits._
      val typed = events(s2, dir)
        .select(col("user_id"), floor(col("value") * 1000).cast("long").as("mille"))
        .as[(Long, Long)]
      typed.groupByKey(_._1)
        .transformWithState(new Top3Processor, TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n", "top1", "top2", "top3")
    }, OutputMode.Update(), "stream_tws_list")
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n_events"),
        max_by(col("top1"), col("n")).as("t1"),
        max_by(col("top2"), col("n")).as("t2"),
        max_by(col("top3"), col("n")).as("t3"))
      .select(col("user_id"), col("n_events"),
        when(col("t1") === Long.MinValue, lit(null)).otherwise(col("t1")).as("top1"),
        when(col("t2") === Long.MinValue, lit(null)).otherwise(col("t2")).as("top2"),
        when(col("t3") === Long.MinValue, lit(null)).otherwise(col("t3")).as("top3"))

  private class Top3Processor
    extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long, Long, Long)] {
    @transient private var top: ListState[Long] = _
    @transient private var cnt: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      top = getHandle.getListState[Long]("top", Encoders.scalaLong, TTLConfig.NONE)
      cnt = getHandle.getValueState[Long]("cnt", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long, Long)] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      if (top.exists()) top.get().foreach(buf += _)
      var n = if (cnt.exists()) cnt.get() else 0L
      rows.foreach { r => n += 1; buf += r._2 }
      val best = buf.sorted(Ordering.Long.reverse).take(3).toArray
      top.put(best)
      cnt.update(n)
      val p = best.padTo(3, Long.MinValue)
      Iterator((user, n, p(0), p(1), p(2)))
    }
  }

  val stream_tws_list_sql: String =
    """WITH m AS (SELECT user_id, CAST(floor(value * 1000) AS BIGINT) AS mille FROM events),
      |r AS (SELECT user_id, mille,
      |        row_number() OVER (PARTITION BY user_id ORDER BY mille DESC) AS rn FROM m)
      |SELECT user_id, count(*) AS n_events,
      |  max(CASE WHEN rn = 1 THEN mille END) AS top1,
      |  max(CASE WHEN rn = 2 THEN mille END) AS top2,
      |  max(CASE WHEN rn = 3 THEN mille END) AS top3
      |FROM r GROUP BY user_id""".stripMargin

  // ------------------------------------------------------------------
  // Deterministic TTL gates: BUCKET-staged arrival
  // ------------------------------------------------------------------

  /** Events staged as [[BucketCount]] files keyed by calendar day modulo
    * [[BucketCount]] (`bucket = epoch_day % 4`, carried as a column), one
    * file per bucket, explicit-mtime sequenced so micro-batch `b` processes
    * exactly bucket `b` — a batch membership BOTH engines can state in SQL,
    * which is what turns processing-time TTL expiry into an oracle-checkable
    * set (contrast the quantile-split [[eventsOrdered]], whose chunk bounds
    * no SQL oracle can reproduce). Every bucket is required nonempty so the
    * batch-id ↔ bucket alignment can never silently skew. */
  private val stagedBucketDirs = new graft.Memo[String]
  private val BucketCount = 4

  private def stageEventBuckets(s: SparkSession, dir: String): String = {
    val t = graft.Staging.tempDir("graft-stream-bkt-").toString
    val b = Tables.events(s, dir).withColumn("bucket",
      (datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")) % BucketCount)
        .cast("int"))
    val seen = scala.collection.mutable.HashSet.empty[Path]
    var tick = pastTick
    (0 until BucketCount).foreach { k =>
      val chunk = b.filter(col("bucket") === k).coalesce(1)
      require(chunk.limit(1).count() == 1L,
        s"events fixture has no rows in day-bucket $k — the TTL gates' " +
          "batch-id/bucket alignment premise would break")
      tick = appendSequencedChunk(chunk, t, seen, tick)
    }
    t
  }

  /** A file stream of bucket-staged events (events plus `bucket`) over `path`. */
  private def bucketedFrom(s: SparkSession, dir: String, path: String): DataFrame =
    fileStream(s, Tables.events(s, dir).withColumn("bucket", lit(0)).schema, path)

  private def eventsBucketed(s: SparkSession, dir: String): DataFrame =
    bucketedFrom(s, dir, stagedBucketDirs.getOrStage(dir)(stageEventBuckets(s, dir)))

  /** transformWithState with NATIVE per-variable TTL (`TTLConfig`) — the
    * modern form of the reference's one novel feature (reference
    * `RocksDbStateStoreProvider.scala:71-94`: per-key processing-time state
    * expiry), exercised end-to-end through Spark-4's tws TTL machinery: a
    * TTL'd ValueState carries a `$ttl_<name>` secondary-index column family
    * (range-scanned each batch for expiry sweeps) in THIS provider.
    *
    * Determinism argument — processing-time TTL against wall-clock batch
    * timestamps is made oracle-exact by straddling the batch cadence from
    * both sides with two variables in one processor:
    *
    *  - `eph` (TTL = 1 ms): a value written at batch timestamp T expires at
    *    T+1 ms, and consecutive micro-batch timestamps are strictly
    *    increasing wall-clock values many milliseconds apart (each batch
    *    plans, schedules and commits 8 state stores) — so `eph` provably
    *    NEVER survives into the next batch: its counter restarts per
    *    bucket. A broken expiry path (value outliving its deadline)
    *    inflates `n_batch` and hash-fails.
    *  - `run` (TTL = 1 hour): the whole AvailableNow drain runs in seconds,
    *    so `run` provably ALWAYS survives — through the live TTL code path
    *    (wrapped values, index maintenance), not `TTLConfig.NONE`. An
    *    over-eager expiry resets `n_cum` and hash-fails.
    *
    * With bucket-staged arrival, batch b = day-bucket b exactly, so the
    * oracle states both counters directly: per-(user, bucket) counts and
    * the running per-user cumulative sum over buckets. */
  def stream_tws_ttl(s0: SparkSession, dir: String): DataFrame = {
    val s = gateSession(s0)
    val outDir = graft.Staging.tempDir("graft-twsttl-out-").toString
    pacedRun("stream_tws_ttl", ttlBucketCounts(eventsBucketed(s, dir)),
      graft.Staging.tempDir("graft-ckpt-").toString, outDir)(emitsBucket(BucketCount - 1))
    s.read.parquet(outDir).drop("batch_id")
  }

  /** [[stream_tws_ttl]]'s two-variable TTL straddle over bucketed input. */
  private def ttlBucketCounts(in: DataFrame): DataFrame = {
    val s = in.sparkSession
    import s.implicits._
    in.select(col("user_id"), col("bucket")).as[(Long, Int)]
      .groupByKey(_._1)
      .transformWithState(new TtlBucketProcessor, TimeMode.ProcessingTime(),
        OutputMode.Update())
      .toDF("user_id", "bucket", "n_batch", "n_cum")
  }

  private class TtlBucketProcessor
    extends StatefulProcessor[Long, (Long, Int), (Long, Int, Long, Long)] {
    @transient private var eph: ValueState[Long] = _
    @transient private var run: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      eph = getHandle.getValueState[Long]("eph", Encoders.scalaLong,
        TTLConfig(java.time.Duration.ofMillis(1)))
      run = getHandle.getValueState[Long]("run", Encoders.scalaLong,
        TTLConfig(java.time.Duration.ofHours(1)))
    }
    override def handleInputRows(user: Long, rows: Iterator[(Long, Int)],
        timerValues: TimerValues): Iterator[(Long, Int, Long, Long)] = {
      var bucket = -1
      var n = 0L
      rows.foreach { r => bucket = r._2; n += 1 }
      val nBatch = (if (eph.exists()) eph.get() else 0L) + n
      val nCum = (if (run.exists()) run.get() else 0L) + n
      eph.update(nBatch)
      run.update(nCum)
      Iterator.single((user, bucket, nBatch, nCum))
    }
  }

  val stream_tws_ttl_sql: String =
    """WITH e AS (SELECT user_id,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 4 AS INT) AS bucket
      |  FROM events)
      |SELECT user_id, bucket, count(*) AS n_batch,
      |       CAST(sum(count(*)) OVER (PARTITION BY user_id ORDER BY bucket) AS BIGINT) AS n_cum
      |FROM e GROUP BY 1, 2""".stripMargin

  /** The staged bucket files in arrival order (mtime-sequenced at
    * staging) — the replay units the restart/evolution gates feed in
    * halves through [[replayInHalves]]. */
  private def stagedBucketFiles(s: SparkSession, dir: String): Vector[Path] = {
    val staged = stagedBucketDirs.getOrStage(dir)(stageEventBuckets(s, dir))
    val files = partFiles(staged).sortBy(Files.getLastModifiedTime(_).toMillis)
    require(files.size == BucketCount,
      s"expected $BucketCount staged bucket files, found ${files.size}")
    files
  }

  /** [[stream_tws_ttl]] across a mid-drain KILL + RESTART — the failover
    * property the reference's in-heap Guava cache could never provide
    * (its deadlines lived on the executor heap and died with it; SURVEY
    * §7.4 #2) and the one this provider's durable TTL state exists to
    * deliver: the same two-variable TTL straddle, but the query is stopped
    * entirely after bucket 1's emissions and a brand-new query resumes
    * from the checkpoint for buckets 2-3. The oracle (identical to
    * [[stream_tws_ttl]]'s) can only hash-match if, across the restart,
    *
    *  - the 1 h `run` state AND its `$ttl_` index rode recovery — a lost
    *    or over-eagerly-expired value resets `n_cum` mid-series;
    *  - the 1 ms `eph` state written before the kill is expired by the
    *    RECOVERED deadline index when the resumed query's first batch
    *    sweeps — a value outliving its persisted deadline inflates
    *    `n_batch`.
    *
    * Restart mechanics: the bucket files are replayed in halves
    * ([[replayInHalves]]), each phase runs paced until it emits its last
    * bucket ([[pacedRun]]), and every batch lands through the idempotent
    * batch-id sink ([[writeBatch]]), so a batch replayed at recovery
    * (stopped after its write but before its commit) overwrites its own
    * partition. */
  def stream_tws_ttl_restart(s0: SparkSession, dir: String): DataFrame = {
    val s = gateSession(s0)
    val outDir = graft.Staging.tempDir("graft-twsttl-restart-out-").toString
    val ckptDir = graft.Staging.tempDir("graft-twsttl-restart-ckpt-").toString
    // phase 1 drains buckets 0-1 and is then KILLED; phase 2 is a brand-new
    // query that resumes from the checkpoint for buckets 2-3
    replayInHalves(stagedBucketFiles(s, dir)) { (inDir, phase) =>
      pacedRun("stream_tws_ttl_restart", ttlBucketCounts(bucketedFrom(s, dir, inDir)),
        ckptDir, outDir)(emitsBucket(phase * BucketCount / 2 - 1))
    }
    s.read.parquet(outDir).select(col("user_id"), col("bucket"),
      col("n_batch"), col("n_cum"))
  }

  val stream_tws_ttl_restart_sql: String = stream_tws_ttl_sql

  /** STATE SCHEMA EVOLUTION across a restart — the lifecycle event every
    * long-lived stateful pipeline eventually hits: the processor's state
    * class gains a field and the resumed query must decode the old
    * generation's rows into the new shape. Spark-4 tws supports this under
    * Avro state encoding (`spark.sql.streaming.stateStore.encodingFormat =
    * avro`), and THIS provider stores the avro-framed bytes plus the
    * versioned state schemas — so the gate proves the whole stack: run
    * buckets 0-1 with `EvolveS1(cnt)`, stop, resume from the same
    * checkpoint over buckets 2-3 with `EvolveS2(cnt, mille)` (one added
    * field). The oracle hash-matches only if
    *
    *  - the old rows DECODE into the evolved shape with the running count
    *    intact (a lost or reset state breaks `n_cum` mid-series), and
    *  - the added field reads as its default (0) for pre-evolution state,
    *    so `late_mille` accumulates exactly from bucket 2 on.
    *
    * The two-phase body is [[evolveGate]]'s. */
  def stream_tws_evolve(s0: SparkSession, dir: String): DataFrame =
    evolveValueGate(s0, dir, "stream_tws_evolve", TTLConfig.NONE)

  /** The two-phase body shared by the evolution gates: replay buckets 0-1
    * into phase 1's query, stop, and resume from the same checkpoint with
    * phase 2's query over buckets 2-3 ([[replayInHalves]]). Each phase
    * writes its own output dir through the batch-id sink (their schemas
    * differ — that is the point); the result is their union, with phase
    * 1's missing `late` column stated as 0. `paced` phases (processing-time
    * processors, which self-schedule batches forever) run with
    * [[pacedRun]] until they emit their last bucket; its wait for the done
    * batch's commit-log entry matters here, because a phase-1 batch re-run
    * at resume would land in the other output dir — duplicates, not an
    * idempotent heal. `query` gets the replayed input, with `mille` =
    * floor(value × 1000), and the phase number. */
  private def evolveGate(s: SparkSession, dir: String, name: String, paced: Boolean,
      cols: Seq[String], late: String)(query: (DataFrame, Int) => DataFrame): DataFrame = {
    val ckptDir = graft.Staging.tempDir(s"graft-$name-ckpt-").toString
    val outs = Seq(1, 2).map(p => graft.Staging.tempDir(s"graft-$name-out$p-").toString)
    replayInHalves(stagedBucketFiles(s, dir)) { (inDir, phase) =>
      val out = query(bucketedFrom(s, dir, inDir)
        .withColumn("mille", expr("CAST(floor(value * 1000) AS BIGINT)")), phase)
      val outDir = outs(phase - 1)
      if (paced) pacedRun(name, out, ckptDir, outDir)(emitsBucket(phase * BucketCount / 2 - 1))
      else drain(out.writeStream.outputMode(OutputMode.Update())
        .foreachBatch((b: DataFrame, id: Long) => writeBatch(b, id, outDir))
        .option("checkpointLocation", ckptDir))
    }
    s.read.parquet(outs(0)).select(cols.map(col) :+ lit(0L).as(late): _*)
      .unionByName(s.read.parquet(outs(1)).select((cols :+ late).map(col): _*))
  }

  /** [[stream_tws_evolve]] and [[stream_tws_evolve_ttl]]: a ValueState of
    * [[EvolveS1]] evolves to [[EvolveS2]] under `ttl`; a TTL'd state needs
    * processing-time mode, so its phases run paced. */
  private def evolveValueGate(s0: SparkSession, dir: String, name: String,
      ttl: TTLConfig): DataFrame = {
    val s = gateSession(s0, AvroState)
    import s.implicits._
    val paced = ttl != TTLConfig.NONE
    val mode = if (paced) TimeMode.ProcessingTime() else TimeMode.None()
    evolveGate(s, dir, name, paced, Seq("user_id", "bucket", "n_cum"), "late_mille") {
      (in, phase) =>
        val byUser = in.select(col("user_id"), col("bucket"), col("mille"))
          .as[(Long, Int, Long)].groupByKey(_._1)
        if (phase == 1)
          byUser.transformWithState(new EvolveV1Processor(ttl), mode, OutputMode.Update())
            .toDF("user_id", "bucket", "n_cum")
        else
          byUser.transformWithState(new EvolveV2Processor(ttl), mode, OutputMode.Update())
            .toDF("user_id", "bucket", "n_cum", "late_mille")
    }
  }

  val stream_tws_evolve_sql: String =
    """WITH e AS (SELECT user_id, CAST(floor(value * 1000) AS BIGINT) AS mille,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 4 AS INT) AS bucket
      |  FROM events),
      |c AS (SELECT user_id, bucket, count(*) AS n,
      |    sum(CASE WHEN bucket >= 2 THEN mille ELSE 0 END) AS lm
      |  FROM e GROUP BY 1, 2)
      |SELECT user_id, bucket,
      |  CAST(sum(n) OVER w AS BIGINT) AS n_cum,
      |  CAST(sum(lm) OVER w AS BIGINT) AS late_mille
      |FROM c
      |WINDOW w AS (PARTITION BY user_id ORDER BY bucket)""".stripMargin

  /** [[stream_tws_evolve]] with the evolving state TTL'd — the
    * INTERSECTION of the evolution and TTL surfaces, and the shape that
    * crashed this provider before round 16: the engine stores a TTL'd
    * value as `(value: <user struct>, ttlExpirationMs)`, so the evolving
    * struct is a NESTED FIELD of the stored row, and a flat positional (or
    * flat Cast) projection reads past the old struct's end
    * (ArrayIndexOutOfBounds — found by probing, fixed by recursive
    * name-based adaptation in `ValueSchemaEvolution.adapt`, pinned by
    * `RocksDbStateStoreSuite`'s nested-struct test). The gate proves the
    * fix end-to-end: a 1 h-TTL'd `EvolveS1` state evolves to `EvolveS2`
    * across a full stop + checkpoint resume, with the oracle shared with
    * [[stream_tws_evolve]] (the TTL provably expires nothing during the
    * drain, so the emitted rows must be identical). TTL requires
    * `TimeMode.ProcessingTime`, which self-schedules batches forever, so
    * [[evolveGate]] runs each phase paced. */
  def stream_tws_evolve_ttl(s0: SparkSession, dir: String): DataFrame =
    evolveValueGate(s0, dir, "stream_tws_evolve_ttl", TTLConfig(java.time.Duration.ofHours(1)))

  /** The 1 h TTL expires nothing during the drain, so the emitted rows
    * must equal the un-TTL'd evolve gate's — shared oracle. */
  lazy val stream_tws_evolve_ttl_sql: String = stream_tws_evolve_sql

  /** [[stream_tws_evolve]]'s MAP-STATE sibling: the state class that
    * evolves is the map's VALUE class — per-(user, event_type) counters
    * stored in a `MapState[String, EvolveS1]` gain a field across the
    * restart (`EvolveS2` adds `mille`). Map entries ride a different codec
    * path than value state (per-user-key rows in the column family, the
    * multi-part key framing in `StateRowCodecs`), which is exactly where a
    * decode-shift bug under the 2-byte Avro schema prefix would hide. The
    * oracle hash-matches only if every pre-evolution map entry decodes
    * into the evolved shape with its count intact (`n_type_cum` continues
    * mid-series per (user, type)) and the added field reads as 0
    * (`late_mille` accumulates exactly from bucket 2 on). Two-phase body:
    * [[evolveGate]]. */
  def stream_tws_evolve_map(s0: SparkSession, dir: String): DataFrame = {
    val s = gateSession(s0, AvroState)
    import s.implicits._
    evolveGate(s, dir, "stream_tws_evolve_map", paced = false,
      Seq("user_id", "bucket", "event_type", "n_type_cum"), "late_mille") { (in, phase) =>
      val byUser = in.select(col("user_id"), col("event_type"), col("bucket"), col("mille"))
        .as[(Long, String, Int, Long)].groupByKey(_._1)
      if (phase == 1)
        byUser.transformWithState(new EvolveMapV1Processor, TimeMode.None(), OutputMode.Update())
          .toDF("user_id", "bucket", "event_type", "n_type_cum")
      else
        byUser.transformWithState(new EvolveMapV2Processor, TimeMode.None(), OutputMode.Update())
          .toDF("user_id", "bucket", "event_type", "n_type_cum", "late_mille")
    }
  }

  val stream_tws_evolve_map_sql: String =
    """WITH e AS (SELECT user_id, event_type,
      |    CAST(floor(value * 1000) AS BIGINT) AS mille,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 4 AS INT) AS bucket
      |  FROM events),
      |c AS (SELECT user_id, event_type, bucket, count(*) AS n,
      |    sum(CASE WHEN bucket >= 2 THEN mille ELSE 0 END) AS lm
      |  FROM e GROUP BY 1, 2, 3)
      |SELECT user_id, bucket, event_type,
      |  CAST(sum(n) OVER w AS BIGINT) AS n_type_cum,
      |  CAST(sum(lm) OVER w AS BIGINT) AS late_mille
      |FROM c
      |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY bucket)""".stripMargin

  /** [[stream_tws_evolve]]'s LIST-STATE sibling: the ELEMENT class of a
    * `ListState` evolves across the restart (`EvolveL1(mille)` →
    * `EvolveL2(mille, w)`). List state is the multi-value framing path
    * (elements packed value-rows in `StateRowCodecs` — the codec where a
    * decode-shift bug DID hide once, fixed r9), so this gate is the
    * evolution proof for exactly that framing: the resumed query reads
    * pre-evolution elements through the evolved Avro schema. The oracle
    * hash-matches only if every old element's `mille` survives (the
    * cumulative `sum_mille` is seeded by phase-1 appends) and the added
    * `w` reads as 0 on old elements while phase-2 appends carry `w = 1`
    * (`late_items` counts exactly the post-evolution appends). Two-phase
    * body: [[evolveGate]]. */
  def stream_tws_evolve_list(s0: SparkSession, dir: String): DataFrame = {
    val s = gateSession(s0, AvroState)
    import s.implicits._
    evolveGate(s, dir, "stream_tws_evolve_list", paced = false,
      Seq("user_id", "bucket", "n_items", "sum_mille"), "late_items") { (in, phase) =>
      val byUser = in.select(col("user_id"), col("bucket"), col("mille"))
        .as[(Long, Int, Long)].groupByKey(_._1)
      if (phase == 1)
        byUser.transformWithState(new EvolveListV1Processor, TimeMode.None(), OutputMode.Update())
          .toDF("user_id", "bucket", "n_items", "sum_mille")
      else
        byUser.transformWithState(new EvolveListV2Processor, TimeMode.None(), OutputMode.Update())
          .toDF("user_id", "bucket", "n_items", "sum_mille", "late_items")
    }
  }

  val stream_tws_evolve_list_sql: String =
    """WITH e AS (SELECT user_id, CAST(floor(value * 1000) AS BIGINT) AS mille,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 4 AS INT) AS bucket
      |  FROM events),
      |c AS (SELECT user_id, bucket, count(*) AS n, sum(mille) AS sm FROM e GROUP BY 1, 2)
      |SELECT user_id, bucket,
      |  CAST(sum(n) OVER w AS BIGINT) AS n_items,
      |  CAST(sum(sm) OVER w AS BIGINT) AS sum_mille,
      |  CAST(sum(CASE WHEN bucket >= 2 THEN n ELSE 0 END) OVER w AS BIGINT) AS late_items
      |FROM c
      |WINDOW w AS (PARTITION BY user_id ORDER BY bucket)""".stripMargin

  /** [[stream_tws_ttl]]'s MAP-state sibling: a TTL'd `MapState` (per-user
    * per-type counters) drives the COMPOSITE-key TTL index — each
    * `$ttl_byType` row keys by `(expirationMs, (groupingKey, userKey))`,
    * the deepest secondary-index shape the provider stores (and the one
    * [[graft.state.StateRepartition]] routes by a two-hop field path).
    * Same straddle: the map's 1 h TTL provably survives the drain (per-type
    * counters accumulate), the 1 ms `eph` ValueState provably expires
    * between buckets (per-user batch counter restarts). Each batch emits
    * one row per (user, touched type). */
  def stream_tws_ttl_map(s0: SparkSession, dir: String): DataFrame = {
    val s = gateSession(s0)
    import s.implicits._
    val out = eventsBucketed(s, dir)
      .select(col("user_id"), col("event_type"), col("bucket"))
      .as[(Long, String, Int)]
      .groupByKey(_._1)
      .transformWithState(new TtlMapBucketProcessor, TimeMode.ProcessingTime(),
        OutputMode.Update())
      .toDF("user_id", "bucket", "event_type", "n_type_cum", "n_batch")
    val outDir = graft.Staging.tempDir("graft-twsttlmap-out-").toString
    pacedRun("stream_tws_ttl_map", out, graft.Staging.tempDir("graft-ckpt-").toString,
      outDir)(emitsBucket(BucketCount - 1))
    s.read.parquet(outDir).drop("batch_id")
  }

  private class TtlMapBucketProcessor
    extends StatefulProcessor[Long, (Long, String, Int), (Long, Int, String, Long, Long)] {
    @transient private var eph: ValueState[Long] = _
    @transient private var byType: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      eph = getHandle.getValueState[Long]("eph", Encoders.scalaLong,
        TTLConfig(java.time.Duration.ofMillis(1)))
      byType = getHandle.getMapState[String, Long]("byType", Encoders.STRING,
        Encoders.scalaLong, TTLConfig(java.time.Duration.ofHours(1)))
    }
    override def handleInputRows(user: Long, rows: Iterator[(Long, String, Int)],
        timerValues: TimerValues): Iterator[(Long, Int, String, Long, Long)] = {
      var bucket = -1
      var n = 0L
      val touched = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      rows.foreach { r =>
        bucket = r._3; n += 1
        touched.update(r._2, touched.getOrElse(r._2, 0L) + 1L)
      }
      val nBatch = (if (eph.exists()) eph.get() else 0L) + n
      eph.update(nBatch)
      touched.iterator.map { case (t, k) =>
        val cum = (if (byType.containsKey(t)) byType.getValue(t) else 0L) + k
        byType.updateValue(t, cum)
        (user, bucket, t, cum, nBatch)
      }.toVector.iterator
    }
  }

  val stream_tws_ttl_map_sql: String =
    """WITH e AS (SELECT user_id, event_type,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 4 AS INT) AS bucket
      |  FROM events),
      |c AS (SELECT user_id, event_type, bucket, count(*) AS n FROM e GROUP BY 1, 2, 3),
      |cum AS (SELECT user_id, event_type, bucket,
      |    CAST(sum(n) OVER (PARTITION BY user_id, event_type ORDER BY bucket) AS BIGINT)
      |      AS n_type_cum
      |  FROM c),
      |ub AS (SELECT user_id, bucket, count(*) AS n_batch FROM e GROUP BY 1, 2)
      |SELECT user_id, bucket, event_type, n_type_cum, n_batch
      |FROM cum JOIN ub USING (user_id, bucket)""".stripMargin

  /** `flatMapGroupsWithState` with PROCESSING-TIME TIMEOUT — the legacy
    * (Spark 2.x-era) arbitrary-state expiry surface, the API generation the
    * reference was built against: each key arms a 1 ms
    * `GroupStateTimeout.ProcessingTimeTimeout` after its batch, so the NEXT
    * batch (empty or not) fires `hasTimedOut` for it — session state is
    * flushed and removed between buckets, deterministically (consecutive
    * batch timestamps are always > 1 ms apart, the [[stream_tws_ttl]]
    * cadence argument).
    *
    * Every (user, bucket) therefore emits exactly TWO rows: "live" when its
    * data batch runs, "flush" when the following batch fires the timeout
    * (a key with data in consecutive buckets flushes the superseded state
    * inline, same count). Proc-time mode self-schedules batches forever, so
    * the gate runs paced until every live row has its flush. */
  def stream_fmgws_timeout(s0: SparkSession, dir: String): DataFrame = {
    val s = gateSession(s0)
    import s.implicits._
    val typed = eventsBucketed(s, dir)
      .select(col("user_id"), col("bucket")).as[(Long, Int)]
    val out = typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Int, Long), (Long, Int, Long, String)](
        OutputMode.Update(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, Int)], state: GroupState[(Int, Long)]) =>
          if (state.hasTimedOut) {
            val (b, n) = state.get
            state.remove()
            Iterator.single((user, b, n, "flush"))
          } else {
            val flushed = state.getOption.map { case (b, n) => (user, b, n, "flush") }
            var bucket = -1
            var n = 0L
            rows.foreach { r => bucket = r._2; n += 1 }
            state.update((bucket, n))
            state.setTimeoutDuration(1L)
            flushed.iterator ++ Iterator.single((user, bucket, n, "live"))
          }
      }
      .toDF("user_id", "bucket", "n", "phase")
    val outDir = graft.Staging.tempDir("graft-fmgwsto-out-").toString
    // Done once the final bucket's live rows are out and every live row has
    // its flush. Each batch's own partition is counted once (one collect),
    // and the totals accumulate across batches.
    var live, flush = 0L
    var lastLive = false
    pacedRun("stream_fmgws_timeout", out, graft.Staging.tempDir("graft-ckpt-").toString,
      outDir) { part =>
      part.groupBy(col("phase"), (col("bucket") === BucketCount - 1).as("lastB"))
        .count().collect().foreach { r =>
          if (r.getString(0) == "live") { live += r.getLong(2); lastLive ||= r.getBoolean(1) }
          else flush += r.getLong(2)
        }
      lastLive && live == flush
    }
    s.read.parquet(outDir).drop("batch_id")
  }

  val stream_fmgws_timeout_sql: String =
    """WITH e AS (SELECT user_id,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 4 AS INT) AS bucket
      |  FROM events),
      |c AS (SELECT user_id, bucket, count(*) AS n FROM e GROUP BY 1, 2)
      |SELECT user_id, bucket, n, phase
      |FROM c CROSS JOIN (VALUES ('live'), ('flush')) p(phase)""".stripMargin

  /** [[stream_tws_ttl]]'s LIST-state sibling, completing the TTL state-shape
    * trio at the gate: a TTL'd `ListState` (per-user per-mille values,
    * appended every batch) drives the ONE-TO-MANY TTL machinery — beyond
    * the `$ttl_vals` index, list TTL keeps a `$min_vals` min-expiry row and
    * a `$count_vals` element counter per key, all maintained through this
    * provider's column families. The 1 h list TTL provably survives the
    * drain (appends accumulate across buckets: count and exact integer sum
    * grow monotonically), the 1 ms `eph` ValueState provably expires
    * between buckets — both polarities visible in the emitted row. */
  def stream_tws_ttl_list(s0: SparkSession, dir: String): DataFrame = {
    val s = gateSession(s0)
    import s.implicits._
    val out = eventsBucketed(s, dir)
      .select(col("user_id"), floor(col("value") * 1000).cast("long").as("mille"),
        col("bucket"))
      .as[(Long, Long, Int)]
      .groupByKey(_._1)
      .transformWithState(new TtlListBucketProcessor, TimeMode.ProcessingTime(),
        OutputMode.Update())
      .toDF("user_id", "bucket", "n_items", "sum_mille", "n_batch")
    val outDir = graft.Staging.tempDir("graft-twsttllist-out-").toString
    pacedRun("stream_tws_ttl_list", out, graft.Staging.tempDir("graft-ckpt-").toString,
      outDir)(emitsBucket(BucketCount - 1))
    s.read.parquet(outDir).drop("batch_id")
  }

  private class TtlListBucketProcessor
    extends StatefulProcessor[Long, (Long, Long, Int), (Long, Int, Long, Long, Long)] {
    @transient private var eph: ValueState[Long] = _
    @transient private var vals: ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      eph = getHandle.getValueState[Long]("eph", Encoders.scalaLong,
        TTLConfig(java.time.Duration.ofMillis(1)))
      vals = getHandle.getListState[Long]("vals", Encoders.scalaLong,
        TTLConfig(java.time.Duration.ofHours(1)))
    }
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long, Int)],
        timerValues: TimerValues): Iterator[(Long, Int, Long, Long, Long)] = {
      var bucket = -1
      var n = 0L
      rows.foreach { r => bucket = r._3; n += 1; vals.appendValue(r._2) }
      val nBatch = (if (eph.exists()) eph.get() else 0L) + n
      eph.update(nBatch)
      var items = 0L
      var total = 0L
      vals.get().foreach { v => items += 1; total += v }
      Iterator.single((user, bucket, items, total, nBatch))
    }
  }

  /** [[stream_tws_evolve]]'s two state generations: V2 adds one field;
    * [[stream_tws_evolve_ttl]] stores them under a 1 h `TTLConfig` (the
    * nested-wrapper codec path).
    * NOT `private`: Spark's encoder codegen compiles generated Java that
    * constructs/reads these classes by name — on a private nested class
    * Janino fails resolution ("No applicable constructor/method found"),
    * logging a full ERROR stack and falling back to interpreted encoding
    * on EVERY plan that touches them (384 such failures per full Verify
    * pass, measured round 16). Public visibility restores codegen. */
  case class EvolveS1(cnt: Long)
  case class EvolveS2(cnt: Long, mille: Long)

  private class EvolveV1Processor(ttl: TTLConfig)
    extends StatefulProcessor[Long, (Long, Int, Long), (Long, Int, Long)] {
    @transient private var st: ValueState[EvolveS1] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[EvolveS1]("agg", Encoders.product[EvolveS1], ttl)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Int, Long)],
        timerValues: TimerValues): Iterator[(Long, Int, Long)] = {
      var bucket = -1
      var n = 0L
      rows.foreach { r => bucket = r._2; n += 1 }
      val cnt = (if (st.exists()) st.get().cnt else 0L) + n
      st.update(EvolveS1(cnt))
      Iterator.single((user, bucket, cnt))
    }
  }

  private class EvolveV2Processor(ttl: TTLConfig)
    extends StatefulProcessor[Long, (Long, Int, Long), (Long, Int, Long, Long)] {
    @transient private var st: ValueState[EvolveS2] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[EvolveS2]("agg", Encoders.product[EvolveS2], ttl)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Int, Long)],
        timerValues: TimerValues): Iterator[(Long, Int, Long, Long)] = {
      var bucket = -1
      var n = 0L
      var add = 0L
      rows.foreach { r => bucket = r._2; n += 1; add += r._3 }
      // pre-evolution rows decode with the added field at its default (0)
      val prev = if (st.exists()) st.get() else EvolveS2(0L, 0L)
      val v = EvolveS2(prev.cnt + n, prev.mille + add)
      st.update(v)
      Iterator.single((user, bucket, v.cnt, v.mille))
    }
  }

  /** [[stream_tws_evolve_map]]'s two generations: the map VALUE class
    * evolves from [[EvolveS1]] to [[EvolveS2]] under the same state name. */
  private class EvolveMapV1Processor
    extends StatefulProcessor[Long, (Long, String, Int, Long), (Long, Int, String, Long)] {
    @transient private var byType: MapState[String, EvolveS1] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      byType = getHandle.getMapState[String, EvolveS1]("byType", Encoders.STRING,
        Encoders.product[EvolveS1], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, String, Int, Long)],
        timerValues: TimerValues): Iterator[(Long, Int, String, Long)] = {
      var bucket = -1
      val touched = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      rows.foreach { r =>
        bucket = r._3
        touched.update(r._2, touched.getOrElse(r._2, 0L) + 1L)
      }
      touched.iterator.map { case (t, k) =>
        val cnt = (if (byType.containsKey(t)) byType.getValue(t).cnt else 0L) + k
        byType.updateValue(t, EvolveS1(cnt))
        (user, bucket, t, cnt)
      }.toVector.iterator
    }
  }

  private class EvolveMapV2Processor
    extends StatefulProcessor[Long, (Long, String, Int, Long), (Long, Int, String, Long, Long)] {
    @transient private var byType: MapState[String, EvolveS2] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      byType = getHandle.getMapState[String, EvolveS2]("byType", Encoders.STRING,
        Encoders.product[EvolveS2], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, String, Int, Long)],
        timerValues: TimerValues): Iterator[(Long, Int, String, Long, Long)] = {
      var bucket = -1
      val cnts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      val milles = scala.collection.mutable.HashMap.empty[String, Long]
      rows.foreach { r =>
        bucket = r._3
        cnts.update(r._2, cnts.getOrElse(r._2, 0L) + 1L)
        milles.update(r._2, milles.getOrElse(r._2, 0L) + r._4)
      }
      cnts.iterator.map { case (t, k) =>
        // pre-evolution entries decode with the added field at its default
        val prev = if (byType.containsKey(t)) byType.getValue(t) else EvolveS2(0L, 0L)
        val v = EvolveS2(prev.cnt + k, prev.mille + milles(t))
        byType.updateValue(t, v)
        (user, bucket, t, v.cnt, v.mille)
      }.toVector.iterator
    }
  }

  /** [[stream_tws_evolve_list]]'s two element generations. Public for the
    * same encoder-codegen reason as [[EvolveS1]]. */
  case class EvolveL1(mille: Long)
  case class EvolveL2(mille: Long, w: Long)

  private class EvolveListV1Processor
    extends StatefulProcessor[Long, (Long, Int, Long), (Long, Int, Long, Long)] {
    @transient private var vals: ListState[EvolveL1] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      vals = getHandle.getListState[EvolveL1]("vals", Encoders.product[EvolveL1],
        TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Int, Long)],
        timerValues: TimerValues): Iterator[(Long, Int, Long, Long)] = {
      var bucket = -1
      rows.foreach { r => bucket = r._2; vals.appendValue(EvolveL1(r._3)) }
      var items = 0L
      var total = 0L
      vals.get().foreach { v => items += 1; total += v.mille }
      Iterator.single((user, bucket, items, total))
    }
  }

  private class EvolveListV2Processor
    extends StatefulProcessor[Long, (Long, Int, Long), (Long, Int, Long, Long, Long)] {
    @transient private var vals: ListState[EvolveL2] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      vals = getHandle.getListState[EvolveL2]("vals", Encoders.product[EvolveL2],
        TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Int, Long)],
        timerValues: TimerValues): Iterator[(Long, Int, Long, Long, Long)] = {
      var bucket = -1
      rows.foreach { r => bucket = r._2; vals.appendValue(EvolveL2(r._3, 1L)) }
      var items = 0L
      var total = 0L
      var late = 0L
      // pre-evolution elements decode with w at its default (0), so `late`
      // counts exactly the post-evolution appends
      vals.get().foreach { v => items += 1; total += v.mille; late += v.w }
      Iterator.single((user, bucket, items, total, late))
    }
  }

  val stream_tws_ttl_list_sql: String =
    """WITH e AS (SELECT user_id, CAST(floor(value * 1000) AS BIGINT) AS mille,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 4 AS INT) AS bucket
      |  FROM events),
      |c AS (SELECT user_id, bucket, count(*) AS n, sum(mille) AS sm FROM e GROUP BY 1, 2)
      |SELECT user_id, bucket,
      |  CAST(sum(n) OVER w AS BIGINT) AS n_items,
      |  CAST(sum(sm) OVER w AS BIGINT) AS sum_mille,
      |  n AS n_batch
      |FROM c
      |WINDOW w AS (PARTITION BY user_id ORDER BY bucket)""".stripMargin

  /** PROVIDER-level TTL'd streaming dedup — the reference README's flagship
    * use-case (`README.md:34-104`: dedup whose seen-key state expires) as an
    * oracle-checked query: `dropDuplicates` + the user-facing
    * `implicits.stateTimeout(...)` wiring a per-query strict TTL into this
    * provider, so the seen-set is bounded by the expiry window instead of
    * growing forever.
    *
    * Determinism: the provider's strict-TTL deadlines are measured against
    * its injectable clock; the gate pins that clock to `batch_id` hours (set
    * per batch inside `foreachBatch`, before the batch's stateful plan
    * executes), so with bucket-staged arrival the TTL of 1.5 h means a seen
    * key stays live for exactly the NEXT bucket and expires after — and
    * access refreshes the deadline (the reference's `expireAfterAccess`
    * semantics), so a key is re-emitted at bucket b iff it did not occur at
    * bucket b-1. That rule is plain SQL over (key, bucket) pairs, and it
    * EXERCISES expiry in the output: keys seen at buckets {0, 2} re-emit at
    * 2, keys seen at {0, 1, 2} do not. */
  def stream_dedup_ttl(s0: SparkSession, dir: String): DataFrame = {
    val s = gateSession(s0, StrictTtl)
    val outDir = graft.Staging.tempDir("graft-dedupttl-out-").toString
    dedupTtlRun(s, eventsBucketed(s, dir), "dedupttl",
      graft.Staging.tempDir("graft-ckpt-").toString, outDir)
    s.read.parquet(outDir)
      .select(col("user_id"), col("event_type"), col("bucket"))
  }

  private val StrictTtl = graft.state.RocksDbConf.STRICT_EXPIRE -> "true"

  /** One drain of [[stream_dedup_ttl]]'s query over `in`, with the
    * provider's TTL clock pinned to `batch_id` hours, into `outDir` through
    * the batch-id sink. The checkpoint is `ckptRoot/queryName`. */
  private def dedupTtlRun(s: SparkSession, in: DataFrame, queryName: String,
      ckptRoot: String, outDir: String): Unit = {
    val base = 1700000000000L // arbitrary fixed epoch for the pinned clock
    RocksDbStateStoreProvider.withTtlClock(() => base) {
      import graft.state.implicits._
      drain(in.select(col("user_id"), col("event_type"), col("bucket"))
        .dropDuplicates("user_id", "event_type")
        .writeStream
        .outputMode(OutputMode.Append())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // pin the TTL clock for THIS batch before its stateful plan runs
          // (the dedup operator executes inside the write below); batch ids
          // CONTINUE across a restart, so recovered deadlines written under
          // batches 0-1 face clocks 2 h/3 h later
          RocksDbStateStoreProvider.clock = () => base + batchId * 3600000L
          writeBatch(batch, batchId, outDir)
        }
        .stateTimeout(s.conf, queryName = queryName, expirySecs = 5400,
          checkpointLocation = ckptRoot))
    }
  }

  val stream_dedup_ttl_sql: String =
    """WITH e AS (SELECT user_id, event_type,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 4 AS INT) AS bucket
      |  FROM events),
      |d AS MATERIALIZED (SELECT DISTINCT user_id, event_type, bucket FROM e)
      |SELECT user_id, event_type, bucket FROM d
      |WHERE NOT EXISTS (SELECT 1 FROM d p WHERE p.user_id = d.user_id
      |  AND p.event_type = d.event_type AND p.bucket = d.bucket - 1)""".stripMargin

  /** [[stream_dedup_ttl]] across a mid-drain KILL + RESTART — the failover
    * proof for the USER-FACING strict-TTL path (`implicits.stateTimeout`,
    * the reference README's flagship dedup-with-expiry shape), completing
    * what [[stream_tws_ttl_restart]] proved for the native tws `TTLConfig`
    * path: the provider's persisted deadline CF — the direct answer to the
    * reference's in-heap Guava expiry cache
    * (`RocksDbStateStoreProvider.scala:711-726`), which died with the
    * executor — must drive expiry AFTER recovery. The query is stopped
    * entirely after bucket 1 and a brand-new query resumes from the
    * checkpoint for buckets 2-3 under the same pinned per-batch clock, so
    * every bucket 2-3 re-emission in the oracle happens only if the
    * RECOVERED deadlines expire the bucket-0/1 seen-set on schedule, and
    * every suppression only if surviving entries rode recovery intact
    * (over-eager expiry re-emits, lost deadlines suppress — both break the
    * hash). Oracle identical to [[stream_dedup_ttl]]'s. Restart mechanics:
    * the bucket files replayed in halves ([[replayInHalves]]) + the
    * idempotent batch-id sink ([[stream_tws_ttl_restart]] discipline). */
  def stream_dedup_ttl_restart(s0: SparkSession, dir: String): DataFrame = {
    val s = gateSession(s0, StrictTtl)
    val outDir = graft.Staging.tempDir("graft-dedupttlrs-out-").toString
    val ckptRoot = graft.Staging.tempDir("graft-ckpt-").toString
    // phase 1 runs buckets 0-1 and the query is then STOPPED entirely; in
    // phase 2 a new query resumes from the checkpoint for buckets 2-3
    replayInHalves(stagedBucketFiles(s, dir)) { (inDir, _) =>
      dedupTtlRun(s, bucketedFrom(s, dir, inDir), "dedupttlrestart", ckptRoot, outDir)
    }
    s.read.parquet(outDir)
      .select(col("user_id"), col("event_type"), col("bucket"))
  }

  /** Same oracle as the single-run gate: the kill/restart must be
    * invisible in the emitted rows. */
  val stream_dedup_ttl_restart_sql: String = stream_dedup_ttl_sql

  /** One staged copy of `documents` per scale-factor dir for the streaming
    * corpus-ingestion entries (same pattern as the events staging). */
  private val stagedDocDirs = new graft.Memo[String]

  private def documentsStream(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
    fileStream(s, base.schema, stageChunks(stagedDocDirs, dir, "graft-stream-docs-", base))
  }

  /** Streaming corpus-ingestion dedup — the LLM-pipeline operator the state
    * store exists for: documents arrive as a multi-batch stream and exact
    * duplicates (normalized content fingerprint) are dropped across
    * micro-batch boundaries, i.e. the seen-fingerprint set lives in the
    * RocksDB provider between commits. Emitting only the fingerprint keys
    * makes append-mode output deterministic (whichever copy arrives first,
    * the kept row projects to the same fp), so the oracle is exactly
    * DISTINCT over the batch table. */
  def stream_doc_dedup(s: SparkSession, dir: String): DataFrame =
    runToTable(s, s2 =>
      documentsStream(s2, dir)
        .select(md5(regexp_replace(trim(col("text")), "\\s+", " ")).as("fp"))
        .dropDuplicates("fp"),
      OutputMode.Append(), "stream_doc_dedup")

  val stream_doc_dedup_sql: String =
    """SELECT DISTINCT md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp
      |FROM documents""".stripMargin

  /** Streaming NEAR-dup detection — the MinHash-LSH candidate index
    * maintained incrementally in RocksDB state, the production shape of
    * deduplicating a crawl AS IT ARRIVES (each new document's 16 band keys
    * probe-and-extend the bucket index; a bucket reaching 2+ members is a
    * near-dup candidate group to verify downstream, exactly the candidate
    * set the batch pipeline ([[graft.operators.Dedup]] `dedup_minhash_lsh`)
    * builds by self-join). Banding is the SAME definition as the batch op
    * (shared `Dedup.bandKeysExpr` + codegen'd shingle/signature kernels,
    * running inside the micro-batch), so the streamed index provably equals
    * the batch index — the oracle is one GROUP BY over the batch bands.
    *
    * Emission is update-mode (bucket rows re-emit as members arrive); the
    * final per-bucket row is recovered order-independently because both
    * stats are monotone along any arrival order — `rep_doc_id` (running
    * min) only decreases, `n_docs` (running count) only increases — so
    * `min`/`max` over the emitted versions equal the final state no matter
    * how the staged chunks interleave.
    *
    * Scale: state is one (min, count) pair per occupied bucket — the same
    * adaptive-width bucket geometry as the batch LSH (~bounded occupancy by
    * construction), with no raw text retained in state; the emitted gate
    * rows are candidate buckets only (`n_docs >= 2`). */
  def stream_lsh_dedup(s: SparkSession, dir: String): DataFrame =
    runToTable(s, s2 =>
      graft.operators.Dedup.lshBandRows(
        documentsStream(s2, dir).select(col("doc_id"), col("text")))
        .groupBy(col("band"), col("bkey"))
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n")),
      OutputMode.Update(), "stream_lsh_dedup")
      .groupBy(col("band"), col("bkey"))
      .agg(min(col("rep")).as("rep_doc_id"), max(col("n")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("band").cast("int").as("band"), col("bkey"),
        col("rep_doc_id"), col("n_docs"))

  val stream_lsh_dedup_sql: String =
    s"""WITH ${graft.operators.Dedup.lshBandsCte}
       |SELECT CAST(b AS INT) AS band, bkey, min(doc_id) AS rep_doc_id,
       |  CAST(count(*) AS BIGINT) AS n_docs
       |FROM bands GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  /** Streaming INCREMENTAL LSH SERVE — the persisted corpus signature
    * table (`Dedup.persistedCorpusLshSigs`, the asset
    * `pipe_dedup_incremental_lsh` maintains) consumed by a streaming
    * ingest: arriving batch documents (source index >= the corpus split)
    * are shingled and signed IN the micro-batch, band-joined against the
    * STATIC signature table's band keys (stream-static join — the corpus
    * is never re-hashed, its bands are a projection of stored
    * signatures), candidate pairs are deduped across band collisions in
    * provider state (`dropDuplicates` on the pair), and survivors are
    * exact-Jaccard verified against shingle sets read statically. Every
    * emitted pair is independent of chunk interleaving (arrivals are
    * unique, verification is deterministic), so the incremental run
    * equals the one-shot batch screen restricted to batch-vs-corpus
    * pairs — the oracle.
    *
    * Scale: per micro-batch cost is O(batch) signing + a band-bucket join
    * whose corpus side is the compact signature table; state carries only
    * seen (batch, corpus) ID pairs. This is [[stream_ann_serve]]'s shape
    * with the lexical index in place of the vector index. */
  def stream_lsh_serve(s: SparkSession, dir: String): DataFrame =
    lshServeAgainst(s, dir,
      s"${graft.operators.Dedup.persistedCorpusLshSigs(s, dir)}/sigs",
      graft.operators.Pipeline.IncrCorpusSources, "stream_lsh_serve")

  /** The serve loop over ANY signature-table generation: `sigsTablePath`
    * is the resolved layout (corpus, folded, compacted — the lifecycle
    * verbs all publish the same `(doc_id, sh, sig)` shape), `split` is
    * the source index where arrivals begin. One definition so the
    * streaming path provably serves every generation the batch verbs
    * can produce. The layout is resolved by the CALLER on the outer
    * session: the stream runs on a cloned session with an isolated
    * SQLConf, where a runtime-set `spark.graft.index.root` is invisible
    * — resolving there would silently rebuild the corpus into staging
    * instead of serving the persisted generation. */
  private def lshServeAgainst(s: SparkSession, dir: String,
      sigsTablePath: String, split: Int, name: String): DataFrame = {
    import graft.operators.Dedup
    runToTable(s, { s2 =>
      val corpus = Dedup.readSigsTable(s2, sigsTablePath)
      // the corpus-side tables are O(N) (bands, shingle sets): they stay
      // parquet scans per micro-batch rather than memory-cached — at
      // corpus scale they do not fit executor memory, and the compact
      // signature table is exactly the artifact that makes the re-scan
      // cheap (no text, no re-hashing)
      val corpusBands = corpus
        .select(col("doc_id"), posexplode(expr(Dedup.bandKeysExpr)))
        .toDF("corpus_id", "band", "bkey")
      val arrivals = documentsStream(s2, dir)
        .filter(expr(s"CAST(substring(source, 4) AS INT) >= $split"))
        .select(col("doc_id"), col("text"))
      val cand = Dedup.lshBandRows(arrivals)
        .join(corpusBands, Seq("band", "bkey"))
        .select(col("doc_id"), col("corpus_id"))
        .dropDuplicates("doc_id", "corpus_id")
      // batch docs only (same predicate as the arrivals filter): the
      // corpus must never be re-shingled here — its hash sets come off
      // the persisted signature table below, and every candidate's
      // doc_id is a batch doc by construction
      val batchSh = Tables.documents(s2, dir)
        .filter(expr(s"CAST(substring(source, 4) AS INT) >= $split"))
        .select(col("doc_id"), graft.functions.WordShingleHashes.of(col("text"), 3).as("sh_b"))
      val corpusSh = corpus.select(col("doc_id").as("corpus_id"), col("sh").as("sh_c"))
      cand.join(batchSh, "doc_id")
        .join(corpusSh, "corpus_id")
        .withColumn("common", size(array_intersect(col("sh_b"), col("sh_c"))))
        .withColumn("union_size", size(col("sh_b")) + size(col("sh_c")) - col("common"))
        .filter(col("common") * 10 >= col("union_size") * 6)
        .select(col("doc_id"), col("corpus_id"), col("common"), col("union_size"),
          (col("common") * 1000).divide(col("union_size")).cast("long")
            .as("jaccard_per_mille"))
    }, OutputMode.Append(), name)
  }

  /** [[stream_lsh_serve]] against the FOLDED signature table
    * ([[graft.operators.Dedup.foldedLshSigs]] — corpus + filed delta
    * compacted into one layout): the serve path provably works off the
    * compaction's output, closing the lexical lifecycle the way
    * [[stream_ann_serve_merged]] closed the vector one. Arrivals begin
    * where the filed segment ends, and the oracle is the one-shot screen
    * with exactly one side past that split. */
  def stream_lsh_serve_folded(s: SparkSession, dir: String): DataFrame =
    lshServeAgainst(s, dir,
      s"${graft.operators.Dedup.foldedLshSigs(s, dir)}/sigs",
      graft.operators.Dedup.FiledBatchSplit, "stream_lsh_serve_folded")

  /** [[stream_lsh_serve]] against the takedown-COMPACTED table
    * ([[graft.operators.Dedup.compactedCorpusLshSigs]]): the last cell of
    * the verb × generation matrix — the streaming serve provably excludes
    * erased documents because its index IS the rewrite. Oracle = the
    * serve shape over the post-takedown document relation. */
  def stream_lsh_serve_compact(s: SparkSession, dir: String): DataFrame =
    lshServeAgainst(s, dir,
      s"${graft.operators.Dedup.compactedCorpusLshSigs(s, dir)}/sigs",
      graft.operators.Pipeline.IncrCorpusSources, "stream_lsh_serve_compact")

  /** The one-shot LSH pairs over `docsRel` with exactly one batch side,
    * oriented (batch doc, corpus doc). `cls` may classify from the full
    * table: a doc absent from `docsRel` appears in no pair. */
  private def lshServeSqlAt(split: Int, docsRel: String = "documents"): String =
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT * FROM (${graft.operators.Dedup.minhashLshSqlOver(docsRel)})),
       |cls AS (SELECT doc_id, CAST(substr(source, 4) AS INT) >= $split AS is_batch
       |  FROM documents)
       |SELECT CASE WHEN a.is_batch THEN doc_id_a ELSE doc_id_b END AS doc_id,
       |  CASE WHEN a.is_batch THEN doc_id_b ELSE doc_id_a END AS corpus_id,
       |  common, union_size, jaccard_per_mille
       |FROM pairs
       |JOIN cls a ON a.doc_id = pairs.doc_id_a
       |JOIN cls b ON b.doc_id = pairs.doc_id_b
       |WHERE a.is_batch != b.is_batch""".stripMargin

  lazy val stream_lsh_serve_sql: String =
    lshServeSqlAt(graft.operators.Pipeline.IncrCorpusSources)

  lazy val stream_lsh_serve_folded_sql: String =
    lshServeSqlAt(graft.operators.Dedup.FiledBatchSplit)

  lazy val stream_lsh_serve_compact_sql: String =
    lshServeSqlAt(graft.operators.Pipeline.IncrCorpusSources,
      graft.operators.Dedup.takedownSurvivorsRel)

  /** Streaming CORPUS MATERIALIZATION — the end-to-end ingest pipeline a
    * continuously-crawling corpus build runs, as ONE chained stateful
    * query: each arriving document is quality-classified in the
    * micro-batch (stateless — the [[graft.operators.TextAnalysis]] integer
    * per-mille rules), exact duplicates are dropped ACROSS micro-batch
    * boundaries (fingerprint set in RocksDB state), and the surviving
    * corpus rolls up to per-quality-class doc/token totals (second
    * stateful operator — the dedup→agg chaining shape, state in the same
    * provider). Quality class and token count are pure functions of the
    * normalized text, so every copy of a duplicate scores identically and
    * the totals are independent of WHICH copy arrived first — the
    * incremental build equals the batch build whatever the chunk
    * interleaving, and the oracle is one DISTINCT + GROUP BY. Update-mode
    * re-emissions resolve by `max_by` on the running doc count (strictly
    * increasing per class). This is the composition the primitive gates
    * exist for: what a 100 TB/day ingest actually deploys. */
  def stream_corpus(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    runToTable(s, s2 =>
      documentsStream(s2, dir)
        .select(md5(regexp_replace(trim(col("text")), "\\s+", " ")).as("fp"),
          TextAnalysis.nTokensCol.cast("long").as("n_tokens"),
          TextAnalysis.qualityClassCol.as("quality_class"))
        .dropDuplicates("fp")
        .groupBy(col("quality_class"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens")),
      OutputMode.Update(), "stream_corpus")
      .groupBy(col("quality_class"))
      .agg(max_by(struct(col("n_docs"), col("sum_tokens")), col("n_docs")).as("a"))
      .select(col("quality_class"), col("a.n_docs").as("n_docs"),
        col("a.sum_tokens").as("sum_tokens"))
  }

  val stream_corpus_sql: String =
    s"""WITH q AS (SELECT
       |    md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS fp,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |    len(list_filter(string_split_regex(trim(text), '\\s+'),
       |      t -> t IN ${graft.operators.TextAnalysis.sqlStopList})) AS stop_hits,
       |    len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS uniq
       |  FROM documents),
       |cls AS (SELECT fp, n_tokens,
       |    CASE WHEN n_tokens < 20 THEN 'too_short'
       |         WHEN (stop_hits * 1000) // n_tokens > 150 THEN 'stopword_heavy'
       |         WHEN (uniq * 1000) // n_tokens < 400 THEN 'repetitive'
       |         ELSE 'ok' END AS quality_class
       |  FROM q),
       |d AS (SELECT DISTINCT fp, n_tokens, quality_class FROM cls)
       |SELECT quality_class, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM d GROUP BY 1""".stripMargin

  /** Streaming DISTRIBUTION-DRIFT monitor — the incremental twin of
    * [[graft.operators.Pipeline.pipe_drift_report]]: the NEW corpus
    * arrives as a document stream and its per-token counts accumulate in
    * RocksDB state (the canonical streaming count aggregation — partial
    * aggregation per micro-batch before the shuffle, so a frequent token
    * costs one row per partition per batch, not one per occurrence), while
    * the LAST PUBLISHED snapshot's distribution is a static reference. At
    * any point — here, end of stream — the state joins against the
    * reference vocabulary to answer "has the mix moved since we last
    * exported?", in the same integer ppm. Counts are order-independent, so
    * the incremental report equals the batch report whatever the chunk
    * interleaving — the oracle is shared. Update-mode re-emissions resolve
    * by `max` (a token's running count is strictly increasing). State is
    * one counter per distinct token — the vocabulary, not the corpus. */
  def stream_drift(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pipeline
    val newCnt = runToTable(s, s2 =>
      documentsStream(s2, dir)
        .filter(expr("doc_id % 23 != 5"))
        .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n_new")),
      OutputMode.Update(), "stream_drift")
      .groupBy(col("tok")).agg(max(col("n_new")).as("n_new"))
    Pipeline.driftReportFrom(s, dir, newCnt)
  }

  lazy val stream_drift_sql: String = graft.operators.Pipeline.pipe_drift_report_sql

  /** KMV distinct-count sketch maintained INCREMENTALLY in streaming
    * state: the document stream's shingle hashes fold into the bounded
    * [[graft.functions.KMinDistinct]] aggregate per language, whose
    * serialized ≤k-long buffer lives in the graft RocksDB provider between
    * micro-batches — "how many distinct shingles has this corpus stream
    * carried, per language?" answered forever at k·8 bytes of state per
    * group. Hashing and estimator are the batch definitions verbatim
    * ([[graft.operators.TextAnalysis]] `kmvHashes` / `kmvEstimateCols`),
    * and k-min-distinct is a pure order statistic, so the incremental
    * sketch equals the batch sketch BIT-FOR-BIT whatever the chunk
    * interleaving — the oracle is the batch KMV SQL minus the audit
    * column. Update-mode re-emissions are resolved by `max_by` on the
    * running row count (strictly increasing per re-emitting key). */
  def stream_kmv(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val sk = runToTable(s, s2 =>
      TextAnalysis.kmvHashes(
        documentsStream(s2, dir).select(col("lang"), col("text")))
        .groupBy(col("lang"))
        .agg(graft.functions.KMinDistinct.of(col("hv"), TextAnalysis.KmvK).as("sk"),
          count(lit(1)).as("n_rows")),
      OutputMode.Update(), "stream_kmv")
      .groupBy(col("lang"))
      .agg(max_by(col("sk"), col("n_rows")).as("sk"))
    sk.select(col("lang") +: TextAnalysis.kmvEstimateCols: _*)
  }

  val stream_kmv_sql: String = {
    import graft.operators.TextAnalysis.{KmvK, KmvNum}
    s"""WITH tok AS (SELECT doc_id, lang, trim(text) tx,
       |    string_split_regex(trim(text), '\\s+') toks FROM documents),
       |sh AS (SELECT lang, unnest(${graft.operators.Dedup.shinglesD}) AS s0 FROM tok),
       |h AS (SELECT DISTINCT lang,
       |    CAST(('0x' || substr(md5(s0), 1, 15)) AS BIGINT) AS hv FROM sh),
       |r AS (SELECT lang, hv,
       |    row_number() OVER (PARTITION BY lang ORDER BY hv ASC) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS nd FROM h)
       |SELECT lang, CAST(count(*) FILTER (WHERE rn <= $KmvK) AS INT) AS n_kept,
       |  max(CASE WHEN rn = $KmvK THEN hv END) AS kth_hash,
       |  CAST(CASE WHEN max(nd) < $KmvK THEN max(nd)
       |    ELSE floor($KmvNum / CAST(max(CASE WHEN rn = $KmvK THEN hv END) AS DOUBLE))
       |  END AS BIGINT) AS est_distinct
       |FROM r GROUP BY lang""".stripMargin
  }

  /** Count-Min sketch maintained INCREMENTALLY in streaming state: the
    * document stream's token occurrences hash into the constant
    * depth×width counter grid, a complete-mode count aggregation whose
    * state (in the graft RocksDB provider) IS the sketch — bounded at
    * depth·width counters forever, however long the stream runs. The
    * final counters then audit against exact top-K term counts exactly
    * like the batch build ([[graft.operators.TextAnalysis.text_cms_counts]]
    * — same hashes via the shared [[TextAnalysis.cmsBuckets]], same oracle
    * SQL), so the gate proves the incremental sketch equals the batch
    * sketch bit-for-bit: the property that lets a 100 TB ingest keep
    * per-term stats without ever re-scanning history. */
  def stream_cms(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val counters = runToTable(s, s2 =>
      documentsStream(s2, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("t"))
        .select(posexplode(expr(TextAnalysis.cmsBuckets("t"))).as(Seq("j", "b")))
        .groupBy(col("j"), col("b")).agg(count(lit(1)).as("c")),
      OutputMode.Complete(), "stream_cms")
      // complete mode re-emits the whole grid per batch: final counter =
      // the last (= max, counts are monotone) emission per cell
      .groupBy(col("j"), col("b")).agg(max(col("c")).as("c"))
    TextAnalysis.cmsAudit(s, dir, counters)
  }

  val stream_cms_sql: String = graft.operators.TextAnalysis.text_cms_counts_sql

  /** Misra-Gries heavy hitters maintained INCREMENTALLY in streaming
    * state — the fourth mergeable sketch in the incremental≡batch family
    * (CMS grid, KMV order statistic, bottom-k quantile sample, now the MG
    * frequency summary): the document stream's tokens fold into ONE
    * [[graft.functions.HeavyKeep]] buffer held in the graft RocksDB
    * provider, ≤k counters forever however long the ingest runs. The MG
    * decrement rule is merge-tree-safe (PODS-2012; `HeavyKeepSuite` pins
    * the merge regime), so the streaming buffer — merged batch-by-batch
    * instead of partition-by-partition — carries the SAME no-false-negative
    * guarantee as the batch pass, and the batch-side exact recount of the
    * final ≤k candidates then makes the end result exactly the true heavy
    * set. Same sketch-free oracle as [[graft.operators.TextAnalysis
    * .text_heavy_hitters]]: candidates-from-stream ∘ recount ≡ batch. */
  def stream_heavy_hitters(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HeavyKeep
    import graft.operators.TextAnalysis.HeavyK
    val sketch = runToTable(s, s2 =>
      documentsStream(s2, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
        .agg(HeavyKeep.of(col("tok"), HeavyK).as("cand"), count(lit(1)).as("total")),
      OutputMode.Complete(), "stream_heavy_hitters")
      // complete mode rewrites the single global row per trigger; collapse
      // to the final emission (total is strictly increasing)
      .agg(max_by(col("cand"), col("total")).as("cand"), max(col("total")).as("total"))
    Tables.documents(s, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .join(broadcast(sketch))
      .filter(array_contains(col("cand"), col("tok")))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"), min(col("total")).as("total"))
      .filter(expr(s"cnt * ${HeavyK + 1} > total"))
      .select(col("tok"), col("cnt"))
  }

  val stream_heavy_hitters_sql: String =
    graft.operators.TextAnalysis.text_heavy_hitters_sql

  /** One staged copy of `embeddings` per scale-factor dir for the streaming
    * embedding entries (same pattern as the documents staging). */
  private val stagedEmbDirs = new graft.Memo[String]

  private def embeddingsStream(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
    fileStream(s, base.schema, stageChunks(stagedEmbDirs, dir, "graft-stream-emb-", base))
  }

  /** Streaming SEMANTIC dedup — embedding near-dup state maintained in the
    * RocksDB provider, the composition a continuously-ingesting corpus
    * pipeline actually runs (the engine's version of the reference's
    * flagship TTL'd-dedup-state use-case, reference `README.md:34-104`):
    * documents arrive as an embedding stream, each is filed to its
    * random-hyperplane LSH bucket ([[graft.operators.Lsh]], the
    * [[graft.functions.LshBits]] kernel inside the micro-batch), and a
    * per-bucket representative list in [[ListState]] decides semantic
    * duplicates ACROSS micro-batch boundaries by the SemDeDup dominated-pair
    * rule of [[graft.operators.Dedup.dedup_semantic]]: a vector is dropped
    * iff some lower-vec_id bucket-mate sits at cosine >= 0.4 (the same
    * sqrt-free `dot² >= 0.16·|a|²·|b|²` test, doubles accumulated in index
    * order exactly like [[graft.functions.VecDot]] so the three engines —
    * processor, batch Spark, DuckDB — agree bit-for-bit).
    *
    * The min-id rule makes the verdict a function of the SET of bucket
    * members, not their arrival order, and a member's `kept` flag is
    * MONOTONE non-increasing along any arrival order (new members can only
    * add dominators). The processor therefore emits a verdict row per NEW
    * member plus a retraction row for any resident member a new lower-id
    * arrival just dominated, and `bool_and` over the update-mode emissions
    * recovers the final flag whatever the chunk interleaving — which makes
    * the batch LSH-bucketed SemDeDup SQL an exact oracle (incremental ≡
    * batch, the [[stream_cms]]/[[stream_kmv]] property; suite-pinned by a
    * driver-side recompute in `StreamSemDedupSuite`).
    *
    * The final gate rows mirror [[graft.operators.Pipeline.pipe_semdedup]]'s
    * corpus rollup: join the keep-marks back to `documents` and report
    * per-language keep/drop totals.
    *
    * Scale: state per bucket is its representative list — ~64 vectors by
    * the adaptive-width target (one bucket never holds the corpus; raise
    * `spark.graft.lsh.maxBits` past 2^20 buckets for 10^8+ corpora), and
    * per-arrival work is one 64-dim dot product against each bucket
    * resident, O(target-bucket) per document with NO shuffle beyond the
    * one hash-partition on bucket id. The bucket width is pinned at query
    * build from the reference corpus count (an index parameter — a stream
    * cannot count itself; production pins it in config exactly like the
    * persisted-index path). Retraction rows keep emissions O(changes), not
    * O(state), per batch. */
  def stream_semdedup(s: SparkSession, dir: String): DataFrame = {
    val nb = graft.operators.Lsh.numBits(Tables.embeddingsCount(s, dir))
    val flags = runToTable(s, { s2 =>
      import s2.implicits._
      embeddingsStream(s2, dir)
        .select(graft.operators.Lsh.bucketCol(nb, col("embedding")).as("blk"),
          col("vec_id"), col("embedding"))
        .as[(Long, Long, Array[Float])]
        .groupByKey(_._1)
        .transformWithState(new SemDedupProcessor, TimeMode.None(), OutputMode.Update())
        .toDF("vec_id", "kept")
    }, OutputMode.Update(), "stream_semdedup")
      .groupBy(col("vec_id"))
      .agg(expr("bool_and(kept)").as("kept"))
    Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      .join(flags.withColumnRenamed("vec_id", "doc_id"), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"))
  }

  private class SemDedupProcessor
    extends StatefulProcessor[Long, (Long, Long, Array[Float]), (Long, Boolean)] {
    @transient private var members: ListState[(Long, Array[Float], Boolean)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[(Long, Array[Float], Boolean)](
        "members", Encoders.product[(Long, Array[Float], Boolean)], TTLConfig.NONE)

    // index-ordered double accumulation — [[graft.functions.VecDot]]'s exact
    // semantics, so the dominance test matches batch Spark and DuckDB
    private def dot(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }

    override def handleInputRows(blk: Long, rows: Iterator[(Long, Long, Array[Float])],
        timerValues: TimerValues): Iterator[(Long, Boolean)] = {
      val cur = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Boolean)]
      members.get().foreach(cur += _)
      val firstNew = cur.length
      rows.foreach { r => cur += ((r._2, r._3, true)) }
      val n2 = cur.map(m => dot(m._2, m._2))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
      // dominance pairs involving at least one NEW member, both directions:
      // old-old pairs were settled in earlier batches (flags never un-drop)
      var j = firstNew
      while (j < cur.length) {
        var i = 0
        while (i < cur.length) {
          if (i != j && cur(i)._1 != cur(j)._1) {
            val (lo, hi) = if (cur(i)._1 < cur(j)._1) (i, j) else (j, i)
            if (cur(hi)._3) {
              val d = dot(cur(lo)._2, cur(hi)._2)
              if (d > 0 && d * d >= 0.16 * n2(lo) * n2(hi)) {
                // a resident member dominated by a new lower-id arrival
                // emits a retraction; a new member's flag settles below
                if (hi < firstNew) out += ((cur(hi)._1, false))
                cur(hi) = (cur(hi)._1, cur(hi)._2, false)
              }
            }
          }
          i += 1
        }
        j += 1
      }
      var k = firstNew
      while (k < cur.length) { out += ((cur(k)._1, cur(k)._3)); k += 1 }
      members.put(cur.toArray)
      out.iterator
    }
  }

  val stream_semdedup_sql: String =
    s"""WITH ${graft.operators.Lsh.paramsDuck},
       |e AS MATERIALIZED (SELECT vec_id, embedding,
       |    ${graft.operators.Lsh.bucketDuck} AS blk,
       |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n2
       |  FROM embeddings, params),
       |pr AS (SELECT a.vec_id ia, b.vec_id ib,
       |    list_sum(list_transform(range(1, len(a.embedding)+1), i ->
       |      CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) AS dot,
       |    a.n2 n2a, b.n2 n2b
       |  FROM e a JOIN e b ON a.blk = b.blk AND a.vec_id < b.vec_id),
       |p AS (SELECT DISTINCT ib FROM pr WHERE dot > 0 AND dot * dot >= 0.16 * n2a * n2b),
       |m AS (SELECT e.vec_id, (p.ib IS NULL) AS kept FROM e LEFT JOIN p ON e.vec_id = p.ib)
       |SELECT d.lang, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
       |FROM documents d JOIN m ON d.doc_id = m.vec_id
       |GROUP BY 1""".stripMargin

  /** QUANTILE sketch maintained INCREMENTALLY in streaming state — the
    * per-group bottom-k-by-hash uniform sample
    * ([[graft.functions.BottomKSample]], the Mergeable Summaries random-
    * sample route): each event's (hash-of-event_id, per-mille value) pair
    * folds into a bounded ≤k-pair buffer per event type, whose serialized
    * form lives in the graft RocksDB provider between micro-batches —
    * "what are this stream's p50/p90 so far?" answered forever at k·16
    * bytes of state per group. The sample is a pure order statistic of the
    * input SET (hash-driven, no RNG), so the incremental build equals the
    * batch build BIT-FOR-BIT whatever the chunk interleaving — completing
    * the incremental≡batch sketch family (CMS counts, KMV distincts, now
    * rank statistics) — and the oracle recomputes the identical sample by
    * `row_number() OVER (ORDER BY hash)`. Rank selection is positional
    * integer arithmetic on the sorted sample (no interpolation doubles);
    * the guarantee is the classic sampling bound (rank error O(1/√k) w.h.p.
    * at k=[[QuantileK]]), traded for the merge-tree INVARIANCE that
    * deterministic-compaction sketches (GK/KLL) cannot give an
    * oracle-checked distributed build. Update-mode re-emissions resolve by
    * `max_by` on the running count, as [[stream_kmv]]. */
  private val QuantileK = 256

  def stream_quantile(s: SparkSession, dir: String): DataFrame = {
    val h = graft.operators.Dedup.h60S("concat('qs:', CAST(event_id AS STRING))", "")
    runToTable(s, s2 =>
      events(s2, dir)
        .select(col("event_type"), expr(h).as("hv"),
          floor(col("value") * 1000).cast("long").as("mille"))
        .groupBy(col("event_type"))
        .agg(graft.functions.BottomKSample.of(col("hv"), col("mille"), QuantileK).as("sample"),
          count(lit(1)).as("n_events")),
      OutputMode.Update(), "stream_quantile")
      .groupBy(col("event_type"))
      .agg(max_by(col("sample"), col("n_events")).as("sample"),
        max(col("n_events")).as("n_events"))
      .select(col("event_type"), col("n_events"),
        size(col("sample")).cast("long").as("n_sample"),
        expr("element_at(sample, CAST(((size(sample) - 1) * 50) DIV 100 + 1 AS INT))")
          .as("p50_mille"),
        expr("element_at(sample, CAST(((size(sample) - 1) * 90) DIV 100 + 1 AS INT))")
          .as("p90_mille"))
  }

  val stream_quantile_sql: String =
    s"""WITH h AS (SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS mille,
       |    CAST(('0x' || substr(md5('qs:' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
       |  FROM events),
       |tot AS (SELECT event_type, count(*) AS n_events FROM h GROUP BY 1),
       |dp AS (SELECT DISTINCT event_type, hv, mille FROM h),
       |r AS (SELECT event_type, mille,
       |    row_number() OVER (PARTITION BY event_type ORDER BY hv, mille) AS rn FROM dp),
       |s AS (SELECT event_type, mille,
       |    row_number() OVER (PARTITION BY event_type ORDER BY mille) AS mr,
       |    count(*) OVER (PARTITION BY event_type) AS m
       |  FROM r WHERE rn <= $QuantileK)
       |SELECT event_type, n_events, CAST(max(m) AS BIGINT) AS n_sample,
       |  max(CASE WHEN mr = ((m - 1) * 50) // 100 + 1 THEN mille END) AS p50_mille,
       |  max(CASE WHEN mr = ((m - 1) * 90) // 100 + 1 THEN mille END) AS p90_mille
       |FROM s JOIN tot USING (event_type)
       |GROUP BY 1, 2""".stripMargin

  /** STREAMING ANN SERVING against the persisted IVF×PQ index — the
    * online half of [[graft.operators.Similarity.sim_index_persist]]'s
    * production story: the index is trained ONCE and written as data
    * (four parquet tables), and query vectors then arrive as a STREAM,
    * each micro-batch ADC-scored against the LOADED index inside
    * `foreachBatch` — zero trainer stages ever run at serve time (the
    * serve plan is [[graft.operators.Similarity.ivfpqSearchFor]], whose
    * only corpus-side inputs are the index tables). Per-query results are
    * independent, so the union of per-batch answers IS the batch answer —
    * the oracle is the same IVF×PQ SQL as the batch search. Each batch's
    * output lands in a batch-id-stamped parquet partition (the
    * [[stream_foreach_batch]] idempotence discipline: a replayed batch
    * overwrites its own partition).
    *
    * Scale: this is micro-batch vector serving on a lake — index I/O per
    * batch is the probed cells' code rows only, the query side is the
    * batch's rows, and nothing retrains or reshuffles the corpus; the
    * steady-state cost of a serving cluster is O(queries × probes), not
    * O(corpus). */
  def stream_ann_serve(s0: SparkSession, dir: String): DataFrame =
    annServeOver(s0, dir, graft.operators.Similarity.persistedIvfpqIndex)

  /** [[stream_ann_serve]] against the MERGED layout
    * ([[graft.operators.Similarity.mergedIvfpqIndex]]): the serve half of
    * the merged-index lifecycle proof — a layout built by shard
    * concatenation must serve streaming queries exactly like the one-shot
    * build (merged ≡ one-shot row-for-row, so the oracle is shared). */
  def stream_ann_serve_merged(s0: SparkSession, dir: String): DataFrame =
    annServeOver(s0, dir, graft.operators.Similarity.mergedIvfpqIndex)

  private def annServeOver(
      s0: SparkSession, dir: String,
      idxOf: (SparkSession, String) => String): DataFrame = {
    import graft.operators.Similarity
    val s = gateSession(s0)
    val idx = idxOf(s, dir)
    val dim = Tables.embeddingsDim(s, dir)
    val outDir = graft.Staging.tempDir("graft-annserve-out-").toString
    // the QUANTIZER tables (centroids + codebook — broadcast-sized at any
    // corpus scale, k + PqM*PqK rows) pin in memory once per serve query
    // instead of being re-read per micro-batch; the O(N) per-vector tables
    // (cells, codes) deliberately stay parquet scans — at 10^10 vectors
    // they do not fit executor memory, and the probed-cell filter prunes
    // their I/O per trigger (the documented serve posture in SCALE.md)
    val cent = s.read.parquet(s"$idx/centroids").persist()
    val cells = s.read.parquet(s"$idx/cells")
    val code = s.read.parquet(s"$idx/codebook").persist()
    val codes = s.read.parquet(s"$idx/codes")
    try drain(embeddingsStream(s, dir)
      .filter(col("vec_id") < 50)
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(Similarity.ivfpqSearchFor(batch.select(col("vec_id"), col("embedding")),
          dim, cent, cells, code, codes), batchId, outDir)
      }
      .option("checkpointLocation", graft.Staging.tempDir("graft-ckpt-").toString))
    finally Seq(cent, code).foreach(_.unpersist(false))
    s.read.parquet(outDir).select(col("qid"), col("neighbor_id"), col("rank"))
  }

  /** Deterministic integer-exact training + per-query independence make
    * the streamed serve equal the one-shot batch search — shared oracle. */
  lazy val stream_ann_serve_sql: String = graft.operators.Similarity.sim_topk_ivfpq_sql

  lazy val stream_ann_serve_merged_sql: String =
    graft.operators.Similarity.sim_topk_ivfpq_sql

  /** Streaming ANN index UPDATE — the INSERT half of the persisted-index
    * lifecycle ([[stream_ann_serve]] is the query half): vectors arrive as
    * a multi-batch stream and each micro-batch files its arrivals into the
    * LOADED index (coarse cell + PQ codes via
    * [[graft.operators.Similarity.ivfpqFileFor]] — centroids and codebooks
    * read-only, zero retraining), appending the new index rows partitioned
    * by batch. Per-vector filing is a pure function of the loaded index,
    * so the union of all batches equals the one-shot build's own
    * `cells`/`codes` tables row-for-row — the oracle retrains in SQL and
    * reads the filed assignment off the full build. At 100 TB this is the
    * continuous-ingest path of a vector store: the expensive trainer ran
    * once; keeping the index current costs one broadcast join per batch
    * and appends O(arrivals) rows, never touching existing index data. */
  def stream_index_update(s0: SparkSession, dir: String): DataFrame =
    indexUpdateAgainst(s0, dir,
      graft.operators.Similarity.persistedIvfpqIndex(s0, dir))

  /** [[stream_index_update]] pointed at the MERGED layout
    * ([[graft.operators.Similarity.mergedIvfpqIndex]]): the INSERT verb
    * against the merge's output, completing verb × layout-origin
    * coverage (serve/delete/compact already run against merged). The
    * merged quantizer tables are the shared trainer's output copied at
    * merge time, so filing is bit-identical to filing against the base —
    * one shared oracle states both. The layout resolves on the CALLER's
    * session (a runtime-set index root is invisible to the stream's
    * conf-isolated clone). */
  def stream_index_update_merged(s0: SparkSession, dir: String): DataFrame =
    indexUpdateAgainst(s0, dir,
      graft.operators.Similarity.mergedIvfpqIndex(s0, dir))

  private def indexUpdateAgainst(s0: SparkSession, dir: String, idx: String): DataFrame = {
    import graft.operators.Similarity
    val s = gateSession(s0)
    val dim = Tables.embeddingsDim(s, dir)
    val outDir = graft.Staging.tempDir("graft-idxupd-out-").toString
    drain(embeddingsStream(s, dir)
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s2 = batch.sparkSession
        writeBatch(Similarity.ivfpqFileFor(batch.select(col("vec_id"), col("embedding")), dim,
          s2.read.parquet(s"$idx/centroids"), s2.read.parquet(s"$idx/codebook")),
          batchId, outDir)
      }
      .option("checkpointLocation", graft.Staging.tempDir("graft-ckpt-").toString))
    s.read.parquet(outDir).select(col("vec_id"), col("cell"), col("m"), col("cid"))
  }

  /** The filed rows of the one-shot SQL build, keyed per (vector,
    * subspace) — incremental filing must reproduce them exactly. */
  lazy val stream_index_update_sql: String =
    s"""WITH ${graft.operators.Similarity.ivfpqIndexCtesDuck}
       |SELECT cellof.vec_id, cell, CAST(m AS INT) AS m, cid
       |FROM cellof JOIN assigned USING (vec_id)""".stripMargin

  /** Streaming ANN index DELETE — the third verb of the persisted-index
    * lifecycle ([[stream_ann_serve]] queries it, [[stream_index_update]]
    * inserts into it): delete requests arrive as a multi-batch stream and
    * each micro-batch appends TOMBSTONES (batch-id-partitioned, idempotent
    * like every foreachBatch write here); serving then anti-joins the
    * accumulated tombstone table out of the index's candidate side — the
    * pre-compaction production path every vector store runs (FAISS
    * `IDSelector` / Lucene live-docs as a lake-table mask; the offline
    * rewrite twin is [[graft.operators.Similarity.sim_index_compact]],
    * which shares this gate's oracle — masked serve and compacted serve
    * must agree exactly). Tombstoning is membership-only, so the union of
    * per-batch tombstones is the batch delete set whatever the chunk
    * interleaving, and the oracle is the plain IVF×PQ search with the
    * tombstone predicate on the candidates.
    *
    * Scale: a delete costs one appended row; serve-time masking is a
    * broadcast anti-join of the (small) tombstone table against the probed
    * candidates only — no index rewrite on the delete path, the rewrite
    * being compaction's amortized job. */
  def stream_index_delete(s0: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val s = gateSession(s0)
    val idx = Similarity.persistedIvfpqIndex(s, dir)
    val dim = Tables.embeddingsDim(s, dir)
    val tombDir = graft.Staging.tempDir("graft-idxdel-tomb-").toString
    drain(embeddingsStream(s, dir)
      .filter(expr(Similarity.TombstonePred))
      .select(col("vec_id"))
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch((batch: DataFrame, batchId: Long) => writeBatch(batch, batchId, tombDir))
      .option("checkpointLocation", graft.Staging.tempDir("graft-ckpt-").toString))
    // explicit schema: a chunking that left every tombstone in one batch
    // must not make an empty-dir read unable to infer anything
    val tombs = s.read.schema("vec_id LONG").parquet(tombDir).select(col("vec_id"))
    Similarity.ivfpqSearchFor(
      Tables.embeddings(s, dir).filter(col("vec_id") < 50), dim,
      s.read.parquet(s"$idx/centroids"),
      s.read.parquet(s"$idx/cells").join(broadcast(tombs), Seq("vec_id"), "left_anti"),
      s.read.parquet(s"$idx/codebook"),
      s.read.parquet(s"$idx/codes"))
  }

  /** Masked serve ≡ compacted serve ≡ tombstone-filtered batch search. */
  lazy val stream_index_delete_sql: String =
    graft.operators.Similarity.sim_index_compact_sql

  /** STREAMING MULTIMODAL near-dup — the image-ingest twin of
    * [[stream_lsh_dedup]], extending the streaming dedup family to the
    * binary modalities: images arrive as a document stream, each is
    * decoded to its [[graft.operators.Multimodal.mm_phash]] difference
    * hash inside the micro-batch (the per-partition codec kernel — the
    * only `mapPartitions` family in the engine), banded for Hamming space
    * (4×15 bits, pigeonhole-exact for d ≤ 3), and a per-bucket resident
    * list in [[ListState]] emits a near-dup pair the moment the LATER
    * image of the pair arrives — whatever micro-batch the earlier one
    * came in. The emitted pair set is a function of the bucket's member
    * SET (every a<b pair is evaluated exactly once per shared bucket, by
    * whichever arrival completes it), so incremental ≡ batch under any
    * chunk interleaving and the batch banded join
    * ([[graft.operators.Multimodal.mm_phash_dedup]]) is an exact oracle;
    * cross-band duplicates collapse in the final group-by exactly like
    * the batch `.distinct()`.
    *
    * Scale: state per bucket is its residents' (id, hash) pairs — 16
    * bytes per image per band, the same data-bounded buckets as the
    * batch join (dims in the key keep degenerate bands apart); per
    * arrival work is one `bitCount(xor)` per bucket resident, and
    * emissions are O(matches). This is the shape of a continuously-
    * ingesting image pipeline's dedup: no rescan of the corpus, no
    * shuffle beyond the one hash-partition on bucket id. */
  def stream_mm_dedup(s: SparkSession, dir: String): DataFrame =
    runToTable(s, { s2 =>
      import s2.implicits._
      documentsStream(s2, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
        .as[(Long, Array[Byte])]
        .mapPartitions(graft.operators.Multimodal.phashPartition)
        .toDF("doc_id", "width", "height", "phash", "band16")
        .withColumn("bi", explode(array((0 to 3).map(lit(_)): _*)))
        .withColumn("bv", expr("(phash >> (bi * 15)) & 32767"))
        .select(col("width"), col("height"), col("bi"), col("bv"),
          col("doc_id"), col("phash"))
        .as[(Int, Int, Int, Long, Long, Long)]
        .groupByKey(r => (r._1, r._2, r._3, r._4))
        .transformWithState(new HammingBucketProcessor, TimeMode.None(), OutputMode.Update())
        .toDF("doc_id_a", "doc_id_b", "hamming")
    }, OutputMode.Update(), "stream_mm_dedup")
      .groupBy(col("doc_id_a"), col("doc_id_b"))
      .agg(min(col("hamming")).as("hamming"))

  lazy val stream_mm_dedup_sql: String = graft.operators.Multimodal.mm_phash_dedup_sql

  /** Per-bucket residents; a pair is emitted by its LATER arrival iff
    * Hamming ≤ 3 — one xor+popcount per (new, resident) pair. */
  private[graft] class HammingBucketProcessor
    extends StatefulProcessor[(Int, Int, Int, Long), (Int, Int, Int, Long, Long, Long), (Long, Long, Int)] {
    @transient private var members: ListState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[(Long, Long)](
        "members", Encoders.product[(Long, Long)], TTLConfig.NONE)

    override def handleInputRows(key: (Int, Int, Int, Long),
        rows: Iterator[(Int, Int, Int, Long, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Int)] = {
      val cur = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      members.get().foreach(cur += _)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
      val fresh = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      rows.foreach { r =>
        val (id, ph) = (r._5, r._6)
        var i = 0
        while (i < cur.length) {
          val (oid, oph) = cur(i)
          if (oid != id) {
            val d = java.lang.Long.bitCount(oph ^ ph)
            if (d <= 3) out += ((math.min(oid, id), math.max(oid, id), d))
          }
          i += 1
        }
        cur += ((id, ph))
        fresh += ((id, ph))
      }
      fresh.foreach(members.appendValue)
      out.iterator
    }
  }

  /** Watermarked APPEND-mode tumbling-window count — the production
    * streaming shape: the 1-hour watermark closes windows as micro-batches
    * advance, closed windows are emitted exactly once and their state is
    * EVICTED from the store (the path none of the complete/update entries
    * exercise). Over the in-order staged stream the emitted set is exactly
    * the windows whose end <= final watermark (max ts - 1 hour), which the
    * oracle computes from the same table. */
  def stream_watermark(s: SparkSession, dir: String): DataFrame =
    runToTable(s, s2 =>
      eventsOrdered(s2, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events")),
      OutputMode.Append(), "stream_watermark")
      .select(col("window.start").as("win_start"), col("event_type"), col("n_events"))

  val stream_watermark_sql: String =
    """SELECT date_trunc('hour', ts) AS win_start, event_type, count(*) AS n_events
      |FROM events
      |GROUP BY 1, 2
      |HAVING win_start + INTERVAL '1 hour' <=
      |       (SELECT max(ts) - INTERVAL '1 hour' FROM events)""".stripMargin

  /** Exactly-once FILE SINK — the production egress path the memory-sink
    * gates don't exercise: the same watermarked append-mode windowed
    * aggregation as [[stream_watermark]], committed to a parquet directory
    * through the streaming file sink's transaction log (`_spark_metadata`).
    * The read-back goes through that manifest, so files from failed or
    * speculative batch attempts are invisible — a duplicated or half-written
    * window would hash-fail the gate. At scale this is the pattern for
    * streaming into a lake: per-batch atomic manifest commits, no
    * rename-based directory races, consumers always see a consistent
    * prefix of batches. */
  def stream_file_sink(s0: SparkSession, dir: String): DataFrame = {
    val s = gateSession(s0)
    val outDir = graft.Staging.tempDir("graft-filesink-out-").toString
    drain(eventsOrdered(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n_events"))
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", graft.Staging.tempDir("graft-ckpt-").toString)
      .outputMode(OutputMode.Append()))
    s.read.parquet(outDir)
  }

  val stream_file_sink_sql: String = stream_watermark_sql

  /** `foreachBatch` — the swiss-army production sink (merge/upsert into a
    * warehouse table, one transactional write per micro-batch). Each
    * update-mode batch of the per-user running aggregate is written to the
    * same parquet directory stamped with its batch id — the idempotence
    * key: a re-run batch overwrites its own output instead of duplicating
    * it, which is exactly how foreachBatch + MERGE achieves exactly-once on
    * engines without a streaming sink. The final image (last write per key,
    * `max_by` on batch_id) must equal the plain batch aggregate — a lost,
    * re-ordered, or double-applied batch hash-fails. */
  def stream_foreach_batch(s0: SparkSession, dir: String): DataFrame = {
    val s = gateSession(s0)
    val outDir = graft.Staging.tempDir("graft-feb-out-").toString
    drain(events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value"))
      .writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch((batch: DataFrame, batchId: Long) => writeBatch(batch, batchId, outDir))
      .option("checkpointLocation", graft.Staging.tempDir("graft-ckpt-").toString))
    // Final image cast to DOUBLE: the per-row DECIMAL(18,2) sum is exact,
    // but a raw DECIMAL output hashes by its engine-specific precision
    // (Spark DECIMAL(28,2) vs DuckDB DECIMAL(38,2)) — the round-10 driver
    // hash-fail. Cents fit a double exactly far past this scale, so the
    // cast is value-identical in both engines (same as stream_union).
    s.read.parquet(outDir)
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("n_events"), col("sum_value")), col("batch_id")).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.sum_value").cast("double").as("sum_value"))
  }

  val stream_foreach_batch_sql: String =
    """SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin

  /** `dropDuplicatesWithinWatermark` — TTL-style dedup state: a key's
    * fingerprint expires once the watermark passes its event time + delay,
    * so the seen-set is bounded by the delay window instead of growing
    * forever (the difference between this and [[stream_dedup]] at 100 TB).
    * The dedup key includes the event's calendar day, so every duplicate of
    * a key lands within 24h < the 25h delay of its first occurrence — and
    * over the ordered stream a key can only be evicted once the watermark
    * (which trails arrival by 25h) passes its expiry, by which point all
    * its duplicates have arrived. Emission is therefore exactly one row per
    * distinct key while state eviction runs throughout the 30-day fixture:
    * the oracle is plain DISTINCT. */
  def stream_dedup_wm(s: SparkSession, dir: String): DataFrame =
    runToTable(s, s2 =>
      eventsOrdered(s2, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("day", date_trunc("DAY", col("ts")))
        .withWatermark("ts", "25 hours")
        .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
        .select(col("user_id"), col("event_type"), col("day")),
      OutputMode.Append(), "stream_dedup_wm")

  val stream_dedup_wm_sql: String =
    "SELECT DISTINCT user_id, event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events"

  /** Watermarked APPEND-mode session windows — [[stream_session]] runs in
    * complete mode (whole-result re-emission); this is the production path:
    * a session is emitted exactly once, when the watermark proves its gap
    * can no longer be extended, and its state (merged via the provider's
    * prefix scan) is evicted. Over the ordered stream the emitted set is
    * exactly the sessions whose end (last event + 2h gap) closed under the
    * final watermark (max ts - 1h), which the oracle's islands query
    * restates. */
  def stream_session_append(s: SparkSession, dir: String): DataFrame =
    runToTable(s, s2 =>
      eventsOrdered(s2, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "2 hours"), col("user_id"))
        .agg(count(lit(1)).as("n_events")),
      OutputMode.Append(), "stream_session_append")
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  val stream_session_append_sql: String =
    """WITH marked AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL '2 hours' THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), numbered AS (
      |  SELECT user_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, new_session DESC
      |                           ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marked
      |)
      |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
      |FROM numbered GROUP BY user_id, session_id
      |HAVING max(ts) + INTERVAL '2 hours' <=
      |       (SELECT max(ts) - INTERVAL '1 hour' FROM events)""".stripMargin

  /** transformWithState with EVENT-TIME TIMERS — sessionization as a
    * stateful processor: every batch folds its (sorted) rows into the open
    * session, emits sessions closed by an in-stream gap, and re-arms a
    * timer at last-event + gap; the timer fires through the provider's
    * range-scan timer codec once the WATERMARK passes it, flushing the
    * user's final session. Emission set = all gap-closed sessions plus
    * final sessions whose timer expired under the final watermark — the
    * oracle restates both legs over the islands query. */
  def stream_tws_timers(s: SparkSession, dir: String): DataFrame =
    runToTable(s, { s2 =>
      import s2.implicits._
      val typed = eventsOrdered(s2, dir)
        .select(col("user_id"), col("ts"))
        .withWatermark("ts", "1 hour")
        .as[(Long, java.sql.Timestamp)]
      typed.groupByKey(_._1)
        .transformWithState(new SessionTimerProcessor, TimeMode.EventTime(), OutputMode.Update())
        .toDF("user_id", "start_us", "n_events")
    }, OutputMode.Update(), "stream_tws_timers")
      .select(col("user_id"), timestamp_micros(col("start_us")).as("session_start"),
        col("n_events"))

  private val SessionGapUs = 2L * 3600 * 1000000 // 2 hours, microseconds

  private class SessionTimerProcessor
    extends StatefulProcessor[Long, (Long, java.sql.Timestamp), (Long, Long, Long)] {
    @transient private var open: ValueState[(Long, Long, Long)] = _ // (start_us, last_us, n)
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[(Long, Long, Long)](
        "open", Encoders.product[(Long, Long, Long)], TTLConfig.NONE)
    private def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    override def handleInputRows(user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      val ts = rows.map(r => micros(r._2)).toArray.sorted
      val out = Vector.newBuilder[(Long, Long, Long)]
      var (start, last, n) =
        if (open.exists()) open.get() else (ts.head, ts.head, 0L)
      ts.foreach { t =>
        if (n > 0L && t - last >= SessionGapUs) { // gap: close + start fresh
          out += ((user, start, n))
          start = t; last = t; n = 1L
        } else { last = t; n += 1L }
      }
      open.update((start, last, n))
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(last / 1000L + SessionGapUs / 1000L)
      out.result().iterator
    }
    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
      val result =
        if (open.exists()) { val (st, _, n) = open.get(); Iterator((user, st, n)) }
        else Iterator.empty
      open.clear()
      result
    }
  }

  val stream_tws_timers_sql: String =
    """WITH marked AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL '2 hours' THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), numbered AS (
      |  SELECT user_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, new_session DESC
      |                           ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marked
      |), sess AS (
      |  SELECT user_id, min(ts) AS session_start, max(ts) AS session_last,
      |         count(*) AS n_events
      |  FROM numbered GROUP BY user_id, session_id
      |), sess2 AS (
      |  SELECT *, max(session_last) OVER (PARTITION BY user_id) AS user_last FROM sess
      |)
      |SELECT user_id, session_start, n_events FROM sess2
      |WHERE session_last < user_last
      |   OR session_last + INTERVAL '2 hours' <
      |      (SELECT max(ts) - INTERVAL '1 hour' FROM events)""".stripMargin

  /** STREAMING AS-OF JOIN — the streaming twin of
    * [[graft.operators.Relational.q18_asof_join]]: each purchase is matched
    * to the same user's most recent strictly-prior click, incrementally, with
    * the per-user "latest click so far" carried across micro-batches in a
    * ValueState — the feature-backfill/attribution shape that needs custom
    * state because no built-in streaming join expresses "latest prior row".
    *
    * Exactness over the ordered stream: chunks are ts-SECOND range cuts, so
    * every (ts, event_id) tie lands in one chunk; within a batch the
    * processor sorts a user's rows by (ts, event_id) and folds — so each
    * purchase sees exactly the clicks strictly before it in the global
    * (ts, event_id) order, and the batch as-of SQL is an exact oracle. Each
    * purchase emits at most once (when processed), so the update-mode sink
    * table IS the result set.
    *
    * 100 TB posture: state is ONE (ts_us, click_id) pair per user — bounded
    * and tiny (contrast with a stream-stream join buffering whole windows of
    * both sides); per-batch work is a per-user sort of that user's rows in
    * the batch, bounded by batch size not history. */
  def stream_asof(s: SparkSession, dir: String): DataFrame =
    runToTable(s, { s2 =>
      import s2.implicits._
      val typed = eventsOrdered(s2, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
        .as[(Long, Long, String, java.sql.Timestamp)]
      typed.groupByKey(_._2)
        .transformWithState(new AsofProcessor, TimeMode.None(), OutputMode.Update())
        .toDF("purchase_id", "user_id", "click_id", "lag_us")
    }, OutputMode.Update(), "stream_asof")

  private class AsofProcessor
    extends StatefulProcessor[Long, (Long, Long, String, java.sql.Timestamp), (Long, Long, Long, Long)] {
    @transient private var lastClick: ValueState[(Long, Long)] = _ // (ts_us, click_id)
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastClick = getHandle.getValueState[(Long, Long)](
        "lastClick", Encoders.product[(Long, Long)], TTLConfig.NONE)
    private def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long, String, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      val sorted = rows.toArray.sortBy(r => (micros(r._4), r._1))
      var st = if (lastClick.exists()) Option(lastClick.get()) else None
      val out = Vector.newBuilder[(Long, Long, Long, Long)]
      sorted.foreach { case (id, _, typ, ts) =>
        val tus = micros(ts)
        if (typ == "purchase")
          st.foreach { case (cts, cid) => out += ((id, user, cid, tus - cts)) }
        else st = Some((tus, id))
      }
      st.foreach(lastClick.update)
      out.result().iterator
    }
  }

  val stream_asof_sql: String = graft.operators.Relational.q18_sql

  /** State introspection: run the per-type streaming aggregation to a
    * checkpoint, then read the final state back with the `statestore` data
    * source — the gate checks the STATE STORE CONTENTS equal the batch
    * answer, not just the sink output. */
  def stream_statestore(s: SparkSession, dir: String): DataFrame = {
    val (s2, _, ckptDir) = runStream(s, s2 =>
      events(s2, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events")),
      OutputMode.Complete(), "stream_statestore")
    // the state rows expose the operator's aggregation buffer; the count
    // buffer field is named after the function, not the output alias
    s2.read.format("statestore").load(ckptDir)
      .selectExpr("key.event_type AS event_type", "value.count AS n_events")
  }

  val stream_statestore_sql: String =
    "SELECT event_type, count(*) AS n_events FROM events GROUP BY 1"

  /** State CHANGE FEED at the gate: run the same per-type streaming count,
    * then read the checkpoint as CDC (`readChangeFeed` from batch 0 — served
    * from the changelog deltas, not a state rebuild) and reduce the update
    * stream to its final image (last update per key wins, `max_by` on
    * batch_id). Equality with the plain batch aggregate proves every
    * intermediate PUT the provider logged is decodable and the last one per
    * key equals the final state — the audit-trail path a production
    * pipeline uses for state debugging and downstream CDC export. */
  def stream_cdc(s: SparkSession, dir: String): DataFrame = {
    val (s2, _, ckptDir) = runStream(s, s2 =>
      events(s2, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events")),
      OutputMode.Complete(), "stream_cdc")
    s2.read.format("statestore")
      .option("readChangeFeed", true)
      .option("changeStartBatchId", 0)
      .load(ckptDir)
      .selectExpr("batch_id", "change_type", "key.event_type AS event_type",
        "value.count AS n")
      .groupBy(col("event_type"))
      .agg(max_by(col("n"), col("batch_id")).as("n_events"))
  }

  val stream_cdc_sql: String =
    "SELECT event_type, count(*) AS n_events FROM events GROUP BY 1"

  /** Mid-stream KILL + RESTART, gated end-to-end: run two chained stateful
    * operators (dedup → aggregation) over HALF the input chunks, stop the
    * query entirely, then restart from the same checkpoint with the rest of
    * the input. The final complete-mode answer can only be right if BOTH
    * operators' state (dedup seen-keys under operator 0, agg buffers under
    * operator 1) was durably committed by the first run and exactly
    * recovered by the second — the oracle is the plain batch answer over
    * the whole fixture, so any lost or double-counted key hash-fails.
    * (Suite-level recovery coverage lives in `StreamingConformanceSuite`;
    * this entry proves it under the driver's own gate harness.) */
  def stream_restart(s0: SparkSession, dir: String): DataFrame =
    dedupAggRestart(gateSession(s0), dir, "stream_restart", migrate = false)

  val stream_restart_sql: String =
    "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY 1"

  /** The staged chunk files of the shared events staging, name-sorted —
    * the replay units the restart/repartition gates feed in halves. */
  private def stagedEventParts(s: SparkSession, dir: String): Vector[Path] =
    partFiles(eventsStagedDir(s, dir))

  /** The dedup→agg restart topology — ONE implementation for
    * [[stream_restart]], [[stream_repartition]] and [[stream_v2_repartition]]:
    * replay half the chunks, STOP, and resume from the checkpoint over the
    * second half ([[replayInHalves]]). With `migrate`, the resume runs at
    * 16 partitions from the checkpoint [[migrateTo16]] made of the stopped
    * one. */
  private def dedupAggRestart(s: SparkSession, dir: String, name: String,
      migrate: Boolean): DataFrame = {
    var ckptDir = graft.Staging.tempDir(s"graft-$name-ckpt-").toString
    var sink = ""
    replayInHalves(stagedEventParts(s, dir)) { (inDir, phase) =>
      if (migrate && phase == 2) ckptDir = migrateTo16(s, name, ckptDir)
      sink = sinkName(name)
      drain(fileStream(s, Tables.events(s, dir).schema, inDir)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckptDir))
    }
    s.table(sink)
  }

  /** Migrate the stopped checkpoint `from` to 16 state partitions with
    * [[graft.state.StateRepartition]] and switch the session to 16;
    * returns the migrated checkpoint. `force` waives the quiescence guard:
    * the gate stopped its own query moments ago, and the guard's mtime
    * heuristic would see seconds-old batch logs. */
  private def migrateTo16(s: SparkSession, name: String, from: String): String = {
    val to = graft.Staging.tempDir(s"graft-$name-ckptB-").toString + "/migrated"
    graft.state.StateRepartition.run(s, from, to, 16, force = true)
    s.conf.set("spark.sql.shuffle.partitions", "16")
    to
  }

  /** Mid-stream OFFLINE REPARTITION, gated end-to-end: the [[stream_restart]]
    * topology (dedup → aggregation, both stateful), but between the stop and
    * the resume the checkpoint is migrated from 8 to 16 state partitions
    * with [[graft.state.StateRepartition]] — the operational move Spark
    * itself cannot make (`shuffle.partitions` is pinned at the first
    * checkpoint forever, the known trap for a long-lived job whose state
    * outgrows its day-one sizing). The resumed 16-partition query's
    * complete-mode answer equals the plain batch answer over the whole
    * fixture only if every dedup seen-key and agg buffer landed on exactly
    * the partition the new `HashPartitioning(16)` reads — one misplaced key
    * double-counts (dedup miss) or splits an aggregate (two rows per key). */
  def stream_repartition(s0: SparkSession, dir: String): DataFrame =
    dedupAggRestart(gateSession(s0), dir, "stream_repartition", migrate = true)

  val stream_repartition_sql: String =
    "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY 1"

  /** [[stream_repartition]] under CHECKPOINT FORMAT V2 — the per-commit
    * lineage-ID discipline end-to-end at the gate: phase 1 runs with
    * `checkpointFormatVersion=2` (every commit minting a lineage ID, every
    * durable file ID-suffixed), the offline migration mints fresh
    * per-partition commit IDs and rewrites the commit log's
    * `stateUniqueIds` arrays to the new width, and the resumed query
    * recovers through EXACTLY those IDs — v2 load is exact-or-fail, so a
    * wrong slot order, a mis-minted ID, or a misplaced key is a hard error
    * or a hash mismatch, never a silent fallback. */
  def stream_v2_repartition(s0: SparkSession, dir: String): DataFrame =
    dedupAggRestart(
      gateSession(s0, "spark.sql.streaming.stateStore.checkpointFormatVersion" -> "2"),
      dir, "stream_v2_repartition", migrate = true)

  val stream_v2_repartition_sql: String = stream_repartition_sql

  /** Mid-stream offline repartition of a transformWithState checkpoint —
    * [[stream_repartition]]'s harder sibling: the stateful operator here is
    * a custom [[StatefulProcessor]] holding a ValueState (per-user event
    * count) AND a MapState (per-user per-type counts), so the migration
    * must move EVERY column family of the tws store — the flat-keyed value
    * family, the composite-prefix-keyed map family, and the engine's
    * internal families — onto the new `HashPartitioning(16)` placement.
    * The resumed query's final counters equal the plain batch GROUP BY
    * only if every family landed on the partition the resumed operator
    * reads: a misplaced value-state row resets a user's count mid-stream,
    * a misplaced map row forks a (user, type) counter in two. */
  def stream_tws_repartition(s0: SparkSession, dir: String): DataFrame = {
    val s = gateSession(s0)
    import s.implicits._
    val outDir = graft.Staging.tempDir("graft-twsrepart-out-").toString
    var ckptDir = graft.Staging.tempDir("graft-twsrepart-ckpt-").toString
    // phase 1 runs at 8 partitions and STOPS entirely; phase 2 resumes at 16
    // from the migrated checkpoint. Update-mode memory sinks refuse
    // checkpoint recovery, so egress goes through the batch-id sink, keyed
    // phase * 1000 + batch id.
    replayInHalves(stagedEventParts(s, dir)) { (inDir, phase) =>
      if (phase == 2) ckptDir = migrateTo16(s, "twsrepart", ckptDir)
      drain(fileStream(s, Tables.events(s, dir).schema, inDir)
        .select(col("user_id"), col("event_type"))
        .as[(Long, String)]
        .groupByKey(_._1)
        .transformWithState(new UserTypeCountProcessor, TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "event_type", "n", "total")
        .writeStream
        .outputMode(OutputMode.Update())
        .foreachBatch((b: DataFrame, id: Long) => writeBatch(b, phase * 1000 + id, outDir))
        .option("checkpointLocation", ckptDir))
    }
    // update-mode emissions only cover keys touched in each batch: a
    // (user, type) finished in phase 1 appears only in phase-1 output.
    // Counts are monotone per key, so max over all emissions IS the final
    // image — and it is only correct if the migrated ValueState/MapState
    // rows resumed on the right partitions (a misplaced row restarts its
    // counter, and the max surfaces the stale pre-migration value).
    s.read.parquet(outDir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n"))
  }

  val stream_tws_repartition_sql: String =
    "SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2"

  /** ValueState total + MapState per-type counts per user; emits the
    * running (type, count, total) for every type touched in the batch. */
  private class UserTypeCountProcessor
    extends StatefulProcessor[Long, (Long, String), (Long, String, Long, Long)] {
    @transient private var total: ValueState[Long] = _
    @transient private var byType: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      total = getHandle.getValueState[Long]("total", Encoders.scalaLong, TTLConfig.NONE)
      byType = getHandle.getMapState[String, Long]("byType", Encoders.STRING,
        Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(user: Long, rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[(Long, String, Long, Long)] = {
      var t = if (total.exists()) total.get() else 0L
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { r =>
        t += 1
        byType.updateValue(r._2,
          (if (byType.containsKey(r._2)) byType.getValue(r._2) else 0L) + 1L)
        touched += r._2
      }
      total.update(t)
      touched.iterator.map(et => (user, et, byType.getValue(et), t))
    }
  }

  /** STREAMING funnel — the q28 conversion funnel as an online state
    * machine: per user, a `transformWithState` ValueState carries exactly
    * three timestamps (first view, first in-window click after it, first
    * in-window purchase after that) and each batch advances the machine
    * over its rows in (ts, event_id) order. Arrival order is the staged
    * stream's global-ts chunk order, under which "first qualifying seen" ==
    * "min qualifying" — so the final stage distribution equals the batch
    * funnel and the oracle IS [[graft.operators.Relational.q28_sql]]. Each
    * batch emits the user's current stage (monotone), and the gate rolls
    * the Update-mode sink up with max-per-user; state is 24 bytes per user
    * forever, where a naive streaming join tree would buffer event
    * histories. */
  def stream_funnel(s: SparkSession, dir: String): DataFrame =
    runToTable(s, { s2 =>
      import s2.implicits._
      val typed = eventsOrdered(s2, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
        .as[(Long, Long, String, java.sql.Timestamp)]
      typed.groupByKey(_._2)
        .transformWithState(new FunnelProcessor, TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "stage")
    }, OutputMode.Update(), "stream_funnel")
      .groupBy(col("user_id")).agg(max(col("stage")).as("stage"))
      .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))

  private class FunnelProcessor
    extends StatefulProcessor[Long, (Long, Long, String, java.sql.Timestamp), (Long, Int)] {
    @transient private var st: ValueState[(Long, Long, Long)] = _ // (t1, t2, t3) us; 0 = unset
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)](
        "funnel", Encoders.product[(Long, Long, Long)], TTLConfig.NONE)
    private def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long, String, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[(Long, Int)] = {
      val w = graft.operators.Relational.FunnelWindowUs
      val sorted = rows.toArray.sortBy(r => (micros(r._4), r._1))
      var (t1, t2, t3) = if (st.exists()) st.get() else (0L, 0L, 0L)
      sorted.foreach { case (_, _, typ, ts) =>
        val us = micros(ts)
        typ match {
          case "view" if t1 == 0L => t1 = us
          case "click" if t1 != 0L && t2 == 0L && us > t1 && us - t1 <= w => t2 = us
          case "purchase" if t2 != 0L && t3 == 0L && us > t2 && us - t2 <= w => t3 = us
          case _ => ()
        }
      }
      st.update((t1, t2, t3))
      val stage = if (t3 != 0L) 3 else if (t2 != 0L) 2 else if (t1 != 0L) 1 else 0
      Iterator.single((user, stage))
    }
  }

  val stream_funnel_sql: String = graft.operators.Relational.q28_sql

  /** A third staged copy for the LIMIT gate: globally (ts, event_id)-SORTED
    * chunks — each chunk is a disjoint ascending ts-range (the
    * [[eventsOrdered]] quantile bounds) sorted within, one file per chunk,
    * explicit-mtime sequenced. With one file per trigger and a
    * smaller-than-split-size chunk, each micro-batch scans ONE ordered
    * partition, so streaming `limit(n)` consumes rows in exact global
    * (ts, event_id) order — which turns the inherently arrival-order-
    * defined limit operator into a DETERMINISTIC set (the lowest n by the
    * total order) with a plain SQL oracle. Staging sorts chunk-locally
    * (range-split first), never the whole table in one task. */
  private def eventsSorted(s: SparkSession, dir: String): DataFrame =
    fileStream(s, Tables.events(s, dir).schema,
      stagedSortedDirs.getOrStage(dir)(stageEventChunks(s, dir, sortedWithin = true)))

  /** Streaming LIMIT over the sorted staging: the emitted set is exactly
    * the 100 lowest events by (ts, event_id) — a total order, so the
    * formerly rows-only gate carries a full DuckDB oracle. The one-split-
    * per-chunk premise is ENFORCED, not assumed: the query session pins
    * `maxPartitionBytes` above any chunk size, so a chunk file can never
    * split into multiple scan partitions (whose shuffle into the global
    * limit would not preserve the sort) at any scale factor. */
  def stream_limit(s: SparkSession, dir: String): DataFrame =
    runToTable(s, { s2 =>
      s2.conf.set("spark.sql.files.maxPartitionBytes", (1L << 40).toString)
      eventsSorted(s2, dir).limit(100).select(col("event_id"))
    }, OutputMode.Append(), "stream_limit")

  val stream_limit_sql: String =
    "SELECT event_id FROM events ORDER BY ts ASC, event_id ASC LIMIT 100"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_agg" -> (stream_agg(_, _)),
    "stream_union" -> (stream_union(_, _)),
    "stream_static_join" -> (stream_static_join(_, _)),
    "stream_window" -> (stream_window(_, _)),
    "stream_sliding" -> (stream_sliding(_, _)),
    "stream_session" -> (stream_session(_, _)),
    "stream_session_dynamic" -> (stream_session_dynamic(_, _)),
    "stream_dedup" -> (stream_dedup(_, _)),
    "stream_dedup_agg" -> (stream_dedup_agg(_, _)),
    "stream_join" -> (stream_join(_, _)),
    "stream_join_outer" -> (stream_join_outer(_, _)),
    "stream_join_right" -> (stream_join_right(_, _)),
    "stream_join_full" -> (stream_join_full(_, _)),
    "stream_join_inner_wm" -> (stream_join_inner_wm(_, _)),
    "stream_dedup_wm" -> (stream_dedup_wm(_, _)),
    "stream_session_append" -> (stream_session_append(_, _)),
    "stream_tws_timers" -> (stream_tws_timers(_, _)),
    "stream_asof" -> (stream_asof(_, _)),
    "stream_funnel" -> (stream_funnel(_, _)),
    "stream_fmgws" -> (stream_fmgws(_, _)),
    "stream_tws" -> (stream_tws(_, _)),
    "stream_tws_init" -> (stream_tws_init(_, _)),
    "stream_tws_map" -> (stream_tws_map(_, _)),
    "stream_tws_list" -> (stream_tws_list(_, _)),
    "stream_tws_ttl" -> (stream_tws_ttl(_, _)),
    "stream_tws_ttl_map" -> (stream_tws_ttl_map(_, _)),
    "stream_tws_ttl_list" -> (stream_tws_ttl_list(_, _)),
    "stream_dedup_ttl" -> (stream_dedup_ttl(_, _)),
    "stream_dedup_ttl_restart" -> (stream_dedup_ttl_restart(_, _)),
    "stream_tws_ttl_restart" -> (stream_tws_ttl_restart(_, _)),
    "stream_tws_evolve" -> (stream_tws_evolve(_, _)),
    "stream_tws_evolve_map" -> (stream_tws_evolve_map(_, _)),
    "stream_tws_evolve_ttl" -> (stream_tws_evolve_ttl(_, _)),
    "stream_tws_evolve_list" -> (stream_tws_evolve_list(_, _)),
    "stream_fmgws_timeout" -> (stream_fmgws_timeout(_, _)),
    "stream_statestore" -> (stream_statestore(_, _)),
    "stream_cdc" -> (stream_cdc(_, _)),
    "stream_restart" -> (stream_restart(_, _)),
    "stream_repartition" -> (stream_repartition(_, _)),
    "stream_v2_repartition" -> (stream_v2_repartition(_, _)),
    "stream_tws_repartition" -> (stream_tws_repartition(_, _)),
    "stream_watermark" -> (stream_watermark(_, _)),
    "stream_chained_agg" -> (stream_chained_agg(_, _)),
    "stream_file_sink" -> (stream_file_sink(_, _)),
    "stream_foreach_batch" -> (stream_foreach_batch(_, _)),
    "stream_doc_dedup" -> (stream_doc_dedup(_, _)),
    "stream_lsh_dedup" -> (stream_lsh_dedup(_, _)),
    "stream_lsh_serve" -> (stream_lsh_serve(_, _)),
    "stream_lsh_serve_folded" -> (stream_lsh_serve_folded(_, _)),
    "stream_lsh_serve_compact" -> (stream_lsh_serve_compact(_, _)),
    "stream_kmv" -> (stream_kmv(_, _)),
    "stream_drift" -> (stream_drift(_, _)),
    "stream_corpus" -> (stream_corpus(_, _)),
    "stream_cms" -> (stream_cms(_, _)),
    "stream_heavy_hitters" -> (stream_heavy_hitters(_, _)),
    "stream_semdedup" -> (stream_semdedup(_, _)),
    "stream_quantile" -> (stream_quantile(_, _)),
    "stream_ann_serve" -> (stream_ann_serve(_, _)),
    "stream_ann_serve_merged" -> (stream_ann_serve_merged(_, _)),
    "stream_index_update" -> (stream_index_update(_, _)),
    "stream_index_update_merged" -> (stream_index_update_merged(_, _)),
    "stream_index_delete" -> (stream_index_delete(_, _)),
    "stream_mm_dedup" -> (stream_mm_dedup(_, _)),
    "stream_limit" -> (stream_limit(_, _)))

  def oracles: Map[String, String] = Map(
    "stream_limit" -> stream_limit_sql,
    "stream_agg" -> stream_agg_sql,
    "stream_union" -> stream_union_sql,
    "stream_static_join" -> stream_static_join_sql,
    "stream_window" -> stream_window_sql,
    "stream_sliding" -> stream_sliding_sql,
    "stream_session" -> stream_session_sql,
    "stream_session_dynamic" -> stream_session_dynamic_sql,
    "stream_dedup" -> stream_dedup_sql,
    "stream_dedup_agg" -> stream_dedup_agg_sql,
    "stream_join" -> stream_join_sql,
    "stream_join_outer" -> stream_join_outer_sql,
    "stream_join_right" -> stream_join_right_sql,
    "stream_join_full" -> stream_join_full_sql,
    "stream_join_inner_wm" -> stream_join_inner_wm_sql,
    "stream_dedup_wm" -> stream_dedup_wm_sql,
    "stream_session_append" -> stream_session_append_sql,
    "stream_tws_timers" -> stream_tws_timers_sql,
    "stream_asof" -> stream_asof_sql,
    "stream_funnel" -> stream_funnel_sql,
    "stream_fmgws" -> stream_fmgws_sql,
    "stream_tws" -> stream_tws_sql,
    "stream_tws_init" -> stream_tws_init_sql,
    "stream_tws_map" -> stream_tws_map_sql,
    "stream_tws_list" -> stream_tws_list_sql,
    "stream_tws_ttl" -> stream_tws_ttl_sql,
    "stream_tws_ttl_map" -> stream_tws_ttl_map_sql,
    "stream_tws_ttl_list" -> stream_tws_ttl_list_sql,
    "stream_dedup_ttl" -> stream_dedup_ttl_sql,
    "stream_dedup_ttl_restart" -> stream_dedup_ttl_restart_sql,
    "stream_tws_ttl_restart" -> stream_tws_ttl_restart_sql,
    "stream_tws_evolve" -> stream_tws_evolve_sql,
    "stream_tws_evolve_map" -> stream_tws_evolve_map_sql,
    "stream_tws_evolve_ttl" -> stream_tws_evolve_ttl_sql,
    "stream_tws_evolve_list" -> stream_tws_evolve_list_sql,
    "stream_fmgws_timeout" -> stream_fmgws_timeout_sql,
    "stream_statestore" -> stream_statestore_sql,
    "stream_cdc" -> stream_cdc_sql,
    "stream_watermark" -> stream_watermark_sql,
    "stream_chained_agg" -> stream_chained_agg_sql,
    "stream_file_sink" -> stream_file_sink_sql,
    "stream_foreach_batch" -> stream_foreach_batch_sql,
    "stream_restart" -> stream_restart_sql,
    "stream_repartition" -> stream_repartition_sql,
    "stream_v2_repartition" -> stream_v2_repartition_sql,
    "stream_tws_repartition" -> stream_tws_repartition_sql,
    "stream_doc_dedup" -> stream_doc_dedup_sql,
    "stream_lsh_dedup" -> stream_lsh_dedup_sql,
    "stream_lsh_serve" -> stream_lsh_serve_sql,
    "stream_lsh_serve_folded" -> stream_lsh_serve_folded_sql,
    "stream_lsh_serve_compact" -> stream_lsh_serve_compact_sql,
    "stream_kmv" -> stream_kmv_sql,
    "stream_drift" -> stream_drift_sql,
    "stream_corpus" -> stream_corpus_sql,
    "stream_cms" -> stream_cms_sql,
    "stream_heavy_hitters" -> stream_heavy_hitters_sql,
    "stream_semdedup" -> stream_semdedup_sql,
    "stream_quantile" -> stream_quantile_sql,
    "stream_ann_serve" -> stream_ann_serve_sql,
    "stream_ann_serve_merged" -> stream_ann_serve_merged_sql,
    "stream_index_update" -> stream_index_update_sql,
    "stream_index_update_merged" -> stream_index_update_sql,
    "stream_index_delete" -> stream_index_delete_sql,
    "stream_mm_dedup" -> stream_mm_dedup_sql)
}
