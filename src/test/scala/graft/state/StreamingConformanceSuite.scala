package graft.state

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end conformance: every classic stateful streaming operator (SURVEY
  * §2C) runs a real Structured Streaming query with the graft RocksDB
  * provider and must produce exactly the batch-equivalent answer. This is
  * the provider-oracle pattern the reference proved integration with
  * (`RocksDbStateStoreProviderSuite.scala:144-192`), upgraded to whole-query
  * level.
  */
class StreamingConformanceSuite extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-streaming-conformance")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.streaming.stateStore.providerClass",
      classOf[RocksDbStateStoreProvider].getName)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = { spark; () }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ckpt(): String = graft.Staging.tempDir("graft-stream-ckpt-").toString

  test("checkpoint format v2 (state store checkpoint IDs): run, restart, resume") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.checkpointFormatVersion"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "2")
    try {
      val input = MemoryStream[(String, Int)]
      val agg = input.toDF().toDF("k", "v")
        .groupBy($"k").agg(sum($"v").as("total"))
      val ckptDir = ckpt()

      def start() = agg.writeStream.format("memory").queryName("v2_sink")
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckptDir).start()

      val q1 = start()
      try {
        input.addData(("a", 1), ("b", 2))
        q1.processAllAvailable()
        input.addData(("a", 3))
        q1.processAllAvailable()
      } finally q1.stop()

      // durable state files must carry the v2 commit-ID suffix
      val stateDir = new java.io.File(s"$ckptDir/state/0/0")
      val names = Option(stateDir.listFiles()).getOrElse(Array.empty).map(_.getName)
      assert(names.exists(n => n.matches("state\\.(snapshot|delta)\\.\\d+_[0-9a-f-]{36}")),
        s"expected ID-suffixed state files, found: ${names.mkString(",")}")

      // restart from the same checkpoint: lineage resolves, state resumes
      val q2 = start()
      try {
        input.addData(("a", 10), ("c", 5))
        q2.processAllAvailable()
      } finally q2.stop()

      val result = spark.table("v2_sink").as[(String, Long)].collect().toSet
      assert(result === Set(("a", 14L), ("b", 2L), ("c", 5L)))
    } finally {
      saved.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
    }
  }

  test("chained stateful operators: dropDuplicates feeding an aggregation") {
    // two state stores in one query DAG (dedup state + agg state), both on
    // the graft provider, across multiple micro-batch commits
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val q = input.toDF().toDF("k", "v")
      .dropDuplicates("k", "v")
      .groupBy($"k").agg(sum($"v").as("total"))
      .writeStream.format("memory").queryName("chain_sink")
      .outputMode(OutputMode.Complete()).option("checkpointLocation", ckpt()).start()
    try {
      input.addData(("a", 1), ("a", 1), ("b", 2)) // duplicate within batch
      q.processAllAvailable()
      input.addData(("a", 1), ("a", 3), ("b", 2)) // duplicates across batches
      q.processAllAvailable()
    } finally q.stop()
    val result = spark.table("chain_sink").as[(String, Long)].collect().toSet
    assert(result === Set(("a", 4L), ("b", 2L))) // each distinct (k,v) counted once
  }

  test("streaming aggregation (update mode, multiple batches)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val agg = input.toDF().toDF("k", "v")
      .groupBy($"k").agg(sum($"v").as("total"), count(lit(1)).as("n"))

    val q = agg.writeStream.format("memory").queryName("agg_sink")
      .outputMode(OutputMode.Complete()).option("checkpointLocation", ckpt()).start()
    try {
      input.addData(("a", 1), ("b", 2), ("a", 3))
      q.processAllAvailable()
      input.addData(("a", 10), ("c", 5))
      q.processAllAvailable()
    } finally q.stop()

    val result = spark.table("agg_sink").as[(String, Long, Long)].collect().toSet
    assert(result === Set(("a", 14L, 3L), ("b", 2L, 1L), ("c", 5L, 1L)))
  }

  test("event-time tumbling window with watermark drops late data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    def ts(s: Int): Timestamp = new Timestamp(s * 1000L)

    val agg = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 seconds")
      .groupBy(window($"ts", "30 seconds"), $"k")
      .count()

    val q = agg.writeStream.format("memory").queryName("win_sink")
      .outputMode(OutputMode.Update()).option("checkpointLocation", ckpt()).start()
    try {
      input.addData((ts(5), "a"), (ts(10), "a"), (ts(35), "b"))
      q.processAllAvailable()
      // watermark now 35-10=25s; an event at t=40 advances it, t=1 is late (window [0,30) < 25? no:
      // window end 30 > 25 keeps state; event at t=1 still lands in live window)
      input.addData((ts(70), "b"), (ts(40), "a"))
      q.processAllAvailable()
      // watermark 60s: window [0,30) finalized; late event must be dropped
      input.addData((ts(2), "a"))
      q.processAllAvailable()
    } finally q.stop()

    val result = spark.table("win_sink")
      .select($"window.start".cast("long"), $"k", $"count")
      .as[(Long, String, Long)].collect()
      .groupBy(r => (r._1, r._2)).map { case (k, rows) => (k, rows.map(_._3).max) }
    assert(result === Map((0L, "a") -> 2L, (30L, "b") -> 1L, (30L, "a") -> 1L, (60L, "b") -> 1L))
  }

  test("streaming dropDuplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Int, String)]
    val dedup = input.toDF().toDF("id", "payload").dropDuplicates("id")

    val q = dedup.writeStream.format("memory").queryName("dedup_sink")
      .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt()).start()
    try {
      input.addData((1, "x"), (2, "y"), (1, "dup"))
      q.processAllAvailable()
      input.addData((2, "dup"), (3, "z"), (3, "dup"))
      q.processAllAvailable()
    } finally q.stop()

    val ids = spark.table("dedup_sink").select($"id").as[Int].collect().toSeq
    assert(ids.sorted === Seq(1, 2, 3))
  }

  test("stream-stream inner join with event-time constraint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Int)]
    val imps = MemoryStream[(Timestamp, Int)]
    def ts(s: Int): Timestamp = new Timestamp(s * 1000L)

    val l = imps.toDF().toDF("impTs", "adId").withWatermark("impTs", "20 seconds").alias("l")
    val r = clicks.toDF().toDF("clickTs", "cAdId").withWatermark("clickTs", "20 seconds").alias("r")
    val j = l.join(r, expr(
      "adId = cAdId AND clickTs >= impTs AND clickTs <= impTs + interval 10 seconds"))
      .select($"adId", $"impTs".cast("long").as("imp"), $"clickTs".cast("long").as("click"))

    val q = j.writeStream.format("memory").queryName("join_sink")
      .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt()).start()
    try {
      imps.addData((ts(10), 1), (ts(20), 2))
      clicks.addData((ts(15), 1))
      q.processAllAvailable()
      clicks.addData((ts(25), 2), (ts(40), 1)) // t=40 outside 10s window of imp t=10
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("join_sink").as[(Int, Long, Long)].collect().toSet
    assert(rows === Set((1, 10L, 15L), (2, 20L, 25L)))
  }

  test("flatMapGroupsWithState accumulates across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]

    val counted = input.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[Int, (String, Int)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Int)], state: GroupState[Int]) =>
          val total = state.getOption.getOrElse(0) + rows.map(_._2).sum
          state.update(total)
          Iterator((key, total))
      }

    val q = counted.toDF().toDF("k", "total").writeStream.format("memory")
      .queryName("fmgws_sink").outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt()).start()
    try {
      input.addData(("a", 1), ("a", 2), ("b", 5))
      q.processAllAvailable()
      input.addData(("a", 4), ("b", 5))
      q.processAllAvailable()
    } finally q.stop()

    val last = spark.table("fmgws_sink").as[(String, Int)].collect()
      .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).max }
    assert(last === Map("a" -> 7, "b" -> 10))
  }

  test("session window aggregation (prefix-scan path)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    def ts(s: Int): Timestamp = new Timestamp(s * 1000L)

    val sessions = input.toDF().toDF("ts", "user")
      .withWatermark("ts", "10 seconds")
      .groupBy(session_window($"ts", "10 seconds"), $"user")
      .count()

    val q = sessions.writeStream.format("memory").queryName("session_sink")
      .outputMode(OutputMode.Complete()).option("checkpointLocation", ckpt()).start()
    try {
      input.addData((ts(1), "u1"), (ts(5), "u1"), (ts(30), "u1"), (ts(3), "u2"))
      q.processAllAvailable()
      input.addData((ts(32), "u1")) // extends the 30s session
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("session_sink")
      .select($"session_window.start".cast("long"), $"user", $"count")
      .as[(Long, String, Long)].collect().toSet
    assert(rows === Set((1L, "u1", 2L), (30L, "u1", 2L), (3L, "u2", 1L)))
  }

  test("streaming global limit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Int]
    val limited = input.toDF().limit(3)

    val q = limited.writeStream.format("memory").queryName("limit_sink")
      .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt()).start()
    try {
      input.addData(1, 2)
      q.processAllAvailable()
      input.addData(3, 4, 5)
      q.processAllAvailable()
    } finally q.stop()

    assert(spark.table("limit_sink").count() === 3)
  }

  test("sliding event-time window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    def ts(s: Int): Timestamp = new Timestamp(s * 1000L)

    val agg = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 seconds")
      .groupBy(window($"ts", "20 seconds", "10 seconds"), $"k")
      .count()

    val q = agg.writeStream.format("memory").queryName("slide_sink")
      .outputMode(OutputMode.Complete()).option("checkpointLocation", ckpt()).start()
    try {
      input.addData((ts(5), "a"), (ts(15), "a"))
      q.processAllAvailable()
    } finally q.stop()

    // t=5 -> windows [-10,10),[0,20); t=15 -> [0,20),[10,30)
    val rows = spark.table("slide_sink")
      .select($"window.start".cast("long"), $"count").as[(Long, Long)].collect().toSet
    assert(rows === Set((-10L, 1L), (0L, 2L), (10L, 1L)))
  }

  test("stream-stream left outer join emits null-padded rows after eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lefts = MemoryStream[(Timestamp, Int)]
    val rights = MemoryStream[(Timestamp, Int)]
    def ts(s: Int): Timestamp = new Timestamp(s * 1000L)

    val l = lefts.toDF().toDF("lts", "k").withWatermark("lts", "5 seconds")
    val r = rights.toDF().toDF("rts", "rk").withWatermark("rts", "5 seconds")
    val j = l.join(r, expr(
      "k = rk AND rts >= lts AND rts <= lts + interval 10 seconds"), "leftOuter")
      .select($"k", $"lts".cast("long").as("lt"), $"rts".cast("long").as("rt"))

    val q = j.writeStream.format("memory").queryName("louter_sink")
      .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt()).start()
    try {
      lefts.addData((ts(10), 1), (ts(10), 2))
      rights.addData((ts(15), 1))
      q.processAllAvailable()
      // advance both watermarks far enough to finalize k=2 as unmatched
      lefts.addData((ts(100), 9))
      rights.addData((ts(100), 9))
      q.processAllAvailable()
      lefts.addData((ts(200), 8))
      rights.addData((ts(200), 8))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("louter_sink").as[(Int, Long, Option[Long])].collect().toSet
    assert(rows.contains((1, 10L, Some(15L))))
    assert(rows.contains((2, 10L, None))) // evicted unmatched -> null-padded
  }

  test("stream-stream full outer join null-pads both evicted sides") {
    // completes the join-family matrix (inner and left-outer covered above
    // and in the gate): unmatched rows from EITHER side must emit
    // null-padded once their join window closes under the watermark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lefts = MemoryStream[(Timestamp, Int)]
    val rights = MemoryStream[(Timestamp, Int)]
    def ts(s: Int): Timestamp = new Timestamp(s * 1000L)

    val l = lefts.toDF().toDF("lts", "k").withWatermark("lts", "5 seconds")
    val r = rights.toDF().toDF("rts", "rk").withWatermark("rts", "5 seconds")
    val j = l.join(r, expr(
      "k = rk AND rts >= lts AND rts <= lts + interval 10 seconds"), "fullOuter")
      .select(coalesce($"k", $"rk").as("key"),
        $"lts".cast("long").as("lt"), $"rts".cast("long").as("rt"))

    val q = j.writeStream.format("memory").queryName("fouter_sink")
      .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt()).start()
    try {
      lefts.addData((ts(10), 1), (ts(10), 2)) // k=2 will stay unmatched
      rights.addData((ts(15), 1), (ts(16), 3)) // rk=3 will stay unmatched
      q.processAllAvailable()
      lefts.addData((ts(100), 9)); rights.addData((ts(100), 9))
      q.processAllAvailable()
      lefts.addData((ts(200), 8)); rights.addData((ts(200), 8))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("fouter_sink").as[(Int, Option[Long], Option[Long])].collect().toSet
    assert(rows.contains((1, Some(10L), Some(15L)))) // matched pair
    assert(rows.contains((2, Some(10L), None))) // left evicted unmatched
    assert(rows.contains((3, None, Some(16L)))) // right evicted unmatched
  }

  test("stream-stream right outer join null-pads the evicted right side") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lefts = MemoryStream[(Timestamp, Int)]
    val rights = MemoryStream[(Timestamp, Int)]
    def ts(s: Int): Timestamp = new Timestamp(s * 1000L)

    val l = lefts.toDF().toDF("lts", "k").withWatermark("lts", "5 seconds")
    val r = rights.toDF().toDF("rts", "rk").withWatermark("rts", "5 seconds")
    val j = l.join(r, expr(
      "k = rk AND rts >= lts AND rts <= lts + interval 10 seconds"), "rightOuter")
      .select($"rk", $"lts".cast("long").as("lt"), $"rts".cast("long").as("rt"))

    val q = j.writeStream.format("memory").queryName("router_sink")
      .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt()).start()
    try {
      lefts.addData((ts(10), 1))
      rights.addData((ts(15), 1), (ts(16), 3)) // rk=3 stays unmatched
      q.processAllAvailable()
      lefts.addData((ts(100), 9)); rights.addData((ts(100), 9))
      q.processAllAvailable()
      lefts.addData((ts(200), 8)); rights.addData((ts(200), 8))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("router_sink").as[(Int, Option[Long], Long)].collect().toSet
    assert(rows.contains((1, Some(10L), 15L)))
    assert(rows.contains((3, None, 16L))) // right evicted unmatched -> null-padded left
  }

  test("watermarked inner stream-stream join evicts state without losing matches") {
    // The gate's stream_join_inner_wm contract: over in-order arrival a row
    // is only evicted once the watermark proves every possible match already
    // arrived, so output stays exactly the batch join WHILE state shrinks.
    // This test pins both halves: batch-equal output AND a positive
    // numRowsRemoved in the join operator's progress metrics.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lefts = MemoryStream[(Timestamp, Int)]
    val rights = MemoryStream[(Timestamp, Int)]
    def ts(s: Int): Timestamp = new Timestamp(s * 1000L)

    val l = lefts.toDF().toDF("lts", "k").withWatermark("lts", "5 seconds")
    val r = rights.toDF().toDF("rts", "rk").withWatermark("rts", "5 seconds")
    val j = l.join(r, expr(
      "k = rk AND rts >= lts AND rts <= lts + interval 10 seconds"))
      .select($"k", $"lts".cast("long").as("lt"), $"rts".cast("long").as("rt"))

    val q = j.writeStream.format("memory").queryName("innerwm_sink")
      .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt()).start()
    var removed = 0L
    try {
      lefts.addData((ts(10), 1)); rights.addData((ts(15), 1))
      q.processAllAvailable()
      lefts.addData((ts(100), 2)); rights.addData((ts(105), 2))
      q.processAllAvailable()
      lefts.addData((ts(300), 3)); rights.addData((ts(300), 3))
      q.processAllAvailable()
      lefts.addData((ts(500), 4)); rights.addData((ts(500), 4))
      q.processAllAvailable()
      removed = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    } finally q.stop()

    val rows = spark.table("innerwm_sink").as[(Int, Long, Long)].collect().toSet
    assert(rows === Set((1, 10L, 15L), (2, 100L, 105L), (3, 300L, 300L),
      (4, 500L, 500L)), "every batch-join match must emit despite eviction")
    assert(removed > 0, "watermark must have evicted join state rows")
  }

  test("dropDuplicatesWithinWatermark dedups inside the watermark delay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Int)]
    def ts(s: Int): Timestamp = new Timestamp(s * 1000L)

    val dedup = input.toDF().toDF("ts", "id")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("id")

    val q = dedup.writeStream.format("memory").queryName("ddww_sink")
      .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt()).start()
    try {
      input.addData((ts(1), 7), (ts(3), 7)) // duplicate within delay -> one row
      q.processAllAvailable()
      input.addData((ts(100), 1)) // advances watermark past 7's expiry
      q.processAllAvailable()
      input.addData((ts(101), 7)) // same id after expiry -> emitted again
      q.processAllAvailable()
    } finally q.stop()

    val ids = spark.table("ddww_sink").select($"id").as[Int].collect().toSeq.sorted
    assert(ids === Seq(1, 7, 7))
  }

  test("transformWithState (arbitrary state v2): ValueState + ListState") {
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState, ListState}
    import org.apache.spark.sql.Encoders
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    class RunningMax extends StatefulProcessor[String, (String, Int), (String, Int, Int)] {
      @transient private var maxState: ValueState[Int] = _
      @transient private var seen: ListState[Int] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        maxState = getHandle.getValueState[Int]("max", Encoders.scalaInt, TTLConfig.NONE)
        seen = getHandle.getListState[Int]("seen", Encoders.scalaInt, TTLConfig.NONE)
      }
      override def handleInputRows(key: String, rows: Iterator[(String, Int)],
          timerValues: TimerValues): Iterator[(String, Int, Int)] = {
        var mx = if (maxState.exists()) maxState.get() else Int.MinValue
        rows.foreach { r => mx = math.max(mx, r._2); seen.appendValue(r._2) }
        maxState.update(mx)
        Iterator((key, mx, seen.get().size))
      }
    }

    val input = MemoryStream[(String, Int)]
    val out = input.toDS()
      .groupByKey(_._1)
      .transformWithState(new RunningMax, TimeMode.None(), OutputMode.Update())

    val q = out.toDF().toDF("k", "mx", "n").writeStream.format("memory")
      .queryName("tws_sink").outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt()).start()
    try {
      input.addData(("a", 3), ("a", 7), ("b", 1))
      q.processAllAvailable()
      input.addData(("a", 5), ("b", 9))
      q.processAllAvailable()
    } finally q.stop()

    val last = spark.table("tws_sink").as[(String, Int, Int)].collect()
      .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._3) }
    assert(last("a") === (("a", 7, 3)))
    assert(last("b") === (("b", 9, 2)))
  }

  test("transformWithState processing-time timers fire through the range-scan codec") {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // The canonical idle-key-expiry pattern: every input row (re)arms a
    // short processing-time timer; when it fires, the key's final count is
    // emitted as a negative sentinel. Timer registration/expiry drives the
    // provider's range-ordered timer column family (RangeScanKeyCodec)
    // through the real operator surface.
    class IdleExpiry extends StatefulProcessor[String, (String, Int), (String, Int)] {
      @transient private var count: ValueState[Int] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        count = getHandle.getValueState[Int]("count", Encoders.scalaInt, TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[(String, Int)],
          timerValues: TimerValues): Iterator[(String, Int)] = {
        val n = (if (count.exists()) count.get() else 0) + rows.size
        count.update(n)
        // re-arm: drop any previously registered timer, schedule a new one
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(timerValues.getCurrentProcessingTimeInMs() + 200L)
        Iterator((key, n))
      }
      override def handleExpiredTimer(key: String, timerValues: TimerValues,
          expiredTimerInfo: ExpiredTimerInfo): Iterator[(String, Int)] = {
        val n = if (count.exists()) count.get() else 0
        count.clear()
        Iterator((key, -n)) // negative = emitted by timer expiry
      }
    }

    val input = MemoryStream[(String, Int)]
    val out = input.toDS()
      .groupByKey(_._1)
      .transformWithState(new IdleExpiry, TimeMode.ProcessingTime(), OutputMode.Update())

    val q = out.toDF().toDF("k", "n").writeStream.format("memory")
      .queryName("timer_sink").outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt()).start()
    try {
      input.addData(("a", 1), ("a", 1), ("b", 1))
      // With TimeMode.ProcessingTime() the engine runs micro-batches
      // back-to-back (processing time always advances, so the operator
      // always reports another batch is due) — processAllAvailable never
      // observes quiescence. Poll the sink with a deadline instead; the
      // continuous batches fire the expired timers on their own.
      def sinkRows(): Set[(String, Int)] =
        spark.table("timer_sink").as[(String, Int)].collect().toSet
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      def awaitRows(want: Set[(String, Int)]): Unit = {
        while (!want.subsetOf(sinkRows()) && System.nanoTime() < deadline)
          Thread.sleep(100)
        assert(want.subsetOf(sinkRows()), s"timed out waiting for $want, got ${sinkRows()}")
      }
      awaitRows(Set(("a", 2), ("b", 1))) // input-batch emissions
      awaitRows(Set(("a", -2), ("b", -1))) // timer-expiry emissions
    } finally q.stop()
  }

  test("transformWithState TTLConfig expires ValueState between batches") {
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // Engine-level state TTL (per-value deadlines in internal TTL column
    // families, distinct from the provider's own TTL machinery): a counter
    // with a 300 ms TTL must read as absent once its deadline passes, so a
    // key seen again later restarts from 1 instead of continuing.
    class TtlCount extends StatefulProcessor[String, (String, Int), (String, Int)] {
      @transient private var count: ValueState[Int] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        count = getHandle.getValueState[Int]("count", Encoders.scalaInt,
          TTLConfig(java.time.Duration.ofMillis(300)))
      override def handleInputRows(key: String, rows: Iterator[(String, Int)],
          timerValues: TimerValues): Iterator[(String, Int)] = {
        val n = (if (count.exists()) count.get() else 0) + rows.size
        count.update(n)
        Iterator((key, n))
      }
    }

    val input = MemoryStream[(String, Int)]
    val out = input.toDS()
      .groupByKey(_._1)
      .transformWithState(new TtlCount, TimeMode.ProcessingTime(), OutputMode.Update())

    val q = out.toDF("k", "n").writeStream.format("memory")
      .queryName("ttl_sink").outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt()).start()
    try {
      // ProcessingTime mode runs micro-batches continuously — poll the sink
      // with a deadline instead of processAllAvailable (see the timer test)
      def rows(): Seq[(String, Int)] =
        spark.table("ttl_sink").as[(String, Int)].collect().toSeq
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      def awaitRow(want: (String, Int)): Unit = {
        while (!rows().contains(want) && System.nanoTime() < deadline)
          Thread.sleep(100)
        assert(rows().contains(want), s"timed out waiting for $want, got ${rows()}")
      }
      input.addData(("a", 1), ("a", 1))
      awaitRow(("a", 2))
      Thread.sleep(600) // let the 300 ms TTL lapse (engine keeps batching)
      input.addData(("a", 1))
      awaitRow(("a", 1)) // fresh counter: the expired value read as absent
      assert(!rows().contains(("a", 3)), s"TTL'd state leaked into ${rows()}")
    } finally q.stop()
  }

  test("transformWithState event-time timers fire as the watermark advances") {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // Session-gap pattern on event time: every row re-arms a timer at
    // max-event-time + gap; the timer fires only once the WATERMARK passes
    // it (not wall clock), emitting the key's count as a negative sentinel.
    class SessionGap extends StatefulProcessor[String, (String, java.sql.Timestamp), (String, Int)] {
      @transient private var count: ValueState[Int] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        count = getHandle.getValueState[Int]("count", Encoders.scalaInt, TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[(String, java.sql.Timestamp)],
          timerValues: TimerValues): Iterator[(String, Int)] = {
        var maxTs = 0L
        var n = if (count.exists()) count.get() else 0
        rows.foreach { r => n += 1; maxTs = math.max(maxTs, r._2.getTime) }
        count.update(n)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(maxTs + 500L)
        Iterator((key, n))
      }
      override def handleExpiredTimer(key: String, timerValues: TimerValues,
          expiredTimerInfo: ExpiredTimerInfo): Iterator[(String, Int)] = {
        val n = if (count.exists()) count.get() else 0
        count.clear()
        Iterator((key, -n))
      }
    }

    val input = MemoryStream[(String, java.sql.Timestamp)]
    val out = input.toDS().toDF("k", "ts")
      .withWatermark("ts", "0 seconds")
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionGap, TimeMode.EventTime(), OutputMode.Update())

    val q = out.toDF("k", "n").writeStream.format("memory")
      .queryName("et_timer_sink").outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt()).start()
    try {
      def ts(ms: Long) = new java.sql.Timestamp(ms)
      input.addData(("a", ts(1000)), ("a", ts(1100)), ("b", ts(1000)))
      q.processAllAvailable()
      // two more batches: the first advances the watermark past the timers,
      // the second processes under the advanced watermark and fires them
      input.addData(("c", ts(100000)))
      q.processAllAvailable()
      input.addData(("c", ts(200000)))
      q.processAllAvailable()
      val rows = spark.table("et_timer_sink").as[(String, Int)].collect().toSet
      assert(Set(("a", 2), ("b", 1)).subsetOf(rows), s"input emissions missing: $rows")
      assert(Set(("a", -2), ("b", -1)).subsetOf(rows), s"timer emissions missing: $rows")
    } finally q.stop()
  }

  test("transformWithState MapState: per-key sub-maps across batches, both providers agree") {
    import org.apache.spark.sql.streaming.{MapState, StatefulProcessor, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // Per user, a map sub-keyed by event type; every batch emits the full
    // map (user, type, count). Drives the provider's prefix-scan column
    // families: MapState grouping key + user key share a composite row key.
    class PerTypeCounts extends StatefulProcessor[String, (String, String), (String, String, Int)] {
      @transient private var counts: MapState[String, Int] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        counts = getHandle.getMapState[String, Int](
          "counts", Encoders.STRING, Encoders.scalaInt, TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[(String, String)],
          timerValues: TimerValues): Iterator[(String, String, Int)] = {
        rows.foreach { r =>
          val t = r._2
          val cur = if (counts.containsKey(t)) counts.getValue(t) else 0
          counts.updateValue(t, cur + 1)
        }
        counts.iterator().map { kv => (key, kv._1, kv._2) }
      }
    }

    def runWith(providerClass: String, sinkName: String): Set[(String, String, Int)] = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", providerClass)
      val input = MemoryStream[(String, String)]
      val out = input.toDS()
        .groupByKey(_._1)
        .transformWithState(new PerTypeCounts, TimeMode.None(), OutputMode.Update())
      val q = out.toDF().toDF("u", "t", "n").writeStream.format("memory")
        .queryName(sinkName).outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt()).start()
      try {
        input.addData(("u1", "click"), ("u1", "view"), ("u2", "click"))
        q.processAllAvailable()
        input.addData(("u1", "click"), ("u2", "buy"))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(sinkName).as[(String, String, Int)].collect().toSet
    }

    val ours = runWith(classOf[RocksDbStateStoreProvider].getName, "map_ours")
    val theirs = runWith(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "map_theirs")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      classOf[RocksDbStateStoreProvider].getName)
    assert(ours === theirs)
    // final counts present: u1 {click:2, view:1}, u2 {click:1, buy:1}
    assert(Set(("u1", "click", 2), ("u1", "view", 1), ("u2", "click", 1), ("u2", "buy", 1))
      .subsetOf(ours))
  }

  test("state-metadata data source describes a graft checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val agg = input.toDF().toDF("k", "v").groupBy($"k").agg(sum($"v").as("total"))
    val checkpoint = ckpt()

    val q = agg.writeStream.format("memory").queryName("meta_sink")
      .outputMode(OutputMode.Complete()).option("checkpointLocation", checkpoint).start()
    try {
      input.addData(("a", 1), ("b", 2))
      q.processAllAvailable()
      input.addData(("a", 3))
      q.processAllAvailable()
    } finally q.stop()

    val meta = spark.read.format("state-metadata").load(checkpoint)
    val row = meta.selectExpr("operatorId", "operatorName", "stateStoreName",
      "numPartitions", "minBatchId", "maxBatchId").collect()
    assert(row.length === 1, s"expected one operator row, got ${row.mkString(";")}")
    val r = row.head
    assert(r.getLong(0) === 0L)
    assert(r.getString(1) === "stateStoreSave")
    assert(r.getString(2) === "default")
    assert(r.getInt(3) === 4) // session shuffle partitions
    assert(r.getLong(4) === 0L && r.getLong(5) === 1L) // two committed batches
  }

  test("state introspection: statestore data source reads our provider's state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val agg = input.toDF().toDF("k", "v").groupBy($"k").agg(sum($"v").as("total"))
    val checkpoint = ckpt()

    val q = agg.writeStream.format("memory").queryName("introspect_sink")
      .outputMode(OutputMode.Complete()).option("checkpointLocation", checkpoint).start()
    try {
      input.addData(("a", 1), ("b", 2), ("a", 3))
      q.processAllAvailable()
    } finally q.stop()

    // the state rows expose the operator's internal aggregation buffer; the
    // sum buffer field is named after the function, not the output alias
    val stateDf = spark.read.format("statestore").load(checkpoint)
    val rows = stateDf.selectExpr("key.k", "value.sum").as[(String, Long)].collect().toSet
    assert(rows === Set(("a", 4L), ("b", 2L)))
  }

  test("implicits: useGraftRocksDbStateStore and stateTimeout wire the confs") {
    import graft.state.implicits._
    val builder = SparkSession.builder()
    builder.useGraftRocksDbStateStore()
    // builder config is private; verify via a throwaway session in the same JVM
    // (getOrCreate returns the active session, whose conf was already set by
    // beforeAll — so assert on the session conf key instead)
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass") ===
      classOf[RocksDbStateStoreProvider].getName)

    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val root = ckpt()
    val writer = input.toDF().toDF("k", "v").groupBy($"k").count()
      .writeStream.format("memory").outputMode(OutputMode.Complete())
      .stateTimeout(spark.conf, queryName = "ttlq", expirySecs = 300, checkpointLocation = root)

    assert(spark.conf.get(s"${RocksDbConf.STATE_EXPIRY_SECS}.ttlq") === "300")
    val q = writer.start()
    try {
      input.addData(("a", 1))
      q.processAllAvailable()
      // checkpoint was extended with the query name -> provider derives "ttlq"
      assert(new java.io.File(s"$root/ttlq/state").exists())
    } finally q.stop()
    assert(spark.table("ttlq").count() === 1)
  }

  test("our provider matches the default HDFS provider on the same query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def runWith(providerClass: Option[String], sinkName: String): Set[(String, Long)] = {
      val input = MemoryStream[(Timestamp, String)]
      def ts(s: Int): Timestamp = new Timestamp(s * 1000L)
      val agg = input.toDF().toDF("ts", "k")
        .withWatermark("ts", "5 seconds")
        .groupBy($"k").count()
      val writer = agg.writeStream.format("memory").queryName(sinkName)
        .outputMode(OutputMode.Complete()).option("checkpointLocation", ckpt())
      providerClass.foreach(c =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", c))
      val q = writer.start()
      try {
        input.addData((ts(1), "a"), (ts(2), "b"), (ts(3), "a"))
        q.processAllAvailable()
        input.addData((ts(10), "a"), (ts(11), "c"))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(sinkName).as[(String, Long)].collect().toSet
    }

    val ours = runWith(None, "ours_sink") // session default = graft provider
    val theirs = runWith(
      Some("org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"),
      "theirs_sink")
    // restore session default for other tests
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      classOf[RocksDbStateStoreProvider].getName)
    assert(ours === theirs)
    assert(ours === Set(("a", 3L), ("b", 1L), ("c", 1L)))
  }

  test("session windows match the default HDFS provider (prefix-scan parity)") {
    // same-query equality on the operator family that exercises our
    // prefix-scan key codec hardest
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def runWith(providerClass: Option[String], sinkName: String): Set[(String, Long, Long)] = {
      val input = MemoryStream[(Timestamp, String)]
      def ts(s: Int): Timestamp = new Timestamp(s * 1000L)
      val agg = input.toDF().toDF("ts", "k")
        .groupBy(session_window($"ts", "5 seconds"), $"k")
        .agg(count(lit(1)).as("n"))
        .select($"k", $"session_window.start".cast("long").as("start"), $"n")
      providerClass.foreach(c =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", c))
      val q = agg.writeStream.format("memory").queryName(sinkName)
        .outputMode(OutputMode.Complete()).option("checkpointLocation", ckpt()).start()
      try {
        input.addData((ts(1), "a"), (ts(2), "a"), (ts(20), "a"), (ts(3), "b"))
        q.processAllAvailable()
        input.addData((ts(4), "a"), (ts(22), "a"), (ts(40), "b")) // extends both "a" sessions
        q.processAllAvailable()
      } finally q.stop()
      spark.table(sinkName).as[(String, Long, Long)].collect().toSet
    }

    val ours = runWith(None, "sess_ours_sink") // session default = graft provider
    val theirs = runWith(
      Some("org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"),
      "sess_theirs_sink")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      classOf[RocksDbStateStoreProvider].getName)
    assert(ours === theirs)
    // sessions: a@[1..4+5), a@[20..22+5), b@[3..3+5), b@[40..45)
    assert(ours === Set(("a", 1L, 3L), ("a", 20L, 2L), ("b", 3L, 1L), ("b", 40L, 1L)))
  }

  test("mapGroupsWithState (non-flat) accumulates across batches") {
    // the non-flat variant the reference README positions its TTL against
    // (/root/reference/README.md:36): one output row per group per batch
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val counted = input.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState[Int, (String, Int)](GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Int)], state: GroupState[Int]) =>
          val total = state.getOption.getOrElse(0) + rows.map(_._2).sum
          state.update(total)
          (key, total)
      }
    val q = counted.toDF().toDF("k", "total").writeStream.format("memory")
      .queryName("mgws_sink").outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt()).start()
    try {
      input.addData(("a", 1), ("a", 2), ("b", 5))
      q.processAllAvailable()
      input.addData(("a", 4))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("mgws_sink").as[(String, Int)].collect()
      .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).max }
    assert(last === Map("a" -> 7, "b" -> 5))
  }

  test("flatMapGroupsWithState event-time timeout evicts idle groups as the watermark advances") {
    // GroupStateTimeout-driven eviction — the engine-native mechanism the
    // reference README contrasts with its wall-clock TTL
    // (/root/reference/README.md:47); event-time timeouts are deterministic
    // because the watermark, not a clock, drives them
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    def ts(s: Int): Timestamp = new Timestamp(s * 1000L)
    val flat = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "0 seconds")
      .as[(Timestamp, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Int, (String, Int, Boolean)](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, rows: Iterator[(Timestamp, String)], state: GroupState[Int]) =>
          if (state.hasTimedOut) {
            val n = state.getOption.getOrElse(0)
            state.remove()
            Iterator((key, n, true)) // eviction emission, state gone
          } else {
            val batch = rows.toSeq
            val n = state.getOption.getOrElse(0) + batch.size
            state.update(n)
            state.setTimeoutTimestamp(batch.map(_._1.getTime).max + 5000L)
            Iterator((key, n, false))
          }
      }
    val q = flat.toDF().toDF("k", "n", "timed_out").writeStream.format("memory")
      .queryName("fmgws_et_sink").outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt()).start()
    try {
      input.addData((ts(1), "a"), (ts(2), "b")); q.processAllAvailable()
      input.addData((ts(10), "b")); q.processAllAvailable() // wm -> 2s, timeouts a@6 b@15 pending
      input.addData((ts(20), "c")); q.processAllAvailable() // wm -> 10s: "a" (6s) fires
      input.addData((ts(30), "c")); q.processAllAvailable() // wm -> 20s: "b" (15s) fires
    } finally q.stop()
    val rows = spark.table("fmgws_et_sink").as[(String, Int, Boolean)].collect()
    val evicted = rows.filter(_._3).map(r => (r._1, r._2)).toSet
    assert(evicted === Set(("a", 1), ("b", 2)),
      s"expected a and b evicted by the watermark, got ${rows.mkString(",")}")
    // c never timed out (watermark never passed its deadline)
    assert(!rows.exists(r => r._1 == "c" && r._3))
  }

  test("flatMapGroupsWithState processing-time timeout evicts idle groups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val flat = input.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[Int, (String, Int, Boolean)](
        OutputMode.Update(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (key: String, rows: Iterator[(String, Int)], state: GroupState[Int]) =>
          if (state.hasTimedOut) {
            val n = state.getOption.getOrElse(0)
            state.remove()
            Iterator((key, n, true))
          } else {
            val n = state.getOption.getOrElse(0) + rows.size
            state.update(n)
            state.setTimeoutDuration("500 milliseconds")
            Iterator((key, n, false))
          }
      }
    val q = flat.toDF().toDF("k", "n", "timed_out").writeStream.format("memory")
      .queryName("fmgws_pt_sink").outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt()).start()
    // ProcessingTimeTimeout keeps the engine scheduling batches on its own
    // (every wall-clock advance can fire a deadline), so processAllAvailable
    // never latches "no new data" — poll the sink for the eviction instead.
    def evictions(): Array[(String, Int)] =
      spark.table("fmgws_pt_sink").as[(String, Int, Boolean)].collect()
        .filter(_._3).map(r => (r._1, r._2))
    try {
      input.addData(("a", 1), ("a", 2))
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (evictions().isEmpty && System.nanoTime() < deadline) Thread.sleep(200)
    } finally q.stop()
    assert(evictions().toSet === Set(("a", 2)),
      "expected 'a' evicted by processing-time timeout after its 500ms deadline")
  }

  test("flatMapGroupsWithState seeds state from a batch initialState dataset") {
    // Batch-bootstrapped arbitrary state: a user migrating a batch job
    // seeds the streaming state from a Dataset snapshot. Keys in the seed
    // but absent from the first batches ("c") must keep their seeded value
    // until data arrives; seeded keys that do receive data ("a") must
    // accumulate ON TOP of the seed, not from zero.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val initial = Seq(("a", 100), ("c", 7)).toDS()
      .groupByKey(_._1).mapValues(_._2)
    val input = MemoryStream[(String, Int)]
    val counted = input.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[Int, (String, Int)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout(), initial) {
        (key: String, rows: Iterator[(String, Int)], state: GroupState[Int]) =>
          val total = state.getOption.getOrElse(0) + rows.map(_._2).sum
          state.update(total)
          Iterator.single((key, total))
      }
    val q = counted.toDF().toDF("k", "total").writeStream.format("memory")
      .queryName("fmgws_init_sink").outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt()).start()
    try {
      input.addData(("a", 1), ("b", 2))
      q.processAllAvailable()
      input.addData(("c", 3))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("fmgws_init_sink").as[(String, Int)].collect()
      .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).max }
    assert(last === Map("a" -> 101, "b" -> 2, "c" -> 10),
      "seeded state must survive until first data and compose with new rows")
  }

  test("mapGroupsWithState seeds state from a batch initialState dataset") {
    // Third member of the initial-state API triple (map / flatMap /
    // transformWithState): the non-flat variant with a batch seed.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val initial = Seq(("a", 100), ("c", 7)).toDS()
      .groupByKey(_._1).mapValues(_._2)
    val input = MemoryStream[(String, Int)]
    val counted = input.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState[Int, (String, Int)](
        GroupStateTimeout.NoTimeout(), initial) {
        (key: String, rows: Iterator[(String, Int)], state: GroupState[Int]) =>
          val total = state.getOption.getOrElse(0) + rows.map(_._2).sum
          state.update(total)
          (key, total)
      }
    val q = counted.toDF().toDF("k", "total").writeStream.format("memory")
      .queryName("mgws_init_sink").outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt()).start()
    try {
      input.addData(("a", 1), ("b", 2))
      q.processAllAvailable()
      input.addData(("c", 3))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("mgws_init_sink").as[(String, Int)].collect()
      .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).max }
    assert(last === Map("a" -> 101, "b" -> 2, "c" -> 10))
  }

  test("transformWithState with StatefulProcessorWithInitialState seeds ValueState") {
    import org.apache.spark.sql.streaming.{StatefulProcessorWithInitialState, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    class SeededCount extends StatefulProcessorWithInitialState[
        String, (String, Int), (String, Long), Long] {
      @transient private var total: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        total = getHandle.getValueState[Long]("total", Encoders.scalaLong, TTLConfig.NONE)
      override def handleInitialState(key: String, initialState: Long,
          timerValues: TimerValues): Unit =
        total.update(initialState)
      override def handleInputRows(key: String, rows: Iterator[(String, Int)],
          timerValues: TimerValues): Iterator[(String, Long)] = {
        val t = (if (total.exists()) total.get() else 0L) + rows.map(_._2).sum
        total.update(t)
        Iterator.single((key, t))
      }
    }

    val initial = Seq(("a", 100L), ("c", 7L)).toDS()
      .groupByKey(_._1).mapValues(_._2)
    val input = MemoryStream[(String, Int)]
    val out = input.toDS()
      .groupByKey(_._1)
      .transformWithState(new SeededCount, TimeMode.None(), OutputMode.Update(), initial)
    val q = out.toDF().toDF("k", "total").writeStream.format("memory")
      .queryName("tws_init_sink").outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt()).start()
    try {
      input.addData(("a", 1), ("b", 2))
      q.processAllAvailable()
      input.addData(("c", 3))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("tws_init_sink").as[(String, Long)].collect()
      .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).max }
    assert(last === Map("a" -> 101L, "b" -> 2L, "c" -> 10L),
      "handleInitialState seed must compose with subsequent input rows")
  }

  test("Hamming bucket residents pair across micro-batch boundaries " +
    "(pair set == batch banded join, any interleaving)") {
    import graft.streaming.StreamingQueries
    import org.apache.spark.sql.streaming.TimeMode
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 60-bit hashes in one dims-bucket; pairs within d<=3 across and within
    // chunks. Chunk split chosen so pair (1,4) spans batches 1 and 2 and
    // (2,6) spans 1 and 3 — the cross-batch state the test exists for.
    val imgs: Seq[(Long, Long)] = Seq(
      1L -> 0x0F0F0F0F0FL, 2L -> 0x123456789AL, 3L -> 0x0F0F0F0F0CL, // batch 1
      4L -> 0x0F0F0F0F0EL, 5L -> 0x7FFFFFFFFFL,                      // batch 2
      6L -> 0x123456788AL, 7L -> 0x0F0F0F0F0FL)                      // batch 3
    def banded(id: Long, ph: Long): Seq[(Int, Int, Int, Long, Long, Long)] =
      (0 to 3).map(bi => (8, 8, bi, (ph >> (bi * 15)) & 32767L, id, ph))
    val expected = (for {
      (a, pa) <- imgs; (b, pb) <- imgs if a < b
      shared = (0 to 3).exists(bi => ((pa >> (bi * 15)) & 32767L) == ((pb >> (bi * 15)) & 32767L))
      d = java.lang.Long.bitCount(pa ^ pb) if shared && d <= 3
    } yield (a, b, d)).toSet
    assert(expected.exists { case (a, b, _) => a <= 3 && b >= 4 }, "fixture must span batches")

    val input = MemoryStream[(Int, Int, Int, Long, Long, Long)]
    val q = input.toDS()
      .groupByKey(r => (r._1, r._2, r._3, r._4))
      .transformWithState(new StreamingQueries.HammingBucketProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("a", "b", "d")
      .writeStream.format("memory").queryName("hamming_sink")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt()).start()
    try {
      Seq(imgs.take(3), imgs.slice(3, 5), imgs.drop(5)).foreach { chunk =>
        input.addData(chunk.flatMap { case (id, ph) => banded(id, ph) })
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("hamming_sink").as[(Long, Long, Int)].collect().toSet
    assert(got === expected)
  }

  test("Misra-Gries buffer in streaming state keeps the heavy-hitter guarantee " +
    "across micro-batch merges (compression regime)") {
    import graft.functions.HeavyKeep
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // vocab 405 >> k=8 so streaming merges actually decrement (the gate
    // corpus never leaves the exact regime — this is the regime pin)
    val rows: Seq[String] =
      (0 until 5).flatMap(i => Seq.fill(200 - 40 * i)(s"h$i")) ++
        (0 until 400).map(i => s"tail$i")
    val k = 8
    val n = rows.size.toLong
    val trueHeavy = rows.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * (k + 1) > n }.toMap

    val input = MemoryStream[String]
    val q = input.toDF().toDF("tok")
      .agg(HeavyKeep.of(col("tok"), k).as("cand"), count(lit(1)).as("total"))
      .writeStream.format("memory").queryName("mg_stream_sink")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt()).start()
    try {
      // 7 uneven micro-batches = 7 sequential merges into RocksDB state
      rows.grouped(rows.size / 7 + 1).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()

    val row = spark.table("mg_stream_sink").collect()(0)
    val cand = row.getSeq[String](0).toSet
    assert(row.getLong(1) === n)
    assert(cand.size <= k, s"streaming summary bounded at k=$k")
    assert(trueHeavy.keySet.subsetOf(cand),
      s"streaming merge lost heavies ${trueHeavy.keySet -- cand}")
    // exact recount on top = exactly the true heavy set (the gate's shape)
    val recount = rows.filter(cand).groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * (k + 1) > n }.toMap
    assert(recount === trueHeavy)
  }

  test("tws native TTL: state reads back via the statestore source; " +
    "$ttl_ secondary-index families recorded in the checkpoint schema") {
    import org.apache.spark.sql.streaming.TimeMode
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val df = input.toDS().groupByKey(_._1)
      .transformWithState(new StateRepartitionSuite.TtlTrioProcessor,
        TimeMode.ProcessingTime(), OutputMode.Update())
      .toDF("k", "n", "tags", "vals")
    val ckptDir = ckpt()
    val seen = new scala.collection.concurrent.TrieMap[String, Long]()
    val q = df.writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => seen.put(r.getString(0), r.getLong(1)))
      }.start()
    try {
      input.addData(("a", 1), ("a", 2), ("b", 3))
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (seen.size < 2) {
        assert(System.nanoTime() < deadline, "timed out waiting for TTL batch output")
        Thread.sleep(100)
      }
      // proc-time mode: wait for one more commit so the data batch is durable
      def lastCommit: Long = Option(new java.io.File(s"$ckptDir/commits").listFiles())
        .getOrElse(Array.empty).map(_.getName).filter(_.forall(_.isDigit))
        .map(_.toLong).foldLeft(-1L)(math.max)
      val seenAt = lastCommit
      while (lastCommit <= seenAt) {
        assert(System.nanoTime() < deadline, "timed out waiting for a post-data commit")
        Thread.sleep(100)
      }
    } finally q.stop()

    // drop any dangling offsets entry the self-scheduled stop left behind
    val last = new java.io.File(s"$ckptDir/commits").listFiles()
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).max
    new java.io.File(s"$ckptDir/offsets").listFiles()
      .filter(f => f.getName.forall(_.isDigit) && f.getName.toLong > last)
      .foreach(_.delete())

    // the stock statestore reader decodes the TTL'd ValueState — wrapped
    // values (payload + expiration) must round-trip through this provider
    val read = spark.read.format("statestore")
      .option("operatorId", "0").option("stateVarName", "n").load(ckptDir)
    assert(read.columns.toSeq.contains("key"), read.schema.treeString)
    val flat = read.selectExpr("key.value AS k", "value.*")
    assert(flat.columns.toSeq.exists(_.toLowerCase.contains("ttl")),
      s"TTL'd value read-back should expose the expiration: ${flat.schema.treeString}")
    // TTL wrapping nests the payload: value = (value struct, expiration)
    val got = flat.selectExpr("k", "value.value").as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 2L, "b" -> 1L))

    // the checkpoint's v3 state-schema file records the secondary-index
    // column families the TTL machinery created in this provider
    val schemaRoot = java.nio.file.Paths.get(s"$ckptDir/state/0/_stateSchema/default")
    val schemaFiles = scala.collection.mutable.ArrayBuffer.empty[String]
    java.nio.file.Files.list(schemaRoot).forEach { p =>
      schemaFiles += new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    }
    val schemaBytes = schemaFiles.mkString("\n")
    Seq("$ttl_n", "$ttl_byTag", "$ttl_vals", "$min_vals", "$count_vals").foreach { cf =>
      assert(schemaBytes.contains(cf), s"schema file must record $cf")
    }
  }
}
