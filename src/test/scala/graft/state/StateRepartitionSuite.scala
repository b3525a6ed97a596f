package graft.state

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Offline state repartition (SURVEY §7 operational gap: Spark pins
  * `shuffle.partitions` at the first checkpoint): for each stateful
  * topology, run HALF the input at N partitions, stop, migrate the
  * checkpoint to M partitions with [[StateRepartition]], resume at M, and
  * require the final answer to equal the uninterrupted run's. Any misplaced
  * key (wrong hash, wrong store, wrong version) surfaces as a duplicate,
  * a lost aggregate, or a missed join match.
  */
class StateRepartitionSuite extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-state-repartition")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.streaming.stateStore.providerClass",
      classOf[RocksDbStateStoreProvider].getName)
    .config("spark.ui.enabled", "false")
    .config(CheckpointGuard.QuiesceConf, "0") // suites stop their own queries
    .getOrCreate()

  override def beforeAll(): Unit = { spark; () }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ckpt(): String = graft.Staging.tempDir("graft-repart-ckpt-").toString

  /** Processing-time-mode queries self-schedule batches, so stop() can
    * interrupt one mid-commit, leaving a dangling offsets entry that the
    * tool's in-flight guard (correctly) refuses. Apply the guard's own
    * documented remedy: drop offsets entries past the last commit. */
  private def dropInFlightOffsets(ckptDir: String): Unit = {
    def ids(sub: String): Set[Long] = {
      val d = java.nio.file.Paths.get(ckptDir, sub)
      val it = Files.list(d).iterator()
      var s = Set.empty[Long]
      while (it.hasNext) {
        val n = it.next().getFileName.toString
        if (n.forall(_.isDigit)) s += n.toLong
      }
      s
    }
    val last = ids("commits").max
    ids("offsets").filter(_ > last).foreach { b =>
      Files.delete(java.nio.file.Paths.get(ckptDir, "offsets", b.toString))
    }
  }

  private def runBatch(df: DataFrame, name: String, mode: OutputMode, ckptDir: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).option("checkpointLocation", ckptDir).start()
    try q.processAllAvailable() finally q.stop()
  }

  test("dedup -> agg: 4 to 8 partitions, resumed answer equals uninterrupted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val df = input.toDF().toDF("k", "v")
      .dropDuplicates("k", "v")
      .groupBy($"k").agg(sum($"v").as("total"))

    val oldCkpt = ckpt()
    input.addData(("a", 1), ("b", 2), ("c", 3))
    runBatch(df, "repart_phase1a", OutputMode.Complete(), oldCkpt)
    input.addData(("a", 1), ("a", 4), ("d", 5))
    runBatch(df, "repart_phase1b", OutputMode.Complete(), oldCkpt)

    val newCkpt = ckpt() + "/moved"
    val summary = StateRepartition.run(spark, oldCkpt, newCkpt, 8).collect()
      .map(r => (r.getAs[Long]("operatorId"), r.getAs[String]("operatorName"),
        r.getAs[Long]("keys"), r.getAs[Int]("newPartitions"), r.getAs[Long]("version")))
    // two operators (agg op 0 over 4 keys, dedup op 1 over 5 seen pairs),
    // both moved to 8 partitions at state version 2
    assert(summary.toSet === Set(
      (0L, "stateStoreSave", 4L, 8, 2L),
      (1L, "dedupe", 5L, 8, 2L)))

    // layout: every new partition holds a full snapshot at version 2
    for (op <- Seq(0, 1)) {
      val parts = new java.io.File(s"$newCkpt/state/$op").listFiles()
        .filter(f => f.isDirectory && f.getName.forall(_.isDigit)).map(_.getName.toInt).sorted
      assert(parts.toSeq === (0 until 8), s"operator $op partition dirs")
      parts.foreach { p =>
        assert(new java.io.File(s"$newCkpt/state/$op/$p/state.snapshot.2").isFile,
          s"operator $op partition $p snapshot")
      }
    }
    // the offset log's pinned conf now says 8
    val offsetText = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$newCkpt/offsets/1")), "UTF-8")
    assert(offsetText.contains("\"spark.sql.shuffle.partitions\":\"8\""))

    // resume AT 8 from the migrated checkpoint with one more batch
    input.addData(("a", 4), ("b", 7), ("e", 9))
    runBatch(df, "repart_resumed", OutputMode.Complete(), newCkpt)
    val got = spark.table("repart_resumed").as[(String, Long)].collect().toSet
    assert(got === Set(("a", 5L), ("b", 9L), ("c", 3L), ("d", 5L), ("e", 9L)))
  }

  test("dedup -> agg: scale DOWN 4 to 2 partitions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val df = input.toDF().toDF("k", "v")
      .dropDuplicates("k", "v")
      .groupBy($"k").agg(sum($"v").as("total"))

    val oldCkpt = ckpt()
    input.addData(("a", 1), ("b", 2), ("c", 3), ("d", 4))
    runBatch(df, "repart_down1", OutputMode.Complete(), oldCkpt)

    val newCkpt = ckpt() + "/moved"
    StateRepartition.run(spark, oldCkpt, newCkpt, 2)

    input.addData(("a", 1), ("a", 6), ("e", 5))
    runBatch(df, "repart_down2", OutputMode.Complete(), newCkpt)
    val got = spark.table("repart_down2").as[(String, Long)].collect().toSet
    assert(got === Set(("a", 7L), ("b", 2L), ("c", 3L), ("d", 4L), ("e", 5L)))
  }

  test("stream-stream inner join: all four stores migrate consistently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(Int, String)]
    val right = MemoryStream[(Int, String)]
    val joined = left.toDF().toDF("k", "lv")
      .join(right.toDF().toDF("k2", "rv"), expr("k = k2"))

    // append-mode restarts need a restart-capable sink (memory sink only
    // recovers in Complete mode) — write parquet, assert on the files
    def runToParquet(outDir: String, ckptDir: String): Unit = {
      val q = joined.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckptDir)
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable() finally q.stop()
    }
    val oldCkpt = ckpt()
    val out1 = ckpt() + "/out1"
    left.addData((1, "l1"), (2, "l2"))
    right.addData((1, "r1"))
    runToParquet(out1, oldCkpt)
    assert(spark.read.parquet(out1).count() === 1)

    val newCkpt = ckpt() + "/moved"
    val summary = StateRepartition.run(spark, oldCkpt, newCkpt, 8).collect()
    assert(summary.map(_.getAs[String]("storeName")).toSet === Set(
      "left-keyToNumValues", "left-keyWithIndexToValue",
      "right-keyToNumValues", "right-keyWithIndexToValue"))

    // (2, l2) sits in pre-repartition left state; (3) arrives after. Both
    // match iff the migrated stores agree with the new hash placement.
    left.addData((3, "l3"))
    right.addData((2, "r2"), (3, "r3"))
    // resume into the SAME output dir: the file sink's metadata log keeps
    // batch continuity (0 from phase 1, 1.. from the resume)
    runToParquet(out1, newCkpt)
    val got = spark.read.parquet(out1).select("k", "lv", "rv")
      .as[(Int, String, String)].collect().toSet
    assert(got === Set((1, "l1", "r1"), (2, "l2", "r2"), (3, "l3", "r3")))
  }

  test("session window (prefix-scan keys): sessions merge across the migration") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val df = input.toDF().toDF("user", "ts")
      .groupBy(session_window($"ts", "10 seconds"), $"user")
      .agg(count(lit(1)).as("n"))
      .select($"user", $"n")

    def t(s: Long) = new Timestamp(s * 1000L)
    val oldCkpt = ckpt()
    input.addData(("u1", t(1)), ("u1", t(5)), ("u2", t(3)))
    runBatch(df, "repart_sess1", OutputMode.Complete(), oldCkpt)

    val newCkpt = ckpt() + "/moved"
    val summary = StateRepartition.run(spark, oldCkpt, newCkpt, 8).collect()
    assert(summary.exists(_.getAs[String]("operatorName") == "sessionWindowStateStoreSaveExec"))

    // u1 at t=7 must MERGE into the live [1,15) session (count 3), not
    // open a fresh one — which only happens if the prefix-scanned state
    // landed on the partition the resumed query reads
    input.addData(("u1", t(7)), ("u2", t(100)))
    runBatch(df, "repart_sess2", OutputMode.Complete(), newCkpt)
    val got = spark.table("repart_sess2").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(got === Map("u1" -> Seq(3L), "u2" -> Seq(1L, 1L)))
  }

  test("flatMapGroupsWithState: per-group counters survive the migration") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val counted = input.toDS().groupByKey(identity).flatMapGroupsWithState(
      OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
      (k: String, it: Iterator[String], st: GroupState[Long]) =>
        val c = st.getOption.getOrElse(0L) + it.size
        st.update(c)
        Iterator.single((k, c))
    }
    // memory sink only recovers in Complete mode; foreachBatch recovers in
    // any mode — fold the update-mode emissions into a driver-side map
    val seen = new scala.collection.concurrent.TrieMap[String, Long]()
    def run(ckptDir: String): Unit = {
      val q = counted.writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[(String, Long)], _: Long) =>
          df.collect().foreach { case (k, c) =>
            seen.updateWith(k)(prev => Some(math.max(prev.getOrElse(0L), c)))
          }
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    val oldCkpt = ckpt()
    input.addData("a", "a", "b")
    run(oldCkpt)
    input.addData("a", "c")
    run(oldCkpt)
    assert(seen.toMap === Map("a" -> 3L, "b" -> 1L, "c" -> 1L))

    val newCkpt = ckpt() + "/moved"
    val summary = StateRepartition.run(spark, oldCkpt, newCkpt, 8).collect()
    assert(summary.map(_.getAs[String]("operatorName")).toSet === Set("flatMapGroupsWithState"))
    assert(summary.map(_.getAs[Long]("keys")).sum === 3L)

    // resumed counters continue from the migrated values, not from zero
    input.addData("a", "b", "b", "d")
    run(newCkpt)
    assert(seen.toMap === Map("a" -> 4L, "b" -> 3L, "c" -> 1L, "d" -> 1L))
  }

  test("provider migration: a stock HDFSBacked checkpoint resumes on the graft provider") {
    // phase 1 runs on Spark's DEFAULT provider — the engine a reference
    // user is migrating away from
    val stock = spark.newSession()
    stock.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    import stock.implicits._
    implicit val sqlCtx = stock.sqlContext
    val input = MemoryStream[(String, Int)]
    val df = input.toDF().toDF("k", "v").groupBy($"k").agg(sum($"v").as("total"))
    def run(sinkName: String, ckptDir: String): Unit = {
      val q = df.writeStream.format("memory").queryName(sinkName)
        .outputMode(OutputMode.Complete()).option("checkpointLocation", ckptDir).start()
      try q.processAllAvailable() finally q.stop()
    }
    val oldCkpt = ckpt()
    input.addData(("a", 1), ("b", 2))
    run("repart_prov1", oldCkpt)
    input.addData(("a", 3), ("c", 4))
    run("repart_prov2", oldCkpt)
    // stock layout: versioned .delta files, no graft snapshot names
    assert(new java.io.File(s"$oldCkpt/state/0/0/1.delta").isFile)
    assert(!new java.io.File(s"$oldCkpt/state/0/0/state.snapshot.1").exists())

    val newCkpt = ckpt() + "/moved"
    StateRepartition.run(spark, oldCkpt, newCkpt, 8)
    // migrated layout is graft snapshots, and the offset log now pins the
    // graft provider for every future restart
    assert(new java.io.File(s"$newCkpt/state/0/3/state.snapshot.2").isFile)
    val offsetText = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$newCkpt/offsets/1")), "UTF-8")
    assert(offsetText.contains(classOf[RocksDbStateStoreProvider].getName))

    input.addData(("a", 5), ("d", 6))
    run("repart_prov3", newCkpt)
    val got = stock.table("repart_prov3").as[(String, Long)].collect().toSet
    assert(got === Set(("a", 9L), ("b", 2L), ("c", 4L), ("d", 6L)))
    // the resumed batch committed through the graft provider
    val newFiles = (0 until 8).flatMap { p =>
      Option(new java.io.File(s"$newCkpt/state/0/$p").listFiles()).toSeq.flatten.map(_.getName)
    }
    assert(newFiles.exists(n => n.startsWith("state.delta.3") || n.startsWith("state.snapshot.3")),
      s"expected a graft version-3 commit, found: ${newFiles.sorted.mkString(",")}")
    assert(!newFiles.contains("3.delta"), "stock provider must not have written the resume")
  }

  test("transformWithState value+map state: 4 to 8 partitions, counters continue") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val counted = input.toDS()
      .groupByKey(_._1)
      .transformWithState(new StateRepartitionSuite.ValueMapProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("k", "tag", "n", "total")
    val seen = new scala.collection.concurrent.TrieMap[(String, String), Long]()
    val totals = new scala.collection.concurrent.TrieMap[String, Long]()
    def run(ckptDir: String): Unit = {
      val q = counted.writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach { r =>
            val k = (r.getString(0), r.getString(1))
            seen.updateWith(k)(p => Some(math.max(p.getOrElse(0L), r.getLong(2))))
            totals.updateWith(r.getString(0))(p => Some(math.max(p.getOrElse(0L), r.getLong(3))))
          }
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    val oldCkpt = ckpt()
    input.addData(("a", 1), ("a", 2), ("b", 3))
    run(oldCkpt)
    input.addData(("a", 2), ("c", 5))
    run(oldCkpt)
    assert(totals.toMap === Map("a" -> 3L, "b" -> 1L, "c" -> 1L))

    val newCkpt = ckpt() + "/moved"
    val summary = StateRepartition.run(spark, oldCkpt, newCkpt, 8).collect()
    val byCf = summary.map(r => r.getAs[String]("storeName") -> r.getAs[Long]("keys")).toMap
    assert(byCf("total") === 3L, s"value-state rows moved: $byCf")
    assert(byCf("byTag") === 4L, s"map-state rows moved: $byCf")
    assert(summary.forall(_.getAs[Int]("newPartitions") == 8))
    assert(summary.forall(_.getAs[String]("operatorName") == "transformWithStateExec"))

    // resumed counters continue from the migrated values at 8 partitions
    input.addData(("a", 1), ("b", 2), ("d", 9))
    run(newCkpt)
    assert(totals.toMap === Map("a" -> 4L, "b" -> 2L, "c" -> 1L, "d" -> 1L))
    assert(seen.toMap === Map(
      ("a", "odd") -> 2L, ("a", "even") -> 2L,
      ("b", "odd") -> 1L, ("b", "even") -> 1L,
      ("c", "odd") -> 1L, ("d", "odd") -> 1L))
  }

  test("transformWithState list state: append order survives the migration") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val listed = input.toDS()
      .groupByKey(_._1)
      .transformWithState(new StateRepartitionSuite.ListEchoProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("k", "joined")
    val last = new scala.collection.concurrent.TrieMap[String, String]()
    def run(ckptDir: String): Unit = {
      val q = listed.writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach(r => last.put(r.getString(0), r.getString(1)))
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    val oldCkpt = ckpt()
    input.addData(("a", 3), ("a", 1), ("b", 7))
    run(oldCkpt)
    input.addData(("a", 4))
    run(oldCkpt)
    assert(last("a") === "3,1,4")

    val newCkpt = ckpt() + "/moved"
    StateRepartition.run(spark, oldCkpt, newCkpt, 8)
    input.addData(("a", 1), ("b", 5))
    run(newCkpt)
    // appended AFTER the earlier elements in their original order — a
    // frame-order scramble in the migration shows up here
    assert(last("a") === "3,1,4,1")
    assert(last("b") === "7,5")
  }

  test("transformWithState timers migrate with their keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val q0 = input.toDS()
      .groupByKey(_._1)
      .transformWithState(new StateRepartitionSuite.TimerRegisteringProcessor,
        TimeMode.ProcessingTime(), OutputMode.Update())
      .toDF("k", "n")
    val oldCkpt = ckpt()
    val q = q0.writeStream.format("memory").queryName("tws_repart_timer")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", oldCkpt).start()
    // proc-time mode self-schedules batches (including empty ones racing
    // ahead of addData): wait for the sink row, then one more commit
    def waitForData(): Unit = {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      def seen: Boolean = spark.table("tws_repart_timer").count() >= 3
      while (!seen) {
        assert(System.nanoTime() < deadline, "timed out waiting for sink rows")
        Thread.sleep(100)
      }
      val commits = java.nio.file.Paths.get(oldCkpt, "commits")
      def lastCommit: Long = {
        val it = Files.list(commits).iterator()
        var m = -1L
        while (it.hasNext) {
          val n = it.next().getFileName.toString
          if (n.forall(_.isDigit)) m = math.max(m, n.toLong)
        }
        m
      }
      val seenAt = lastCommit
      while (lastCommit <= seenAt) {
        assert(System.nanoTime() < deadline, "timed out waiting for a post-data commit")
        Thread.sleep(100)
      }
    }
    try {
      input.addData(("a", 1), ("b", 2), ("c", 3))
      waitForData()
    } finally q.stop()

    def timers(ckptDir: String): Set[(String, Long)] = spark.read.format("statestore")
      .option("operatorId", "0").option("readRegisteredTimers", "true").load(ckptDir)
      .selectExpr("key.value AS k", "expiration_timestamp_ms AS ts")
      .as[(String, Long)].collect().toSet

    dropInFlightOffsets(oldCkpt)
    val before = timers(oldCkpt)
    assert(before.map(_._1) === Set("a", "b", "c"))

    val newCkpt = ckpt() + "/moved"
    val summary = StateRepartition.run(spark, oldCkpt, newCkpt, 8).collect()
    val byCf = summary.map(r => r.getAs[String]("storeName") -> r.getAs[Long]("keys")).toMap
    assert(byCf("$procTimers_keyToTimestamp") === 3L, s"timer index migrated: $byCf")
    assert(byCf("$procTimers_timestampToKey") === 3L, s"timer range index migrated: $byCf")
    assert(timers(newCkpt) === before, "registered timers identical after the move")
  }

  test("transformWithState TTL state migrates: value/map/list TTL index families routed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val df = input.toDS()
      .groupByKey(_._1)
      .transformWithState(new StateRepartitionSuite.TtlTrioProcessor,
        TimeMode.ProcessingTime(), OutputMode.Update())
      .toDF("k", "n", "tags", "vals")
    val last = new scala.collection.concurrent.TrieMap[String, (Long, String, String)]()
    // proc-time mode self-schedules batches: poll for the expected keys,
    // then one more commit so the data batch is durably committed
    def run(ckptDir: String, expectKeys: Set[String]): Unit = {
      val q = df.writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r =>
            last.put(r.getString(0), (r.getLong(1), r.getString(2), r.getString(3))))
        }.start()
      try {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (!expectKeys.subsetOf(last.keySet)) {
          assert(System.nanoTime() < deadline, "timed out waiting for TTL batch output")
          Thread.sleep(100)
        }
        val commits = java.nio.file.Paths.get(ckptDir, "commits")
        def lastCommit: Long = {
          val it = Files.list(commits).iterator()
          var m = -1L
          while (it.hasNext) {
            val n = it.next().getFileName.toString
            if (n.forall(_.isDigit)) m = math.max(m, n.toLong)
          }
          m
        }
        val seenAt = lastCommit
        while (lastCommit <= seenAt) {
          assert(System.nanoTime() < deadline, "timed out waiting for a post-data commit")
          Thread.sleep(100)
        }
      } finally q.stop()
    }

    val oldCkpt = ckpt()
    input.addData(("a", 1), ("a", 2), ("b", 3))
    run(oldCkpt, Set("a", "b"))
    assert(last("a") === ((2L, "even=1,odd=1", "1,2")))
    assert(last("b") === ((1L, "odd=1", "3")))

    dropInFlightOffsets(oldCkpt)
    val newCkpt = ckpt() + "/moved"
    val summary = StateRepartition.run(spark, oldCkpt, newCkpt, 8).collect()
    val byCf = summary.map(r => r.getAs[String]("storeName") -> r.getAs[Long]("keys")).toMap
    // the TTL secondary-index families moved with exact cardinalities:
    // one $ttl_ row per live (elementKey) — 2 keys for the value state,
    // 3 (key, tag) composites for the map state, 2 keys for the list state
    // (plus the list's min-expiry and element-count indexes)
    assert(byCf("$ttl_n") === 2L, s"value TTL index migrated: $byCf")
    assert(byCf("$ttl_byTag") === 3L, s"map TTL index migrated: $byCf")
    assert(byCf("$ttl_vals") === 2L, s"list TTL index migrated: $byCf")
    assert(byCf("$min_vals") === 2L, s"list min-expiry index migrated: $byCf")
    assert(byCf("$count_vals") === 2L, s"list count index migrated: $byCf")

    // resume at 8: carried deadlines (1 h, far from expiry) keep every
    // pre-migration value readable; new rows extend it
    last.clear()
    input.addData(("a", 5), ("c", 7))
    run(newCkpt, Set("a", "c"))
    assert(last("a") === ((3L, "even=1,odd=2", "1,2,5")))
    assert(last("c") === ((1L, "odd=1", "7")))
  }

  test("refuses an in-flight batch and a missing state dir") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val df = input.toDF().toDF("k", "v").groupBy($"k").agg(sum($"v").as("total"))
    val oldCkpt = ckpt()
    input.addData(("a", 1))
    runBatch(df, "repart_neg", OutputMode.Complete(), oldCkpt)

    // dangling offsets entry (offsets/1 with no commits/1) = in-flight batch
    Files.copy(java.nio.file.Paths.get(s"$oldCkpt/offsets/0"),
      java.nio.file.Paths.get(s"$oldCkpt/offsets/1"))
    val e = intercept[IllegalArgumentException] {
      StateRepartition.run(spark, oldCkpt, ckpt() + "/x", 8)
    }
    assert(e.getMessage.contains("in flight"))

    val e2 = intercept[IllegalArgumentException] {
      StateRepartition.run(spark, "/nonexistent/ckpt", ckpt() + "/y", 8)
    }
    assert(e2.getMessage.contains("does not exist"))
  }
}

object StateRepartitionSuite {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{ListState, MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

  /** ValueState per-key total + MapState per-tag counts. */
  class ValueMapProcessor extends StatefulProcessor[String, (String, Int), (String, String, Long, Long)] {
    @transient private var total: ValueState[Long] = _
    @transient private var byTag: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      total = getHandle.getValueState[Long]("total", Encoders.scalaLong, TTLConfig.NONE)
      byTag = getHandle.getMapState[String, Long]("byTag", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[(String, Int)],
        timerValues: TimerValues): Iterator[(String, String, Long, Long)] = {
      var t = if (total.exists()) total.get() else 0L
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { r =>
        t += 1
        val tag = if (r._2 % 2 == 0) "even" else "odd"
        byTag.updateValue(tag, (if (byTag.containsKey(tag)) byTag.getValue(tag) else 0L) + 1L)
        touched += tag
      }
      total.update(t)
      touched.iterator.map(tag => (key, tag, byTag.getValue(tag), t))
    }
  }

  /** Appends every value to ListState and echoes the joined list. */
  class ListEchoProcessor extends StatefulProcessor[String, (String, Int), (String, String)] {
    @transient private var l: ListState[Int] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      l = getHandle.getListState[Int]("vals", Encoders.scalaInt, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Int)],
        timerValues: TimerValues): Iterator[(String, String)] = {
      rows.foreach(r => l.appendValue(r._2))
      Iterator.single((key, l.get().mkString(",")))
    }
  }

  /** Registers one far-future processing-time timer per key. */
  class TimerRegisteringProcessor extends StatefulProcessor[String, (String, Int), (String, Long)] {
    @transient private var n: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      n = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Int)],
        timerValues: TimerValues): Iterator[(String, Long)] = {
      val c = (if (n.exists()) n.get() else 0L) + rows.size
      n.update(c)
      if (!getHandle.listTimers().hasNext) {
        getHandle.registerTimer(timerValues.getCurrentProcessingTimeInMs() + 24L * 3600 * 1000)
      }
      Iterator.single((key, c))
    }
  }

  /** All three TTL'd state shapes in one processor — value (OneToOne TTL
    * index), map (OneToOne over composite keys) and list (OneToMany with
    * `$min_`/`$count_` side indexes) — echoing the full state so the
    * migration suite can assert resumed-equals-uninterrupted read-back. */
  class TtlTrioProcessor
    extends StatefulProcessor[String, (String, Int), (String, Long, String, String)] {
    private val Ttl = TTLConfig(java.time.Duration.ofHours(1))
    @transient private var n: ValueState[Long] = _
    @transient private var byTag: MapState[String, Long] = _
    @transient private var vals: ListState[Int] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      n = getHandle.getValueState[Long]("n", Encoders.scalaLong, Ttl)
      byTag = getHandle.getMapState[String, Long]("byTag", Encoders.STRING,
        Encoders.scalaLong, Ttl)
      vals = getHandle.getListState[Int]("vals", Encoders.scalaInt, Ttl)
    }
    override def handleInputRows(key: String, rows: Iterator[(String, Int)],
        timerValues: TimerValues): Iterator[(String, Long, String, String)] = {
      var c = if (n.exists()) n.get() else 0L
      rows.foreach { r =>
        c += 1
        val tag = if (r._2 % 2 == 0) "even" else "odd"
        byTag.updateValue(tag,
          (if (byTag.containsKey(tag)) byTag.getValue(tag) else 0L) + 1L)
        vals.appendValue(r._2)
      }
      n.update(c)
      val tags = byTag.iterator().toSeq.sortBy(_._1)
        .map { case (t, v) => s"$t=$v" }.mkString(",")
      Iterator.single((key, c, tags, vals.get().mkString(",")))
    }
  }
}
