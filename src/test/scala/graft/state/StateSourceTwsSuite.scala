package graft.state

import java.nio.file.Files

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{ListState, MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** COLD `statestore`-source reads of transformWithState variables: Spark's
  * reader never calls `createColFamilyIfAbsent` — it opens the provider and
  * iterates the variable's column family directly, expecting the provider to
  * recall its own layout. The graft provider persists per-CF registration
  * records (key/value schemas + encoder spec + multi-value flag) in its meta
  * CF and auto-registers on first use, making every tws state variable —
  * value, list (order preserved), map (composite prefix keys), and
  * registered timers — readable from a checkpoint no live query has open.
  * This is both a user-facing audit path and the read half of the offline
  * tws repartition.
  */
class StateSourceTwsSuite extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-state-source-tws")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.streaming.stateStore.providerClass",
      classOf[RocksDbStateStoreProvider].getName)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = { spark; () }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  import StateSourceTwsSuite.AllStateProcessor

  test("cold statestore reads of tws value/list/map state and timers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = graft.Staging.tempDir("graft-tws-src-").toString
    val input = MemoryStream[(String, Int)]
    val q = input.toDS()
      .groupByKey(_._1)
      .transformWithState(new AllStateProcessor, TimeMode.ProcessingTime(), OutputMode.Update())
      .toDF("k", "c")
      .writeStream.format("memory").queryName("tws_src_sink")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt).start()
    // proc-time timers keep scheduling batches on their own (including
    // EMPTY ones racing ahead of addData), so neither processAllAvailable
    // nor a commit-log count identifies the data batch — poll the SINK for
    // the expected emission, then wait for one more commit so the batch
    // that produced it is durably committed before stop()
    def waitForSink(expect: (String, Long)): Unit = {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      def seen: Boolean = spark.table("tws_src_sink").as[(String, Long)]
        .collect().contains(expect)
      while (!seen) {
        assert(System.nanoTime() < deadline, s"timed out waiting for sink row $expect")
        Thread.sleep(100)
      }
      val commits = java.nio.file.Paths.get(ckpt, "commits")
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
        assert(System.nanoTime() < deadline, s"timed out waiting for commit after $seenAt")
        Thread.sleep(100)
      }
    }
    try {
      input.addData(("a", 1), ("b", 2), ("c", 3))
      waitForSink(("a", 1L))
      input.addData(("a", 4), ("d", 5))
      waitForSink(("d", 1L))
    } finally q.stop()

    def read(opts: (String, String)*) = {
      val r = spark.read.format("statestore").option("operatorId", "0")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load(ckpt)
    }

    val cnt = read("stateVarName" -> "cnt")
      .selectExpr("key.value AS k", "value.value AS c")
      .as[(String, Long)].collect().toMap
    assert(cnt === Map("a" -> 2L, "b" -> 1L, "c" -> 1L, "d" -> 1L))

    // list elements come back per key in APPEND ORDER (frame order)
    val vals = read("stateVarName" -> "vals")
      .selectExpr("key.value AS k", "list_element.value AS v")
      .as[(String, Int)].collect().toSeq
    assert(vals.filter(_._1 == "a").map(_._2) === Seq(1, 4),
      "ListState elements must decode in append order")
    assert(vals.toSet === Set(("a", 1), ("a", 4), ("b", 2), ("c", 3), ("d", 5)))

    val byTag = read("stateVarName" -> "byTag")
      .selectExpr("key.value AS k", "user_map_key.value AS tag", "user_map_value.value AS n")
      .as[(String, String, Long)].collect().toSet
    assert(byTag === Set(("a", "odd", 1L), ("a", "even", 1L), ("b", "even", 1L),
      ("c", "odd", 1L), ("d", "odd", 1L)))

    val timers = read("readRegisteredTimers" -> "true")
      .selectExpr("key.value AS k").as[String].collect().toSet
    assert(timers === Set("a", "b", "c", "d"), "every key registered a timer")
  }

  test("evolved list-state elements read back through the statestore source") {
    import scala.jdk.CollectionConverters._
    import StateSourceTwsSuite.{EvolveListP1, EvolveListP2}
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.encodingFormat", "avro")
    import s.implicits._
    val inDir = graft.Staging.tempDir("graft-evolve-src-in-")
    val ckpt = graft.Staging.tempDir("graft-evolve-src-ckpt-").toString
    var tick = System.currentTimeMillis() - 3600000L
    def stage(name: String, rows: Seq[(String, Int)]): Unit = {
      val tmp = graft.Staging.tempDir("graft-evolve-src-stage-")
      rows.toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val st = Files.list(tmp)
      val part =
        try st.iterator().asScala.find(_.getFileName.toString.startsWith("part-")).get
        finally st.close()
      val dst = inDir.resolve(name)
      Files.copy(part, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(tick))
      tick += 60000L
    }
    val schema = Seq(("x", 1)).toDF("k", "v").schema
    def input = s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString).as[(String, Int)]
    def run(out: org.apache.spark.sql.DataFrame): Unit = {
      val q = out.writeStream
        .outputMode(OutputMode.Update())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          // must process EVERY partition or the state commits fail
          // validation — noop write drains the batch without a sink
          b.write.format("noop").mode("overwrite").save()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    stage("f1.parquet", Seq(("a", 1), ("a", 2), ("b", 3)))
    run(input.groupByKey(_._1)
      .transformWithState(new EvolveListP1, TimeMode.None(), OutputMode.Update())
      .toDF("k", "n"))
    stage("f2.parquet", Seq(("a", 4)))
    run(input.groupByKey(_._1)
      .transformWithState(new EvolveListP2, TimeMode.None(), OutputMode.Update())
      .toDF("k", "n", "w"))
    // cold read of the EVOLVED list through the statestore source: the
    // multi-value framing must decode pre-evolution elements into the
    // evolved shape — the added field reads NULL through the reader
    // (Spark's built-in provider behaves identically; inside the processor
    // the non-nullable Long encoder surfaces the same null as 0) — in
    // append order, with post-evolution appends carrying their written
    // value. Nullable boxed tuple: a null w must stay observable.
    val got = s.read.format("statestore").option("operatorId", "0")
      .option("stateVarName", "vals").load(ckpt)
      .selectExpr("key.value AS k", "list_element.mille AS mille",
        "list_element.w AS w")
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(got.filter(_._1 == "a").map(t => (t._2, t._3)) ===
      Seq((1L, None), (2L, None), (4L, Some(1L))),
      "old elements must decode (mille intact, added field null) in append order")
    assert(got.toSet === Set(("a", 1L, None), ("a", 2L, None),
      ("a", 4L, Some(1L)), ("b", 3L, None)))
  }
}

object StateSourceTwsSuite {

  /** Two element generations for the list-evolution read-back test. */
  case class EvLA(mille: Long)
  case class EvLB(mille: Long, w: Long)

  class EvolveListP1 extends StatefulProcessor[String, (String, Int), (String, Long)] {
    @transient private var vals: ListState[EvLA] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      vals = getHandle.getListState[EvLA]("vals", Encoders.product[EvLA], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Int)],
        timerValues: TimerValues): Iterator[(String, Long)] = {
      var n = 0L
      rows.foreach { r => n += 1; vals.appendValue(EvLA(r._2.toLong)) }
      Iterator.single((key, n))
    }
  }

  class EvolveListP2 extends StatefulProcessor[String, (String, Int), (String, Long, Long)] {
    @transient private var vals: ListState[EvLB] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      vals = getHandle.getListState[EvLB]("vals", Encoders.product[EvLB], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Int)],
        timerValues: TimerValues): Iterator[(String, Long, Long)] = {
      var n = 0L
      rows.foreach { r => n += 1; vals.appendValue(EvLB(r._2.toLong, 1L)) }
      var w = 0L
      vals.get().foreach(v => w += v.w)
      Iterator.single((key, n, w))
    }
  }

  /** Top-level (serializable closure) — every tws state-variable type plus
    * a processing-time timer per key. */
  class AllStateProcessor extends StatefulProcessor[String, (String, Int), (String, Long)] {
    @transient private var v: ValueState[Long] = _
    @transient private var l: ListState[Int] = _
    @transient private var m: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      v = getHandle.getValueState[Long]("cnt", Encoders.scalaLong, TTLConfig.NONE)
      l = getHandle.getListState[Int]("vals", Encoders.scalaInt, TTLConfig.NONE)
      m = getHandle.getMapState[String, Long]("byTag", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[(String, Int)],
        timerValues: TimerValues): Iterator[(String, Long)] = {
      var c = if (v.exists()) v.get() else 0L
      rows.foreach { r =>
        c += 1
        l.appendValue(r._2)
        val tag = if (r._2 % 2 == 0) "even" else "odd"
        m.updateValue(tag, (if (m.containsKey(tag)) m.getValue(tag) else 0L) + 1L)
      }
      v.update(c)
      getHandle.registerTimer(timerValues.getCurrentProcessingTimeInMs() + 3600L * 1000)
      Iterator.single((key, c))
    }
  }
}
