package graft.state

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[StateRepartition]]/[[StateCompact]] under checkpoint-format v2: the
  * commit log carries per-(operator, partition, store) commit IDs sized to
  * the partition count, so the tools must mint fresh importer IDs and
  * rewrite the `stateUniqueIds` arrays to the new width — and a resumed
  * query recovers through exactly those IDs (v2 load is exact-or-fail, so
  * any mismatch is a hard error, not a silent wrong answer). */
class StateRepartitionV2Suite extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-state-repartition-v2")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.streaming.stateStore.providerClass",
      classOf[RocksDbStateStoreProvider].getName)
    .config("spark.sql.streaming.stateStore.checkpointFormatVersion", "2")
    .config("spark.ui.enabled", "false")
    .config(CheckpointGuard.QuiesceConf, "0") // suites stop their own queries
    .getOrCreate()

  override def beforeAll(): Unit = { spark; () }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ckpt(): String = graft.Staging.tempDir("graft-repart-v2-").toString

  private def runBatch(df: DataFrame, name: String, mode: OutputMode, ckptDir: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).option("checkpointLocation", ckptDir).start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Parse `commits/<batch>`: (version line, stateUniqueIds as op -> [part][slot]). */
  private def commitIds(ckptDir: String, batch: Long): (String, Map[String, Seq[Seq[String]]]) = {
    val lines = new String(Files.readAllBytes(
      java.nio.file.Paths.get(ckptDir, "commits", batch.toString)), "UTF-8").split("\n", -1)
    val node = new ObjectMapper().readTree(lines(1)).get("stateUniqueIds")
    val m = Map.newBuilder[String, Seq[Seq[String]]]
    val it = node.fieldNames()
    while (it.hasNext) {
      val op = it.next()
      val pa = node.get(op)
      m += op -> (0 until pa.size()).map { p =>
        val sa = pa.get(p)
        (0 until sa.size()).map(sa.get(_).asText())
      }
    }
    (lines(0).trim, m.result())
  }

  test("v2 dedup -> agg: commit log rewritten to the new width, resume equals uninterrupted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val df = input.toDF().toDF("k", "v")
      .dropDuplicates("k", "v")
      .groupBy($"k").agg(sum($"v").as("total"))

    val oldCkpt = ckpt()
    input.addData(("a", 1), ("b", 2), ("c", 3))
    runBatch(df, "v2_phase1a", OutputMode.Complete(), oldCkpt)
    input.addData(("a", 1), ("a", 4), ("d", 5))
    runBatch(df, "v2_phase1b", OutputMode.Complete(), oldCkpt)

    val newCkpt = ckpt() + "/moved"
    val summary = StateRepartition.run(spark, oldCkpt, newCkpt, 8).collect()
    assert(summary.map(r => (r.getAs[Long]("operatorId"), r.getAs[Long]("keys"))).toSet
      === Set((0L, 4L), (1L, 5L)))

    // the rewritten commit log: still v2, 8 slots per operator, and every
    // recorded id names a durable snapshot in the new layout
    val (ver, ids) = commitIds(newCkpt, 1)
    assert(ver === "v2")
    assert(ids.keySet === Set("0", "1"))
    ids.foreach { case (op, parts) =>
      assert(parts.length === 8, s"operator $op slot width")
      parts.zipWithIndex.foreach { case (slot, pid) =>
        assert(slot.length === 1, s"operator $op partition $pid store count")
        assert(new java.io.File(s"$newCkpt/state/$op/$pid/state.snapshot.2_${slot.head}").isFile,
          s"operator $op partition $pid: id ${slot.head} has no snapshot file")
      }
    }

    // resume AT 8 (v2 session) with one more batch
    input.addData(("a", 4), ("b", 7), ("e", 9))
    runBatch(df, "v2_resumed", OutputMode.Complete(), newCkpt)
    val got = spark.table("v2_resumed").as[(String, Long)].collect().toSet
    assert(got === Set(("a", 5L), ("b", 9L), ("c", 3L), ("d", 5L), ("e", 9L)))
  }

  test("v2 stream-stream join: four named stores keep their commit-log slot order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(Int, String)]
    val right = MemoryStream[(Int, String)]
    val joined = left.toDF().toDF("k", "lv")
      .join(right.toDF().toDF("k2", "rv"), expr("k = k2"))

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
    val summary = StateRepartition.run(spark, oldCkpt, newCkpt, 2).collect()
    assert(summary.map(_.getAs[String]("storeName")).toSet === Set(
      "left-keyToNumValues", "left-keyWithIndexToValue",
      "right-keyToNumValues", "right-keyWithIndexToValue"))

    // four slots per partition, each naming a real file in the matching
    // store dir — slot ORDER is what the resumed query hands each store
    val lastBatch = new java.io.File(s"$newCkpt/commits").listFiles()
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).max
    val (_, ids) = commitIds(newCkpt, lastBatch)
    val parts = ids("0")
    assert(parts.length === 2)
    parts.foreach(slot => assert(slot.length === 4))

    // the join matches straddling the migration resolve correctly only if
    // each store's state went where its slot id says
    left.addData((3, "l3"))
    right.addData((2, "r2"), (3, "r3"))
    runToParquet(out1, newCkpt)
    val got = spark.read.parquet(out1).select("k", "lv", "rv")
      .as[(Int, String, String)].collect().toSet
    assert(got === Set((1, "l1", "r1"), (2, "l2", "r2"), (3, "l3", "r3")))
  }

  test("v2 transformWithState: exact lineage read, migrated state resumes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val echoed = input.toDS()
      .groupByKey(_._1)
      .transformWithState(new StateRepartitionSuite.ListEchoProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("k", "joined")
    val last = new scala.collection.concurrent.TrieMap[String, String]()
    def run(ckptDir: String): Unit = {
      val q = echoed.writeStream.outputMode(OutputMode.Update())
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
    val lastBatch = new java.io.File(s"$newCkpt/commits").listFiles()
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).max
    val (_, ids) = commitIds(newCkpt, lastBatch)
    assert(ids("0").length === 8)

    input.addData(("a", 1), ("b", 5))
    run(newCkpt)
    assert(last("a") === "3,1,4,1")
    assert(last("b") === "7,5")
  }

  test("v2 StateCompact: changelog chain squashed to one snapshot per store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val df = input.toDF().toDF("k", "v").groupBy($"k").agg(sum($"v").as("total"))

    val oldCkpt = ckpt()
    (1 to 4).foreach { i =>
      input.addData(("a", i), ("b", i))
      runBatch(df, s"v2_compact_$i", OutputMode.Complete(), oldCkpt)
    }
    val newCkpt = ckpt() + "/compacted"
    StateCompact.run(spark, oldCkpt, newCkpt)

    // fsck: every store covered with a zero-length recovery chain
    val report = StateFsck.run(spark, newCkpt).collect()
    assert(report.nonEmpty)
    report.foreach { r =>
      assert(r.getAs[Boolean]("covered"), r.toString)
      assert(r.getAs[Int]("chainLength") === 0, r.toString)
    }

    input.addData(("a", 10), ("c", 1))
    runBatch(df, "v2_compact_resumed", OutputMode.Complete(), newCkpt)
    val got = spark.table("v2_compact_resumed").as[(String, Long)].collect().toSet
    assert(got === Set(("a", 20L), ("b", 10L), ("c", 1L)))
  }
}
