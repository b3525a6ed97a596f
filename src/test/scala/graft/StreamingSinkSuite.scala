package graft

import java.nio.file.{Files, Paths}

import graft.state.RocksDbStateStoreProvider
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The two egress-path claims behind `stream_file_sink` and
  * `stream_foreach_batch`, pinned at suite level:
  *
  *  1. the streaming parquet sink's reads are governed by its
  *     `_spark_metadata` transaction log — a file in the directory that no
  *     committed batch wrote (a failed/speculative attempt, a stray copy)
  *     is INVISIBLE to readers; and
  *  2. the foreachBatch write pattern (one dynamic partition overwrite per
  *     batch id) is idempotent — replaying a batch overwrites its own
  *     output instead of duplicating it, which is what makes
  *     checkpoint-replay after a crash exactly-once.
  */
class StreamingSinkSuite extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-sink-suite")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.streaming.stateStore.providerClass",
      classOf[RocksDbStateStoreProvider].getName)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = { spark; () }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("file sink: rows outside the _spark_metadata manifest are invisible") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Int]
    val outDir = graft.Staging.tempDir("graft-sink-out-").toString
    val q = input.toDS().toDF("v")
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation",
        graft.Staging.tempDir("graft-sink-ckpt-").toString)
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(1, 2, 3)
      q.processAllAvailable()
    } finally q.stop()
    assert(Files.exists(Paths.get(outDir, "_spark_metadata")),
      "streaming file sink must write its transaction log")
    // a rogue file no batch committed: same schema, poison value
    Seq(99).toDF("v").write.mode("append")
      .parquet(outDir + "/rogue-not-in-manifest")
    Seq(98).toDF("v").coalesce(1).write.mode("overwrite")
      .parquet(outDir + "-stage")
    val stray = Files.list(Paths.get(outDir + "-stage")).iterator()
    var copied = false
    while (stray.hasNext && !copied) {
      val f = stray.next()
      if (f.getFileName.toString.endsWith(".parquet")) {
        Files.copy(f, Paths.get(outDir, "part-99999-rogue.snappy.parquet"))
        copied = true
      }
    }
    assert(copied, "staging must produce a parquet part file")
    val seen = spark.read.parquet(outDir).as[Int].collect().toSet
    assert(seen === Set(1, 2, 3),
      s"manifest-governed read must hide uncommitted files, got $seen")
  }

  test("foreachBatch pattern: replaying a batch id does not duplicate output") {
    import spark.implicits._
    val outDir = graft.Staging.tempDir("graft-feb-idem-").toString
    def writeBatch(rows: Seq[(Long, Long)], batchId: Long): Unit =
      rows.toDF("user_id", "n")
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .format("parquet")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .save(outDir)
    writeBatch(Seq((1L, 1L), (2L, 1L)), batchId = 0)
    writeBatch(Seq((1L, 2L)), batchId = 1)
    // crash-replay of batch 1 (same content, same id) — must overwrite, not append
    writeBatch(Seq((1L, 2L)), batchId = 1)
    val rows = spark.read.parquet(outDir)
      // partition-column values are re-inferred on read (int here) — cast back
      .select(col("user_id"), col("n"), col("batch_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toVector.sorted
    assert(rows === Vector((1L, 1L, 0L), (1L, 2L, 1L), (2L, 1L, 0L)),
      s"batch-1 replay must not duplicate its rows, got $rows")
    // and batch 0's partition was untouched by batch 1's dynamic overwrite
    assert(rows.count(_._3 == 0L) == 2)
  }
}
