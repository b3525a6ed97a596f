package graft.streaming

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The gate harness every `stream_*` gate runs on ([[StreamingQueries]]):
  * the halved replay feed, the idempotent batch-id sink and the paced run.
  * Local session, no fixture. */
class GateHarnessSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-gate-harness")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("replay-fed files get strictly increasing mtimes in feed order, across both halves") {
    val src = graft.Staging.tempDir("graft-test-replay-src-")
    // names sort opposite to the feed order, so name order cannot pass for it
    val files = Seq("e", "d", "c", "b", "a").map(n => Files.writeString(src.resolve(n), n))
    var inDir = ""
    val landed = ArrayBuffer.empty[(Int, Set[String])]
    StreamingQueries.replayInHalves(files) { (dir, phase) =>
      inDir = dir
      val st = Files.list(Paths.get(dir))
      try landed += phase -> st.iterator().asScala.map(_.getFileName.toString).toSet
      finally st.close()
    }
    assert(landed.toSeq === Seq(1 -> Set("e", "d"), 2 -> Set("e", "d", "c", "b", "a")))
    val mtimes = files.map(f =>
      Files.getLastModifiedTime(Paths.get(inDir, f.getFileName.toString)).toMillis)
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b }, mtimes)
    assert(mtimes.last < System.currentTimeMillis(), "replayed files must not be future-dated")
  }

  test("writing the same batch id twice through the batch-id sink leaves one copy") {
    val s = spark
    import s.implicits._
    val out = graft.Staging.tempDir("graft-test-batchsink-").toString
    val b7 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    StreamingQueries.writeBatch(b7, 7L, out)
    StreamingQueries.writeBatch(Seq((3L, "c")).toDF("k", "v"), 8L, out)
    StreamingQueries.writeBatch(b7, 7L, out) // the replayed batch
    val rows = spark.read.parquet(out).as[(Long, String, Long)].collect().sorted.toSeq
    assert(rows === Seq((1L, "a", 7L), (2L, "b", 7L), (3L, "c", 8L)))
  }

  test("a paced run stops after its done batch commits, and fails naming the gate at its deadline") {
    def rate = spark.readStream.format("rate").option("rowsPerSecond", "20").load()
    val ckpt = graft.Staging.tempDir("graft-test-paced-ckpt-").toString
    val out = graft.Staging.tempDir("graft-test-paced-out-").toString
    StreamingQueries.pacedRun("done_gate", rate, ckpt, out, deadlineMs = 60000L)(
      _.limit(1).count() == 1L)
    assert(spark.streams.active.isEmpty)
    assert(Files.list(Paths.get(ckpt, "commits")).count() >= 1L)
    assert(spark.read.parquet(out).count() > 0L)

    val e = intercept[IllegalArgumentException] {
      StreamingQueries.pacedRun("never_gate", rate,
        graft.Staging.tempDir("graft-test-paced-ckpt-").toString,
        graft.Staging.tempDir("graft-test-paced-out-").toString, deadlineMs = 1500L)(_ => false)
    }
    assert(e.getMessage.contains("never_gate"), e.getMessage)
    assert(spark.streams.active.isEmpty, "the failed run must leave no active query")
  }
}
