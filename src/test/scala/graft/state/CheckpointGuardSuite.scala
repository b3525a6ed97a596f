package graft.state


import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The live-checkpoint guard on the offline state tools: pointing
  * [[StateRepartition]] / [[StateCompact]] / [[StateGc]] `--apply` at a
  * checkpoint a query is actively committing into must refuse with the
  * typed [[CheckpointActiveException]] — not silently migrate/sweep an
  * inconsistent snapshot — and the refusal must be overridable (`force`)
  * and tunable (`spark.graft.stateops.quiesceMs`). */
class CheckpointGuardSuite extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-ckpt-guard")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.streaming.stateStore.providerClass",
      classOf[RocksDbStateStoreProvider].getName)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = { spark; () }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("tools refuse a checkpoint a running query holds; stop + lowered window proceeds") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = graft.Staging.tempDir("graft-guard-ckpt-").toString
    val input = MemoryStream[(String, Int)]
    val q = input.toDS().toDF("k", "v")
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("guard_sink")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData(("a", 1), ("b", 2))
      q.processAllAvailable() // batch committed seconds ago -> checkpoint is live
      val newCkpt = graft.Staging.tempDir("graft-guard-new-").toString
      // default window (60 s): every write-mode tool refuses, typed
      intercept[CheckpointActiveException] {
        StateRepartition.run(spark, ckpt, s"$newCkpt/r", 4)
      }
      intercept[CheckpointActiveException] {
        StateCompact.run(spark, ckpt, s"$newCkpt/c")
      }
      intercept[CheckpointActiveException] {
        StateGc.run(spark, ckpt, apply = true)
      }
      // dry-run gc is read-only: no guard, runs against the live checkpoint
      assert(StateGc.run(spark, ckpt).collect().nonEmpty)
    } finally q.stop()

    // stopped: the operator who knows it is stopped lowers the window (or
    // passes force) and the same tool call proceeds into real work
    val s2 = spark.newSession()
    s2.conf.set(CheckpointGuard.QuiesceConf, "1")
    val out = graft.Staging.tempDir("graft-guard-out-").toString
    val summary = StateCompact.run(s2, ckpt, s"$out/compacted").collect()
    assert(summary.nonEmpty, "post-stop compaction must actually run")
  }

  test("force waives the guard even inside the window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = graft.Staging.tempDir("graft-guard-force-").toString
    val input = MemoryStream[(String, Int)]
    val q = input.toDS().toDF("k", "v")
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("guard_force_sink")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData(("a", 1))
      q.processAllAvailable()
    } finally q.stop()
    // mtimes are seconds old -> guard would fire; force overrides
    val out = graft.Staging.tempDir("graft-guard-force-out-").toString
    val summary = StateCompact.run(spark, ckpt, s"$out/compacted", force = true).collect()
    assert(summary.nonEmpty)
  }
}
