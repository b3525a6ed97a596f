package graft.state


import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.state.implicits._
import StateStoreTestHelper._

/** End-to-end TTL wiring through the PUBLIC `stateTimeout` writer helper —
  * including the documented deviation from the reference: no reflection on
  * the writer's earlier `.queryName(...)`, so a call without an explicit
  * name lands in the `UNNAMED_QUERY` scope and must still deliver the TTL
  * through the checkpoint-path channel to the executor-side provider.
  */
class StateTimeoutImplicitsSuite extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-state-timeout-implicits")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.streaming.stateStore.providerClass",
      classOf[RocksDbStateStoreProvider].getName)
    .config("spark.sql.streaming.stateStore.strictExpire", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = { spark; () }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("stateTimeout without a queryName: TTL flows via UNNAMED_QUERY fallback") {
    withFakeClock { clock =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[String]
      val root = graft.Staging.tempDir("graft-sto-ckpt-").toString
      // No queryName arg (reference code relied on reflection over an
      // earlier .queryName(...) — documented deviation): the helper appends
      // /UNNAMED_QUERY to the checkpoint root and publishes the per-query
      // conf under that scope.
      val writer = input.toDF().toDF("k")
        .dropDuplicates("k")
        .writeStream.format("memory").queryName("sto_sink")
        .outputMode(OutputMode.Append())
        .stateTimeout(spark.conf, expirySecs = 300, checkpointLocation = root)
      assert(spark.conf.get(
        s"${RocksDbConf.STATE_EXPIRY_SECS}.${RocksDbConf.UNNAMED_QUERY}") === "300")

      val q = writer.start()
      try {
        input.addData("a", "b"); q.processAllAvailable()
        // within the TTL window: duplicate suppressed
        input.addData("a"); q.processAllAvailable()
        assert(spark.table("sto_sink").collect().length === 2)
        // past the TTL: the seen-set entry expired, "a" passes through again
        clock.advanceSecs(301)
        input.addData("a"); q.processAllAvailable()
        assert(spark.table("sto_sink").as[String].collect().sorted === Array("a", "a", "b"))
      } finally q.stop()
      // the executor-side provider really resolved the fallback scope from
      // the checkpoint path (root/UNNAMED_QUERY/state/...)
      assert(new java.io.File(s"$root/${RocksDbConf.UNNAMED_QUERY}/state").isDirectory)
    }
  }

  test("stateTimeout with an explicit name scopes the TTL to that query only") {
    withFakeClock { clock =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[String]
      val root = graft.Staging.tempDir("graft-sto2-ckpt-").toString
      val q = input.toDF().toDF("k")
        .dropDuplicates("k")
        .writeStream.format("memory")
        .outputMode(OutputMode.Append())
        .stateTimeout(spark.conf, queryName = "named_ttl_q", expirySecs = 60,
          checkpointLocation = root)
        .start()
      try {
        assert(spark.conf.get(
          s"${RocksDbConf.STATE_EXPIRY_SECS}.named_ttl_q") === "60")
        input.addData("x"); q.processAllAvailable()
        clock.advanceSecs(61)
        input.addData("x"); q.processAllAvailable()
        assert(spark.table("named_ttl_q").collect().length === 2)
      } finally q.stop()
      assert(new java.io.File(s"$root/named_ttl_q/state").isDirectory)
    }
  }
}
