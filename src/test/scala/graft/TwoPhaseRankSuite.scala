package graft


import graft.operators.{Pipeline, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The two-phase sharded top-K operators (`pipe_domain_cap`,
  * `sim_centroid_outlier`): the local-rank-then-survivor-rank plan must
  * (a) reproduce the single-window formulation row for row — including on a
  * synthetic corpus where ONE domain dominates (the Zipf shape the shard
  * exists for) and ties force the deterministic tiebreak — and (b) actually
  * shard: every event-level rank window must partition on (key, shard),
  * never the bare key. (The survivor window partitions on the bare key by
  * design: its input is ≤ K rows per shard.) */
class TwoPhaseRankSuite extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config(Tables.nanosConf._1, Tables.nanosConf._2)
      .appName("twophase")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = spark.stop()

  test("pipe_domain_cap equals the single-window top-K on the fixture") {
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars").desc, col("doc_id").asc)
    val single = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("cap_rank", row_number().over(w))
      .filter(col("cap_rank") <= 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    val sharded = Pipeline.pipe_domain_cap(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(sharded.nonEmpty)
    assert(sharded === single, "two-phase cap must be exactly the global top-K")
  }

  test("pipe_domain_cap survives a Zipf-dominant domain with ties") {
    // one domain holds 90% of the docs and most lengths collide, so both the
    // shard phase and the doc_id tiebreak do real work
    val tmp = graft.Staging.tempDir("graft-zipf-").toString
    val s2 = spark
    import s2.implicits._
    val rows = (0L until 2000L).map { id =>
      val source = if (id % 10 != 0) "megadomain" else s"src${id % 7}"
      (id, s"t$id", "en", source, id * 31 % 13) // 13 distinct lengths
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars").desc, col("doc_id").asc)
    val single = Tables.documents(spark, tmp)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("cap_rank", row_number().over(w))
      .filter(col("cap_rank") <= 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    val sharded = Pipeline.pipe_domain_cap(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(single.count(_._2 == "megadomain") == 5)
    assert(sharded === single, "tie-dense skewed domain must rank identically")
  }

  test("sim_centroid_outlier equals the single-window bottom-K on the fixture") {
    import graft.functions.{VecDot, VecSumLong}
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), col("embedding"),
        VecDot.norm2(col("embedding")).as("n2"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT))")
          .as("qv"))
    val cents = e.groupBy(col("label"))
      .agg(VecSumLong.of(col("qv")).as("cv"))
      .withColumn("cn2", VecDot.norm2(col("cv")))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("cos").asc, col("vec_id").asc)
    val single = e.join(broadcast(cents), "label")
      .withColumn("cos",
        VecDot.dot(col("cv"), col("embedding")) / sqrt(col("n2") * col("cn2")))
      .withColumn("orank", row_number().over(w))
      .filter(col("orank") <= 3)
      .select(col("label"), col("vec_id"), col("orank"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    val sharded = Similarity.sim_centroid_outlier(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    assert(sharded.nonEmpty)
    assert(sharded === single, "two-phase outlier rank must equal the global bottom-K")
  }

  test("pipe_interleave's shard-offset ranking equals the single-window rank") {
    val wSingle = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val single = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
      .withColumn("r", row_number().over(wSingle).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val offset = Pipeline.pipe_interleave(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(offset.nonEmpty)
    assert(offset === single, "shard-count offset + local rank must equal the full rank")
    // ord is a bijection onto a dense round-robin: no two docs share a slot
    val ords = Pipeline.pipe_interleave(spark, sfDir)
      .collect().map(_.getLong(3))
    assert(ords.distinct.length === ords.length, "interleave positions must be unique")
  }

  test("pipe_token_budget's sharded prefix sum equals the single-window cumsum") {
    // tie-dense skewed synthetic: 90% of docs in one language and only ~35
    // distinct (uniq, n_tokens) combos, so score buckets hold many rows and
    // both the in-bucket cumsum and the cross-bucket offsets do real work
    val tmp = graft.Staging.tempDir("graft-budget-").toString
    val s2 = spark
    import s2.implicits._
    val rows = (0L until 3000L).map { id =>
      val lang = if (id % 10 != 0) "en" else s"l${id % 4}"
      val n = 5 + (id % 7).toInt
      val u = 1 + (id % 5).toInt
      val text = (0 until n).map(i => s"w${i % u}").mkString(" ")
      (id, text, lang, "src0", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val toks = split(trim(col("text")), "\\s+")
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val single = Tables.documents(spark, tmp)
      .select(col("doc_id"), col("lang"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("uniq"))
      .withColumn("score", expr("uniq * 1000 div n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < 4000L)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("score"), col("cum_tokens"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val sharded = Pipeline.pipe_token_budget(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(single.count(_._2 == "en") > 100, "the dominant language must be truncated mid-bucket")
    assert(sharded === single, "bucket-sharded prefix sum must equal the single-window cumsum")
  }

  test("ntile4OfRank equals window ntile(4) for every n in 1..40") {
    // every (rank, n) pair with n covering all remainder classes AND n < 4
    val pairs = (for (n <- 1L to 40L; r <- 1L to n) yield (r, n)).toSeq
    val pairsDf = spark.createDataFrame(pairs).toDF("rank", "n")
    val viaArith = pairsDf
      .withColumn("epoch", Pipeline.ntile4OfRank)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val viaWindow = pairsDf
      .withColumn("epoch", ntile(4).over(
        Window.partitionBy(col("n")).orderBy(col("rank"))).cast("long"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(viaArith === viaWindow)
  }

  test("pipe_curriculum equals the single-window ntile on the fixture") {
    val toks = split(trim(col("text")), "\\s+")
    val w = Window.partitionBy(col("lang")).orderBy(col("score").desc, col("doc_id").asc)
    val single = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("uniq"))
      .withColumn("score", expr("uniq * 1000 div n_tokens"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("epoch", ntile(4).over(w).cast("long"))
      .select(col("doc_id"), col("lang"), col("score"), col("rank"), col("epoch"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val sharded = Pipeline.pipe_curriculum(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(sharded.nonEmpty)
    assert(sharded === single, "sharded rank + arithmetic ntile must equal the window ntile")
  }

  test("no event-level rank window partitions on the bare key") {
    for ((name, df) <- Seq(
        "pipe_domain_cap" -> Pipeline.pipe_domain_cap(spark, sfDir),
        "sim_centroid_outlier" -> Similarity.sim_centroid_outlier(spark, sfDir))) {
      val windows = collect(df.queryExecution.executedPlan) { case w: WindowExec => w }
      assert(windows.size == 2, s"$name must have local + survivor windows")
      // every bare-key window must be the SURVIVOR pass: fed by the sharded
      // (key, shard) window, never by raw rows
      windows.filter(_.partitionSpec.size == 1).foreach { survivor =>
        val feeders = collect(survivor.child) { case w: WindowExec => w }
        assert(feeders.exists(_.partitionSpec.size == 2),
          s"$name bare-key window must consume a (key, shard) local rank, " +
            s"got partition ${survivor.partitionSpec.mkString(", ")} over raw rows")
      }
      assert(windows.exists(_.partitionSpec.size == 2),
        s"$name must contain the (key, shard) local window")
    }
  }
}
