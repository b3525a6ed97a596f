package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.functions.SimHashBits]] vs the interpreted SQL fold it replaces
  * (the round-16 dedup_simhash spelling) — bit-identical fingerprints on
  * the fixture corpus and on adversarial token lists. */
class SimHashBitsSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("simhash-bits")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = spark.stop()

  /** The interpreted pipeline dedup_simhash ran through round 16, over a
    * token-array column named `toks`. */
  private val sqlFold =
    """aggregate(
      |  zip_with(
      |    aggregate(
      |      transform(toks, t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)),
      |      transform(sequence(1, 60), j -> 0),
      |      (acc, h) -> zip_with(acc, sequence(0, 59), (c, b) ->
      |        c + (CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END))),
      |    sequence(0, 59),
      |    (c, b) -> CASE WHEN c > 0 THEN shiftleft(CAST(1 AS BIGINT), b)
      |              ELSE CAST(0 AS BIGINT) END),
      |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin

  test("kernel equals the interpreted fold on the fixture corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(expr("split(trim(text), '\\\\s+')").as("toks"))
    val diff = docs
      .select(graft.functions.SimHashBits.of(col("toks")).as("a"),
        expr(sqlFold).as("b"))
      .filter(col("a") =!= col("b"))
      .count()
    assert(diff === 0L, "kernel diverged from the interpreted SimHash fold")
  }

  test("kernel matches on adversarial token lists") {
    val s = spark; import s.implicits._
    val cases = Seq(
      Seq(""),                         // split('') -> ['']
      Seq("a"),
      Seq("a", "a", "a"),              // multiplicity matters
      Seq("café", "你好", "😀"),        // multi-byte tokens
      (1 to 500).map(i => s"tok$i"))   // long list
    val df = cases.toDF("toks")
    val diff = df
      .select(graft.functions.SimHashBits.of(col("toks")).as("a"),
        expr(sqlFold).as("b"))
      .filter(col("a") =!= col("b"))
      .count()
    assert(diff === 0L)
  }

  /** A null token votes 0 on all 60 bits in the fold (its null hash sends
    * every `CASE` to `ELSE -1`), so the fingerprint is not null. */
  test("null tokens vote 0 on every bit, as in the fold") {
    val s = spark; import s.implicits._
    val cases = Seq(
      Seq[String](null),
      Seq("a", null),
      Seq(null, "a", "a"),
      Seq(null, null, "café"),
      Seq("a", "b", null, "c"))
    val got = cases.toDF("toks")
      .select(graft.functions.SimHashBits.of(col("toks")).as("a"), expr(sqlFold).as("b"))
      .collect()
    got.foreach { r =>
      assert(!r.isNullAt(0) && !r.isNullAt(1))
      assert(r.getLong(0) === r.getLong(1))
    }
    // one null against one token: the null's -1 on every bit cancels the
    // token's +1 bits (0 is not > 0), so no bit survives
    assert(got(1).getLong(0) === 0L)
    val nullArray = Seq[Seq[String]](null).toDF("toks")
      .select(graft.functions.SimHashBits.of(col("toks")), expr(sqlFold)).head()
    assert(nullArray.isNullAt(0) && nullArray.isNullAt(1), "a null array yields null")
  }
}
