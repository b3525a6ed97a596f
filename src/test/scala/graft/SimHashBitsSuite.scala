package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.functions.SimHashBits]] vs the interpreted SQL fold it replaces
  * (the round-16 dedup_simhash spelling) over `split(trim(text), '\\s+')`:
  * bit-identical fingerprints on the fixture corpus, on adversarial token
  * lists, and on whitespace, empty and multi-byte edges. */
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
    assertTextEqualsSplitFold(docs)
  }

  test("kernel matches on adversarial token lists") {
    val s = spark; import s.implicits._
    assertTextEqualsSplitFold(Seq(
      "",                                // split('') -> ['']
      "a",
      "a a a",                           // multiplicity matters
      "café 你好 😀",                     // multi-byte tokens
      (1 to 500).map(i => s"tok$i").mkString(" ")  // long list
    ).toDF("text"))
  }

  /** `simhash_bits(text)` against split-then-fold over a `text` column,
    * in generated code and interpreted. */
  private def assertTextEqualsSplitFold(texts: org.apache.spark.sql.DataFrame): Unit = {
    val toks = texts.select(col("text"), expr("split(trim(text), '\\\\s+')").as("toks"))
    val rows = toks.select(col("text"), graft.functions.SimHashBits.of(col("text")).as("a"),
      expr(sqlFold).as("b")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.get(1) === r.get(2), s"text ${Option(r.getString(0)).map(_.take(40))}")
      if (r.getString(0) != null) {
        val interpreted = graft.functions.SimHashBits(
          org.apache.spark.sql.catalyst.expressions.Literal(r.getString(0))).eval(null)
        assert(interpreted === r.get(2), "interpreted eval")
      }
    }
  }

  test("text input equals split-then-fold on whitespace, empty and multi-byte edges") {
    val s = spark; import s.implicits._
    assertTextEqualsSplitFold(Seq(
      "a\tb", "a\u000Bb", "a\r\nb", "a \t\n b",  // tab, \x0B, CRLF, mixed run
      "\tlead", "trail\t", "\tboth\t", "\t", " \t ",  // edge runs give empty tokens
      "   ", "", " x ",                                // all-space and empty give [""]
      "no\u00A0break", "\u00A0", "你好 世界\u3000全角",    // U+00A0, U+3000 are not \s
      "😀 café😀", "\fform\ffeed\f", null
    ).toDF("text"))
  }
}
