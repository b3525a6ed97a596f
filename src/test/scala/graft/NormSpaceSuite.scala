package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.NormSpace

/** [[graft.functions.NormSpace]] against the Spark expression it replaces,
  * `regexp_replace(trim(s), '\\s+', ' ')`, byte for byte, in whole-stage
  * codegen and in interpreted eval. The inputs are read from parquet: a
  * local relation would be folded by `ConvertToLocalRelation` and never
  * reach codegen. */
class NormSpaceSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("norm-space")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = spark.stop()

  private val cases: Seq[String] = Seq(
    "  leading and trailing spaces  ",
    "a  b   c",
    "\ttabs\tinside and at the edges\t",
    "vertical\u000Btab \u000B\u000B",
    "form\ffeed\f",
    "crlf\r\n\r\nruns\r\n",
    "\n\nleading newlines",
    "    ",                                  // spaces only
    " \t\n\u000B\f\r ",                       // every \s byte
    "",
    null,
    "café  résumé naïve 你好\t世界 😀 😁",     // multi-byte UTF-8
    "nbsp\u00A0kept and\u3000ideographic\u3000 space",
    "\u00A0 edges of non-ASCII space \u3000",
    " em\u2003space, NEL\u0085 and LS\u2028 are not \\s ")

  private def inputs(texts: Seq[String]): DataFrame = {
    val s = spark; import s.implicits._
    val p = Staging.tempDir("norm-space-").resolve("t").toString
    texts.toDF("text").write.parquet(p)
    spark.read.parquet(p)
  }

  /** Rows where the kernel and the regex differ in bytes or in nullness. */
  private def mismatches(df: DataFrame): Seq[String] = {
    val out = df.select(col("text"), NormSpace.of(col("text")).as("k"),
      regexp_replace(trim(col("text")), "\\s+", " ").as("r"))
    out.collect().toSeq.collect {
      case r if Option(r.getString(1)).map(_.getBytes(UTF_8).toSeq) !=
        Option(r.getString(2)).map(_.getBytes(UTF_8).toSeq) =>
        s"${r.getString(0)} -> kernel [${r.getString(1)}] regex [${r.getString(2)}]"
    }
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("kernel equals the regex in whole-stage codegen") {
    val df = inputs(cases)
    val plan = df.select(NormSpace.of(col("text"))).queryExecution.executedPlan
    assert(codegenString(plan).contains("graft.functions.NormSpace.compute"),
      "norm_space must compile into the generated code")
    assert(mismatches(df).isEmpty, mismatches(df).mkString("\n"))
  }

  test("kernel equals the regex in interpreted eval") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val df = inputs(cases)
      assert(mismatches(df).isEmpty, mismatches(df).mkString("\n"))
    }
  }

  test("NULL stays NULL, empty and space-only text become empty, U+00A0 and U+3000 stay") {
    val got = inputs(Seq(null, "", "   ", " x\u3000 \u00A0"))
      .select(NormSpace.of(col("text"))).collect().map(r => Option(r.getString(0))).toSet
    assert(got === Set(None, Some(""), Some("x\u3000 \u00A0")))
  }

  test("kernel equals the regex on seeded random strings over a whitespace-heavy alphabet") {
    val alphabet = Array(" ", " ", "\t", "\n", "\u000B", "\f", "\r", "a", "Z", "é", "你", "😀",
      "\u00A0", "\u3000", "\u0085", "\u2028")
    val r = new SplittableRandom(11)
    val texts = Seq.fill(2000)(Seq.fill(r.nextInt(30))(alphabet(r.nextInt(alphabet.length))).mkString)
    val df = inputs(texts)
    assert(mismatches(df).isEmpty, mismatches(df).take(5).mkString("\n"))
  }
}
