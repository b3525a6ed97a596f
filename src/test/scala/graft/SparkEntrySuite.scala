package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants for the aggregated registries. `SparkEntry`
  * concatenates eight per-module Maps with `++`, which silently OVERRIDES on
  * a duplicate key — a name collision between two modules would drop an
  * operator from the gate without any failure. These checks make that loud. */
class SparkEntrySuite extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-entry-contract")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config(Tables.nanosConf._1, Tables.nanosConf._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val registries = Seq(
    "Relational" -> operators.Relational.queries.keySet,
    "TextAnalysis" -> operators.TextAnalysis.queries.keySet,
    "Dedup" -> operators.Dedup.queries.keySet,
    "Similarity" -> operators.Similarity.queries.keySet,
    "Multimodal" -> operators.Multimodal.queries.keySet,
    "Pipeline" -> operators.Pipeline.queries.keySet,
    "SourceFormats" -> sources.SourceFormats.queries.keySet,
    "StreamingQueries" -> streaming.StreamingQueries.queries.keySet)

  test("no query name collides across module registries") {
    val all = registries.flatMap { case (m, ks) => ks.map(_ -> m) }
    val dupes = all.groupBy(_._1).filter(_._2.size > 1)
    assert(dupes.isEmpty,
      s"colliding gate names: ${dupes.map { case (k, ms) => s"$k in ${ms.map(_._2).mkString("+")}" }.mkString("; ")}")
    assert(SparkEntry.queries.size == all.size)
  }

  test("a query's bench family is the registry that contributed it") {
    val familyOf = SparkEntry.familyOf
    assert(familyOf.keySet === SparkEntry.queries.keySet)
    assert(familyOf("q1_pricing_summary") === "relational")
    assert(familyOf("dedup_exact_substr") === "dedup")
    // the name says `pipe_`, the registry says Dedup: the registry wins
    val pipeInDedup = operators.Dedup.queries.keySet.filter(_.startsWith("pipe_"))
    assert(pipeInDedup.nonEmpty)
    pipeInDedup.foreach(n => assert(familyOf(n) === "dedup", n))
    streaming.StreamingQueries.queries.keySet.foreach(n => assert(familyOf(n) === "stream", n))
  }

  test("every oracle references a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  /** Any type nested anywhere in a schema (struct/array/map included). */
  private def allTypes(t: DataType): Seq[DataType] = t match {
    case s: StructType => s +: s.fields.flatMap(f => allTypes(f.dataType)).toSeq
    case a: ArrayType => a +: allTypes(a.elementType)
    case m: MapType => m +: (allTypes(m.keyType) ++ allTypes(m.valueType))
    case other => Seq(other)
  }

  // The gate-output typing rule (round-10 verdict item 2): the driver hashes
  // oracle-vs-Spark output values, and a raw DECIMAL's representation is
  // engine-specific (Spark sum → DECIMAL(28,2), DuckDB → DECIMAL(38,2) —
  // the stream_foreach_batch round-10 hash-fail), while FLOAT formatting
  // differs in printed precision. Every gate output must be INT/BIGINT/
  // STRING/BOOL/DATE/TIMESTAMP, or DOUBLE derived from exact arithmetic.
  // This test MATERIALIZES every gate query at sf0.001 (streaming entries
  // execute their stream; batch entries only analyze), so a raw-decimal or
  // float output can never ship to the driver again.
  test("no gate query emits DECIMAL or FLOAT output columns") {
    val banned = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val s = spark.newSession()
      val schema = fn(s, sfDir).schema
      schema.fields.flatMap { f =>
        allTypes(f.dataType).collectFirst {
          case d: DecimalType => s"$name.${f.name}: ${d.catalogString}"
          case FloatType => s"$name.${f.name}: float"
        }
      }
    }
    assert(banned.isEmpty,
      s"gate outputs with engine-ambiguous numeric types:\n  ${banned.mkString("\n  ")}")
  }

  test("every gate entry carries a full oracle — zero rows-only entries") {
    // q9_distinct_approx graduated to a full oracle in round 7; stream_limit
    // — the last rows-only holdout — graduated in round 13 (globally-sorted
    // staging makes the emitted set the lowest-100 total order). Any new
    // oracle-less entry is a regression of the correctness bar.
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty,
      s"unexpected rows-only (weaker-checked) gate entries: $rowsOnly")
  }
}
