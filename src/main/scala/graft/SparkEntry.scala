package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator registry in the engine; each entry has
  * a DuckDB-equivalent SQL in `oracleSql` (omitted only for operators whose
  * semantics are not ANSI-SQL-expressible, e.g. LSH bucketing — those get the
  * driver's rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q1_pricing_summary(spark, "/root/testdata/sf0.001")

  /** Every operator registry, under the family name its queries report in
    * `Bench`'s per-family subtotals. */
  def registries: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "relational" -> operators.Relational.queries,
    "text" -> operators.TextAnalysis.queries,
    "dedup" -> operators.Dedup.queries,
    "sim" -> operators.Similarity.queries,
    "mm" -> operators.Multimodal.queries,
    "pipe" -> operators.Pipeline.queries,
    "src" -> sources.SourceFormats.queries,
    "stream" -> streaming.StreamingQueries.queries)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registries.map(_._2).reduce(_ ++ _)

  /** Query name -> the family of the registry that contributed it. */
  def familyOf: Map[String, String] =
    registries.flatMap { case (family, reg) => reg.keys.map(_ -> family) }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    operators.Relational.oracles ++
    operators.TextAnalysis.oracles ++
    operators.Dedup.oracles ++
    operators.Similarity.oracles ++
    operators.Multimodal.oracles ++
    operators.Pipeline.oracles ++
    sources.SourceFormats.oracles ++
    streaming.StreamingQueries.oracles
}
