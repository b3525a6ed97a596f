package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink format coverage: the same documents slice is round-tripped
  * through the CSV and JSON sources (write with Spark's sinks, read back
  * with explicit schemas) and aggregated per language from each copy. The
  * oracle computes the identical aggregates from the parquet original, so
  * a row dropped, duplicated, or corrupted by quoting/escaping in either
  * format fails the gate — `min/max(md5(text))` pins the full text content,
  * not just row counts.
  *
  * Scale: format staging is a one-off per fixture dir (like the streaming
  * staging); the aggregation itself is a pair of narrow scans + one small
  * hash aggregate each, joined on the 5-row lang dimension.
  */
object SourceFormats {

  private val staged = new graft.Memo[(String, String)]

  private def stage(s: SparkSession, dir: String): (String, String) =
    staged.getOrStage(dir) {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text"))
      val csvDir = graft.Staging.tempDir("graft-src-csv-").toString
      val jsonDir = graft.Staging.tempDir("graft-src-json-").toString
      base.write.mode("overwrite").option("header", "true").csv(csvDir)
      base.write.mode("overwrite").json(jsonDir)
      (csvDir, jsonDir)
    }

  def src_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val (csvDir, jsonDir) = stage(s, dir)
    val schema = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text")).schema
    def profile(df: DataFrame, tag: String): DataFrame = df.groupBy(col("lang"))
      .agg(
        count(lit(1)).as(s"n_$tag"),
        sum(length(col("text"))).as(s"chars_$tag"),
        min(md5(col("text"))).as(s"min_fp_$tag"),
        max(md5(col("text"))).as(s"max_fp_$tag"))
    val csv = profile(s.read.option("header", "true").schema(schema).csv(csvDir), "csv")
    val json = profile(s.read.schema(schema).json(jsonDir), "json")
    csv.join(json, "lang")
  }

  val src_roundtrip_sql: String =
    """SELECT lang,
      |  count(*) AS n_csv, CAST(sum(length(text)) AS BIGINT) AS chars_csv,
      |  min(md5(text)) AS min_fp_csv, max(md5(text)) AS max_fp_csv,
      |  count(*) AS n_json, CAST(sum(length(text)) AS BIGINT) AS chars_json,
      |  min(md5(text)) AS min_fp_json, max(md5(text)) AS max_fp_json
      |FROM documents GROUP BY 1""".stripMargin

  /** XML round-trip — the document-feed interchange format (sitemaps,
    * legacy corpora dumps): Spark 4's built-in XML source writes one
    * `<doc>` row element per document and reads them back with an
    * explicit schema. Entity escaping (&amp;, &lt;, multiline text) must
    * round-trip losslessly for the per-language fingerprints to match
    * the parquet truth (the fixture corpus is control-char-free, which
    * XML 1.0 requires of any corpus stored this way). */
  private val stagedXml = new graft.Memo[String]

  def src_xml(s: SparkSession, dir: String): DataFrame = {
    val xmlDir = stagedXml.getOrStage(dir) {
      val t = graft.Staging.tempDir("graft-src-xml-").toString
      Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text"))
        .write.mode("overwrite").option("rowTag", "doc").xml(t)
      t
    }
    val schema = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text")).schema
    // ignoreSurroundingSpaces defaults TRUE: without pinning it off, text
    // with boundary whitespace would read back trimmed and the lossless
    // round-trip this gate exists to prove would silently not be tested
    s.read.schema(schema).option("rowTag", "doc")
      .option("ignoreSurroundingSpaces", "false").xml(xmlDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("chars"),
        min(md5(col("text"))).as("min_fp"),
        max(md5(col("text"))).as("max_fp"))
  }

  val src_xml_sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS chars,
      |  min(md5(text)) AS min_fp, max(md5(text)) AS max_fp
      |FROM documents GROUP BY 1""".stripMargin

  /** Avro round-trip — the row-oriented interchange format training-data
    * pipelines actually exchange (Kafka payloads, cross-engine handoffs):
    * Spark 4 bundles the Avro source in spark-sql, so the same documents
    * slice writes as Avro container files and reads back with an explicit
    * schema. Avro is binary-framed (schema in the container header, no
    * quoting/escaping layer), so the fingerprints must match the parquet
    * truth exactly — any encoder/decoder asymmetry in string handling
    * hash-fails. */
  private val stagedAvro = new graft.Memo[String]

  /** Spark 4.1 ships the Avro classes inside spark-sql but does NOT list
    * them in the DataSourceRegister service file, so the short name "avro"
    * fails lookup in a bare-jars deployment — the fully-qualified
    * FileFormat class resolves regardless of service registration. */
  private val AvroFormat = "org.apache.spark.sql.avro.AvroFileFormat"

  def src_avro(s: SparkSession, dir: String): DataFrame = {
    val avroDir = stagedAvro.getOrStage(dir) {
      val t = graft.Staging.tempDir("graft-src-avro-").toString
      Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text"))
        .write.mode("overwrite").format(AvroFormat).save(t)
      t
    }
    val schema = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text")).schema
    s.read.schema(schema).format(AvroFormat).load(avroDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("chars"),
        min(md5(col("text"))).as("min_fp"),
        max(md5(col("text"))).as("max_fp"))
  }

  val src_avro_sql: String = src_xml_sql

  /** Hive-style partitioned layout — the on-disk shape of a production
    * corpus (100 TB of documents is stored partitioned, never flat): stage
    * `documents` once as `lang=<v>/part-*.parquet`, then read back with a
    * partition filter. Catalyst prunes the listing to the one `lang=de`
    * directory — the scan's PartitionFilters carry the predicate and the
    * other partitions' files are never opened (asserted in
    * `SourcePartitionSuite`), which at production scale is the difference
    * between reading 100 TB and reading one partition. */
  private val stagedPartitioned = new graft.Memo[String]

  private[sources] def stagePartitioned(s: SparkSession, dir: String): String =
    stagedPartitioned.getOrStage(dir) {
      val t = graft.Staging.tempDir("graft-src-part-").toString
      Tables.documents(s, dir).write.mode("overwrite").partitionBy("lang").parquet(t)
      t
    }

  def src_partitioned(s: SparkSession, dir: String): DataFrame = {
    val t = stagePartitioned(s, dir)
    s.read.parquet(t)
      .filter(col("lang") === "de")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("chars"))
  }

  val src_partitioned_sql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS chars
      |FROM documents WHERE lang = 'de' GROUP BY 1""".stripMargin

  /** Parquet SCHEMA EVOLUTION — the lake reality at 100 TB: files written
    * before a column existed sit next to files written after, and one read
    * must see them all. Stage the corpus as two generations under one
    * directory — even doc_ids written WITHOUT `n_chars` (the old schema),
    * odd doc_ids WITH it — then read with `mergeSchema=true`: the footers
    * are reconciled into the union schema and old-generation rows surface
    * NULL for the added column. The aggregate pins exactly that: the
    * evolved-row count and sum come out of the merged column, and the
    * oracle recomputes them from the original table with the same even/odd
    * split — a row leaking a non-NULL `n_chars` from an old file (or a
    * dropped column) hash-fails. Footer reconciliation is a planning-time
    * cost; the scan itself stays a plain pruned parquet read. */
  private val stagedEvolved = new graft.Memo[String]

  private def stageEvolved(s: SparkSession, dir: String): String =
    stagedEvolved.getOrStage(dir) {
      val t = graft.Staging.tempDir("graft-src-evolve-").toString
      val base = Tables.documents(s, dir)
      base.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("text"))
        .write.mode("append").parquet(t)
      base.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
        .write.mode("append").parquet(t)
      t
    }

  def src_schema_merge(s: SparkSession, dir: String): DataFrame = {
    val t = stageEvolved(s, dir)
    s.read.option("mergeSchema", "true").parquet(t)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("n_chars")).as("n_evolved"),
        sum(col("n_chars")).as("chars_evolved"))
  }

  val src_schema_merge_sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_evolved,
      |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT) AS chars_evolved
      |FROM documents GROUP BY 1""".stripMargin

  /** BUCKETED co-located join — the write-time shuffle that repeated joins
    * amortize at 100 TB: `orders` and `customer` are staged once as
    * catalog-registered external tables bucketed (and sorted) by their join
    * key into the SAME bucket count, so a key-equal join of the two scans is
    * planned WITHOUT a shuffle on either side — each task zips bucket i of
    * both tables. At warehouse scale this turns every recurring
    * fact⋈dimension-on-key join from two Exchanges into zero; the plan
    * assertion (no `Exchange` under the join, broadcast disabled) lives in
    * `SourcePartitionSuite`, while this gate pins the bucketed layout's
    * CORRECTNESS — a bucket-pruned row or a row hashed into the wrong
    * bucket shows up as a wrong aggregate. The per-mktsegment aggregate
    * after the join still shuffles (5 groups — negligible); only the join
    * itself is the demonstration. */
  private val stagedBucketed = scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  private[sources] def stageBucketed(s: SparkSession, dir: String): (String, String) = {
    // Unlike the path-returning stagers, this memo's value is CATALOG state,
    // which lives in the SparkContext's SharedState — a later SparkContext
    // in the same JVM (test suites stop/recreate contexts) has a fresh
    // catalog while the memo still holds the names. Trust the memo only if
    // the current context's catalog actually has the tables; else restage
    // (mode=overwrite makes the re-run idempotent).
    stagedBucketed.get(dir)
      .filter { case (ot, ct) => s.catalog.tableExists(ot) && s.catalog.tableExists(ct) }
      .getOrElse {
        // table names must be unique per fixture dir within the shared JVM
        val tag = Integer.toHexString(dir.hashCode & 0x7fffffff)
        val (ot, ct) = (s"graft_orders_b$tag", s"graft_customer_b$tag")
        Tables.orders(s, dir).write
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", graft.Staging.tempDir("graft-src-bucket-o-").toString)
          .mode("overwrite").format("parquet").saveAsTable(ot)
        Tables.customer(s, dir).write
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", graft.Staging.tempDir("graft-src-bucket-c-").toString)
          .mode("overwrite").format("parquet").saveAsTable(ct)
        stagedBucketed.put(dir, (ot, ct))
        (ot, ct)
      }
  }

  def src_bucketed(s: SparkSession, dir: String): DataFrame = {
    val (ot, ct) = stageBucketed(s, dir)
    val o = s.table(ot)
    val c = s.table(ct)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
        countDistinct(col("c_custkey")).as("n_custs"))
  }

  val src_bucketed_sql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(DISTINCT c_custkey) AS n_custs
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  /** SORTED write layout for row-group skipping — at 100 TB the cheapest
    * read is the one whose row groups never open: range-repartition +
    * sort-within-partitions by a hot filter column before writing, so each
    * parquet file (and each row group inside it) covers a TIGHT, disjoint
    * `n_chars` interval and a range predicate prunes whole files from the
    * footer min/max stats alone. `SourcePartitionSuite` asserts the
    * skipping is real (footer stats disjoint, most row groups prunable for
    * a selective predicate, filter pushed to the scan); this gate pins the
    * sorted layout's correctness under a range read. */
  private val stagedSorted = new graft.Memo[String]

  private[sources] def stageSorted(s: SparkSession, dir: String): String =
    stagedSorted.getOrStage(dir) {
      val t = graft.Staging.tempDir("graft-src-sorted-").toString
      Tables.documents(s, dir)
        .repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions(col("n_chars"), col("doc_id"))
        .write.mode("overwrite").parquet(t)
      t
    }

  /** Z-ORDER (Morton) clustered layout — the multi-dimensional counterpart
    * of [[stageSorted]]'s single-column sort, and the layout a 100 TB lake
    * actually uses when TWO independent columns are both hot filters
    * (Morton 1966; the technique behind Delta/Iceberg `OPTIMIZE ZORDER
    * BY`): each dimension is normalized to an 8-bit cell by exact integer
    * arithmetic against the table max, the two cell ids are bit-interleaved
    * into a 16-bit Z-code, and rows land in `zbucket = zcode div 1024` —
    * 64 Hive partitions, each a contiguous Z-range that spans only 1/8 of
    * EACH dimension's domain (the top 6 interleaved bits pin 3 high bits
    * per dimension). A single-column sort gives tight files on one column
    * and full-domain spread on the other; the gate's per-bucket min/max of
    * BOTH keys exhibits the both-dimensions-tight property directly, and
    * the oracle recomputes the identical interleave from the originals.
    *
    * The interleave is expressed as pure `div`/`%`/`*` arithmetic shared
    * (token-for-token, modulo the floor-div spelling) between the Spark
    * plan and the DuckDB oracle — engine-exact, codegen-friendly, no UDF.
    *
    * Scale: staging is one repartition-by-bucket write (the same shuffle a
    * plain partitioned write costs); reads with predicates on either (or
    * both) dimensions prune whole directories from the listing, which
    * `SourcePartitionSuite` pins on the physical plan. */
  private val ZBits = 8 // cell bits per dimension -> 16-bit Z-code
  private val ZBuckets = 64

  /** Bit-interleave of two [[ZBits]]-bit cells as div/mod arithmetic; `fd`
    * is the engine's floor-division token ("div" Spark, "//" DuckDB). */
  private def mortonExpr(a: String, b: String, fd: String): String =
    (0 until ZBits).flatMap(i => Seq(
      s"(($a $fd ${1L << i}) % 2) * ${1L << (2 * i)}",
      s"(($b $fd ${1L << i}) % 2) * ${1L << (2 * i + 1)}")).mkString(" + ")

  private def zcells(fd: String): (String, String) = (
    s"(l_partkey * ${1 << ZBits}) $fd (maxp + 1)",
    s"(l_suppkey * ${1 << ZBits}) $fd (maxs + 1)")

  private val stagedZorder = new graft.Memo[String]

  private[sources] def stageZorder(s: SparkSession, dir: String): String =
    stagedZorder.getOrStage(dir) {
      val t = graft.Staging.tempDir("graft-src-zorder-").toString
      val (ca, cb) = zcells("div")
      val maxes = Tables.lineitem(s, dir)
        .agg(max(col("l_partkey")).as("maxp"), max(col("l_suppkey")).as("maxs"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        .crossJoin(broadcast(maxes))
        .withColumn("zcode", expr(mortonExpr(ca, cb, "div")))
        .withColumn("zbucket", expr(s"zcode div ${(1 << (2 * ZBits)) / ZBuckets}"))
        .drop("maxp", "maxs")
        .repartition(col("zbucket"))
        .sortWithinPartitions(col("zbucket"), col("zcode"))
        .write.mode("overwrite").partitionBy("zbucket").parquet(t)
      t
    }

  def src_zorder(s: SparkSession, dir: String): DataFrame = {
    s.read.parquet(stageZorder(s, dir))
      .groupBy(col("zbucket").cast("int").as("zbucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
        min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"))
  }

  val src_zorder_sql: String = {
    val (ca, cb) = zcells("//")
    s"""WITH m AS (SELECT max(l_partkey) AS maxp, max(l_suppkey) AS maxs FROM lineitem),
       |z AS (SELECT l_partkey, l_suppkey,
       |        (${mortonExpr(ca, cb, "//")}) AS zcode
       |      FROM lineitem CROSS JOIN m)
       |SELECT CAST(zcode // ${(1 << (2 * ZBits)) / ZBuckets} AS INT) AS zbucket,
       |  count(*) AS n_rows,
       |  min(l_partkey) AS min_part, max(l_partkey) AS max_part,
       |  min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
       |FROM z GROUP BY 1""".stripMargin
  }

  def src_sorted_layout(s: SparkSession, dir: String): DataFrame = {
    val t = stageSorted(s, dir)
    s.read.parquet(t)
      .filter(col("n_chars") >= 200 && col("n_chars") < 400)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        min(md5(col("text"))).as("min_fp"))
  }

  val src_sorted_layout_sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars, min(md5(text)) AS min_fp
      |FROM documents WHERE n_chars >= 200 AND n_chars < 400
      |GROUP BY 1""".stripMargin

  /** PERMISSIVE malformed-record ingestion — the contract real crawl/log
    * JSONL always exercises: corrupt lines must not kill the job OR
    * silently vanish. A staged JSONL copy of `documents` has every
    * doc_id % 17 == 0 line deliberately truncated mid-string; the read uses
    * PERMISSIVE mode with `_corrupt_record`, so bad lines surface as rows
    * with null data columns and the raw line captured. The aggregation
    * groups good rows per language (content-pinned with md5 fingerprints —
    * proving no good line was lost or altered) and corrupt rows under the
    * null language with their count. The oracle recomputes both sides from
    * the parquet original and the same doc_id rule. Scale: the permissive
    * parse is scan-shaped — per-line error containment costs nothing
    * distributable. */
  private def stageMalformed(s: SparkSession, dir: String): String =
    stagedMalformed.getOrStage(dir) {
      val out = graft.Staging.tempDir("graft-src-badjson-").toString
      Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text"))
        .select(when(col("doc_id") % 17 === 0,
            concat(lit("{\"doc_id\": "), col("doc_id"), lit(", \"lang\": \"unterminated")))
          .otherwise(to_json(struct(col("doc_id"), col("lang"), col("text"))))
          .as("value"))
        .write.mode("overwrite").text(out)
      out
    }
  private val stagedMalformed = new graft.Memo[String]

  def src_malformed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.StringType
    val schema = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text")).schema
      .add("_corrupt_record", StringType)
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(stageMalformed(s, dir))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        min(md5(col("text"))).as("min_fp"),
        max(md5(col("text"))).as("max_fp"))
  }

  val src_malformed_sql: String =
    """SELECT lang, count(*) AS n_rows, CAST(0 AS BIGINT) AS n_corrupt,
      |  min(md5(text)) AS min_fp, max(md5(text)) AS max_fp
      |FROM documents WHERE doc_id % 17 != 0 GROUP BY lang
      |UNION ALL
      |SELECT NULL AS lang, count(*) AS n_rows, CAST(count(*) AS BIGINT) AS n_corrupt,
      |  NULL AS min_fp, NULL AS max_fp
      |FROM documents WHERE doc_id % 17 = 0""".stripMargin

  /** ORC round trip — the second columnar format a warehouse engine must
    * speak. The documents slice is staged as ORC (with struct/column
    * preservation) and read back; per-language aggregates are
    * content-pinned with md5 fingerprints against the parquet original, so
    * any row or value the ORC writer/reader mangles hash-fails. Scan-shaped
    * at any scale; ORC brings its own predicate pushdown and row-group
    * statistics, and columns prune exactly as in parquet. */
  private val stagedOrc = new graft.Memo[String]

  private def stageOrc(s: SparkSession, dir: String): String =
    stagedOrc.getOrStage(dir) {
      val out = graft.Staging.tempDir("graft-src-orc-").toString
      Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text"))
        .write.mode("overwrite").orc(out)
      out
    }

  def src_orc(s: SparkSession, dir: String): DataFrame = {
    s.read.orc(stageOrc(s, dir))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("chars"),
        min(md5(col("text"))).as("min_fp"),
        max(md5(col("text"))).as("max_fp"))
  }

  val src_orc_sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS chars,
      |  min(md5(text)) AS min_fp, max(md5(text)) AS max_fp
      |FROM documents GROUP BY 1""".stripMargin

  /** `binaryFile` source — the ingestion shape of a MULTIMODAL lake: one
    * opaque blob per object (image/audio/doc) in a Hive-partitioned
    * directory tree, read as (path, length, content) rows. Stage each
    * document's UTF-8 bytes as `lang=<v>/<doc_id>.bin` (written from the
    * executors — one task per lang partition, never through the driver),
    * then read back with `binaryFile` + `pathGlobFilter` and profile per
    * directory-derived lang. `sum(length)` uses the FILE-METADATA size and
    * `md5(content)` the actual bytes, so a truncated, duplicated, or
    * mis-partitioned blob hash-fails against the oracle computed from the
    * source table. The READ path is the part that scales: listing is
    * partition-parallel, each blob is read by exactly one task, and the
    * per-mille profile aggregate is tiny. The STAGING path, by contrast,
    * is a local-mode fixture: `foreachPartition` writes into a
    * driver-created local temp dir, which is only shared between "driver"
    * and "executors" because local mode runs them in one JVM — on a real
    * cluster the blobs would already live in (or be staged to) a shared
    * filesystem/object store and this synthesis step would not exist. */
  private val stagedBinary = new graft.Memo[String]

  private def stageBinary(s: SparkSession, dir: String): String =
    stagedBinary.getOrStage(dir) {
      val t = graft.Staging.tempDir("graft-src-bin-").toString
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"))
        .repartition(col("lang"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          rows.foreach { r =>
            val p = java.nio.file.Paths.get(t, s"lang=${r.getString(1)}", s"${r.getLong(0)}.bin")
            java.nio.file.Files.createDirectories(p.getParent)
            java.nio.file.Files.write(p, r.getString(2).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        }
      t
    }

  def src_binary(s: SparkSession, dir: String): DataFrame = {
    val t = stageBinary(s, dir)
    s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(t)
      .select(regexp_extract(col("path"), "lang=([a-z]+)", 1).as("lang"),
        col("length"), col("content"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_blobs"),
        sum(col("length")).as("bytes"),
        min(md5(col("content"))).as("min_fp"),
        max(md5(col("content"))).as("max_fp"))
  }

  val src_binary_sql: String =
    """SELECT lang, count(*) AS n_blobs,
      |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS bytes,
      |  min(md5(text)) AS min_fp, max(md5(text)) AS max_fp
      |FROM documents GROUP BY 1""".stripMargin

  /** Small-files COMPACTION — the lake-maintenance operator (`OPTIMIZE` /
    * rewrite) that keeps a blob store readable: the [[stageBinary]] tree is
    * thousands of one-blob files (the shape ingestion leaves behind, and
    * the shape that makes every downstream scan pay per-file open+listing
    * cost — `src_binary`'s measured page-cache sensitivity is exactly this
    * tax), rewritten into [[CompactTargetFiles]] parquet files in one
    * distributed pass. The gate proves BOTH halves: per-lang blob counts,
    * an order-insensitive XOR of content hashes, and the min fingerprint
    * pin content identity through the rewrite (a lost, duplicated, or
    * truncated blob hash-fails), while the emitted `n_files` — read from
    * the compacted directory's metadata — pins that the layout actually
    * compacted (1000 residual files would fail the oracle's constant).
    *
    * Scale: read is one task per small file (listing partition-parallel),
    * the rewrite is one round-robin repartition sized to the target file
    * count — at 100 TB the count comes from `input_bytes / target_file_size`
    * instead of a constant, and the write itself is the same
    * exchange+write any ETL pass costs. Nothing goes through the driver
    * but file metadata. */
  private val CompactTargetFiles = 4
  private val stagedCompact = new graft.Memo[String]

  private def stageCompact(s: SparkSession, dir: String): String =
    stagedCompact.getOrStage(dir) {
      val t = graft.Staging.tempDir("graft-src-compact-").toString
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
        .load(stageBinary(s, dir))
        .select(regexp_extract(col("path"), "lang=([a-z]+)", 1).as("lang"),
          col("content"))
        .repartition(CompactTargetFiles)
        .write.mode("overwrite").parquet(t)
      t
    }

  def src_compact(s: SparkSession, dir: String): DataFrame = {
    val t = stageCompact(s, dir)
    val nFiles = s.read.parquet(t).inputFiles.length.toLong // metadata only
    s.read.parquet(t)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_blobs"),
        expr(s"bit_xor(${graft.operators.Dedup.h60S("content", "")})").as("content_xor"),
        min(md5(col("content"))).as("min_fp"))
      .withColumn("n_files", lit(nFiles))
  }

  val src_compact_sql: String =
    s"""SELECT lang, count(*) AS n_blobs,
       |  bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS content_xor,
       |  min(md5(text)) AS min_fp,
       |  CAST($CompactTargetFiles AS BIGINT) AS n_files
       |FROM documents GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src_binary" -> src_binary _,
    "src_orc" -> src_orc _,
    "src_malformed" -> src_malformed _,
    "src_xml" -> src_xml _,
    "src_avro" -> src_avro _,
    "src_roundtrip" -> src_roundtrip _,
    "src_partitioned" -> src_partitioned _,
    "src_schema_merge" -> src_schema_merge _,
    "src_bucketed" -> src_bucketed _,
    "src_sorted_layout" -> src_sorted_layout _,
    "src_zorder" -> src_zorder _,
    "src_compact" -> src_compact _)

  val oracles: Map[String, String] = Map(
    "src_binary" -> src_binary_sql,
    "src_orc" -> src_orc_sql,
    "src_malformed" -> src_malformed_sql,
    "src_xml" -> src_xml_sql,
    "src_avro" -> src_avro_sql,
    "src_roundtrip" -> src_roundtrip_sql,
    "src_partitioned" -> src_partitioned_sql,
    "src_schema_merge" -> src_schema_merge_sql,
    "src_bucketed" -> src_bucketed_sql,
    "src_sorted_layout" -> src_sorted_layout_sql,
    "src_zorder" -> src_zorder_sql,
    "src_compact" -> src_compact_sql)
}
