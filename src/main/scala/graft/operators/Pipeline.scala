package graft.operators

import graft.Tables
import graft.functions.{NormSpace, WordShingles}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{aggregate, BloomFilterMightContain, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.BinaryType

/** End-to-end training-data pipeline steps, composed from the primitive
  * operators — the two jobs every pre-training corpus build runs after the
  * per-document analyses:
  *
  *  - **decontamination**: find training documents that share n-grams with
  *    an evaluation/benchmark set, so benchmark material can be excluded
  *    from the training corpus (the fixture's eval set is the deterministic
  *    5% slice `doc_id % 20 = 0`; in production it is the benchmark suite).
  *  - **corpus materialization**: the final filter join — keep documents
  *    that pass the quality gate AND are their exact-duplicate group's
  *    representative.
  *
  * Scale notes: an eval/benchmark set is KBs–MBs against a 100 TB corpus,
  * so its shingle inverted index is broadcast — the train side streams
  * map-side with no shuffle of the corpus; only (train, eval) pairs that
  * actually collide reach the aggregation. Corpus materialization is two
  * hash-joins on doc_id against aggregates the optimizer computes in one
  * pass each over `documents`.
  */
object Pipeline {

  /** Contamination threshold: a train/eval pair sharing at least this many
    * distinct word-3-shingles is flagged (3 shingles = a 5+-word run or
    * several shorter collisions — the conventional loose screen; exact
    * dedup handles the identical-text case separately). */
  private val MinCommonShingles = 3

  /** Max total eval-side text bytes for which the eval posting set is
    * broadcast. Above it we fall back to a shuffle join: a benchmark set
    * is normally KBs–MBs, but an operator that OOMs the driver when handed
    * an oversized "eval set" is a trap at production scale — degrade to a
    * shuffle instead. ~64 MiB of raw text ≈ a few hundred MB of 12-byte
    * posting rows after shingling, the conventional broadcast ceiling. */
  private[operators] val BroadcastMaxEvalBytes = "spark.graft.decontaminate.broadcastMaxEvalBytes"
  private val DefaultMaxEvalBytes = 64L * 1024 * 1024

  /** Eval-side raw-text bytes, estimated from parquet FOOTER metadata only:
    * each column chunk records its total UNCOMPRESSED size, so summing the
    * `text` chunks gives the plain-encoded text bytes (raw bytes + a small
    * per-value length overhead — a faithful upper bound of raw text) without
    * scanning any data page. The eval slice is the deterministic 1/20 of
    * `documents` by doc_id, hence the /20. The previous ×4-over-file-size
    * guess under-gated on highly compressible corpora (text under zstd
    * routinely compresses 5–10×), the exact driver-OOM direction the gate
    * exists to prevent; footer truth replaces the guess at the cost of one
    * footer read per file (the listing the scan already performs). The only
    * residual error is the slice's deviation from the column average, which
    * concentrates to zero as document counts grow — a bounded-variance
    * sampling error, not an unbounded compression-ratio one. */
  private[operators] def evalTextBytesEstimate(s: SparkSession, dir: String): Long = {
    import scala.jdk.CollectionConverters._
    val hconf = s.sparkContext.hadoopConfiguration
    Tables.documents(s, dir).inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hconf))
      try reader.getFooter.getBlocks.asScala
        .flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == "text")
        .map(_.getTotalUncompressedSize).sum
      finally reader.close()
    }.sum / 20
  }

  def pipe_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val posts = Tables.documents(s, dir)
      .select(col("doc_id"), WordShingles.of(col("text"), 3).as("sh"))
      .select(col("doc_id"), explode(col("sh")).as("s0"))
      .select(col("doc_id"), expr(Dedup.h60S("s0", "")).as("s"))
    val evalPosts = posts.filter(col("doc_id") % 20 === 0).toDF("eval_doc_id", "s")
    val trainPosts = posts.filter(col("doc_id") % 20 =!= 0).toDF("train_doc_id", "s")
    val maxBytes = s.conf.get(BroadcastMaxEvalBytes, DefaultMaxEvalBytes.toString).toLong
    val evalSide =
      if (evalTextBytesEstimate(s, dir) <= maxBytes) broadcast(evalPosts) else evalPosts
    trainPosts.join(evalSide, "s")
      .groupBy(col("train_doc_id"), col("eval_doc_id"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= MinCommonShingles)
  }

  val pipe_decontaminate_sql: String =
    s"""WITH tok AS (SELECT doc_id, trim(text) tx, string_split_regex(trim(text), '\\s+') toks FROM documents),
       |sh AS (SELECT doc_id, ${Dedup.shinglesD} AS sh FROM tok),
       |post AS (SELECT doc_id, CAST(('0x' || substr(md5(s0), 1, 15)) AS BIGINT) AS s
       |         FROM (SELECT doc_id, unnest(sh) AS s0 FROM sh)),
       |ev AS (SELECT doc_id AS eval_doc_id, s FROM post WHERE doc_id % 20 = 0),
       |tr AS (SELECT doc_id AS train_doc_id, s FROM post WHERE doc_id % 20 <> 0)
       |SELECT train_doc_id, eval_doc_id, count(*) AS n_common
       |FROM tr JOIN ev USING (s)
       |GROUP BY 1, 2 HAVING count(*) >= $MinCommonShingles""".stripMargin

  /** SEMANTIC decontamination — the embedding-space complement of
    * [[pipe_decontaminate]]: an n-gram screen misses paraphrased benchmark
    * leakage (same answer, reworded), which is exactly what survives into
    * a training set and inflates evals. Same eval split (`id % 20 == 0`,
    * the held-out 5%), but the match predicate is cosine ≥ 0.4 between the
    * documents' embeddings, tested in the squared integer-discipline form
    * (`dot > 0 AND dot² ≥ 0.16·n2·qn2`, the [[Dedup.dedup_semantic]]
    * predicate) so no square root touches the gate decision.
    *
    * Scale: the eval side is a bounded benchmark suite — broadcast, one
    * corpus pass, no corpus shuffle (the [[Similarity.sim_topk_bruteforce]]
    * plan with a threshold instead of a rank). A production eval set too
    * large to broadcast routes both sides through the LSH bucket join
    * ([[Similarity.sim_topk_lsh]]) with the same predicate. */
  def pipe_decontaminate_semantic(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VecDot
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), VecDot.norm2(col("embedding")).as("n2"))
    val ev = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("eval_doc_id"), col("embedding").as("qe"), col("n2").as("qn2"))
    e.filter(col("vec_id") % 20 =!= 0)
      .crossJoin(broadcast(ev))
      .withColumn("dot", VecDot.dot(col("qe"), col("embedding")))
      .filter(col("dot") > 0 && col("dot") * col("dot") >= lit(0.16) * col("n2") * col("qn2"))
      .select(col("vec_id").as("train_doc_id"), col("eval_doc_id"))
  }

  val pipe_decontaminate_semantic_sql: String =
    """WITH e AS (SELECT vec_id, embedding,
      |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n2
      |  FROM embeddings),
      |ev AS (SELECT vec_id AS eval_doc_id, embedding AS qe, n2 AS qn2 FROM e WHERE vec_id % 20 = 0),
      |p AS (SELECT e.vec_id AS train_doc_id, eval_doc_id,
      |    list_sum(list_transform(range(1, len(qe)+1), i ->
      |      CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS dot,
      |    n2, qn2
      |  FROM e CROSS JOIN ev WHERE e.vec_id % 20 <> 0)
      |SELECT train_doc_id, eval_doc_id
      |FROM p WHERE dot > 0 AND dot * dot >= 0.16 * n2 * qn2""".stripMargin

  /** EPOCH SHUFFLE — the reproducible training-order permutation: for each
    * epoch, every document gets a dense order index that is random-looking
    * but a pure function of (epoch, doc_id), so any worker, any restart,
    * and any re-partitioning regenerates the identical order (the property
    * `rand()`-based shuffles lack, and the reason training jobs shuffle by
    * seeded hash). Sort key = md5-derived 60-bit hash of `ep:<epoch>:<id>`;
    * different epochs permute independently.
    *
    * The dense rank is computed WITHOUT a whole-corpus sort (the
    * [[pipe_token_budget]]/[[pipe_interleave]] decomposition): hash keys
    * shard into 256 top-bit buckets — balanced by construction, since the
    * shard key IS the uniform hash — so the sort task is one bucket,
    * ~N/256 rows, plus bucket-count offsets from a 256-row window. The
    * single-window oracle proves the decomposition exact. */
  private val ShuffleEpochs = 2
  private val ShuffleBuckets = 256L

  def pipe_epoch_shuffle(s: SparkSession, dir: String): DataFrame = {
    val keyExpr = Dedup.h60S(
      "concat('ep:', CAST(epoch AS STRING), ':', CAST(doc_id AS STRING))", "")
    val base = Tables.documents(s, dir).select(col("doc_id"))
      .select(col("doc_id"), explode(expr(s"sequence(0, ${ShuffleEpochs - 1})")).as("epoch"))
      .withColumn("key", expr(keyExpr))
      .withColumn("bkt", expr(s"key div ${(1L << 60) / ShuffleBuckets}"))
      // bkt is never null (md5 of non-null input), but the inner join below
      // infers IsNotNull(bkt) into ONE branch's subtree — stated here so
      // both branches' exchange subtrees stay identical and reuse fires
      // (the pipe_token_budget discipline)
      .where(col("bkt").isNotNull)
    val wLocal = Window.partitionBy(col("epoch"), col("bkt"))
      .orderBy(col("key"), col("doc_id"))
    val local = base.withColumn("lr", row_number().over(wLocal))
    val wOff = Window.partitionBy(col("epoch")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // bucket count = max row_number, aggregated from `local` rather than
    // `base` (the pipe_token_budget discipline): the offsets branch then
    // shares the windowed stage's exchange subtree verbatim, so the corpus
    // is scanned and the epoch keys hashed ONCE (exchange reuse), and the
    // aggregate runs on data already partitioned by (epoch, bkt) — the
    // only new exchange is over the 256-buckets-per-epoch counts.
    val offsets = local.groupBy(col("epoch"), col("bkt")).agg(max(col("lr")).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(wOff), lit(0L)))
      .select(col("epoch"), col("bkt"), col("off"))
    local.join(offsets, Seq("epoch", "bkt"))
      .select(col("epoch"), col("doc_id"), (col("off") + col("lr") - 1L).as("ord"))
  }

  val pipe_epoch_shuffle_sql: String =
    s"""WITH b AS (SELECT doc_id, unnest(range(0, $ShuffleEpochs)) AS epoch FROM documents),
       |k AS (SELECT epoch, doc_id,
       |    CAST(('0x' || substr(md5(concat('ep:', CAST(epoch AS VARCHAR), ':',
       |      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS key
       |  FROM b)
       |SELECT CAST(epoch AS INT) AS epoch, doc_id,
       |  CAST(row_number() OVER (PARTITION BY epoch ORDER BY key, doc_id) - 1 AS BIGINT) AS ord
       |FROM k""".stripMargin

  /** The corpus cut: quality-pass documents that represent their exact-dup
    * group, with the columns a downstream tokenizer run needs. */
  def pipe_corpus(s: SparkSession, dir: String): DataFrame = {
    val quality = TextAnalysis.text_quality(s, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality_class"))
    val reps = Dedup.dedup_exact(s, dir)
      .select(col("rep_doc_id").as("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"))
      .join(quality, "doc_id")
      .join(reps, Seq("doc_id"), "left_semi")
      .filter(col("quality_class") === "ok")
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"))
  }

  val pipe_corpus_sql: String =
    s"""WITH q AS (SELECT doc_id,
       |        len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       |        len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t IN ${TextAnalysis.sqlStopList})) AS stop_hits,
       |        len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS uniq
       |      FROM documents),
       |cls AS (SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       |        CASE WHEN n_tokens < 20 THEN 'too_short'
       |             WHEN (stop_hits * 1000) // n_tokens > 150 THEN 'stopword_heavy'
       |             WHEN (uniq * 1000) // n_tokens < 400 THEN 'repetitive'
       |             ELSE 'ok' END AS quality_class
       |        FROM q),
       |reps AS (SELECT min(doc_id) AS doc_id
       |         FROM (SELECT doc_id, md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS fp FROM documents)
       |         GROUP BY fp)
       |SELECT d.doc_id, d.lang, d.source, cls.n_tokens
       |FROM documents d
       |JOIN cls ON d.doc_id = cls.doc_id
       |JOIN reps ON d.doc_id = reps.doc_id
       |WHERE cls.quality_class = 'ok'""".stripMargin

  /** The whole corpus build as ONE query — the flagship composition proving
    * the primitive operators actually chain into the pipeline a user runs:
    * [[pipe_corpus]] (quality gate + exact-dup representatives) minus the
    * eval slice and every contaminated train document
    * ([[pipe_decontaminate]]), assigned to splits by [[pipe_split]], rolled
    * up to per-(split, language) document and token totals — the "what will
    * my model actually train on" report.
    *
    * Scale: the corpus legs join on `doc_id` (co-partitioned aggregates over
    * one `documents` scan each); the contaminated-id set is collision-sized
    * (≪ corpus, broadcast anti-join); the split column is a pure map; the
    * final rollup has #splits × #languages groups. Nothing in the
    * composition adds a shuffle the standalone operators didn't already
    * have. All-integer output, so the gate hash is exact. */
  def pipe_e2e(s: SparkSession, dir: String): DataFrame = {
    val contaminated = pipe_decontaminate(s, dir)
      .select(col("train_doc_id").as("doc_id")).distinct()
    pipe_corpus(s, dir)
      .filter(col("doc_id") % 20 =!= 0) // the eval slice never trains
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(pipe_split(s, dir).select(col("doc_id"), col("split")), "doc_id")
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"))
  }

  /** Bloom-prefilter decontamination: the constant-size alternative to
    * [[pipe_decontaminate]]'s broadcast. The eval set's distinct shingle
    * hashes are folded into ONE Bloom sketch (bits fixed up front — size is
    * independent of eval-set cardinality, unlike a broadcast hash set);
    * train postings are screened map-side by `might_contain`, so only
    * probable hits reach the shuffle join; the exact join then removes the
    * Bloom's false positives, making the result exact — which is why a plain
    * SQL join is a valid oracle for an operator whose physical plan is
    * approximate-prefilter + verify. */
  private val BloomItems = 1000000L
  private val BloomBits = 8L * 1024 * 1024

  def pipe_bloom_screen(s: SparkSession, dir: String): DataFrame = {
    val posts = Tables.documents(s, dir)
      .select(col("doc_id"), WordShingles.of(col("text"), 3).as("sh"))
      .select(col("doc_id"), explode(col("sh")).as("s0"))
      .select(col("doc_id"), expr(Dedup.h60S("s0", "")).as("s"))
    val evalHashes = posts.filter(col("doc_id") % 20 === 0).select(col("s")).distinct()
    // one row, KB–MB of sketch: the only driver-side materialization, same
    // cost class as planning a broadcast (BloomFilterAggregate is not
    // SQL-registered in a user session, so it is built as an expression)
    val bloomAgg = new aggregate.BloomFilterAggregate(
      ColumnBridge.expression(col("s")),
      Literal(BloomItems), Literal(BloomBits)).toAggregateExpression()
    val bloom = evalHashes
      .agg(ColumnBridge.column(bloomAgg).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val train = posts.filter(col("doc_id") % 20 =!= 0)
      .toDF("train_doc_id", "s")
      .filter(ColumnBridge.column(BloomFilterMightContain(
        Literal(bloom, BinaryType), ColumnBridge.expression(col("s")))))
    train.join(evalHashes, "s")
      .groupBy(col("train_doc_id"))
      .agg(countDistinct(col("s")).as("n_hits"))
  }

  val pipe_bloom_screen_sql: String =
    s"""WITH tok AS (SELECT doc_id, trim(text) tx, string_split_regex(trim(text), '\\s+') toks FROM documents),
       |sh AS (SELECT doc_id, ${Dedup.shinglesD} AS sh FROM tok),
       |post AS (SELECT doc_id, CAST(('0x' || substr(md5(s0), 1, 15)) AS BIGINT) AS s
       |         FROM (SELECT doc_id, unnest(sh) AS s0 FROM sh)),
       |ev AS (SELECT DISTINCT s FROM post WHERE doc_id % 20 = 0),
       |tr AS (SELECT doc_id AS train_doc_id, s FROM post WHERE doc_id % 20 <> 0)
       |SELECT train_doc_id, count(DISTINCT s) AS n_hits
       |FROM tr JOIN ev USING (s)
       |GROUP BY 1""".stripMargin

  /** Sequence packing: assign documents to fixed token-budget context
    * windows ("concatenate then chop" pretraining packing) — each doc's bin
    * is the window its first token lands in, under deterministic doc_id
    * order within its (source, shard). The shard is a fixed doc_id-range
    * bucket, so no single task ever sorts a whole source: a TB-scale source
    * splits into bounded shards that pack in parallel, and packing restarts
    * at shard boundaries (bin ids are local to the shard) — exactly how
    * production packing jobs bound per-worker state. */
  private val PackBudget = 1024L
  private val PackShardSpan = 128L // doc_ids per shard bucket

  /** SHARD MANIFEST — the writer-side ledger of a training-data export:
    * every document deterministically assigned to one of [[ManifestShards]]
    * hash shards (seeded md5 of doc_id — balanced by construction, stable
    * under any partitioning, reshuffle, or restart), with the per-shard
    * stats a loader schedules from (doc/token/char totals, id range) and
    * TWO order-independent integrity checksums over the per-doc 60-bit
    * hashes: `checksum` (bit_xor) and `checksum2` (sum mod 2^61). A reader
    * re-deriving both over a shard's actual contents detects any
    * odd-multiplicity error (lost/foreign/odd-duplicated document) via the
    * xor alone; even-multiplicity errors cancel in xor (a document
    * duplicated twice leaves it unchanged) but shift the modular sum, so a
    * silent miss requires cancelling two independent equations
    * simultaneously (plus n_docs and both totals). Not cryptographic — an
    * adversarial writer is out of scope; the target is lost/duplicated
    * shard fragments from retried tasks and partial copies.
    *
    * Scale: one scan into a map-side-combined aggregate (xor and the sums
    * all combine associatively+commutatively); output is exactly
    * [[ManifestShards]] rows. At 100 TB the same plan writes the manifest
    * alongside `partitionBy(shard)` output — the aggregate IS the audit
    * of what the files should contain. */
  private val ManifestShards = 32L

  def pipe_shard_manifest(s: SparkSession, dir: String): DataFrame = {
    val h = Dedup.h60S("concat('shard:', CAST(doc_id AS STRING))", "")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        size(TextAnalysis.tokens).cast("long").as("n_tokens"),
        expr(h).as("h"))
      .withColumn("shard", expr(s"h % $ManifestShards"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        expr("bit_xor(h)").as("checksum"),
        // sum mod 2^61: h < 2^60, so the DECIMAL(38,0) accumulator holds
        // ~10^20 docs per shard before precision loss — exact at any scale
        expr("CAST(sum(CAST(h AS DECIMAL(38,0))) % 2305843009213693952 AS BIGINT)")
          .as("checksum2"))
  }

  val pipe_shard_manifest_sql: String =
    s"""WITH d AS (SELECT doc_id, n_chars,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |    CAST(('0x' || substr(md5(concat('shard:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
       |  FROM documents)
       |SELECT h % $ManifestShards AS shard, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
       |  bit_xor(h) AS checksum,
       |  CAST(CAST(sum(h) AS HUGEINT) % 2305843009213693952 AS BIGINT) AS checksum2
       |FROM d GROUP BY 1""".stripMargin

  /** SNAPSHOT RECONCILIATION — the incremental-ingest diff between two
    * corpus snapshots: every document classified `added` / `removed` /
    * `changed` by comparing 64-bit content fingerprints, never the bytes.
    * This is the audit an incremental 100 TB export runs before publishing:
    * how much of the previous snapshot does today's crawl invalidate, and
    * is the delta the expected shape? The fixture derives both snapshots
    * deterministically from `documents` (the OLD snapshot lacks the
    * `doc_id % 19 = 0` docs and carries a half-length prior revision of
    * the `doc_id % 17 = 3` docs; the NEW snapshot lacks `doc_id % 23 = 5`)
    * — in production they are two table versions of the same lake path.
    *
    * Scale: both sides project to (doc_id, fingerprint, length) BEFORE the
    * join, so the shuffle carries ~20 bytes per document instead of the
    * text; the full-outer join keys on doc_id — the primary key both
    * snapshots are naturally bucketed/sorted by (`src_bucketed` proves the
    * shuffle-free layout) — and `changed` is one 8-byte compare per doc.
    * Output is the delta only (unchanged rows drop), which is what the
    * downstream incremental dedup/index jobs consume. Hash-compare equals
    * byte-compare up to xxhash64 collision — the standard reconciliation
    * trade (rsync/lakeFS), and the fixture is deterministic so the gate
    * cannot flake on it. */
  def pipe_snapshot_diff(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val oldRev = when(expr("doc_id % 17 = 3"),
      expr("substr(text, 1, greatest(length(text) div 2, 1))")).otherwise(col("text"))
    val snapOld = d.filter(expr("doc_id % 19 != 0"))
      .select(col("doc_id"), xxhash64(oldRev).as("h_old"),
        length(oldRev).as("chars_old"))
    val snapNew = d.filter(expr("doc_id % 23 != 5"))
      .select(col("doc_id"), xxhash64(col("text")).as("h_new"),
        length(col("text")).as("chars_new"))
    snapOld.join(snapNew, Seq("doc_id"), "full_outer")
      .withColumn("change",
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed"))
      .filter(col("change").isNotNull)
      .select(col("doc_id"), col("change"), col("chars_old"), col("chars_new"))
  }

  /** Oracle compares the text directly — the classification hash-compare
    * stands in for at scale. */
  val pipe_snapshot_diff_sql: String =
    """WITH snap_old AS (SELECT doc_id,
      |    CASE WHEN doc_id % 17 = 3
      |      THEN substr(text, 1, greatest(length(text) // 2, 1))
      |      ELSE text END AS text
      |  FROM documents WHERE doc_id % 19 <> 0),
      |snap_new AS (SELECT doc_id, text FROM documents WHERE doc_id % 23 <> 5),
      |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |    CASE WHEN o.doc_id IS NULL THEN 'added'
      |         WHEN n.doc_id IS NULL THEN 'removed'
      |         WHEN o.text <> n.text THEN 'changed' END AS change,
      |    CAST(length(o.text) AS INT) AS chars_old,
      |    CAST(length(n.text) AS INT) AS chars_new
      |  FROM snap_old o FULL OUTER JOIN snap_new n ON o.doc_id = n.doc_id)
      |SELECT doc_id, change, chars_old, chars_new
      |FROM j WHERE change IS NOT NULL""".stripMargin

  /** DISTRIBUTION-DRIFT report between the same two snapshots
    * [[pipe_snapshot_diff]] reconciles — the monitoring op a continuously
    * re-exported corpus runs alongside the diff: the diff says WHICH
    * documents changed, the drift report says whether the corpus'
    * token distribution MOVED (a mix shift a trained model will feel).
    * Reference vocabulary = the OLD snapshot's top-[[DriftVocabK]] tokens
    * (count DESC, token ASC — deterministic through ties); each vocab
    * token's mass is reported in integer ppm of its snapshot's total
    * token count, plus the absolute per-token drift. The ppm products run
    * in DECIMAL(38,0) (HUGEINT oracle) so a 10^13-token corpus cannot
    * wrap BIGINT (the q44 discipline).
    *
    * Scale: each snapshot is scanned once into a map-side-combined token
    * count; totals are aggregates OVER those counts (vocabulary-sized,
    * never a second corpus scan) carried as broadcast 1-row joins; the
    * vocabulary is a bounded top-K (TakeOrderedAndProject → broadcast), so
    * nothing downstream of the two aggregates touches corpus-scale data. */
  private[graft] val DriftVocabK = 100

  /** The OLD snapshot's token counts (tok, n_old) — the published
    * distribution both the batch drift report and the streaming drift
    * monitor compare against. */
  private[graft] def driftOldCounts(s: SparkSession, dir: String): DataFrame = {
    val oldRev = when(expr("doc_id % 17 = 3"),
      expr("substr(text, 1, greatest(length(text) div 2, 1))")).otherwise(col("text"))
    Tables.documents(s, dir).filter(expr("doc_id % 19 != 0"))
      .select(explode(split(trim(oldRev), "\\s+")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n_old"))
  }

  /** Assemble the drift report from the old counts and a NEW-snapshot
    * count table (tok, n_new) — shared by the batch op (one aggregate) and
    * the streaming monitor (counts off RocksDB state). */
  private[graft] def driftReportFrom(s: SparkSession, dir: String,
      newCnt: DataFrame): DataFrame = {
    val oldCnt = driftOldCounts(s, dir)
    val vocab = oldCnt.orderBy(col("n_old").desc, col("tok").asc).limit(DriftVocabK)
      .select(col("tok"))
    val totOld = oldCnt.agg(sum(col("n_old")).as("t_old"))
    val totNew = newCnt.agg(sum(col("n_new")).as("t_new"))
    broadcast(vocab)
      .join(oldCnt, Seq("tok"), "left")
      .join(newCnt, Seq("tok"), "left")
      .crossJoin(broadcast(totOld)).crossJoin(broadcast(totNew))
      .withColumn("ppm_old",
        expr("CAST(1000000 AS DECIMAL(38,0)) * coalesce(n_old, 0) div t_old"))
      .withColumn("ppm_new",
        expr("CAST(1000000 AS DECIMAL(38,0)) * coalesce(n_new, 0) div t_new"))
      .select(col("tok"), col("ppm_old"), col("ppm_new"),
        abs(col("ppm_old") - col("ppm_new")).as("drift_ppm"))
  }

  def pipe_drift_report(s: SparkSession, dir: String): DataFrame = {
    val newCnt = Tables.documents(s, dir).filter(expr("doc_id % 23 != 5"))
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n_new"))
    driftReportFrom(s, dir, newCnt)
  }

  val pipe_drift_report_sql: String =
    s"""WITH snap_old AS (SELECT doc_id,
       |    CASE WHEN doc_id % 17 = 3
       |      THEN substr(text, 1, greatest(length(text) // 2, 1))
       |      ELSE text END AS text
       |  FROM documents WHERE doc_id % 19 <> 0),
       |snap_new AS (SELECT doc_id, text FROM documents WHERE doc_id % 23 <> 5),
       |oc AS (SELECT tok, count(*) AS n_old FROM (
       |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM snap_old)
       |  GROUP BY 1),
       |nc AS (SELECT tok, count(*) AS n_new FROM (
       |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM snap_new)
       |  GROUP BY 1),
       |tot AS (SELECT (SELECT sum(n_old) FROM oc) AS t_old,
       |    (SELECT sum(n_new) FROM nc) AS t_new),
       |vocab AS (SELECT tok FROM oc ORDER BY n_old DESC, tok ASC LIMIT $DriftVocabK)
       |SELECT v.tok,
       |  CAST((CAST(1000000 AS HUGEINT) * coalesce(n_old, 0)) // t_old AS BIGINT) AS ppm_old,
       |  CAST((CAST(1000000 AS HUGEINT) * coalesce(n_new, 0)) // t_new AS BIGINT) AS ppm_new,
       |  CAST(abs((CAST(1000000 AS HUGEINT) * coalesce(n_old, 0)) // t_old -
       |    (CAST(1000000 AS HUGEINT) * coalesce(n_new, 0)) // t_new) AS BIGINT) AS drift_ppm
       |FROM vocab v LEFT JOIN oc USING (tok) LEFT JOIN nc USING (tok) CROSS JOIN tot""".stripMargin

  /** LENGTH-DISTRIBUTION audit per (lang, power-of-two token bucket) —
    * the histogram a sequence-packing/curriculum design reads first: where
    * the corpus' tokens actually live by document length (a corpus whose
    * token mass sits in 2^4-token fragments packs and trains very
    * differently from one living in 2^12-token documents). Bucket =
    * floor(log2(n_tokens)) computed integer-exactly as bit-length − 1;
    * each bucket's share of its language's token mass in integer ppm.
    *
    * Scale: one corpus scan into a map-side-combined (lang, bucket)
    * aggregate (≤ |langs|·64 rows); the per-lang total is a WINDOW over
    * that aggregate — never a second scan. The ppm product runs in
    * DECIMAL(38,0) (HUGEINT oracle) so a 10^13-token language bucket
    * cannot wrap BIGINT (the q44 discipline). */
  def pipe_length_buckets(s: SparkSession, dir: String): DataFrame = {
    val wLang = Window.partitionBy(col("lang"))
    Tables.documents(s, dir)
      .select(col("lang"), size(TextAnalysis.tokens).cast("long").as("n_tokens"))
      .withColumn("bucket", expr("CAST(length(bin(greatest(n_tokens, 1))) - 1 AS INT)"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bucket_tokens"))
      .withColumn("lang_tokens", sum(col("bucket_tokens")).over(wLang))
      .withColumn("share_ppm",
        expr("CAST(1000000 AS DECIMAL(38,0)) * bucket_tokens div lang_tokens"))
      .drop("lang_tokens")
  }

  val pipe_length_buckets_sql: String =
    """WITH d AS (SELECT lang,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |b AS (SELECT lang,
      |    CAST(length(bin(greatest(n_tokens, 1))) - 1 AS INT) AS bucket,
      |    count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bucket_tokens
      |  FROM d GROUP BY 1, 2)
      |SELECT lang, bucket, n_docs, bucket_tokens,
      |  CAST((CAST(1000000 AS HUGEINT) * bucket_tokens) //
      |    sum(bucket_tokens) OVER (PARTITION BY lang) AS BIGINT) AS share_ppm
      |FROM b""".stripMargin

  def pipe_pack(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens).cast("long").as("n_tokens"))
      .withColumn("shard", expr(s"doc_id DIV $PackShardSpan"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("shard"),
        col("n_tokens").cast("int").as("n_tokens"),
        (col("cum_before") / PackBudget).cast("long").as("bin_id"))
  }

  val pipe_pack_sql: String =
    s"""SELECT doc_id, source, doc_id // $PackShardSpan AS shard,
       |  CAST(n_tokens AS INT) AS n_tokens,
       |  CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source, doc_id // $PackShardSpan ORDER BY doc_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $PackBudget AS BIGINT) AS bin_id
       |FROM (SELECT doc_id, source,
       |        len(string_split_regex(trim(text), '\\s+')) AS n_tokens
       |      FROM documents)""".stripMargin

  /** Stratified sampling with a deterministic hash threshold: per-language
    * keep-rates (down-weight the dominant language), decided per row by the
    * doc_id's md5 bucket — reproducible across engines and runs, no RNG
    * state, embarrassingly parallel (pure map, no shuffle at any scale). */
  private val SampleRates: Seq[(String, Long)] = // per-mille keep rates
    Seq("en" -> 250L, "de" -> 700L, "es" -> 700L, "fr" -> 700L, "zh" -> 700L)
  private val DefaultRate = 1000L

  def pipe_sample_stratified(s: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") // uniform in [0, 2^32)
    val rate = SampleRates.foldRight(lit(DefaultRate)) { case ((l, r), other) =>
      when(col("lang") === l, lit(r)).otherwise(other)
    }
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), bucket.as("bucket"), rate.as("rate"))
      .filter(col("bucket") * 1000L < col("rate") * 4294967296L)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  val pipe_sample_stratified_sql: String = {
    val rateCase = SampleRates
      .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString("CASE ", " ", s" ELSE $DefaultRate END")
    s"""SELECT doc_id, lang, source
       |FROM (SELECT doc_id, lang, source,
       |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS bucket,
       |        $rateCase AS rate
       |      FROM documents)
       |WHERE bucket * 1000 < rate * 4294967296""".stripMargin
  }

  /** Deterministic train/val/test assignment — the split step every training
    * corpus needs before anything touches an eval set. The split is a pure
    * function of `doc_id` (first 8 hex chars of its md5, uniform in
    * [0, 2^32)), so it is stable across runs, re-partitions, and engines —
    * never `rand()`, which silently reassigns rows between executions. The
    * 90/5/5 boundaries are exact integer comparisons (`bucket·20` vs
    * multiples of 2^32·19/20), no floating point. Pure map: zero shuffle at
    * any corpus size, and adding a stratification key later is a groupBy
    * over this same column set. */
  def pipe_split(s: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .select(col("doc_id"), col("lang"),
        when(col("bucket") * 10L < lit(9L * 4294967296L), lit("train"))
          .when(col("bucket") * 20L < lit(19L * 4294967296L), lit("val"))
          .otherwise(lit("test")).as("split"))
  }

  val pipe_split_sql: String =
    """SELECT doc_id, lang,
      |  CASE WHEN bucket * 10 < 9 * 4294967296 THEN 'train'
      |       WHEN bucket * 20 < 19 * 4294967296 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (SELECT doc_id, lang,
      |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS bucket
      |      FROM documents)""".stripMargin

  /** Overlapping token-window chunking — the step that precedes embedding
    * or context-window ingestion of long documents: windows of
    * [[ChunkTokens]] whitespace tokens (sized to the fixture's 20-100-token
    * docs; production would use the model context fraction) at stride [[ChunkStride]] (so
    * consecutive chunks overlap by ChunkTokens − ChunkStride tokens), the
    * last window shortened to the document tail. Chunk count is
    * `1 + max(0, ceil((n − W) / S))`, so a short doc is exactly one chunk
    * and no chunk starts past the text. Pure map + bounded explode (a doc
    * contributes ~n/S rows), all integer — no shuffle at any corpus size. */
  private val ChunkTokens = 32
  private val ChunkStride = 24

  def pipe_chunk(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(TextAnalysis.tokens).as("n"))
      .select(col("doc_id"), col("lang"), col("n"),
        explode(expr(
          s"sequence(0, greatest(0, CAST(ceil((n - $ChunkTokens) / $ChunkStride.0) AS INT)))"))
          .as("chunk_idx"))
      .select(col("doc_id"), col("lang"), col("chunk_idx"),
        (col("chunk_idx") * ChunkStride).as("start_tok"),
        least(lit(ChunkTokens), col("n") - col("chunk_idx") * ChunkStride)
          .as("n_toks"))
  }

  val pipe_chunk_sql: String =
    s"""SELECT doc_id, lang, CAST(chunk_idx AS INT) AS chunk_idx,
       |       CAST(chunk_idx * $ChunkStride AS INT) AS start_tok,
       |       CAST(least($ChunkTokens, n - chunk_idx * $ChunkStride) AS INT) AS n_toks
       |FROM (SELECT doc_id, lang,
       |        len(string_split_regex(trim(text), '\\s+')) AS n,
       |        unnest(range(0, 1 + greatest(0, CAST(ceil((len(string_split_regex(trim(text), '\\s+')) - $ChunkTokens) / $ChunkStride.0) AS INT)))) AS chunk_idx
       |      FROM documents)""".stripMargin

  /** Materialize the NEAR-dup-deduped corpus: keep each MinHash-LSH
    * cluster's representative (the component's minimum doc id — singletons
    * keep themselves), with the columns a downstream run needs. This is the
    * step that actually DROPS near-duplicates; [[Dedup.dedup_clusters_lsh]]
    * only labels them. Representative selection is a filter on the cluster
    * table (`doc_id == cluster_rep`), then one join back to `documents` —
    * no new shuffle shape beyond the clustering itself, and the kept set
    * is corpus-sized so the join shuffles on doc_id like every corpus leg. */
  def pipe_dedup_keep(s: SparkSession, dir: String): DataFrame = {
    val reps = graft.operators.Dedup.dedup_clusters_lsh(s, dir)
      .filter(col("doc_id") === col("cluster_rep"))
      .select(col("doc_id"), col("cluster_size"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .join(reps, "doc_id")
  }

  // declared after pipe_split_sql/pipe_corpus_sql/pipe_decontaminate_sql —
  // a forward val reference would embed null into the composed SQL
  val pipe_e2e_sql: String =
    s"""WITH corpus AS ($pipe_corpus_sql),
       |contaminated AS (
       |  SELECT DISTINCT train_doc_id AS doc_id FROM ($pipe_decontaminate_sql) t),
       |sp AS ($pipe_split_sql)
       |SELECT sp.split, c.lang, count(*) AS n_docs,
       |       CAST(sum(c.n_tokens) AS BIGINT) AS total_tokens
       |FROM corpus c JOIN sp ON c.doc_id = sp.doc_id
       |WHERE c.doc_id % 20 <> 0
       |  AND c.doc_id NOT IN (SELECT doc_id FROM contaminated)
       |GROUP BY 1, 2""".stripMargin

  val pipe_dedup_keep_sql: String =
    s"""WITH clusters AS (${graft.operators.Dedup.dedup_clusters_lsh_sql})
       |SELECT d.doc_id, d.lang, d.source, d.n_chars, c.cluster_size
       |FROM documents d
       |JOIN clusters c ON d.doc_id = c.doc_id AND c.doc_id = c.cluster_rep""".stripMargin

  /** Corpus mix balancing: per-language keep rates (per-mille) that flatten
    * the token mix to the smallest language's total — the data-mixture step
    * that runs before [[pipe_sample_stratified]] turns rates into row
    * decisions. Two tiny aggregates over one corpus pass (per-language token
    * sums combine map-side; the global min is a 1-row broadcast), and the
    * arithmetic is all integer (floor division), so both engines produce
    * bit-identical weights at any scale. */
  def pipe_mix_weights(s: SparkSession, dir: String): DataFrame = {
    val perLang = Tables.documents(s, dir)
      .select(col("lang"), size(TextAnalysis.tokens).cast("long").as("n"))
      .groupBy(col("lang")).agg(sum(col("n")).as("lang_tokens"))
    // global min via an empty-partition window over the AGGREGATED rows
    // (cardinality = #languages, bounded) — a separate agg subquery would
    // re-scan the corpus for a second full pass
    perLang
      .withColumn("min_tokens", min(col("lang_tokens")).over(Window.partitionBy()))
      .select(col("lang"), col("lang_tokens"),
        expr("min_tokens * 1000 DIV lang_tokens").as("weight_pm"))
  }

  val pipe_mix_weights_sql: String =
    """WITH pl AS (SELECT lang,
      |        CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS lang_tokens
      |      FROM documents GROUP BY 1)
      |SELECT lang, lang_tokens,
      |       (SELECT min(lang_tokens) FROM pl) * 1000 // lang_tokens AS weight_pm
      |FROM pl""".stripMargin

  /** APPLY the [[pipe_mix_weights]] rates — the second half of corpus mix
    * balancing (the weights→apply completion, like SemDeDup's train→apply
    * split): each document survives with its language's per-mille keep
    * rate, decided by a deterministic seeded hash of the doc id (never
    * `rand()` — the kept set must be identical across runs, engines, and
    * partitionings). Emits the per-language before/after counts and kept
    * token totals, so the gate verifies the realized mix, not just the
    * rates.
    *
    * Scale: the rate table is ≤ #languages rows (broadcast); the keep
    * decision is a pure map; the rollup is one map-side-combined
    * aggregate. Two corpus scans by necessity — the rates are a global
    * aggregate the apply pass must consume, so rate-derivation and
    * application cannot share one pass (the aggregate-then-apply floor
    * every engine pays); the per-lang table between them is checkpointed
    * so the aggregate itself runs once. */
  def pipe_mix_apply(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), size(TextAnalysis.tokens).cast("long").as("n"))
      .withColumn("keyp", expr(s"${Dedup.h60S("concat('mix:', CAST(doc_id AS STRING))", "")} % 1000"))
    val perLang = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("lang_tokens"))
      .localCheckpoint(true) // ≤ #languages rows; one corpus scan total
    val rates = perLang
      .withColumn("min_tokens", min(col("lang_tokens")).over(Window.partitionBy()))
      .select(col("lang"), col("n_docs"),
        expr("min_tokens * 1000 DIV lang_tokens").as("weight_pm"))
    docs.join(broadcast(rates), "lang")
      .filter(col("keyp") < col("weight_pm"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n")).as("kept_tokens"))
      .join(broadcast(rates), "lang")
      .select(col("lang"), col("n_docs"), col("weight_pm"),
        col("n_kept"), col("kept_tokens"))
  }

  val pipe_mix_apply_sql: String =
    """WITH d AS (SELECT doc_id, lang,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n,
      |    CAST(('0x' || substr(md5(concat('mix:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000 AS keyp
      |  FROM documents),
      |pl AS (SELECT lang, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS lang_tokens
      |  FROM d GROUP BY 1),
      |r AS (SELECT lang, n_docs,
      |    (SELECT min(lang_tokens) FROM pl) * 1000 // lang_tokens AS weight_pm
      |  FROM pl)
      |SELECT r.lang, n_docs, weight_pm,
      |  count(*) AS n_kept, CAST(sum(n) AS BIGINT) AS kept_tokens
      |FROM d JOIN r ON d.lang = r.lang AND d.keyp < r.weight_pm
      |GROUP BY 1, 2, 3""".stripMargin

  /** Per-domain document cap — the anti-crawl-domination step of a corpus
    * build: keep only the top [[DomainCapK]] documents per source, ranked by
    * length (`n_chars` DESC, `doc_id` tiebreak — stand-in for a quality
    * score). Real crawls are Zipf-distributed: one domain can be 10% of the
    * corpus, so a single rank window partitioned by source would sort a
    * whole domain in one task. The rank is TWO-PHASE instead (the
    * `pipe_pack`/`q18` de-skew recipe): per (source, doc_id-range shard)
    * top-K first — bounded partitions — then top-K of the ≤ K-per-shard
    * survivors. A global top-K row is necessarily top-K within its own
    * shard, so results are identical to the single-window formulation,
    * which is what the oracle states; a green hash proves the sharded plan
    * exact. Survivor volume is ≤ K × (id-range / [[CapShardSpan]]) per
    * source — scale CapShardSpan with expected per-domain volume. */
  private val DomainCapK = 5
  private val CapShardSpan = 128L

  def pipe_domain_cap(s: SparkSession, dir: String): DataFrame = {
    val wLocal = Window.partitionBy(col("source"), col("shard"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val wGlobal = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("shard", expr(s"doc_id DIV $CapShardSpan"))
      .withColumn("lr", row_number().over(wLocal)).filter(col("lr") <= DomainCapK)
      .withColumn("cap_rank", row_number().over(wGlobal)).filter(col("cap_rank") <= DomainCapK)
      .select(col("doc_id"), col("source"), col("n_chars"), col("cap_rank"))
  }

  val pipe_domain_cap_sql: String =
    s"""SELECT doc_id, source, n_chars, CAST(cap_rank AS INT) AS cap_rank FROM (
       |  SELECT doc_id, source, n_chars,
       |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS cap_rank
       |  FROM documents)
       |WHERE cap_rank <= $DomainCapK""".stripMargin

  /** Deterministic training-order interleave — the dataset-mixing step that
    * fixes the global sample order: sources are round-robined (round r =
    * one document from every source, sources in name order), so the
    * training stream never sees a long single-source run regardless of how
    * the corpus is stored. `ord = (r-1)·n_sources + source_idx` is pure
    * integer arithmetic, bit-identical in any engine.
    *
    * The per-source rank r is a FULL ranking, which a naive
    * `Window.partitionBy(source)` would compute by sorting each whole
    * source in one task (the Zipf-domain straggler again). Instead the
    * `pipe_pack` offset recipe: rank within (source, doc_id-range shard)
    * [bounded partitions] + the count of earlier shards' docs [a window
    * over per-shard COUNT rows, ≤ id-range/span per source — bounded by
    * layout, not volume]. The source-index window runs on the distinct
    * source list (#domains rows). The oracle states the plain
    * single-window ranking, so a green hash proves the offset
    * decomposition exact. */
  def pipe_interleave(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .withColumn("shard", expr(s"doc_id DIV $CapShardSpan"))
    val wLocal = Window.partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
    val local = docs.withColumn("lr", row_number().over(wLocal))
    val wShard = Window.partitionBy(col("source")).orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs.groupBy(col("source"), col("shard"))
      .agg(count(lit(1)).as("n_in_shard"))
      .withColumn("off", coalesce(sum(col("n_in_shard")).over(wShard), lit(0L)))
      .select(col("source"), col("shard"), col("off"))
    val srcIdx = docs.select(col("source")).distinct()
      .withColumn("sidx", row_number().over(Window.orderBy(col("source"))).cast("long") - 1L)
    val nSrc = srcIdx.agg(count(lit(1)).as("ns"))
    local.join(offsets, Seq("source", "shard"))
      .join(broadcast(srcIdx), "source")
      .crossJoin(broadcast(nSrc))
      .select(col("doc_id"), col("source"),
        (col("off") + col("lr")).as("r"),
        ((col("off") + col("lr") - 1L) * col("ns") + col("sidx")).as("ord"))
  }

  val pipe_interleave_sql: String =
    """WITH r AS (SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS r FROM documents),
      |si AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS sidx
      |       FROM (SELECT DISTINCT source FROM documents)),
      |n AS (SELECT count(*) AS ns FROM si)
      |SELECT doc_id, source, CAST(r AS BIGINT) AS r,
      |       CAST((r - 1) * ns + sidx AS BIGINT) AS ord
      |FROM r JOIN si USING (source), n""".stripMargin

  /** Incremental-ingest dedup — the daily-batch pattern: new documents
    * (source index >= [[IncrCorpusSources]]) are deduplicated against the
    * EXISTING corpus (source index below it) and against each other, each
    * new doc labeled `dup_of_corpus` / `dup_in_batch` / `new` with the
    * representative it collided with. The corpus side is the PERSISTED
    * accumulated fingerprint table ([[persistedCorpusFps]] — one md5 + one
    * id per unique doc, NOT the corpus text, plan-pinned): the join ships
    * fingerprints only, the batch window and the join key on `fp` and
    * share one shuffle family, and per-batch cost is O(batch) however
    * large the corpus grows. */
  private[graft] val IncrCorpusSources = 10

  private val fpDirMemo = new graft.Memo[String]

  /** The accumulated corpus fingerprint table persisted ONCE as data —
    * `(fp, corpus_rep)`, one md5 + one id per unique corpus document —
    * under the index root, the exact-dedup member of the persisted-
    * artifact family next to the LSH signature table
    * ([[Dedup.persistedCorpusLshSigs]]) and the IVF×PQ layout. Each
    * arriving batch fingerprints only ITS documents and joins this table:
    * the corpus text is never re-read, never re-hashed — the table IS
    * what a production incremental dedup accumulates batch over batch. */
  private[graft] def persistedCorpusFps(s: SparkSession, dir: String): String = {
    val root = s.conf.getOption(Similarity.IndexRootConf).map(_.trim).filter(_.nonEmpty)
    fpDirMemo.getOrStage(root.getOrElse("<staging>") + "|" + dir) {
      val p = root match {
        case Some(r) => s"$r/fp-reps-${Similarity.corpusSlug(dir)}"
        case None => graft.Staging.tempDir("graft-fp-reps-").toString
      }
      Similarity.publishLayout(s, p, "fps/_SUCCESS") { tmp =>
        Tables.documents(s, dir)
          .filter(expr(s"CAST(substring(source, 4) AS INT) < $IncrCorpusSources"))
          .select(col("doc_id"), md5(NormSpace.of(col("text"))).as("fp"))
          .groupBy(col("fp")).agg(min(col("doc_id")).as("corpus_rep"))
          .write.parquet(s"$tmp/fps")
      }
    }
  }

  def pipe_dedup_incremental(s: SparkSession, dir: String): DataFrame = {
    val corpus = s.read.parquet(s"${persistedCorpusFps(s, dir)}/fps")
    val isCorpus = expr(s"CAST(substring(source, 4) AS INT) < $IncrCorpusSources")
    Tables.documents(s, dir).filter(!isCorpus)
      .select(col("doc_id"), md5(NormSpace.of(col("text"))).as("fp"))
      .withColumn("batch_rep", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .join(corpus, Seq("fp"), "left")
      .withColumn("status",
        when(col("corpus_rep").isNotNull, "dup_of_corpus")
          .when(col("batch_rep") < col("doc_id"), "dup_in_batch")
          .otherwise("new"))
      .select(col("doc_id"), col("fp"), col("status"),
        coalesce(col("corpus_rep"), col("batch_rep")).as("rep_doc_id"))
  }

  val pipe_dedup_incremental_sql: String =
    s"""WITH d AS (SELECT doc_id, source,
       |    md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS fp,
       |    CAST(substr(source, 4) AS INT) < $IncrCorpusSources AS is_corpus
       |  FROM documents),
       |corpus AS (SELECT fp, min(doc_id) AS corpus_rep FROM d WHERE is_corpus GROUP BY fp),
       |batch AS (SELECT doc_id, fp,
       |    min(doc_id) OVER (PARTITION BY fp) AS batch_rep
       |  FROM d WHERE NOT is_corpus)
       |SELECT b.doc_id, b.fp,
       |  CASE WHEN c.corpus_rep IS NOT NULL THEN 'dup_of_corpus'
       |       WHEN b.batch_rep < b.doc_id THEN 'dup_in_batch'
       |       ELSE 'new' END AS status,
       |  COALESCE(c.corpus_rep, b.batch_rep) AS rep_doc_id
       |FROM batch b LEFT JOIN corpus c ON b.fp = c.fp""".stripMargin

  /** Token-budget data selection: per language, keep the highest-quality
    * documents (uniq-token ratio, doc_id tiebreak) until the cumulative
    * token count reaches [[TokenBudget]] — "give me the best B tokens per
    * language", the budgeted-selection step of every curriculum/data-mix
    * recipe.
    *
    * The running total is a DISTRIBUTED PREFIX SUM, not one window: a naive
    * `Window.partitionBy(lang)` would sort a whole language (most of a
    * 100 TB corpus) in one task. The quality score is already quantized
    * (integer per-mille, 0..1000), so the score value itself is the ordered
    * shard key: token sums accumulate within (lang, score) ordered by
    * doc_id [bounded partitions], and each bucket's starting offset is the
    * total of strictly-better buckets [a window over ≤1001 per-(lang,score)
    * total rows]. The oracle states the single-window formulation — a green
    * hash proves the decomposition exact. */
  private val TokenBudget = 4000L

  def pipe_token_budget(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val base = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("uniq"))
      .withColumn("score", expr("uniq * 1000 div n_tokens"))
      // score is never null (n_tokens >= 1), but the inner join below pushes
      // an IsNotNull(score) into ONE branch's scan — stated here instead so
      // both branches' exchange subtrees stay identical and reuse fires
      .where(col("score").isNotNull)
    val wLocal = Window.partitionBy(col("lang"), col("score")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = base.withColumn("lcum", sum(col("n_tokens")).over(wLocal))
    val wOff = Window.partitionBy(col("lang")).orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // bucket total = the LAST running value (max of a nonneg-increment
    // cumsum), aggregated from `local` rather than `base`: the offsets
    // branch then shares the windowed stage's exchange subtree verbatim, so
    // the corpus is scanned and tokenized ONCE (exchange reuse), and the
    // aggregate runs on data already partitioned by (lang, score) — the
    // only new exchange is over the ≤1001-buckets-per-lang totals.
    val offsets = local.groupBy(col("lang"), col("score"))
      .agg(max(col("lcum")).as("bucket_toks"))
      .withColumn("off", coalesce(sum(col("bucket_toks")).over(wOff), lit(0L)))
      .select(col("lang"), col("score"), col("off"))
    local.join(offsets, Seq("lang", "score"))
      .withColumn("cum_tokens", col("off") + col("lcum"))
      .filter(col("cum_tokens") - col("n_tokens") < TokenBudget)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("score"),
        col("cum_tokens"))
  }

  val pipe_token_budget_sql: String =
    s"""WITH b AS (SELECT doc_id, lang,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS uniq
       |  FROM documents),
       |sc AS (SELECT doc_id, lang, n_tokens, (uniq * 1000) // n_tokens AS score FROM b),
       |c AS (SELECT doc_id, lang, n_tokens, score,
       |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY score DESC, doc_id ASC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM sc)
       |SELECT doc_id, lang, n_tokens, score, cum_tokens
       |FROM c WHERE cum_tokens - n_tokens < $TokenBudget""".stripMargin

  /** Curriculum-epoch assignment: split each language's corpus into 4
    * training epochs by quality rank (best quarter first) — the standard
    * curriculum-ordering step before packing. Semantically this is
    * `ntile(4) OVER (PARTITION BY lang ORDER BY score DESC, doc_id)`, but a
    * direct window would sort a whole language (most of a 100 TB corpus) in
    * ONE task. Instead the rank is the same sharded decomposition as
    * [[pipe_token_budget]]: row_number within the bounded (lang, score)
    * bucket + the count-offset of strictly-better buckets (a window over
    * ≤1001 bucket-total rows per lang), and ntile's exact remainder rule
    * (first `n mod 4` epochs get the extra row) is applied as arithmetic on
    * (rank, n). The oracle states the single-window ntile — a green hash
    * proves the decomposition implements SQL ntile bit-for-bit. */
  /** SQL ntile(4) as arithmetic on (`rank`, `n`): q = n div 4 rows per
    * epoch, the first n mod 4 epochs take one extra — piecewise inversion
    * of that size sequence (for n < 4, q+1 = 1 and the first branch yields
    * epoch = rank, matching ntile's one-row groups). Equivalence to the
    * window ntile for every (rank, n) shape is pinned in
    * `TwoPhaseRankSuite`. */
  private[graft] val ntile4OfRank =
    expr("""CASE WHEN rank <= (n % 4) * (n div 4 + 1)
           |     THEN (rank - 1) div (n div 4 + 1) + 1
           |     ELSE n % 4 + (rank - 1 - (n % 4) * (n div 4 + 1)) div (n div 4) + 1
           |END""".stripMargin)

  def pipe_curriculum(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val base = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("uniq"))
      .withColumn("score", expr("uniq * 1000 div n_tokens"))
      .where(col("score").isNotNull)
    val wLocal = Window.partitionBy(col("lang"), col("score")).orderBy(col("doc_id"))
    val local = base.withColumn("lrn", row_number().over(wLocal).cast("long"))
    val wOff = Window.partitionBy(col("lang")).orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // per-lang total rides the SAME per-lang exchange as the offsets (a
    // second unordered full-frame window, no extra shuffle or scan branch)
    val wAll = Window.partitionBy(col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = local.groupBy(col("lang"), col("score"))
      .agg(max(col("lrn")).as("bucket_n"))
      .withColumn("off", coalesce(sum(col("bucket_n")).over(wOff), lit(0L)))
      .withColumn("n", sum(col("bucket_n")).over(wAll))
      .select(col("lang"), col("score"), col("off"), col("n"))
    local.join(offsets, Seq("lang", "score"))
      .withColumn("rank", col("off") + col("lrn"))
      .withColumn("epoch", ntile4OfRank)
      .select(col("doc_id"), col("lang"), col("score"), col("rank"), col("epoch"))
  }

  val pipe_curriculum_sql: String =
    """WITH b AS (SELECT doc_id, lang,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS uniq
      |  FROM documents),
      |sc AS (SELECT doc_id, lang, (uniq * 1000) // n_tokens AS score FROM b)
      |SELECT doc_id, lang, score,
      |  CAST(row_number() OVER w AS BIGINT) AS rank,
      |  CAST(ntile(4) OVER w AS BIGINT) AS epoch
      |FROM sc
      |WINDOW w AS (PARTITION BY lang ORDER BY score DESC, doc_id ASC)""".stripMargin

  /** MODEL-BASED quality filtering, stubbed the honest way: inference of a
    * fixed linear classifier (integer weights over integer token features —
    * the fasttext-classifier shape every corpus pipeline runs after the
    * rule gates). The model is a compile-time constant here because no ML
    * runtime ships in this container; the SPARK-SIDE SHAPE is the real
    * thing — features and scores are one codegen'd narrow map over the
    * scan, weights would broadcast, and a heavier model (fasttext, a small
    * transformer) slots into the same position as a `mapInPandas` batch UDF
    * without changing the plan around it. Integer logits, so the gate
    * hashes exactly. */
  def pipe_quality_classifier(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("uniq"),
        size(filter(toks, t => t.isin(stopwordList: _*))).cast("long").as("stop_hits"),
        regexp_count(col("text"), lit("[^a-zA-Z0-9\\s]")).cast("long").as("n_punct"))
      .withColumn("logit_milli",
        lit(2L) * col("n_tokens") + lit(5L) * col("uniq")
          - lit(30L) * col("stop_hits") - lit(10L) * col("n_punct"))
      .withColumn("keep", col("logit_milli") >= 120L)
  }

  private val stopwordList = Seq("the", "a", "of", "and", "to")

  val pipe_quality_classifier_sql: String =
    """SELECT doc_id,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(uniq AS BIGINT) AS uniq,
      |  CAST(stop_hits AS BIGINT) AS stop_hits,
      |  CAST(n_punct AS BIGINT) AS n_punct,
      |  CAST(2 * n_tokens + 5 * uniq - 30 * stop_hits - 10 * n_punct AS BIGINT) AS logit_milli,
      |  2 * n_tokens + 5 * uniq - 30 * stop_hits - 10 * n_punct >= 120 AS keep
      |FROM (SELECT doc_id,
      |        len(string_split_regex(trim(text), '\s+')) AS n_tokens,
      |        len(list_distinct(string_split_regex(trim(text), '\s+'))) AS uniq,
      |        len(list_filter(string_split_regex(trim(text), '\s+'),
      |            t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS stop_hits,
      |        len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS n_punct
      |      FROM documents)""".stripMargin

  /** The DATASET CARD row — the one-line corpus summary published next to
    * a released training set: volume (docs, tokens, bytes), diversity
    * (languages, sources), duplication (exact-dup per-mille via the
    * fingerprint count), and quality (keep-rate per-mille under the
    * classifier gate). ONE scan: the three exact count-distincts plan as
    * a single Expand (4 branches over the same pass) with map-side
    * combine, so the shuffle carries one row per distinct value per
    * branch — O(unique fingerprints), the card's true cost floor for an
    * EXACT dup rate. At 100 TB swap the distincts for
    * `approx_count_distinct` and the shuffle drops to one HLL sketch per
    * partition; every other metric is already a constant-size partial. */
  def pipe_dataset_card(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val fp = md5(NormSpace.of(col("text")))
    val nTok = size(toks).cast("long")
    val uniq = size(array_distinct(toks)).cast("long")
    val stopHits = size(filter(toks, t => t.isin(stopwordList: _*))).cast("long")
    val nPunct = regexp_count(col("text"), lit("[^a-zA-Z0-9\\s]")).cast("long")
    val logit = lit(2L) * nTok + lit(5L) * uniq - lit(30L) * stopHits - lit(10L) * nPunct
    Tables.documents(s, dir)
      .select(col("lang"), col("source"), fp.as("fp"), nTok.as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        (logit >= 120L).cast("long").as("keep"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("fp")).as("n_unique_docs"),
        sum(col("keep")).as("n_keep"))
      .withColumn("dup_per_mille",
        expr("(n_docs - n_unique_docs) * 1000 div n_docs"))
      .withColumn("keep_per_mille", expr("n_keep * 1000 div n_docs"))
  }

  val pipe_dataset_card_sql: String =
    """SELECT count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |  CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_docs,
      |  CAST(sum(keep) AS BIGINT) AS n_keep,
      |  CAST(((count(*) - count(DISTINCT fp)) * 1000) // count(*) AS BIGINT) AS dup_per_mille,
      |  CAST((sum(keep) * 1000) // count(*) AS BIGINT) AS keep_per_mille
      |FROM (SELECT lang, source,
      |        md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp,
      |        CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      |        CAST(length(text) AS BIGINT) AS n_chars,
      |        CASE WHEN 2 * len(string_split_regex(trim(text), '\s+'))
      |                + 5 * len(list_distinct(string_split_regex(trim(text), '\s+')))
      |                - 30 * len(list_filter(string_split_regex(trim(text), '\s+'),
      |                      t -> t IN ('the', 'a', 'of', 'and', 'to')))
      |                - 10 * len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) >= 120
      |             THEN 1 ELSE 0 END AS keep
      |      FROM documents)""".stripMargin

  /** Per-source duplication report — the corpus-health dashboard row every
    * ingestion pipeline watches: how much of each source is internal
    * duplication? Two stacked hash aggregates over the 16-byte exact
    * fingerprint (per-(source, fp) counts, then per-source rollup), both
    * map-side combinable — strictly cheaper than the dedup itself at any
    * corpus size. */
  def pipe_dup_report(s: SparkSession, dir: String): DataFrame = {
    val fp = md5(NormSpace.of(col("text")))
    Tables.documents(s, dir).select(col("source"), fp.as("fp"))
      .groupBy(col("source"), col("fp")).agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_unique"))
      .withColumn("dup_per_mille", expr("(n_docs - n_unique) * 1000 div n_docs"))
  }

  val pipe_dup_report_sql: String =
    """SELECT source, CAST(sum(n) AS BIGINT) AS n_docs, count(*) AS n_unique,
      |  CAST(((sum(n) - count(*)) * 1000) // sum(n) AS BIGINT) AS dup_per_mille
      |FROM (SELECT source, md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp,
      |        count(*) AS n
      |      FROM documents GROUP BY 1, 2)
      |GROUP BY source""".stripMargin

  // --------------------------------------------------------------- DSIR

  /** Data Selection via Importance Resampling (Xie et al., 2023,
    * arXiv:2302.03169): score every raw document by how much its hashed
    * n-gram feature profile resembles a TARGET distribution vs the raw
    * corpus, then select the target-leaning slice. Features are word
    * unigrams + bigrams hashed into [[DsirBuckets]] buckets (DSIR's
    * hashed-ngram generative model); the target here is the `lang = 'en'`
    * slice (in production: the high-quality corpus, e.g. encyclopedic
    * text). The paper ranks by the log-likelihood ratio
    * `Σ_f c_f(x)·log(p_t(f)/p_r(f))`; to stay bit-exact across engines we
    * rank by its first-order linear surrogate — the difference of the
    * occurrence-weighted mean target and raw feature probabilities in ppm,
    * each floored separately so every integer division has a NON-NEGATIVE
    * numerator (Spark `div` truncates toward zero, DuckDB `//` floors;
    * they only agree on non-negatives). `selected` = above-raw-average
    * target affinity (dsir_milli > 0) — a fixed, data-independent cut.
    *
    * Scale: feature stats live in a [[DsirBuckets]]-row table regardless
    * of corpus size (that is the POINT of hashing) — it broadcasts; the
    * corpus makes one explode → (doc_id, f) count pass (map-side
    * combined) and one per-doc aggregate. The two scalar totals ride the
    * same bounded table. Nothing shuffles on raw n-grams. */
  private val DsirBuckets = 1024L

  def pipe_dsir(s: SparkSession, dir: String): DataFrame = {
    val fe = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), split(trim(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), col("lang"), explode(expr(
        """CASE WHEN size(toks) >= 2 THEN concat(
          |  transform(toks, t -> concat('u:', t)),
          |  transform(sequence(0, size(toks) - 2), i -> concat('b:', toks[i], ' ', toks[i + 1])))
          |ELSE transform(toks, t -> concat('u:', t)) END""".stripMargin)).as("g"))
      .select(col("doc_id"), col("lang"),
        expr(s"CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT) % $DsirBuckets").as("f"))
    // Materialize the per-doc feature counts ONCE: dm feeds four consumers
    // (rawF, the lang='en' target slice, both scalar totals, and the final
    // per-doc join), and the target slice's lang filter pushes below the
    // aggregate into its own corpus scan — so without the barrier the
    // n-gram explode ran up to 3× (plan: 10 documents scans, 0 reuse,
    // plans/r16/pipe_dsir_before.txt). dm is bounded by docs×buckets rows,
    // far smaller than the exploded grams it summarizes.
    val dm = fe.groupBy(col("doc_id"), col("lang"), col("f")).agg(count(lit(1)).as("m"))
      .localCheckpoint(true)
    val rawF = dm.groupBy(col("f")).agg(sum(col("m")).as("rn"))
    val tgtF = dm.filter(col("lang") === "en").groupBy(col("f")).agg(sum(col("m")).as("tn"))
    val ft = rawF.join(tgtF, Seq("f"), "left")
      .crossJoin(broadcast(rawF.agg(sum(col("rn")).as("rtot"))))
      .crossJoin(broadcast(tgtF.agg(sum(col("tn")).as("ttot"))))
      .select(col("f"),
        expr("coalesce(tn, 0L) * 1000000 div ttot").as("tppm"),
        expr("rn * 1000000 div rtot").as("rppm"))
    dm.join(broadcast(ft), Seq("f"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("m")).as("n_feats"),
        expr("sum(m * tppm) div sum(m) - sum(m * rppm) div sum(m)").as("dsir_milli"))
      .withColumn("selected", col("dsir_milli") > 0)
  }

  val pipe_dsir_sql: String =
    s"""WITH tk AS (SELECT doc_id, lang,
      |    string_split_regex(trim(text), '\\s+') AS toks FROM documents),
      |fe AS (SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % $DsirBuckets AS f
      |  FROM (SELECT doc_id, lang, unnest(
      |      CASE WHEN len(toks) >= 2 THEN list_concat(
      |        list_transform(toks, t -> 'u:' || t),
      |        list_transform(range(1, len(toks)), i -> 'b:' || toks[i] || ' ' || toks[i + 1]))
      |      ELSE list_transform(toks, t -> 'u:' || t) END) AS g
      |    FROM tk)),
      |dm AS (SELECT doc_id, lang, f, count(*) AS m FROM fe GROUP BY 1, 2, 3),
      |rawf AS (SELECT f, sum(m) AS rn FROM dm GROUP BY 1),
      |tgtf AS (SELECT f, sum(m) AS tn FROM dm WHERE lang = 'en' GROUP BY 1),
      |tot AS (SELECT (SELECT sum(rn) FROM rawf) AS rtot, (SELECT sum(tn) FROM tgtf) AS ttot),
      |ft AS (SELECT f, (COALESCE(tn, 0) * 1000000) // ttot AS tppm,
      |    (rn * 1000000) // rtot AS rppm
      |  FROM rawf LEFT JOIN tgtf USING (f), tot)
      |SELECT doc_id, lang, CAST(sum(m) AS BIGINT) AS n_feats,
      |  CAST(sum(m * tppm) // sum(m) - sum(m * rppm) // sum(m) AS BIGINT) AS dsir_milli,
      |  (sum(m * tppm) // sum(m) - sum(m * rppm) // sum(m)) > 0 AS selected
      |FROM dm JOIN ft USING (f) GROUP BY 1, 2""".stripMargin

  /** Corpus materialization after SemDeDup: the step that actually APPLIES
    * [[Dedup.dedup_semantic]]'s keep-marks to the document corpus — join
    * the marks back by id and roll up per-language keep/drop totals, the
    * summary a curation run reports after its semantic-dedup stage. The
    * contract is the standard production layout where the embedding
    * table's `vec_id` keys the document it embeds (one embedding per
    * document, same id space — true of the fixtures and of any
    * doc-embedding pipeline; a corpus with a separate mapping table adds
    * one more join, same plan class).
    *
    * Scale: the marks table is (id, bool) — tiny next to the corpus — so
    * the join broadcasts while it fits and degrades to an id-keyed shuffle
    * join past that; the rollup is one map-side-combined aggregate on
    * lang. Everything heavy lives inside dedup_semantic itself. */
  def pipe_semdedup(s: SparkSession, dir: String): DataFrame = {
    val marks = Dedup.dedup_semantic(s, dir)
      .select(col("vec_id").as("doc_id"), col("kept"))
    Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      .join(marks, "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"))
  }

  val pipe_semdedup_sql: String =
    s"""WITH sem AS MATERIALIZED (${Dedup.dedup_semantic_sql})
      |SELECT d.lang, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
      |FROM documents d JOIN sem ON d.doc_id = sem.vec_id
      |GROUP BY 1""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_semdedup" -> (pipe_semdedup(_, _)),
    "pipe_dsir" -> (pipe_dsir(_, _)),
    "pipe_curriculum" -> (pipe_curriculum(_, _)),
    "pipe_quality_classifier" -> (pipe_quality_classifier(_, _)),
    "pipe_dataset_card" -> (pipe_dataset_card(_, _)),
    "pipe_dup_report" -> (pipe_dup_report(_, _)),
    "pipe_dedup_incremental" -> (pipe_dedup_incremental(_, _)),
    "pipe_token_budget" -> (pipe_token_budget(_, _)),
    "pipe_e2e" -> (pipe_e2e(_, _)),
    "pipe_dedup_keep" -> (pipe_dedup_keep(_, _)),
    "pipe_chunk" -> (pipe_chunk(_, _)),
    "pipe_split" -> (pipe_split(_, _)),
    "pipe_interleave" -> (pipe_interleave(_, _)),
    "pipe_domain_cap" -> (pipe_domain_cap(_, _)),
    "pipe_decontaminate" -> (pipe_decontaminate(_, _)),
    "pipe_decontaminate_semantic" -> (pipe_decontaminate_semantic(_, _)),
    "pipe_epoch_shuffle" -> (pipe_epoch_shuffle(_, _)),
    "pipe_bloom_screen" -> (pipe_bloom_screen(_, _)),
    "pipe_pack" -> (pipe_pack(_, _)),
    "pipe_length_buckets" -> (pipe_length_buckets(_, _)),
    "pipe_shard_manifest" -> (pipe_shard_manifest(_, _)),
    "pipe_snapshot_diff" -> (pipe_snapshot_diff(_, _)),
    "pipe_drift_report" -> (pipe_drift_report(_, _)),
    "pipe_sample_stratified" -> (pipe_sample_stratified(_, _)),
    "pipe_mix_weights" -> (pipe_mix_weights(_, _)),
    "pipe_mix_apply" -> (pipe_mix_apply(_, _)),
    "pipe_corpus" -> (pipe_corpus(_, _)))

  def oracles: Map[String, String] = Map(
    "pipe_semdedup" -> pipe_semdedup_sql,
    "pipe_dsir" -> pipe_dsir_sql,
    "pipe_curriculum" -> pipe_curriculum_sql,
    "pipe_quality_classifier" -> pipe_quality_classifier_sql,
    "pipe_dataset_card" -> pipe_dataset_card_sql,
    "pipe_dup_report" -> pipe_dup_report_sql,
    "pipe_dedup_incremental" -> pipe_dedup_incremental_sql,
    "pipe_token_budget" -> pipe_token_budget_sql,
    "pipe_e2e" -> pipe_e2e_sql,
    "pipe_dedup_keep" -> pipe_dedup_keep_sql,
    "pipe_chunk" -> pipe_chunk_sql,
    "pipe_split" -> pipe_split_sql,
    "pipe_interleave" -> pipe_interleave_sql,
    "pipe_domain_cap" -> pipe_domain_cap_sql,
    "pipe_decontaminate" -> pipe_decontaminate_sql,
    "pipe_decontaminate_semantic" -> pipe_decontaminate_semantic_sql,
    "pipe_epoch_shuffle" -> pipe_epoch_shuffle_sql,
    "pipe_bloom_screen" -> pipe_bloom_screen_sql,
    "pipe_pack" -> pipe_pack_sql,
    "pipe_length_buckets" -> pipe_length_buckets_sql,
    "pipe_shard_manifest" -> pipe_shard_manifest_sql,
    "pipe_snapshot_diff" -> pipe_snapshot_diff_sql,
    "pipe_drift_report" -> pipe_drift_report_sql,
    "pipe_sample_stratified" -> pipe_sample_stratified_sql,
    "pipe_mix_weights" -> pipe_mix_weights_sql,
    "pipe_mix_apply" -> pipe_mix_apply_sql,
    "pipe_corpus" -> pipe_corpus_sql)
}
