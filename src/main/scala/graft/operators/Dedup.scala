package graft.operators

import graft.Tables
import graft.functions.{NormSpace, SubstrHashBlocks}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.reflect.runtime.universe.TypeTag

/** Deduplication operators over `documents` / `embeddings`:
  *
  *  - exact dedup          — hash-groupBy on a normalized content hash;
  *  - n-gram Jaccard       — exact all-pairs via a shingle inverted index
  *                           (explode → self-join → count), the LSH-free
  *                           reference semantics;
  *  - MinHash + LSH        — 32-permutation MinHash signatures, 16 bands × 2
  *                           rows, band-bucket join for candidates, exact
  *                           Jaccard verification of candidates only — the
  *                           100 TB path (work ∝ candidates, not pairs²);
  *  - SimHash              — 60-bit bit-majority fingerprint + 16-bit band;
  *  - embedding cosine     — sign-bit-blocked near-dup pairs on the
  *                           embedding column.
  *
  * Every hash is derived from md5 so the DuckDB oracle can mirror the exact
  * algorithm (same signatures, same bands, same candidates): the gate then
  * proves the distributed implementation computes the declared algorithm
  * bit-for-bit. Jaccard thresholds are evaluated with cross-multiplied
  * integer arithmetic — no floating point anywhere in the text path.
  *
  * Scale notes: the inverted-index join shuffles on shingle (posting lists
  * here max out at single digits — no skew); MinHash bands shuffle on
  * (band, key) which is uniform by construction; candidate verification
  * re-joins the shingle sets by doc_id, a broadcast-able lookup at dim-table
  * size and a shuffle join beyond.
  */
object Dedup extends Logging {

  /** Spark SQL fragments (kept as SQL text so the DuckDB oracle is a
    * line-by-line mirror — both engines run the same lambda pipeline). */
  private val toksS = "split(trim(text), '\\\\s+')"
  /** The SQL shingle pipeline [[graft.functions.WordShingles]] compiles
    * (kept as the equivalence-test spec; the oracle mirrors it in DuckDB). */
  private[graft] val shinglesS =
    s"CASE WHEN size($toksS) < 3 THEN array(trim(text)) " +
    s"ELSE array_distinct(transform(sequence(1, size($toksS) - 2), " +
    s"i -> concat_ws(' ', slice($toksS, i, 3)))) END"
  /** 60-bit integer hash of a string, identical in Spark and DuckDB. */
  private[graft] def h60S(arg: String, salt: String): String =
    s"CAST(conv(substring(md5($salt$arg), 1, 15), 16, 10) AS BIGINT)"

  // ---------------------------------------------------------------- exact

  def dedup_exact(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(NormSpace.of(col("text"))).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_copies"))
  }

  val dedup_exact_sql: String =
    """SELECT md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp,
      |  min(doc_id) AS rep_doc_id, count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- spans

  /** SPAN-level exact dedup — the paragraph-dedup stage of CCNet/Dolma-style
    * curation pipelines, with deterministic fixed-width segmentation (10
    * consecutive words) since the fixture text carries no paragraph marks:
    * every segment occurrence after the corpus-wide FIRST (ordered by
    * (doc_id, seg_no)) is dropped, and the surviving segments re-assemble
    * per document in original order. This removes boilerplate spans shared
    * ACROSS documents while keeping each document's unique content — the
    * operation document-level dedup cannot express. Scale: segmentation is
    * a narrow map; first-occurrence is one hash aggregate shuffled on the
    * segment text (high-cardinality key; a pathological mega-duplicate
    * span is still safe because min combines map-side); reassembly
    * shuffles each doc's surviving segments once on doc_id, bounded by one
    * document's own length. The first-occurrence key is
    * doc_id·10^6+seg_no — exact at fixture id ranges and hash-identical in
    * both engines; at production widths use the (doc_id, seg_no) struct
    * min (same plan, no other change). */
  def dedup_segments(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      .filter(size(col("words")) > 0)
      .withColumn("nseg", expr("(size(words) + 9) div 10"))
      .withColumn("segs", expr(
        "transform(sequence(0, nseg - 1), i -> array_join(slice(words, i * 10 + 1, 10), ' '))"))
    val segs = base.select(col("doc_id"), posexplode(col("segs")).as(Seq("seg_no", "seg")))
    val first = segs.groupBy(col("seg"))
      .agg(min(expr("doc_id * 1000000 + seg_no")).as("k"))
    segs.join(first, "seg")
      .filter(expr("doc_id * 1000000 + seg_no = k"))
      .groupBy(col("doc_id"))
      .agg(
        expr("array_join(transform(array_sort(collect_list(struct(seg_no, seg))), x -> x.seg), ' ')")
          .as("text_dedup"),
        count(lit(1)).as("n_kept"))
  }

  val dedup_segments_sql: String =
    """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
      |           FROM documents),
      |segs AS MATERIALIZED (
      |  SELECT doc_id, CAST(t.i AS BIGINT) AS seg_no,
      |         array_to_string(words[(t.i*10+1):(t.i*10+10)], ' ') AS seg
      |  FROM w, LATERAL (SELECT unnest(range(0, (len(words) + 9) // 10)) AS i) t
      |  WHERE len(words) > 0),
      |f AS (SELECT seg, min(doc_id * 1000000 + seg_no) AS k FROM segs GROUP BY 1)
      |SELECT s.doc_id,
      |       string_agg(s.seg, ' ' ORDER BY s.seg_no) AS text_dedup,
      |       count(*) AS n_kept
      |FROM segs s JOIN f ON s.seg = f.seg AND s.doc_id * 1000000 + s.seg_no = f.k
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------------- exact substrings

  /** EXACT duplicated-SUBSTRING spans (the ExactSubstr half of Lee et al.
    * 2021, arXiv:2107.06499, next to its MinHash half [[dedup_minhash_lsh]]):
    * a char window of length [[SubstrLen]] is duplicated when the identical
    * window text occurs at two or more (doc, pos) locations corpus-wide
    * (same-doc repeats included, per the paper); per document, overlapping
    * or touching duplicated windows merge into MAXIMAL duplicated spans —
    * the regions the paper cuts out of the training text. Output per doc:
    * span count, duplicated chars, first span start (0s when clean).
    *
    * Spark-first re-expression of the paper's single-node suffix array:
    * windows are hashed to 60-bit integers BEFORE the shuffle (12 bytes per
    * char, packed per hash bucket, instead of L+16; md5-derived, so both
    * engines agree bit-for-bit and a collision — ~N²/2^60 — would be the
    * same collision in the oracle), the duplicate test is a count table
    * over each bucket's hashes ([[exactSubstr]]), and span merging is a
    * per-doc kernel bounded by one document's own length (the
    * [[graft.operators.Relational.q23_sessionize]]
    * recurrence: stride-1 positions are sorted, so a span breaks exactly
    * when the gap to the previous window exceeds the window length).
    * Stride is 1 = exact at ≥ L; a production run at petabyte scale sets
    * stride s and keeps the paper's guarantee (every duplicated substring
    * of length ≥ L + s − 1 is still caught) at 1/s the shuffle. */
  private val SubstrLen = 50

  /** The exact-substring pipeline both queries share, over `docs(doc_id,
    * text)` with non-null `doc_id`: one pass of each document through two
    * shuffles, ending in a per-document kernel (`finish`, given the window
    * length) that emits the query's row.
    *
    * Each text is normalized once (`norm_space`), and the
    * `substr_hash_blocks` expression hashes its windows once and groups
    * them into at most B blocks `(bucket, h[], pos[])` with `bucket = h
    * mod B`, where B is the session's shuffle-partition count, plus one
    * marker `(n_chars, t)` that stands for the input row (`t` only when
    * `withText`). The rows are exploded and partitioned by `bucket` itself
    * (`repartitionById`, so bucket b is partition b; a marker has no
    * bucket and goes to partition `doc_id mod B`), which puts every
    * occurrence of a hash in one partition: there a partition-local count
    * is the corpus-wide count, taken in one open-addressing count table
    * ([[graft.functions.SubstrHashBlocks.duplicated]]). Only a block's
    * duplicated positions leave it, as one ascending `int[]` per
    * `(doc, block)`: the windows `count(*) OVER (PARTITION BY h) >= 2`
    * selects, without a Spark row per window. Markers pass through. The
    * finder holds its partition's blocks in memory (12 to 24 bytes per
    * window beside the blocks' 12) and does not spill, so it is bounded
    * by windows ÷ shuffle partitions (SCALE.md).
    *
    * The second shuffle is by `doc_id`; each partition is sorted by
    * `doc_id`, and `finish` sees each document's positions and markers
    * together, merges the positions into maximal spans (a new span starts
    * when the gap to the previous window exceeds the window length) and
    * emits one row per marker, so a document without spans, a short one
    * and a NULL text keep their rows with no aggregate or join. A doc_id
    * on several input rows gets one row per input row, each with the spans
    * merged from all of them. It holds one document's rows at a time. */
  private[graft] def exactSubstr[O <: Product : TypeTag](docs: DataFrame, withText: Boolean)(
      finish: Int => Iterator[SubstrHashBlocks.Hits] => Iterator[O]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val buckets = s.conf.get("spark.sql.shuffle.partitions").toInt
    docs.select(col("doc_id"),
        explode(SubstrHashBlocks.of(NormSpace.of(col("text")), SubstrLen, buckets, withText)).as("b"))
      .select(col("doc_id"), col("b.*"))
      .repartitionById(buckets,
        coalesce(col("bucket"), pmod(col("doc_id"), lit(buckets.toLong)).cast("int")))
      .drop("bucket")
      .as[SubstrHashBlocks.Block]
      .mapPartitions(SubstrHashBlocks.duplicated)
      .repartition(buckets, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .mapPartitions(finish(SubstrLen))
      .toDF()
  }

  /** Shared oracle CTE chain ending at `spans(doc_id, span_id, sp_start,
    * sp_end)`: the DuckDB mirror of [[exactSubstr]] up to the spans its
    * per-document kernel merges. */
  private val exactSubstrSpansCtes: String =
    s"""d AS MATERIALIZED (
       |  SELECT doc_id, regexp_replace(trim(text), '\\s+', ' ', 'g') AS t
       |  FROM documents),
       |wins AS MATERIALIZED (
       |  SELECT doc_id, CAST(t.i AS INT) AS pos,
       |         CAST(('0x' || substr(md5(substr(d.t, CAST(t.i AS INT), $SubstrLen)), 1, 15)) AS BIGINT) AS h
       |  FROM d, LATERAL (SELECT unnest(range(1, length(d.t) - ${SubstrLen - 2})) AS i) t
       |  WHERE length(d.t) >= $SubstrLen),
       |dw AS (SELECT doc_id, pos FROM (
       |  SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS c FROM wins)
       |  WHERE c >= 2),
       |marked AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |           OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + $SubstrLen
       |         THEN 1 ELSE 0 END AS new_span
       |  FROM dw),
       |sp AS (
       |  SELECT doc_id, pos,
       |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
       |  FROM marked),
       |spans AS MATERIALIZED (
       |  SELECT doc_id, span_id, min(pos) AS sp_start,
       |         max(pos) + ${SubstrLen - 1} AS sp_end
       |  FROM sp GROUP BY 1, 2)""".stripMargin

  def dedup_exact_substr(s: SparkSession, dir: String): DataFrame =
    exactSubstr(Tables.documents(s, dir), withText = false)(SubstrHashBlocks.stats)

  val dedup_exact_substr_sql: String =
    s"""WITH $exactSubstrSpansCtes,
       |pd AS (
       |  SELECT doc_id, count(*) AS n_dup_spans,
       |         sum(sp_end - sp_start + 1) AS dup_chars,
       |         min(sp_start) AS first_span_start
       |  FROM spans GROUP BY 1)
       |SELECT d.doc_id, CAST(length(d.t) AS BIGINT) AS n_chars,
       |  CAST(coalesce(pd.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       |  CAST(coalesce(pd.dup_chars, 0) AS BIGINT) AS dup_chars,
       |  CAST(coalesce(pd.first_span_start, 0) AS BIGINT) AS first_span_start
       |FROM d LEFT JOIN pd USING (doc_id)""".stripMargin

  /** APPLY half of [[dedup_exact_substr]] — actually CUT the duplicated
    * spans out of each document, the text surgery Lee et al. 2021 performs
    * on the training corpus (where [[dedup_segments]] drops fixed word
    * segments, this removes exact char-level duplicated regions of any
    * alignment). The kept text is the concatenation of the COMPLEMENT
    * intervals, cut by codepoint position by the per-document kernel from
    * the normalized text its marker carries; a document with no spans
    * keeps its whole text, a NULL text keeps an empty one. Scale:
    * everything after the finder is per-doc-bounded (one document's
    * positions and text). */
  def dedup_substr_clean(s: SparkSession, dir: String): DataFrame =
    exactSubstr(Tables.documents(s, dir), withText = true)(SubstrHashBlocks.clean)

  val dedup_substr_clean_sql: String =
    s"""WITH $exactSubstrSpansCtes,
       |g AS (
       |  SELECT d.doc_id, d.t,
       |    coalesce(lag(s.sp_end) OVER (PARTITION BY d.doc_id ORDER BY s.sp_start), 0) + 1 AS g1s,
       |    coalesce(s.sp_start - 1, d.len) AS g1e,
       |    CASE WHEN s.sp_start IS NOT NULL
       |           AND lead(s.sp_start) OVER (PARTITION BY d.doc_id ORDER BY s.sp_start) IS NULL
       |         THEN s.sp_end + 1 END AS g2s,
       |    d.len AS g2e
       |  FROM (SELECT doc_id, t, length(t) AS len FROM d) d
       |  LEFT JOIN spans s USING (doc_id)),
       |pieces AS (
       |  SELECT doc_id, gs, substr(t, CAST(gs AS INT), CAST(ge - gs + 1 AS INT)) AS piece
       |  FROM (
       |    SELECT doc_id, t, g1s AS gs, g1e AS ge FROM g
       |    UNION ALL
       |    SELECT doc_id, t, g2s AS gs, g2e AS ge FROM g)
       |  WHERE gs IS NOT NULL AND ge >= gs),
       |rb AS (
       |  SELECT doc_id, string_agg(piece, '' ORDER BY gs) AS kept
       |  FROM pieces GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(rb.kept, '') AS text_clean,
       |  CAST(length(coalesce(rb.kept, '')) AS BIGINT) AS n_chars_clean
       |FROM d LEFT JOIN rb USING (doc_id)""".stripMargin

  // ------------------------------------------------------------ bag-of-words

  /** Word-order-insensitive dedup: fingerprint = md5 of the SORTED DISTINCT
    * token multiset-as-set. Catches shuffled/reordered copies that
    * [[dedup_exact]] misses (template text with moved paragraphs, scrambled
    * scraped duplicates) while staying a pure map + one hash aggregate — the
    * same single-shuffle cost class as exact dedup at any corpus size. The
    * per-doc sort is over one document's distinct tokens (bounded by doc
    * length), never a shuffle sort; both engines order tokens by raw byte
    * comparison so the fingerprints agree bit-for-bit. */
  def dedup_bow(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(concat_ws(" ", sort_array(array_distinct(toks)))).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_copies"))
  }

  val dedup_bow_sql: String =
    """SELECT md5(array_to_string(list_sort(list_distinct(
      |    string_split_regex(trim(text), '\s+')), 'ASC'), ' ')) AS fp,
      |  min(doc_id) AS rep_doc_id, count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  // ------------------------------------------------- exact n-gram Jaccard

  /** All near-dup pairs with word-3-shingle Jaccard >= 0.6, via the shingle
    * inverted index. Exact (no LSH): the correctness anchor for minhash. */
  /** Posting-list document-frequency cap: a shingle appearing in more than
    * this many docs is dropped from the inverted index before the self-join.
    * The join's work is Σ(df²) over shingles — one boilerplate shingle shared
    * by 10^5 docs would alone contribute 10^10 pairs at corpus scale — so the
    * cap bounds any single shingle's contribution to MaxDf². At the test
    * scale factors max(df) is ~25, so the cap provably drops nothing and the
    * oracle (which mirrors it) is unaffected. */
  private val MaxDf = 1000

  def dedup_ngram_jaccard(s: SparkSession, dir: String): DataFrame = {
    // compiled shingle kernel (graft.functions.WordShingles): same output as
    // the interpreted `shinglesS` pipeline the oracle mirrors, ~50x cheaper
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), graft.functions.WordShingles.of(col("text"), 3).as("sh"))
    val sizes = docs.select(col("doc_id"), size(col("sh")).as("n"))
    // one exchange on `s` feeds the df aggregation, the cap semi-join, and
    // both sides of the pair self-join — no repeated shingle computation.
    // Postings carry the 60-bit shingle hash, not the string: ~3x narrower
    // shuffle keys, and both engines hash with the same md5-derived
    // function, so a (cosmically unlikely) collision merges the same two
    // shingles on both sides — outputs stay bit-identical by construction.
    val postings = docs.select(col("doc_id"), explode(col("sh")).as("s0"))
      .select(col("doc_id"), expr(h60S("s0", "")).as("s"))
      .repartition(col("s"))
    val keep = postings.groupBy(col("s"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxDf)
      .select(col("s"))
    // explicit select: the using-join put `s` first, so a positional toDF
    // rename would swap the columns
    val capped = postings.join(keep, "s").select(col("doc_id"), col("s"))
    val p2 = capped.select(col("doc_id").as("doc_id_b"), col("s"))
    val common = capped.join(p2,
        capped("s") === p2("s") && capped("doc_id") < p2("doc_id_b"))
      .groupBy(capped("doc_id").as("doc_id_a"), p2("doc_id_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.toDF("doc_id_a", "na"), "doc_id_a")
      .join(sizes.toDF("doc_id_b", "nb"), "doc_id_b")
      .filter(col("common") * 10 >= (col("na") + col("nb") - col("common")) * 6)
      .select(col("doc_id_a"), col("doc_id_b"), col("common"),
        (col("na") + col("nb") - col("common")).as("union_size"),
        (col("common") * 1000).divide(col("na") + col("nb") - col("common")).cast("long").as("jaccard_per_mille"))
  }

  private[graft] val shinglesD =
    "CASE WHEN len(toks) < 3 THEN [tx] ELSE list_distinct(list_transform(" +
    "range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))) END"

  /** The shingle set as distinct 60-bit md5 hashes (DuckDB mirror of
    * [[graft.functions.WordShingleHashes]]): what the LSH family states
    * its Jaccard over, and what the persisted signature tables store —
    * ~8 bytes per shingle instead of the shingle string. */
  private[graft] val shingleHashesD =
    s"list_distinct(list_transform($shinglesD, s -> " +
    "CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)))"

  val dedup_ngram_jaccard_sql: String =
    s"""WITH tok AS (SELECT doc_id, trim(text) tx, string_split_regex(trim(text), '\\s+') toks FROM documents),
       |sh AS (SELECT doc_id, $shinglesD AS sh FROM tok),
       |post0 AS (SELECT doc_id, CAST(('0x' || substr(md5(s0), 1, 15)) AS BIGINT) AS s
       |          FROM (SELECT doc_id, unnest(sh) AS s0 FROM sh)),
       |keep AS (SELECT s FROM post0 GROUP BY s HAVING count(*) <= 1000),
       |post AS (SELECT doc_id, post0.s FROM post0 JOIN keep ON post0.s = keep.s),
       |pairs AS (SELECT a.doc_id ia, b.doc_id ib, count(*) common
       |          FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |v AS (SELECT ia, ib, common, x.n + y.n - common AS un
       |      FROM pairs
       |      JOIN (SELECT doc_id, len(sh) n FROM sh) x ON x.doc_id = ia
       |      JOIN (SELECT doc_id, len(sh) n FROM sh) y ON y.doc_id = ib)
       |SELECT ia AS doc_id_a, ib AS doc_id_b, common, un AS union_size,
       |       CAST((common * 1000) // un AS BIGINT) AS jaccard_per_mille
       |FROM v WHERE common * 10 >= un * 6""".stripMargin

  // ------------------------------------------------- shingle containment

  /** Asymmetric near-dup: document A is CONTAINED in document B when at
    * least [[ContainmentPct]]% of A's shingles also appear in B — the
    * excerpt/quotation/boilerplate-wrapper case Jaccard structurally misses
    * (a 50-word quote inside a 5000-word article has tiny Jaccard but
    * containment ≈ 1). Directed output: one row per (contained, container)
    * direction that passes, so mutual containment (near-identical docs)
    * yields both rows. Tiny docs (< [[ContainmentMinShingles]] shingles)
    * are excluded as contained candidates — a 1-shingle doc is "contained"
    * everywhere its only shingle appears, which is noise, not signal.
    *
    * Same inverted-index core as [[dedup_ngram_jaccard]] (df-capped postings
    * self-join, Σdf² bounded), so the scale posture is identical; the
    * directed emission is two filtered projections of the one undirected
    * pair table, not a second join. */
  private val ContainmentPct = 80
  private val ContainmentMinShingles = 5

  def dedup_containment(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), graft.functions.WordShingles.of(col("text"), 3).as("sh"))
    val sizes = docs.select(col("doc_id"), size(col("sh")).as("n"))
    val postings = docs.select(col("doc_id"), explode(col("sh")).as("s0"))
      .select(col("doc_id"), expr(h60S("s0", "")).as("s"))
      .repartition(col("s"))
    val keep = postings.groupBy(col("s"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxDf)
      .select(col("s"))
    val capped = postings.join(keep, "s").select(col("doc_id"), col("s"))
    val p2 = capped.select(col("doc_id").as("doc_id_b"), col("s"))
    val common = capped.join(p2,
        capped("s") === p2("s") && capped("doc_id") < p2("doc_id_b"))
      .groupBy(capped("doc_id").as("doc_id_a"), p2("doc_id_b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.toDF("doc_id_a", "na"), "doc_id_a")
      .join(sizes.toDF("doc_id_b", "nb"), "doc_id_b")
    def directed(cid: String, cn: String, kid: String) =
      common
        .filter(col(cn) >= ContainmentMinShingles &&
          col("common") * 100 >= col(cn) * ContainmentPct)
        .select(col(cid).as("contained_id"), col(kid).as("container_id"),
          col("common"), col(cn).cast("long").as("n_contained"),
          (col("common") * 1000).divide(col(cn)).cast("long").as("containment_per_mille"))
    directed("doc_id_a", "na", "doc_id_b")
      .unionByName(directed("doc_id_b", "nb", "doc_id_a"))
  }

  val dedup_containment_sql: String =
    s"""WITH tok AS (SELECT doc_id, trim(text) tx, string_split_regex(trim(text), '\\s+') toks FROM documents),
       |sh AS (SELECT doc_id, $shinglesD AS sh FROM tok),
       |post0 AS (SELECT doc_id, CAST(('0x' || substr(md5(s0), 1, 15)) AS BIGINT) AS s
       |          FROM (SELECT doc_id, unnest(sh) AS s0 FROM sh)),
       |keep AS (SELECT s FROM post0 GROUP BY s HAVING count(*) <= $MaxDf),
       |post AS (SELECT doc_id, post0.s FROM post0 JOIN keep ON post0.s = keep.s),
       |pairs AS (SELECT a.doc_id ia, b.doc_id ib, count(*) common
       |          FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |v AS (SELECT ia, ib, common, x.n AS na, y.n AS nb
       |      FROM pairs
       |      JOIN (SELECT doc_id, len(sh) n FROM sh) x ON x.doc_id = ia
       |      JOIN (SELECT doc_id, len(sh) n FROM sh) y ON y.doc_id = ib)
       |SELECT ia AS contained_id, ib AS container_id, common,
       |       CAST(na AS BIGINT) AS n_contained,
       |       CAST((common * 1000) // na AS BIGINT) AS containment_per_mille
       |FROM v WHERE na >= $ContainmentMinShingles AND common * 100 >= na * $ContainmentPct
       |UNION ALL
       |SELECT ib, ia, common, CAST(nb AS BIGINT),
       |       CAST((common * 1000) // nb AS BIGINT)
       |FROM v WHERE nb >= $ContainmentMinShingles AND common * 100 >= nb * $ContainmentPct""".stripMargin

  // ----------------------------------------------------------- MinHash LSH

  private val NumHashes = 32
  private val NumBands = 16 // x 2 rows per band

  /** Affine-permutation coefficients for MinHash: h_j(x) = (a_j*x + b_j) mod
    * p with p = 2^31-1 (prime), a_j odd < 2^29, b_j < 2^28. One md5 base
    * hash per shingle + 32 integer permutations replaces 32 md5s per
    * shingle (~30x less hashing — the difference between 197 s and ~15 s at
    * sf0.1). Coefficients are fixed literals embedded in both the Spark plan
    * and the DuckDB oracle, so the pipelines stay bit-identical.
    * No 64-bit overflow: a_j * base < 2^57. */
  private val MinHashP = graft.functions.MinHashSig.Prime
  private val (hashAs, hashBs) = graft.functions.MinHashSig.coefficients(NumHashes, 42)

  /** The 16 band keys off a `sig` column — shared (one definition) by the
    * batch pipeline below and the streaming candidate index
    * ([[graft.streaming.StreamingQueries]] `stream_lsh_dedup`), which must
    * band identically to land on the same buckets. */
  private[graft] val bandKeysExpr =
    s"""transform(sequence(0, ${NumBands - 1}), b ->
       |  concat(CAST(element_at(sig, 2*b+1) AS STRING), ',', CAST(element_at(sig, 2*b+2) AS STRING)))""".stripMargin

  /** `(doc_id, text)` → `(doc_id, band, bkey)`: shingle → signature → band
    * keys as one stateless projection chain (safe inside a streaming
    * micro-batch; the batch op keeps its own copy of this chain because its
    * plan deliberately materializes the signature behind a repartition
    * barrier for three-way reuse). */
  private[graft] def lshBandRows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), graft.functions.WordShingleHashes.of(col("text"), 3).as("sh"))
      .withColumn("sig",
        graft.functions.MinHashSig.of(col("sh"), hashAs, hashBs, MinHashP))
      .select(col("doc_id"), posexplode(expr(bandKeysExpr)))
      .toDF("doc_id", "band", "bkey")

  /** DuckDB mirror of the shingle→signature→bands chain, as a WITH-clause
    * fragment ending in a `bands(doc_id, b, bkey)` CTE. */
  private[graft] val lshBandsCte: String = {
    val aArr = hashAs.mkString("[", ",", "]")
    val bArr = hashBs.mkString("[", ",", "]")
    s"""tok AS (SELECT doc_id, trim(text) tx, string_split_regex(trim(text), '\\s+') toks FROM documents),
       |sh AS (SELECT doc_id, $shingleHashesD AS sh FROM tok),
       |sig AS (SELECT doc_id, sh, list_transform(generate_series(0, ${NumHashes - 1}), j ->
       |          list_min(list_transform(sh, h ->
       |            ($aArr[j + 1] * (h // 4294967296) + $bArr[j + 1]) % $MinHashP))) AS sg
       |        FROM sh),
       |bands AS (SELECT doc_id, u.b,
       |            CAST(sg[2*u.b+1] AS VARCHAR) || ',' || CAST(sg[2*u.b+2] AS VARCHAR) AS bkey
       |          FROM sig, unnest(generate_series(0, ${NumBands - 1})) AS u(b))""".stripMargin
  }

  /** MinHash signatures + banded LSH + exact verification of candidates.
    * Same output contract as dedup_ngram_jaccard; the oracle mirrors the
    * banding, so the gate checks the real LSH pipeline, not just recall.
    *
    * The shingle sets are DISTINCT 60-BIT HASHES, not strings
    * ([[graft.functions.WordShingleHashes]] — the same engine-portable md5
    * discipline as the inverted-index postings): the verification joins
    * shuffle ~8 bytes per shingle instead of the shingle text, and the
    * Jaccard both engines state is over the identical hash sets (a 60-bit
    * collision merges the same two shingles on both sides). */
  def dedup_minhash_lsh(s: SparkSession, dir: String): DataFrame = {
    val bandKeys = bandKeysExpr
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), graft.functions.WordShingleHashes.of(col("text"), 3).as("sh"))
    // The signature is a compiled single-pass kernel (one md5 per shingle +
    // 32 integer permutations maintaining running minima) — the former
    // interpreted aggregate/zip_with fold paid a lambda closure + array
    // allocation per shingle per fold step for identical arithmetic.
    // The repartition is a deliberate plan barrier as well as co-location:
    // it materializes (sh, sig) once before the banding generator (whose
    // band-key expression references `sig` 32 times — inlining the
    // signature there would recompute it per band), the band self-join
    // reuses this single exchange for both sides, and the verification
    // joins read the shingle sets from it pre-partitioned on doc_id.
    val withSig = docs
      .withColumn("sig",
        graft.functions.MinHashSig.of(col("sh"), hashAs, hashBs, MinHashP))
      .repartition(col("doc_id"))
    val bands = withSig
      .select(col("doc_id"), posexplode(expr(bandKeys)))
      .toDF("doc_id", "band", "bkey")
    val b2 = bands.toDF("doc_id_b", "band", "bkey")
    val cand = bands.join(b2, Seq("band", "bkey"))
      .filter(col("doc_id") < col("doc_id_b"))
      .select(col("doc_id").as("doc_id_a"), col("doc_id_b"))
      .distinct()
    val shA = withSig.select(col("doc_id").as("doc_id_a"), col("sh").as("sh_a"))
    val shB = withSig.select(col("doc_id").as("doc_id_b"), col("sh").as("sh_b"))
    cand.join(shA, "doc_id_a").join(shB, "doc_id_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("union_size", size(col("sh_a")) + size(col("sh_b")) - col("common"))
      .filter(col("common") * 10 >= col("union_size") * 6)
      .select(col("doc_id_a"), col("doc_id_b"), col("common"), col("union_size"),
        (col("common") * 1000).divide(col("union_size")).cast("long").as("jaccard_per_mille"))
  }

  /** The one-shot banded-LSH SQL over an arbitrary document relation —
    * `docsRel` must expose (doc_id, text). The lifecycle oracles (delete =
    * a takedown-filtered corpus) reuse the identical pipeline with a
    * restricted relation, so the Jaccard both engines state stays over the
    * same hash sets whatever the membership. */
  private[graft] def minhashLshSqlOver(docsRel: String): String = {
    val aArr = hashAs.mkString("[", ",", "]")
    val bArr = hashBs.mkString("[", ",", "]")
    s"""WITH tok AS (SELECT doc_id, trim(text) tx, string_split_regex(trim(text), '\\s+') toks FROM $docsRel),
       |sh AS (SELECT doc_id, $shingleHashesD AS sh FROM tok),
       |sig AS (SELECT doc_id, sh, list_transform(generate_series(0, ${NumHashes - 1}), j ->
       |          list_min(list_transform(sh, h ->
       |            ($aArr[j + 1] * (h // 4294967296) + $bArr[j + 1]) % $MinHashP))) AS sg
       |        FROM sh),
       |bands AS (SELECT doc_id, u.b,
       |            CAST(sg[2*u.b+1] AS VARCHAR) || ',' || CAST(sg[2*u.b+2] AS VARCHAR) AS bkey
       |          FROM sig, unnest(generate_series(0, ${NumBands - 1})) AS u(b)),
       |cand AS (SELECT DISTINCT a.doc_id ia, c.doc_id ib
       |         FROM bands a JOIN bands c ON a.b = c.b AND a.bkey = c.bkey AND a.doc_id < c.doc_id),
       |v AS (SELECT ia, ib, len(list_intersect(x.sh, y.sh)) common,
       |             len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) un
       |      FROM cand JOIN sh x ON x.doc_id = ia JOIN sh y ON y.doc_id = ib)
       |SELECT ia AS doc_id_a, ib AS doc_id_b,
       |       CAST(common AS INT) AS common, CAST(un AS INT) AS union_size,
       |       CAST((common * 1000) // un AS BIGINT) AS jaccard_per_mille
       |FROM v WHERE common * 10 >= un * 6""".stripMargin
  }

  val dedup_minhash_lsh_sql: String = minhashLshSqlOver("documents")

  // ------------------------------------------- incremental near-dup dedup

  private val lshSigsDirMemo = new graft.Memo[String]

  /** The corpus's MinHash artifacts persisted ONCE as data — (doc_id,
    * hashed shingle set, signature) under the index root
    * ([[Similarity.IndexRootConf]], [[Similarity.publishLayout]]
    * atomic-publish discipline): the signature table a production
    * incremental dedup actually maintains. The `sh` column is DISTINCT
    * 60-BIT HASHES ([[graft.functions.WordShingleHashes]]) — ~8 bytes per
    * shingle, so the artifact is signature-sized, NOT a re-encoding of the
    * corpus text (shingle strings would be ~3x the corpus). Each arriving
    * batch computes signatures for ITS documents only and bands them
    * against the persisted table — the 100 TB corpus is never re-shingled,
    * never re-hashed, never re-read; the per-batch cost is O(batch) + the
    * band-bucket join, and the exact-Jaccard verify shuffles hash sets,
    * never text. */
  private[graft] def persistedCorpusLshSigs(s: SparkSession, dir: String): String = {
    val root = s.conf.getOption(Similarity.IndexRootConf).map(_.trim).filter(_.nonEmpty)
    lshSigsDirMemo.getOrStage(root.getOrElse("<staging>") + "|" + dir) {
      val p = root match {
        case Some(r) => s"$r/lsh-sigs-${Similarity.corpusSlug(dir)}"
        case None => graft.Staging.tempDir("graft-lsh-sigs-").toString
      }
      Similarity.publishLayout(s, p, "sigs/_SUCCESS") { tmp =>
        Tables.documents(s, dir)
          .filter(expr(s"CAST(substring(source, 4) AS INT) < ${Pipeline.IncrCorpusSources}"))
          .select(col("doc_id"), graft.functions.WordShingleHashes.of(col("text"), 3).as("sh"))
          .withColumn("sig",
            graft.functions.MinHashSig.of(col("sh"), hashAs, hashBs, MinHashP))
          .write.parquet(s"$tmp/sigs")
      }
    }
  }

  /** INCREMENTAL near-dup dedup: [[graft.operators.Pipeline.pipe_dedup_incremental]]'s
    * batch-vs-corpus shape upgraded from exact fingerprints to MinHash-LSH,
    * against the PERSISTED corpus signature table
    * ([[persistedCorpusLshSigs]]). The arriving batch (source index >=
    * `IncrCorpusSources`) is shingled and signed fresh; the corpus side
    * comes entirely off the persisted layout (band keys are a cheap
    * projection of the stored signature — re-banding is not re-signing);
    * candidates are batch-vs-(corpus ∪ batch) band-bucket collisions,
    * verified with the exact-Jaccard test. Emits every near-dup pair the
    * batch INTRODUCES — exactly the one-shot [[dedup_minhash_lsh]] pairs
    * with at least one batch member (corpus-internal pairs were settled
    * when the corpus was filed), which is the oracle.
    *
    * Scale: the shuffle carries signatures and 60-bit hashed shingle sets
    * (~8 bytes/shingle), never text or shingle strings;
    * the corpus is read from its compact signature table (plan-pinned in
    * `PlanShapeSuite`: the documents table is scanned once, for the batch);
    * banding bounds candidates exactly as the one-shot path. */
  def pipe_dedup_incremental_lsh(s: SparkSession, dir: String): DataFrame = {
    val sigsDir = persistedCorpusLshSigs(s, dir)
    lshScreen(readSigsTable(s, s"$sigsDir/sigs"),
      signedBatch(s, dir, Pipeline.IncrCorpusSources))
  }

  /** Load a persisted signature table, refusing a STALE layout loudly: a
    * table whose `sh` column stores strings (the pre-hash-compaction
    * format) would survive `unionByName` by coercing the batch's 60-bit
    * hashes to decimal strings, making every cross `array_intersect`
    * empty — the screen silently emits zero batch-vs-corpus pairs. A
    * format change to the stored artifact must be a typed refusal on
    * reuse, never a quiet wrong answer. */
  private[graft] def readSigsTable(s: SparkSession, path: String): DataFrame = {
    val df = s.read.parquet(path)
    val shTy = df.schema.fields.find(_.name == "sh").map(_.dataType)
    val ok = shTy.exists {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    require(ok, s"signature table at $path stores sh as " +
      s"${shTy.map(_.simpleString).getOrElse("<absent>")} — a stale " +
      "pre-hash-compaction layout (or a foreign table); delete the layout " +
      "and rebuild, or the screen would silently emit zero corpus pairs")
    df
  }

  /** Sign the arriving documents (source index >= `fromSource`) fresh:
    * `(doc_id, sh, sig)` with the batch's one [[graft.functions.MinHashSig]]
    * node behind a repartition barrier so bands and both verify sides read
    * one materialization. */
  private def signedBatch(s: SparkSession, dir: String, fromSource: Int): DataFrame =
    Tables.documents(s, dir)
      .filter(expr(s"CAST(substring(source, 4) AS INT) >= $fromSource"))
      .select(col("doc_id"), graft.functions.WordShingleHashes.of(col("text"), 3).as("sh"))
      .withColumn("sig",
        graft.functions.MinHashSig.of(col("sh"), hashAs, hashBs, MinHashP))
      .repartition(col("doc_id")) // materialize once: bands + both verify sides

  /** Screen a freshly-signed batch against a PERSISTED signature relation
    * (both sides `(doc_id, sh, sig)`): band-bucket candidates between the
    * batch and (index ∪ batch), exact-Jaccard verify off the stored hash
    * sets. Shared by every lifecycle verb — initial corpus, filed delta
    * segments, takedown-compacted tables — so the screen plan is one
    * definition whatever the index's provenance. */
  private def lshScreen(index: DataFrame, batch: DataFrame): DataFrame = {
    def bandsOf(df: DataFrame): DataFrame =
      df.select(col("doc_id"), posexplode(expr(bandKeysExpr))).toDF("doc_id", "band", "bkey")
    val batchBands = bandsOf(batch)
    val allBands = bandsOf(index).unionByName(batchBands)
      .toDF("doc_id_o", "band", "bkey")
    val cand = batchBands.join(allBands, Seq("band", "bkey"))
      .filter(col("doc_id") =!= col("doc_id_o"))
      .select(least(col("doc_id"), col("doc_id_o")).as("doc_id_a"),
        greatest(col("doc_id"), col("doc_id_o")).as("doc_id_b"))
      .distinct()
    val shAll = index.select(col("doc_id"), col("sh"))
      .unionByName(batch.select(col("doc_id"), col("sh")))
    cand.join(shAll.toDF("doc_id_a", "sh_a"), "doc_id_a")
      .join(shAll.toDF("doc_id_b", "sh_b"), "doc_id_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("union_size", size(col("sh_a")) + size(col("sh_b")) - col("common"))
      .filter(col("common") * 10 >= col("union_size") * 6)
      .select(col("doc_id_a"), col("doc_id_b"), col("common"), col("union_size"),
        (col("common") * 1000).divide(col("union_size")).cast("long").as("jaccard_per_mille"))
  }

  /** The one-shot LSH pairs restricted to those touching a batch doc. */
  lazy val pipe_dedup_incremental_lsh_sql: String =
    s"""WITH pairs AS MATERIALIZED (SELECT * FROM ($dedup_minhash_lsh_sql)),
       |b AS (SELECT doc_id FROM documents
       |  WHERE CAST(substr(source, 4) AS INT) >= ${Pipeline.IncrCorpusSources})
       |SELECT doc_id_a, doc_id_b, common, union_size, jaccard_per_mille
       |FROM pairs
       |WHERE doc_id_a IN (SELECT doc_id FROM b)
       |   OR doc_id_b IN (SELECT doc_id FROM b)""".stripMargin

  // --------------------- persisted-LSH lifecycle: FILE (delta) + DELETE

  /** Source split between the FILED delta segment
    * ([[Pipeline.IncrCorpusSources]], this) and the arriving batch
    * (>= this) for the signature-table lifecycle gates. */
  private[graft] val FiledBatchSplit = 15

  private val lshDeltaDirMemo = new graft.Memo[String]
  private val lshCompactDirMemo = new graft.Memo[String]

  /** The FILE verb of the signature-table lifecycle: an admitted batch's
    * signatures persisted as a DELTA SEGMENT next to the corpus table —
    * the LSM discipline (segments accumulate, serve = union over
    * segments, compaction folds them) that makes filing O(batch) at any
    * corpus size: the corpus table is never rewritten, never re-read,
    * never re-hashed to admit a segment. */
  private[graft] def persistedDeltaLshSigs(s: SparkSession, dir: String): String = {
    val root = s.conf.getOption(Similarity.IndexRootConf).map(_.trim).filter(_.nonEmpty)
    lshDeltaDirMemo.getOrStage(root.getOrElse("<staging>") + "|" + dir) {
      val p = root match {
        case Some(r) => s"$r/lsh-delta-${Similarity.corpusSlug(dir)}"
        case None => graft.Staging.tempDir("graft-lsh-delta-").toString
      }
      Similarity.publishLayout(s, p, "sigs/_SUCCESS") { tmp =>
        Tables.documents(s, dir)
          .filter(expr(s"CAST(substring(source, 4) AS INT) >= ${Pipeline.IncrCorpusSources}" +
            s" AND CAST(substring(source, 4) AS INT) < $FiledBatchSplit"))
          .select(col("doc_id"), graft.functions.WordShingleHashes.of(col("text"), 3).as("sh"))
          .withColumn("sig",
            graft.functions.MinHashSig.of(col("sh"), hashAs, hashBs, MinHashP))
          .write.parquet(s"$tmp/sigs")
      }
    }
  }

  /** The DELETE verb: the corpus signature table rewritten WITHOUT the
    * taken-down documents (`doc_id % 7 = 0` here — any engine-portable
    * predicate), published as its own layout. A takedown is a filtered
    * rewrite of the signature artifact — ~8 bytes/shingle scanned, the
    * corpus text never touched, nothing re-hashed — so the erased
    * documents can never appear in a candidate pair again. */
  private[graft] def compactedCorpusLshSigs(s: SparkSession, dir: String): String = {
    val root = s.conf.getOption(Similarity.IndexRootConf).map(_.trim).filter(_.nonEmpty)
    lshCompactDirMemo.getOrStage(root.getOrElse("<staging>") + "|" + dir) {
      val p = root match {
        case Some(r) => s"$r/lsh-compact-${Similarity.corpusSlug(dir)}"
        case None => graft.Staging.tempDir("graft-lsh-compact-").toString
      }
      val src = persistedCorpusLshSigs(s, dir)
      Similarity.publishLayout(s, p, "sigs/_SUCCESS") { tmp =>
        readSigsTable(s, s"$src/sigs")
          .filter(col("doc_id") % 7 =!= 0)
          .write.parquet(s"$tmp/sigs")
      }
    }
  }

  /** Incremental screen AFTER FILING: a previously-admitted batch
    * (sources [IncrCorpusSources, [[FiledBatchSplit]])) was filed as a
    * persisted delta segment; the next batch (sources >= FiledBatchSplit)
    * screens against corpus ∪ delta — BOTH read from their stored
    * signature tables, only the arriving batch is hashed. Emits the
    * one-shot [[dedup_minhash_lsh]] pairs with at least one arriving-batch
    * member: corpus-corpus, corpus-delta and delta-delta pairs were all
    * settled when their members were filed. */
  def pipe_lsh_file_batch(s: SparkSession, dir: String): DataFrame = {
    val corpus = readSigsTable(s, s"${persistedCorpusLshSigs(s, dir)}/sigs")
    val delta = readSigsTable(s, s"${persistedDeltaLshSigs(s, dir)}/sigs")
    lshScreen(corpus.unionByName(delta), signedBatch(s, dir, FiledBatchSplit))
  }

  lazy val pipe_lsh_file_batch_sql: String =
    s"""WITH pairs AS MATERIALIZED (SELECT * FROM ($dedup_minhash_lsh_sql)),
       |b AS (SELECT doc_id FROM documents
       |  WHERE CAST(substr(source, 4) AS INT) >= $FiledBatchSplit)
       |SELECT doc_id_a, doc_id_b, common, union_size, jaccard_per_mille
       |FROM pairs
       |WHERE doc_id_a IN (SELECT doc_id FROM b)
       |   OR doc_id_b IN (SELECT doc_id FROM b)""".stripMargin

  private val lshFoldDirMemo = new graft.Memo[String]

  /** Segments whose doc_id sets intersect cannot be folded blindly: a
    * doc_id filed by two segments would carry two signature rows into the
    * folded table, and every pair it verifies would emit once per copy.
    * The fold refuses loudly (same discipline as the ANN shard merge,
    * [[Similarity.OverlappingShardsException]]); re-file or compact the
    * duplicate out first. */
  final class OverlappingSegmentsException(sample: Seq[Long], segments: Seq[String])
    extends IllegalStateException(
      s"segment fold refused: doc_ids with more than one signature row " +
        s"(sample: ${sample.mkString(", ")}) across ${segments.mkString(", ")} — " +
        "filed by two segments, or duplicated within one; a blind union " +
        "would make every pair such a doc verifies emit once per copy; " +
        "re-file or compact first")

  /** Fold signature segments (each a `(doc_id, sh, sig)` parquet table)
    * into one published table at `dest` — pure concatenation under a
    * uniqueness check (one 8-byte id-column aggregate, catching doc_ids
    * filed by two segments AND duplicated within one — fsck's duplicate-
    * row damage class folds through a cross-segment-only test), zero
    * hashing, zero signing: the per-row artifacts are membership-
    * independent, so compaction is I/O-bound at any corpus size. An
    * already-published dest short-circuits before the scan — the serve
    * side's cold-start path is metadata-only. */
  private[graft] def foldSegments(
      s: SparkSession, segments: Seq[String], dest: String): String = {
    val marker = new org.apache.hadoop.fs.Path(s"$dest/sigs/_SUCCESS")
    if (marker.getFileSystem(s.sparkContext.hadoopConfiguration).exists(marker))
      return dest
    val dup = segments.map(sp => readSigsTable(s, sp).select(col("doc_id")))
      .reduce(_ unionByName _)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nr"))
      .filter(col("nr") > 1)
      .select(col("doc_id")).orderBy(col("doc_id")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    if (dup.nonEmpty) throw new OverlappingSegmentsException(dup, segments)
    Similarity.publishLayout(s, dest, "sigs/_SUCCESS") { tmp =>
      segments.map(s.read.parquet(_)).reduce(_ unionByName _)
        .write.parquet(s"$tmp/sigs")
    }
  }

  /** corpus + delta folded into one table ([[foldSegments]]) — the LSM
    * compaction that bounds segment count between ingest cycles. */
  private[graft] def foldedLshSigs(s: SparkSession, dir: String): String = {
    val root = s.conf.getOption(Similarity.IndexRootConf).map(_.trim).filter(_.nonEmpty)
    lshFoldDirMemo.getOrStage(root.getOrElse("<staging>") + "|" + dir) {
      val p = root match {
        case Some(r) => s"$r/lsh-fold-${Similarity.corpusSlug(dir)}"
        case None => graft.Staging.tempDir("graft-lsh-fold-").toString
      }
      foldSegments(s,
        Seq(s"${persistedCorpusLshSigs(s, dir)}/sigs",
          s"${persistedDeltaLshSigs(s, dir)}/sigs"), p)
    }
  }

  /** Screen AFTER THE FOLD: byte-identical pairs to
    * [[pipe_lsh_file_batch]] (compaction changes the layout, never the
    * membership), so the oracle is shared — but the plan must read the
    * ONE folded table and neither pre-fold segment (plan-pinned). */
  def pipe_lsh_fold(s: SparkSession, dir: String): DataFrame =
    lshScreen(readSigsTable(s, s"${foldedLshSigs(s, dir)}/sigs"),
      signedBatch(s, dir, FiledBatchSplit))

  lazy val pipe_lsh_fold_sql: String = pipe_lsh_file_batch_sql

  /** Incremental screen AFTER A TAKEDOWN: corpus documents with
    * `doc_id % 7 = 0` are erased from the signature table
    * ([[compactedCorpusLshSigs]]); the arriving batch screens against the
    * compacted table, so no erased document can surface as a near-dup
    * candidate. Oracle = the one-shot pipeline over `documents` MINUS the
    * taken-down corpus rows, restricted to pairs touching the batch —
    * identical because signatures are per-document (erasing a row changes
    * no surviving signature). */
  def pipe_lsh_delete(s: SparkSession, dir: String): DataFrame = {
    val compact = readSigsTable(s, s"${compactedCorpusLshSigs(s, dir)}/sigs")
    lshScreen(compact, signedBatch(s, dir, Pipeline.IncrCorpusSources))
  }

  /** The post-takedown document relation both delete-generation oracles
    * state: `documents` minus the erased corpus rows. LAZY like every
    * cross-object SQL val here: a strict val referencing Pipeline from
    * Dedup's initializer creates an init CYCLE (Dedup init → Pipeline
    * init → Pipeline's strict oracle vals read Dedup's not-yet-assigned
    * SQL vals as null → "syntax error at or near null" in the oracle). */
  private[graft] lazy val takedownSurvivorsRel: String =
    "(SELECT * FROM documents WHERE NOT " +
      s"(CAST(substr(source, 4) AS INT) < ${Pipeline.IncrCorpusSources} AND doc_id % 7 = 0))"

  lazy val pipe_lsh_delete_sql: String = {
    val survivors = takedownSurvivorsRel
    s"""WITH pairs AS MATERIALIZED (SELECT * FROM (${minhashLshSqlOver(survivors)})),
       |b AS (SELECT doc_id FROM documents
       |  WHERE CAST(substr(source, 4) AS INT) >= ${Pipeline.IncrCorpusSources})
       |SELECT doc_id_a, doc_id_b, common, union_size, jaccard_per_mille
       |FROM pairs
       |WHERE doc_id_a IN (SELECT doc_id FROM b)
       |   OR doc_id_b IN (SELECT doc_id FROM b)""".stripMargin
  }

  // -------------------------------------------------------- LSH recall QA

  /** Dedup-quality EVAL: the banded-LSH pipeline ([[dedup_minhash_lsh]])
    * scored against the exact inverted-index anchor
    * ([[dedup_ngram_jaccard]]) — the QA harness every production dedup
    * deploy runs before trusting a band/row configuration: both pipelines
    * verify candidates with the same exact-Jaccard test, so `n_missed` is
    * PURE candidate-recall loss from the banding (a pair none of the 16
    * bands collided), and `n_extra` is nonzero only if the df-cap pruned
    * the anchor's common-counts (impossible at fixture df, structural at
    * crawl scale). One summary row: pair counts both sides, missed/extra,
    * integer recall per-mille.
    *
    * Scale: both inputs are the operators' own plans; the comparison adds
    * two anti joins + four 1-row aggregates (broadcast crosses). At 100 TB
    * the exact anchor is Σdf²-quadratic BY DESIGN — there, this eval runs
    * on a sampled stratum (the standard recall-estimation protocol), same
    * plan, sampled input. */
  def dedup_lsh_eval(s: SparkSession, dir: String): DataFrame = {
    val exact = dedup_ngram_jaccard(s, dir).select(col("doc_id_a"), col("doc_id_b"))
    val lsh = dedup_minhash_lsh(s, dir).select(col("doc_id_a"), col("doc_id_b"))
    val ne = exact.agg(count(lit(1)).as("n_exact_pairs"))
    val nl = lsh.agg(count(lit(1)).as("n_lsh_pairs"))
    val nm = exact.join(lsh, Seq("doc_id_a", "doc_id_b"), "left_anti")
      .agg(count(lit(1)).as("n_missed"))
    val nx = lsh.join(exact, Seq("doc_id_a", "doc_id_b"), "left_anti")
      .agg(count(lit(1)).as("n_extra"))
    ne.crossJoin(nl).crossJoin(nm).crossJoin(nx)
      .select(col("n_exact_pairs"), col("n_lsh_pairs"), col("n_missed"), col("n_extra"),
        expr("(n_exact_pairs - n_missed) * 1000 div n_exact_pairs").as("recall_per_mille"))
  }

  val dedup_lsh_eval_sql: String =
    s"""WITH e AS MATERIALIZED (SELECT doc_id_a, doc_id_b FROM ($dedup_ngram_jaccard_sql)),
       |l AS MATERIALIZED (SELECT doc_id_a, doc_id_b FROM ($dedup_minhash_lsh_sql)),
       |m AS (SELECT count(*) AS c FROM e WHERE NOT EXISTS (
       |  SELECT 1 FROM l WHERE l.doc_id_a = e.doc_id_a AND l.doc_id_b = e.doc_id_b)),
       |x AS (SELECT count(*) AS c FROM l WHERE NOT EXISTS (
       |  SELECT 1 FROM e WHERE e.doc_id_a = l.doc_id_a AND e.doc_id_b = l.doc_id_b))
       |SELECT (SELECT count(*) FROM e) AS n_exact_pairs,
       |       (SELECT count(*) FROM l) AS n_lsh_pairs,
       |       m.c AS n_missed, x.c AS n_extra,
       |       CAST(((SELECT count(*) FROM e) - m.c) * 1000
       |            // (SELECT count(*) FROM e) AS BIGINT) AS recall_per_mille
       |FROM m, x""".stripMargin

  // ------------------------------------------------- near-dup clustering

  /** Connected components over the exact near-dup pairs: every document gets
    * its cluster representative (minimum doc_id in the component) and the
    * cluster size — the canonicalization step a dedup pipeline runs after
    * pair generation (keep the rep, drop the rest).
    *
    * Distributed min-label propagation to convergence: per round, each node
    * takes the minimum label among itself and its neighbors, then follows
    * that label's own label (pointer jump). Rounds are a driver-side CONTROL
    * loop (iteration count only — labels never leave the cluster); lineage
    * is truncated per round with localCheckpoint, the standard Pregel-style
    * pattern, and the convergence count rides the same job as an `observe`
    * metric — one Spark job per round. Pointer jumping converges in
    * O(log diameter) rounds; the cap is a safety bound. The oracle computes
    * true components with a recursive CTE, so the gate fails if propagation
    * stopped early. */
  def dedup_clusters(s: SparkSession, dir: String): DataFrame =
    clusterize(s, dir, dedup_ngram_jaccard(s, dir))

  /** The same canonicalization over the MINHASH-LSH candidate pairs — the
    * production 100 TB path composed end-to-end (banded signatures → bucket
    * join → verified pairs → components), where [[dedup_clusters]] over the
    * exact inverted index is the correctness anchor. Identical output shape
    * and an identical recursive-CTE oracle over the LSH pair set. */
  def dedup_clusters_lsh(s: SparkSession, dir: String): DataFrame =
    clusterize(s, dir, dedup_minhash_lsh(s, dir))

  /** Components over the EMBEDDING near-dup pairs ([[dedup_embedding]]) —
    * semantic dedup clusters: documents whose meanings collide (paraphrases,
    * translations, templated rewrites) that no fingerprint family can link.
    * Same frontier-only machinery over the `embeddings` universe, keyed by
    * `vec_id`; output shape mirrors the text-side cluster gates. */
  def dedup_clusters_embedding(s: SparkSession, dir: String): DataFrame =
    clusterizeOver(
      Tables.embeddings(s, dir).select(col("vec_id")),
      dedup_embedding(s, dir).select(col("vec_id_a"), col("vec_id_b")),
      "vec_id")

  /** pairs(doc_id_a, doc_id_b, ...) → (doc_id, cluster_rep, cluster_size)
    * for every document: components over the pair graph, singletons
    * appended from the corpus. */
  private def clusterize(s: SparkSession, dir: String, pairsIn: DataFrame): DataFrame =
    clusterizeOver(Tables.documents(s, dir).select(col("doc_id")),
      pairsIn.select(col("doc_id_a"), col("doc_id_b")), "doc_id")

  /** The universe-agnostic core: `universe` = one `idName` column holding
    * every node (for singleton append), `pairsIn` = two columns
    * `<idName>_a`, `<idName>_b`. Returns (idName, cluster_rep,
    * cluster_size) for every universe node. */
  private def clusterizeOver(
      universe: DataFrame, pairsIn: DataFrame, idName: String): DataFrame = {
    val pairs = pairsIn.toDF("ida", "idb")
    val edges = pairs
      .union(pairs.select(col("idb"), col("ida")))
      .toDF("src", "dst")
      .localCheckpoint(true) // pair generation runs once, not once per round
    val labels = connectedComponents(edges, maxRounds = 20)
    val sizes = labels.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    val clustered = labels.join(sizes, "comp")
      .select(col("doc_id").as(idName), col("comp").as("cluster_rep"), col("cluster_size"))
    // Nodes incident to no edge are singleton clusters and never enter the
    // iteration; append them from the universe directly.
    val singletons = universe.toDF(idName)
      .join(labels.select(col("doc_id").as(idName)), Seq(idName), "left_anti")
      .select(col(idName), col(idName).as("cluster_rep"), lit(1L).as("cluster_size"))
    clustered.unionByName(singletons)
  }

  /** Min-label connected components over a SYMMETRIC, locally-checkpointed
    * `(src, dst)` edge set: returns `(doc_id, comp)` for every edge-incident
    * node, `comp` = the component's minimum node id.
    *
    * Only nodes incident to an edge are iterated (the near-dup frontier is
    * |pairs|-scale, a tiny fraction of the corpus at 100 TB). Each round is
    * ONE Spark job: neighbor-min then a pointer jump (follow the new label's
    * own label, collapsing chains so convergence is O(log diameter), not
    * O(diameter)), with the convergence count riding the job as an `observe`
    * metric. Throws if `maxRounds` is exhausted before convergence — a
    * silently-truncated propagation would return wrong components, which at
    * production scale must be a loud failure, never a result. */
  private[operators] def connectedComponents(edges: DataFrame, maxRounds: Int): DataFrame = {
    val nodes = edges.select(col("src").as("doc_id")).distinct().localCheckpoint(true)
    var labels = nodes.select(col("doc_id"), col("doc_id").as("comp"))
      .localCheckpoint(true)
    // The seed is materialized; nothing reads `nodes` again — release it.
    org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistLocalCheckpoint(nodes)
    var changed = 1L
    var rounds = 0
    val t0 = System.nanoTime()
    while (changed > 0 && rounds < maxRounds) {
      val neighborMin = edges.join(labels, edges("dst") === labels("doc_id"))
        .groupBy(col("src")).agg(min(col("comp")).as("ncomp"))
      val stepped = labels
        .join(neighborMin, labels("doc_id") === neighborMin("src"), "left")
        .select(col("doc_id"), col("comp"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp1"))
      val jump = labels.select(col("doc_id").as("jid"), col("comp").as("jcomp"))
      val next = stepped
        .join(jump, stepped("comp1") === jump("jid"), "left")
        .select(col("doc_id"), col("comp"),
          least(col("comp1"), coalesce(col("jcomp"), col("comp1"))).as("comp2"))
        .observe(s"conv$rounds",
          sum(when(col("comp2") =!= col("comp"), 1L).otherwise(0L)).as("n_changed"))
        .select(col("doc_id"), col("comp2").as("comp"))
      val prev = labels
      labels = next.localCheckpoint(true)
      // Round r is materialized (eager checkpoint) — release round r-1's
      // blocks NOW rather than waiting for a driver GC to trip the
      // ContextCleaner: at 15-20 rounds (deep chains) the stale blocks
      // otherwise accumulate exactly the block-manager pressure that caused
      // the round-4 regression. (`nodes` was already released above, right
      // after the seed labels were materialized.)
      org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistLocalCheckpoint(prev)
      // A missing metric must be a hard error, not "converged": treating it
      // as 0 would pass the convergence guard below and return truncated
      // labels silently — the exact failure this loop is built to make loud.
      // (isNullAt covers only the legitimate empty-input case.)
      changed = next.queryExecution.observedMetrics.get(s"conv$rounds")
        .map(r => if (r.isNullAt(0)) 0L else r.getLong(0))
        .getOrElse(sys.error(s"observed metric conv$rounds missing — " +
          "cannot verify connected-components convergence"))
      rounds += 1
      logInfo(f"connected components round $rounds: changed=$changed, " +
        f"t=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    require(changed == 0,
      s"connected components did not converge within $maxRounds rounds " +
        s"($changed labels still changing) — raise maxRounds; returning " +
        "truncated labels would be silently wrong")
    labels
  }

  /** Recursive-CTE true components over an arbitrary pair query; `table` is
    * the singleton universe and `id` its key (pair columns = `<id>_a/_b`). */
  private def clustersSqlOver(
      pairsSql: String, table: String = "documents", id: String = "doc_id"): String =
    s"""WITH RECURSIVE
       |pairs AS MATERIALIZED (SELECT ${id}_a, ${id}_b FROM ($pairsSql) t),
       |edges AS MATERIALIZED (SELECT ${id}_a s, ${id}_b d FROM pairs
       |          UNION SELECT ${id}_b, ${id}_a FROM pairs),
       |reach AS (
       |  SELECT $id AS src, $id AS dst FROM $table
       |  UNION
       |  SELECT r.src, e.d FROM reach r JOIN edges e ON r.dst = e.s
       |),
       |comp AS (SELECT src AS $id, min(dst) AS cluster_rep FROM reach GROUP BY src)
       |SELECT c.$id, c.cluster_rep, n.cluster_size
       |FROM comp c JOIN (SELECT cluster_rep, count(*) AS cluster_size
       |                  FROM comp GROUP BY 1) n USING (cluster_rep)""".stripMargin

  val dedup_clusters_sql: String = clustersSqlOver(dedup_ngram_jaccard_sql)
  val dedup_clusters_lsh_sql: String = clustersSqlOver(dedup_minhash_lsh_sql)

  // --------------------------------------------------------------- SimHash

  /** 60-bit SimHash over the (multiset of) tokens + a 16-bit band prefix for
    * bucketing. Pure integer pipeline, mirrored exactly by the oracle. */
  def dedup_simhash(s: SparkSession, dir: String): DataFrame = {
    // One compiled pass ([[graft.functions.SimHashBits]]): it splits the
    // text by the rule of `split(trim(text), '\\s+')` and folds each token's
    // h60 into 60 bit counters in place, with no regex, token strings or
    // interpreted lambdas; SimHashBitsSuite pins it bit for bit against the
    // split-then-fold SQL pipeline the oracle mirrors.
    Tables.documents(s, dir)
      .withColumn("simhash", graft.functions.SimHashBits.of(col("text")))
      .select(col("doc_id"), col("simhash"),
        expr("simhash >> 44").as("band16"))
  }

  val dedup_simhash_sql: String =
    """WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') toks FROM documents),
      |hs AS (SELECT doc_id, list_transform(toks, t ->
      |         CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs FROM tok),
      |sh AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 59), b ->
      |         CASE WHEN list_sum(list_transform(hs, h ->
      |                CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |              THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
      |       FROM hs)
      |SELECT doc_id, simhash, simhash >> 44 AS band16 FROM sh""".stripMargin

  // ------------------------------------------------- embedding cosine pairs

  /** Near-dup pairs by embedding cosine >= 0.4, blocked by the 8 sign bits
    * of the leading dimensions (a random-hyperplane-LSH degenerate case):
    * candidate pairs share a block, so work is sum(block²) not n². The
    * cosine test is sqrt-free: dot > 0 and dot² >= t²·|a|²·|b|², evaluated
    * in index-ordered double arithmetic mirrored by the oracle. */
  /** Near-duplicate embedding pairs (cosine >= 0.4, sqrt-free integer-safe
    * comparison) with random-hyperplane LSH blocking: adaptive-width buckets
    * (~64 vectors each) and one-sided Hamming<=1 probe expansion so pairs
    * split across adjacent buckets are still found. See [[Lsh]] for the
    * 100 TB rationale. */
  def dedup_embedding(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VecDot
    val nb = Lsh.numBits(Tables.embeddingsCount(s, dir), Lsh.maxBits(s))
    // repartition = plan barrier: bucket/norm are computed once behind one
    // exchange that both join sides reuse
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), Lsh.bucketCol(nb, col("embedding")).as("blk"),
        VecDot.norm2(col("embedding")).as("n2"))
      .repartition(col("vec_id"))
    val a = e.select(col("vec_id").as("vec_id_a"), col("embedding").as("ea"), col("blk"), col("n2").as("n2a"))
    val b = e.select(col("vec_id").as("vec_id_b"), col("embedding").as("eb"),
        explode(expr(Lsh.probesSpark(nb))).as("blk"), col("n2").as("n2b"))
    a.join(b, Seq("blk"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .withColumn("dot", VecDot.dot(col("ea"), col("eb")))
      .filter(col("dot") > 0 && col("dot") * col("dot") >= lit(0.16) * col("n2a") * col("n2b"))
      .select(col("vec_id_a"), col("vec_id_b"), col("blk"))
  }

  val dedup_embedding_sql: String =
    s"""WITH ${Lsh.paramsDuck},
      |e AS MATERIALIZED (SELECT vec_id, embedding,
      |    ${Lsh.bucketDuck} AS blk,
      |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n2
      |  FROM embeddings, params),
      |bp AS MATERIALIZED (SELECT vec_id, embedding, n2, unnest(${Lsh.probesDuck}) AS blk
      |  FROM e, params),
      |p AS (SELECT a.vec_id ia, b.vec_id ib, a.blk,
      |    list_sum(list_transform(range(1, len(a.embedding)+1), i ->
      |      CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) AS dot,
      |    a.n2 n2a, b.n2 n2b
      |  FROM e a JOIN bp b ON a.blk = b.blk AND a.vec_id < b.vec_id)
      |SELECT ia AS vec_id_a, ib AS vec_id_b, CAST(blk AS BIGINT) AS blk
      |FROM p WHERE dot > 0 AND dot * dot >= 0.16 * n2a * n2b""".stripMargin

  // declared after dedup_embedding_sql — a forward val reference would
  // embed null into the composed SQL at object init
  val dedup_clusters_embedding_sql: String =
    clustersSqlOver(dedup_embedding_sql, table = "embeddings", id = "vec_id")

  // ------------------------------------------------------- semantic dedup

  /** SemDeDup (Abbas et al., 2023, arXiv:2303.09540): cluster the corpus
    * embeddings with k-means, then drop within-cluster semantic duplicates —
    * clustering makes the near-dup search local (pairs are only sought
    * INSIDE a cluster), which is what lets embedding dedup scale past the
    * all-pairs wall. The quantizer is the shared integer-exact trained
    * k-means of [[Similarity.trainedCells]] (bit-reproducible under any
    * partitioning — see the determinism note there); within a cluster a
    * vector is DROPPED when any lower-vec_id cluster-mate sits at cosine
    * >= 0.4 (same sqrt-free `dot² >= t²·|a|²·|b|²` test as
    * [[dedup_embedding]]) — the deterministic dominated-pair rule standing
    * in for SemDeDup's "keep one per ε-ball" greedy, with min-id as the
    * kept representative.
    *
    * Scale: the Lloyd training is the documented TrainIters+1 linear
    * passes; the pair search shuffles the corpus ONCE on cid and does
    * per-cluster pairing — Σ cluster² with cluster ≈ √N held by the
    * √N-cells formula (SemDeDup's own k scaling); the final keep-mark is a
    * distinct + left join on vec_id. Nothing is all-pairs, nothing sorts
    * globally. */
  def dedup_semantic(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VecDot
    val cells = Similarity.trainedCells(s, dir)
      .repartition(col("cid")) // one exchange both pair sides + sizes reuse
    val a = cells.select(col("cid"), col("vec_id").as("vec_id_a"),
      col("embedding").as("ea"), col("n2").as("n2a"))
    val b = cells.select(col("cid"), col("vec_id").as("vec_id_b"),
      col("embedding").as("eb"), col("n2").as("n2b"))
    val dropped = a.join(b, Seq("cid"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .withColumn("dot", VecDot.dot(col("ea"), col("eb")))
      .filter(col("dot") > 0 && col("dot") * col("dot") >= lit(0.16) * col("n2a") * col("n2b"))
      .select(col("vec_id_b").as("vec_id")).distinct()
      .withColumn("dropFlag", lit(1))
    val sizes = cells.groupBy(col("cid")).agg(count(lit(1)).as("cluster_size"))
    cells.join(sizes, "cid")
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("cluster_size"),
        col("dropFlag").isNull.as("kept"))
  }

  val dedup_semantic_sql: String =
    s"""WITH ${Similarity.trainedCellsDuck},
      |p0 AS (SELECT a.vec_id ia, b.vec_id ib,
      |    list_sum(list_transform(range(1, len(a.embedding)+1), i ->
      |      CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) AS dot,
      |    a.n2 n2a, b.n2 n2b
      |  FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id),
      |d AS (SELECT DISTINCT ib FROM p0
      |  WHERE dot > 0 AND dot * dot >= 0.16 * n2a * n2b),
      |sz AS (SELECT cid, count(*) AS cluster_size FROM cells GROUP BY 1)
      |SELECT c.vec_id, c.cid, CAST(sz.cluster_size AS BIGINT) AS cluster_size,
      |  (d.ib IS NULL) AS kept
      |FROM cells c JOIN sz USING (cid) LEFT JOIN d ON c.vec_id = d.ib""".stripMargin

  /** CROSS-SOURCE OVERLAP matrix — pairwise shingle containment between
    * corpus sources, the audit that finds mirrored/scraped/re-hosted
    * content BETWEEN collections before a per-document dedup pass even
    * runs (a source 80%-contained in another is a candidate for wholesale
    * exclusion, far cheaper than deduping it document by document). For
    * each source pair: the distinct-shingle counts, the common-shingle
    * count, and both containment directions in integer micro-units.
    *
    * Shingles present in more than [[OverlapSrcCap]] sources are excluded
    * as boilerplate — they carry no provenance signal (every web page
    * shares "all rights reserved"), and the cap is ALSO what bounds the
    * pair join: a shingle contributes at most OverlapSrcCap² pair rows, so
    * the join never degenerates on universal trigrams regardless of corpus
    * size. Presence sets are distinct (source, hash) rows — bounded by
    * shingle vocabulary × sources, not occurrences — built in one scan
    * through the codegen'd shingle kernel and checkpointed once for the
    * count/join consumers. Pairs with zero discriminative overlap are
    * absent (inner-join semantics), keeping output ≤ sources². */
  private val OverlapSrcCap = 10

  def dedup_source_overlap(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.documents(s, dir)
      .select(col("source"), explode(graft.functions.WordShingles.of(col("text"), 3)).as("s0"))
      .select(col("source"), expr(h60S("s0", "")).as("s"))
      .distinct()
    val keep = p.groupBy(col("s")).agg(count(lit(1)).as("nsrc"))
      .filter(col("nsrc") <= OverlapSrcCap).select(col("s"))
    val pc = p.join(keep, "s").select(col("source"), col("s"))
      .localCheckpoint(true) // vocab×sources-bounded; reused by 3 consumers
    val cnt = pc.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val com = pc.select(col("source").as("source_a"), col("s"))
      .join(pc.select(col("source").as("source_b"), col("s")), "s")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b")).agg(count(lit(1)).as("n_common"))
    com
      .join(cnt.select(col("source").as("source_a"), col("n").as("n_a")), "source_a")
      .join(cnt.select(col("source").as("source_b"), col("n").as("n_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("n_common"),
        expr("(1000000 * n_common) div n_a").as("contain_ab_micro"),
        expr("(1000000 * n_common) div n_b").as("contain_ba_micro"))
  }

  val dedup_source_overlap_sql: String =
    s"""WITH tok AS (SELECT source, trim(text) tx, string_split_regex(trim(text), '\\s+') toks FROM documents),
       |sh AS (SELECT source, $shinglesD AS sh FROM tok),
       |p AS (SELECT DISTINCT source, CAST(('0x' || substr(md5(s0), 1, 15)) AS BIGINT) AS s
       |  FROM (SELECT source, unnest(sh) AS s0 FROM sh)),
       |keep AS (SELECT s FROM p GROUP BY s HAVING count(*) <= $OverlapSrcCap),
       |pc AS MATERIALIZED (SELECT p.source, p.s FROM p JOIN keep USING (s)),
       |cnt AS (SELECT source, count(*) AS n FROM pc GROUP BY 1),
       |com AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
       |  FROM pc a JOIN pc b ON a.s = b.s AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, ca.n AS n_a, cb.n AS n_b, n_common,
       |  (1000000 * n_common) // ca.n AS contain_ab_micro,
       |  (1000000 * n_common) // cb.n AS contain_ba_micro
       |FROM com
       |JOIN cnt ca ON ca.source = com.source_a
       |JOIN cnt cb ON cb.source = com.source_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_source_overlap" -> dedup_source_overlap _,
    "dedup_semantic" -> dedup_semantic _,
    "dedup_exact" -> dedup_exact _,
    "dedup_segments" -> dedup_segments _,
    "dedup_exact_substr" -> dedup_exact_substr _,
    "dedup_substr_clean" -> dedup_substr_clean _,
    "dedup_lsh_eval" -> dedup_lsh_eval _,
    "dedup_bow" -> dedup_bow _,
    "dedup_ngram_jaccard" -> dedup_ngram_jaccard _,
    "dedup_containment" -> dedup_containment _,
    "dedup_minhash_lsh" -> dedup_minhash_lsh _,
    "pipe_dedup_incremental_lsh" -> pipe_dedup_incremental_lsh _,
    "pipe_lsh_file_batch" -> pipe_lsh_file_batch _,
    "pipe_lsh_fold" -> pipe_lsh_fold _,
    "pipe_lsh_delete" -> pipe_lsh_delete _,
    "dedup_simhash" -> dedup_simhash _,
    "dedup_embedding" -> dedup_embedding _,
    "dedup_clusters" -> dedup_clusters _,
    "dedup_clusters_lsh" -> dedup_clusters_lsh _,
    "dedup_clusters_embedding" -> dedup_clusters_embedding _,
  )

  val oracles: Map[String, String] = Map(
    "dedup_source_overlap" -> dedup_source_overlap_sql,
    "dedup_semantic" -> dedup_semantic_sql,
    "dedup_exact" -> dedup_exact_sql,
    "dedup_segments" -> dedup_segments_sql,
    "dedup_exact_substr" -> dedup_exact_substr_sql,
    "dedup_substr_clean" -> dedup_substr_clean_sql,
    "dedup_lsh_eval" -> dedup_lsh_eval_sql,
    "dedup_bow" -> dedup_bow_sql,
    "dedup_ngram_jaccard" -> dedup_ngram_jaccard_sql,
    "dedup_containment" -> dedup_containment_sql,
    "dedup_minhash_lsh" -> dedup_minhash_lsh_sql,
    "pipe_dedup_incremental_lsh" -> pipe_dedup_incremental_lsh_sql,
    "pipe_lsh_file_batch" -> pipe_lsh_file_batch_sql,
    "pipe_lsh_fold" -> pipe_lsh_fold_sql,
    "pipe_lsh_delete" -> pipe_lsh_delete_sql,
    "dedup_simhash" -> dedup_simhash_sql,
    "dedup_embedding" -> dedup_embedding_sql,
    "dedup_clusters" -> dedup_clusters_sql,
    "dedup_clusters_lsh" -> dedup_clusters_lsh_sql,
    "dedup_clusters_embedding" -> dedup_clusters_embedding_sql,
  )
}
