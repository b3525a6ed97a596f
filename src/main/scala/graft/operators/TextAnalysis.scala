package graft.operators

import graft.Tables
import graft.functions.NormSpace
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: token statistics,
  * quality scoring, marker-based language ID, document fingerprinting and
  * regex tokenization.
  *
  * Everything is built from codegen'd built-ins (split / higher-order array
  * functions / md5) — no UDFs — so the whole stage fuses into one
  * WholeStageCodegen pass over the scan. Ratios are reported as integer
  * per-mille (floor) rather than doubles: exact, order-independent, and
  * identical in any SQL engine (the oracle mirrors the arithmetic).
  *
  * Scale: each query is a single narrow map over documents + one partial
  * aggregate at most — no shuffle except final small aggregations, so it
  * scales linearly with input splits at 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokens of the trimmed text (shared by all queries). */
  private[operators] val tokens: Column = split(trim(col("text")), "\\s+")

  private val stopwords = Seq("the", "a", "of", "and", "to")
  private[graft] def sqlStopList = stopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  def text_stats(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(
        col("doc_id"), col("lang"), col("source"),
        length(col("text")).as("n_chars_actual"),
        size(tokens).as("n_tokens"),
        size(array_distinct(tokens)).as("n_distinct_tokens"),
        expr("aggregate(transform(split(trim(text), '\\\\s+'), t -> length(t)), 0, (acc, x) -> acc + x)")
          .as("total_token_chars"),
        array_max(transform(tokens, t => length(t))).as("max_token_len"))
  }

  val text_stats_sql: String =
    """SELECT doc_id, lang, source,
      |  CAST(length(text) AS INT) AS n_chars_actual,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
      |  CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS INT) AS n_distinct_tokens,
      |  CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'), t -> length(t))) AS INT) AS total_token_chars,
      |  CAST(list_max(list_transform(string_split_regex(trim(text), '\s+'), t -> length(t))) AS INT) AS max_token_len
      |FROM documents""".stripMargin

  /** HEAVY HITTERS over the token stream — the frequent-vocabulary query
    * answered WITHOUT a full-vocabulary groupBy, via the two-pass
    * Misra-Gries protocol (the production shape for "top terms over
    * 100 TB" when the key domain itself is shuffle-sized):
    * pass 1 folds the corpus into ONE bounded [[graft.functions.HeavyKeep]]
    * summary (≤[[HeavyK]] entries per partition on the shuffle, merged by
    * the PODS-2012 rule, so every token with frequency > N/(k+1) is
    * guaranteed present among the candidates); pass 2 exactly recounts
    * ONLY the ≤k broadcast candidates and keeps those above the N/(k+1)
    * threshold. The MG guarantee (no false negatives) plus the exact
    * recount (no false positives) make the end result EXACTLY the true
    * heavy set — deterministic although the intermediate summary is
    * merge-order-dependent, which is what lets the gate hash it against
    * a sketch-free oracle.
    *
    * Fixture note: the synthetic vocabulary (31 tokens) is below k=64, so
    * on the gate corpus the summary never decrements (exact regime); the
    * compression/merge regime is pinned by `HeavyKeepSuite` on a skewed
    * fixture with vocab ≫ k.
    *
    * Scale: pass 1 is one scan + a ≤k-entry map per partition merged to a
    * single row; pass 2 is one scan + a broadcast semi-filter + a
    * ≤k-group aggregate. Nothing ever shuffles the raw token domain. */
  private[graft] val HeavyK = 64

  def text_heavy_hitters(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HeavyKeep
    def toks0(df: DataFrame): DataFrame = df.select(explode(tokens).as("tok"))
    val corpus = Tables.documents(s, dir)
    val sketch = toks0(corpus)
      .agg(HeavyKeep.of(col("tok"), HeavyK).as("cand"), count(lit(1)).as("total"))
    toks0(corpus)
      .join(broadcast(sketch))
      .filter(array_contains(col("cand"), col("tok")))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"), min(col("total")).as("total"))
      .filter(expr(s"cnt * ${HeavyK + 1} > total"))
      .select(col("tok"), col("cnt"))
  }

  val text_heavy_hitters_sql: String =
    s"""WITH t AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
       |g AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1)
       |SELECT tok, cnt FROM g WHERE cnt * ${HeavyK + 1} > (SELECT count(*) FROM t)""".stripMargin

  /** TOKENIZER FERTILITY audit per (lang, source) — the corpus-level
    * budgeting table a pre-training run is priced from: how many tokens a
    * slice yields per 1000 chars (token budget ÷ fertility = raw bytes to
    * crawl) and how long its tokens run (fertility drift per language is
    * the classic multilingual-tokenizer failure signal). Whitespace
    * tokenization as everywhere in this family; ratios in exact integer
    * per-mille so the gate hashes them.
    *
    * Scale: one corpus scan into a map-side-combined SUM/COUNT aggregate;
    * output is ≤ |langs|×|sources| rows and the ratios are computed ON the
    * aggregate — nothing here is per-doc after the partial agg, so the
    * shuffle carries one row per (lang, source, partition). */
  def text_fertility(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("lang"), col("source"),
        length(col("text")).cast("long").as("chars"),
        size(tokens).cast("long").as("toks"),
        expr("aggregate(transform(split(trim(text), '\\\\s+'), t -> length(t)), 0, (acc, x) -> acc + x)")
          .cast("long").as("tok_chars"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("sum_tokens"),
        sum(col("chars")).as("sum_chars"),
        sum(col("tok_chars")).as("sum_token_chars"))
      .withColumn("tokens_per_kchar", expr("1000 * sum_tokens div sum_chars"))
      .withColumn("chars_per_token_milli", expr("1000 * sum_token_chars div sum_tokens"))
  }

  val text_fertility_sql: String =
    """WITH d AS (SELECT lang, source,
      |    CAST(length(text) AS BIGINT) AS chars,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks,
      |    CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'), t -> length(t))) AS BIGINT) AS tok_chars
      |  FROM documents)
      |SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(toks) AS BIGINT) AS sum_tokens,
      |  CAST(sum(chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(tok_chars) AS BIGINT) AS sum_token_chars,
      |  (1000 * CAST(sum(toks) AS BIGINT)) // CAST(sum(chars) AS BIGINT) AS tokens_per_kchar,
      |  (1000 * CAST(sum(tok_chars) AS BIGINT)) // CAST(sum(toks) AS BIGINT) AS chars_per_token_milli
      |FROM d GROUP BY lang, source""".stripMargin

  /** Quality signals: stopword density, short-doc flag, repetition rate —
    * the usual cheap pre-training corpus filters. All integer arithmetic. */
  /** (token count, quality class) as reusable columns over a `text`
    * column — the same integer per-mille classification as
    * [[text_quality]], shared with the streaming corpus gate (quality is a
    * pure function of the text, so every copy of an exact duplicate
    * classifies identically — the property that makes the streamed
    * first-arrival dedup equal the batch representative choice). */
  private[graft] def nTokensCol: Column = size(tokens)

  private[graft] def qualityClassCol: Column = {
    val nTok = size(tokens)
    val stopPm = (size(filter(tokens, t => t.isin(stopwords: _*)))
      .cast("long") * 1000 / nTok).cast("long")
    val uniqPm = (size(array_distinct(tokens)).cast("long") * 1000 / nTok).cast("long")
    when(nTok < 20, "too_short")
      .when(stopPm > 150, "stopword_heavy")
      .when(uniqPm < 400, "repetitive")
      .otherwise("ok")
  }

  def text_quality(s: SparkSession, dir: String): DataFrame = {
    val nTok = size(tokens)
    val stopHits = size(filter(tokens, t => t.isin(stopwords: _*)))
    val distinctTok = size(array_distinct(tokens))
    // per-mille ratios via integer floor-division: exact everywhere; the
    // classification below compares the SAME floored values (comparing the
    // un-floored double diverged from the oracle for ratios in (150, 151))
    val stopPm = (stopHits.cast("long") * 1000 / nTok).cast("long")
    val uniqPm = (distinctTok.cast("long") * 1000 / nTok).cast("long")
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        stopHits.as("stop_hits"),
        stopPm.as("stop_per_mille"),
        uniqPm.as("uniq_per_mille"),
        when(nTok < 20, "too_short")
          .when(stopPm > 150, "stopword_heavy")
          .when(uniqPm < 400, "repetitive")
          .otherwise("ok").as("quality_class"))
  }

  val text_quality_sql: String =
    s"""SELECT doc_id,
       |  CAST(n_tokens AS INT) AS n_tokens,
       |  CAST(stop_hits AS INT) AS stop_hits,
       |  CAST((stop_hits * 1000) // n_tokens AS BIGINT) AS stop_per_mille,
       |  CAST((uniq * 1000) // n_tokens AS BIGINT) AS uniq_per_mille,
       |  CASE WHEN n_tokens < 20 THEN 'too_short'
       |       WHEN (stop_hits * 1000) // n_tokens > 150 THEN 'stopword_heavy'
       |       WHEN (uniq * 1000) // n_tokens < 400 THEN 'repetitive'
       |       ELSE 'ok' END AS quality_class
       |FROM (SELECT doc_id,
       |        len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       |        len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t IN $sqlStopList)) AS stop_hits,
       |        len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS uniq
       |      FROM documents)""".stripMargin

  /** Gopher-style document-quality rules (Rae et al. 2021, "Scaling Language
    * Models", §A1.1): token-count bounds, mean-word-length bounds,
    * symbol-to-word ratio, alphabetic-word ratio — the standard rule gate a
    * pre-training corpus passes before any model-based scoring. Every rule
    * is evaluated in integer arithmetic (`3·n ≤ chars ≤ 10·n` instead of a
    * floating mean) so the verdicts are exact and engine-independent.
    * One narrow codegen'd map over the scan; no shuffle. */
  def text_gopher(s: SparkSession, dir: String): DataFrame = {
    val nTok = size(tokens)
    val totChars = aggregate(transform(tokens, t => length(t)), lit(0), (a, x) => a + x)
    val alphaTok = size(filter(tokens, t => t.rlike("[a-zA-Z]")))
    val nSym = regexp_count(col("text"), lit("#|\\.\\.\\."))
    Tables.documents(s, dir)
      .select(
        col("doc_id"), nTok.as("n_tokens"), totChars.as("total_chars"),
        alphaTok.as("n_alpha_tokens"), nSym.as("n_symbols"),
        (nTok >= 5 && nTok <= 100000).as("ok_count"),
        (totChars >= nTok * 3 && totChars <= nTok * 10).as("ok_word_len"),
        (nSym * 10 <= nTok).as("ok_symbols"),
        (alphaTok * 5 >= nTok * 4).as("ok_alpha"))
      .withColumn("keep",
        col("ok_count") && col("ok_word_len") && col("ok_symbols") && col("ok_alpha"))
  }

  val text_gopher_sql: String =
    """SELECT doc_id,
      |  CAST(n_tokens AS INT) AS n_tokens,
      |  CAST(total_chars AS INT) AS total_chars,
      |  CAST(n_alpha_tokens AS INT) AS n_alpha_tokens,
      |  CAST(n_symbols AS INT) AS n_symbols,
      |  n_tokens BETWEEN 5 AND 100000 AS ok_count,
      |  total_chars BETWEEN n_tokens * 3 AND n_tokens * 10 AS ok_word_len,
      |  n_symbols * 10 <= n_tokens AS ok_symbols,
      |  n_alpha_tokens * 5 >= n_tokens * 4 AS ok_alpha,
      |  (n_tokens BETWEEN 5 AND 100000)
      |    AND (total_chars BETWEEN n_tokens * 3 AND n_tokens * 10)
      |    AND (n_symbols * 10 <= n_tokens)
      |    AND (n_alpha_tokens * 5 >= n_tokens * 4) AS keep
      |FROM (SELECT doc_id,
      |        len(string_split_regex(trim(text), '\s+')) AS n_tokens,
      |        list_sum(list_transform(string_split_regex(trim(text), '\s+'), t -> length(t))) AS total_chars,
      |        len(list_filter(string_split_regex(trim(text), '\s+'), t -> regexp_matches(t, '[a-zA-Z]'))) AS n_alpha_tokens,
      |        len(regexp_extract_all(text, '#|\.\.\.')) AS n_symbols
      |      FROM documents)""".stripMargin

  /** Character-TRIGRAM language ID, trained from the corpus itself — the
    * upgrade of [[text_langid]]'s fixed marker words to the classic n-gram
    * profile method (Cavnar & Trenkle): per language, take the
    * [[ProfileK]] most frequent char trigrams (count desc, trigram asc —
    * deterministic); score each document by how many DISTINCT trigrams it
    * shares with each profile; predict the argmax (lang asc tie-break).
    * Train and predict in one plan: profiles are a ≤ langs·K row table —
    * broadcast — and each doc joins only its profile-matching distinct
    * trigrams, so the post-join shuffle is ≤ langs·K rows per doc, not the
    * raw trigram stream. Counts and ranks are integers end-to-end.
    *
    * Fixture honesty: the synthetic corpus draws most words from a SHARED
    * vocabulary, so frequency profiles are dominated by cross-language
    * filler and accuracy tops out well below a real corpus's (~26% at
    * sf0.01 vs ~99% for the marker heuristic that happens to key on the
    * fixture's only discriminative words). The gate grades the exact
    * train+predict pipeline, not fixture realism; production profiles
    * are trained on clean per-language seed corpora. */
  private val ProfileK = 50

  def text_langid_ngram(s: SparkSession, dir: String): DataFrame = {
    // compiled char-trigram kernel (graft.functions.CharShingles): same
    // output as the interpreted sequence+transform pipeline the oracle
    // mirrors, without a boxed lambda frame per character
    val tg = graft.functions.CharShingles.of(col("text"), 3)
    // deliberate plan barrier (the MinHash-LSH trick): both the profile
    // and the scoring branch read this ONE exchange, so the trigram
    // kernel runs once per doc, not once per branch
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"), tg.as("tgs"))
      .repartition(col("doc_id"))
    val wProf = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("tg").asc)
    // profiles train on a deterministic quarter of the corpus — frequency
    // RANKS converge long before the full stream is counted, so training
    // explode cost is corpus/4 while prediction still scores every doc
    val profiles = docs.filter(col("doc_id") % 4 === 0)
      .select(col("lang"), explode(col("tgs")).as("tg"))
      .groupBy(col("lang"), col("tg")).agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(wProf))
      .filter(col("rk") <= ProfileK)
      .select(col("lang").as("plang"), col("tg"))
    val scores = docs.select(col("doc_id"), col("lang"), explode(array_distinct(col("tgs"))).as("tg"))
      .join(broadcast(profiles), "tg")
      .groupBy(col("doc_id"), col("lang"), col("plang"))
      .agg(count(lit(1)).as("n_shared"))
    val wBest = Window.partitionBy(col("doc_id")).orderBy(col("n_shared").desc, col("plang").asc)
    scores.withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang").as("true_lang"), col("plang").as("pred_lang"),
        col("n_shared"), (col("lang") === col("plang")).as("correct"))
  }

  val text_langid_ngram_sql: String =
    s"""WITH d AS (SELECT doc_id, lang,
       |    CASE WHEN length(text) < 3 THEN [text]
       |         ELSE list_transform(range(1, length(text) - 1), i -> substr(text, CAST(i AS INT), 3)) END AS tgs
       |  FROM documents),
       |pc AS (SELECT lang, tg, count(*) AS n
       |       FROM (SELECT lang, unnest(tgs) AS tg FROM d WHERE doc_id % 4 = 0)
       |       GROUP BY 1, 2),
       |prof AS (SELECT lang AS plang, tg
       |         FROM (SELECT lang, tg, row_number() OVER
       |                 (PARTITION BY lang ORDER BY n DESC, tg ASC) AS rk FROM pc)
       |         WHERE rk <= $ProfileK),
       |sc AS (SELECT doc_id, lang, plang, count(*) AS n_shared
       |       FROM (SELECT doc_id, lang, unnest(list_distinct(tgs)) AS tg FROM d) x
       |       JOIN prof USING (tg) GROUP BY 1, 2, 3)
       |SELECT doc_id, lang AS true_lang, plang AS pred_lang,
       |       CAST(n_shared AS BIGINT) AS n_shared, lang = plang AS correct
       |FROM (SELECT *, row_number() OVER
       |        (PARTITION BY doc_id ORDER BY n_shared DESC, plang ASC) AS rk FROM sc)
       |WHERE rk = 1""".stripMargin

  /** NOVELTY scoring — what does each document add that no earlier document
    * (by doc_id, the ingestion order) already contributed? A doc's novelty
    * is the share of its distinct word-3-shingles whose FIRST corpus
    * occurrence is this doc — the contribution metric dataset curation
    * uses to rank sources and prune late near-copies (a late duplicate
    * scores ~0 even when pairwise dedup misses it). Two aggregations on
    * the shingle hash: per-shingle min(doc_id) (the first-seen table),
    * then a per-doc count of first-seen hits joined back — one shuffle
    * family keyed by the 60-bit shingle, map-side combined, never an
    * all-pairs comparison. Integer per-mille output. */
  def text_novelty(s: SparkSession, dir: String): DataFrame = {
    val posts = Tables.documents(s, dir)
      .select(col("doc_id"), graft.functions.WordShingles.of(col("text"), 3).as("sh"))
      .select(col("doc_id"), explode(col("sh")).as("s0"))
      .select(col("doc_id"), expr(Dedup.h60S("s0", "")).as("s"))
      .repartition(col("s"))
    val firstSeen = posts.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
    posts.join(firstSeen, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_per_mille", expr("n_novel * 1000 div n_shingles"))
  }

  val text_novelty_sql: String =
    s"""WITH tok AS (SELECT doc_id, trim(text) tx, string_split_regex(trim(text), '\\s+') toks
       |            FROM documents),
       |sh AS (SELECT doc_id, ${Dedup.shinglesD} AS sh FROM tok),
       |post AS (SELECT doc_id, CAST(('0x' || substr(md5(s0), 1, 15)) AS BIGINT) AS s
       |         FROM (SELECT doc_id, unnest(sh) AS s0 FROM sh)),
       |fs AS (SELECT s, min(doc_id) AS first_doc FROM post GROUP BY s)
       |SELECT doc_id, count(*) AS n_shingles,
       |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  CAST((sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT)
       |    AS novelty_per_mille
       |FROM post JOIN fs USING (s)
       |GROUP BY doc_id""".stripMargin

  /** Readability scoring, Flesch-Kincaid family, in exact integer proxies:
    * syllables ≈ vowel groups (`[aeiouAEIOU]+` runs), sentences ≈
    * terminator runs (`[.!?]+`, min 1), and the grade formula's float
    * coefficients scaled to integer milli-points —
    * `grade_milli = 390·(words·1000 div sentences) div 1000 +
    * 11800·(syllables·1000 div words) div 1000 - 15590` — i.e. the FK
    * coefficients (0.39, 11.8, 15.59) each ×1000 against the milli-scaled
    * ratios — so the score is bit-identical in any engine while ranking
    * documents the same way the float formula does. One codegen'd narrow
    * map; no shuffle. */
  def text_readability(s: SparkSession, dir: String): DataFrame = {
    val nWords = size(tokens)
    val nSyll = regexp_count(col("text"), lit("[aeiouAEIOU]+"))
    val nSent = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        nWords.cast("long").as("n_words"),
        nSyll.cast("long").as("n_syllables"),
        nSent.cast("long").as("n_sentences"))
      .withColumn("wps_milli", expr("n_words * 1000 div n_sentences"))
      .withColumn("spw_milli", expr("n_syllables * 1000 div n_words"))
      .withColumn("grade_milli",
        expr("390 * wps_milli div 1000 + 11800 * spw_milli div 1000 - 15590"))
  }

  val text_readability_sql: String =
    """SELECT doc_id,
      |  CAST(n_words AS BIGINT) AS n_words,
      |  CAST(n_syllables AS BIGINT) AS n_syllables,
      |  CAST(n_sentences AS BIGINT) AS n_sentences,
      |  CAST((n_words * 1000) // n_sentences AS BIGINT) AS wps_milli,
      |  CAST((n_syllables * 1000) // n_words AS BIGINT) AS spw_milli,
      |  CAST((390 * ((n_words * 1000) // n_sentences)) // 1000
      |     + (11800 * ((n_syllables * 1000) // n_words)) // 1000 - 15590 AS BIGINT) AS grade_milli
      |FROM (SELECT doc_id,
      |        len(string_split_regex(trim(text), '\s+')) AS n_words,
      |        len(regexp_extract_all(text, '[aeiouAEIOU]+')) AS n_syllables,
      |        greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences
      |      FROM documents)""".stripMargin

  /** Marker-word language ID (n-gram-heuristic family): score each language
    * by counts of its marker words, predict the argmax with a fixed
    * tie-break order. Deterministic and fully SQL-expressible. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is"),
    "de" -> Seq("der", "die", "und"),
    "es" -> Seq("el", "los", "una"),
    "fr" -> Seq("le", "les", "des"),
    "zh" -> Seq("de5", "shi4", "le5"))

  def text_langid(s: SparkSession, dir: String): DataFrame = {
    val scores = markers.map { case (lang, ws) =>
      size(filter(tokens, t => t.isin(ws: _*))).as(s"score_$lang")
    }
    val df = Tables.documents(s, dir).select(col("doc_id") +: col("lang").as("labeled_lang") +: scores: _*)
    // true argmax: the first language (declaration order) whose score equals
    // the maximum, provided the maximum is positive. A first-match CASE over
    // `score = greatest(...)` gives the declaration-order tie-break for free.
    val mx = greatest(markers.map { case (lang, _) => col(s"score_$lang") }: _*)
    val best = markers.map(_._1).foldRight(lit("und")) { case (lang, other) =>
      when(col(s"score_$lang") === mx && mx > 0, lit(lang)).otherwise(other)
    }
    df.withColumn("predicted_lang", best)
  }

  val text_langid_sql: String = {
    val scoreExprs = markers.map { case (lang, ws) =>
      val lst = ws.map(w => s"'$w'").mkString("(", ", ", ")")
      s"CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t IN $lst)) AS INT) AS score_$lang"
    }.mkString(",\n  ")
    val mxExpr = markers.map(_._1).map(l => s"score_$l").mkString("greatest(", ", ", ")")
    val caseExpr = markers.map(_._1)
      .map(lang => s"WHEN score_$lang = $mxExpr AND $mxExpr > 0 THEN '$lang'")
      .mkString("\n    ")
    s"""SELECT doc_id, labeled_lang, score_en, score_de, score_es, score_fr, score_zh,
       |  CASE $caseExpr ELSE 'und' END AS predicted_lang
       |FROM (SELECT doc_id, lang AS labeled_lang,
       |  $scoreExprs
       |FROM documents)""".stripMargin
  }

  /** Document fingerprints: exact-content hash and order-independent
    * bag-of-words hash (the classic cheap near-dup prefilters). */
  def text_fingerprint(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        md5(NormSpace.of(col("text"))).as("fp_exact"),
        md5(concat_ws(" ", array_sort(array_distinct(tokens)))).as("fp_bag"))
  }

  val text_fingerprint_sql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp_exact,
      |  md5(array_to_string(list_sort(list_distinct(string_split_regex(trim(text), '\s+'))), ' ')) AS fp_bag
      |FROM documents""".stripMargin

  /** Winnowing fingerprints (rolling hash, Schleimer et al.): polynomial
    * hashes of all character k-grams of the normalized text, minimum per
    * sliding window of w consecutive gram hashes, distinct minima sorted as
    * the document fingerprint. Pure integer arithmetic (closed-form
    * polynomial mod p, no overflow: values < 2^43), mirrored exactly by the
    * oracle.
    *
    * Structure note: the normalized text and the gram array are bound as
    * single-element `transform` lambda variables so each is evaluated once —
    * as plain computed columns, Catalyst would inline their expressions into
    * every lambda reference (the [[graft.operators.Dedup]] 30x lesson).
    */
  private val WinnowK = 5 // k-gram width (chars)
  private val WinnowW = 4 // winnowing window (grams)
  private val WinnowM = 1000000007L
  private val WinnowPows = Seq(4362470401L, 16974593L, 66049L, 257L, 1L) // 257^(k-1-j)

  def text_winnow(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Winnow
    // The fingerprint is a variable-length set of minima; it is emitted as a
    // comma-joined string (one scalar per doc) because the gate harness hashes
    // scalar columns only — an array<bigint> column is unhashable driver-side.
    Tables.documents(s, dir)
      .select(col("doc_id"),
        Winnow.fp(regexp_replace(lower(trim(col("text"))), "\\s+", " "),
          WinnowK, WinnowW, WinnowM).as("fp"))
  }

  val text_winnow_sql: String = {
    val powArr = WinnowPows.mkString("[", ",", "]")
    s"""SELECT doc_id,
       |  array_to_string(list_transform(
       |  list_transform([regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')], t ->
       |    CASE WHEN length(t) < $WinnowK THEN
       |      [COALESCE(list_sum(list_transform(range(1, length(t) + 1), i -> ord(t[i]) * i)), 0) % $WinnowM]
       |    ELSE list_transform([list_transform(range(1, length(t) - ${WinnowK - 2}), i ->
       |        list_sum(list_transform(range(0, $WinnowK), j -> ord(t[i + j]) * ($powArr)[j + 1])) % $WinnowM)], g ->
       |      list_sort(list_distinct(
       |        list_transform(range(1, len(g) - ${WinnowW - 2}), i -> list_min(g[i:i + ${WinnowW - 1}])))))[1]
       |    END)[1], x -> CAST(x AS VARCHAR)), ',') AS fp
       |FROM documents""".stripMargin
  }

  /** BPE-ish regex tokenization: count lexeme classes without materializing
    * token arrays (regexp_count is a streaming scan per row). */
  def text_tokens_regex(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]")).as("n_lexemes"),
        regexp_count(col("text"), lit("[a-zA-Z]+")).as("n_alpha"),
        regexp_count(col("text"), lit("[0-9]+")).as("n_numeric"),
        regexp_count(col("text"), lit("[^a-zA-Z0-9\\s]")).as("n_punct"))
  }

  val text_tokens_regex_sql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT) AS n_lexemes,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS INT) AS n_alpha,
      |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_numeric,
      |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS INT) AS n_punct
      |FROM documents""".stripMargin

  /** Repetition profile: duplicate-token and dominant-token ratios — the
    * boilerplate/spam signals (a doc whose top token is 30% of its text is
    * a menu, a log, or SEO spam). Token frequencies come from an
    * explode + two-level hash aggregation: the (doc_id, tok) partial agg
    * combines map-side, so the shuffle carries at most one row per distinct
    * token per doc per input split — not the raw token stream — and scales
    * like the other narrow maps at 100 TB. */
  def text_repetition(s: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
    freq.groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tok"),
        count(lit(1)).as("n_uniq"),
        max(col("c")).as("top_hits"))
      .select(
        col("doc_id"),
        col("n_tok").cast("int").as("n_tokens"),
        col("n_uniq").cast("int").as("n_distinct_tokens"),
        col("top_hits").cast("int").as("top_token_hits"),
        ((col("n_tok") - col("n_uniq")) * 1000 / col("n_tok")).cast("long").as("dup_per_mille"),
        (col("top_hits") * 1000 / col("n_tok")).cast("long").as("top_token_per_mille"))
  }

  val text_repetition_sql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
      |freq AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(sum(c) AS INT) AS n_tokens,
      |  CAST(count(*) AS INT) AS n_distinct_tokens,
      |  CAST(max(c) AS INT) AS top_token_hits,
      |  CAST(((sum(c) - count(*)) * 1000) // sum(c) AS BIGINT) AS dup_per_mille,
      |  CAST((max(c) * 1000) // sum(c) AS BIGINT) AS top_token_per_mille
      |FROM freq GROUP BY 1""".stripMargin

  /** PII scrubbing: regex redaction of emails and phone numbers. The fixture
    * corpus is a synthetic word list with no digits, so deterministic PII is
    * injected first (derived from doc_id — same construction in the oracle),
    * then redacted; the gate compares the md5 of the scrubbed text, so a
    * missed or over-eager redaction anywhere in the document fails the
    * hash. Pure map, codegen'd regexes, no shuffle at any scale. */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  def text_pii_scrub(s: SparkSession, dir: String): DataFrame = {
    val injected = concat(trim(col("text")),
      lit(" reach user"), col("doc_id"), lit("@example.com or 555-"),
      lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val scrubbed = regexp_replace(regexp_replace(injected, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        regexp_count(injected, lit(EmailRe)).as("n_emails"),
        regexp_count(injected, lit(PhoneRe)).as("n_phones"),
        md5(scrubbed).as("fp_scrubbed"))
  }

  val text_pii_scrub_sql: String =
    """WITH inj AS (SELECT doc_id,
      |    trim(text) || ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-' ||
      |    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
      |  CAST(len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS INT) AS n_phones,
      |  md5(regexp_replace(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g')) AS fp_scrubbed
      |FROM inj""".stripMargin

  /** Corpus-level n-gram frequency — the vocabulary/boilerplate analysis
    * pass of a corpus build: explode each document's word BIGRAMS, count
    * globally, keep the top [[NgramTopK]] by (count DESC, bigram ASC — a
    * total deterministic order).
    *
    * Scale: explode → partial hash agg combines map-side, so the shuffle
    * carries one row per DISTINCT bigram per partition, not per occurrence;
    * the global top-K is `orderBy().limit()`, which Spark executes as
    * TakeOrderedAndProject — per-partition bounded heaps + a driver merge
    * of K×partitions rows, never a full sort. No per-key window, so there
    * is no skew surface at all. */
  private val NgramTopK = 50

  def text_ngram_top(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(tokens.as("toks")) // bind the split once per row
      // Guard docs with < 2 tokens: sequence(0, size-2) with size-2 == -1
      // yields the DESCENDING [0,-1] (not empty), whose transform emits two
      // NULL bigrams per short doc — a null group the oracle's range(1,1)=[]
      // never produces. The filter keeps both sides exactly "docs that have
      // at least one bigram".
      .filter(expr("size(toks) >= 2"))
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
        .as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(NgramTopK)
  }

  val text_ngram_top_sql: String =
    s"""SELECT bigram, count(*) AS n FROM (
       |  SELECT unnest(list_transform(
       |    range(1, len(string_split_regex(trim(text), '\\s+'))),
       |    i -> string_split_regex(trim(text), '\\s+')[i] || ' ' ||
       |         string_split_regex(trim(text), '\\s+')[i + 1])) AS bigram
       |  FROM documents)
       |GROUP BY 1 ORDER BY n DESC, bigram ASC LIMIT $NgramTopK""".stripMargin

  /** COLLOCATION mining via pointwise mutual information — the corpus-
    * statistics pass that finds multi-word expressions ("United States",
    * boilerplate phrases) worth atomizing before tokenizer training, and
    * the standard signal for template/boilerplate detection in web-corpus
    * curation. For every bigram seen at least [[PmiMinCount]] times, emit
    * its count, both marginal counts over the bigram population, and the
    * PMI association ratio `p(x,y)/(p(x)p(y)) = nxy·N/(nx·ny)`. The ratio
    * is emitted instead of its log: it orders identically, and one IEEE
    * multiply+divide over exact BIGINT-derived doubles is bit-deterministic
    * across engines, where a transcendental `ln` is libm-version dependent
    * (the same exactness discipline as the k-means/PQ gates).
    *
    * Scale: one scan explodes adjacent-pair bigrams; counts are map-side-
    * combined aggregations whose cardinality is the distinct-bigram count,
    * not the occurrence count. The reduced count table is materialized once
    * (eager localCheckpoint — the same single-pass barrier the graph-ANN
    * beam and the q38 bounds fix use; exchange reuse does NOT dedupe the
    * four consumer branches here, measured: 4 corpus scans without it), so
    * the corpus is exploded exactly once and the three marginal aggregates
    * read the vocabulary²-bounded counts. The rare-bigram filter runs
    * BEFORE the marginal joins, so the joins carry only frequent pairs
    * against vocabulary-sized sides — shuffle-joined on the word key at
    * cluster scale, with the single-row total broadcast. */
  private val PmiMinCount = 4

  def text_pmi_bigrams(s: SparkSession, dir: String): DataFrame = {
    val bc = Tables.documents(s, dir)
      .select(tokens.as("toks"))
      .filter(expr("size(toks) >= 2")) // see text_ngram_top's short-doc guard
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS x, toks[i + 1] AS y))"))
        .as("p"))
      .groupBy(col("p.x").as("x"), col("p.y").as("y"))
      .agg(count(lit(1)).as("nxy"))
      .localCheckpoint(true)
    val left = bc.groupBy(col("x")).agg(sum(col("nxy")).as("nx"))
    val right = bc.groupBy(col("y")).agg(sum(col("nxy")).as("ny"))
    val tot = bc.agg(sum(col("nxy")).as("nn"))
    bc.filter(col("nxy") >= PmiMinCount)
      .join(left, "x").join(right, "y")
      .crossJoin(broadcast(tot))
      .select(col("x"), col("y"), col("nxy"), col("nx"), col("ny"),
        ((col("nxy").cast("double") * col("nn").cast("double")) /
          (col("nx").cast("double") * col("ny").cast("double"))).as("pmi_ratio"))
  }

  val text_pmi_bigrams_sql: String =
    s"""WITH toks AS (SELECT string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |bi AS (SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS x,
       |    unnest(list_transform(range(1, len(toks)), i -> toks[i + 1])) AS y
       |  FROM toks WHERE len(toks) >= 2),
       |bc AS MATERIALIZED (SELECT x, y, count(*) AS nxy FROM bi GROUP BY 1, 2),
       |l AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM bc GROUP BY 1),
       |r AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM bc GROUP BY 1),
       |t AS (SELECT CAST(sum(nxy) AS BIGINT) AS nn FROM bc)
       |SELECT bc.x, bc.y, nxy, nx, ny,
       |  (CAST(nxy AS DOUBLE) * CAST(nn AS DOUBLE)) /
       |    (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)) AS pmi_ratio
       |FROM bc JOIN l USING (x) JOIN r USING (y) CROSS JOIN t
       |WHERE nxy >= $PmiMinCount""".stripMargin

  /** Two merge rounds of byte-pair-encoding tokenizer training — the kernel
    * an in-house BPE trainer runs hundreds of times over the corpus. Symbols
    * start as single lowercase letters ([a-z]+ words); round 1 counts every
    * adjacent symbol pair, the most frequent pair (count DESC, pair ASC
    * tiebreak) is merged corpus-wide into one symbol (marker `0`, a
    * character outside the alphabet so round-2 pairs remain 2-char strings),
    * and round 2 recounts over the re-segmented words. Output = both
    * rounds' top-[[BpeTopK]] pair tables.
    *
    * Merging uses `replace` (leftmost non-overlapping, identical in Spark
    * and DuckDB — "aaa" with winner "aa" becomes "0a" in both), and the
    * winning pair reaches round 2 as a broadcast single-row join, never a
    * driver collect, so the same plan runs unchanged on a cluster.
    *
    * Scale: each round is scan → explode pairs → map-side-combined count
    * (pair cardinality is bounded by the symbol alphabet squared, so the
    * shuffle carries at most a few hundred rows per partition) →
    * TakeOrderedAndProject. A full BPE vocabulary build is this plan in a
    * driver loop with the growing merge table broadcast each round. */
  private val BpeTopK = 10

  def text_bpe_pairs(s: SparkSession, dir: String): DataFrame = {
    // DISTINCT word forms weighted by multiplicity (round 16, guide §2.3):
    // pair counts are sums over word instances, so weighting each distinct
    // form by its count yields identical totals while the explode+aggregate
    // runs over the vocabulary, not the corpus word stream — the same
    // algebraic rewrite as [[text_bpe_train]]. Materialized once: both
    // rounds read it, and round 2's replace would otherwise re-derive it.
    val words = Tables.documents(s, dir)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    // adjacent symbol pairs of a word = its 2-char substrings (symbols are
    // single chars; sequence(1, n-1) is safe under the length>=2 filter)
    def pairsOf(name: String): Column =
      explode(expr(s"transform(sequence(1, length($name) - 1), i -> substr($name, i, 2))"))
    val round1 = words.select(pairsOf("w").as("pair"), col("c"))
      .groupBy(col("pair")).agg(sum(col("c")).as("n"))
    val top1 = round1.orderBy(col("n").desc, col("pair").asc).limit(1)
      .select(col("pair").as("winner"))
    val round2 = words.crossJoin(broadcast(top1))
      .select(expr("replace(w, winner, '0')").as("m"), col("c"))
      .filter(length(col("m")) >= 2)
      .select(pairsOf("m").as("pair"), col("c"))
      .groupBy(col("pair")).agg(sum(col("c")).as("n"))
    round1.orderBy(col("n").desc, col("pair").asc).limit(BpeTopK)
      .withColumn("round", lit(1))
      .union(
        round2.orderBy(col("n").desc, col("pair").asc).limit(BpeTopK)
          .withColumn("round", lit(2)))
      .select(col("round"), col("pair"), col("n"))
  }

  val text_bpe_pairs_sql: String =
    s"""WITH words AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents),
       |w2 AS (SELECT w FROM words WHERE length(w) >= 2),
       |round1 AS (
       |  SELECT pair, count(*) AS n FROM (
       |    SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair
       |    FROM w2)
       |  GROUP BY 1),
       |winner AS (SELECT pair AS win FROM round1 ORDER BY n DESC, pair ASC LIMIT 1),
       |round2 AS (
       |  SELECT pair, count(*) AS n FROM (
       |    SELECT unnest(list_transform(range(1, length(m)), i -> substr(m, i, 2))) AS pair
       |    FROM (SELECT replace(w, (SELECT win FROM winner), '0') AS m FROM w2)
       |    WHERE length(m) >= 2)
       |  GROUP BY 1)
       |SELECT * FROM (
       |  SELECT 1 AS round, pair, n FROM round1 ORDER BY n DESC, pair ASC LIMIT $BpeTopK)
       |UNION ALL
       |SELECT * FROM (
       |  SELECT 2 AS round, pair, n FROM round2 ORDER BY n DESC, pair ASC LIMIT $BpeTopK)""".stripMargin

  /** ENCODE with the trained BPE merges — the apply half of the
    * [[text_bpe_pairs]] train half: both rounds' winning pairs are derived
    * in-plan (broadcast single-row joins, never a collect) and applied to
    * every word of every document (round-1 merge → marker `0`, round-2
    * merge on the merged text → marker `1`, the exact trainer semantics),
    * reporting per-document symbol counts before/after. This is the
    * tokenizer-application pass a training pipeline runs over the full
    * corpus once the merge table is fixed: the apply step itself is a
    * narrow map (merge table broadcast; with a production-sized table, a
    * map over a broadcast array), so it scales as one corpus scan. */
  def text_bpe_encode(s: SparkSession, dir: String): DataFrame = {
    // the two training rounds run over distinct weighted word forms — the
    // [[text_bpe_train]] rewrite (identical totals, identical winners);
    // materialized once so round 2 reuses round 1's vocabulary
    val words = Tables.documents(s, dir)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    def pairsOf(name: String): Column =
      explode(expr(s"transform(sequence(1, length($name) - 1), i -> substr($name, i, 2))"))
    val top1 = words.select(pairsOf("w").as("pair"), col("c"))
      .groupBy(col("pair")).agg(sum(col("c")).as("n"))
      .orderBy(col("n").desc, col("pair").asc).limit(1)
      .select(col("pair").as("win1"))
    val top2 = words.crossJoin(broadcast(top1))
      .select(expr("replace(w, win1, '0')").as("m"), col("c"))
      .filter(length(col("m")) >= 2)
      .select(pairsOf("m").as("pair"), col("c"))
      .groupBy(col("pair")).agg(sum(col("c")).as("n"))
      .orderBy(col("n").desc, col("pair").asc).limit(1)
      .select(col("pair").as("win2"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws"))
      .crossJoin(broadcast(top1)).crossJoin(broadcast(top2))
      .select(col("doc_id"),
        size(col("ws")).as("n_words"),
        expr("aggregate(transform(ws, w -> length(w)), 0, (a, x) -> a + x)")
          .as("sym_before"),
        expr("aggregate(transform(ws, w -> length(replace(replace(w, win1, '0'), win2, '1'))), 0, (a, x) -> a + x)")
          .as("sym_after"))
  }

  val text_bpe_encode_sql: String =
    """WITH words AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents),
      |w2 AS (SELECT w FROM words WHERE length(w) >= 2),
      |round1 AS (
      |  SELECT pair, count(*) AS n FROM (
      |    SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair
      |    FROM w2)
      |  GROUP BY 1),
      |winner1 AS (SELECT pair AS win1 FROM round1 ORDER BY n DESC, pair ASC LIMIT 1),
      |round2 AS (
      |  SELECT pair, count(*) AS n FROM (
      |    SELECT unnest(list_transform(range(1, length(m)), i -> substr(m, i, 2))) AS pair
      |    FROM (SELECT replace(w, (SELECT win1 FROM winner1), '0') AS m FROM w2)
      |    WHERE length(m) >= 2)
      |  GROUP BY 1),
      |winner2 AS (SELECT pair AS win2 FROM round2 ORDER BY n DESC, pair ASC LIMIT 1),
      |d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws, win1, win2
      |      FROM documents, winner1, winner2)
      |SELECT doc_id,
      |  CAST(len(ws) AS INT) AS n_words,
      |  CAST(COALESCE(list_sum(list_transform(ws, w -> length(w))), 0) AS INT) AS sym_before,
      |  CAST(COALESCE(list_sum(list_transform(ws, w ->
      |    length(replace(replace(w, win1, '0'), win2, '1')))), 0) AS INT) AS sym_after
      |FROM d""".stripMargin

  /** FULL multi-round BPE tokenizer TRAINING — the production shape of the
    * [[text_bpe_pairs]] two-round kernel: [[BpeTrainRounds]] merge rounds
    * under a driver control loop. Each round counts adjacent symbol pairs
    * over the CURRENT segmentation, picks the winner (count DESC, pair ASC
    * — a total deterministic order), merges it corpus-wide into a one-char
    * marker (digits '0'..'7', outside the [a-z] alphabet so later pairs
    * stay 2-char strings), and re-materializes the segmented words with
    * `localCheckpoint` — per-round LINEAGE TRUNCATION, the
    * [[graft.operators.Dedup.dedup_clusters]] Pregel pattern, so round N's
    * plan never re-derives rounds 1..N-1. Output = each round's winning
    * pair and its count (the merge table a tokenizer ships).
    *
    * The winner crosses rounds as a 1-row driver collect embedded as a
    * literal — the k-means-centroid pattern: bounded by the round count,
    * never by data. Scale per round: one scan of the materialized words
    * (cluster-resident), explode → map-side-combined pair count (pair
    * cardinality bounded by the symbol alphabet squared — a few hundred
    * rows per partition in the shuffle), TakeOrdered(1), then a narrow
    * `replace` map. A 50k-merge production vocabulary is this loop with a
    * growing broadcast merge table; rounds are inherently sequential in
    * any BPE trainer. Winner elimination (leftmost non-overlapping
    * `replace` leaves NO occurrence of the merged pair, so a winner can
    * never win twice) is pinned against a from-scratch Scala recomputation
    * in `CorpusOpsSuite`. */
  private[graft] val BpeTrainRounds = 8

  def text_bpe_train(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def pairsOf(name: String): Column =
      explode(expr(s"transform(sequence(1, length($name) - 1), i -> substr($name, i, 2))"))
    // Train over DISTINCT word forms weighted by multiplicity (round 16,
    // guide §2.3 — shuffle/aggregate fewer rows): pair counts are sums over
    // word instances, so counting `(distinct form, count)` and weighting by
    // the count is algebraically identical — same per-round totals, same
    // winners under the same (n DESC, pair ASC) order, bit-identical merge
    // table — while every round's explode+aggregate runs over the distinct
    // vocabulary (bounded by it, shrinking as merges collapse forms) instead
    // of the full corpus word stream. Replaced forms that collide are NOT
    // re-consolidated: the weighted sum is already exact, and the row count
    // only shrinks.
    var words = Tables.documents(s, dir)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, Long)]
    (1 to BpeTrainRounds).foreach { r =>
      val top = words.select(pairsOf("w").as("pair"), col("c"))
        .groupBy(col("pair")).agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("pair").asc).limit(1)
        .collect()
      require(top.nonEmpty, s"BPE round $r: no pairs left to merge")
      merges += ((r, top(0).getString(0), top(0).getLong(1)))
      if (r < BpeTrainRounds) {
        // marker for round r's merge: '0' for round 1, ... '6' for round 7
        val marker = ('0' + (r - 1)).toChar
        words = words
          .select(expr(s"replace(w, '${top(0).getString(0)}', '$marker')").as("w"), col("c"))
          .filter(length(col("w")) >= 2)
          .localCheckpoint()
      }
    }
    merges.result().toDF("round", "winner", "n")
  }

  /** The unrolled training rounds as MATERIALIZED CTEs (DuckDB would
    * otherwise re-inline each round's corpus once per reference — the
    * round-7–9 gate-starvation failure mode), shared by the train oracle
    * and the persisted-tokenizer encode oracle. Yields `win1..winN`. */
  private val bpeTrainCtes: String = {
    val rounds = (1 to BpeTrainRounds).map { r =>
      val pairs =
        s"""p$r AS (SELECT pair, count(*) AS n FROM (
           |  SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair
           |  FROM w${r - 1}) GROUP BY 1)""".stripMargin
      val win = s"win$r AS MATERIALIZED (SELECT pair, n FROM p$r ORDER BY n DESC, pair ASC LIMIT 1)"
      val next =
        if (r < BpeTrainRounds)
          s""",
             |w$r AS MATERIALIZED (SELECT m AS w FROM (
             |  SELECT replace(w, (SELECT pair FROM win$r), '${('0' + (r - 1)).toChar}') AS m
             |  FROM w${r - 1}) WHERE length(m) >= 2)""".stripMargin
        else ""
      s"$pairs,\n$win$next"
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT w FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
       |  WHERE length(w) >= 2),
       |$rounds""".stripMargin
  }

  val text_bpe_train_sql: String =
    s"""WITH $bpeTrainCtes
       |${(1 to BpeTrainRounds)
        .map(r => s"SELECT $r AS round, pair AS winner, n FROM win$r")
        .mkString("\nUNION ALL\n")}""".stripMargin

  /** TRAIN-ONCE, SHIP-AS-DATA tokenizer — the [[text_bpe_train]] merge
    * table written to parquet ONCE per corpus (HuggingFace's `merges.txt`
    * artifact re-expressed as a lake table, the tokenizer twin of
    * [[graft.operators.Similarity.sim_index_persist]]'s ANN index), then
    * the whole corpus ENCODED against the LOADED table with ZERO trainer
    * stages in the encode plan. The merge chain is applied IN-PLAN: the
    * loaded table collapses to a single round-ordered array (an 8-row — at
    * production scale 50k-row — aggregate, broadcast to every task) and
    * each word folds through it with `aggregate(ms, w, replace(...))` —
    * the marker alphabet is the trainer's own ('0' + round - 1), so the
    * encoding is byte-identical to what the trainer's final segmentation
    * would produce. Output per document: word count and symbol counts
    * before/after, i.e. the corpus-compression audit a tokenizer rollout
    * ships.
    *
    * Plan shape (pinned in `PlanShapeSuite`): one corpus scan + one scan
    * of the merges layout, no pair-count aggregates, no trainer
    * checkpoints — training cost is paid once at write time, exactly like
    * a production vocabulary. Deterministic training (total order on
    * winners) makes the persisted table — and therefore the loaded
    * encode — reproducible, so the oracle retrains in SQL and applies the
    * same fold. */
  private val bpeMergesDirMemo = new graft.Memo[String]

  /** Write the merge table at `p` unless already complete there — the
    * cross-JVM train-once path, published atomically (see
    * `Similarity.publishLayout`). */
  private[graft] def ensureBpeMerges(s: SparkSession, dir: String, p: String): String =
    Similarity.publishLayout(s, p, "merges/_SUCCESS") { tmp =>
      text_bpe_train(s, dir).write.mode("overwrite").parquet(s"$tmp/merges")
    }

  /** The persisted merge-table layout's root path: trained and written on
    * first call per (root, fixture dir), reused after — and across JVMs
    * when `spark.graft.index.root` points at a durable URI (the layout
    * lands under `<root>/bpe-merges-<corpus>`); unset, a session-lifetime
    * staging dir stands in. */
  private[graft] def persistedBpeMerges(s: SparkSession, dir: String): String = {
    val root = s.conf.getOption(Similarity.IndexRootConf).map(_.trim).filter(_.nonEmpty)
    bpeMergesDirMemo.getOrStage(root.getOrElse("<staging>") + "|" + dir) {
      val p = root match {
        case Some(r) => s"$r/bpe-merges-${Similarity.corpusSlug(dir)}"
        case None => graft.Staging.tempDir("graft-bpe-merges-").toString
      }
      ensureBpeMerges(s, dir, p)
    }
  }

  def text_bpe_persist(s: SparkSession, dir: String): DataFrame = {
    val idx = persistedBpeMerges(s, dir)
    val merges = s.read.parquet(s"$idx/merges")
      .agg(array_sort(collect_list(struct(col("round"), col("winner")))).as("ms"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws"))
      .crossJoin(broadcast(merges))
      .select(col("doc_id"),
        size(col("ws")).as("n_words"),
        expr("aggregate(transform(ws, w -> length(w)), 0, (a, x) -> a + x)")
          .as("sym_before"),
        expr("aggregate(transform(ws, w -> length(" +
          "aggregate(ms, w, (acc, m) -> replace(acc, m.winner, chr(47 + m.round))))), " +
          "0, (a, x) -> a + x)").as("sym_after"))
  }

  /** Oracle: retrain via the shared unrolled CTEs, then apply the same
    * 8-merge fold per word (winners cross-joined in as columns — one row). */
  val text_bpe_persist_sql: String = {
    val winCols = (1 to BpeTrainRounds)
      .map(r => s"(SELECT pair FROM win$r) AS m$r").mkString(", ")
    val applied = (1 to BpeTrainRounds).foldLeft("w") { (acc, r) =>
      s"replace($acc, m$r, '${('0' + (r - 1)).toChar}')"
    }
    s"""WITH $bpeTrainCtes,
       |wins AS (SELECT $winCols),
       |d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws, wins.*
       |      FROM documents, wins)
       |SELECT doc_id,
       |  CAST(len(ws) AS INT) AS n_words,
       |  CAST(COALESCE(list_sum(list_transform(ws, w -> length(w))), 0) AS INT) AS sym_before,
       |  CAST(COALESCE(list_sum(list_transform(ws, w -> length($applied))), 0) AS INT) AS sym_after
       |FROM d""".stripMargin
  }

  /** Per-document top-3 TF-IDF-style terms: term frequency weighted by
    * inverse document frequency, with INTEGER arithmetic (score =
    * tf·10^6 div df) instead of a float log — exact, order-independent, and
    * bit-identical in any engine, while ranking monotonically in tf/df just
    * like the classic score for fixed N.
    *
    * Plan: explode → (doc,term) map-side-combined count → df aggregate over
    * the tf table (vocabulary-sized — AQE broadcasts it at runtime since the
    * aggregate output is tiny relative to the postings side) → per-doc
    * row_number window. The window partitions on doc_id, a
    * maximal-cardinality key bounded by one document's distinct terms, and
    * WindowGroupLimit keeps only the running top-3 per partition — no skew
    * surface, no global sort, work linear in total tokens at 100 TB. */
  def text_tfidf_top(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(s, dir).select(col("doc_id"), explode(tokens).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // count(CASE WHEN tf > 0 THEN 1 END), not count(*): the df branch must
    // CONSUME the tf column so its child subtree stays IDENTICAL to the
    // join's probe side — with count(*) (or even count(tf), which the
    // not-null rewrite turns into count(*) during AQE re-optimization)
    // column pruning specializes the branch to a distinct-aggregate, and
    // the exchange reuse that makes this a ONE-scan plan (the corpus is
    // exploded once, not twice; suite-asserted in PlanShapeSuite) only
    // fires on identical subtrees. tf >= 1 always, so the count is exact.
    val df = tf.groupBy(col("term"))
      .agg(count(when(col("tf") > 0, 1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term")
      .withColumn("score", expr("tf * 1000000 div df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"), col("rank"))
  }

  val text_tfidf_top_sql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT doc_id, term, tf, df, (tf * 1000000) // df AS score,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY (tf * 1000000) // df DESC, term ASC) AS rank
      |  FROM tf JOIN df USING (term))
      |SELECT doc_id, term, tf, df, score, CAST(rank AS INT) AS rank
      |FROM sc WHERE rank <= 3""".stripMargin

  /** Frequent-bigram coverage — the "LM-lite" fluency filter: what fraction
    * of a document's bigrams are corpus-frequent? Gibberish and boilerplate
    * both stand out (high OOV rate vs near-zero), without training a
    * language model. The vocabulary is the top-[[OovVocabK]] corpus bigrams
    * (count DESC, bigram ASC — deterministic through ties); rates are
    * integer per-mille.
    *
    * Scale: one bigram explode feeds both the vocabulary aggregate and the
    * per-doc join; the vocabulary is a bounded top-K
    * (TakeOrderedAndProject, then broadcast — it is K rows at any corpus
    * size), so the per-doc side never shuffles on the bigram. */
  private val OovVocabK = 200

  def text_oov_rate(s: SparkSession, dir: String): DataFrame = {
    val bi = Tables.documents(s, dir)
      .select(col("doc_id"), tokens.as("toks"))
      .filter(expr("size(toks) >= 2"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
        .as("bigram"))
    val vocab = bi.groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc).limit(OovVocabK)
      .select(col("bigram"), lit(1).as("hit"))
    bi.join(broadcast(vocab), Seq("bigram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("hit"), lit(0))).as("n_in_vocab"))
      .withColumn("oov_per_mille",
        expr("(n_bigrams - n_in_vocab) * 1000 div n_bigrams"))
  }

  val text_oov_rate_sql: String =
    s"""WITH bi AS (SELECT doc_id, unnest(list_transform(
       |    range(1, len(string_split_regex(trim(text), '\\s+'))),
       |    i -> string_split_regex(trim(text), '\\s+')[i] || ' ' ||
       |         string_split_regex(trim(text), '\\s+')[i + 1])) AS bigram
       |  FROM documents),
       |vocab AS (SELECT bigram FROM (
       |  SELECT bigram, count(*) AS n FROM bi GROUP BY 1
       |  ORDER BY n DESC, bigram ASC LIMIT $OovVocabK))
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum(CASE WHEN v.bigram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_in_vocab,
       |  CAST(((count(*) - sum(CASE WHEN v.bigram IS NOT NULL THEN 1 ELSE 0 END)) * 1000)
       |    // count(*) AS BIGINT) AS oov_per_mille
       |FROM bi LEFT JOIN vocab v USING (bigram)
       |GROUP BY doc_id""".stripMargin

  /** Bigram language-model fluency score — the CCNet/KenLM-style "does this
    * read like the corpus?" filter, as a self-trained bigram MLE instead of
    * an external LM (no model files exist in a hermetic build; the plan
    * shape is identical to scoring against a pre-trained table). Each
    * document's score is the average conditional bigram probability
    * `p(w2|w1) = c(w1 w2) / c(w1 ·)` over its adjacent token pairs, in
    * integer per-mille (`pm = c2·1000 div c1` per bigram TYPE, then the
    * occurrence-weighted mean `Σ m·pm div Σ m`) — no floats, no logs, so
    * both engines agree bit-for-bit. Documents at or above the corpus-median
    * constant [[LmFluentPm]] class as `fluent`, below as `unusual` — the
    * low tail is exactly what a perplexity filter drops.
    *
    * Scale: one bigram explode → per-doc (w1,w2) counts (map-side combined,
    * key = (doc_id, bigram) so no skew); bigram-type counts and context
    * counts are two further map-side-combined aggregates over successively
    * SMALLER relations (types ≤ vocab², contexts ≤ vocab); the type-score
    * join shuffles on (w1, w2) — uniform by construction (Catalyst
    * broadcasts the type table while it fits, degrades to a shuffle join
    * past that); the final per-doc mean shuffles on doc_id once. Every
    * relation is bounded by corpus tokens — nothing is all-pairs. */
  private[operators] val LmFluentPm = 34L

  def text_lm_score(s: SparkSession, dir: String): DataFrame = {
    val dm = Tables.documents(s, dir)
      .select(col("doc_id"), tokens.as("toks"))
      .filter(expr("size(toks) >= 2"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"))
        .as("b"))
      .groupBy(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("m"))
      // explicit no-op not-null filter (split yields no nulls): the scoring
      // join infers isnotnull(w1)/isnotnull(w2) on its probe side, and the
      // Window below blocks the w2 half from reaching the type branch — the
      // two dm subtrees then stop canonicalizing equal and the corpus scans
      // twice. Declaring the filter HERE puts it identically in both.
      .filter(col("w1").isNotNull && col("w2").isNotNull)
    // sum(CASE WHEN doc_id IS NOT NULL THEN m END), not sum(m): the type
    // branch must CONSUME doc_id so its dm subtree stays IDENTICAL to the
    // scoring join's probe side — otherwise column pruning specializes the
    // branch and the exchange reuse that makes this a ONE-scan plan
    // (asserted in PlanShapeSuite) never fires. doc_id is never null, so
    // the sum is exact. The context total c1 is a WINDOW sum over the c2
    // type table (vocab²-bounded — the window sort is tiny), not a second
    // aggregate of dm: a separate c1 branch duplicates the dm subtree and
    // the duplicate does not reliably re-use the exchange, re-scanning the
    // corpus.
    val c2 = dm.groupBy(col("w1"), col("w2"))
      .agg(sum(when(col("doc_id").isNotNull, col("m"))).as("c2"))
    val ty = c2
      .withColumn("c1", sum(col("c2")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))))
      .withColumn("pm", expr("c2 * 1000 div c1"))
    dm.join(ty, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        expr("sum(m * pm) div sum(m)").as("lm_milli"))
      .withColumn("lm_class",
        when(col("lm_milli") >= LmFluentPm, "fluent").otherwise("unusual"))
  }

  val text_lm_score_sql: String =
    s"""WITH bi AS (SELECT doc_id,
       |    string_split_regex(trim(text), '\\s+')[i] AS w1,
       |    string_split_regex(trim(text), '\\s+')[i + 1] AS w2
       |  FROM documents, LATERAL (SELECT unnest(range(1,
       |    len(string_split_regex(trim(text), '\\s+')))) AS i) u
       |  WHERE len(string_split_regex(trim(text), '\\s+')) >= 2),
       |dm AS (SELECT doc_id, w1, w2, count(*) AS m FROM bi GROUP BY 1, 2, 3),
       |c2 AS (SELECT w1, w2, sum(m) AS c2 FROM dm GROUP BY 1, 2),
       |ty AS (SELECT w1, w2,
       |  (c2 * 1000) // sum(c2) OVER (PARTITION BY w1) AS pm FROM c2)
       |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
       |  CAST(sum(m * pm) // sum(m) AS BIGINT) AS lm_milli,
       |  CASE WHEN sum(m * pm) // sum(m) >= $LmFluentPm THEN 'fluent'
       |       ELSE 'unusual' END AS lm_class
       |FROM dm JOIN ty USING (w1, w2) GROUP BY doc_id""".stripMargin

  /** Count-Min Sketch term counting (Cormode & Muthukrishnan, 2005): the
    * bounded-memory streaming-sketch answer to "how often does each term
    * occur?" when the vocabulary is too large to count exactly. The sketch
    * is [[CmsDepth]] hash rows × [[CmsWidth]] counters — CONSTANT size at
    * any corpus scale (that is the point); estimate = min over rows of the
    * hashed counter, which can only overestimate (collisions add, never
    * subtract). The gate builds the sketch distributed, then audits it
    * against exact counts on the exact top-20 terms: `overestimate_n =
    * est_n - exact_n >= 0` always, and is small while the width exceeds
    * the heavy-hitter count. All md5-derived hashing, mirrored by the
    * oracle bit-for-bit.
    *
    * Scale: the build is one explode → hash agg on (row, bucket) —
    * [[CmsDepth]]·[[CmsWidth]] result rows regardless of corpus size, with
    * map-side combine doing almost all the work; the audit side's exact
    * top-K is a map-side-combined count + bounded TakeOrdered, and the
    * counter lookup joins K·depth probe rows against the constant-size
    * sketch (broadcast). Nothing large ever shuffles twice. */
  // Width 16 is deliberately UNDER the fixture's ~31-term vocabulary so
  // collisions actually occur and the min-over-rows estimator is exercised
  // (at width >= vocab the sketch degenerates to exact and the gate would
  // prove nothing); production sizing is w = e/eps, d = ln(1/delta).
  private val CmsDepth = 4
  private val CmsWidth = 16L
  private val CmsTopK = 20

  /** One row per (occurrence, sketch row): bucket = h60(salted `src`) % W —
    * an array of [[CmsDepth]] bucket ids, posexploded by callers. Shared
    * with the streaming sketch build ([[graft.streaming.StreamingQueries]]
    * `stream_cms`), which must hash identically to land on the same
    * counters. */
  private[graft] def cmsBuckets(src: String): String =
    s"transform(sequence(0, ${CmsDepth - 1}), j -> " +
    s"CAST(conv(substring(md5(concat('cms', j, ':', $src)), 1, 15), 16, 10) AS BIGINT) % $CmsWidth)"

  /** Audit a built counter table (columns j, b, c) against exact counts of
    * the exact top-[[CmsTopK]] terms — shared by the batch and streaming
    * sketch builds, so both gates prove the same estimator contract. */
  private[graft] def cmsAudit(s: SparkSession, dir: String, cms: DataFrame): DataFrame = {
    val tok = Tables.documents(s, dir).select(explode(tokens).as("t"))
    val exact = tok.groupBy(col("t")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("t").asc).limit(CmsTopK)
    exact.select(col("t"), col("exact_n"), posexplode(expr(cmsBuckets("t"))).as(Seq("j", "b")))
      .join(broadcast(cms), Seq("j", "b"))
      .groupBy(col("t"), col("exact_n"))
      .agg(min(col("c")).as("est_n"))
      .withColumn("overestimate_n", col("est_n") - col("exact_n"))
  }

  def text_cms_counts(s: SparkSession, dir: String): DataFrame = {
    // The audit gate needs exact per-term counts anyway, so the sketch is
    // derived FROM the term-count aggregate (counter = Σ of counts of the
    // terms hashing there — identical totals to occurrence-level hashing):
    // both consumers then share the one term-count exchange and the corpus
    // scans ONCE (asserted in PlanShapeSuite). The pure production sketch
    // path — when the vocabulary is too big to count exactly, so no audit —
    // aggregates occurrences straight to (j, b) as [[graft.streaming
    // .StreamingQueries]] `stream_cms` does.
    val tc = Tables.documents(s, dir).select(explode(tokens).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("exact_n"))
    val cms = tc.select(col("exact_n"), posexplode(expr(cmsBuckets("t"))).as(Seq("j", "b")))
      .groupBy(col("j"), col("b")).agg(sum(col("exact_n")).as("c"))
    val exact = tc.orderBy(col("exact_n").desc, col("t").asc).limit(CmsTopK)
    exact.select(col("t"), col("exact_n"), posexplode(expr(cmsBuckets("t"))).as(Seq("j", "b")))
      .join(broadcast(cms), Seq("j", "b"))
      .groupBy(col("t"), col("exact_n"))
      .agg(min(col("c")).as("est_n"))
      .withColumn("overestimate_n", col("est_n") - col("exact_n"))
  }

  val text_cms_counts_sql: String =
    s"""WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS t
       |  FROM documents),
       |occ AS (SELECT t, j,
       |    CAST(('0x' || substr(md5('cms' || j || ':' || t), 1, 15)) AS BIGINT)
       |      % $CmsWidth AS b
       |  FROM tok, LATERAL (SELECT unnest(range(0, $CmsDepth)) AS j) u),
       |cms AS (SELECT j, b, count(*) AS c FROM occ GROUP BY 1, 2),
       |exact AS (SELECT t, count(*) AS exact_n FROM tok GROUP BY 1
       |  ORDER BY exact_n DESC, t ASC LIMIT $CmsTopK),
       |probe AS (SELECT e.t, e.exact_n, j,
       |    CAST(('0x' || substr(md5('cms' || j || ':' || e.t), 1, 15)) AS BIGINT)
       |      % $CmsWidth AS b
       |  FROM exact e, LATERAL (SELECT unnest(range(0, $CmsDepth)) AS j) u)
       |SELECT t, exact_n, CAST(min(c) AS BIGINT) AS est_n,
       |  CAST(min(c) - exact_n AS BIGINT) AS overestimate_n
       |FROM probe JOIN cms USING (j, b)
       |GROUP BY t, exact_n""".stripMargin

  /** KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.,
    * RANDOM 2002; unbiased estimator per Beyer et al., SIGMOD 2007): per
    * language, the [[KmvK]] smallest distinct 60-bit shingle hashes — kept
    * by the native bounded [[graft.functions.KMinDistinct]] aggregate —
    * give `D ≈ (k-1) · 2^60 / h_(k)` where `h_(k)` is the kth-smallest
    * hash. The gate emits the estimate NEXT TO the exact distinct count
    * (the audit column, same discipline as the CMS gate), so the artifact
    * itself shows the ~1/√k relative error envelope.
    *
    * Cross-engine exactness: the estimate is ONE IEEE double division of
    * two exactly-representable operands — `(k-1)·2^60` (6-bit mantissa,
    * exact) and the long→double rounding of `h_(k)` (identical
    * round-to-nearest in JVM and C++) — then a floor to BIGINT; no
    * summation order anywhere, so Spark and DuckDB agree bit-for-bit.
    *
    * Scale: the sketch is a ≤k-long array per (group × partition) with
    * map-side combine — one narrow pass at any corpus size, the raw
    * shingle stream never shuffles. The exact column is the fixture-scale
    * audit; at 100 TB you drop it and keep the sketch (that is the point).
    */
  private[graft] val KmvK = 64
  private[graft] val KmvNum = s"CAST(${KmvK - 1} AS DOUBLE) * 1152921504606846976" // (k-1)·2^60, exact

  /** `(lang, text)` → `(lang, hv)` 60-bit shingle hashes — shared by the
    * batch sketch and the streaming incremental build
    * ([[graft.streaming.StreamingQueries]] `stream_kmv`), which must hash
    * identically for incremental ≡ batch to hold. */
  private[graft] def kmvHashes(docs: DataFrame): DataFrame = docs
    .select(col("lang"), explode(graft.functions.WordShingles.of(col("text"), 3)).as("s0"))
    .select(col("lang"), expr(Dedup.h60S("s0", "")).as("hv"))

  /** Estimate columns off a sketch column `sk` — shared with `stream_kmv`. */
  private[graft] def kmvEstimateCols: Seq[Column] = Seq(
    size(col("sk")).as("n_kept"),
    when(size(col("sk")) === KmvK, element_at(col("sk"), KmvK)).as("kth_hash"),
    when(size(col("sk")) < KmvK, size(col("sk")).cast("long"))
      .otherwise(floor(expr(KmvNum) / element_at(col("sk"), KmvK).cast("double"))
        .cast("long")).as("est_distinct"))

  def text_kmv_distinct(s: SparkSession, dir: String): DataFrame = {
    val posts = kmvHashes(Tables.documents(s, dir))
    posts.groupBy(col("lang"))
      .agg(graft.functions.KMinDistinct.of(col("hv"), KmvK).as("sk"),
        countDistinct(col("hv")).as("exact_distinct"))
      .select(col("lang") +: kmvEstimateCols :+ col("exact_distinct"): _*)
  }

  val text_kmv_distinct_sql: String =
    s"""WITH tok AS (SELECT doc_id, lang, trim(text) tx,
       |    string_split_regex(trim(text), '\\s+') toks FROM documents),
       |sh AS (SELECT lang, unnest(${Dedup.shinglesD}) AS s0 FROM tok),
       |h AS (SELECT DISTINCT lang,
       |    CAST(('0x' || substr(md5(s0), 1, 15)) AS BIGINT) AS hv FROM sh),
       |r AS (SELECT lang, hv,
       |    row_number() OVER (PARTITION BY lang ORDER BY hv ASC) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS nd FROM h)
       |SELECT lang, CAST(count(*) FILTER (WHERE rn <= $KmvK) AS INT) AS n_kept,
       |  max(CASE WHEN rn = $KmvK THEN hv END) AS kth_hash,
       |  CAST(CASE WHEN max(nd) < $KmvK THEN max(nd)
       |    ELSE floor($KmvNum / CAST(max(CASE WHEN rn = $KmvK THEN hv END) AS DOUBLE))
       |  END AS BIGINT) AS est_distinct,
       |  CAST(max(nd) AS BIGINT) AS exact_distinct
       |FROM r GROUP BY lang""".stripMargin

  /** KMV set algebra — cross-source overlap profiling, the question a
    * corpus curator actually asks ("how much does crawl A overlap crawl
    * B?") at sketch cost: for every source pair, the union sketch is the
    * [[KmvK]] smallest of the two sketches merged (EXACT — KMV is closed
    * under union, the property HLL shares but Bloom/CMS lack), and the
    * intersection estimate is the Beyer-et-al inclusion fraction
    * `ρ/k · D_∪` where ρ counts union-sketch members present in BOTH input
    * sketches. All integer array algebra on ≤k-long arrays plus the same
    * single-division estimator as [[text_kmv_distinct]]; the exact
    * intersection rides along as the fixture-scale audit column.
    *
    * Scale: 20 sources → 20 sketches of 64 longs — the pair matrix is
    * sketch-side-only (190 rows of bounded arrays), NEVER a corpus-side
    * pair join; at 1000 sources over 100 TB the sketch table is still KB. */
  def text_kmv_intersect(s: SparkSession, dir: String): DataFrame = {
    val posts = Tables.documents(s, dir)
      .select(col("source"), explode(graft.functions.WordShingles.of(col("text"), 3)).as("s0"))
      .select(col("source"), expr(Dedup.h60S("s0", "")).as("hv"))
    val sk = posts.groupBy(col("source"))
      .agg(graft.functions.KMinDistinct.of(col("hv"), KmvK).as("ksk"))
    val pairs = sk.select(col("source").as("src_a"), col("ksk").as("ka"))
      .join(sk.select(col("source").as("src_b"), col("ksk").as("kb")),
        col("src_a") < col("src_b"))
      .withColumn("ku", slice(array_sort(array_union(col("ka"), col("kb"))), 1, KmvK))
      .withColumn("n_common_k",
        size(array_intersect(col("ku"), array_intersect(col("ka"), col("kb")))))
      .withColumn("est_union",
        when(size(col("ku")) < KmvK, size(col("ku")).cast("long"))
          .otherwise(floor(expr(KmvNum) / element_at(col("ku"), KmvK).cast("double"))
            .cast("long")))
      .withColumn("est_inter", expr(s"(n_common_k * est_union) div $KmvK"))
    val exact = posts.select(col("source"), col("hv")).distinct()
    val ex = exact.toDF("sa", "hva")
      .join(exact.toDF("sb", "hvb"), col("hva") === col("hvb") && col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("exact_inter"))
    pairs.join(ex, col("src_a") === col("sa") && col("src_b") === col("sb"), "left")
      .select(col("src_a"), col("src_b"), col("n_common_k"),
        col("est_union"), col("est_inter"),
        coalesce(col("exact_inter"), lit(0L)).as("exact_inter"))
  }

  val text_kmv_intersect_sql: String =
    s"""WITH tok AS (SELECT doc_id, source, trim(text) tx,
       |    string_split_regex(trim(text), '\\s+') toks FROM documents),
       |sh AS (SELECT source, unnest(${Dedup.shinglesD}) AS s0 FROM tok),
       |h AS (SELECT DISTINCT source,
       |    CAST(('0x' || substr(md5(s0), 1, 15)) AS BIGINT) AS hv FROM sh),
       |r AS (SELECT source, hv,
       |    row_number() OVER (PARTITION BY source ORDER BY hv ASC) AS rn FROM h),
       |sk AS MATERIALIZED (SELECT source, list(hv ORDER BY hv) AS ksk
       |      FROM r WHERE rn <= $KmvK GROUP BY source),
       |pr AS (SELECT a.source src_a, b.source src_b, a.ksk ka, b.ksk kb,
       |         list_sort(list_distinct(a.ksk || b.ksk))[1:$KmvK] AS ku
       |       FROM sk a JOIN sk b ON a.source < b.source),
       |est AS (SELECT src_a, src_b,
       |    len(list_filter(ku, x -> list_contains(ka, x) AND list_contains(kb, x))) AS rho,
       |    CASE WHEN len(ku) < $KmvK THEN len(ku)
       |      ELSE CAST(floor($KmvNum / CAST(ku[$KmvK] AS DOUBLE)) AS BIGINT)
       |    END AS est_union
       |  FROM pr),
       |ex AS (SELECT a.source sa, b.source sb, count(*) AS n
       |       FROM h a JOIN h b ON a.hv = b.hv AND a.source < b.source
       |       GROUP BY 1, 2)
       |SELECT src_a, src_b, CAST(rho AS INT) AS n_common_k,
       |  CAST(est_union AS BIGINT) AS est_union,
       |  CAST((rho * est_union) // $KmvK AS BIGINT) AS est_inter,
       |  CAST(coalesce(n, 0) AS BIGINT) AS exact_inter
       |FROM est LEFT JOIN ex ON src_a = sa AND src_b = sb""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_kmv_distinct" -> text_kmv_distinct _,
    "text_kmv_intersect" -> text_kmv_intersect _,
    "text_cms_counts" -> text_cms_counts _,
    "text_lm_score" -> text_lm_score _,
    "text_oov_rate" -> text_oov_rate _,
    "text_bpe_encode" -> text_bpe_encode _,
    "text_bpe_train" -> text_bpe_train _,
    "text_bpe_persist" -> text_bpe_persist _,
    "text_tfidf_top" -> text_tfidf_top _,
    "text_bpe_pairs" -> text_bpe_pairs _,
    "text_ngram_top" -> text_ngram_top _,
    "text_pmi_bigrams" -> text_pmi_bigrams _,
    "text_pii_scrub" -> text_pii_scrub _,
    "text_repetition" -> text_repetition _,
    "text_stats" -> text_stats _,
    "text_fertility" -> text_fertility _,
    "text_heavy_hitters" -> text_heavy_hitters _,
    "text_quality" -> text_quality _,
    "text_gopher" -> text_gopher _,
    "text_readability" -> text_readability _,
    "text_langid_ngram" -> text_langid_ngram _,
    "text_novelty" -> text_novelty _,
    "text_langid" -> text_langid _,
    "text_fingerprint" -> text_fingerprint _,
    "text_winnow" -> text_winnow _,
    "text_tokens_regex" -> text_tokens_regex _,
  )

  val oracles: Map[String, String] = Map(
    "text_kmv_distinct" -> text_kmv_distinct_sql,
    "text_kmv_intersect" -> text_kmv_intersect_sql,
    "text_cms_counts" -> text_cms_counts_sql,
    "text_lm_score" -> text_lm_score_sql,
    "text_oov_rate" -> text_oov_rate_sql,
    "text_bpe_encode" -> text_bpe_encode_sql,
    "text_bpe_train" -> text_bpe_train_sql,
    "text_bpe_persist" -> text_bpe_persist_sql,
    "text_tfidf_top" -> text_tfidf_top_sql,
    "text_bpe_pairs" -> text_bpe_pairs_sql,
    "text_ngram_top" -> text_ngram_top_sql,
    "text_pmi_bigrams" -> text_pmi_bigrams_sql,
    "text_pii_scrub" -> text_pii_scrub_sql,
    "text_repetition" -> text_repetition_sql,
    "text_stats" -> text_stats_sql,
    "text_fertility" -> text_fertility_sql,
    "text_heavy_hitters" -> text_heavy_hitters_sql,
    "text_quality" -> text_quality_sql,
    "text_gopher" -> text_gopher_sql,
    "text_readability" -> text_readability_sql,
    "text_langid_ngram" -> text_langid_ngram_sql,
    "text_novelty" -> text_novelty_sql,
    "text_langid" -> text_langid_sql,
    "text_fingerprint" -> text_fingerprint_sql,
    "text_winnow" -> text_winnow_sql,
    "text_tokens_regex" -> text_tokens_regex_sql,
  )
}
