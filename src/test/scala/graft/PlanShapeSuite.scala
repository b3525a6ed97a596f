package graft

import graft.operators.{Dedup, Pipeline, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the exchange-reuse plan shapes: `text_tfidf_top` and
  * `pipe_token_budget` were deliberately written so their two aggregate
  * consumers share one shuffle subtree (one corpus scan instead of two —
  * the difference between 1x and 2x input I/O at 100 TB). Both shapes are
  * fragile: a column-pruning or null-filter asymmetry between the branches
  * silently breaks reuse with no correctness signal, so the scan count is
  * asserted here on the EXECUTED adaptive plan. */
class PlanShapeSuite extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config(Tables.nanosConf._1, Tables.nanosConf._2)
      .appName("planshape")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = spark.stop()

  /** The final adaptive plan of `df`, each node once. */
  private def finalPlanNodes(df: DataFrame): Seq[SparkPlan] = {
    // collect() (not a noop write — that plans a SEPARATE write query and
    // leaves this one un-executed) so executedPlan is the adaptive FINAL
    // plan; AQE only installs stage reuse at runtime
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("isFinalPlan=true"))
    // a reused stage is the SAME node reached through two references —
    // dedupe by identity so reuse counts as the one physical node it is
    collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }
      .groupBy(System.identityHashCode).values.map(_.head).toSeq
  }

  private def executedScans(df: DataFrame): Int = count[FileSourceScanExec](finalPlanNodes(df))

  private def count[T: scala.reflect.ClassTag](nodes: Seq[SparkPlan]): Int =
    nodes.count(implicitly[scala.reflect.ClassTag[T]].runtimeClass.isInstance)

  test("dedup_exact_substr: no window operator; its spans take exactly two shuffles") {
    val nodes = finalPlanNodes(Dedup.dedup_exact_substr(spark, sfDir))
    assert(count[FileSourceScanExec](nodes) === 1, "one pass over the corpus")
    assert(count[ShuffleExchangeExec](nodes) === 2, "one shuffle by hash bucket, one by doc_id")
    assert(count[BroadcastExchangeExec](nodes) === 0, "no broadcast")
    assert(count[BaseAggregateExec](nodes) === 0, "the kernel emits each row; no aggregate")
    assert(count[BaseJoinExec](nodes) === 0, "markers carry every row; no join")
    assert(count[WindowExec](nodes) === 0, "span merging is the kernel, not lag/sum windows")
  }

  test("dedup_substr_clean: one scan, no join and no window operator") {
    val nodes = finalPlanNodes(Dedup.dedup_substr_clean(spark, sfDir))
    assert(count[FileSourceScanExec](nodes) === 1, "one pass over the corpus")
    assert(count[BaseJoinExec](nodes) === 0, "markers carry each text to the kernel")
    assert(count[WindowExec](nodes) === 0, "the kernel cuts the spans; no lag/lead")
  }

  test("text_tfidf_top explodes the corpus once (reused exchange)") {
    assert(executedScans(TextAnalysis.text_tfidf_top(spark, sfDir)) === 1,
      "tf and df branches must share one scan via exchange reuse")
  }

  test("pipe_token_budget scans the corpus once (offsets from the windowed stage)") {
    assert(executedScans(Pipeline.pipe_token_budget(spark, sfDir)) === 1,
      "the offsets branch must aggregate the windowed output, not re-scan")
  }

  test("pipe_epoch_shuffle scans the corpus once (offsets from the windowed stage)") {
    assert(executedScans(Pipeline.pipe_epoch_shuffle(spark, sfDir)) === 1,
      "the bucket-count branch must aggregate max(row_number) off the " +
        "windowed output, not re-scan and re-hash the exploded corpus")
  }

  test("text_heavy_hitters: exactly two scans; candidates broadcast and filter pre-shuffle") {
    val df = TextAnalysis.text_heavy_hitters(spark, sfDir)
    assert(executedScans(df) === 2,
      "the protocol is sketch pass + recount pass — a third scan means " +
        "the candidate filter re-derived something")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") && plan.contains("array_contains"),
      "the <=k candidate array must broadcast and filter the recount scan " +
        "BEFORE its exchange — the pass-2 shuffle carries candidate tokens only")
  }

  test("sim_index_persist: loaded-index search runs zero trainer stages") {
    val df = operators.Similarity.sim_index_persist(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("vec_sum_long"),
      "the loaded search must contain no Lloyd codebook update — training " +
        "happened once at index-write time, not per search session")
    // the only corpus reads are the query rows, filter pushed to parquet;
    // everything else comes off the persisted index layout
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    val corpusScans = scans.filter(
      _.metadata.get("Location").exists(_.contains("embeddings")))
    assert(corpusScans.nonEmpty, "query vectors come from the corpus table")
    corpusScans.foreach { sc =>
      assert(sc.metadata.get("PushedFilters").exists(_.contains("LessThan(vec_id,50)")),
        s"query-side corpus scan must push vec_id < 50 to parquet, " +
          s"got ${sc.metadata.get("PushedFilters")}")
    }
    assert(scans.exists(_.metadata.get("Location").exists(_.contains("graft-ivfpq-index"))),
      "search must read the persisted index layout")
  }

  test("sim_index_compact: compacted-layout search runs zero trainer stages") {
    val df = operators.Similarity.sim_index_compact(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("vec_sum_long"),
      "compaction is a filtered rewrite + loaded search — no Lloyd update " +
        "may appear anywhere in the executed plan")
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.exists(_.metadata.get("Location").exists(_.contains("graft-ivfpq-compact"))),
      "search must read the COMPACTED per-vector tables, not the originals")
    // centroids/codebook come off the original layout (membership-independent)
    assert(scans.exists(_.metadata.get("Location").exists(_.contains("graft-ivfpq-index"))),
      "quantizer tables come off the original persisted layout")
  }

  test("sim_index_merge: merged-layout search runs zero trainer stages") {
    val df = operators.Similarity.sim_index_merge(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("vec_sum_long"),
      "the merged-layout search must contain no Lloyd codebook update — " +
        "the quantizer was trained once and shared; shard filing and the " +
        "merge are pure assignments and unions, never retraining")
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.exists(_.metadata.get("Location").exists(_.contains("graft-ivfpq-merged"))),
      "search must read the MERGED layout's tables")
    assert(!scans.exists(_.metadata.get("Location").exists(_.contains("graft-ivfpq-shard"))),
      "serving must come off the merged layout only — shard tables are " +
        "build-time artifacts, not a serve-time fan-in")
  }

  test("sim_index_merge_compact: compacted-merged search runs zero trainer stages") {
    val df = operators.Similarity.sim_index_merge_compact(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("vec_sum_long"),
      "compaction of the merged layout is a filtered rewrite + loaded " +
        "search — no Lloyd update may appear anywhere in the executed plan")
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.exists(_.metadata.get("Location").exists(_.contains("graft-ivfpq-merged-compact"))),
      "search must read the COMPACTED per-vector tables")
    // quantizer tables come off the MERGED layout (membership-independent)
    assert(scans.exists(_.metadata.get("Location").exists(l =>
      l.contains("graft-ivfpq-merged-") && !l.contains("merged-compact"))),
      "quantizer tables come off the merged layout")
    assert(!scans.exists(_.metadata.get("Location").exists(_.contains("graft-ivfpq-shard"))),
      "no shard table may be read — compaction operates on the merged layout only")
  }

  test("pipe_dedup_incremental_lsh: corpus comes off the persisted signature table") {
    operators.Dedup.pipe_dedup_incremental_lsh(spark, sfDir).collect() // builds the layout
    val df = operators.Dedup.pipe_dedup_incremental_lsh(spark, sfDir)
    df.collect()
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.exists(_.metadata.get("Location").exists(_.contains("graft-lsh-sigs"))),
      "the corpus side must be read from the persisted signature layout")
    // exactly ONE subtree computes a MinHash signature: the arriving
    // batch's. The corpus's signatures are a stored COLUMN of the layout —
    // a second signing node means the corpus was re-hashed instead of read
    val signingNodes = collectWithSubqueries(df.queryExecution.executedPlan) {
      case p if p.expressions.exists(_.exists(
        _.isInstanceOf[graft.functions.MinHashSig])) => p
    }.map(System.identityHashCode).distinct.size
    assert(signingNodes === 1,
      s"expected one signature-computing node (the batch), found $signingNodes")
  }

  test("pipe_dedup_incremental: corpus side off the persisted fingerprint table") {
    Pipeline.pipe_dedup_incremental(spark, sfDir).collect() // builds the table
    val df = Pipeline.pipe_dedup_incremental(spark, sfDir)
    df.collect()
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.exists(_.metadata.get("Location").exists(_.contains("graft-fp-reps"))),
      "the corpus side must be read from the persisted fingerprint table")
    // exactly two scans: the fingerprint table + the batch's documents —
    // a third means the corpus text was re-read to rebuild the aggregate
    assert(scans.map(System.identityHashCode).distinct.size === 2,
      s"expected 2 scans (fp table + batch docs), found ${scans.size}")
  }

  test("pipe_lsh_file_batch: both persisted segments read, only the arriving batch signed") {
    operators.Dedup.pipe_lsh_file_batch(spark, sfDir).collect() // builds the layouts
    val df = operators.Dedup.pipe_lsh_file_batch(spark, sfDir)
    df.collect()
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.exists(_.metadata.get("Location").exists(_.contains("graft-lsh-sigs"))),
      "the corpus segment must be read from its persisted signature table")
    assert(scans.exists(_.metadata.get("Location").exists(_.contains("graft-lsh-delta"))),
      "the filed delta segment must be read from its persisted table — " +
        "filing is a segment write, never a corpus rewrite")
    val signingNodes = collectWithSubqueries(df.queryExecution.executedPlan) {
      case p if p.expressions.exists(_.exists(
        _.isInstanceOf[graft.functions.MinHashSig])) => p
    }.map(System.identityHashCode).distinct.size
    assert(signingNodes === 1,
      s"expected one signature-computing node (the arriving batch), found $signingNodes")
  }

  test("pipe_lsh_fold: screen reads the one folded table, neither pre-fold segment") {
    operators.Dedup.pipe_lsh_fold(spark, sfDir).collect() // builds the layouts
    val df = operators.Dedup.pipe_lsh_fold(spark, sfDir)
    df.collect()
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.exists(_.metadata.get("Location").exists(_.contains("graft-lsh-fold"))),
      "the screen must read the folded signature table")
    assert(!scans.exists(_.metadata.get("Location").exists(l =>
      l.contains("graft-lsh-sigs") || l.contains("graft-lsh-delta"))),
      "after compaction neither pre-fold segment may be read — the fold " +
        "replaced them, a lingering segment scan doubles the index I/O")
  }

  test("pipe_lsh_delete: screen reads the compacted table only, one signing node") {
    operators.Dedup.pipe_lsh_delete(spark, sfDir).collect() // builds the layouts
    val df = operators.Dedup.pipe_lsh_delete(spark, sfDir)
    df.collect()
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.exists(_.metadata.get("Location").exists(_.contains("graft-lsh-compact"))),
      "the screen must read the takedown-compacted signature table")
    assert(!scans.exists(_.metadata.get("Location").exists(_.contains("graft-lsh-sigs"))),
      "the pre-takedown corpus table must NOT be read at serve time — " +
        "erased documents stay erased only if every read goes through the rewrite")
    val signingNodes = collectWithSubqueries(df.queryExecution.executedPlan) {
      case p if p.expressions.exists(_.exists(
        _.isInstanceOf[graft.functions.MinHashSig])) => p
    }.map(System.identityHashCode).distinct.size
    assert(signingNodes === 1,
      s"expected one signature-computing node (the arriving batch), found $signingNodes")
  }

  test("pipe_dedup_incremental_embedding: batch probes the persisted index, zero trainer stages") {
    val df = operators.Similarity.pipe_dedup_incremental_embedding(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("vec_sum_long"),
      "the semantic incremental screen is a SERVE of the standing index — " +
        "no Lloyd update may appear in its plan")
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.exists(_.metadata.get("Location").exists(_.contains("graft-ivfpq-index"))),
      "candidates and quantizer tables come off the persisted layout")
    val corpusScans = scans.filter(
      _.metadata.get("Location").exists(_.contains("embeddings")))
    assert(corpusScans.nonEmpty, "the arriving batch reads its raw vectors")
    corpusScans.foreach { sc =>
      assert(sc.metadata.get("PushedFilters").exists(_.contains("vec_id")),
        s"batch-side corpus scan must push its vec_id predicate to parquet, " +
          s"got ${sc.metadata.get("PushedFilters")}")
    }
  }

  test("pipe_drift_report: one scan per snapshot (counts reused across vocab/totals/join)") {
    assert(executedScans(Pipeline.pipe_drift_report(spark, sfDir)) === 2,
      "each snapshot's token counts must feed the vocabulary, its total " +
        "and the report join through one reused exchange — not re-scan " +
        "the corpus per consumer")
  }

  test("text_bpe_persist: loaded-merges encode runs zero trainer stages") {
    val df = TextAnalysis.text_bpe_persist(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"),
      "no trainer checkpoint may appear in the encode plan — training " +
        "happened once at merge-table write time")
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.count(_.metadata.get("Location").exists(_.contains("documents"))) === 1,
      "the encode pass scans the corpus exactly once")
    assert(scans.exists(_.metadata.get("Location").exists(_.contains("graft-bpe-merges"))),
      "the merge table must come off the persisted layout, not a trainer stage")
  }

  test("text_pmi_bigrams explodes the corpus once (marginals off the checkpointed counts)") {
    // the one corpus scan happens at the eager bigram-count checkpoint;
    // the returned plan must contain NO parquet scan at all — any scan here
    // means a marginal branch re-exploded the corpus (4x I/O at 100 TB)
    assert(executedScans(TextAnalysis.text_pmi_bigrams(spark, sfDir)) === 0,
      "all marginal branches must read the materialized count table, not the corpus")
  }

  test("text_lm_score: corpus explodes once; type-score join broadcasts") {
    val df = TextAnalysis.text_lm_score(spark, sfDir)
    assert(executedScans(df) === 1,
      "per-doc counts feed both the type aggregates and the scoring join " +
        "through one reused exchange — two corpus explodes is 2x I/O at 100 TB")
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "the bounded bigram-type table must broadcast, not shuffle the corpus")
  }

  test("text_cms_counts: one corpus scan; constant-size sketch broadcasts") {
    val df = TextAnalysis.text_cms_counts(spark, sfDir)
    assert(executedScans(df) === 1,
      "sketch build and exact-count audit must share one token explode")
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "the depth x width counter table must broadcast to the probe side")
  }

  test("pipe_dsir: feature-stats model broadcasts; corpus explode runs once") {
    val df = Pipeline.pipe_dsir(spark, sfDir)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "the constant 1024-bucket feature table must broadcast — that is DSIR's " +
        "hashing rationale; a corpus shuffle on features defeats it")
    // Round 16: the per-doc feature counts are materialized ONCE
    // (localCheckpoint) because the target slice's lang filter pushes below
    // the aggregate and split the corpus explode into 3 non-reusable scans
    // (plans/r16/pipe_dsir_before.txt). The final plan must therefore read
    // the materialized counts, never re-scan the corpus parquet.
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.isEmpty,
      s"the corpus n-gram explode must run once inside the eager checkpoint; " +
        s"found ${scans.size} file scans in the final plan")
  }

  test("q35_explode_listagg: one pruned scan, Generate, map-side partial agg") {
    val df = operators.Relational.q35_explode_listagg(spark, sfDir)
    assert(executedScans(df) === 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Generate"),
      "explode must plan as a Generate inside the scan's codegen stage, not a UDF")
    assert(plan.toLowerCase.contains("partial_"),
      "the per-doc set aggregate must combine map-side before the doc_id shuffle")
    val scan = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }.head
    assert(scan.requiredSchema.fieldNames.toSet === Set("doc_id", "text"),
      s"scan must prune to the two used columns, read ${scan.requiredSchema.fieldNames.mkString(",")}")
  }
}
