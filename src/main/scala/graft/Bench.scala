package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are forced through the `noop` sink so every
  * output column is fully computed — a bare `.count()` would let Catalyst
  * prune projections and undercount the real work.
  *
  * Contention-proofing (round-7): each query runs REPEATS times (default 3,
  * `SPARK_GRAFT_BENCH_REPEATS`; sub-second queries get
  * `SPARK_GRAFT_BENCH_EXTRA` = 2 additional passes, 5 total) and the
  * reported per-query number is the MEDIAN, with min/median/max/n emitted
  * under `"stats"` so the artifact self-documents its noise band. The
  * `"steady"` map (min over passes) is the round-over-round comparison
  * number for contended-flagged queries. One noisy host window (the round-6 driver
  * artifact showed a 6.3x phantom on an unchanged plan) can no longer
  * produce a false regression datapoint: a single inflated pass lands in
  * `max` while the median stays steady-state.
  *
  * Failure containment (round-8): every pass runs under a [[BoundedRun]]
  * wall-clock guard (`SPARK_GRAFT_BENCH_TIMEOUT_SECS`, default 180 s/pass),
  * so a wedged query degrades to a -1 row instead of an rc-124 artifact.
  * Queries whose passes ALL fail report -1 in `"queries"`, land in
  * `"failed"`, and are EXCLUDED from `"value"`; queries that fail on SOME
  * passes are listed in `"partial"` (their median covers only the surviving
  * passes) — a flaky query is visible in the artifact, not masked by its
  * survivors.
  */
object Bench {
  private def runOnce(
      spark: SparkSession, sfDir: String, name: String, timeoutSecs: Long): Option[Double] = {
    val t0 = System.nanoTime()
    BoundedRun(spark, name, timeoutSecs) {
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** 1-minute system load average at this instant (-1 if unreadable).
    * Recorded per pass so the artifact itself says "this number was taken
    * on a contended host" — rounds 9/10 each needed a judge-side idle-host
    * rerun to separate real regressions from host noise. */
  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** min/max spread beyond this ratio marks a query "contended" in the
    * artifact: an unchanged plan whose passes disagree by >2x is host
    * noise, not a regression (BASELINE.md round-5 policy). The absolute
    * floor keeps 0.1-vs-0.25 s jitter on tiny queries from diluting the
    * flag (18 of 83 flags in the first interleaved run were sub-0.5 s
    * spreads — pass-to-pass JVM noise, not load windows). */
  private val SpreadFlagRatio = 2.0
  private val SpreadFlagFloorSecs = 0.3

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.size / 2) // odd-count repeats -> true middle; even -> upper median
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt.max(1)
    val timeoutSecs = sys.env.getOrElse("SPARK_GRAFT_BENCH_TIMEOUT_SECS", "180").toLong
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // static conf, effective because this is the JVM's first session:
      // the default 100-entry generated-class cache thrashes under
      // round-robin repeats (197 interleaved plans evict each other, so
      // every pass re-runs Janino: a uniform +0.3-0.7 s on sub-second
      // queries, measured 1.34x total on the first interleaved run).
      // Sized to hold every gate query's codegen stages at once.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config(Tables.nanosConf._1, Tables.nanosConf._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Queries run in sorted-name order so per-query numbers are comparable
    // across rounds (`queries` is a hash Map — iteration order shifts as
    // entries are added, and whichever query ran first absorbed session
    // warmup). Warmup is paid up front by one discarded query per cost
    // family — lineitem scan+agg codegen, documents scan + shingle kernel,
    // and the streaming one-off (events staging + micro-batch machinery) —
    // so measured times are steady-state rather than charging family warmup
    // to whichever member sorts first.
    // stream_agg stages the unsorted events dir; stream_watermark the
    // ts-ordered dir; stream_limit the globally-sorted dir (one-offs each
    // shared by their whole family)
    Seq("q1_pricing_summary", "dedup_ngram_jaccard", "stream_agg",
        "stream_watermark", "stream_limit").foreach { w =>
      val warm0 = System.nanoTime()
      runOnce(spark, sfDir, w, timeoutSecs)
      System.err.println(f"[bench] warmup $w (discarded): ${(System.nanoTime() - warm0) / 1e9}%.2f s")
    }
    // Repeats are interleaved ROUND-ROBIN across queries (pass 1 of every
    // query, then pass 2, then pass 3) rather than back-to-back. Round-11
    // driver data showed why: a sustained host-load window that covers all
    // 3 back-to-back repeats of one query inflates its median with a TIGHT
    // spread, so the contended flag misses it (dedup_substr_clean read
    // 66.3 s vs 3.0 s clean, spread ~1). Interleaved, a load window spans
    // one PASS of many queries instead — each affected query gets one
    // inflated pass against two clean ones, which is exactly the
    // max/min>2x signature the contended flag catches.
    // Optional comma-separated allowlist for local iteration on a few
    // queries (unset = the full suite, the driver's configuration).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val passResults: Seq[Seq[Option[(Double, Double)]]] = (1 to repeats).map { p =>
      System.err.println(s"[bench] pass $p/$repeats")
      names.map { name =>
        val load = loadAvg()
        runOnce(spark, sfDir, name, timeoutSecs).map(t => (t, load))
      }
    }
    // Sub-second queries get extra interleaved passes (5 total by default):
    // their medians are the most jitter-prone — pass-to-pass JVM noise is a
    // fixed ~0.1-0.3 s, a large RELATIVE error only below ~1 s — and the
    // extra passes cost ~2 min of wall clock against 52/215 contended flags
    // in the round-13 artifact that were pure sub-second jitter.
    val baseMedians = names.zipWithIndex.map { case (name, i) =>
      name -> passResults.flatMap(_(i)).map(_._1)
    }
    val extraFor = baseMedians.collect {
      case (name, ts) if ts.nonEmpty && median(ts) < 1.0 => name
    }.toSet
    val extraRepeats =
      if (extraFor.isEmpty) 0
      else sys.env.getOrElse("SPARK_GRAFT_BENCH_EXTRA", "2").toInt.max(0)
    val extraPassResults: Seq[Seq[Option[(Double, Double)]]] = (1 to extraRepeats).map { p =>
      System.err.println(s"[bench] extra pass $p/$extraRepeats (${extraFor.size} sub-second queries)")
      names.map { name =>
        if (extraFor(name)) {
          val load = loadAvg()
          runOnce(spark, sfDir, name, timeoutSecs).map(t => (t, load))
        } else None
      }
    }
    val results = names.zipWithIndex.map { case (name, i) =>
      val passes = (passResults ++ extraPassResults).flatMap(_(i))
      (name, passes.map(_._1), passes.map(_._2))
    }
    val expectedPasses: String => Int =
      name => repeats + (if (extraFor(name)) extraRepeats else 0)
    val qs = results.map { case (k, ts, _) =>
      "\"" + k + "\":" + (if (ts.nonEmpty) median(ts) else -1.0)
    }.mkString("{", ",", "}")
    // steady-state number per query: the min over passes. Under host
    // contention the median inflates while the min stays at the plan's true
    // cost (every r11/r12 "regression" >1.5x was a contended median whose
    // min matched the prior round) — round-over-round comparisons read
    // `steady` for contended-flagged queries instead of reaching into
    // stats.min by hand (SCALE.md "Bench comparison protocol").
    val steady = results.map { case (k, ts, _) =>
      "\"" + k + "\":" + (if (ts.nonEmpty) ts.min else -1.0)
    }.mkString("{", ",", "}")
    val stats = results.map { case (k, ts, loads) =>
      if (ts.nonEmpty) {
        val spread = if (ts.min > 0) ts.max / ts.min else 1.0
        s""""$k":{"min":${ts.min},"median":${median(ts)},"max":${ts.max},"n":${ts.size},""" +
          f""""spread":$spread%.2f,"load":${loads.map(l => f"$l%.1f").mkString("[", ",", "]")}}"""
      } else s""""$k":{"min":-1,"median":-1,"max":-1,"n":0,"spread":-1,"load":[]}"""
    }.mkString("{", ",", "}")
    // ONE collector per flag: the artifact's name arrays AND the summary
    // line's counts both derive from these, so the predicates cannot drift
    // apart (they did live in two places through r15).
    val failedNames = results.collect { case (k, ts, _) if ts.isEmpty => k }
    val partialNames = results.collect {
      case (k, ts, _) if ts.nonEmpty && ts.size < expectedPasses(k) => k
    }
    // self-diagnosis: queries whose passes disagree by >SpreadFlagRatio ran
    // on a loaded host — their medians are suspect, their plans are not
    val contendedNames = results.collect {
      case (k, ts, _) if ts.size >= 2 && ts.min > 0 && ts.max / ts.min > SpreadFlagRatio &&
        ts.max - ts.min > SpreadFlagFloorSecs => k
    }
    def nameArr(ks: Seq[String]): String = ks.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failed = nameArr(failedNames)
    val partial = nameArr(partialNames)
    val contended = nameArr(contendedNames)
    val total = results.collect { case (_, ts, _) if ts.nonEmpty => median(ts) }.sum
    val steadyTotal = results.collect { case (_, ts, _) if ts.nonEmpty => ts.min }.sum
    // Per-family steady subtotals (round 17): the driver's round-over-round
    // comparison previously sampled whatever stayed in both rounds' top-8
    // slices — a biased sample (PERF r16 computed its geomean over 5 queries
    // from one touched family). Family-level steady sums give an unbiased
    // aggregate per operator family without blowing the summary-line budget.
    // A query's family is the registry that contributed it.
    val familyOf = SparkEntry.familyOf
    val familySteady = results.collect { case (k, ts, _) if ts.nonEmpty => (familyOf(k), ts.min) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (f, xs) => "\"" + f + "\":" + xs.map(_._2).sum }
      .mkString("{", ",", "}")
    // "cpus" records the session's core count (and shuffle-partition setting)
    // in the artifact itself; the streaming gates additionally pin their
    // stateful parallelism to min(8, cores) inside their fixtures, and the
    // scaling canary spreads over all of them — recorded here, with the
    // host's processor count and the JVM's max heap, so runs at different
    // core counts and on different hosts can be told apart and compared.
    val parallelism = spark.sparkContext.defaultParallelism
    val host = s""""nproc":${Runtime.getRuntime.availableProcessors},"max_heap_mb":${Runtime.getRuntime.maxMemory >> 20}"""
    val json = s"""{"metric":"total","value":$total,"unit":"sec","steady_total":$steadyTotal,"cpus":$cpus,$host,"default_parallelism":$parallelism,"stream_shuffle_partitions":${math.min(8, parallelism)},"family_steady":$familySteady,"queries":$qs,"steady":$steady,"repeats":$repeats,"stats":$stats,"failed":$failed,"partial":$partial,"contended":$contended,"sf":"$sfDir"}"""
    // File first: captured stdout can be truncated mid-line (BENCH_r05 and
    // BENCH_r08 both lost the stdout tail — `"parsed": null`); the file is
    // the complete, archivable artifact regardless of what the pipe kept.
    // A filtered run is a local probe — never let it clobber the committed
    // full-suite artifact. One artifact per core count: an 8-core run must
    // not overwrite the 32-core one.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "/tmp/BENCH_ONLY.json" else s"BENCH_LOCAL_c$cpus.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
    println(json)
    System.out.flush()
    // The driver records only a ~2,000-char stdout TAIL. The full JSON above
    // is ~9 KB at 150 queries, and in rounds 5-9 a post-stop() maintenance
    // WARN stack trace landed after it — so the tail never contained a
    // parseable object (`"parsed": null` every round). Therefore: silence
    // all logging, stop Spark (so nothing can log after us), and only THEN
    // print a compact (<1 KB) summary as the true last stdout line. The
    // summary carries the headline metric plus the slowest queries; the
    // complete per-query map lives in the artifact file and the line above.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    val slowest = results.collect { case (k, ts, _) if ts.nonEmpty => k -> median(ts) }
      .sortBy(-_._2).take(8)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val nOk = results.count(_._2.nonEmpty)
    // The summary line must be provably short: in r14 the host was loaded,
    // 117 queries tripped the contended flag, and embedding their NAMES blew
    // the line past the driver's ~2 KB tail window — the tail held only a
    // name-array fragment, so BENCH_r14.json parsed null. List-valued fields
    // therefore appear here as COUNTS ONLY (the full artifact file keeps the
    // names), and a structural backstop drops the queries map if the line
    // still somehow exceeds 1 KB.
    val nFailed = failedNames.size
    val nPartial = partialNames.size
    val nContended = contendedNames.size
    def mkSummary(slowestJson: String): String =
      s"""{"metric":"total","value":$total,"unit":"sec","steady_total":$steadyTotal,"n":$nOk,""" +
        s""""cpus":$cpus,""" +
        s""""queries":$slowestJson,"failed":$nFailed,"partial":$nPartial,"contended":$nContended,""" +
        s""""repeats":$repeats,"full":"$out","sf":"$sfDir"}"""
    val summary = {
      val full = mkSummary(slowest)
      if (full.length <= 1024) full else mkSummary("{}")
    }
    // Reaching the driver's tail UNPREFIXED is a build.sbt concern, not a
    // stream trick: `run / fork := true` pipes this JVM's stdout through
    // sbt, and with the default LoggedOutput strategy every line gained an
    // "[info] " prefix the driver's tail parser rejects (BENCH_r10/r11
    // "parsed": null; an in-JVM FileDescriptor.out bypass cannot help —
    // the fork means FD 1 IS the sbt pipe). `run / outputStrategy :=
    // Some(StdoutOutput)` makes the forked process inherit sbt's stdout
    // raw, so this plain println lands verbatim.
    println(summary)
    System.out.flush()
    // Abandoned daemon threads wedged in native code must not keep the JVM
    // (and the driver's clock) running after the artifact is written.
    sys.exit(0)
  }
}
