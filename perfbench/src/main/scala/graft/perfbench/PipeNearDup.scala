package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Dedup

/** The near-duplicate pipeline over a generated corpus: the exact-substring
  * and SimHash operators of `graft.operators.Dedup` (compiled kernels
  * `graft.functions.SubstrHashes` and `SimHashBits`), each into the `noop`
  * sink. A pass runs the two once. It bypasses `graft.state` entirely.
  *
  * `dedup_clusters_lsh` is left out: its connected-components loop is a
  * dozen small Spark jobs per call, so its time is job start rather than
  * kernel work, and its DuckDB twin costs about 28 ms per document (the 32
  * MinHash permutations are list lambdas), which no run can afford on the
  * timed corpus.
  *
  * The set-up's warm-up pass writes each query's output as parquet, with
  * its DuckDB twin (`<name>_sql`) beside it; `run.py` compares the two over
  * the same corpus.
  */
object PipeNearDup {
  val Queries: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("dedup_exact_substr", Dedup.dedup_exact_substr, Dedup.dedup_exact_substr_sql),
    ("dedup_simhash", Dedup.dedup_simhash, Dedup.dedup_simhash_sql))

  /** Corpus shape, taken from the sf0.1 `documents` fixture (5,000 rows):
    * 4,750 documents of 10-99 words (uniform) drawn uniformly from a
    * 30-word vocabulary, and 250 near-duplicates, each a uniformly chosen
    * document with " dup" appended; 41% `en`, the rest `fr`/`zh`/`de`/`es`
    * evenly; `source` is `src<doc_id % 20>`; `n_chars` is the text length. */
  val BaseDocs = 4750
  val NearDups = 250
  val MinWords = 10
  val MaxWords = 99
  val SetupReps = 3
  /** Passes over a throwaway corpus before the set-ups: in a fresh JVM the
    * CPU time of a pass falls by a fifth over its first half-dozen passes
    * while the JIT compiles the kernels and Spark's code. With the
    * set-ups' passes, seven run before the first timed one. */
  val JvmWarmupPasses = 4

  private val Vocab: Array[String] = (
    "a agg batch big column customer data fast filter group hash join key line merge order " +
    "part query row scan slow small sort spark stream table the value vector window").split(' ')
  private val OtherLangs = Array("fr", "zh", "de", "es")

  /** Seeded corpus in the fixture's `documents` shape and make-up (see
    * [[BaseDocs]]); ids are shuffled so copies are not adjacent to their
    * originals. */
  def corpus(seed: Long): Seq[(Long, String, String, String, Long)] = {
    val r = new SplittableRandom(seed)
    val base = (0 until BaseDocs).map { _ =>
      Array.fill(MinWords + r.nextInt(MaxWords - MinWords + 1))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
    }
    val copies = (0 until NearDups).map(_ => base(r.nextInt(BaseDocs)) + " dup")
    val all = base ++ copies
    val ids = (0L until all.size.toLong).toArray
    var i = ids.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1 }
    all.zip(ids).map { case (text, id) =>
      val lang = if (r.nextDouble() < 0.41) "en" else OtherLangs(r.nextInt(OtherLangs.length))
      (id, text, lang, s"src${id % 20}", text.length.toLong)
    }
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, tr: Tracer, work: File): Report = {
    val report = new Report
    import spark.implicits._
    var dir: String = null

    /** One timed pass over the two queries into the `noop` sink. */
    def pass(): Double = {
      tr.beginParent("pass")
      val t0 = System.nanoTime()
      Queries.foreach { case (name, q, _) =>
        val tq = tr.start()
        q(spark, dir).write.format("noop").mode("overwrite").save()
        tr.stopSample(name, tq)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      tr.endParent()
      ms
    }

    def writeCorpus(d: File): String = {
      corpus(seed).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(Main.Cores).write.parquet(new File(d, "documents.parquet").getAbsolutePath)
      d.getAbsolutePath
    }

    // Set-up: the corpus, then a warm-up pass (codegen and first-job costs
    // land here) that writes each query's output as parquet for the check.
    val outRoot = new File(work, "pipe-out")
    report.notes("jvm_warmup_s") = Cpu.measure {
      val warm = writeCorpus(new File(work, "corpus-jvm-warmup"))
      (0 until JvmWarmupPasses).foreach(_ => Queries.foreach { case (_, q, _) =>
        q(spark, warm).write.format("noop").mode("overwrite").save()
      })
    }._2
    report.setups((0 until SetupReps).map { rep =>
      Cpu.measure {
        dir = writeCorpus(new File(work, s"corpus-$rep"))
        Fs.rm(outRoot)
        Queries.foreach { case (name, q, _) =>
          q(spark, dir).write.parquet(new File(outRoot, name).getAbsolutePath)
        }
      }
    })
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()

    val lat = mutable.ArrayBuffer.empty[Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    var spent = 0.0
    while (lat.isEmpty || spent < seconds) {
      val c0 = Cpu.nanos()
      val ms = pass()
      cpu += (Cpu.nanos() - c0) / 1e6
      lat += ms; spent += ms / 1000
    }
    report.notes("passes") = lat.size
    report.notes("pass_ms") = lat.map(x => math.round(x * 10) / 10.0).asJava
    report.notes("pass_cpu_ms") = cpu.map(x => math.round(x * 10) / 10.0).asJava
    report.notes("pass_ms_p50") = Stats.median(lat)
    report.attempt("queries", lat.size * Queries.size)
    // documents x queries per second of the process's CPU time over all
    // timed passes (see perfbench/README.md, Steadiness)
    report.e2e("ops_per_cpu_s", docs * Queries.size * lat.size * 1000.0 / cpu.sum, "1/s")
    if (tr.enabled) Queries.foreach { case (name, _, _) =>
      report.layer(s"ops.${name}_ms", Stats.median(tr.samplesOf(name)), "ms")
    }

    // the DuckDB comparison (run.py): per query its input corpus, its
    // parquet output and its twin
    val checks = new java.util.LinkedHashMap[String, Any]()
    Queries.foreach { case (name, _, sql) =>
      val c = new java.util.LinkedHashMap[String, String]()
      c.put("documents", s"$dir/documents.parquet")
      c.put("output", new File(outRoot, name).getAbsolutePath)
      c.put("sql", sql)
      checks.put(name, c)
    }
    report.attempt("queries", Queries.size) // the outputs that are checked
    Files.write(new File(work, "oracle.json").toPath,
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(checks)
        .getBytes(StandardCharsets.UTF_8))
    report.notes("corpus_docs") = docs
    report
  }
}
