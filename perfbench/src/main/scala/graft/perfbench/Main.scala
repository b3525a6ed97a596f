package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run (launched by `perfbench/run.py`):
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  *      [--provider graft|rocksdb|hdfs]
  * }}}
  *
  * Writes one JSON document to `--out`: end-to-end metrics (or, traced,
  * per-layer metrics and spans), operation counts, correctness results and
  * host facts. `run.py` adds the DuckDB checks and prints the summary line.
  */
object Main {
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val tracer = new Tracer(args.getOrElse("trace", "0") == "1")
    val work = new File(args("work"))
    val target = Spi.Target(args.getOrElse("provider", "graft"))
    val loadAvg = scala.util.Try(
      new String(Files.readAllBytes(new File("/proc/loadavg").toPath)).trim).getOrElse("")
    work.mkdirs()

    val usesSpark = workload == "stream_click_join" || workload == "pipe_near_dup"
    lazy val spark = session(work)
    val report = workload match {
      case "spi_ingest_ttl" | "spi_lookup_scan" =>
        Spi.run(workload, seed, seconds, tracer, work, target)
      case "stream_click_join" => StreamJoin.run(spark, seed, seconds, tracer, work)
      case "pipe_near_dup" => PipeNearDup.run(spark, seed, seconds, tracer, work)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    report.e2e("setup_s", Stats.median(report.setupSamples), "s")
    report.e2e("rss_peak_mb", vmHwmKb() / 1024.0, "MB")

    val facts = new java.util.LinkedHashMap[String, Any]()
    facts.put("nproc", Runtime.getRuntime.availableProcessors())
    facts.put("max_heap_mb", Runtime.getRuntime.maxMemory() / 1048576)
    facts.put("spark_master", if (usesSpark) spark.sparkContext.master else "none (SPI called directly)")
    facts.put("shuffle_partitions", report.notes.getOrElse("shuffle_partitions",
      if (usesSpark) spark.conf.get("spark.sql.shuffle.partitions") else "none"))
    facts.put("spark_version", org.apache.spark.SPARK_VERSION)
    org.rocksdb.RocksDB.loadLibrary()
    facts.put("rocksdb_version", org.rocksdb.RocksDB.rocksdbVersion().toString)
    facts.put("provider", target.className)
    facts.put("load_avg_at_start", loadAvg)
    facts.put("java_version", System.getProperty("java.version"))

    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("workload", workload)
    out.put("seed", seed)
    out.put("seconds", seconds)
    out.put("trace", tracer.enabled)
    out.put("host", facts)
    out.put("attempted", report.attempted.asJava)
    out.put("mismatches", report.mismatches)
    out.put("mismatch_samples", report.mismatchSamples.asJava)
    out.put("setup_s_samples", report.setupSamples.asJava)
    out.put("setup_wall_s_samples", report.setupWallSamples.asJava)
    out.put("end_to_end", metricMap(report.endToEnd))
    out.put("per_layer", metricMap(report.perLayer))
    out.put("notes", report.notes.asJava)
    if (tracer.enabled) out.put("spans", tracer.spanList)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writerWithDefaultPrettyPrinter().writeValueAsString(out)
    Files.write(new File(args("out")).toPath, json.getBytes(StandardCharsets.UTF_8))
    if (usesSpark) spark.stop()
  }

  private def metricMap(m: scala.collection.Map[String, (Double, String)]) = {
    val o = new java.util.LinkedHashMap[String, Any]()
    m.foreach { case (k, (v, u)) =>
      val e = new java.util.LinkedHashMap[String, Any](); e.put("value", v); e.put("unit", u); o.put(k, e)
    }
    o
  }

  /** Peak resident set of this process, which covers RocksDB's native memory. */
  def vmHwmKb(): Double = scala.util.Try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
  }.getOrElse(0.0)

  /** One local session for the Spark workloads: `local[N]` with N capped at
    * 4 and at the host's cores, N shuffle partitions, every scratch path
    * inside the run's work dir. Built before any workload clock starts. */
  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
