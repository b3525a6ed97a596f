package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Two dev tools that no gate or bench covers (not a test):
  *
  *  - `plan <name,name...> <tag> <sfDir> [outDir]` writes each SparkEntry
  *    query's `.explain("formatted")` to `<outDir>/<name>_<tag>.txt` (the
  *    `plans/` evidence). Streaming gates return their output table, so
  *    their files show the post-run read plan.
  *  - `synth <srcDir> <outDir> [rep]` stages a deterministic replicated
  *    corpus: every fact table unioned `rep` times with key shifts (ids stay
  *    unique; shifts are multiples of 140e6, so `doc_id % 20` and `% 7`
  *    slices stay balanced), dimension tables copied as they are. Point
  *    `graft.Bench` at it (`SPARK_GRAFT_SF_DIR`) for wall-clock scale
  *    sanity; correctness at scale stays with the two-SF oracle gate.
  *
  * Usage: `sbt "Test/runMain graft.Probe plan|synth ..."`; `SPARK_GRAFT_CPUS`
  * sets the local core count (default 32); `rep` defaults to 8 and
  * `outDir` to `plans`.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config(Tables.nanosConf._1, Tables.nanosConf._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.toSeq match {
      case Seq("plan", names, tag, sfDir, rest @ _*) =>
        plan(spark, names.split(",").map(_.trim).filter(_.nonEmpty).toSeq, tag, sfDir,
          rest.headOption.getOrElse("plans"))
      case Seq("synth", srcDir, outDir, rest @ _*) =>
        synth(spark, srcDir, outDir, rest.headOption.fold(8)(_.toInt))
      case _ => System.err.println("usage: graft.Probe plan <names> <tag> <sfDir> [outDir]" +
        " | synth <srcDir> <outDir> [rep]")
    }
    spark.stop()
    sys.exit(0)
  }

  private def plan(spark: SparkSession, names: Seq[String], tag: String,
      sfDir: String, outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), plan)
      println(s"[probe] wrote $outDir/${name}_$tag.txt (${plan.length} chars)")
    }
  }

  private def synth(spark: SparkSession, srcDir: String, outDir: String, rep: Int): Unit = {
    val shift = 140000000L
    def read(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def write(t: String, df: DataFrame): Unit = {
      df.repartition(32).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[probe] $t: ${spark.read.parquet(s"$outDir/$t.parquet").count()} rows")
    }
    Seq("region", "nation", "customer", "supplier", "part").foreach(t => write(t, read(t)))
    Seq("documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"),
      "events" -> Seq("event_id", "user_id"), "orders" -> Seq("o_orderkey"),
      "lineitem" -> Seq("l_orderkey")).foreach { case (t, keys) =>
      write(t, (0 until rep).map { i =>
        keys.foldLeft(read(t))((df, k) => df.withColumn(k, col(k) + lit(i * shift)))
      }.reduce(_ unionByName _))
    }
  }
}
