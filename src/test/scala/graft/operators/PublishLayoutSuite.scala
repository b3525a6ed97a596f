package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[Similarity.publishLayout]]'s publish contract, including the Hadoop
  * rename pitfall: `FileSystem.rename(src, dest)` with an EXISTING dest
  * directory moves src INSIDE dest and returns true, so a pre-existing
  * marker-less dest (a crashed non-atomic publish) must be detected by an
  * explicit exists/marker check — never by the rename return value — or
  * readers silently serve the stale partial layout. */
class PublishLayoutSuite extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-publish-layout")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = { spark; () }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def freshRoot(): String =
    graft.Staging.tempDir("graft-publish-").toString

  test("clean publish: layout lands at dest with the marker") {
    val p = freshRoot() + "/layout"
    var built = 0
    Similarity.publishLayout(spark, p, "t/_SUCCESS") { tmp =>
      built += 1
      Files.createDirectories(Paths.get(tmp, "t"))
      Files.write(Paths.get(tmp, "t", "_SUCCESS"), Array.emptyByteArray)
      Files.write(Paths.get(tmp, "t", "data"), "v1".getBytes("UTF-8"))
    }
    assert(built === 1)
    assert(Files.exists(Paths.get(p, "t", "_SUCCESS")))
    assert(new String(Files.readAllBytes(Paths.get(p, "t", "data")), "UTF-8") === "v1")
  }

  test("complete layout is reused: build is not invoked again") {
    val p = freshRoot() + "/layout"
    Similarity.publishLayout(spark, p, "t/_SUCCESS") { tmp =>
      Files.createDirectories(Paths.get(tmp, "t"))
      Files.write(Paths.get(tmp, "t", "_SUCCESS"), Array.emptyByteArray)
    }
    var rebuilt = false
    Similarity.publishLayout(spark, p, "t/_SUCCESS") { _ => rebuilt = true }
    assert(!rebuilt)
  }

  test("pre-created EMPTY dest (staging dir) is replaced, not nested into") {
    val p = graft.Staging.tempDir("graft-publish-staging-").toString
    Similarity.publishLayout(spark, p, "t/_SUCCESS") { tmp =>
      Files.createDirectories(Paths.get(tmp, "t"))
      Files.write(Paths.get(tmp, "t", "_SUCCESS"), Array.emptyByteArray)
    }
    assert(Files.exists(Paths.get(p, "t", "_SUCCESS")))
    // no nested tmp junk inside the published layout
    val names = Files.list(Paths.get(p)).iterator()
    val junk = scala.collection.mutable.ArrayBuffer.empty[String]
    while (names.hasNext) {
      val n = names.next().getFileName.toString
      if (n.contains(".tmp-")) junk += n
    }
    assert(junk.isEmpty, s"nested tmp junk survived the publish: $junk")
  }

  test("non-empty marker-less dest (crashed partial publish) fails loudly, is not merged into") {
    val p = freshRoot() + "/layout"
    // simulate a crashed non-atomic publish: data present, no done marker
    Files.createDirectories(Paths.get(p, "t"))
    Files.write(Paths.get(p, "t", "data"), "stale-partial".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      Similarity.publishLayout(spark, p, "t/_SUCCESS") { tmp =>
        Files.createDirectories(Paths.get(tmp, "t"))
        Files.write(Paths.get(tmp, "t", "_SUCCESS"), Array.emptyByteArray)
        Files.write(Paths.get(tmp, "t", "data"), "fresh".getBytes("UTF-8"))
      }
    }
    assert(e.getMessage.contains("incomplete"))
    // the stale dest was neither served silently nor polluted with a
    // nested fresh build
    assert(new String(Files.readAllBytes(Paths.get(p, "t", "data")), "UTF-8")
      === "stale-partial")
    val names = Files.list(Paths.get(p)).iterator()
    while (names.hasNext) {
      val n = names.next().getFileName.toString
      assert(!n.contains(".tmp-"), s"fresh build nested into the stale dest as $n")
    }
  }
}
