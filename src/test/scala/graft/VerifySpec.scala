package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.faces.Face

/** [[Verify.dump]], the correctness dump `tools/check.py` grades, over two
  * tiny fake faces at sf0.001. */
class VerifySpec extends SparkSpec {

  private val sfDir = SparkSpec.Sf0001

  private val region = Face("region_rows", (s, d) => SparkEntry.t(s, d, "region"),
    "SELECT * FROM region")
  /** Fails while its frame is built, before any write, as a stream drive or
    * an eager `count()` inside a face can. */
  private val failing = Face("fails_eagerly", (s, d) => {
    SparkEntry.t(s, d, "region").count()
    throw new IllegalStateException("fails before the write")
  }, "SELECT 1 AS x")

  private def withOutDir(body: Path => Unit): Unit = {
    val out = Files.createTempDirectory("verify_spec")
    try body(out)
    finally Files.walk(out).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }

  test("a filtered run leaves no output for a face that fails, and keeps its siblings'") {
    withOutDir { out =>
      Verify.dump(spark, Seq(region, failing), sfDir, out.toString)
      assert(Files.isDirectory(out.resolve("region_rows")))
      assert(!Files.exists(out.resolve("fails_eagerly")))
      // an earlier run's output for the failing face
      Files.createDirectories(out.resolve("fails_eagerly"))
      Files.writeString(out.resolve("fails_eagerly/part-00000.parquet"), "stale")
      Verify.dump(spark, Seq(region, failing), sfDir, out.toString, only = Set("fails_eagerly"))
      assert(!Files.exists(out.resolve("fails_eagerly")),
        "a failed face's previous output would be graded as current")
      assert(Files.isDirectory(out.resolve("region_rows")),
        "a filtered run must keep the outputs of the faces it does not run")
    }
  }

  test("oracle_sql.json carries every face's oracle text exactly, control characters included") {
    val nasty = Face("nasty_oracle", region.run,
      "SELECT '\"quoted\"' AS a, 'back\\slash' AS b,\t'tab' AS c,\r\n'\u0001' AS d")
    withOutDir { out =>
      // a filtered run still writes the oracles of all faces
      Verify.dump(spark, Seq(nasty, region), sfDir, out.toString, only = Set("region_rows"))
      val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(out.resolve("oracle_sql.json").toFile, classOf[java.util.Map[String, String]])
      assert(parsed.asScala.toMap == Map(nasty.name -> nasty.oracle, region.name -> region.oracle))
      assert(!Files.exists(out.resolve("nasty_oracle")))
    }
  }
}
