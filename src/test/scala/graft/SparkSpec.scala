package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites — one local SparkSession per JVM
  * (Sessions.local is getOrCreate, so suites share it). Nothing is
  * registered on it: the library's Column builders need no registry entry. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local("4")

  /** A session over the same context with [[GraftExtensions]] injected. Tests
    * that reach a kernel by its SQL name (`graft_*`) build their frames here. */
  lazy val extSpark: SparkSession = SparkSpec.extensionsSession(spark)

  def sf(name: String): org.apache.spark.sql.DataFrame =
    SparkEntry.t(spark, SparkSpec.Sf0001, name)
}

object SparkSpec {
  /** The sf0.001 test-data directory. */
  val Sf0001 = "/root/testdata/sf0.001"

  private var ext: SparkSession = _

  /** One [[GraftExtensions]] session per JVM over `base`'s context. The
    * builder only makes a new session when none is active or default, so
    * both are cleared for the build and restored after it. */
  def extensionsSession(base: SparkSession): SparkSession = synchronized {
    if (ext == null) {
      val prevDefault = SparkSession.getDefaultSession
      val prevActive = SparkSession.getActiveSession
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      try {
        ext = SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
        require(ext ne base, "the extensions session must be a new session")
      } finally {
        prevDefault.foreach(SparkSession.setDefaultSession)
        prevActive.foreach(SparkSession.setActiveSession)
      }
    }
    ext
  }
}
