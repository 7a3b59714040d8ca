package org.apache.spark.graft {
  /** The Hadoop configuration Spark builds for a context from its conf
    * (`SparkHadoopUtil` is `private[spark]`). */
  object SparkBuiltHadoopConf {
    def apply(conf: org.apache.spark.SparkConf): org.apache.hadoop.conf.Configuration =
      org.apache.spark.deploy.SparkHadoopUtil.get.newConfiguration(conf)
  }
}

package graft {

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{Text, WritableUtils}
import org.apache.spark.graft.SparkBuiltHadoopConf
import org.apache.spark.sql.graft.InternalBridge

/** The engine's Hadoop configuration records no per-key provenance
  * (`InternalBridge.dropKeyProvenance`), so Spark's serializations of it
  * carry keys and values only; the values themselves are unchanged. */
class HadoopConfProvenanceSpec extends SparkSpec {

  private def engineConf: Configuration = spark.sparkContext.hadoopConfiguration

  /** A `core-default.xml` key that no engine path sets. */
  private val DefaultKey = "hadoop.tmp.dir"

  private def values(conf: Configuration): Map[String, String] =
    conf.iterator.asScala.map(e => e.getKey -> e.getValue).toMap

  /** The keys whose serialized form (`Configuration.write`) carries a
    * source array. */
  private def keysWithSources(conf: Configuration): Set[String] = {
    val bytes = new ByteArrayOutputStream()
    conf.write(new DataOutputStream(bytes))
    val in = new DataInputStream(new ByteArrayInputStream(bytes.toByteArray))
    (0 until WritableUtils.readVInt(in)).flatMap { _ =>
      val key = Text.readString(in)
      Text.readString(in)
      Option(WritableUtils.readCompressedStringArray(in)).map(_ => key)
    }.toSet
  }

  private def newHadoopConf(): Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  private def sessionSqlKeys: Set[String] = spark.conf.getAll.keySet

  private def assertNoProvenance(): Unit = {
    val extra = keysWithSources(newHadoopConf()) -- sessionSqlKeys
    assert(extra.isEmpty, s"source arrays beyond the session's SQL keys: ${extra.take(5)}")
    assert(engineConf.get(DefaultKey) != null)
    assert(engineConf.getPropertySources(DefaultKey) == null)
    assert(keysWithSources(engineConf).isEmpty)
    // the context's conf, built again from the same SparkConf, has the
    // same keys and values; the session's shared state (built above) also
    // writes the resolved warehouse path into it
    val rebuilt = SparkBuiltHadoopConf(spark.sparkContext.getConf)
    rebuilt.set("hive.metastore.warehouse.dir", spark.conf.get("spark.sql.warehouse.dir"))
    val (got, want) = (values(engineConf), values(rebuilt))
    val differ = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
    assert(differ.isEmpty, differ.toSeq.sorted.take(10).map(k => s"$k: ${got.get(k)} vs ${want.get(k)}"))
  }

  test("Hadoop still has the field the engine empties") {
    // were it renamed, dropKeyProvenance would do nothing and the engine
    // would serialize every key's sources again
    assert(classOf[Configuration].getDeclaredField("updatingResource") != null)
  }

  test("engine session: no key provenance, values as Spark built them") {
    assertNoProvenance()
  }

  test("engine session: still no key provenance after reloadConfiguration()") {
    engineConf.reloadConfiguration()
    assertNoProvenance()
  }

  test("dropKeyProvenance keeps every value of a fresh Configuration, across a reload") {
    val fresh = new Configuration()
    val dropped = new Configuration()
    InternalBridge.dropKeyProvenance(dropped)
    InternalBridge.dropKeyProvenance(dropped) // idempotent
    assert(fresh.getPropertySources(DefaultKey).toSeq == Seq("core-default.xml"))
    assert(dropped.getPropertySources(DefaultKey) == null)
    assert(values(dropped) == values(fresh))
    assert(keysWithSources(fresh).size == values(fresh).size)
    assert(keysWithSources(dropped).isEmpty)
    dropped.reloadConfiguration()
    assert(values(dropped) == values(fresh))
    assert(keysWithSources(dropped).isEmpty)
    // a child records only what it sets itself
    val child = new Configuration(dropped)
    child.set("graft.spec.key", "v")
    assert(keysWithSources(child) == Set("graft.spec.key"))
    assert(child.getPropertySources("graft.spec.key").toSeq == Seq("programmatically"))
  }
}

}
