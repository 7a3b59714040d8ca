package graft.tools

import graft.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1-equivalent scale fixture builder (round-12 directive 6): replicates
  * the driver's sf0.1 tables N× (default 10×) with disjoint key spaces so
  * the top-cost faces can be measured at ~10× rows — sec-per-row scaling vs
  * sf0.1 exposes super-linear constant-factor cliffs (state volume, margin
  * duplication) that no sf0.1 gate can see. Semantics preserved per copy:
  *
  *  - every surrogate key (orderkey, custkey, doc_id, event_id, user_id,
  *    vec_id, …) shifts by copy·stride, so FK joins stay consistent and
  *    per-key group sizes / per-user stream lengths stay sf0.1-sized — the
  *    scale axis is MORE keys, the realistic 10× for a corpus/clickstream;
  *  - dimension tables (region, nation) are shared FK targets and copy 1×;
  *  - document TEXT is vowel-rotated per copy (length-preserving), so
  *    cross-copy shingle/minhash/jaccard similarity collapses — without it
  *    every doc would be a 10× near-dup cluster and pair-generating ops
  *    would super-linearly explode by CONSTRUCTION, not by plan;
  *  - event timestamps are kept, so time-windowed state (interval join,
  *    rolling) sees 10× traffic per unit time — exactly the state-volume
  *    axis a 100 TB/day stream scales along.
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir] [dstDir] [copies]
  */
object ScaleUp {

  /** Key stride between copies — far above any sf0.1 key. */
  val Stride = 100000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = Sessions.local()
    def t(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    def shift(c: String, i: Int) = (col(c) + lit(i * Stride)).as(c)
    // length-preserving per-copy text perturbation, UNIQUE for up to 105
    // copies (r16 directive 2): rotate the vowel set by i%5 and the
    // consonant set by i/5 — every copy index < 105 gets a distinct
    // (vowel, consonant) rotation pair, so cross-copy shingle/minhash/
    // jaccard similarity collapses at 100 copies the way the r15 5-way
    // vowel rotation only guaranteed at 5 (at 100 copies that formula
    // repeated each text verbatim 20x, flooding the pair-generating dedup
    // family with by-construction duplicate clusters). Copy 0 stays the
    // identity (original rows intact); whitespace, punctuation, digits and
    // uppercase are untouched, so token boundaries, lengths and
    // quality-score shapes survive.
    def rot(c: String, i: Int) = {
      val v = "aeiou"; val k = "bcdfghjklmnpqrstvwxyz"
      def r(s: String, n: Int) = s.drop(n % s.length) + s.take(n % s.length)
      translate(col(c), v + k, r(v, i % 5) + r(k, i / 5)).as(c)
    }

    def replicate(name: String, df: DataFrame)
                 (copy: (DataFrame, Int) => DataFrame): Unit = {
      val out = (0 until copies).map(i => copy(df, i)).reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name: ${df.count()} -> ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    // shared dimension tables: single copy (FK targets for every replica)
    Seq("region", "nation").foreach { n =>
      t(n).write.mode("overwrite").parquet(s"$dst/$n.parquet")
      println(s"[scaleup] $n: copied 1x (shared dimension)")
    }
    replicate("customer", t("customer"))((d, i) =>
      d.select(shift("c_custkey", i), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment")))
    replicate("supplier", t("supplier"))((d, i) =>
      d.select(shift("s_suppkey", i), col("s_name"), col("s_nationkey"),
        col("s_acctbal")))
    replicate("part", t("part"))((d, i) =>
      d.select(shift("p_partkey", i), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice")))
    replicate("orders", t("orders"))((d, i) =>
      d.select(shift("o_orderkey", i), shift("o_custkey", i),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")))
    replicate("lineitem", t("lineitem"))((d, i) =>
      d.select(shift("l_orderkey", i), shift("l_partkey", i),
        shift("l_suppkey", i), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate")))
    replicate("events", t("events"))((d, i) =>
      d.select(shift("event_id", i), col("ts"), shift("user_id", i),
        col("event_type"), col("value"), col("props")))
    replicate("documents", t("documents"))((d, i) =>
      d.select(shift("doc_id", i), rot("text", i), col("lang"),
        col("source"), col("n_chars")))
    replicate("embeddings", t("embeddings"))((d, i) =>
      d.select(shift("vec_id", i), col("embedding"), col("label")))
    spark.stop()
  }
}
