package graft

import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}

/** Unicode normalization ([[graft.plans.NormalizeUnicodeExpr]]) and the
  * cleanup composite [[graft.functions.TextFunctions.cleanText]]. All
  * non-ASCII codepoints are written as escapes so the fixtures can't be
  * silently re-normalized by tooling. */
class UnicodeSpec extends SparkSpec {
  import spark.implicits._

  private val Decomposed = "cafe\u0301" // 'e' + COMBINING ACUTE
  private val Composed = "caf\u00e9" // LATIN SMALL E WITH ACUTE

  private def one(c: org.apache.spark.sql.Column): String =
    Seq(1).toDF("x").select(c.as("r")).first().getString(0)

  test("NFC composes combining sequences") {
    assert(one(T.normalizeUnicode(lit(Decomposed))) == Composed)
    // already-composed input is unchanged
    assert(one(T.normalizeUnicode(lit(Composed))) == Composed)
  }

  test("NFKC additionally folds compatibility characters") {
    assert(one(T.normalizeUnicode(lit("\ufb01le"), "NFKC")) == "file") // fi ligature
    assert(one(T.normalizeUnicode(lit("\uff21\uff22"), "NFKC")) == "AB") // fullwidth
    // NFC leaves compatibility chars alone
    assert(one(T.normalizeUnicode(lit("\ufb01le"), "NFC")) == "\ufb01le")
  }

  test("invalid form fails loudly") {
    val e = intercept[Exception] {
      Seq(1).toDF("x").select(T.normalizeUnicode(lit("a"), "NFX")).collect()
    }
    def mentions(t: Throwable): Boolean = t != null &&
      (t.getMessage != null && t.getMessage.contains("NFC/NFD/NFKC/NFKD") ||
        mentions(t.getCause))
    assert(mentions(e))
  }

  test("cleanText strips C0/DEL controls but keeps tab, newline, CR") {
    val dirty = "a\u0007b\u0000c\td\ne\rf\u001fg\u007fh"
    assert(one(T.cleanText(lit(dirty))) == "abc\td\ne\rfgh")
  }

  test("cleanText unifies composed and decomposed text for fingerprinting") {
    val df = Seq((Composed + " bar", 1), (Decomposed + " bar", 2)).toDF("text", "id")
    val fps = df.select(xxhash64(T.cleanText(col("text")))).distinct().count()
    assert(fps == 1, "composed and decomposed forms must fingerprint identically")
  }

  test("null text yields null") {
    val got = Seq((1, Option.empty[String])).toDF("id", "text")
      .select(T.cleanText(col("text"))).first()
    assert(got.isNullAt(0))
  }

  test("cleanText is idempotent on randomized unicode strings") {
    val rnd = new scala.util.Random(3)
    // letters, combining marks, ligature, controls, whitespace
    val pool = "ab\u0301\u00e9\ufb01\t\n\u00c5\u030a\u0007 "
    val rows = Seq.fill(300)((1 to 12).map(_ => pool(rnd.nextInt(pool.length))).mkString)
    val df = rows.toDF("text")
    val diff = df.select(T.cleanText(col("text")).as("c1"))
      .select(col("c1"), T.cleanText(col("c1")).as("c2"))
      .filter(col("c1") =!= col("c2")).count()
    assert(diff == 0, "cleanText must be idempotent")
  }
}
