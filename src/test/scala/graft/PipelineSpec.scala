package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalBridge
import graft.faces.Faces
import graft.functions.{TextFunctions => T, VectorFunctions => V}
import graft.plans.SimHash64Expr

/** Dedup / similarity / text / multimodal operator tests. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 0
    (2L, "completely different content about spark catalyst optimizer rules here"),
    (3L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup keeps smallest id per duplicate group") {
    val got = graft.dedup.Dedup.exact(docs, Seq("text"), "doc_id")
    assert(got.count() == 3)
    assert(!got.select("doc_id").as[Long].collect().contains(3L))
  }

  test("exact dedup: null order values participate nulls-first, no phantom rows") {
    val df = Seq((Option(5L), "a"), (Option.empty[Long], "a"), (Option(2L), "b"))
      .toDF("id", "text")
    val got = graft.dedup.Dedup.exact(df, Seq("text"), "id")
      .collect()
      .map(r => r.getString(1) -> (if (r.isNullAt(0)) None else Some(r.getLong(0))))
      .toMap
    // the null-id duplicate wins (nulls-first, the window orderBy default);
    // min_by's bare-ordering null-skip would instead emit an all-NULL row
    assert(got == Map("a" -> None, "b" -> Some(2L)), got.toString)
  }

  test("fingerprint dedup collapses case/punct/whitespace variants") {
    val variants = Seq((0L, "Hello,   World!"), (1L, "hello world"), (2L, "other")).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.byFingerprint(variants, "text", "doc_id")
    assert(got.count() == 2)
  }

  test("minhash LSH finds near-dup and exact-dup pairs, not distinct docs") {
    val pairs = graft.dedup.Dedup.minhashPairs(docs, "doc_id", "text",
        numHashes = 64, bands = 16, shingleK = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // exact dup: est = 1.0
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L))) // near-dup
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("simhash hamming ~0 for near-dups, large for distinct") {
    // the kernel Dedup.simhashPairs runs
    val sims = docs.select(col("doc_id"), InternalBridge.column(
        SimHash64Expr(InternalBridge.expression(T.tokens(col("text"))))).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(java.lang.Long.bitCount(sims(0L) ^ sims(3L)) == 0)
    assert(java.lang.Long.bitCount(sims(0L) ^ sims(1L)) <= 12)
    assert(java.lang.Long.bitCount(sims(0L) ^ sims(2L)) > 12)
  }

  test("ngram jaccard exact pairs match hand-computed value") {
    val pairs = graft.dedup.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleK = 3, threshold = 0.3)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 3L)) == 1.0)
    // doc0 vs doc1: 13 tokens, 11 3-shingles each, 10 shared -> 10/12
    assert(math.abs(pairs((0L, 1L)) - 10.0 / 12.0) < 1e-12)
  }

  test("prefix-filtered exact Jaccard == co-occurrence exact Jaccard (randomized)") {
    // docs built from a small vocabulary so shingles collide often (hot
    // shingles stress the prefix filter's exactness, boundary sizes stress
    // the length filter), plus exact dups and empty/short docs
    val rnd = new scala.util.Random(11)
    val words = Vector("a", "b", "c", "d", "e", "f")
    val base = (0L until 80L).map { i =>
      (i, (0 until 3 + rnd.nextInt(18)).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    }
    val docs2 = (base ++ Seq((80L, base(0)._2), (81L, "solo"), (82L, "a b")))
      .toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8, 1.0); k <- Seq(2, 3)) {
      def norm(df0: org.apache.spark.sql.DataFrame) =
        df0.select("id_a", "id_b", "jaccard").collect()
          .map(r => ((r.getLong(0), r.getLong(1)), math.round(r.getDouble(2) * 1e12)))
          .toMap
      val co = norm(graft.dedup.Dedup.ngramJaccardPairs(docs2, "doc_id", "text", k, t))
      val pf = norm(graft.dedup.Dedup.ngramJaccardPairsPrefix(docs2, "doc_id", "text", k, t))
      assert(co == pf, s"t=$t k=$k: cooccur ${co.size} pairs vs prefix ${pf.size}; " +
        s"only-co=${co.keySet -- pf.keySet} only-pf=${pf.keySet -- co.keySet}")
    }
  }

  test("sorted-merge intersection: exact size for passers, -1 only for provable failures") {
    val rnd = new scala.util.Random(7)
    val cases = (0 until 200).map { _ =>
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      (a, b)
    } :+ ((Seq.empty[Long], Seq(1L, 2L))) :+ ((Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)))
    for (t <- Seq(0.3, 0.5, 0.8, 1.0)) {
      val df0 = cases.toDF("a", "b")
      val got = df0.select(graft.plans.SketchExprs.sortedInterSize(col("a"), col("b"), t).as("i"))
        .collect().map(_.getInt(0))
      cases.zip(got).foreach { case ((a, b), g) =>
        val inter = a.toSet.intersect(b.toSet).size
        val na = a.size; val nb = b.size
        val passes = na + nb - inter > 0 &&
          inter.toDouble / (na + nb - inter) >= t
        if (passes) assert(g == inter, s"t=$t a=$a b=$b: passer must be exact, got $g")
        else assert(g == inter || g == -1, s"t=$t a=$a b=$b: got $g expected $inter or -1")
        // -1 must never hide a passer (checked above), and when it fires the
        // pair must genuinely be below threshold
        if (g == -1) assert(!passes)
      }
    }
  }

  test("native graft_shingles == HOF shingles (randomized, incl. short docs)") {
    val ext = extSpark; import ext.implicits._
    val rnd = new scala.util.Random(7)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "x", "yy")
    val texts = (0 until 60).map { i =>
      // lengths 0..20 straddle the k boundary on both sides
      (0 until rnd.nextInt(21)).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    } :+ "" :+ "one" :+ "one two three four five"
    for (k <- Seq(1, 3, 5)) {
      val df = texts.toDF("text").select(
        T.shingles(T.tokens(col("text")), k).as("hof"),
        call_function("graft_shingles", T.tokens(col("text")), lit(k), lit(false)).as("nat"),
        array_sort(array_distinct(T.shingles(T.tokens(col("text")), k))).as("hof_d"),
        array_sort(call_function("graft_shingles", T.tokens(col("text")), lit(k), lit(true))).as("nat_d"))
      val bad = df.filter(col("hof") =!= col("nat") || col("hof_d") =!= col("nat_d"))
      assert(bad.count() == 0, s"k=$k mismatch: ${bad.collect().mkString("; ")}")
    }
  }

  test("graft_shingle_hashes == xxhash64 of string shingles; fused minhash identical") {
    val ext = extSpark; import ext.implicits._
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val texts = (0 until 40).map { _ =>
      (0 until rnd.nextInt(15)).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    } :+ "" :+ "one" :+ "one two three"
    for (k <- Seq(1, 3, 5)) {
      val df = texts.toDF("text").select(
        array_sort(call_function("graft_shingle_hashes", T.tokens(col("text")), lit(k))).as("h"),
        // xxhash64(col) seeds with 42 like the expression's internal hash
        array_sort(array_distinct(transform(
          call_function("graft_shingles", T.tokens(col("text")), lit(k), lit(false)),
          s => xxhash64(s)))).as("ref"),
        call_function("graft_minhash",
          call_function("graft_shingle_hashes", T.tokens(col("text")), lit(k)), lit(32)).as("sig_h"),
        call_function("graft_minhash",
          call_function("graft_shingles", T.tokens(col("text")), lit(k), lit(true)), lit(32)).as("sig_s"))
      val bad = df.filter(col("h") =!= col("ref") || col("sig_h") =!= col("sig_s"))
      assert(bad.count() == 0, s"k=$k: ${bad.collect().take(3).mkString("; ")}")
    }
  }

  test("repetition signals: dup-line fractions, top-ngram share, gopher gate") {
    val T = graft.functions.TextFunctions
    val docs = Seq(
      // 4 lines, "dup dup" twice: dup_line_frac=1/4, dup chars 14/(7+7+7+5)
      (1L, "dup dup\nuni one\ndup dup\nthree"),
      // no newline, no repeated 2-gram ("a b c d": 3 distinct 2-grams)
      (2L, "a b c d"),
      // heavy 2-gram repetition: "x y x y x y" -> 2-grams x_y,y_x,x_y,y_x,x_y -> top 3/5
      (3L, "x y x y x y"),
      (4L, ""),            // empty: all fractions 0.0
      (5L, "single"),      // 1 token < n: one whole-doc shingle, share 1.0
    ).toDF("doc_id", "text")
    val r = docs.select(col("doc_id"),
        T.dupLineFraction(col("text")).as("dlf"),
        T.dupLineCharFraction(col("text")).as("dlcf"),
        T.topNgramShare(col("text"), 2).as("t2"),
        T.repetitionOk(col("text")).as("ok"))
      .collect().map(row => row.getLong(0) ->
        (row.getDouble(1), row.getDouble(2), row.getDouble(3), row.getBoolean(4))).toMap
    assert(r(1L) == ((1.0 / 4, 14.0 / 26, 2.0 / 6, false)))
    assert(r(2L) == ((0.0, 0.0, 1.0 / 3, false))) // top2 1/3 > 0.20 -> fails gate
    assert(r(3L)._3 == 3.0 / 5 && !r(3L)._4)
    assert(r(4L) == ((0.0, 0.0, 0.0, true)))
    assert(r(5L)._3 == 1.0)
  }

  test("dup-ngram char fractions: hand-computed, codepoint counting, edges") {
    val cases = Seq(
      // "a b","b a","a b","b c" -> "a b" x2 of 4 grams, all len 3: 6/12
      (1L, "a b a b c"),
      // 10 toks, 6 5-gram windows, "x y z w v" twice: 18/54 = 1/3
      (2L, "x y z w v x y z w v"),
      (3L, ""),          // empty: 0.0
      (4L, "a b"),       // < n tokens: single whole shingle, count 1 -> 0.0
      // codepoint counting: "😀😀 x" = 4 codepoints (not 6 chars)
      (5L, "😀😀 x 😀😀 x"),
    ).toDF("doc_id", "text")
    val r = cases.select(col("doc_id"),
        T.dupNgramCharFraction(col("text"), 2).as("d2"),
        T.dupNgramCharFraction(col("text"), 5).as("d5"))
      .collect().map(row => row.getLong(0) -> (row.getDouble(1), row.getDouble(2))).toMap
    assert(r(1L)._1 == 6.0 / 12)
    assert(r(2L)._2 == 18.0 / 54)
    assert(r(3L) == ((0.0, 0.0)))
    assert(r(4L)._2 == 0.0)
    assert(r(5L)._1 == 8.0 / 12) // 3 2-gram windows of 4 codepoints, top one twice
    // null text -> null profile (null-intolerant expression)
    val nullRow = Seq((0L, Option.empty[String])).toDF("doc_id", "text")
      .select(T.dupNgramCharFraction(col("text"), 5).as("d")).head()
    assert(nullRow.isNullAt(0))
  }

  test("dup-ngram profile: native == HOF formulation on randomized docs") {
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "longword", "x")
    val docsR = (0 until 40).map { i =>
      val base = Vector.fill(rnd.nextInt(50) + 1)(vocab(rnd.nextInt(vocab.size)))
      // inject a repeated phrase in half the docs so dup fractions are nonzero
      val phrase = Vector.fill(rnd.nextInt(8) + 3)(vocab(rnd.nextInt(vocab.size)))
      val words = if (i % 2 == 0) base ++ phrase ++ base.take(3) ++ phrase else base
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val bad = docsR.select(col("doc_id"),
        T.dupNgramProfile(col("text"), 5, 7).as("p"),
        T.dupNgramCharFractionHof(col("text"), 5).as("h5"),
        T.dupNgramCharFractionHof(col("text"), 6).as("h6"),
        T.dupNgramCharFractionHof(col("text"), 7).as("h7"))
      .filter(col("p.dup5_frac") =!= col("h5") ||
        col("p.dup6_frac") =!= col("h6") || col("p.dup7_frac") =!= col("h7"))
    assert(bad.count() == 0, bad.collect().take(3).mkString("; "))
  }

  test("gopher repetition gate: full §A1.2 verdict") {
    val phrase = "one two three four five six seven eight nine ten"
    val clean = (1 to 40).map(i => s"w$i").mkString(" ") // all-distinct tokens
    val docsG = Seq(
      (1L, clean),
      (2L, (phrase + " ") * 8 + clean), // repeated 10-gram dominates -> drop
    ).toDF("doc_id", "text")
    val got = docsG.select(col("doc_id"), T.gopherRepetitionOk(col("text")).as("ok"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> true, 2L -> false))
  }

  /** A result cell in tools/check.py's comparison domain: integers as
    * Long, floats as Double (compared exactly), decimals without trailing
    * zeros, timestamps as naive local date-times. */
  private def cell(v: Any): Any = v match {
    case null => null
    case x: java.lang.Integer => x.longValue
    case x: java.math.BigInteger => x.longValueExact
    case x: java.lang.Float => x.doubleValue
    case x: java.math.BigDecimal => x.stripTrailingZeros
    case x: java.sql.Timestamp => x.toLocalDateTime
    case x => x
  }

  /** The rows of a result as check.py compares them: columns sorted by
    * name, rows sorted by all columns. */
  private def canonical(rows: Seq[Seq[Any]]): Seq[Seq[Any]] =
    rows.map(_.map(cell)).sortBy(_.map(c => String.valueOf(c)).mkString("\u0001"))

  /** Runs `names` at sf0.001 and against their DuckDB oracles, and returns
    * the faces whose results differ under check.py's comparison rule. */
  private def oracleMismatches(names: Seq[String]): Seq[String] = {
    val sfDir = "/root/testdata/sf0.001"
    val conn = java.sql.DriverManager.getConnection("jdbc:duckdb:")
    try {
      val st = conn.createStatement()
      Seq("events", "documents").foreach(t =>
        st.execute(s"CREATE VIEW $t AS SELECT * FROM '$sfDir/$t.parquet'"))
      names.filter { name =>
        val face = Faces(name)
        val df = face.run(spark, sfDir)
        val cols = df.columns.toSeq.sorted
        val got = canonical(df.select(cols.map(col): _*).collect().toSeq
          .map(r => cols.indices.map(r.get)))
        val rs = st.executeQuery(face.oracle)
        val md = rs.getMetaData
        val wantCols = (1 to md.getColumnCount).map(md.getColumnLabel).sorted
        val want = canonical(Iterator.continually(rs).takeWhile(_.next())
          .map(r => wantCols.map(c => r.getObject(c): Any)).toSeq)
        val ok = cols == wantCols && got == want
        if (!ok) println(s"[parity] $name: columns $cols vs $wantCols, " +
          s"${got.length} vs ${want.length} rows, first diff " +
          got.zip(want).find(p => p._1 != p._2).getOrElse("(row count)"))
        !ok
      }
    } finally conn.close()
  }

  test("qd52 matches its DuckDB oracle value-for-value at sf0.001") {
    val bad = oracleMismatches(Seq("qd52_dup_ngrams"))
    assert(bad.isEmpty, s"faces differing from their DuckDB oracle: ${bad.mkString(", ")}")
  }

  // every face whose run function or oracle SQL text is shared with another
  // face (interval joins, continuous as-of, the quality-selection pipeline,
  // and the Jaccard/components/decontamination/span-dedup/HTML/perplexity/
  // DSIR oracle fragments)
  private val parityFaces = Seq(
    "q21_asof_backward", "q49_pipeline_dedup_keeplist",
    "q53_pipeline_clean_pack", "q54_pipeline_crawl",
    "q73_sessionize_stream", "q75_asof_stream", "q76_asof_stream_fwd",
    "q77_interval_join_stream", "q77s_interval_join_sized",
    "q78_interval_join_outer", "q79_interval_join_full",
    "q82_interval_join_right", "q83_interval_join_full_sink",
    "qd03_ngram_jaccard", "qd10_dedup_components", "qd16_jaccard_prefix",
    "qd18_decontaminate", "qd22_mixture", "qd23_pack_global", "qd28_span_dedup",
    "qd34_decontaminate_bloom", "qd36_dsir_weights", "qd37_dsir_select", "qd39_perplexity",
    "qd41_pipeline_quality_select", "qd41h_pipeline_quality_select_hashed",
    "qd42_temperature_mixture", "qd43_html_extract", "qd47_pack_spans",
    "qd53_leakage_safe_split")

  test("faces sharing a run or oracle fragment match DuckDB exactly at sf0.001") {
    val bad = oracleMismatches(parityFaces)
    assert(bad.isEmpty, s"faces differing from their DuckDB oracle: ${bad.mkString(", ")}")
  }

  test("URL canonicalization: scheme/host/port/www/tracking/fragment/trailing slash") {
    val U = graft.functions.UrlFunctions
    val cases = Seq(
      ("https://WWW.Ex.COM:443/A/b/?utm_source=t&z=1&a=2#f", "https://ex.com/A/b?a=2&z=1", "ex.com", "ex.com"),
      ("http://sub.Site.org:80/", "http://sub.site.org/", "sub.site.org", "site.org"),
      ("http://site.org:8080/x", "http://site.org/x", "site.org", "site.org"),
      ("site.org/x?fbclid=abc", "site.org/x", "site.org", "site.org"), // schemeless
      ("https://a.b.c.example.com", "https://a.b.c.example.com/", "a.b.c.example.com", "example.com"),
      ("https://ex.com/p?gclid=1&utm_medium=m", "https://ex.com/p", "ex.com", "ex.com"),
    ).toDF("url", "e_norm", "e_host", "e_domain")
    val bad = cases.select(
        U.normalize(col("url")).as("n"), col("e_norm"),
        U.host(col("url")).as("h"), col("e_host"),
        U.domain(col("url")).as("d"), col("e_domain"))
      .filter(col("n") =!= col("e_norm") || col("h") =!= col("e_host") || col("d") =!= col("e_domain"))
    assert(bad.count() == 0, bad.collect().mkString("; "))

    // dedup keeps the smallest-order row per canonical URL
    val docs = Seq(
      (1L, "https://EX.com/p?utm_source=a"),
      (2L, "http://ex.com:80/p"),   // different scheme -> different canonical url
      (3L, "https://www.ex.com:443/p/"),  // same canonical as 1
      (4L, "https://ex.com/q"),
    ).toDF("id", "url")
    val kept = U.dedupByUrl(docs, "url", "id").select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 4L))
  }

  test("PII redaction: emails/IPv4/phones replaced, boundaries respected") {
    val T = graft.functions.TextFunctions
    val rows = Seq(
      ("mail a.b+c@sub.ex.org here", "mail <EMAIL> here"),
      ("ip 192.168.1.1 and 1.2.3.4.", "ip <IP> and <IP>."),
      ("call +4915123456789 now", "call <PHONE> now"),
      ("+123456 too short", "+123456 too short"),        // 6 digits: kept
      ("v1.2.3 not an ip", "v1.2.3 not an ip"),          // only 3 groups
      ("x@y.io or 10.0.0.7 or +1234567", "<EMAIL> or <IP> or <PHONE>"),
    ).toDF("t", "expect")
    val bad = rows.filter(T.redactPii(col("t")) =!= col("expect"))
    assert(bad.count() == 0, bad.collect().mkString("; "))
  }

  test("HTML extraction: invisible elements, comments, tags, entities, whitespace") {
    val cases = Seq(
      // script/style vanish WITH contents; block boundaries become lines
      (0L, "<p>a</p><script>var x = '<b>bait</b>';</script><div>b</div>", "a\nb"),
      (1L, "<style type=\"text/css\">p > a { color: red }</style>ok.", "ok."),
      // multi-line comment; doctype; <br> is a line break
      (2L, "<!DOCTYPE html><!-- multi\nline\ncomment -->x<br/>y", "x\ny"),
      // entity decoding with &amp; LAST: &amp;lt; single-decodes to &lt;
      (3L, "Tom &amp; Jerry &lt;3 &quot;hi&quot; &#39;s&#39;&nbsp;end &amp;lt;", "Tom & Jerry <3 \"hi\" 's' end &lt;"),
      // case-insensitive SCRIPT; adjacent scripts don't merge (non-greedy)
      (4L, "<SCRIPT>a</SCRIPT>keep<script>b</script>.", "keep ."),
      // horizontal whitespace collapses per line; raw newline runs -> one
      (5L, "  a\t\tb\n\nc\fd  ", "a b\nc d"),
      // documented limitation: '>' inside an attribute value ends the tag
      (6L, "<a title=\"x>y\">link</a>", "y\">link"),
      (7L, null, null),
      // inline tags stay spaces, block structure becomes lines
      (8L, "<ul><li>one thing.</li><li>two <b>bold</b> things.</li></ul>done.",
        "one thing.\ntwo bold things.\ndone."))
    val got = cases.map(c => (c._1, c._2)).toDF("id", "html")
      .select(col("id"), T.htmlToText(col("html")).as("t"))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    cases.foreach { case (id, _, want) =>
      assert(got(id) == want, s"case $id: got '${got(id)}' want '$want'") }
  }

  test("blocklist: Aho-Corasick pass == per-phrase contains (randomized, nested)") {
    // nested and overlapping phrases stress the suffix output links; "kq"
    // plus the Kelvin/İ frags pin the lower()-parity fold (U+212A -> k,
    // U+0130 -> i + combining dot)
    val phrases = Seq("ab", "abc", "bc", "c", "bad phrase", "phrase one",
      "xyz", "kq", "ai")
    val rnd = new scala.util.Random(48)
    val frags = Array("a", "ab", "abc", "abcd", "b", "bc", "c", " ", "bad",
      "phrase", "one", "bad phrase one", "AB", "ABC", "İ", "K", "x", "xy",
      "xyz", "zzz", "", "KQ", "Aİ", "AİB")
    val docs = (1L to 400L).map { id =>
      (id, if (id % 97 == 0) null
      else Seq.fill(rnd.nextInt(10))(frags(rnd.nextInt(frags.length)))
        .mkString(frags(rnd.nextInt(frags.length))))
    }
    val df = docs.toDF("id", "text")
    val native = df.select(col("id"),
        T.blocklistHits(col("text"), phrases).as("h"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val declared = df.select(col("id"),
        when(col("text").isNotNull, size(filter(lit(phrases.toArray),
          p => contains(lower(col("text")), p)))).as("h"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(native === declared)
    // golden: "abcd" contains ab, abc, bc, c -> 4 distinct phrases
    val g = extSpark.sql("SELECT graft_blocklist_hits('abcd', array('ab','abc','bc','c','bad phrase','phrase one','xyz')) AS h")
      .head().getInt(0)
    assert(g == 4)
  }

  test("dup-paragraph signals: blank-line blocks, inner newlines fold to spaces") {
    val got = Seq(
      // para A repeated (with DIFFERENT inner line structure - must still
      // match after the fold), one unique para: 2 of 3 paras dup
      (1L, "aa bb\ncc\n\naa\nbb cc\n\nunique here"),
      (2L, "no blank lines\njust one para"),
      (3L, ""))
      .toDF("id", "text")
      .select(col("id"),
        T.dupParagraphFraction(col("text")).as("f"),
        T.dupParagraphCharFraction(col("text")).as("cf"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got(1L)._1 == 1.0 / 3, got(1L)) // (3 paras - 2 distinct) / 3
    assert(got(1L)._2 == 16.0 / (16 + 11), "char-weighted: 2x'aa bb cc'=16 of 27")
    assert(got(2L) == ((0.0, 0.0)), "single paragraph, no dups")
    assert(got(3L) == ((0.0, 0.0)), "empty doc")
  }

  test("sentence segmentation: punctuation runs, trimming, heuristic edges") {
    val got = Seq(
      (1L, "First one. Second two!  Third three?No gap. tail"),
      (2L, "what?! ok... done."),
      (3L, "e.g. split here"), // documented heuristic: abbreviations split
      (4L, ""), (5L, null))
      .toDF("id", "text")
      .select(col("id"), T.sentences(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(1L).get == Seq("First one.", "Second two!",
      "Third three?No gap.", "tail"), got(1L))
    assert(got(2L).get == Seq("what?!", "ok...", "done."))
    assert(got(3L).get == Seq("e.g.", "split here"))
    assert(got(4L).get == Seq())
    assert(got(5L).isEmpty)
  }

  test("sentence dedup: first (doc, position) wins; short sentences survive") {
    val got = graft.dedup.Dedup.sentenceDedupGlobal(Seq(
        (1L, "Common boilerplate here. Unique alpha text."),
        (2L, "Common boilerplate here. Unique beta text. Hi."),
        (3L, "Hi. Common boilerplate here."))
        .toDF("doc_id", "text"), "doc_id", "text", minChars = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "Common boilerplate here. Unique alpha text.")
    assert(got(2L) == "Unique beta text. Hi.", "dup sentence removed, short 'Hi.' kept")
    assert(got(3L) == "Hi.", "dup removed even at different position")
  }

  test("gopher stats: native one-pass == declarative formulation (randomized)") {
    val ext = extSpark; import ext.implicits._
    val rnd = new scala.util.Random(44)
    val frags = Array("the", "be", "to", "of", "and", "that", "have", "with",
      "word", "xx", "#", "...", "…", "•", "- ", "a.", "ok...", "line…", "\t",
      "the the", "12345", "---", "e.g.", "....", "w#w", "a😀b", "𝄞note")
    val docs = (1L to 300L).map { id =>
      val text = Seq.fill(rnd.nextInt(25))(frags(rnd.nextInt(frags.length)))
        .mkString(Seq(" ", " ", "\n", " \n- ")(rnd.nextInt(4)))
      (id, if (id % 89 == 0) null else text)
    } :+ (9001L, "") :+ (9002L, "• bullet line...\n- dash bullet…\nplain the of.")
    val df = docs.toDF("id", "text")
    val tw = T.tokens(col("text"))
    val lns = split(col("text"), "\n", -1)
    val declared = df.select(col("id"),
      size(tw).cast("long").as("n_words"),
      aggregate(transform(tw, w => length(w)), lit(0L), (a, b) => a + b).as("word_chars"),
      size(filter(tw, w => w.rlike("[A-Za-z]"))).cast("long").as("alpha_words"),
      // the literal-array filter is not null-preserving on its own
      when(col("text").isNotNull, size(filter(
        lit(graft.plans.GopherStatsExpr.Stopwords),
        sw => array_contains(tw, sw)))).cast("long").as("stop_hits"),
      size(lns).cast("long").as("n_lines"),
      size(filter(lns, l => l.startsWith("•") || l.startsWith("- "))).cast("long").as("bullet_lines"),
      size(filter(lns, l => l.endsWith("...") || l.endsWith("…"))).cast("long").as("ellipsis_lines"),
      ((length(col("text")) - length(replace(col("text"), lit("#"), lit("")))) +
        (length(col("text")) - length(replace(col("text"), lit("..."), lit("")))) / 3 +
        (length(col("text")) - length(replace(col("text"), lit("…"), lit("")))))
        .cast("long").as("symbols"))
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val native = df.select(col("id"), call_function("graft_gopher_stats", col("text")).as("g"))
      .select(col("id"), col("g.n_words"), col("g.word_chars"), col("g.alpha_words"),
        col("g.stop_hits"), col("g.n_lines"), col("g.bullet_lines"),
        col("g.ellipsis_lines"), col("g.symbols"))
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    docs.foreach { case (id, _) =>
      assert(native(id) === declared(id), s"doc $id") }
  }

  test("gopherQuality: verdict thresholds and word-less documents") {
    val fifty = (1 to 50).map(i => s"them of and word$i").mkString(" ")
    val got = graft.prep.Prep.gopherQuality(
        Seq((1L, fifty), (2L, ""), (3L, "#### # ## #")).toDF("id", "text"), "text")
      .select("id", "gopher_keep", "n_words")
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(got(1L)._1 === true && got(1L)._2 === 200L)
    assert(got(2L) === ((false, 0L)), "empty doc: keep false, not null")
    assert(got(3L)._1 === false, "symbol spam fails")
    // word-less doc stays FALSE (not null) even when minWords = 0 — the
    // null ratios must not leak a null verdict
    val zero = graft.prep.Prep.gopherQuality(
        Seq((1L, "")).toDF("id", "text"), "text", minWords = 0L)
      .select("gopher_keep").collect().head
    assert(!zero.isNullAt(0) && !zero.getBoolean(0))
  }

  test("vocab builder: corpus word-count with floor") {
    val docs = Seq("a b a", "b c b", "a").toDF("text")
    val v = graft.functions.TextFunctions.vocab(docs, "text", minCount = 2L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v == Map("a" -> 3L, "b" -> 3L)) // c appears once -> floored out
  }

  test("streaming data-prep: stateless gates + watermarked fingerprint dedup match batch") {
    // the q51 pipeline stages are Column expressions, so they lift to
    // Structured Streaming unchanged: project/filter stages stay stateless,
    // only the dedup needs watermarked state
    import org.apache.spark.sql.types._
    val T = graft.functions.TextFunctions
    val base = java.nio.file.Files.createTempDirectory("prep_stream").toString
    val mkTs = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val docs = Seq(
      (1L, mkTs(0), "the cat sat on the mat and it was glad for the day"),
      (2L, mkTs(1), "the cat sat on the mat and it was glad for the day"),  // exact dup of 1
      (3L, mkTs(2), "The cat sat on the mat, and it was GLAD for the day"), // fp-dup of 1
      (4L, mkTs(3), "x y x y x y x y x y x y x y x y x y x y"),             // repetition-gated
      (5L, mkTs(4), "the dog ran over the hill and it kept running for a while today ok"),
    ).toDF("doc_id", "ts", "text")
    docs.write.mode("overwrite").parquet(s"$base/in")

    def prep(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("clean", T.redactPii(col("text")))
        .filter(T.repetitionOk(col("clean")) && T.tokenCount(col("clean")) >= 10)
        .withColumn("__fp", T.fingerprint(col("clean")))

    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", TimestampType), StructField("text", StringType)))
    val stream = prep(spark.readStream.schema(schema).parquet(s"$base/in"))
    val deduped = graft.streaming.StreamOps.dedupStream(stream, Seq("__fp"), "ts", "10 minutes")
    val q = graft.streaming.StreamOps.sinkFileStream(deduped.drop("__fp"), "parquet",
      s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(s"$base/out").select("doc_id").as[Long].collect().toSet

    // batch reference: same gates, keep-one per fingerprint
    val batch = graft.dedup.Dedup.exact(prep(docs), Seq("__fp"), "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(batch == Set(1L, 5L), s"batch kept $batch")
    assert(got.size == batch.size && (got - 1L - 2L - 3L) == Set(5L),
      s"stream kept $got") // dedupStream keeps the FIRST arrival per fp (any of 1/2/3)
  }

  test("streaming crawl extraction: htmlToText -> c4Clean -> gopherQuality match batch") {
    // the round-6 crawl gates are Column expressions / narrow native
    // kernels, so they lift to Structured Streaming with zero state
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("crawl_stream").toString
    val goodBody = (1 to 60).map(i => s"the of and that word$i line.").mkString("\n")
    val docs = Seq(
      (1L, s"<html><script>junk</script><body>$goodBody</body></html>"),
      (2L, "<p>too short.</p>"),
      (3L, s"<div>$goodBody</div><p>lorem ipsum.</p>")).toDF("doc_id", "html")
    docs.write.mode("overwrite").parquet(s"$base/in")

    def prep(df: org.apache.spark.sql.DataFrame) =
      graft.prep.Prep.gopherQuality(
        graft.prep.Prep.c4Clean(
          df.withColumn("text", T.htmlToText(col("html"))), "text")
          .withColumnRenamed("keep", "c4_keep"),
        "kept_text")
        .select(col("doc_id"), col("c4_keep"), col("gopher_keep"))

    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("html", StringType)))
    val q = graft.streaming.StreamOps.sinkFileStream(
      prep(spark.readStream.schema(schema).parquet(s"$base/in")),
      "parquet", s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.parquet(s"$base/out")
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    val batch = prep(docs)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(got === batch)
    assert(batch(1L) === ((true, true)), "clean page passes both gates")
    assert(batch(2L)._1 === false, "short page fails C4")
  }

  test("langId picks the dominant stopword language deterministically") {
    val df = Seq(
      "the cat sat on the mat and it was happy",
      "der hund ist nicht auf der couch und das ist gut",
      "xyzzy plugh qwerty").toDF("text")
    val got = df.select(T.langId(col("text"))).as[String].collect()
    assert(got(0) == "en" && got(1) == "de" && got(2) == "und")
  }

  test("native dup-line stats == HOF (randomized multiline docs, empty/dup-heavy)") {
    val rnd = new scala.util.Random(31)
    val linePool = Seq("header nav", "footer", "unique " , "a", "", "long boilerplate line here")
    val texts = (0 until 120).map { i =>
      (0 until rnd.nextInt(12)).map(_ => linePool(rnd.nextInt(linePool.size)) +
        (if (rnd.nextInt(4) == 0) i.toString else "")).mkString("\n")
    } :+ "" :+ "\n\n\n" :+ "same\nsame\nsame"
    val bad = texts.toDF("text").select(
        T.dupLineFraction(col("text")).as("nf"), T.dupLineFractionHof(col("text")).as("hf"),
        T.dupLineCharFraction(col("text")).as("nc"), T.dupLineCharFractionHof(col("text")).as("hc"))
      .filter(col("nf") =!= col("hf") || col("nc") =!= col("hc"))
    assert(bad.count() == 0, bad.collect().take(5).mkString("; "))
  }

  test("native langId == HOF langId (randomized, incl. ties and shared stopwords)") {
    val rnd = new scala.util.Random(23)
    // pool mixes all dictionaries (incl. es/fr-shared "que", es "de") plus
    // noise and case/whitespace variation; ties exercise first-max order
    val pool = T.Stopwords.flatMap(_._2) ++ Seq("xyz", "Qwerty", "", "  ", "THE", "Der", "que")
    val texts = (0 until 200).map { _ =>
      (0 until rnd.nextInt(12)).map(_ => pool(rnd.nextInt(pool.size)))
        .mkString(if (rnd.nextBoolean()) " " else "\t")
    }
    val bad = texts.toDF("text")
      .select(T.langId(col("text")).as("nat"), T.langIdHof(col("text")).as("hof"))
      .filter(col("nat") =!= col("hof"))
    assert(bad.count() == 0, bad.collect().take(5).mkString("; "))
  }

  test("token counts: whitespace vs BPE-ish regex") {
    val df = Seq("Hello world, it's 2024!").toDF("text")
    val got = df.select(T.tokenCount(col("text")), T.bpeTokenCount(col("text"))).collect()(0)
    assert(got.getInt(0) == 4)
    // Hello| world|,| it|'s| 2024|! -> 7
    assert(got.getInt(1) == 7)
  }

  test("quality score ranges and orders sensibly") {
    val df = Seq(
      ("good", "the cat sat on the mat and it was very happy today friends"),
      ("bad", "!!! ??? ### $$$ %%%")).toDF("tag", "text")
    val got = df.select(col("tag"), T.qualityScore(col("text")).as("q"))
      .as[(String, Double)].collect().toMap
    assert(got("good") > 0.8 && got("bad") < 0.5)
    assert(got.values.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("cosine: HOF vs native codegen expression agree bit-exactly") {
    // graft_cosine is reached by name: the frame lives on the extensions session
    val emb = sf("embeddings")
    val e = extSpark.createDataFrame(java.util.Arrays.asList(emb.collect(): _*), emb.schema)
    val pairs = e.alias("a").join(e.alias("b"),
        col("a.vec_id") + 100 === col("b.vec_id"))
      .select(V.cosine(col("a.embedding"), col("b.embedding")).as("hof"),
        call_function("graft_cosine", col("a.embedding"), col("b.embedding")).as("native"))
    assert(pairs.filter(col("hof") =!= col("native")).count() == 0)
    assert(pairs.count() > 100)
  }

  test("brute-force top-k is exact and deterministic") {
    val e = sf("embeddings")
    val got = graft.similarity.Ann.bruteForceTopK(e, e.filter(col("vec_id") === 0), k = 3)
    val rows = got.orderBy("rank").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getInt(3)).toSeq == Seq(1, 2, 3))
    assert(rows(0).getDouble(2) >= rows(1).getDouble(2))
  }

  test("LSH ANN recall improves with probe radius; radius-2 >= 50%") {
    val e = sf("embeddings")
    val q = e.filter(col("vec_id") < 10)
    val exact = graft.similarity.Ann.bruteForceTopK(e, q, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallAt(radius: Int): Double = {
      val approx = graft.similarity.Ann.lshTopK(e, q, k = 5, dim = 64, nBits = 4,
          probeRadius = radius)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (exact & approx).size.toDouble / exact.size
    }
    val r1 = recallAt(1); val r2 = recallAt(2)
    assert(r2 >= r1, s"r1=$r1 r2=$r2")
    assert(r2 >= 0.5, s"radius-2 recall $r2")
  }

  test("embeddingLshPairs: exact precision, useful recall without block column") {
    val e = sf("embeddings")
    // exact reference: all-pairs cosine over a constant block
    val exact = graft.dedup.Dedup.embeddingCosinePairs(
        e.withColumn("__one", lit(1)), "vec_id", "embedding", "__one", 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = graft.dedup.Dedup.embeddingLshPairs(e, "vec_id", "embedding",
        dim = 64, threshold = 0.35, bandBits = 2, bands = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "precision must be exact (cosine filter)")
    assert(exact.nonEmpty)
    val recall = (exact & lsh).size.toDouble / exact.size
    // p_bit(cos .35) ≈ .614 → per-band .38, any-of-4 ≈ .85 expected
    assert(recall >= 0.6, s"recall $recall with 4 bands x 2 bits on tau=0.35 pairs")
  }

  test("quantileApprox tracks exact quantile within sketch error") {
    val df = (1 to 10000).map(_.toDouble).toDF("v")
    val got = df.agg(
      graft.functions.Quantiles.quantile(col("v"), 0.5).as("exact"),
      graft.functions.Quantiles.quantileApprox(col("v"), 0.5).as("approx"))
      .collect()(0)
    assert(math.abs(got.getDouble(0) - got.getDouble(1)) <= 10.0,
      s"exact=${got.getDouble(0)} approx=${got.getDouble(1)}")
  }

  test("multimodal: media table + partition-parallel stub decode") {
    val media = graft.multimodal.Multimodal.asMediaTable(
      docs.withColumn("bin", col("text").cast("binary")), "doc_id", "bin")
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "payload", "meta"))
    val feats = graft.multimodal.Multimodal.decodeFeatures(media, featureDim = 8)
    val rows = feats.select(col("media_id"), col("features")).collect()
    assert(rows.forall(_.getSeq[Float](1).length == 8))
    // deterministic: same payload -> same features (docs 0 and 3 identical)
    val byId = rows.map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(byId(0L) == byId(3L))
    val frames = graft.multimodal.Multimodal.sampleFrames(media, 4)
    assert(frames.count() == 16)
  }

  test("multimodal: REAL image decode via javax.imageio (2x2 PNG + JPEG)") {
    import java.awt.image.BufferedImage
    // 2x2 checkerboard: white/black on the top row, black/white below
    val img = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xFFFFFF); img.setRGB(1, 0, 0x000000)
    img.setRGB(0, 1, 0x000000); img.setRGB(1, 1, 0xFFFFFF)
    def bytes(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val pngSig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    val df = Seq((1L, bytes("png")), (2L, bytes("jpg")), (3L, "not an image".getBytes),
        (4L, pngSig ++ Array[Byte](0, 1))) // truncated PNG: no IHDR to parse
      .toDF("id", "bin")
    val media = graft.multimodal.Multimodal.asMediaTable(df, "id", "bin")

    // format sniff from real magic bytes; PNG dims parsed from IHDR in SQL
    val meta = media.select(col("media_id"), col("meta.format"),
      col("meta.width"), col("meta.height")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), if (r.isNullAt(2)) -1 else r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3))).toMap
    assert(meta(1L) == ("png", 2, 2), s"png meta: ${meta(1L)}")
    assert(meta(2L)._1 == "jpeg" && meta(3L)._1 == "raw")
    // truncated PNG: sniffed as png, dims null (no IHDR bytes to parse),
    // decode falls back to the deterministic stub (ImageIO fails cleanly)
    assert(meta(4L) == ("png", -1, -1), s"truncated png meta: ${meta(4L)}")

    // decoded features: [w, h, mean lum, quadrant means...]
    val feats = graft.multimodal.Multimodal.decodeFeatures(media, featureDim = 8)
      .select(col("media_id"), col("features")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val png = feats(1L)
    assert(png(0) == 2f && png(1) == 2f, s"decoded dims: $png")
    assert(math.abs(png(2) - 0.5f) < 0.01f, s"mean luminance: $png")
    // quadrants: (0,0)=white, (1,0)=black, (0,1)=black, (1,1)=white
    assert(png(3) > 0.95f && png(4) < 0.05f && png(5) < 0.05f && png(6) > 0.95f, png.toString)
    val jpg = feats(2L)
    assert(jpg(0) == 2f && jpg(1) == 2f, s"jpeg decoded dims: $jpg")
    // non-image falls back to the deterministic hash stub
    assert(feats(3L) == graft.multimodal.Multimodal.fakeDecode("not an image".getBytes, 8).toSeq)
  }

  test("multimodal: REAL WAV audio decode via javax.sound (sine + silence)") {
    import javax.sound.sampled._
    val M = graft.multimodal.Multimodal
    // 0.1 s of 440 Hz sine at 8 kHz mono s16le, amplitude 0.5
    def wav(tone: Boolean): Array[Byte] = {
      val n = 800
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val x = if (tone) (0.5 * math.sin(2 * math.Pi * 440 * i / 8000.0) * 32767).toInt else 0
        pcm(2 * i) = (x & 0xff).toByte; pcm(2 * i + 1) = ((x >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val sine = M.audioDecode(wav(tone = true), 8)
    // [sampleRate, channels, frames, rms, peak, zcr, 0, 0]
    assert(sine(0) == 8000f && sine(1) == 1f && sine(2) == 800f, sine.toSeq.toString)
    assert(math.abs(sine(3) - 0.5f / math.sqrt(2).toFloat) < 0.01f, s"rms ${sine(3)}")
    assert(math.abs(sine(4) - 0.5f) < 0.01f, s"peak ${sine(4)}")
    // 440 Hz at 8 kHz crosses zero ~2*440 times/s -> zcr ~ 0.11
    assert(sine(5) > 0.08f && sine(5) < 0.14f, s"zcr ${sine(5)}")
    val silence = M.audioDecode(wav(tone = false), 8)
    assert(silence(3) == 0f && silence(4) == 0f && silence(5) == 0f)
    // mediaDecode routes by magic: WAV -> audio, PNG -> image, other -> stub
    assert(M.mediaDecode(wav(tone = true), 8).toSeq == sine.toSeq)
    assert(M.mediaDecode("plain text".getBytes, 8).toSeq ==
      M.fakeDecode("plain text".getBytes, 8).toSeq)
  }

  test("multimodal: MediaFixtures encode->decode round-trips the id formulas (qm02 contract)") {
    val M = graft.multimodal.Multimodal
    val F = graft.multimodal.MediaFixtures
    for (id <- 0L until 40L) {
      val f = M.mediaDecode(F.payload(id), 8)
      if (id % 2 == 0) {
        // PNG: [w, h, mean lum, quadrants...] — dims exact, luminance = gray/255
        assert(f(0) == (16 + (id / 2) % 8).toFloat, s"id $id width ${f(0)}")
        assert(f(1) == (12 + (id / 2) % 5).toFloat, s"id $id height ${f(1)}")
        val lum = ((id % 16) * 16) / 255.0f
        assert(math.abs(f(2) - lum) < 0.02f, s"id $id lum ${f(2)} vs $lum")
      } else {
        // WAV: [rate, ch, frames, rms, peak, zcr] — square wave so rms == peak == A/32768
        assert(f(0) == 8000f && f(1) == 1f, s"id $id fmt ${f.toSeq}")
        assert(f(2) == (800 + id % 97).toFloat, s"id $id frames ${f(2)}")
        val amp = (8192 + (id % 7) * 1024) / 32768.0f
        assert(math.abs(f(3) - amp) < 1e-4f, s"id $id rms ${f(3)} vs $amp")
        assert(math.abs(f(4) - amp) < 1e-4f, s"id $id peak ${f(4)} vs $amp")
      }
    }
    // the SQL-side sniff agrees with the formula split (qm02's format column)
    import spark.implicits._
    val media = M.asMediaTable(
      (0L until 20L).map(id => (id, F.payload(id))).toDF("id", "bin"), "id", "bin")
    val fmts = media.select(col("media_id"), col("meta.format")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((0L until 20L).forall(id => fmts(id) == (if (id % 2 == 0) "png" else "riff")), fmts.toString)
    // PNG dims parsed from IHDR in SQL match the decoded dims
    val dims = media.filter(col("meta.format") === "png")
      .select(col("media_id"), col("meta.width"), col("meta.height")).collect()
    assert(dims.forall(r => r.getInt(1) == 16 + (r.getLong(0) / 2) % 8 &&
      r.getInt(2) == 12 + (r.getLong(0) / 2) % 5), dims.mkString(","))
  }

  test("multimodal: MP4 moov-atom metadata (hand-built atoms, v0/v1, largesize, junk)") {
    val Mp4 = graft.multimodal.Mp4
    val M = graft.multimodal.Multimodal

    // builder -> parser round-trip (the qm04 oracle's contract)
    val p = Mp4.buildHeader("isom", 600L, 1800L, 2, 640, 480)
    val m = Mp4.parse(p).get
    assert(m == Mp4.Meta("isom", 600L, 1800L, 2, 640, 480), m.toString)
    assert(m.durationSeconds == 3.0)

    // hand-built v1 atoms (64-bit times/duration; 96-byte tkhd payload)
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + payload.length)
      b.putInt(8 + payload.length); b.put(typ.getBytes("ISO-8859-1")); b.put(payload)
      b.array()
    }
    val mvhd1 = {
      val b = java.nio.ByteBuffer.allocate(112)
      b.putInt(0x01000000) // version 1
      b.putLong(0L); b.putLong(0L) // creation/modification (64-bit)
      b.putInt(90000) // timescale
      b.putLong(4500000L) // duration: 50 s at 90 kHz
      box("mvhd", b.array())
    }
    val tkhd1 = {
      val b = java.nio.ByteBuffer.allocate(96)
      b.putInt(0x01000007)
      b.position(88)
      b.putInt(1920 << 16); b.putInt(1080 << 16)
      box("tkhd", b.array())
    }
    val ftyp = box("ftyp", "avc1".getBytes("ISO-8859-1") ++ Array.fill[Byte](8)(0))
    val v1 = ftyp ++ box("moov", mvhd1 ++ box("trak", tkhd1))
    val pm = Mp4.parse(v1).get
    assert(pm == Mp4.Meta("avc1", 90000L, 4500000L, 1, 1920, 1080), pm.toString)
    assert(math.abs(pm.durationSeconds - 50.0) < 1e-12)

    // 64-bit largesize encoding of the moov box (size==1 + u64)
    val inner = mvhd1 ++ box("trak", tkhd1)
    val large = {
      val b = java.nio.ByteBuffer.allocate(16 + inner.length)
      b.putInt(1); b.put("moov".getBytes("ISO-8859-1"))
      b.putLong(16L + inner.length); b.put(inner)
      b.array()
    }
    assert(Mp4.parse(ftyp ++ large).get == pm)

    // malformed inputs must yield None / partial, never throw
    assert(Mp4.parse(null).isEmpty)
    assert(Mp4.parse("not a video at all".getBytes).isEmpty)
    assert(Mp4.parse(p.take(10)).isEmpty) // truncated mid-ftyp
    for (cut <- Seq(20, 40, p.length - 5)) Mp4.parse(p.take(cut)) // no crash
    val junkSize = p.clone(); junkSize(24) = 0xFF.toByte // corrupt moov size
    Mp4.parse(junkSize) // bounds-checked walk, no crash

    // DataFrame plumbing: sniff in asMediaTable, videoMeta narrow map,
    // non-MP4 rows keep a null struct (never dropped)
    val df = Seq((1L, p), (2L, "plain text".getBytes), (3L, v1))
      .toDF("id", "bin")
    val media = M.asMediaTable(df, "id", "bin")
    val fmts = media.select(col("media_id"), col("meta.format"))
      .as[(Long, String)].collect().toMap
    assert(fmts == Map(1L -> "mp4", 2L -> "raw", 3L -> "mp4"), fmts.toString)
    val vm = M.videoMeta(media)
      .select(col("media_id"), col("video.brand"), col("video.duration_s"),
        col("video.n_tracks"), col("video.width"), col("video.height"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getString(1), r.getDouble(2), r.getInt(3), r.getInt(4), r.getInt(5)))).toMap
    assert(vm(1L) == ("isom", 3.0, 2, 640, 480), vm(1L).toString)
    assert(vm(2L) == null, "non-MP4 must keep a null video struct")
    assert(vm(3L) == ("avc1", 50.0, 1, 1920, 1080), vm(3L).toString)

    // mediaDecode routes MP4 to container-metadata features
    assert(M.mediaDecode(p, 8).toSeq ==
      Seq(3.0f, 600f, 2f, 640f, 480f, 0f, 0f, 0f))

    // fuzz: arbitrary corpus junk — including bytes that sniff as ISO-BMFF —
    // must never throw (bounds-checked walk is the whole contract)
    val rnd = new scala.util.Random(13)
    for (trial <- 0 until 2000) {
      val bytes = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(bytes)
      if (bytes.length >= 8 && trial % 3 == 0)
        System.arraycopy("ftyp".getBytes, 0, bytes, 4, 4) // force the sniff
      Mp4.parse(bytes) // must not throw
      // truncations of a VALID file exercise every partial-header branch
      if (trial < p.length) Mp4.parse(p.take(trial))
      // single-byte corruptions of a valid file
      if (trial < 200) {
        val c = p.clone(); c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte
        Mp4.parse(c)
      }
    }
  }

  test("multimodal: stereo WAV zero-crossings stride by channel") {
    import javax.sound.sampled._
    val M = graft.multimodal.Multimodal
    // stereo: L = 440 Hz sine, R = constant positive DC. Interleaved-stream
    // ZCR would see an L/R transition on every other sample boundary; the
    // per-channel stride must report only L's crossings over both channels'
    // transition count, i.e. about half the mono sine's zcr.
    val n = 800
    val pcm = new Array[Byte](n * 4)
    for (i <- 0 until n) {
      val l = (0.5 * math.sin(2 * math.Pi * 440 * i / 8000.0) * 32767).toInt
      val r = 16000
      pcm(4 * i) = (l & 0xff).toByte; pcm(4 * i + 1) = ((l >> 8) & 0xff).toByte
      pcm(4 * i + 2) = (r & 0xff).toByte; pcm(4 * i + 3) = ((r >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(8000f, 16, 2, true, false)
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    val st = M.audioDecode(bos.toByteArray, 8)
    assert(st(0) == 8000f && st(1) == 2f && st(2) == 800f, st.toSeq.toString)
    // L crosses ~0.11 of its transitions, R never: pooled zcr ~ 0.055.
    // The interleaved bug would report ~0.5 (sign flips between channels).
    assert(st(5) > 0.03f && st(5) < 0.08f, s"stereo zcr ${st(5)}")
  }
}
