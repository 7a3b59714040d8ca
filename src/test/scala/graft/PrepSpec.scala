package graft

import org.apache.spark.sql.functions._
import graft.prep.Prep
import graft.functions.{TextFunctions => T}

/** Training-corpus prep operators: deterministic split/sampling, benchmark
  * decontamination, context-window chunking, sequence packing. */
class PrepSpec extends SparkSpec {
  import spark.implicits._

  private def mkText(id: Long, n: Int): String =
    (0 until n).map(i => s"w${(id * 31 + i) % 97}").mkString(" ")

  private lazy val docs = (0L until 400L).map(i => (i, if (i % 5 == 0) "en" else "zh",
    mkText(i, 5 + (i % 50).toInt))).toDF("doc_id", "lang", "text")

  test("leakageSafeSplit: clusters share a split, singletons match the plain split") {
    val ids = (0L until 60L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // two clusters {1,7,13} and {20,21}, everything else singleton
    val pairs = Seq((1L, 7L), (7L, 13L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Prep.leakageSafeSplit(ids, "doc_id", pairs, trainPm = 800, validPm = 100)
      .select(col("doc_id"), col("rep"), col("bucket"), col("split"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // cluster members share rep (the min id) and therefore bucket + split
    assert(Seq(1L, 7L, 13L).map(got(_)).distinct.size == 1 && got(1L)._1 == 1L)
    assert(got(20L) == got(21L) && got(20L)._1 == 20L)
    // singletons represent themselves and reproduce the plain hash split
    val plain = ids.filter(!col("doc_id").isin(1L, 7L, 13L, 20L, 21L))
      .select(col("doc_id"), Prep.hashBucket(col("doc_id"), 1000).as("b"),
        Prep.split(col("doc_id"), 800, 100).as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(0), r.getLong(1), r.getString(2))).toMap
    plain.foreach { case (id, v) => assert(got(id) == v, s"singleton $id: ${got(id)} vs $v") }
  }

  test("leakageSafeSplit: no near-dup pair straddles splits on the real corpus") {
    val d = "/root/testdata/sf0.001"
    val corpus = spark.read.parquet(s"$d/documents.parquet")
    val pairs = graft.dedup.Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleK = 5, threshold = 0.5)
    assert(pairs.count() > 0, "fixture must produce near-dup pairs for the guard to bite")
    val splits = Prep.leakageSafeSplit(corpus, "doc_id", pairs, trainPm = 800, validPm = 100)
      .select(col("doc_id"), col("split"))
    val straddling = pairs
      .join(splits.withColumnRenamed("doc_id", "id_a").withColumnRenamed("split", "sa"), "id_a")
      .join(splits.withColumnRenamed("doc_id", "id_b").withColumnRenamed("split", "sb"), "id_b")
      .filter(col("sa") =!= col("sb"))
    assert(straddling.count() == 0)
    // and the plain split DOES straddle on the same corpus — the guard is not vacuous
    val plainStraddle = pairs
      .withColumn("sa", Prep.split(col("id_a"), 800, 100))
      .withColumn("sb", Prep.split(col("id_b"), 800, 100))
      .filter(col("sa") =!= col("sb"))
    assert(plainStraddle.count() > 0, "plain split never straddles: guard untestable on this fixture")
  }

  test("stratifiedSampleKeys/Exact: exact k per stratum, brute-force ranks, partition-invariant, no window") {
    val got = Prep.stratifiedSampleKeys(docs, "doc_id", "lang", k = 25, salt = 7L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // exact k per stratum (both strata have >= 25 rows: en 80, zh 320)
    assert(got.groupBy(_._1).view.mapValues(_.length).toMap == Map("en" -> 25, "zh" -> 25))
    // brute-force: the k smallest shuffle keys per stratum, ranked ascending
    def key(id: Long) = ((id + 7L) % Prep.P) * Prep.Mult % Prep.P
    val expect = docs.select(col("doc_id"), col("lang")).as[(Long, String)].collect()
      .groupBy(_._2).toSeq.flatMap { case (lang, rows) =>
        rows.map(_._1).sortBy(key).take(25).zipWithIndex
          .map { case (id, i) => (lang, (i + 1).toLong, id) }
      }.toSet
    assert(got.toSet == expect)
    // a stratum smaller than k keeps every row (en has 6 ids under 30)
    val small = Prep.stratifiedSampleKeys(docs.filter(col("doc_id") < 30), "doc_id", "lang", 25, 7L)
      .collect().map(r => r.getString(0)).groupBy(identity).view.mapValues(_.length).toMap
    assert(small == Map("en" -> 6, "zh" -> 24))
    // partition/arrival-order invariance
    val re = Prep.stratifiedSampleKeys(docs.repartition(13), "doc_id", "lang", 25, 7L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(re.toSet == got.toSet)
    // scale shape: bounded partial agg, never a per-stratum window or sort
    val plan = Prep.stratifiedSampleKeys(docs, "doc_id", "lang", 25, 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window") && !plan.contains("SortAggregate"), plan)
    // join-back recovers payload columns over a broadcast, corpus unshuffled
    val ex = Prep.stratifiedSampleExact(docs, "doc_id", "lang", 25, 7L)
    assert(ex.columns.sorted.toSeq == Seq("doc_id", "lang", "rk", "text"))
    assert(ex.count() == 50)
    assert(ex.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("weightedSampleKeys: brute-force A-Res ranks, weight monotonicity, domain exclusions") {
    val data = (0L until 300L).map { i =>
      val w: Option[Double] =
        if (i % 37 == 0) None                      // null weight
        else if (i % 41 == 0) Some(0.0)            // zero weight
        else Some(1.0 + (i % 20))
      (i, w)
    }
    val df = data.toDF("id", "w")
    val got = Prep.weightedSampleKeys(df, "id", "w", k = 25, salt = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def u(id: Long) = (((id + 3L) % Prep.P) * Prep.Mult % Prep.P + 1L).toDouble /
      (Prep.P + 1L).toDouble
    val expect = data.collect { case (id, Some(w)) if w > 0 => (id, math.log(u(id)) / w) }
      .sortBy { case (id, s) => (-s, id) }.take(25)
      .zipWithIndex.map { case ((id, _), i) => ((i + 1).toLong, id) }
    assert(got == expect, s"$got vs $expect")
    // excluded rows never sampled
    val sampled = got.map(_._2).toSet
    assert(data.collect { case (id, w) if w.forall(_ <= 0) => id }.forall(!sampled.contains(_)))
    // monotonicity: same u, boosted weight pulls ln(u)/w toward 0 — an
    // unsampled row given enormous weight must enter the reservoir
    val outsider = data.collect { case (id, Some(w)) if w > 0 && !sampled(id) => id }.head
    val boosted = df.withColumn("w",
      when(col("id") === outsider, lit(1e12)).otherwise(col("w")))
    val got2 = Prep.weightedSampleKeys(boosted, "id", "w", 25, 3L)
      .collect().map(_.getLong(1)).toSet
    assert(got2.contains(outsider), s"boosted $outsider missing from $got2")
    // partition/arrival-order invariance
    val re = Prep.weightedSampleKeys(df.repartition(13), "id", "w", 25, 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(re == got)
    // per-stratum variant: equals the global reservoir run on each stratum
    val strat = df.withColumn("s", when(col("id") % 2 === 0, "even").otherwise("odd"))
    val by = Prep.weightedSampleKeysBy(strat, "id", "s", "w", 10, 3L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val perStratum = Seq("even", "odd").flatMap { sv =>
      Prep.weightedSampleKeys(strat.filter(col("s") === sv), "id", "w", 10, 3L)
        .collect().map(r => (sv, r.getLong(0), r.getLong(1)))
    }.toSet
    assert(by == perStratum, s"$by vs $perStratum")
  }

  test("hashBucket is deterministic, in range, and salt-decorrelated") {
    val b = docs.select(Prep.hashBucket(col("doc_id"), 1000).as("b"),
      Prep.hashBucket(col("doc_id"), 1000, salt = 1L).as("b1"))
    val rows = b.as[(Long, Long)].collect()
    assert(rows.forall { case (x, y) => x >= 0 && x < 1000 && y >= 0 && y < 1000 })
    // same input twice -> identical buckets
    assert(b.as[(Long, Long)].collect().toSeq == rows.toSeq)
    // the two salts are not the same stream
    assert(rows.exists { case (x, y) => x != y })
    // brute-force the arithmetic for a few ids
    for (id <- Seq(0L, 1L, 399L)) {
      val expect = (id % Prep.P) * Prep.Mult % Prep.P % 1000
      assert(rows(id.toInt)._1 == expect)
    }
    // negative ids (e.g. xxhash64-derived) still land in [0, buckets) and
    // a rate-0 stratum really drops them
    val neg = Seq(-1L, Long.MinValue, -987654321L).toDF("id")
    val nb = neg.select(Prep.hashBucket(col("id"), 1000).as("b")).as[Long].collect()
    assert(nb.forall(b => b >= 0 && b < 1000), nb.toSeq)
    assert(neg.filter(Prep.stratifiedKeep(col("id"), lit("x"), Map("x" -> 0), 1000))
      .count() == 0)
  }

  test("split covers all rows, respects per-mille cut points roughly") {
    val s = docs.select(Prep.split(col("doc_id"), 800, 100).as("s"))
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(s.keySet == Set("train", "valid", "test"))
    assert(s.values.sum == 400)
    assert(s("train") > 250) // ~320 expected; loose bound, deterministic anyway
  }

  test("stratifiedKeep applies per-stratum rates; keep decision stable") {
    val kept = docs.filter(Prep.stratifiedKeep(col("doc_id"), col("lang"),
      Map("en" -> 0), defaultPm = 1000))
    // en rows all dropped, zh rows all kept
    assert(kept.filter(col("lang") === "en").count() == 0)
    assert(kept.count() == docs.filter(col("lang") === "zh").count())
  }

  test("mixtureRatesPm: budget shares -> rates; oversubscribed stratum caps at 1000") {
    val withN = docs.withColumn("n_tokens", T.tokenCount(col("text")).cast("long"))
    val totals = withN.groupBy("lang").agg(sum("n_tokens").as("t"))
      .as[(String, Long)].collect().toMap
    val rates = Prep.mixtureRatesPm(withN, "lang", "n_tokens",
      Map("en" -> 0.5, "zh" -> 0.5), tokenBudget = totals("zh") * 4)
    // en gets 0.5 * 4*zhTok target; exact formula reproduced
    assert(rates("en") ==
      math.min(1000L, math.floor(1000.0 * 0.5 * (totals("zh") * 4) / totals("en")).toLong))
    // zh target = 2x its own tokens -> capped at keep-everything
    assert(rates("zh") == 1000)
    // stratum absent from targets -> absent from rates (stratifiedKeep default applies)
    assert(!rates.contains("fr"))
  }

  test("contamination flags docs sharing shingles with the benchmark, and only those") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // copy of bench doc
      (2L, "one two three four five six seven eight nine"), // clean
      (3L, "prefix words then alpha beta gamma delta epsilon more after") // partial overlap
    ).toDF("doc_id", "text")
    val bench = corpus.filter(col("doc_id") === 0L)
    val got = Prep.contamination(corpus, bench, "doc_id", "text", shingleK = 5, minShared = 1)
      .select("doc_id", "n_shared", "contaminated").as[(Long, Long, Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(0L)._2 && got(1L)._2, "benchmark doc and its copy must be flagged")
    assert(got(1L)._1 == 4) // 8 tokens -> 4 distinct 5-gram shingles, all shared
    assert(!got(2L)._2 && got(2L)._1 == 0, "clean doc must not be flagged")
    assert(got(3L)._2 && got(3L)._1 == 1) // exactly 'alpha beta gamma delta epsilon'
  }

  test("chunk covers every token exactly; stride/overlap reconstruction") {
    val c = 8; val s = 6
    val df = Seq((0L, mkText(0, 20)), (1L, mkText(1, 8)), (2L, mkText(2, 3)),
      (3L, mkText(3, 9))).toDF("doc_id", "text")
    val chunks = Prep.chunk(df, "doc_id", "text", chunkSize = c, stride = s)
      .orderBy("doc_id", "chunk_id")
      .select("doc_id", "chunk_id", "n_chunk_tokens", "chunk_text")
      .as[(Long, Long, Long, String)].collect()
    val byDoc = chunks.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // a doc shorter than one chunk yields exactly one chunk with all tokens
    assert(byDoc(2L).map(_._4) sameElements Array(mkText(2, 3)))
    for ((id, n) <- Seq((0L, 20), (1L, 8), (3L, 9))) {
      val toks = mkText(id, n).split(" ").toSeq
      val cs = byDoc(id)
      // chunk i starts at i*stride and carries min(c, n - i*s) tokens
      cs.foreach { case (_, cid, nt, text) =>
        val expect = toks.slice((cid * s).toInt, (cid * s).toInt + c)
        assert(text == expect.mkString(" "), s"doc $id chunk $cid")
        assert(nt == expect.size)
      }
      // every token covered; last chunk reaches the end; no redundant tail
      assert(cs.head._2 == 0 && (cs.last._2 * s + cs.last._3) == n)
      assert(cs.last._2 == 0 || (cs.last._2 - 1) * s + c < n, "tail chunk must add tokens")
    }
  }

  test("chunk == brute-force windows for randomized (n, chunkSize, stride)") {
    val rnd = new scala.util.Random(7)
    val cases = (0 until 30).map { i =>
      val c = 1 + rnd.nextInt(12)
      (i.toLong, rnd.nextInt(40), c, 1 + rnd.nextInt(c)) // n in [0,40), stride <= c
    }
    for ((id, n, c, s) <- cases) {
      val df = Seq((id, mkText(id, n))).toDF("doc_id", "text")
      val got = Prep.chunk(df, "doc_id", "text", c, s)
        .select("chunk_id", "n_chunk_tokens", "chunk_text")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      val toks = if (n == 0) Seq.empty else mkText(id, n).split(" ").toSeq
      val starts = 0 until math.max(n - (c - s), 1) by s
      val expect = starts.zipWithIndex.map { case (st, i) =>
        val w = toks.slice(st, st + c)
        (i.toLong, w.size.toLong, w.mkString(" "))
      }
      assert(got == expect, s"n=$n c=$c s=$s:\n got=$got\n exp=$expect")
    }
  }

  test("pack: offsets in [0, budget), seq ids follow the running token sum") {
    val budget = 50L
    val got = Prep.pack(docs, "lang", "doc_id", "text", budget)
      .select("doc_id", "lang", "n_tokens", "seq_id", "seq_offset")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.forall(r => r._5 >= 0 && r._5 < budget))
    for ((_, rows) <- got.groupBy(_._2)) {
      var cum = 0L
      for (r <- rows.sortBy(_._1)) {
        assert(r._4 == cum / budget, s"doc ${r._1} seq_id")
        assert(r._5 == cum % budget, s"doc ${r._1} seq_offset")
        cum += r._3
      }
    }
    // token counts agree with the tokenizer
    val nt = docs.select(col("doc_id"), T.tokenCount(col("text")).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(got.forall(r => r._3 == nt(r._1)))
  }

  test("near-dup decontamination: paraphrase flagged, clean doc not, bench doc at 1.0") {
    val benchText = "the quick brown fox jumps over the lazy dog while the sun " +
      "slowly sets behind the quiet hills and the evening wind begins to rise"
    val corpus = Seq(
      (0L, benchText),
      (1L, benchText.replace("quiet", "silent")), // light paraphrase
      (2L, "completely unrelated content about distributed query engines and " +
        "shuffle partitioning strategies for large scale analytical workloads today"),
    ).toDF("doc_id", "text")
    val bench = corpus.filter(col("doc_id") === 0L)
    val got = Prep.contaminationNearDup(corpus, bench, "doc_id", "text",
        numHashes = 128, bands = 32, shingleK = 3, threshold = 0.5)
      .select("doc_id", "max_sim_est", "contaminated")
      .as[(Long, Double, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(0L)._1 == 1.0 && got(0L)._2, "bench doc must self-match at 1.0")
    assert(got(1L)._2, s"paraphrase must be flagged, est=${got(1L)._1}")
    assert(!got(2L)._2 && got(2L)._1 == 0.0, "clean doc must not be flagged")
  }

  test("null text: chunk drops the row, contamination reports it clean") {
    // pinned semantics for raw-scrape inputs (testdata has no nulls):
    // chunk's explode(null sequence) yields no rows for a null document;
    // contamination's left join reports n_shared=0 / not contaminated
    val raw = Seq((0L, "alpha beta gamma delta epsilon zeta"), (1L, null))
      .toDF("doc_id", "text")
    val chunks = Prep.chunk(raw, "doc_id", "text", chunkSize = 4, stride = 3)
    assert(chunks.filter(col("doc_id") === 1L).count() == 0)
    assert(chunks.filter(col("doc_id") === 0L).count() == 2) // starts 0 and 3
    val flagged = Prep.contamination(raw, raw.filter(col("doc_id") === 0L),
        "doc_id", "text", shingleK = 5, minShared = 1)
      .filter(col("doc_id") === 1L).select("n_shared", "contaminated")
      .as[(Long, Boolean)].head()
    assert(flagged == ((0L, false)))
  }

  test("packGlobal == grouped pack on one stream; no data-path global window") {
    val withN = docs.withColumn("n_tokens", T.tokenCount(col("text")).cast("long"))
    val global = Prep.packGlobal(withN, Seq("doc_id"), "n_tokens", budget = 37L)
      .select("doc_id", "seq_id", "seq_offset").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val grouped = Prep.packByTokens(withN.withColumn("__g", lit(1)), "__g",
        Seq("doc_id"), "n_tokens", budget = 37L)
      .select("doc_id", "seq_id", "seq_offset").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(global == grouped && global.nonEmpty)
    // the data-path window partitions on __pid; the only unpartitioned
    // window runs over the <=P-row offset table
    val plan = Prep.packGlobal(withN, Seq("doc_id"), "n_tokens", 37L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__pid"), plan.take(800))
  }

  test("shuffled: dense 0-based positions, brute-force rank equivalence, no data-path global window") {
    val got = Prep.shuffled(docs, "doc_id", salt = 7L)
      .select("doc_id", "shuffle_key", "shuffle_pos")
      .as[(Long, Long, Long)].collect()
    // dense rank 0..n-1, exactly once each
    assert(got.map(_._3).sorted.sameElements(0L until 400L))
    // brute-force: position = rank under (key, id) with the same arithmetic
    val expect = got.map { case (id, _, _) =>
      val k = ((id + 7) % Prep.P) * Prep.Mult % Prep.P
      (k, id)
    }.sorted.zipWithIndex.map { case ((_, id), i) => id -> i.toLong }.toMap
    got.foreach { case (id, k, pos) =>
      assert(k == ((id + 7) % Prep.P) * Prep.Mult % Prep.P)
      assert(pos == expect(id), s"doc $id")
    }
    // a different salt is a different permutation
    val other = Prep.shuffled(docs, "doc_id", salt = 8L)
      .select("doc_id", "shuffle_pos").as[(Long, Long)].collect().toMap
    assert(got.exists { case (id, _, pos) => other(id) != pos })
    // partition-count independence: same positions on a 7-partition input
    val re = Prep.shuffled(docs.repartition(7), "doc_id", salt = 7L)
      .select("doc_id", "shuffle_pos").as[(Long, Long)].collect().toMap
    assert(got.forall { case (id, _, pos) => re(id) == pos })
    // the data-path window partitions on __pid; only the <=P-row count
    // table sees an unpartitioned window
    val plan = Prep.shuffled(docs, "doc_id").queryExecution.executedPlan.toString
    assert(plan.contains("__pid"), plan.take(800))
  }

  test("rarityStats: counts vs brute force; OOV and in-vocab split; zero-token doc drops") {
    import graft.functions.{TextFunctions => TF}
    // vocabulary floor 10 on the synthetic corpus -> a mix of in/out tokens
    val v = TF.vocab(docs, "text", minCount = 10L)
    val vMap = v.as[(String, Long)].collect().toMap
    val got = TF.rarityStats(docs, "doc_id", "text", v)
      .select("doc_id", "n_tokens", "n_invocab", "oov_share", "mean_token_freq")
      .as[(Long, Long, Long, Double, Option[Double])].collect().map(r => r._1 -> r).toMap
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(got.size == 400)
    texts.foreach { case (id, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val in = toks.flatMap(vMap.get)
      val (n, ni) = (toks.length.toLong, in.length.toLong)
      val (gn, gni, oov, mtf) = (got(id)._2, got(id)._3, got(id)._4, got(id)._5)
      assert(gn == n && gni == ni, s"doc $id")
      assert(oov == (n - ni).toDouble / n.toDouble, s"doc $id oov")
      if (ni > 0) assert(mtf.contains(in.sum.toDouble / ni.toDouble), s"doc $id mtf")
      else assert(mtf.isEmpty, s"doc $id mtf should be null")
    }
    // a zero-token document yields no row (unnest semantics)
    val withEmpty = docs.union(Seq((9999L, "en", "   ")).toDF("doc_id", "lang", "text"))
    assert(TF.rarityStats(withEmpty, "doc_id", "text", v)
      .filter(col("doc_id") === 9999L).count() == 0)
  }

  test("upsample: per-stratum repeat factors, 1-based epochs, factor 0 drops") {
    val up = Prep.upsample(docs, col("lang"), Map("en" -> 3), defaultFactor = 1)
    val en = docs.filter(col("lang") === "en").count()
    val zh = docs.filter(col("lang") === "zh").count()
    assert(up.count() == en * 3 + zh)
    // every en doc appears with epochs exactly 1,2,3
    val eps = up.filter(col("lang") === "en").groupBy("doc_id")
      .agg(sort_array(collect_list(col("epoch"))).as("e"))
      .select("e").as[Seq[Int]].collect()
    assert(eps.nonEmpty && eps.forall(_ == Seq(1, 2, 3)))
    // factor 0 drops the stratum; Spark's descending sequence(1,0) trap
    // must not leak epoch-0 rows
    val dropped = Prep.upsample(docs, col("lang"), Map("zh" -> 0), defaultFactor = 2)
    assert(dropped.filter(col("lang") === "zh").count() == 0)
    assert(dropped.filter(col("epoch") === 0).count() == 0)
    assert(dropped.count() == en * 2)
    // narrow: no exchange in the plan
    val plan = up.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(500))
  }

  test("writeShards: disjoint contiguous ranges per file, lossless round-trip") {
    val packed = Prep.pack(docs, "lang", "doc_id", "text", budget = 50L)
      .select("doc_id", "lang", "n_tokens", "seq_id")
    val out = java.nio.file.Files.createTempDirectory("shards").toString + "/corpus"
    Prep.writeShards(packed, out, "doc_id", numShards = 4)
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length == 4, s"expected 4 shard files, got ${files.length}")
    // round-trip is lossless
    assert(spark.read.parquet(out).count() == packed.count())
    // each shard covers a disjoint contiguous doc_id range
    val ranges = files.map { f =>
      val ids = spark.read.parquet(f.getAbsolutePath).select("doc_id").as[Long].collect()
      assert(ids.sameElements(ids.sorted), s"${f.getName} not sorted within shard")
      (ids.min, ids.max)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping shards: $ranges")
      case _ =>
    }
  }

  test("chunk + split lift to Structured Streaming unchanged (stateless)") {
    // chunking and hash-splitting are narrow expression maps, so the same
    // code runs on a stream with no watermark or state — the property that
    // lets one prep pipeline serve batch backfill AND live ingestion
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("prep_chunk_stream").toString
    val in = docs.limit(50)
    in.write.mode("overwrite").parquet(s"$base/in")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType)))
    def pipe(df: org.apache.spark.sql.DataFrame) =
      Prep.chunk(df.withColumn("split", Prep.split(col("doc_id"), 800, 100)),
        "doc_id", "text", chunkSize = 16, stride = 12)
    val q = graft.streaming.StreamOps.sinkFileStream(
      pipe(spark.readStream.schema(schema).parquet(s"$base/in")),
      "parquet", s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(s"$base/out")
      .select("doc_id", "chunk_id", "chunk_text")
      .as[(Long, Long, String)].collect().toSet
    val batch = pipe(in).select("doc_id", "chunk_id", "chunk_text")
      .as[(Long, Long, String)].collect().toSet
    assert(got == batch && batch.nonEmpty)
  }

  test("packSpans: spans tile sequences exactly, straddles split, zero-token docs drop") {
    val budget = 10L
    val docs = Seq((1L, 4L), (2L, 0L), (3L, 13L), (4L, 3L), (5L, 25L))
      .toDF("doc_id", "n_tokens")
    val packed = Prep.packGlobal(docs, Seq("doc_id"), "n_tokens", budget)
    val spans = Prep.packSpans(packed, budget, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every doc's fragments sum back to its token count; zero-token doc absent
    val byDoc = spans.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    assert(byDoc == Map(1L -> 4L, 3L -> 13L, 4L -> 3L, 5L -> 25L), byDoc)
    // every sequence except the last is tiled exactly [0, budget)
    val bySeq = spans.groupBy(_._2)
    val lastSeq = bySeq.keys.max
    bySeq.foreach { case (seq, ss) =>
      val sorted = ss.sortBy(_._3)
      assert(sorted.head._3 == 0L, s"seq $seq starts at ${sorted.head._3}")
      sorted.sliding(2).foreach {
        case Array((_, _, s1, l1), (_, _, s2, _)) =>
          assert(s1 + l1 == s2, s"seq $seq gap at $s2")
        case _ =>
      }
      if (seq != lastSeq)
        assert(ss.map(_._4).sum == budget, s"seq $seq not fully tiled")
    }
    // doc 5 (25 tokens from global offset 20) spans sequences 2,3,4
    assert(spans.filter(_._1 == 5L).map(_._2).sorted.toSeq == Seq(2L, 3L, 4L))
  }

  test("temperatureShares: sums to 1, flattens toward uniform as alpha drops") {
    val df = Seq.tabulate(1000)(i =>
        (i.toLong, if (i < 810) "big" else if (i < 990) "mid" else "small", 10L))
      .toDF("id", "stratum", "n_tokens")
    val prop = Prep.temperatureShares(df, "stratum", "n_tokens", alpha = 1.0)
    val temp = Prep.temperatureShares(df, "stratum", "n_tokens", alpha = 0.5)
    assert(math.abs(prop.values.sum - 1.0) < 1e-12)
    assert(math.abs(temp.values.sum - 1.0) < 1e-12)
    // alpha=1 reproduces corpus proportions exactly (810:180:10)
    assert(math.abs(prop("big") - 0.81) < 1e-12 && math.abs(prop("small") - 0.01) < 1e-12)
    // alpha=0.5 moves every share toward uniform: small up, big down
    assert(temp("small") > prop("small") && temp("big") < prop("big"))
    // sqrt law exactly: shares proportional to sqrt(totals)
    val want = math.sqrt(100.0) / (math.sqrt(8100.0) + math.sqrt(1800.0) + math.sqrt(100.0))
    assert(math.abs(temp("small") - want) < 1e-12)
  }

  test("bm25 offline-model/online-scoring: literal column == in-plan model, lifts to streaming") {
    // the continuous-curation split: train the model ONCE offline
    // (bm25Model — |terms|+2 scalars), score with a literal-only narrow
    // column that runs identically on a batch frame and a structured stream
    import org.apache.spark.sql.types._
    val terms = Seq("w1", "w7", "nope")
    val m = Prep.bm25Model(docs, "text", terms)
    val viaLit = docs.select(col("doc_id"), Prep.bm25Score(col("text"), m).as("s"))
      .as[(Long, Long)].collect().toMap
    val viaPlan = Prep.bm25(docs, "doc_id", "text", terms)
      .select(col("doc_id"), col("bm25_uscore")).as[(Long, Long)].collect().toMap
    assert(viaLit == viaPlan && viaLit.nonEmpty)
    // stream the same corpus through the same scoring column
    val base = java.nio.file.Files.createTempDirectory("prep_bm25_stream").toString
    docs.limit(60).write.mode("overwrite").parquet(s"$base/in")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType)))
    val q = graft.streaming.StreamOps.sinkFileStream(
      spark.readStream.schema(schema).parquet(s"$base/in")
        .select(col("doc_id"), Prep.bm25Score(col("text"), m).as("s")),
      "parquet", s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(s"$base/out").as[(Long, Long)].collect().toMap
    assert(streamed == viaLit.filter { case (id, _) => streamed.contains(id) } &&
      streamed.size == 60)
  }

  test("bm25: hand-computed score, zero-df term contributes nothing, no corpus explode") {
    val docs = Seq((1L, "cat dog cat"), (2L, "dog dog dog dog"), (3L, "bird"))
      .toDF("id", "text")
    val out = Prep.bm25(docs, "id", "text", Seq("cat", "fish"))
    val got = out.select(col("id"), col("bm25_uscore")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // N=3, tl=8, df(cat)=1, df(fish)=0; doc 1: tf(cat)=2, len=3 — replay the
    // exact double chain (k1=1.2, b=0.75, Lucene +1 idf, micro quantization)
    val idfCat = math.log((3.0 - 1.0 + 0.5) / (1.0 + 0.5) + 1.0)
    val denom = 2.0 + 1.2 * (1.0 - 0.75 + 0.75 * (3.0 / (8.0 / 3.0)))
    val want = math.floor(idfCat * ((2.0 * (1.2 + 1.0)) / denom) * 1e6 + 0.5).toLong
    assert(got(1L) == want, s"doc 1 scored ${got(1L)}, hand computation says $want")
    // docs without any query term score exactly 0 (fish df=0 never fires)
    assert(got(2L) == 0L && got(3L) == 0L)
    // scale shape: scoring is a narrow map — the corpus is never exploded
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"bm25 must not explode the corpus:\n$plan")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastQueryStage"),
      s"bm25 model must ride back as a broadcast side:\n$plan")
  }
}
