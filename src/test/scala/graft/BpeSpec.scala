package graft

import org.apache.spark.sql.functions._

/** Trainable BPE: merge learning on the classic corpus, expression ==
  * reference encoder, unseen-word behavior, compression monotonicity. */
class BpeSpec extends SparkSpec {
  import spark.implicits._
  private val B = graft.functions.Bpe

  private def corpus: org.apache.spark.sql.DataFrame = {
    // the Sennrich et al. running example word frequencies
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
  }

  test("train learns the classic merges in frequency order") {
    val merges = B.train(corpus, "text", numMerges = 4)
    // es (9) -> est (9) -> est</w> (9) -> lo (7)
    assert(merges.take(4) == Seq(
      ("e", "s"), ("es", "t"), ("est", B.EndOfWord), ("l", "o")), merges.toString)
  }

  test("classic 10-merge sequence matches the hand derivation (the qd32 oracle)") {
    // The qd32 fixture oracle states these 10 merges as literals; this pins
    // the trainer to the same hand derivation locally, so a tie-break or
    // count change fails here before it hash-mismatches the driver compare.
    // Derivation: es(9 tie {es,st,t</w>}) -> est(9) -> est</w>(9) ->
    // lo(7 tie {lo,ow}) -> low(7) -> ew(6 tie {ew,ne,w·est</w>}) ->
    // ewest</w>(6 tie {ew·est</w>, n·ew}) -> newest</w>(6) -> low</w>(5) ->
    // dest</w>(3 tie {d·est</w>, id, wi})
    val expected = Seq(
      ("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w"),
      ("e", "w"), ("ew", "est</w>"), ("n", "ewest</w>"), ("low", "</w>"),
      ("d", "est</w>"))
    assert(B.train(corpus, "text", numMerges = 10) == expected)
    // and through the DISTRIBUTED trainer on a multi-doc fixture (the exact
    // qd32 shape: the same corpus text per doc scales every count uniformly,
    // preserving argmaxes and ties)
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val multi = (1L to 7L).map(i => (i, words.mkString(" "))).toDF("doc_id", "text")
    assert(B.trainCorpus(multi, "text", numMerges = 10) == expected)
  }

  test("expression encode == reference encoder on random words") {
    val merges = B.train(sf("documents"), "text", numMerges = 150, sampleN = 100,
      idCol = "doc_id")
    val rank = merges.zipWithIndex.toMap
    val rnd = new scala.util.Random(3)
    val docs = (0 until 40).map { i =>
      val words = (0 to rnd.nextInt(8)).map(_ =>
        (0 to rnd.nextInt(9)).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString)
      (i.toLong, words.mkString(" "))
    }
    val df = docs.toDF("id", "text")
      .select(col("id"), B.encodeCol(graft.functions.TextFunctions.tokens(col("text")), merges).as("st"))
    val got = df.as[(Long, Seq[String])].collect().toMap
    for ((id, text) <- docs) {
      val expect = text.split("\\s+").filter(_.nonEmpty).toSeq
        .flatMap(w => B.encodeWord(w, rank))
      assert(got(id) == expect, s"doc $id: ${got(id)} vs $expect")
    }
  }

  test("non-BMP characters stay whole code points through the expression") {
    val pizza = new String(Character.toChars(0x1F355)) // surrogate pair
    val word = s"a${pizza}b"
    val got = Seq((1L, word)).toDF("id", "text")
      .select(B.encodeCol(graft.functions.TextFunctions.tokens(col("text")), Seq.empty).as("st"))
      .as[Seq[String]].head()
    assert(got == Seq("a", pizza, "b", B.EndOfWord), got.toString)
    assert(got.mkString("") == word + B.EndOfWord)
  }

  test("unseen words fall back to characters plus any applicable merges") {
    val merges = B.train(corpus, "text", numMerges = 10)
    val rank = merges.zipWithIndex.toMap
    val enc = B.encodeWord("lowest", rank) // "lo"+"w" seen, "est</w>" seen
    assert(enc.last.endsWith(B.EndOfWord))
    assert(enc.mkString == "lowest" + B.EndOfWord, enc.toString)
    val zero = B.encodeWord("xyz", Map.empty)
    assert(zero == Vector("x", "y", "z", B.EndOfWord))
  }

  test("trainCorpus (distributed word table) == train (collected sample) on full coverage") {
    // same corpus, vocab cut above vocabulary size, sample covering all
    // docs -> identical word-frequency tables -> identical merges
    val docs = sf("documents")
    val viaSample = B.train(docs, "text", numMerges = 80, sampleN = 10000)
    val viaCorpus = B.trainCorpus(docs, "text", numMerges = 80)
    assert(viaSample == viaCorpus)
    // the distributed plan: one exchange for the word groupBy + the top-k sort
    val wf = docs.select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    assert(wf.queryExecution.executedPlan.toString.contains("HashAggregate"))
  }

  test("BPE encode lifts to Structured Streaming unchanged (stateless narrow map)") {
    import org.apache.spark.sql.types._
    val merges = B.trainCorpus(sf("documents"), "text", numMerges = 60)
    val base = java.nio.file.Files.createTempDirectory("bpe_stream").toString
    val in = sf("documents").select("doc_id", "text").limit(50)
    in.write.mode("overwrite").parquet(s"$base/in")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def pipe(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), B.tokenCount(col("text"), merges).as("n"))
    val q = graft.streaming.StreamOps.sinkFileStream(
      pipe(spark.readStream.schema(schema).parquet(s"$base/in")),
      "parquet", s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(s"$base/out").as[(Long, Int)].collect().toSet
    val batch = pipe(in).as[(Long, Int)].collect().toSet
    assert(got == batch && batch.nonEmpty)
  }

  test("merge table round-trips through parquet byte-identically") {
    val merges = B.trainCorpus(sf("documents"), "text", numMerges = 60)
    val dir = java.nio.file.Files.createTempDirectory("bpe_merges").toString + "/m"
    B.saveMerges(spark, merges, dir)
    assert(B.loadMerges(spark, dir) == merges)
  }

  test("incremental merge learning == naive full-recount reference (randomized)") {
    // the trainers run the incremental pair-count + inverted-index + lazy-heap
    // algorithm; learnMergesNaive keeps the direct recount-everything
    // transcription. Byte-identical merge sequences on random word tables,
    // including numMerges exhaustion (stop when no pair occurs twice).
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 30) {
      val vocabSize = 1 + rnd.nextInt(120)
      val wf = (0 until vocabSize).map { _ =>
        val w = (0 to rnd.nextInt(7)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
        w -> (1L + rnd.nextInt(50))
      }.toMap // map collapses duplicate words — fine, both sides see the same table
      val numMerges = rnd.nextInt(60)
      val fast = B.learnMerges(wf, numMerges)
      val slow = B.learnMergesNaive(wf, numMerges)
      assert(fast == slow, s"trial $trial (vocab $vocabSize, merges $numMerges):\n$fast\nvs\n$slow")
    }
  }

  test("incremental training: numMerges >= 500 on a realistic vocab in seconds") {
    // ~12k-word Zipf vocabulary (the shape a 100 TB corpus's maxVocab cut
    // hands the driver). The old recount-per-merge loop was
    // O(numMerges x vocab x wordLen) and took minutes here; the incremental
    // loop touches only words containing the merged pair.
    val rnd = new scala.util.Random(11)
    val alphabet = "etaoinshrdlucmfwypvbgkjqxz"
    val wf = (0 until 12000).map { i =>
      val len = 2 + rnd.nextInt(10)
      val w = (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      w -> (1L + (200000L / (i + 1))) // Zipf-ish frequency
    }.toMap
    val t0 = System.nanoTime()
    val merges = B.learnMerges(wf, 600)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(merges.length == 600, s"only ${merges.length} merges learned")
    assert(merges.distinct.length == merges.length, "a merged pair recurred")
    assert(secs < 60.0, f"600 merges took $secs%.1f s — incremental path regressed")
  }

  test("train and trainCorpus share one word model on punctuation-heavy text") {
    // the word model is stated once in the Bpe scaladoc: \s+ runs, empties
    // dropped, punctuation stays attached ("end." is one word). Both the
    // driver-side split (train) and TextFunctions.tokens (trainCorpus) must
    // realize it identically.
    val docs = Seq(
      (1L, "The end. The end. the end, really--the END?!"),
      (2L, "  leading   spaces\tand\ttabs\nand newlines. (parens) [brackets]"),
      (3L, "don't don't can't it's it's it's o'clock... ..."),
      (4L, "a,b a,b a,b c;d c;d e.f.g e.f.g e.f.g e.f.g")
    ).toDF("doc_id", "text")
    val viaSample = B.train(docs, "text", numMerges = 100, sampleN = 100, idCol = "doc_id")
    val viaCorpus = B.trainCorpus(docs, "text", numMerges = 100)
    assert(viaSample == viaCorpus,
      s"word models diverged:\n$viaSample\nvs\n$viaCorpus")
    assert(viaSample.nonEmpty)
  }

  test("vocabulary: closed over corpus encodings, deterministic, dense ids") {
    val docs = sf("documents").limit(200)
    val merges = B.trainCorpus(docs, "text", numMerges = 60)
    val vocab = B.vocabulary(docs, "text", merges)
    val byToken = vocab.toMap
    // dense, well-defined ids; deterministic across runs
    assert(vocab.map(_._2) == vocab.indices.toSeq)
    assert(vocab.map(_._1).distinct.length == vocab.length)
    assert(B.vocabulary(docs, "text", merges) == vocab)
    // every merged token present; </w> is a base symbol
    assert(byToken.contains(B.EndOfWord))
    for ((a, b) <- merges) assert(byToken.contains(a + b), s"merge token ${a + b} missing")
    // CLOSURE: every sub-token the encoder emits for corpus words has an id
    val rank = merges.zipWithIndex.toMap
    val words = docs.select(explode(graft.functions.TextFunctions.tokens(col("text"))))
      .distinct().as[String].collect()
    val emitted = words.flatMap(w => B.encodeWord(w, rank)).toSet
    val missing = emitted.filterNot(byToken.contains)
    assert(missing.isEmpty, s"encoder emits tokens outside the vocabulary: ${missing.take(5)}")
  }

  test("more merges never increase the sub-token count (compression monotone)") {
    val docs = sf("documents").limit(50)
    val m50 = B.train(docs, "text", numMerges = 50, sampleN = 50, idCol = "doc_id")
    val m200 = B.train(docs, "text", numMerges = 200, sampleN = 50, idCol = "doc_id")
    assert(m50 == m200.take(m50.length), "merge lists must be prefixes of each other")
    val counts = docs
      .select(col("doc_id"), B.tokenCount(col("text"), m50).as("c50"),
        B.tokenCount(col("text"), m200).as("c200"))
      .as[(Long, Int, Int)].collect()
    assert(counts.nonEmpty && counts.forall { case (_, c50, c200) => c200 <= c50 })
    assert(counts.exists { case (_, c50, c200) => c200 < c50 }, "200 merges had no effect")
  }
}
