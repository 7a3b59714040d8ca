package graft

import graft.faces.{Face, Faces}

/** The embedded frozen-ref table and the bench suite must stay in lockstep
  * (r13 directive 1's self-adjudicating artifact is only self-adjudicating
  * if every row it times has a reference): a new bench face without a
  * frozen ref, or a renamed face orphaning one, fails HERE instead of
  * silently weakening the in-artifact gate. */
class BenchRefsSpec extends SparkSpec {

  test("every bench face has a frozen ref; every ref names a live bench face") {
    val faces = Faces.all.map(_.name).toSet
    val refs = BenchRefs.refs.keySet
    val unreferenced = faces.diff(refs)
    assert(unreferenced.isEmpty,
      s"bench faces without a frozen ref (add to BenchRefs + BASELINE.md): " +
        unreferenced.toSeq.sorted.mkString(", "))
    val orphaned = refs.diff(faces)
    assert(orphaned.isEmpty,
      s"frozen refs naming no bench face (renamed or removed query?): " +
        orphaned.toSeq.sorted.mkString(", "))
  }

  test("face filters (Verify args, Bench SPARK_GRAFT_BENCH_ONLY) fail fast on unknown names") {
    assert(Faces.select(Set.empty) == Faces.all)
    // a filter keeps declaration order, whatever the order of its names
    assert(Faces.select(Set("q02_filter_project", "q01_groupby_agg")).map(_.name) ==
      Seq("q01_groupby_agg", "q02_filter_project"))
    val e = intercept[IllegalArgumentException](
      Faces.select(Set("q01_groupby_agg", "zz", "qq")))
    assert(e.getMessage.contains("unknown face name(s): qq, zz"), e.getMessage)
    val typo = intercept[IllegalArgumentException](
      Faces.select(Set("q77_interval_join_stream", "q77_interval_join")))
    assert(typo.getMessage.endsWith(": q77_interval_join"), typo.getMessage)
    // the single-face lookup (Explain, the specs) fails the same way
    val one = intercept[IllegalArgumentException](Faces("q77_interval_join"))
    assert(one.getMessage.endsWith(": q77_interval_join"), one.getMessage)
  }

  test("the face registry rejects a repeated face name") {
    val f = Face("a", (s, d) => SparkEntry.t(s, d, "region"), "SELECT 1 AS x")
    val g = Face("b", f.run, "SELECT 2 AS x")
    assert(Faces.requireUniqueNames(Seq(f, g)) == Seq(f, g))
    val e = intercept[IllegalArgumentException](
      Faces.requireUniqueNames(Seq(f, g, f.copy(oracle = "SELECT 3 AS x"))))
    assert(e.getMessage == "requirement failed: duplicate face name(s): a", e.getMessage)
    assert(Faces.all.map(_.name).distinct.size == 150)
  }

  test("refs are sane: positive medians, non-negative cpu_frac, streaming faces known") {
    BenchRefs.refs.foreach { case (name, (med, cpu)) =>
      assert(med > 0, s"$name: non-positive frozen median $med")
      assert(cpu >= 0, s"$name: negative reference cpu_frac $cpu")
    }
    // the section split drives the gate's noise floors — a streaming face
    // declared outside the streaming family would gate against the core
    // floor. NAMING CONTRACT (ADVICE r14): a streaming face MUST carry
    // "_stream" or "interval_join" in its name; this two-direction equality
    // check is what ENFORCES the convention — a conventionally-named face
    // outside Faces.streaming fails here, and so does a streaming face
    // named outside the convention.
    val streaming = Faces.all.map(_.name).toSet
      .filter(n => n.contains("_stream") || n.contains("interval_join"))
    val declared = Faces.streaming.map(_.name).toSet
    assert(streaming == declared,
      s"streaming-face set drifted: only-in-suite=${streaming.diff(declared).toSeq.sorted} " +
        s"only-declared=${declared.diff(streaming).toSeq.sorted}")
  }

  test("per-scale refs (r16): every sfRefs row names a live bench face, sane values") {
    val faces = Faces.all.map(_.name).toSet
    // the two frozen cross-scale tables (sf1 r16, sf10 r17): dropping one
    // silently downgrades that SF's runs from gated back to annotate-only
    assert(BenchRefs.sfRefs.keySet == Set("sf1", "sf10"))
    assert(BenchRefs.sfRefs("sf1").size >= 19)
    assert(BenchRefs.sfRefs("sf10").size >= 8)
    BenchRefs.sfRefs.foreach { case (sf, table) =>
      assert(sf.nonEmpty && sf != "sf0.1",
        s"sfRefs must not shadow the run-of-record sf0.1 table (got '$sf')")
      val orphaned = table.keySet.diff(faces)
      assert(orphaned.isEmpty,
        s"sfRefs[$sf] naming no bench face: ${orphaned.toSeq.sorted.mkString(", ")}")
      table.foreach { case (name, (med, cpu)) =>
        assert(med > 0, s"sfRefs[$sf] $name: non-positive frozen median $med")
        assert(cpu >= 0, s"sfRefs[$sf] $name: negative cpu_frac $cpu")
      }
    }
  }

  test("evidence.sh gated face lists stay in lockstep with sfRefs") {
    // tools/evidence.sh embeds the per-SF face selections its gated
    // cross-scale steps run with; a frozen ref whose face the runner never
    // selects silently un-gates that face. Same self-enforcement spirit as
    // CollectLedgerSpec: parse the script, assert coverage.
    val sh = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/evidence.sh")), "UTF-8")
    def listOf(varName: String): Set[String] =
      (varName + "=\"([^\"]*)\"").r.findFirstMatchIn(sh)
        .map(_.group(1).split(',').map(_.trim).toSet)
        .getOrElse(fail(s"$varName not found in tools/evidence.sh"))
    val sf1 = listOf("SF1_FACES")
    val sf10 = listOf("SF10_FACES")
    val missing1 = BenchRefs.sfRefs("sf1").keySet.diff(sf1)
    val missing10 = BenchRefs.sfRefs("sf10").keySet.diff(sf10)
    assert(missing1.isEmpty,
      s"sfRefs(sf1) faces missing from evidence.sh SF1_FACES: ${missing1.toSeq.sorted.mkString(", ")}")
    assert(missing10.isEmpty,
      s"sfRefs(sf10) faces missing from evidence.sh SF10_FACES: ${missing10.toSeq.sorted.mkString(", ")}")
    // and the runner must not select a face the bench suite doesn't have
    val unknown = (sf1 ++ sf10).diff(Faces.all.map(_.name).toSet)
    assert(unknown.isEmpty,
      s"evidence.sh selects unknown faces: ${unknown.toSeq.sorted.mkString(", ")}")
  }

  test("gate math: section pairing, noisier-window rule, sub-100ms floor, triage rule") {
    // section pairing: a streaming face gates against the streaming floors
    assert(Bench.gateFor("q77_interval_join_stream", 0.10, 0.10) == 2.0 * 1.30) // nfRef streaming 0.30 wins
    assert(Bench.gateFor("q01_groupby_agg", 0.10, 0.50) == 2.0 * 1.17) // nfRef core 0.17 wins; streaming floor ignored
    // noisier-window rule: the run's own section floor wins when larger
    assert(Bench.gateFor("q01_groupby_agg", 0.25, 0.0) == 2.0 * 1.25)
    assert(Bench.gateFor("q73_sessionize_stream", 0.0, 0.40) == 2.0 * 1.40)
    // sub-100ms floor: a 90 ms ref gates as if it were 100 ms
    assert(math.abs(Bench.ratioFor(0.3, 0.09) - 3.0) < 1e-9)
    assert(math.abs(Bench.ratioFor(0.3, 0.15) - 2.0) < 1e-9)
  }

  test("run quality (r16 directive 5): suspect/cpu-collapse fractions + max load1") {
    // rows: (cpuFrac, refCpuFrac-or-0)
    assert(Bench.cpuCollapseFrac(Seq.empty) == 0.0)
    assert(Bench.cpuCollapseFrac(Seq((8.0, 8.0), (2.0, 2.0))) == 0.0)
    // only a cpu_frac below 0.6x of a known reference counts
    val collapse = Bench.cpuCollapseFrac(Seq(
      (4.0, 8.0),   // cpu collapsed vs ref
      (5.0, 8.0),   // above 0.6x of the ref
      (0.5, 0.0),   // no ref: never counts
      (8.0, 8.0)))
    assert(math.abs(collapse - 0.25) < 1e-9)
  }

  test("run class (r17 verdict item 7): quiet/dirty from the collapse discriminator") {
    // calibration anchors (BASELINE.md): quiet runs of record 0.007–0.04,
    // adjudicated-dirty witness 0.14 — threshold sits between
    assert(Bench.runClass(0.0) == "quiet")
    assert(Bench.runClass(0.04) == "quiet")
    assert(Bench.runClass(0.08) == "quiet")
    assert(Bench.runClass(0.081) == "dirty")
    assert(Bench.runClass(0.14) == "dirty")
  }

  test("parseNumMap: extracts a named flat map, tolerates absent keys") {
    val text = """{"queries":{"a":1.5,"b":0.25,"c":null},"queries_cpu_frac":{"a":2.0}}"""
    assert(Bench.parseNumMap(text, "queries") == Map("a" -> 1.5, "b" -> 0.25))
    assert(Bench.parseNumMap(text, "queries_cpu_frac") == Map("a" -> 2.0))
    assert(Bench.parseNumMap(text, "nope").isEmpty)
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
  private def row(name: String, med: Double, spread: Double = 0.0, nreps: Int = 5) =
    Bench.Row(name, med, cold = med, spread, nreps, cpuFrac = 1.0,
      nFailed = if (med.isNaN) nreps else 0)
  private def names(xs: Seq[Bench.Gated]): Seq[String] = xs.map(_.row.name)

  test("gate verdict at sf0.1: trips worst-first, failed rows excluded, 0.1 s floor, capped lists") {
    val refs = (Seq("a", "b", "c", "d", "e", "f", "failed").map(_ -> ((1.0, 2.0))) ++
      Seq("tiny1", "tiny2").map(_ -> ((0.05, 1.0)))).toMap
    val rows = Seq(
      row("a", 3.0), row("b", 5.0), row("c", 2.0),  // c: inside the 2 x 1.17 gate
      row("d", 4.0), row("e", 3.5), row("f", 2.5),
      row("tiny1", 0.32),                            // 0.32 / max(0.05, 0.1): trips
      row("tiny2", 0.2),                             // 0.2 / 0.1: inside, though 4x its ref
      row("failed", Double.NaN),                     // every warm rep failed
      row("unreferenced", 10.0))
    val v = Bench.gate(rows, "sf0.1", refs, Map.empty)
    assert(v.nfRunCore == 0.0 && v.gated.forall(_.gate == 2.0 * 1.17))
    assert(names(v.gated) == Seq("a", "b", "c", "d", "e", "f", "tiny1", "tiny2"))
    assert(names(v.violations) == Seq("b", "d", "e", "tiny1", "a", "f"))
    assert(math.abs(v.violations(3).ratio - 3.2) < 1e-9)
    assert(v.excursions.isEmpty)
    val capped = json.readTree("{" + v.json(4) + "}").get("gate")
    assert(capped.get("ref_sf").asText == "sf0.1")
    assert(capped.get("n_refs").asInt == 8)
    assert(capped.get("n_violations").asInt == 6)
    assert(capped.get("violations").size == 4)
    assert(capped.get("truncated_violations").asInt == 2)
    assert(!capped.has("excursions") && !capped.has("cross_scale"))
    val top = capped.get("violations").get("b")
    assert(top.get("warm").asDouble == 5.0 && top.get("ref").asDouble == 1.0)
    assert(top.get("ratio").asDouble == 5.0 && top.get("gate").asDouble == 2.34)
    assert(top.get("cpu_frac").asDouble == 1.0 && top.get("ref_cpu_frac").asDouble == 2.0)
    assert(top.size == 6)
    val full = json.readTree("{" + v.json(Int.MaxValue) + "}").get("gate")
    assert(full.get("violations").size == 6 && !full.has("truncated_violations"))
  }

  test("gate verdict across scales: own-SF refs gate, sf0.1 refs only annotate") {
    val refs = Seq("a", "b", "c", "g").map(_ -> ((1.0, 2.0))).toMap
    val sfRefs = Map("sf1" -> Map("a" -> ((2.0, 4.0)), "g" -> ((2.0, 4.0))))
    val rows = Seq(row("a", 6.0), row("b", 4.0), row("c", 2.0), row("g", 2.0))
    val own = Bench.gate(rows, Bench.sfTagOf("/tmp/graft_sf1/"), refs, sfRefs)
    assert(names(own.violations) == Seq("a"))   // 3x its own sf1 ref
    assert(names(own.excursions) == Seq("b"))   // 4x the sf0.1 ref
    val g = json.readTree("{" + own.json(4) + "}").get("gate")
    assert(g.get("ref_sf").asText == "sf1" && g.get("cross_scale").asBoolean)
    assert(g.get("n_refs").asInt == 4 && g.get("n_own_refs").asInt == 2)
    assert(g.get("n_violations").asInt == 1 && g.get("n_excursions").asInt == 1)
    assert(g.get("violations").get("a").get("ref_sf").asText == "sf1")
    assert(g.get("excursions").get("b").get("ref_sf").asText == "sf0.1")
    // a scale with no frozen table: every trip is an excursion and the
    // violation count is unknown, not zero
    val none = Bench.gate(rows, Bench.sfTagOf("data/sf0.01"), refs, sfRefs)
    assert(none.violations.isEmpty)
    assert(names(none.excursions) == Seq("a", "b"))
    val n = json.readTree("{" + none.json(1) + "}").get("gate")
    assert(n.get("n_violations").isNull && n.get("n_excursions").asInt == 2)
    assert(n.get("truncated_excursions").asInt == 1)
    assert(n.get("ref_sf").asText == "sf0.1" && n.get("violations").size == 0)
  }

  test("parity compare: an all-failed face reads null and violates") {
    val base = """{"queries":{"a":1.0,"b":1.0,"c":0.5},"queries_spread":{"a":0.1,"b":0.1,"c":0.1},"queries_reps":{"a":5,"b":5,"c":5}}"""
    val rows = Seq(row("a", 1.2, 0.1), row("b", 2.0, 0.1), row("c", Double.NaN),
      row("d", 9.0))  // not in the baseline: not compared
    val p = json.readTree(Bench.parityJson(rows, "base.json", base))
    assert(p.get("metric").asText == "bench_parity")
    assert(p.get("n_violations").asInt == 2)
    assert(p.get("violations").get("b").asDouble == 2.0)
    assert(p.get("violations").get("c").isNull)
    assert(p.get("ratios").size == 3 && p.get("ratios").get("a").asDouble == 1.2)
    // a 3-rep reading's spread is floored at 0.40 on either side
    val few = json.readTree(Bench.parityJson(Seq(row("b", 1.35, 0.0, nreps = 3)), "b", base))
    assert(few.get("n_violations").asInt == 0)
  }

  test("refreeze_refs.py patches one quiet row and refuses a dirty artifact") {
    import scala.sys.process._
    val script = new java.io.File("tools/refreeze_refs.py").getAbsolutePath
    val dir = java.nio.file.Files.createTempDirectory("refreeze")
    val refs = dir.resolve("src/main/scala/graft/BenchRefs.scala")
    java.nio.file.Files.createDirectories(refs.getParent)
    java.nio.file.Files.copy(java.nio.file.Paths.get("src/main/scala/graft/BenchRefs.scala"), refs)
    val before = java.nio.file.Files.readAllBytes(refs)
    def run(runClass: String, args: String*): Int = {
      val art = dir.resolve(s"$runClass.json")
      java.nio.file.Files.write(art, (s"""{"queries":{"q01_groupby_agg":0.9876,"qd55_heavy_hitters":0.5},""" +
        s""""queries_cpu_frac":{"q01_groupby_agg":1.42,"qd55_heavy_hitters":3.0},""" +
        s""""quality":{"cpu_collapse_frac":0.0,"run_class":"$runClass"}}""").getBytes("UTF-8"))
      Process(Seq("python3", script, art.toString) ++ args, dir.toFile)
        .!(ProcessLogger(_ => ()))
    }
    assert(run("dirty", "q01_groupby_agg") != 0)
    assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(refs), before))
    assert(run("quiet", "q01_groupby_agg") == 0)
    val src = new String(before, "UTF-8")
    val rowOf = "\"q01_groupby_agg\" -> \\(\\([^)]*\\)\\)".r
    assert(rowOf.findAllIn(src).size == 1)
    val patched = rowOf.replaceFirstIn(src, "\"q01_groupby_agg\" -> ((0.988, 1.42))")
    assert(new String(java.nio.file.Files.readAllBytes(refs), "UTF-8") == patched)
    // --sf patches only that scale's table, and never reaches past it
    assert(run("quiet", "qd55_heavy_hitters", "--sf", "sf10") == 0)
    val sf10 = new String(java.nio.file.Files.readAllBytes(refs), "UTF-8")
    assert(sf10 == patched.replace("\"qd55_heavy_hitters\" -> ((0.77, 14.6))",
      "\"qd55_heavy_hitters\" -> ((0.50, 3.0))"))
    assert(run("quiet", "q01_groupby_agg", "--sf", "sf10") != 0)
    new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }
}
