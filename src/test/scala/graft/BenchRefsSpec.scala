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
    // mechanism baselines (r15): every entry must name a live ref row, with
    // sane non-negative values
    val orphanMech = BenchRefs.mechRefs.keySet.diff(BenchRefs.refs.keySet)
    assert(orphanMech.isEmpty,
      s"mechRefs naming no frozen ref: ${orphanMech.toSeq.sorted.mkString(", ")}")
    BenchRefs.mechRefs.foreach { case (name, (tasks, gc, spill)) =>
      assert(tasks >= 0 && gc >= 0 && spill >= 0,
        s"$name: negative mechanism baseline ($tasks, $gc, $spill)")
    }
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
    // triage: cpu collapse below 0.6x of the clean reference, or load1 > 4
    assert(Bench.loadSuspectFor(cpuFrac = 4.0, refCpuFrac = 8.0, load1 = 1.0))
    assert(!Bench.loadSuspectFor(cpuFrac = 5.0, refCpuFrac = 8.0, load1 = 1.0))
    assert(Bench.loadSuspectFor(cpuFrac = 8.0, refCpuFrac = 8.0, load1 = 4.5))
    assert(!Bench.loadSuspectFor(cpuFrac = 8.0, refCpuFrac = 0.0, load1 = 2.0))
  }

  test("mechanism verdict: ordered causes, graceful degradation on missing refs") {
    def m(cpuFrac: Double = 8.0, refCpuFrac: Double = 8.0, load1: Double = 1.0,
          gcFrac: Double = 0.02, refGcFrac: Double = 0.02,
          tasks: Double = 100, refTasks: Double = 100,
          spillMb: Double = 0.0, refSpillMb: Double = 0.0): String =
      Bench.mechanismFor(cpuFrac, refCpuFrac, load1, gcFrac, refGcFrac,
        tasks, refTasks, spillMb, refSpillMb)
    // starvation wins over everything (theft explains downstream inflation)
    assert(m(cpuFrac = 2.0, gcFrac = 0.9) == "ambient-starvation")
    assert(m(load1 = 17.0, tasks = 500) == "ambient-starvation")
    // the driver-qd41 signature: elevated cpu at quiet load — named by the
    // first counter that claims it
    assert(m(cpuFrac = 9.0, refCpuFrac = 5.1, gcFrac = 0.62) == "gc-storm")
    assert(m(cpuFrac = 9.0, refCpuFrac = 5.1, tasks = 400, refTasks = 100) == "recompute")
    assert(m(cpuFrac = 9.0, refCpuFrac = 5.1, spillMb = 900.0) == "spill")
    assert(m(cpuFrac = 9.0, refCpuFrac = 5.1) == "cpu-amplified")
    // gc-storm needs BOTH a real fraction and 3x the query's own clean
    // profile (a query that always spends 30% in GC isn't a storm)
    assert(m(gcFrac = 0.30, refGcFrac = 0.28) == "unknown")
    assert(m(gcFrac = 0.30, refGcFrac = 0.0) == "gc-storm")
    // missing refs degrade: refTasks 0 skips the recompute test
    assert(m(tasks = 900, refTasks = 0) == "unknown")
    // spill has the 64 MB absolute floor so trivial spills don't name it
    assert(m(spillMb = 10.0) == "unknown")
    // flat everything = unknown (wall grew, nothing claims it)
    assert(m() == "unknown")
  }

  test("mechanism verdict: cross-scale branch suppresses the sf0.1 work-shape tests") {
    def m(cpuFrac: Double = 8.0, refCpuFrac: Double = 8.0, load1: Double = 1.0,
          gcFrac: Double = 0.02, refGcFrac: Double = 0.02,
          tasks: Double = 100, refTasks: Double = 100,
          spillMb: Double = 0.0): String =
      Bench.mechanismFor(cpuFrac, refCpuFrac, load1, gcFrac, refGcFrac,
        tasks, refTasks, spillMb, 0.0, crossScale = true)
    // the r15 sf10 mislabel: 100x data grew tasks past 1.5x the sf0.1 ref
    // — expected partition growth, NOT a lost-persist recompute
    assert(m(tasks = 426, refTasks = 54) == "cross-scale")
    // ditto spill and cpu amplification: more data legitimately spills and
    // burns more CPU than the sf0.1 plan's counters describe
    assert(m(spillMb = 418.0) == "cross-scale")
    assert(m(cpuFrac = 21.7, refCpuFrac = 1.46) == "cross-scale")
    // starvation and GC storm stay first: ambient theft and heap pressure
    // are environment signatures, valid at any SF
    assert(m(cpuFrac = 2.0, tasks = 426, refTasks = 54) == "ambient-starvation")
    assert(m(load1 = 17.0) == "ambient-starvation")
    assert(m(gcFrac = 0.62) == "gc-storm")
  }

  test("gate mechanism label: own-SF violations are never pre-dismissed as cross-scale") {
    def g(nFailed: Int = 0, refScale: Boolean = false, ownRef: Boolean = false,
          cpuFrac: Double = 8.0, load1: Double = 1.0, gcFrac: Double = 0.02,
          tasks: Double = 400, refTasks: Double = 100): String =
      Bench.gateMechanism(nFailed, cpuFrac, 8.0, load1, gcFrac, 0.02,
        tasks, refTasks, 0.0, 0.0, refScale, ownRef)
    // failed reps override everything, at any scale
    assert(g(nFailed = 1) == "failed")
    assert(g(nFailed = 1, refScale = true) == "failed")
    // a cross-scale EXCURSION row (sf0.1 ref at another SF) reads cross-scale
    assert(g() == "cross-scale")
    // ADVICE r16: the SAME residue on a row gated against its OWN same-SF
    // frozen ref is a REAL violation with no mechanism baselines to consult —
    // "own-sf-untriaged", never "expected physics at a different SF"
    assert(g(ownRef = true) == "own-sf-untriaged")
    // environment signatures stay first and keep their names on ownRef rows
    assert(g(ownRef = true, cpuFrac = 2.0) == "ambient-starvation")
    assert(g(ownRef = true, load1 = 17.0) == "ambient-starvation")
    assert(g(ownRef = true, gcFrac = 0.62) == "gc-storm")
    // on the run-of-record scale the full sf0.1 triage applies unchanged
    assert(g(refScale = true, ownRef = true) == "recompute")
  }

  test("run quality (r16 directive 5): suspect/cpu-collapse fractions + max load1") {
    // rows: (cpuFrac, refCpuFrac-or-0, load1)
    assert(Bench.runQuality(Seq.empty) == ((0.0, 0.0, 0.0)))
    // clean run: nothing suspect
    assert(Bench.runQuality(Seq((8.0, 8.0, 1.0), (2.0, 2.0, 2.0))) == ((0.0, 0.0, 2.0)))
    // one cpu-collapsed row + one load-burst row out of four: both count as
    // load-suspect, but only the COLLAPSE counts toward the discriminator
    // (self-load keeps load1 above 4 on even the quietest full-suite runs)
    val (frac, collapse, maxL) = Bench.runQuality(Seq(
      (4.0, 8.0, 1.0),   // cpu collapsed vs ref -> suspect + collapse
      (8.0, 8.0, 30.5),  // visible machine load -> suspect only
      (8.0, 0.0, 2.0),   // no ref, quiet -> clean (cpu test skipped)
      (8.0, 8.0, 1.0)))  // clean
    assert(math.abs(frac - 0.5) < 1e-9)
    assert(math.abs(collapse - 0.25) < 1e-9)
    assert(maxL == 30.5)
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

  test("repro-prior adjudication (r18 verdict item 7): ambient-repro labeling") {
    // a violation whose unchanged-tree prior ratio >= 0.8x its own ratio
    // self-classifies ambient — the slowness reproduces without the diff
    assert(Bench.adjudicate("unknown", 2.6, 1.5, Some(2.3)) == "ambient-repro")
    assert(Bench.adjudicate("ambient-starvation", 2.6, 1.5, Some(2.2)) == "ambient-repro")
    assert(Bench.adjudicate("cpu-amplified", 2.0, 1.5, Some(1.8)) == "ambient-repro")
    // a prior comfortably inside the gate does NOT adjudicate: the slowness
    // is new to this tree
    assert(Bench.adjudicate("unknown", 2.6, 1.5, Some(1.3)) == "unknown")
    // no prior, no adjudication
    assert(Bench.adjudicate("unknown", 2.6, 1.5, None) == "unknown")
    // counter-backed mechanisms and failed reps keep their names — a
    // standing spill/recompute pathology is pre-existing, not ambient
    assert(Bench.adjudicate("spill", 2.6, 1.5, Some(2.6)) == "spill")
    assert(Bench.adjudicate("recompute", 2.6, 1.5, Some(2.6)) == "recompute")
    assert(Bench.adjudicate("gc-storm", 2.6, 1.5, Some(2.6)) == "gc-storm")
    assert(Bench.adjudicate("failed", 2.6, 1.5, Some(2.6)) == "failed")
  }

  test("repro-prior adjudication (ADVICE r19): a prior just under the gate never relabels") {
    // prior 1.45x >= 0.8 × 1.8x, but it PASSED the 1.5x gate: the slowness
    // did not reproduce at the unchanged tree, so the violation keeps its
    // own mechanism
    assert(Bench.adjudicate("unknown", 1.8, 1.5, Some(1.45)) == "unknown")
    assert(Bench.adjudicate("cpu-amplified", 1.8, 1.5, Some(1.5)) == "cpu-amplified")
    // just over the gate it does reproduce
    assert(Bench.adjudicate("unknown", 1.8, 1.5, Some(1.51)) == "ambient-repro")
  }

  test("parseNumMap: extracts a named flat map, tolerates absent keys") {
    val text = """{"queries":{"a":1.5,"b":0.25},"queries_cpu_frac":{"a":2.0}}"""
    assert(Bench.parseNumMap(text, "queries") == Map("a" -> 1.5, "b" -> 0.25))
    assert(Bench.parseNumMap(text, "queries_cpu_frac") == Map("a" -> 2.0))
    assert(Bench.parseNumMap(text, "nope").isEmpty)
    // repro-prong arithmetic (r15 directive 5): prior_ratio uses the same
    // floored ratio rule as the gate
    val prior = Bench.parseNumMap(text, "queries")("a")
    assert(math.abs(Bench.ratioFor(prior, 0.75) - 2.0) < 1e-9)
  }
}
