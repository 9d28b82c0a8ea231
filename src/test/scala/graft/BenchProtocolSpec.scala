package graft

import org.scalatest.funsuite.AnyFunSuite

/** The burst-retry protocol pieces (r12): the prior-artifact per-query
  * parser and the burst decision rule — pure functions, pinned here so
  * the bench's self-diagnosis layer has build-time coverage like the
  * rest of the suite. */
class BenchProtocolSpec extends AnyFunSuite {

  test("parseStreamParts fails fast on a malformed or non-positive value") {
    assert(StreamBench.parseStreamParts(None).isEmpty)
    assert(StreamBench.parseStreamParts(Some("32")).contains(32))
    Seq("32x", "", " 8", "0", "-4", "99999999999").foreach { bad =>
      val e = intercept[IllegalArgumentException](StreamBench.parseStreamParts(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_STREAM_SHUFFLE_PARTS"), bad)
      assert(e.getMessage.contains(s"'$bad'"), bad)
    }
  }

  test("parseProbeGate fails fast on a malformed or non-positive value") {
    assert(Bench.parseProbeGate(None).isEmpty)
    assert(Bench.parseProbeGate(Some("1.15")).contains(1.15))
    assert(Bench.parseProbeGate(Some("2")).contains(2.0))
    Seq("1.15x", "", "abc", "1,15", "0", "-1.2", "NaN").foreach { bad =>
      val e = intercept[IllegalArgumentException](Bench.parseProbeGate(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_PROBE_GATE"), bad)
      assert(e.getMessage.contains(s"'$bad'"), bad)
    }
  }

  test("parseQueryMedians extracts the queries map and nothing else") {
    val json =
      """{"metric":"total","value":12.5,"unit":"sec",""" +
        """"queries":{"q1_agg":1.25,"q_sort":0.5,"q_err":-1.0},""" +
        """"min":{"q1_agg":1.0},"suspect":false}"""
    val m = Bench.parseQueryMedians(json).toMap
    assert(m == Map("q1_agg" -> 1.25, "q_sort" -> 0.5, "q_err" -> -1.0))
  }

  test("parseQueryMedians is safe on malformed or missing input") {
    assert(Bench.parseQueryMedians("") == Seq.empty)
    assert(Bench.parseQueryMedians("""{"value":1}""") == Seq.empty)
    assert(Bench.parseQueryMedians("""{"queries":{}}""") == Seq.empty)
  }

  test("burstSuspect needs BOTH the relative and absolute margins") {
    // relative margin alone is not enough on sub-second rows
    assert(!Bench.burstSuspect(prev = 0.10, med = 0.35)) // 3.5x but +0.25s only
    assert(Bench.burstSuspect(prev = 0.10, med = 0.45))  // 4.5x and +0.35s
    // absolute margin alone is not enough on multi-second rows
    assert(!Bench.burstSuspect(prev = 5.0, med = 5.5))   // +0.5s but 1.1x
    assert(Bench.burstSuspect(prev = 5.0, med = 9.5))    // 1.9x
    assert(!Bench.burstSuspect(prev = 5.0, med = 8.9))   // 1.78x
    // failed or absent measurements never trigger
    assert(!Bench.burstSuspect(prev = 0.0, med = 10.0))
    assert(!Bench.burstSuspect(prev = -1.0, med = 10.0))
    assert(!Bench.burstSuspect(prev = 1.0, med = -1.0))
  }

  test("burstUnresolved fires only when the retry confirms the burst " +
       "but cannot be substituted (r18)") {
    // the 4.7x q_containment case: first 15.08, retry 3.38, warmMin 3.30
    // — retry >= warmMin blocked substitution, yet the retry proves the
    // headline med is a burst → unresolved
    assert(Bench.burstUnresolved(first = 15.08, retry = 3.38, warmMin = 3.30))
    // retry below warmMin → substitution already happened, not unresolved
    assert(!Bench.burstUnresolved(first = 15.08, retry = 3.20, warmMin = 3.30))
    // retry close to the first med (same burstSuspect margins): the
    // "burst" reproduced, so the headline med is honest — not unresolved
    assert(!Bench.burstUnresolved(first = 5.0, retry = 4.0, warmMin = 3.5))
    assert(!Bench.burstUnresolved(first = 5.0, retry = 2.9, warmMin = 2.5)) // 1.72x
    assert(Bench.burstUnresolved(first = 5.0, retry = 2.7, warmMin = 2.5))  // 1.85x
    // sub-second wobble never triggers (absolute margin)
    assert(!Bench.burstUnresolved(first = 0.5, retry = 0.25, warmMin = 0.2))
  }

  test("pickAnchor is strictly cross-round and never self-anchors (r13)") {
    def c(round: Int, name: String, suspect: Boolean = false) =
      (round, (name, 0.05, suspect, Some(0.12)))
    // a same-round artifact from an outlier-fast window must never
    // anchor a later attempt of the same round
    val cands = Seq(
      c(12, "BENCH_SF01_r12.json"),
      c(12, "BENCH_SF1_r12.json"),
      c(13, "BENCH_SF01_r13.json")) // same round — excluded
    val got = Bench.pickAnchor(cands, selfRound = Some(13),
      preferPrefix = Some("BENCH_SF1_"))
    assert(got.map(_._1) === Some("BENCH_SF1_r12.json"))
    // without a parsable self round, the newest round still wins
    assert(Bench.pickAnchor(cands, None, Some("BENCH_SF01_"))
      .map(_._1) === Some("BENCH_SF01_r13.json"))
    // first round: nothing earlier exists -> no anchor, not self
    assert(Bench.pickAnchor(Seq(c(13, "BENCH_SF01_r13.json")),
      Some(13), None).isEmpty)
    // clean beats contended across earlier rounds
    val mixed = Seq(c(12, "BENCH_SF01_r12.json", suspect = true),
      c(11, "BENCH_SF01_r11.json"))
    assert(Bench.pickAnchor(mixed, Some(13), Some("BENCH_SF01_"))
      .map(_._1) === Some("BENCH_SF01_r11.json"))
  }

  test("headline split excludes the declared baselines and drops failed queries (r14)") {
    val meds = Seq("q1_agg" -> 1.0, "q_dedup_embedding" -> 80.0,
      "q_ann_bruteforce" -> 3.0, "q_sort" -> 2.0, "q_broken" -> -1.0)
    val (scale, base, all) = Bench.splitTotals(meds, SparkEntry.baselineQueries)
    assert(scale === 3.0) // q1_agg + q_sort; q_broken's -1 never folded in
    assert(base === 83.0)
    assert(all === 86.0)
    // the declared baseline set names real query keys, and only ones
    // that have LSH/IVF scale-path siblings in the catalog
    assert(SparkEntry.baselineQueries.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.baselineQueries ===
      Set("q_ann_bruteforce", "q_dedup_embedding"))
    assert(Set("q_ann_lsh", "q_ann_ivf", "q_dedup_minhash")
      .subsetOf(SparkEntry.queries.keySet))
  }

  test("gitSha stamps a checkable jar lineage into the artifact (r15)") {
    // r14's one defect: committed bench artifacts predated a fix and
    // nothing in the artifact could show it.  Where git knows HEAD the
    // stamp is exactly that SHA (optionally -dirty); in a tree without
    // git (an exported archive) it is the explicit "unknown" sentinel —
    // never empty, never a crash.
    val sha = Bench.gitSha()
    val head = scala.util.Try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD").redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]{40}")) Some(out) else None
    }.toOption.flatten
    head match {
      case Some(h) => assert(sha == h || sha == s"$h-dirty", s"$sha vs HEAD $h")
      case None => assert(sha === "unknown")
    }
  }

  test("porcelainPaths survives the trimmed first line (r16 root cause)") {
    // the process helper trims captured output, eating the FIRST
    // line's leading space: a fixed drop(3) then misaligned and the
    // artifact exclusion never saw the real path — every r15 bench
    // artifact stamped -dirty from exactly this
    val trimmed = "M FORMATBENCH_CC_r16.json\n M src/main/scala/graft/Bench.scala\n?? notes.txt"
    assert(Bench.porcelainPaths(trimmed) === Seq(
      "FORMATBENCH_CC_r16.json", "src/main/scala/graft/Bench.scala", "notes.txt"))
    assert(Bench.porcelainPaths("MM BENCH_SF1_r16.json") === Seq("BENCH_SF1_r16.json"))
    assert(Bench.porcelainPaths("") === Seq.empty)
    // end to end: an artifact-only modification must not dirty-mark
    assert(Bench.porcelainPaths("M PLANAUDIT_r16.json")
      .filterNot(Bench.isBenchArtifact).isEmpty)
  }

  test("porcelainPaths resolves renames and quoted paths (ADVICE r16)") {
    // a rename entry carries 'old -> new': the NEW path is what a
    // later overwrite touches, and the ' -> ' composite previously
    // never matched the artifact filter (false dirty)
    assert(Bench.porcelainPaths("R  BENCH_old_r15.json -> BENCH_SF1_r16.json")
      === Seq("BENCH_SF1_r16.json"))
    // git quotes paths with special characters; the quoted form must
    // unwrap before the filter sees it
    assert(Bench.porcelainPaths("""M "DRIFTAB_r16.json"""")
      === Seq("DRIFTAB_r16.json"))
    assert(Bench.porcelainPaths("""M "a\"b.txt"""") === Seq("a\"b.txt"))
    // end to end: a renamed-to artifact must not dirty-mark
    assert(Bench.porcelainPaths("R  x.json -> MEDIAPROBE_r17.json")
      .filterNot(Bench.isBenchArtifact).isEmpty)
  }

  test("the dirty scan ignores harness OUTPUT artifacts, never sources (late r15)") {
    // the r15 lesson: a retry loop's gated stub overwriting the prior
    // committed BENCH_SF01_r15.json dirty-marked every later run in
    // the train even though the source tree matched HEAD exactly.
    // r17 (ADVICE r16): the match is the generic UPPERCASE_r<N>.json
    // naming convention, because each newly added family
    // (BCFMODEPROBE, DRIFTAB) re-created the bug while enumerated
    // families were the rule — BCFMODEPROBE_r16/DRIFTAB_r16 shipped
    // with -dirty stamps for exactly this reason.
    for (out <- Seq("BENCH_SF1_r15.json", "BENCH_SF01_r9.json", "BENCH_r01.json",
        "STREAMBENCH_r15.json", "FORMATBENCH_r14.json", "PLANAUDIT_r12.json",
        "MEDIAPROBE_r14.json", "CORRECTNESS_r15.json",
        "BCFMODEPROBE_r16.json", "DRIFTAB_r16.json", "SKEWPROBE_CC_r17.json",
        "STREAMMODEPROBE_r17.json"))
      assert(Bench.isBenchArtifact(out), out)
    for (src <- Seq("src/main/scala/graft/Bench.scala", "build.sbt",
        "tools/ratio.py", "SURVEY.md", "BENCHNOTES_r15.md", "bench_r15.json",
        "lower_r15.json", "X_r.json", "_r15.json"))
      assert(!Bench.isBenchArtifact(src), src)
  }

  test("parseAnchorFile reads the regime-matching LINE of a multi-regime artifact (ADVICE r16)") {
    // a STREAMBENCH artifact carries one JSON line per regime; without
    // the filter, probe_median_sec/probe_par_sec/suspect always came
    // from the FIRST line regardless of this run's regime
    val dir = java.nio.file.Files.createTempDirectory("anchor_spec")
    val f = dir.resolve("STREAMBENCH_r16.json")
    java.nio.file.Files.write(f,
      ("""{"regime":"micro16","probe_median_sec":0.050,"probe_par_sec":0.10,"suspect":false}""" + "\n" +
       """{"regime":"bulk4","probe_median_sec":0.080,"probe_par_sec":0.20,"suspect":true}""" + "\n")
        .getBytes("UTF-8"))
    def anchor(regime: String) = Bench.parseAnchorFile(f,
      Some((l: String) => l.contains(s""""regime":"$regime"""")))
    assert(anchor("bulk4").map { case (_, m, s, p) => (m, s, p) }
      === Some((0.080, true, Some(0.20))))
    assert(anchor("micro16").map { case (_, m, s, p) => (m, s, p) }
      === Some((0.050, false, Some(0.10))))
    // a filter that matches NO line of a multi-line artifact yields no
    // anchor (never a silent first-line fallback)
    assert(anchor("nosuch").isEmpty)
    // single-line artifacts keep anchoring even when the filter misses
    // (BENCH artifacts carry no regime field)
    val single = dir.resolve("BENCH_SF1_r16.json")
    java.nio.file.Files.write(single,
      """{"probe_median_sec":0.049,"probe_par_sec":0.12,"suspect":false}"""
        .getBytes("UTF-8"))
    assert(Bench.parseAnchorFile(single,
        Some((l: String) => l.contains(""""regime":"micro16"""")))
      .map(_._2) === Some(0.049))
    // no filter: whole-file parse, unchanged legacy behavior
    assert(Bench.parseAnchorFile(f, None).map(_._2) === Some(0.050))
  }
}
