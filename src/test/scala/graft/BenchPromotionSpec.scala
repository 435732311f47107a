package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's mover auto-promotion: gates whose fresh sharded wall
  * exceeds 2× + 2 s of the MIN over a window of prior committed
  * snapshots must enter the isolated pass IN THE SAME RUN — the rule
  * that makes an unexplained in-suite regression uncommittable (round
  * 11 shipped q93/q94 at 5–6× with no isolated adjudication; round 12
  * compared only the single previous snapshot and q296 ratcheted under
  * it in sub-threshold steps, 2.13 → 3.46 → 7.52 s — the window
  * closes that). Pure logic, tested against synthetic snapshot
  * files. */
class BenchPromotionSpec extends AnyFunSuite {

  private def snapshot(walls: (String, Double)*): String =
    snapshotWith("", walls: _*)

  /** `extra` is raw JSON spliced after the metric field — mode fields
    * (repeat / sf / io) for the comparability tests. */
  private def snapshotWith(extra: String, walls: (String, Double)*): String = {
    val qs = walls.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"metric":"total","value":1.0,"unit":"sec"$extra,"queries":{$qs},"sf":"x"}"""
  }

  private def tmpFile(content: String): String = {
    val p = java.nio.file.Files.createTempFile("graft_bench_prior", ".json")
    java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    p.toFile.deleteOnExit()
    p.toString
  }

  private def tmpSnapshot(walls: (String, Double)*): String =
    tmpFile(snapshot(walls: _*))

  /** Current run's mode matching the synthetic snapshots' defaults. */
  private def promoted(current: Map[String, Double],
      priors: String*): Seq[String] =
    Bench.promotedMovers(current, priors, repeat = 1, sfBase = "x",
      ioOn = true)

  test("parseNumMap round-trips flat numeric maps incl. scientific notation") {
    assert(Bench.parseNumMap("") == Map.empty)
    assert(Bench.parseNumMap(""""a":1.5,"b":2.0E-4,"c":-1""") ==
      Map("a" -> 1.5, "b" -> 2.0e-4, "c" -> -1.0))
  }

  test("movers past 2x+2s are promoted; stable gates, new gates, failures are not") {
    val prior = tmpSnapshot(
      "q10_stable" -> 5.0,   // current 6.0: inside 2x+2
      "q20_mover" -> 2.0,    // current 7.0 > 2*2+2: promoted
      "q30_failed" -> -1.0,  // failed baseline: skipped
      "q40_gone" -> 3.0,     // not in current run: skipped
      "q59_salted_join" -> 1.0) // on the static isolated list: excluded
    val current = Map(
      "q10_stable" -> 6.0, "q20_mover" -> 7.0, "q30_failed" -> 50.0,
      "q50_new" -> 99.0,   // no baseline: not a mover
      "q59_salted_join" -> 9.0)
    assert(promoted(current, prior) == Seq("q20_mover"))
  }

  test("boundary: exactly 2x+2 does not promote; just past it does") {
    val prior = tmpSnapshot("qa" -> 3.0, "qb" -> 3.0)
    assert(promoted(Map("qa" -> 8.0, "qb" -> 8.01), prior) == Seq("qb"))
  }

  test("a missing prior snapshot promotes nothing") {
    assert(promoted(Map("qa" -> 100.0), "/nonexistent/prior.json") == Nil)
  }

  test("windowed baseline: sub-threshold creep vs the newest snapshot " +
      "still promotes against the window MIN (the q296 ratchet)") {
    // q296's actual history: 2.13 (r11) -> 3.46 (r12) -> 7.52 (now).
    // Against the newest alone, 7.52 < 2*3.46+2 = 8.92: no promotion —
    // the ratchet gap. Against min(2.13, 3.46): 7.52 > 2*2.13+2 = 6.26.
    val older = tmpSnapshot("q296x" -> 2.13)
    val newer = tmpSnapshot("q296x" -> 3.46)
    val current = Map("q296x" -> 7.52)
    assert(promoted(current, newer) == Nil,
      "single-snapshot baseline must reproduce the ratchet gap")
    assert(promoted(current, newer, older) == Seq("q296x"),
      "window MIN must catch the cumulative move")
  }

  test("mode-mismatched baselines are skipped, not compared") {
    val sameMode = tmpSnapshot("qa" -> 10.0) // no move vs 11.0
    // each differs from the current run in exactly one mode dimension
    // and would promote qa if (wrongly) admitted as a baseline
    val warmed = tmpFile(snapshotWith(""","repeat":3,"warmed":true""",
      "qa" -> 1.0))
    val ioOff = tmpFile(snapshotWith(""","io":false""", "qa" -> 1.0))
    val otherSf = tmpFile(
      snapshot("qa" -> 1.0).replace(""""sf":"x"""", """"sf":"y""""))
    assert(promoted(Map("qa" -> 11.0), sameMode, warmed, ioOff, otherSf)
      == Nil, "a mode-mismatched snapshot leaked into the baseline window")
    // sanity: the same walls DO promote when the mode matches
    val matching = tmpSnapshot("qa" -> 1.0)
    assert(promoted(Map("qa" -> 11.0), sameMode, matching) == Seq("qa"))
  }

  test("rotatePriors keeps a K-deep window of same-format snapshots") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_rot")
    def write(name: String, body: String): Unit = {
      java.nio.file.Files.write(dir.resolve(name), body.getBytes("UTF-8"))
      ()
    }
    def read(name: String): Option[String] = {
      val p = dir.resolve(name)
      if (java.nio.file.Files.exists(p))
        Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      else None
    }
    // no BENCH_LOCAL yet: rotation is a no-op, not a crash
    Bench.rotatePriors(dir)
    assert(read("bench_prior_1.json").isEmpty)
    // four successive finals: the window holds the last three + local
    Seq("r1", "r2", "r3", "r4").foreach { r =>
      write("BENCH_LOCAL.json", r) // what the PREVIOUS run committed
      Bench.rotatePriors(dir)      // next run rotates it into the window
    }
    assert(read("bench_prior_1.json").contains("r4"))
    assert(read("bench_prior_2.json").contains("r3"))
    assert(read("bench_prior_3.json").contains("r2"))
    assert(read("bench_prior_4.json").isEmpty, "window must stay K-deep")
  }

  test("snapshotMode reads mode fields with historical defaults") {
    assert(Bench.snapshotMode("""{"queries":{}}""") == ((1, "", true)))
    assert(Bench.snapshotMode(
      """{"repeat":3,"io":false,"sf":"/root/testdata/sf0.1","queries":{}}""")
      == ((3, "sf0.1", false)))
    assert(Bench.sfBasename("/root/testdata/sf0.1/") == "sf0.1")
  }

  test("snapshotMode tolerates whitespace around colons (reformatted baselines)") {
    // exact-substring scanning made each of these silently parse as the
    // DEFAULT mode — admitting a warmed/io-off baseline as comparable,
    // the exact wrong-comparison the mode check guards against
    assert(Bench.snapshotMode(
      """{"repeat": 3, "io": false, "sf": "/root/testdata/sf0.1"}""")
      == ((3, "sf0.1", false)))
    assert(Bench.snapshotMode(
      "{\"repeat\" :\t2,\n \"io\"\t: true, \"sf\" : \"x\"}")
      == ((2, "x", true)))
  }

  test("an accepted regression stops re-promoting against a stale window MIN") {
    // the gate regressed 1.0 -> 9.0, was isolated, adjudicated, and
    // ACCEPTED at band 9.0; the 1.0 wall stays in the window (oldest
    // snapshot) for more rounds. Without the accepted floor it
    // re-promotes every round; with it, only a regression past the
    // accepted band (2*9+2) promotes again.
    val oldMin = tmpSnapshot("qa" -> 1.0)
    def promo(cur: Double, accepted: Map[String, Double]) =
      Bench.promotedMovers(Map("qa" -> cur), Seq(oldMin), repeat = 1,
        sfBase = "x", ioOn = true, accepted = accepted)
    assert(promo(9.0, Map.empty) == Seq("qa"),
      "sanity: without the accepted entry the stale MIN keeps promoting")
    assert(promo(9.0, Map("qa" -> 9.0)) == Nil,
      "an adjudicated band must stop the re-promotion")
    assert(promo(9.5, Map("qa" -> 9.0)) == Nil, "inside 2x+2 of the band")
    assert(promo(20.5, Map("qa" -> 9.0)) == Seq("qa"),
      "a NEW regression past the accepted band must still promote")
  }

  test("isolated schedule: canary first by construction, never twice") {
    val (first, rest) = Bench.isolatedSchedule(_ => true)
    assert(first == Bench.CanaryGate,
      "the canary must be the explicit first leg regardless of list order")
    assert(!rest.contains(Bench.CanaryGate),
      "the canary must not run a second time inside the standing list")
    // unavailable gates drop from the standing list, not the canary leg
    val (_, none) = Bench.isolatedSchedule(_ == Bench.CanaryGate)
    assert(none.isEmpty)
  }

  test("prior window rotates at snapshot COMMIT, so a crashed run leaves it unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_commit")
    def read(name: String): Option[String] = {
      val p = dir.resolve(name)
      if (java.nio.file.Files.exists(p))
        Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim)
      else None
    }
    java.nio.file.Files.write(dir.resolve("BENCH_LOCAL.json"),
      "r12".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("bench_prior_1.json"),
      "r11".getBytes("UTF-8"))
    // a run that CRASHES never reaches commitSnapshot: window untouched,
    // and BENCH_LOCAL (the newest baseline) never duplicates prior_1
    assert(read("BENCH_LOCAL.json").contains("r12") &&
      read("bench_prior_1.json").contains("r11"))
    // a SUCCESSFUL full run commits: rotation then overwrite — the
    // window gains the previous committed snapshot, all entries distinct
    Bench.commitSnapshot("r13", "BENCH_LOCAL.json", dir)
    assert(read("BENCH_LOCAL.json").contains("r13"))
    assert(read("bench_prior_1.json").contains("r12"))
    assert(read("bench_prior_2.json").contains("r11"))
    // a run writing elsewhere (driver SPARK_GRAFT_BENCH_OUT) commits its
    // file but leaves the window alone
    Bench.commitSnapshot("driver", "BENCH_r99.json", dir)
    assert(read("BENCH_r99.json").contains("driver"))
    assert(read("bench_prior_1.json").contains("r12"),
      "a non-default out path must not rotate the window")
  }

  // --- compactLine: the driver-parsable final stdout line ---

  test("compactLine fits the driver's 2000-char tail and round-trips") {
    val qs = (1 to 400).map(i => f"q$i%03d_some_longish_gate_name" -> i * 0.123).toMap
    val line = Bench.compactLine(987.654321, qs, "/data/sf0.1", "32",
      Some("BENCH_LOCAL.json"))
    assert(line.length <= 1700, s"line too long: ${line.length}")
    assert(line.startsWith("""{"metric":"total","value":987.654,"unit":"sec""""))
    assert(line.contains(""""cpus":32"""))
    assert(line.contains(""""queries_n":400"""))
    assert(line.endsWith("}}"))
    // the queries that made the cut parse back with the shard parser and
    // are the MOST EXPENSIVE ones
    val body = line.substring(line.indexOf("\"queries\":{") + 11, line.length - 2)
    val parsed = Bench.parseNumMap(body)
    assert(parsed.nonEmpty && parsed.size < qs.size)
    // greedy fill may squeeze one short-valued small gate into the last
    // few bytes; the MOST EXPENSIVE gates must all be present regardless
    val top30 = qs.toSeq.sortBy(-_._2).take(30).map(_._1)
    assert(top30.forall(parsed.contains),
      s"an expensive gate missing from the compact map: ${top30.filterNot(parsed.contains)}")
  }

  test("compactLine keeps -1 failure sentinels ahead of big walls") {
    val qs = (1 to 300).map(i => f"q$i%03d_gate_with_a_long_name_padding" -> 100.0).toMap +
      ("q999_failed_gate" -> -1.0)
    val line = Bench.compactLine(1.0, qs, "/sf", "8", Some("BENCH_LOCAL.json"))
    assert(line.contains(""""q999_failed_gate":-1"""))
  }

  test("compactLine with few queries includes them all") {
    val qs = Map("q01_a" -> 1.5, "q02_b" -> -1.0)
    val line = Bench.compactLine(0.5, qs, "/sf", "notanint", Some("BENCH_LOCAL.json"))
    assert(line.contains(""""q01_a":1.500""") && line.contains(""""q02_b":-1"""))
    assert(line.contains(""""cpus":"notanint""""))
  }

  test("compactLine names the snapshot it was given, or null when none was written") {
    val qs = Map("q01_a" -> 1.5)
    val line = Bench.compactLine(0.5, qs, "/sf", "8", Some("/out/BENCH_r16.json"))
    assert(line.contains(""""queries_full":"/out/BENCH_r16.json""""))
    assert(!line.contains("BENCH_LOCAL.json"))
    assert(Bench.compactLine(0.5, qs, "/sf", "8", None).contains(""""queries_full":null"""))
  }

  test("compactLine JSON-escapes sf dir and cpus values") {
    val line = Bench.compactLine(0.5, Map("q01_a" -> 1.5), "/data/\"odd\\dir\n", "4\"x",
      Some("BENCH_LOCAL.json"))
    assert(line.contains(""""sf":"/data/\"odd\\dir\n""""), line)
    assert(line.contains(""""cpus":"4\"x""""), line)
    // the whole line is one valid JSON object: a strict parser accepts it
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(line)
    assert(node.get("sf").asText() == "/data/\"odd\\dir\n")
    assert(node.get("cpus").asText() == "4\"x")
  }

  test("compactLine counts the gates the greedy fill skipped") {
    val few = Map("q01_a" -> 1.5, "q02_b" -> -1.0)
    assert(Bench.compactLine(0.5, few, "/sf", "8", Some("B.json"))
      .contains(""""queries_dropped":0,"""))
    // one expensive long-named gate that cannot fit, then short cheap ones
    // that do: the fill skips the long one and keeps going
    val qs = Map(("q_" + "x" * 2000) -> 99.0) ++ (1 to 5).map(i => s"q0$i" -> i.toDouble)
    val line = Bench.compactLine(0.5, qs, "/sf", "8", Some("B.json"))
    assert(line.contains(""""queries_dropped":1,"""), line)
    assert(line.length <= 1700)
    val body = line.substring(line.indexOf("\"queries\":{") + 11, line.length - 2)
    assert(Bench.parseNumMap(body).keySet == (1 to 5).map(i => s"q0$i").toSet)
    // dropped + kept always accounts for every gate
    val many = (1 to 400).map(i => f"q$i%03d_some_longish_gate_name" -> i * 0.123).toMap
    val big = Bench.compactLine(1.0, many, "/sf", "8", Some("B.json"))
    val dropped = """"queries_dropped":(\d+)""".r.findFirstMatchIn(big).get.group(1).toInt
    val kept = Bench.parseNumMap(big.substring(big.indexOf("\"queries\":{") + 11, big.length - 2))
    assert(dropped > 0 && dropped + kept.size == many.size)
  }
}
