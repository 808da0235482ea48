package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench-baseline overwrite guard (verdict r12 №1): the exact
  * footgun — a `SPARK_GRAFT_BENCH_ONLY` subset run silently replacing
  * the committed full-registry `bench_queries.json` — shipped a broken
  * baseline in BOTH round 11 and round 12. Discipline notes failed
  * twice; this spec makes the guard a code invariant.
  */
class BenchGuardSpec extends AnyFunSuite {

  private val committed = Bench.committedBenchPath

  test("subset run without explicit OUT is diverted to /tmp, loudly") {
    val (path, warn) = Bench.resolveBenchOut(requested = None,
      onlySet = true, force = false, newCount = 3, existingCount = 343)
    assert(path.startsWith("/tmp/"), s"subset run landed on $path")
    assert(warn.exists(_.contains("never writes")), s"no warning: $warn")
  }

  test("subset run with explicit OUT honors the explicit path") {
    val (path, warn) = Bench.resolveBenchOut(
      requested = Some("/tmp/my_iteration.json"),
      onlySet = true, force = false, newCount = 3, existingCount = 343)
    assert(path == "/tmp/my_iteration.json")
    assert(warn.isEmpty)
  }

  test("shrinking overwrite of the committed map is refused sans FORCE") {
    val (path, warn) = Bench.resolveBenchOut(requested = None,
      onlySet = false, force = false, newCount = 100,
      existingCount = 343)
    assert(path == "/tmp/bench_queries_refused.json")
    assert(warn.exists(_.contains("REFUSING")), s"no refusal: $warn")
  }

  test("explicit OUT pointed AT the committed map still can't shrink it") {
    val (path, warn) = Bench.resolveBenchOut(requested = Some(committed),
      onlySet = false, force = false, newCount = 1, existingCount = 343)
    assert(path == "/tmp/bench_queries_refused.json")
    assert(warn.nonEmpty)
  }

  test("FORCE permits a deliberate shrink of the committed map") {
    val (path, warn) = Bench.resolveBenchOut(requested = None,
      onlySet = false, force = true, newCount = 100, existingCount = 343)
    assert(path == committed)
    assert(warn.isEmpty)
  }

  test("full run at a different core count than the committed map is " +
      "diverted (r18 verdict №3: the driver's 8-core run overwrote the " +
      "32-core baseline)") {
    val (path, warn) = Bench.resolveBenchOut(requested = None,
      onlySet = false, force = false, newCount = 371, existingCount = 371,
      runCpus = 8, committedCpus = Some(32))
    assert(path == "/tmp/bench_queries_wrongcpus.json")
    assert(warn.exists(_.contains("8 cores")), s"no refusal: $warn")
  }

  test("matching core count (or an unstamped legacy map) lands on the " +
      "committed path") {
    val (match32, w1) = Bench.resolveBenchOut(requested = None,
      onlySet = false, force = false, newCount = 371, existingCount = 371,
      runCpus = 32, committedCpus = Some(32))
    val (legacy, w2) = Bench.resolveBenchOut(requested = None,
      onlySet = false, force = false, newCount = 371, existingCount = 371,
      runCpus = 8, committedCpus = None)
    assert(match32 == committed && legacy == committed)
    assert(w1.isEmpty && w2.isEmpty)
  }

  test("FORCE permits a deliberate cross-core-count re-baseline") {
    val (path, warn) = Bench.resolveBenchOut(requested = None,
      onlySet = false, force = true, newCount = 371, existingCount = 371,
      runCpus = 8, committedCpus = Some(32))
    assert(path == committed)
    assert(warn.isEmpty)
  }

  test("parseCpusField reads the stamp; absent on legacy maps") {
    assert(Bench.BenchMap.parse(
      """{"metric":"total","value":1.0,"unit":"sec","cpus":32,"queries":{}}""")
      .cpus.contains(32))
    assert(Bench.BenchMap.parse(
      """{"metric":"total","value":1.0,"unit":"sec","queries":{}}""").cpus.isEmpty)
  }

  test("full run, equal-or-larger map, lands on the committed path") {
    val (grow, w1) = Bench.resolveBenchOut(requested = None,
      onlySet = false, force = false, newCount = 350, existingCount = 343)
    val (same, w2) = Bench.resolveBenchOut(requested = None,
      onlySet = false, force = false, newCount = 343, existingCount = 343)
    assert(grow == committed && same == committed)
    assert(w1.isEmpty && w2.isEmpty)
  }

  test("benchMapSize parses the map this main writes; 0 on absent") {
    val tmp = java.nio.file.Files.createTempFile("graft-bench", ".json")
    java.nio.file.Files.writeString(tmp,
      """{"metric":"total","value":1.0,"queries":{"q_a":0.123,"q_b":1.500,"q_c":0.001},"reps":2}""")
    assert(Bench.BenchMap.read(tmp.toString).map(_.queries.size).contains(3))
    java.nio.file.Files.writeString(tmp, """{"queries":{}}""")
    assert(Bench.BenchMap.read(tmp.toString).map(_.queries.size).contains(0))
    assert(Bench.BenchMap.read("/nonexistent/nowhere.json").isEmpty)
    java.nio.file.Files.delete(tmp)
  }

  test("adaptive reps: sub-second and new queries get median-of-5, the rest 2") {
    // The noise class is committed-time <1 s.
    assert(Bench.adaptiveReps(Some(0.4)) == 5)
    assert(Bench.adaptiveReps(None) == 5) // new query: no baseline
    assert(Bench.adaptiveReps(Some(1.9)) == 2)
    assert(Bench.adaptiveReps(Some(-1.0)) == 2) // failed last round
  }

  private val mapWithBands =
    """{"metric":"total","value":3.0,"unit":"sec","queries":{"q_a":0.400,"q_b":2.000,"q_c":-1.000},"bands":{"q_a":[0.350,0.520],"q_b":[1.900,2.110]},"positions":{"q_a":0,"q_b":1},"reps":2}"""

  test("parseBenchEntries reads medians plus noise bands; failed " +
      "queries and band-less maps degrade safely") {
    val e = Bench.BenchMap.parse(mapWithBands).entries
    assert(e("q_a") == Bench.BenchEntry(0.4, 0.35, 0.52))
    assert(e("q_b") == Bench.BenchEntry(2.0, 1.9, 2.11))
    assert(!e.contains("q_c")) // -1 sentinel is not a timing
    // maps without a bands field: zero-width band at the median
    val old = Bench.BenchMap.parse(
      """{"queries":{"q_a":0.400,"q_b":2.000},"positions":{"q_a":0}}""").entries
    assert(old("q_a") == Bench.BenchEntry(0.4, 0.4, 0.4))
  }

  test("band compare flags ONLY disjoint-band moves beyond the margin") {
    import Bench.BenchEntry
    val old = Map(
      "q_noise" -> BenchEntry(0.5, 0.32, 0.86), // the r14 swing class
      "q_reg" -> BenchEntry(0.5, 0.45, 0.55),
      "q_imp" -> BenchEntry(2.0, 1.9, 2.1),
      "q_edge" -> BenchEntry(0.5, 0.45, 0.55),
      "q_gone" -> BenchEntry(1.0, 0.9, 1.1))
    val nw = Map(
      "q_noise" -> BenchEntry(0.84, 0.80, 0.85), // inside old band: noise
      "q_reg" -> BenchEntry(1.4, 1.30, 1.50), // disjoint, >1.25x: real
      "q_imp" -> BenchEntry(0.9, 0.85, 0.95), // disjoint improvement
      "q_edge" -> BenchEntry(0.62, 0.60, 0.64), // above band, within margin
      "q_new" -> BenchEntry(0.3, 0.28, 0.32)) // new query: not a mover
    val movers = Bench.moversOutsideBand(old, nw).toMap
    assert(movers.keySet == Set("q_reg", "q_imp"),
      s"wrong mover set: $movers")
    assert(movers("q_reg").startsWith("regressed"))
    assert(movers("q_imp").startsWith("improved"))
  }

  test("failed queries that were committed-green are always movers; " +
      "cross-SF compares are detectable from the sf field") {
    // A -1 sentinel has no entry, so a green→FAILED regression would
    // silently leave the compared keyset — failedMovers is the net for
    // exactly that class.
    val committed = Map("q_a" -> 0.4, "q_b" -> 2.0, "q_dead" -> -1.0)
    val ran = Seq("q_a" -> -1.0, "q_b" -> 2.1, "q_dead" -> -1.0,
      "q_new" -> -1.0)
    // q_a regressed to failure: flagged. q_dead was already failed and
    // q_new has no baseline: not movers.
    assert(Bench.failedMovers(committed, ran) == Seq("q_a"))
    // sf field round-trips so the compare can refuse cross-SF ratios
    assert(Bench.BenchMap.parse(mapWithBands).sf.isEmpty)
    assert(Bench.BenchMap.parse(
      """{"queries":{"q_a":1.0},"failed":0,"reps":2,"sf":"/data/sf0.1"}""")
      .sf.contains("/data/sf0.1"))
  }

  test("benchMapSize still counts the flat queries map when bands follow") {
    val tmp = java.nio.file.Files.createTempFile("graft-bench-band", ".json")
    java.nio.file.Files.writeString(tmp, mapWithBands)
    assert(Bench.BenchMap.read(tmp.toString).map(_.queries) ==
      Some(Seq("q_a" -> 0.4, "q_b" -> 2.0, "q_c" -> -1.0)))
    java.nio.file.Files.delete(tmp)
  }

  test("the committed baseline at HEAD is the full registry, not a subset") {
    // The subset-overwrite incidents are detectable from the artifact
    // alone: a committed map smaller than the registry means a subset
    // run leaked through. Guard the repo state itself, not just the code.
    // The registry only grows, and mid-round the map may lag new
    // registrations until a full run, hence a lower bound, not ==.
    val onDisk = Bench.BenchMap.read(committed).fold(0)(_.queries.size)
    assert(onDisk >= 361 && onDisk <= SparkEntry.queries.size,
      s"committed bench_queries.json has $onDisk entries (registry: " +
        s"${SparkEntry.queries.size}) — a subset run overwrote the " +
        "baseline")
  }

  test("the committed bench_queries.json reads back with its recorded values") {
    val m = Bench.BenchMap.read(committed).get
    assert(m.queries.size == 371 && m.bands.size == 371)
    assert(m.cpus.contains(32) && m.sf.exists(_.endsWith("testdata/sf0.1")))
    val head = m.queries.filter { case (n, _) => Bench.headline.contains(n) }
    assert(head.size == 192)
    assert(m.value == 116.709)
    assert(math.abs(head.map(_._2).sum - m.value) < 1e-6,
      s"headline medians sum to ${head.map(_._2).sum}, value is ${m.value}")
  }

  test("BenchMap round trip: what the writer writes the reader reads back") {
    val m = Bench.BenchMap(value = 2.4, valueAll = 3.9, failed = 1,
      cpus = Some(4), sf = Some("/data/sf0.01"),
      queries = Seq("q_b" -> 2.0, "q_a" -> 0.4, "q_x" -> 1.5, "q_c" -> -1.0),
      bands = Map("q_b" -> (1.9, 2.11), "q_a" -> (0.35, 0.52),
        "q_x" -> (1.5, 1.5)),
      nonHeadline = Seq("q_x" -> "a \"quoted\" reason", "q_c" -> "why"),
      loadavg = Seq("start" -> Seq(0.5, 0.6, 0.7), "end" -> Seq.empty),
      loadQuietStart = true, contamination = Some("bands 4x wider"))
    val json = org.json4s.jackson.JsonMethods.compact(m.toJson)
    assert(Bench.BenchMap.parse(json) == m, json)
    val clean = m.copy(cpus = None, sf = None, contamination = None,
      loadQuietStart = false)
    assert(Bench.BenchMap.parse(
      org.json4s.jackson.JsonMethods.compact(clean.toJson)) == clean)
  }

  test("load-contaminated runs are detected by within-run band width, " +
      "not the canary") {
    // The round-16 close incident: host contention widened bands 2-4×
    // across unrelated queries while the 3-point canary read flat, and
    // the polluted map landed on the committed path. The detector
    // compares the MEDIAN relative band width run-over-run.
    def mk(n: Int, width: Double): Map[String, Bench.BenchEntry] =
      (1 to n).map { i =>
        val m = 0.2 + i * 0.01
        s"q$i" -> Bench.BenchEntry(m, m * (1 - width / 2), m * (1 + width / 2))
      }.toMap
    val quiet = mk(30, 0.10)        // ~10% bands: a quiet host
    val polluted = mk(30, 0.80)     // ~80% bands: the contention signature
    assert(Bench.loadContamination(quiet, polluted).isDefined,
      "an 8× band-width blowup must be flagged")
    assert(Bench.loadContamination(quiet, mk(30, 0.15)).isEmpty,
      "ordinary width drift stays under the 3× gate")
    assert(Bench.loadContamination(quiet, polluted, minSample = 40).isEmpty,
      "too few multi-rep bands on either side → no verdict (old maps)")
    // Zero-width committed bands (pre-band-protocol maps) can't anchor
    // a ratio — detector abstains rather than flagging everything.
    val zeroWidth = (1 to 30).map { i =>
      val m = 0.2 + i * 0.01
      s"q$i" -> Bench.BenchEntry(m, m, m)
    }.toMap
    assert(Bench.loadContamination(zeroWidth, polluted).isEmpty)

    // The incident's OTHER signature — a broad regression sweep: 39 of
    // 370 compared queries regressed beyond bands at once. A real code
    // change regresses what it touches; a random tenth of the registry
    // regressing is the host.
    assert(Bench.massRegression(39, 370).isDefined,
      "the round-16 close run's signature must be flagged")
    assert(Bench.massRegression(4, 370).isEmpty,
      "a handful of regressions is a normal round diff")
    assert(Bench.massRegression(16, 1000).isEmpty,
      "sub-5%-of-registry sweeps stay under the gate")
    assert(Bench.massRegression(0, 0).isEmpty)
  }

  test("overwrite guards compare CANONICAL paths, not strings " +
      "(r16 advice №5)") {
    // A `..` spelling of the committed path IS the committed map; a
    // string compare would let it through the shrink guard.
    val alias = "/root/repo/../repo/bench_queries.json"
    assert(Bench.sameCanonicalPath(alias, committed))
    val (path, warn) = Bench.resolveBenchOut(requested = Some(alias),
      onlySet = false, force = false, newCount = 10, existingCount = 370)
    assert(path == "/tmp/bench_queries_refused.json" && warn.isDefined,
      "a shrink aimed at a non-canonical alias of the committed map " +
        "must still be refused")
    assert(!Bench.sameCanonicalPath("/tmp/x.json", committed))
  }

  test("load telemetry: /proc/loadavg parses here; the artifact field " +
      "renders start/mid/end; quiet-start threshold (r16 verdict №2)") {
    import org.json4s.jackson.JsonMethods.parse
    // On this (Linux) host the sample must be three non-negative loads.
    val now = Bench.loadAvgNow()
    assert(now.size == 3 && now.forall(_ >= 0))
    val m = Bench.BenchMap(0, 0, 0, None, None, Nil, Map.empty, Nil,
      loadavg = Seq("start" -> Seq(0.5, 0.6, 0.7),
        "mid" -> Seq(12.0, 8.0, 4.0), "end" -> Seq.empty),
      loadQuietStart = false, contamination = None)
    assert((m.toJson \ "loadavg") ==
      parse("""{"start":[0.50,0.60,0.70],"mid":[12.00,8.00,4.00],"end":[]}"""))
    // Self-certification bit: entering 1-min load under the threshold.
    assert(Bench.loadQuietStart(Seq(0.5, 1.0, 2.0), 4.0))
    assert(!Bench.loadQuietStart(Seq(4.5, 1.0, 2.0), 4.0))
    assert(!Bench.loadQuietStart(Seq.empty, 4.0),
      "missing telemetry must NOT read as certified-quiet")
  }

  test("SCALE_NOTCH merge: legacy bare object migrates to `full`; " +
      "probes append; a new full run preserves probe history (r17 №4)") {
    import org.json4s.jackson.JsonMethods.parse
    // First-ever probe, no artifact yet.
    val p1 = ScaleNotch.mergeNotch(None, None, Some(parse("""{"copies":10}""")))
    assert(p1 == parse(
      """{"metric":"scale_notch","full":null,"probes":[{"copies":10}]}"""))
    // The older artifact was the bare full-run object: a probe append
    // must keep it, unchanged, under `full`.
    val legacy = """{"metric":"scale_notch","copies":10,"batch":{}}"""
    val p2 = ScaleNotch.mergeNotch(Some(parse(legacy)), None,
      Some(parse("""{"copies":30}""")))
    assert(p2 == parse(s"""{"metric":"scale_notch","full":$legacy,""" +
      """"probes":[{"copies":30}]}"""))
    // Second probe appends after the first.
    val p3 = ScaleNotch.mergeNotch(Some(p2), None, Some(parse("""{"copies":50}""")))
    assert(p3 == parse(s"""{"metric":"scale_notch","full":$legacy,""" +
      """"probes":[{"copies":30},{"copies":50}]}"""))
    // A fresh full run replaces `full` and keeps every probe.
    val p4 = ScaleNotch.mergeNotch(Some(p3), Some(parse("""{"new":1}""")), None)
    assert(p4 == parse("""{"metric":"scale_notch","full":{"new":1},""" +
      """"probes":[{"copies":30},{"copies":50}]}"""))
    // No-op merge returns the artifact unchanged.
    assert(ScaleNotch.mergeNotch(Some(p4), None, None) == p4)
  }
}
