package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SPARK_GRAFT_ONLY guard (`SparkEntry.parseOnly`, shared by Bench,
  * Verify and `ScaleMain run`): a wrapper script exporting an empty value
  * must not silently select zero queries (the r6 VERDICT carry-over), and
  * a typo'd name must not silently select fewer. */
class BenchSelectSpec extends AnyFunSuite {

  test("unset runs everything") {
    assert(SparkEntry.parseOnly(None).isEmpty)
  }

  test("blank and whitespace-only values mean unset, not empty selection") {
    assert(SparkEntry.parseOnly(Some("")).isEmpty)
    assert(SparkEntry.parseOnly(Some("   ")).isEmpty)
    assert(SparkEntry.parseOnly(Some(" , ,")).isEmpty)
  }

  test("a real list selects exactly the named queries, trimmed") {
    assert(SparkEntry.parseOnly(Some("q101_pagerank, q102_triangles")) ===
      Some(Set("q101_pagerank", "q102_triangles")))
  }

  test("an unknown name fails naming it, not with a smaller selection") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.parseOnly(Some("q101_pagerank, q999_nope,q998_typo"))
    }
    assert(e.getMessage.contains("unknown query: q998_typo, q999_nope"), e.getMessage)
    // exact names only: a prefix of a real query is unknown
    intercept[IllegalArgumentException](SparkEntry.parseOnly(Some("q101")))
  }

  test("host calibration measures positive wall seconds at any thread count") {
    // every thread runs the full per-thread burn: burn is deterministic,
    // so the sink moves by exactly the warm-up plus n full burns (a
    // wall-time ratio between thread counts would measure the host)
    val full = Bench.burn(Bench.calibIters)
    val warm = Bench.burn(Bench.calibIters / 8)
    for (n <- Seq(1, 2)) {
      val before = Bench.calibSink.get()
      assert(Bench.calibrate(n) > 0)
      assert(Bench.calibSink.get() - before == warm + n * full, s"$n threads")
    }
  }

  // ---- vs_prev_normalized (VERDICT r11 #4) -------------------------------
  // loadPrevBench mirrors tools/bench_compare.py's load(); the checked-in
  // BENCH_r10/BENCH_r11 driver envelopes are the fixture, and the expected
  // ratios are the ones bench_compare.py prints for the same pair
  // (host 1.488, total raw 1.00, common-total raw 0.94, median raw 1.02).

  private def field(json: String, name: String): Double =
    s""""$name":(-?[0-9.]+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toDouble)
      .getOrElse(fail(s"field $name missing from $json"))

  test("loadPrevBench parses a driver envelope down to fragments + trailer") {
    val (q, calib, value) = Bench.loadPrevBench("BENCH_r11.json")
      .getOrElse(fail("BENCH_r11.json did not parse"))
    // the 2000-char tail retains the 32-query raw diagnostic subset and
    // the trailer's compacted headline + calibration
    assert(q.size == 32)
    assert(calib.exists(c => math.abs(c - 0.792156065) < 1e-9))
    assert(value.exists(v => math.abs(v - 300.3265128039998) < 1e-6))
  }

  test("vsPrevJson reproduces bench_compare.py's r10-vs-r11 ratios") {
    val prev = Bench.loadPrevBench("BENCH_r10.json")
      .getOrElse(fail("BENCH_r10.json did not parse"))
    val (currQ, currCalib, currValue) = Bench.loadPrevBench("BENCH_r11.json")
      .getOrElse(fail("BENCH_r11.json did not parse"))
    val json = Bench.vsPrevJson(prev, "BENCH_r10.json", currQ,
      currValue.get, currCalib.get)
    assert(math.abs(field(json, "host_factor") - 1.488) < 0.005)
    assert(math.abs(field(json, "total_ratio_raw") - 0.997) < 0.005)
    assert(math.abs(field(json, "total_ratio") - 0.670) < 0.005)
    assert(math.abs(field(json, "common_total_ratio_raw") - 0.941) < 0.005)
    assert(math.abs(field(json, "median_ratio_raw") - 1.017) < 0.01)
    assert(json.contains(""""n_common":32"""))
    // valid JSON object (it is embedded verbatim in the bench line)
    assert(json.startsWith("{") && json.endsWith("}"))
  }

  test("a missing or unparseable prev file yields no field, never a crash") {
    assert(Bench.loadPrevBench("/nonexistent/prev.json").isEmpty)
    assert(Bench.loadPrevProbes("/nonexistent/prev.json") === (None, None))
  }

  // ---- per-class calibration (VERDICT r13 #2) ----------------------------

  test("classify: shuffle-dominant, scan-dominant, cpu fallback") {
    // shuffle rivals input -> shuffle, regardless of input size
    assert(Bench.classify(inputBytes = 10L << 20, shuffleBytes = 8L << 20) === "shuffle")
    // tiny input, real shuffle -> shuffle (the 1 MB floor)
    assert(Bench.classify(inputBytes = 0L, shuffleBytes = 2L << 20) === "shuffle")
    // real input, negligible shuffle -> scan
    assert(Bench.classify(inputBytes = 10L << 20, shuffleBytes = 100L << 10) === "scan")
    // small in, small shuffled -> cpu (expression-evaluation work)
    assert(Bench.classify(inputBytes = 1L << 20, shuffleBytes = 0L) === "cpu")
  }

  test("vsPrevJson normalizes each query by the factor of ITS class") {
    // prev round: cpu probe 1.0, shuffle probe 1.0, scan probe 1.0;
    // curr: cpu 2x slower, shuffle 4x, scan 1x — three queries, one per
    // class, each raw ratio exactly its class's host factor => every
    // class-normalized ratio is 1.0 while the cpu-only normalization
    // misreads the shuffle and scan queries.
    val prev = (Map("qc" -> 1.0, "qs" -> 1.0, "qn" -> 1.0),
      Some(1.0), Some(3.0))
    val curr = Map("qc" -> 2.0, "qs" -> 4.0, "qn" -> 1.0)
    val classes = Map("qc" -> "cpu", "qs" -> "shuffle", "qn" -> "scan")
    // ratio fields are emitted at 4 decimals (jnum) since r15 — tolerances 5e-5
    val json = Bench.vsPrevJson(prev, "p.json", curr, 7.0, 2.0,
      classes = classes,
      currProbes = (Some(4.0), Some(1.0)), prevProbes = (Some(1.0), Some(1.0)))
    assert(math.abs(field(json, "host_factor") - 2.0) < 5e-5)
    assert(math.abs(field(json, "host_factor_shuffle") - 4.0) < 5e-5)
    assert(math.abs(field(json, "host_factor_scan") - 1.0) < 5e-5)
    assert(math.abs(field(json, "median_ratio_classnorm") - 1.0) < 5e-5)
    // classnorm common total: (2/2 + 4/4 + 1/1) / 3 = 1.0
    assert(math.abs(field(json, "common_total_ratio_classnorm") - 1.0) < 5e-5)
    // cpu-only normalization misreads: common raw total 7/3 over host 2
    assert(math.abs(field(json, "common_total_ratio") - 7.0 / 6.0) < 5e-5)
    // per-class raw medians present
    assert(math.abs(field(json, "median_raw_cpu") - 2.0) < 5e-5)
    assert(math.abs(field(json, "median_raw_shuffle") - 4.0) < 5e-5)
    assert(math.abs(field(json, "median_raw_scan") - 1.0) < 5e-5)
    assert(json.contains(""""n_cpu":1""") && json.contains(""""n_shuffle":1"""))
  }

  test("missing prev probes fall back to the cpu factor — classnorm == norm") {
    val prev = (Map("qa" -> 1.0, "qb" -> 2.0), Some(1.0), Some(3.0))
    val curr = Map("qa" -> 3.0, "qb" -> 2.0)
    val json = Bench.vsPrevJson(prev, "p.json", curr, 5.0, 2.0,
      classes = Map("qa" -> "shuffle", "qb" -> "scan"),
      currProbes = (Some(4.0), Some(1.5)), prevProbes = (None, None))
    // no probe-derived per-class factors emitted
    assert(!json.contains("host_factor_shuffle"))
    assert(!json.contains("host_factor_scan"))
    assert(math.abs(
      field(json, "common_total_ratio_classnorm") - field(json, "common_total_ratio")) < 5e-5)
    assert(math.abs(
      field(json, "median_ratio_classnorm") - field(json, "median_ratio")) < 5e-5)
  }

  test("vsPrevFlat stays nesting-free with the per-class fields present") {
    val prev = (Map("qc" -> 1.0, "qs" -> 1.0), Some(1.0), Some(2.0))
    val json = Bench.vsPrevJson(prev, "p.json", Map("qc" -> 2.0, "qs" -> 4.0),
      6.0, 2.0, classes = Map("qs" -> "shuffle"),
      currProbes = (Some(4.0), Some(1.0)), prevProbes = (Some(1.0), Some(1.0)))
    val flat = Bench.vsPrevFlat(json)
    assert(!flat.contains("{") && !flat.contains("}"), flat)
    assert(flat.contains("\"vs_prev_median_ratio_classnorm\":"))
  }

  test("vsPrevFlat renders trailer-safe scalars — the legacy trailer regex survives") {
    val prev = Bench.loadPrevBench("BENCH_r10.json").get
    val (currQ, currCalib, currValue) = Bench.loadPrevBench("BENCH_r11.json").get
    val nested = Bench.vsPrevJson(prev, "BENCH_r10.json", currQ,
      currValue.get, currCalib.get)
    val flat = Bench.vsPrevFlat(nested)
    // no nesting: bench_compare.py grabs the trailer with a non-greedy
    // {"metric":"total_trailer".*?} — an inner closing brace would
    // truncate it and lose the calibration
    assert(!flat.contains("{") && !flat.contains("}"), flat)
    assert(flat.contains("\"vs_prev_host_factor\":"))
    assert(flat.contains("\"vs_prev_median_ratio\":"))
    val trailer = s"""{"metric":"total_trailer","value":1.0,$flat,"sf":"x"}"""
    val grabbed = "\\{\"metric\":\"total_trailer\".*?\\}".r.findFirstIn(trailer)
    assert(grabbed.contains(trailer), s"regex truncated: $grabbed")
  }

  // ---- in-run control queries (VERDICT r14 #2) ---------------------------

  test("classifyNamed routes lifecycle queries by name before bytes") {
    // q279 reads real input bytes — the byte classifier would say "scan";
    // its cost is state choreography, so the name check wins
    assert(Bench.classifyNamed("q279_cluster_takedown", 20L << 20, 1L << 20)
      === "lifecycle")
    assert(Bench.classifyNamed("q02_filter_project", 20L << 20, 0L) === "scan")
  }

  test("ctlStats: min over packs (noise floor), (max-min)/min spread") {
    val packs = Seq(
      Map("cpu" -> 1.0, "shuffle" -> 2.0),
      Map("cpu" -> 1.2, "shuffle" -> 2.2),
      Map("cpu" -> 1.1))
    val (mn, spr) = Bench.ctlStats(packs)
    assert(mn("cpu") === 1.0)
    assert(math.abs(spr("cpu") - 0.2 / 1.0) < 1e-12)
    assert(mn("shuffle") === 2.0)
    assert(math.abs(spr("shuffle") - 0.2 / 2.0) < 1e-12)
    assert(mn.get("scan").isEmpty && mn.get("lifecycle").isEmpty)
  }

  test("control factor beats probe factor for its class; prev query map " +
      "is the first-round denominator") {
    // prev round predates ctl_* fields but its query map carries the
    // pinned shuffle control (q67) at 1.0s; this round's in-run control
    // median is 3.0s -> shuffle factor 3.0, even though the synthetic
    // probes say 4.0. A shuffle query that went 3x slower then
    // class-normalizes to 1.0.
    val prev = (Map("qs" -> 1.0, "q67_simhash_pairs" -> 1.0), Some(1.0), Some(2.0))
    val curr = Map("qs" -> 3.0, "q67_simhash_pairs" -> 3.0)
    val json = Bench.vsPrevJson(prev, "p.json", curr, 6.0, 1.0,
      classes = Map("qs" -> "shuffle", "q67_simhash_pairs" -> "shuffle"),
      currProbes = (Some(4.0), Some(1.0)), prevProbes = (Some(1.0), Some(1.0)),
      ctlCurr = Map("shuffle" -> 3.0), ctlSpread = Map("shuffle" -> 0.05))
    assert(math.abs(field(json, "ctl_factor_shuffle") - 3.0) < 5e-5)
    assert(math.abs(field(json, "ctl_spread_shuffle") - 0.05) < 5e-5)
    assert(math.abs(field(json, "median_ratio_classnorm") - 1.0) < 5e-5)
    // the probe field still reports what the probes said (diagnostic)
    assert(math.abs(field(json, "host_factor_shuffle") - 4.0) < 5e-5)
  }

  test("ctl trailer fields from the prev round win over its query map") {
    val prev = (Map("qs" -> 1.0), Some(1.0), Some(1.0))
    val json = Bench.vsPrevJson(prev, "p.json", Map("qs" -> 2.0), 2.0, 1.0,
      classes = Map("qs" -> "shuffle"),
      ctlCurr = Map("shuffle" -> 3.0), ctlPrev = Map("shuffle" -> 1.5))
    assert(math.abs(field(json, "ctl_factor_shuffle") - 2.0) < 5e-5)
  }

  test("vsPrevFlatCore drops diagnostic per-class fields, keeps the signal") {
    val prev = (Map("qs" -> 1.0, "q67_simhash_pairs" -> 1.0), Some(1.0), Some(2.0))
    val json = Bench.vsPrevJson(prev, "p.json",
      Map("qs" -> 3.0, "q67_simhash_pairs" -> 3.0), 6.0, 1.0,
      classes = Map("qs" -> "shuffle", "q67_simhash_pairs" -> "shuffle"),
      currProbes = (Some(4.0), Some(1.0)), prevProbes = (Some(1.0), Some(1.0)),
      ctlCurr = Map("shuffle" -> 3.0), ctlSpread = Map("shuffle" -> 0.05))
    val core = Bench.vsPrevFlatCore(json)
    // kept: the aggregates + ctl factors + n_common
    assert(core.contains("\"vs_prev_n_common\":"))
    assert(core.contains("\"vs_prev_host_factor\":"))
    assert(core.contains("\"vs_prev_median_ratio_classnorm\":"))
    assert(core.contains("\"vs_prev_ctl_factor_shuffle\":"))
    // dropped from the trailer (still in the nested full-line object)
    assert(!core.contains("vs_prev_n_shuffle"))
    assert(!core.contains("vs_prev_median_raw_"))
    assert(!core.contains("vs_prev_ctl_spread_"))
    assert(!core.contains("vs_prev_host_factor_shuffle"))
    assert(json.contains("\"median_raw_shuffle\":")) // nested keeps them
    assert(!core.contains("{") && !core.contains("}"))
  }

  test("loadPrevCtl reads trailer fields, missing file yields empty") {
    val tmp = java.nio.file.Files.createTempFile("ctl", ".json")
    java.nio.file.Files.write(tmp,
      """{"metric":"total_trailer","ctl_cpu_sec":0.35,"ctl_cpu_spread":0.04,"ctl_lifecycle_sec":0.7}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val m = Bench.loadPrevCtl(tmp.toString)
    assert(m === Map("cpu" -> 0.35, "lifecycle" -> 0.7))
    assert(Bench.loadPrevCtl("/nonexistent/x.json").isEmpty)
    java.nio.file.Files.deleteIfExists(tmp)
    ()
  }

  test("CoreQueries superset rule: every member is a real query and the " +
      "r15 core is preserved") {
    Bench.CoreQueries.foreach(q =>
      assert(SparkEntry.queries.contains(q), s"core member $q is not a query"))
    // the r15 pin — future rounds may only APPEND (cross-round common
    // sets must grow); shrinking this list breaks bench_compare
    val r15 = Set("q01_pricing_summary", "q02_filter_project",
      "q03_shipping_priority", "q05_local_supplier", "q09_topk_orders",
      "q10_window_rank", "q21_semi_join", "q30_token_stats",
      "q31_quality_score", "q33_fingerprint", "q35_dedup_exact",
      "q37_minhash_lsh", "q51_ivf_search", "q52_window_frames",
      "q58_native_asof", "q62_range_join", "q64_try_divide",
      "q67_simhash_pairs", "q68_native_pivot", "q70_dup_clusters",
      "q85_decontaminate", "q91_lm_score", "q99_pq_search",
      "q220_prefix_join", "q257_agg_state", "q267_ivfpq_index",
      "q279_cluster_takedown")
    assert(r15.subsetOf(Bench.CoreQueries.toSet))
    assert(Bench.CoreQueries.size >= 20) // the ≥20-common-fragment budget
  }

  test("every pinned control is a real query of its class family") {
    Bench.ControlQueries.foreach { case (cls, q) =>
      assert(SparkEntry.queries.contains(q), s"control $q missing")
      assert(Set("cpu", "shuffle", "scan", "lifecycle")(cls))
    }
    // the lifecycle control must actually be a lifecycle query
    assert(Bench.LifecycleQueries(Bench.ControlQueries.toMap.apply("lifecycle")))
  }
}
