package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

/** Dry-run gate for the bench APPARATUS itself.
  *
  * The bench harness broke two driver rounds with no test to catch it
  * (r10: the 30× budget blew the outer wall-clock, rc=124, dead
  * artifact; r11: the deadline guard silently starved the cliff
  * recheck, `cliffs_rechecked: []` under 19 standing flags). This spec
  * drives [[Bench.run]] end-to-end at sf0.001 with a tiny injected
  * registry — including one SYNTHETIC SUPERLINEAR query (driver-side
  * sleep ∝ rows³, so 2× data → 4× per-row cost) — and asserts the
  * apparatus contracts:
  *
  *  - both emitted JSON documents parse;
  *  - the run respects its deadline;
  *  - the synthetic cliff is flagged AND its interleaved recheck ran
  *    (sec_isolated / ratio_isolated / confirmed IN the artifact);
  *  - a budget-starved sweep reports every unstarted query as an
  *    explicit skip with a reason and a prior_sec predictor;
  *  - the summary line fits a 2000-char stdout tail and carries the
  *    driver-contract keys (metric/unit/value/sf/queries).
  */
class BenchSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val sf001 = "/root/testdata/sf0.001"

  // rows³ driver-side sleep over a FACT table (documents — region is
  // a conformed dimension ScaledCorpus deliberately keeps single-copy,
  // so it never scales): 500 docs at sf0.001 → 0.4 s; 1000 at
  // copies=2 → 3.2 s → per-row ratio ≈ 3.2/(2·~0.5) > 2 and absolute
  // cost > 2 s: a guaranteed cliff flag at copies=2, cheap at 1×.
  // (No Date.now dependency — sleep is the workload.)
  private val syntheticCliff: (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame = (s, dir) => {
    val n = s.read.parquet(s"$dir/documents.parquet").count()
    val units = n / 500 // 1 at sf0.001, `copies` at derived scale
    Thread.sleep(units * units * units * 400)
    s.range(1).select(lit(n).as("n"))
  }

  test("bench dry run: JSON emitted, deadline respected, synthetic cliff " +
    "flagged with an in-artifact recheck, skips carry reasons + priors") {
    val cfg = Bench.Config(
      sfDir = sf001,
      selected = Seq("daily_revenue", "a02_global_bounds", "synthetic_cliff"),
      extraQueries = Map("synthetic_cliff" -> syntheticCliff),
      // repeat 3: the min-of-N strips the cold-JVM Janino compile out
      // of the 1x baseline (there is no smaller SF to warm codegen
      // against), so the 2x ratio measures the workload, not compile
      repeat = 3,
      deadlineSec = 240.0,
      baseCap = 60,
      warmCodegen = false,
      scaleOn = true, scaleCopies = 2, scaleBudget = 60, scaleCap = 30,
      // budget 0: every 30× query must surface as an explicit skip
      // with reason + prior — the "starved sweep" shape, reported
      scale30On = true, scale30Copies = 3, scale30Budget = 0, scale30Cap = 30,
      scale100On = false,
      recheckBudget = 60,
      scaledDirBase =
        java.nio.file.Files.createTempDirectory("graft_benchspec_").toString,
      detailPath = "unused.json")
    val (full, summary) = Bench.run(spark, cfg)

    val f = mapper.readTree(full)     // parses or throws
    val sm = mapper.readTree(summary) // parses or throws

    // deadline respected
    assert(f.get("elapsed_sec").asDouble() < cfg.deadlineSec,
      s"run blew its deadline: ${f.get("elapsed_sec")}")

    // per-query fixed-cost counts ride the reported run of every query;
    // the synthetic query counts its input while it is built
    for (k <- Seq("codegen_compiles", "build_jobs"); q <- cfg.selected)
      assert(f.get(k).has(q) && f.get(k).get(q).asLong() >= 0, s"$k/$q: $full")
    assert(f.get("build_jobs").get("synthetic_cliff").asLong() >= 1, full)

    // the synthetic superlinear query is flagged at 2× AND the flag
    // carries its own recheck verdict in the artifact
    val flagged10 = (0 until f.get("cliffs_10x").size())
      .map(f.get("cliffs_10x").get(_).asText())
    assert(flagged10.contains("synthetic_cliff"),
      s"synthetic cliff not flagged: $full")
    val cliffEntries = f.get("scale").get("cliffs")
    val entry = (0 until cliffEntries.size()).map(cliffEntries.get)
      .find(_.get("name").asText() == "synthetic_cliff")
      .getOrElse(fail(s"no cliff entry for synthetic_cliff: $full"))
    assert(entry.has("sec_isolated") && entry.has("ratio_isolated") &&
      entry.has("confirmed"),
      s"cliff entry lacks recheck fields: $entry")
    assert(entry.get("confirmed").asBoolean(),
      s"a genuinely superlinear query must CONFIRM on recheck: $entry")
    assert(entry.get("ratio_isolated").asDouble() > 2.0)
    // ...and it rolls up into cliffs_rechecked
    val rc = f.get("cliffs_rechecked")
    assert((0 until rc.size()).map(rc.get)
      .exists(_.get("name").asText() == "synthetic_cliff"),
      s"recheck roll-up missing: $rc")

    // honest queries don't flag at 2×
    assert(!flagged10.contains("daily_revenue") &&
      !flagged10.contains("a02_global_bounds"),
      s"linear queries must not flag: $flagged10")

    // the zero-budget 30× sweep reports every candidate as an explicit
    // skip with a reason and a prior_sec predictor
    val sk = f.get("scale30").get("skipped_detail")
    assert(sk.size() > 0, s"starved sweep must report skips: $full")
    (0 until sk.size()).map(sk.get).foreach { e =>
      assert(e.has("reason"), s"skip without reason: $e")
      assert(e.has("prior_sec") || e.has("ratio_10x"),
        s"skip without a predictor datapoint: $e")
    }

    // summary line: bounded, parseable, driver-contract keys present
    assert(summary.length < 2000,
      s"summary must fit a 2000-char stdout tail: ${summary.length}")
    assert(sm.get("metric").asText() == "total")
    assert(sm.get("unit").asText() == "sec")
    assert(sm.get("value").asDouble() > 0)
    assert(sm.get("sf").asText() == sf001)
    assert(sm.get("queries").isObject && sm.get("queries").size() > 0)
    assert(sm.get("counts").get("registry").asInt() == 3)
  }

  test("bench dry run: rechecks adjudicate WORST-ratio-first; headline is " +
    "median-of-N; flagged names auto-join the oracle tier") {
    // two synthetic cliffs of different severity: the MILD one (cubic,
    // cheaper at 1×) sweeps and flags FIRST; the SEVERE one (quartic,
    // ratio 2× the mild's) flags second. With budget for exactly ONE
    // recheck, sweep-order adjudication (the r12 bug) would recheck
    // the mild flag and skip the severe one — descending-ratio order
    // must do the opposite.
    def cliffQ(exp: Int, ms: Long): (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame = (s, dir) => {
      val n = s.read.parquet(s"$dir/documents.parquet").count()
      val units = n / 500
      Thread.sleep(math.pow(units.toDouble, exp.toDouble).toLong * ms)
      s.range(1).select(lit(n).as("n"))
    }
    val cfg = Bench.Config(
      sfDir = sf001,
      selected = Seq("daily_revenue", "mild_cliff", "severe_cliff"),
      extraQueries = Map(
        "mild_cliff" -> cliffQ(3, 300),   // 1×: .3s, 2×: 2.4s, ratio 4
        "severe_cliff" -> cliffQ(4, 400)), // 1×: .4s, 2×: 6.4s, ratio 8
      repeat = 3,
      headlineRepeat = 3,
      deadlineSec = 300.0,
      baseCap = 60,
      warmCodegen = false,
      scaleOn = true, scaleCopies = 2, scaleBudget = 60, scaleCap = 30,
      scale30On = false, scale100On = false,
      // fits exactly one recheck: the first one runs (spent 0 ≤ 1),
      // its ~6 s spend then starves the rest
      recheckBudget = 1,
      scaledDirBase =
        java.nio.file.Files.createTempDirectory("graft_benchspec3_").toString,
      detailPath = "unused.json")
    val (full, _) = Bench.run(spark, cfg)
    val f = mapper.readTree(full)
    val cliffEntries = f.get("scale").get("cliffs")
    def entry(name: String) = (0 until cliffEntries.size()).map(cliffEntries.get)
      .find(_.get("name").asText() == name)
      .getOrElse(fail(s"no cliff entry for $name: $full"))
    // the SEVERE flag got the only recheck slot…
    val sev = entry("severe_cliff")
    assert(sev.has("sec_isolated") && sev.get("confirmed").asBoolean(),
      s"worst flag must be adjudicated first: $sev")
    // …and the mild flag is the one marked starved — and a starved
    // (unadjudicated) flag must NOT count as confirmed (r16: a skipped
    // recheck used to auto-confirm, which reported deadline artifacts
    // as proven cliffs); it rolls up into cliffs_unadjudicated instead
    val mild = entry("mild_cliff")
    assert(mild.has("recheck") &&
      mild.get("recheck").asText() == "skipped_budget",
      s"milder flag should have been the starved one: $mild")
    val confirmed10 = f.get("cliffs_confirmed_10x")
    assert((0 until confirmed10.size()).map(confirmed10.get(_).asText())
      .toSet == Set("severe_cliff"),
      s"only the adjudicated cliff may be confirmed: $confirmed10")
    val unadj10 = f.get("cliffs_unadjudicated_10x")
    assert((0 until unadj10.size()).map(unadj10.get(_).asText())
      .toSet == Set("mild_cliff"),
      s"the starved flag must be reported unadjudicated: $unadj10")

    // headline median-of-N: daily_revenue (the one headline member
    // here) carries registry repeats + dedicated passes in
    // headline_repeats, and the reported headline rides the median
    val hr = f.get("headline_repeats").get("daily_revenue")
    assert(hr != null && hr.size() >= cfg.repeat + cfg.headlineRepeat,
      s"dedicated headline passes missing from headline_repeats: $full")
    assert(f.get("headline_queries").get("daily_revenue").asDouble() > 0)

    // flagged names auto-join the oracle tier: neither synthetic has a
    // registered check, so each must surface as an explicit
    // no-check-registered skip INSIDE scale_oracle.results — proof the
    // tier included them rather than filtering them out
    val so = f.get("scale_oracle").get("results")
    def oracleRow(name: String) = (0 until so.size()).map(so.get)
      .find(_.get("name").asText() == name)
      .getOrElse(fail(s"flagged name absent from oracle tier: $name: $full"))
    Seq("mild_cliff", "severe_cliff").foreach { n =>
      val r = oracleRow(n)
      assert(r.get("status").asText() == "skip" &&
        r.get("detail").asText().contains("no check"), s"$r")
    }
  }

  test("mode cadence: auto flips the previous artifact's bench_mode; the " +
    "chosen mode and any headline fallback are named in the artifact") {
    // resolveMode: explicit wins; auto alternates; modeless starts full30
    assert(Bench.resolveMode(Some("full30"), "whatever") == "full30")
    assert(Bench.resolveMode(Some("probe100"), "whatever") == "probe100")
    assert(Bench.resolveMode(None, "") == "full30")
    assert(Bench.resolveMode(None, """{"bench_mode":"full30"}""") == "probe100")
    assert(Bench.resolveMode(None, """{"bench_mode":"probe100"}""") == "full30")
    assert(Bench.resolveMode(Some("auto"), """{"bench_mode":"full30"}""")
      == "probe100")

    // headlineRepeat 0 = zero dedicated passes: every headline member
    // must fall back to its registry number AND be NAMED in
    // headline_fallback (ADVICE r13 — a silent median/registry-min mix
    // is methodology drift the artifact must confess)
    val cfg = Bench.Config(
      sfDir = sf001,
      selected = Seq("daily_revenue", "a02_global_bounds"),
      repeat = 2,
      headlineRepeat = 0,
      deadlineSec = 240.0,
      baseCap = 60,
      warmCodegen = false,
      scaleOn = false, scale30On = false, scale100On = false,
      scaleOracleOn = false,
      scaledDirBase =
        java.nio.file.Files.createTempDirectory("graft_benchspec4_").toString,
      detailPath = "unused.json",
      mode = "probe100")
    val (full, summary) = Bench.run(spark, cfg)
    val f = mapper.readTree(full)
    val sm = mapper.readTree(summary)
    assert(f.get("bench_mode").asText() == "probe100", full.take(400))
    assert(sm.get("bench_mode").asText() == "probe100")
    val fb = f.get("headline_fallback")
    assert((0 until fb.size()).map(fb.get(_).asText())
      .contains("daily_revenue"),
      s"registry-min fallback must be named: $fb")
    // the fallback value IS the registry number
    assert(f.get("headline_queries").get("daily_revenue").asDouble() ==
      f.get("queries").get("daily_revenue").asDouble())
  }

  test("probe ordering and null models: priority tier runs first; the " +
    "pair-listing / LSH-dispersion / vocab-growth families are named") {
    // sweepOrder: priority members first IN ORDER regardless of prior,
    // remainder cheapest-first by prior (falling back to t1 × copies)
    val cands = Seq("cheap" -> 0.1, "dd_minhash_pairs" -> 2.0,
      "mid" -> 1.0, "mdm_match_pairs" -> 0.5)
    val order = Bench.sweepOrder(cands,
      prior = Map("mid" -> 5.0), copies = 100,
      priorityFirst = Bench.scale100Priority)
    assert(order === Seq("dd_minhash_pairs", "mdm_match_pairs",
      "mid", "cheap"),
      s"flagship tier must lead, remainder cheapest-first: $order")
    // a priority name absent from the candidates must not appear
    assert(!order.contains("dd_dup_clusters"))
    // no priority list = pure cheapest-first (the 10×/30× sweeps)
    assert(Bench.sweepOrder(cands, Map.empty, 10, Nil) ===
      Seq("cheap", "mdm_match_pairs", "mid", "dd_minhash_pairs"))

    // the probe set itself carries the whole priority tier, so the
    // driver probe100 round can never order names it doesn't run
    Bench.scale100Priority.foreach(n =>
      assert(Bench.scale100Defaults.contains(n), s"$n not in probe set"))

    // null_models coverage (VERDICT r14 #3/#4): every member of the
    // three adjudicated families rides the artifact with its rationale
    val mdm = Seq("mdm_match_pairs", "mdm_match_pairs_fine",
      "mdm_steward_queue", "mdm_steward_queue_fine",
      "mdm_golden_records", "mdm_golden_records_fine")
    val lsh = Seq("dd_minhash_pairs", "dd_minhash_pairs_xx64",
      "dd_dup_clusters", "dd_neardup_result", "dd_incremental_neardup")
    val lm = Seq("ta_bigram_logprob", "ta_unigram_logprob", "ta_pmi_pairs")
    (mdm ++ lsh ++ lm).foreach(n =>
      assert(Bench.nullModels.contains(n), s"null model missing: $n"))
    mdm.foreach(n => assert(Bench.nullModels(n).contains("pair-listing")))
    lsh.foreach(n => assert(Bench.nullModels(n).contains("output growth")))
    lm.foreach(n => assert(Bench.nullModels(n).contains("vocab growth")))
    // and every null-modeled name is a real registry query
    Bench.nullModels.keys.foreach(n =>
      assert(SparkEntry.queries.contains(n), s"stale null model: $n"))
  }

  test("bench dry run: recheck starvation is MARKED, never silent") {
    // recheckBudget 0: the synthetic cliff's recheck can't run — the
    // flag must then carry an explicit skipped marker (r11's failure
    // mode was an empty list, indistinguishable from "no flags")
    val cfg = Bench.Config(
      sfDir = sf001,
      selected = Seq("daily_revenue", "synthetic_cliff"),
      extraQueries = Map("synthetic_cliff" -> syntheticCliff),
      repeat = 3,
      deadlineSec = 240.0,
      baseCap = 60,
      warmCodegen = false,
      scaleOn = true, scaleCopies = 2, scaleBudget = 60, scaleCap = 30,
      scale30On = false, scale100On = false,
      recheckBudget = -1,
      scaledDirBase =
        java.nio.file.Files.createTempDirectory("graft_benchspec2_").toString,
      detailPath = "unused.json")
    val (full, _) = Bench.run(spark, cfg)
    val f = mapper.readTree(full)
    val cliffEntries = f.get("scale").get("cliffs")
    val entry = (0 until cliffEntries.size()).map(cliffEntries.get)
      .find(_.get("name").asText() == "synthetic_cliff")
      .getOrElse(fail(s"no cliff entry for synthetic_cliff: $full"))
    assert(entry.has("recheck") &&
      entry.get("recheck").asText().startsWith("skipped_"),
      s"starved recheck must be marked: $entry")
    assert(f.get("counts").get("recheck_skipped").asInt() >= 1)
    val rc = f.get("cliffs_rechecked")
    assert((0 until rc.size()).map(rc.get).exists(e =>
      e.get("name").asText() == "synthetic_cliff" && e.has("recheck")),
      s"skipped recheck must appear in the roll-up: $rc")
  }

  test("a capped query is stopped at its cap: timing -1, and neither its " +
    "thread nor its jobs outlive the return") {
    val name = "two_jobs_slow"
    val group = s"bench-$name"
    // one job, a 30 s sleep, then another job: at the cap the query is
    // between jobs, where a group cancel alone reaches nothing
    val slow: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame = (s, _) => {
      s.range(10).count()
      Thread.sleep(30000L)
      s.range(10).count()
      s.range(1).toDF()
    }
    val jobStarts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobStarts.add(e.time)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val t = Bench.timedRun(spark, Map(name -> slow), name, sfDir, capSec = 2)
      val returnedMs = System.currentTimeMillis()
      val tookSec = (System.nanoTime() - t0) / 1e9
      assert(t.sec == -1.0, t.toString)
      assert(tookSec < 10.0, s"a 2 s cap returned after $tookSec s")
      assert(!Thread.getAllStackTraces.keySet.toArray.exists(
        _.asInstanceOf[Thread].getName == group), s"$group still alive")
      Thread.sleep(2000L)
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val starts = jobStarts.asScala.toSeq
      assert(starts.nonEmpty, "the first job carries the group")
      assert(starts.forall(_ <= returnedMs),
        s"a $group job started after the capped run returned: $starts vs $returnedMs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("strings survive the JSON round trip: a failure message and a " +
    "quoted sf dir") {
    // a recorded failure keeps its first line, character for character
    val msg = "bad \"x\" under C:\\tmp\tcol \u2014 stop"
    val boom: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame =
      (_, _) => throw new IllegalStateException(msg + "\nsecond line")
    val sf = java.nio.file.Files.createTempDirectory("graft_bench\"sf_").toString
    val cfg = Bench.Config(
      sfDir = sf,
      selected = Seq("boom", "one_row"),
      extraQueries = Map("boom" -> boom,
        "one_row" -> ((s: org.apache.spark.sql.SparkSession, _: String) => s.range(1).toDF())),
      repeat = 1,
      deadlineSec = 120.0,
      baseCap = 30,
      warmCodegen = false,
      scaleOn = false, scale30On = false, scale100On = false,
      scaleOracleOn = false,
      scaledDirBase = sf,
      detailPath = "unused.json")
    val (full, summary) = Bench.run(spark, cfg)
    val f = mapper.readTree(full)
    val sm = mapper.readTree(summary)
    val fd = f.get("failed_detail")
    assert(fd.size == 1 && fd.get(0).get("name").asText == "boom", full)
    assert(fd.get(0).get("msg").asText == msg, full)
    assert(f.get("sf").asText == sf && sm.get("sf").asText == sf, summary)
    assert(summary.length < 2000 && sm.get("failed").get(0).asText == "boom")
  }
}
