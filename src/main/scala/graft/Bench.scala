package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap

/** Benchmark main (driver contract): prints ONE JSON line.
  *
  * The PRINTED line is a compact (≤ ~1.5 KB) summary — headline
  * per-query seconds, cliff verdicts, coverage counts, totals — so a
  * consumer that keeps only a bounded stdout tail can parse it whole.
  * The COMPLETE artifact (full per-query dicts, both scale sweeps,
  * recheck records) is written to `target/bench.json` and to the
  * tracked `BENCH_LOCAL.json` (override with BENCH_OUT), and the
  * summary names that file in its `detail` field.
  *
  * - `value` is the HEADLINE-set total at SPARK_GRAFT_SF_DIR — the
  *   cross-round comparable number (same 16 queries since r4).
  * - `queries` in the SUMMARY line carries the headline set's
  *   per-query seconds; the full artifact's `queries` covers the
  *   whole registry (min across successful BENCH_REPEAT runs).
  *   Queries whose every repeat failed/timed out are listed in
  *   `failed` — never silently dropped from totals.
  * - The headline rides MEDIAN-of-N dedicated headline-only passes
  *   (BENCH_HEADLINE_REPEAT, default 5, run warm after the registry
  *   repeats): `value`/`headline_queries` are per-query medians and
  *   `headline_stddev` is the stddev of those pass totals (the full
  *   artifact carries every raw timing in `headline_repeats`), so
  *   cross-round drift claims are testable against measured
  *   same-session variance. r12's min-of-2 headline had a 26%
  *   stddev; the median runs at ≤7%.
  * - `gc_ms` (full artifact) is each reported run's overlapped JVM GC
  *   time — the heap-pressure axis that explains cross-environment
  *   wall-time gaps without re-run archaeology.
  * - `codegen_compiles` / `build_jobs` (full artifact), from the same
  *   run: generated classes compiled (Spark's `CodegenMetrics`) and
  *   Spark jobs run while the DataFrame was built (schema inference,
  *   eager probes) — the per-query fixed costs a warm session should
  *   not pay again.
  * - `scale` / `scale30` are derived-scale sweeps: queries re-timed
  *   at 10× and 30× data ([[graft.sources.ScaledCorpus]]),
  *   cheapest-first under a wall-clock budget with a per-query cap.
  *   After each build the scaled tables get one UNTIMED warm scan
  *   (post-build write-back/page-cache interference made the r11
  *   sweep head read 3–17× slow — 15 false cliff flags). A query
  *   whose scaled run ratios >2× is flagged; flags are re-run ONCE in
  *   isolation right after the sweep, WORST ratio first (a starved
  *   recheck budget can then never skip the biggest flag), and each
  *   carries both numbers
  *   (`sec_isolated`/`ratio_isolated`/`confirmed`) — or an explicit
  *   `recheck: skipped_*` marker. Every 10×-flagged name also joins
  *   the in-bench scale-oracle tier, so the run that flags a query
  *   verifies its answers at scale. Flags refute or confirm themselves
  *   IN the artifact; skips/caps are reported, never silent.
  * - The 30× sweep skips queries the SAME RUN's 10× sweep already
  *   proved sub-linear (ratio < 0.5, clean, non-headline) — each
  *   such skip is listed with reason `sublinear_at_10x` and its 10×
  *   ratio — and spends its budget on the queries whose 30× behavior
  *   is actually open.
  * - `scale100` probes ~20 flagship/dedup/ANN defaults at 100× with
  *   the same cliff/recheck machinery — the "would this plan survive
  *   100×?" datapoint. CADENCE (VERDICT r13 #6): the 30× sweep and
  *   the 100× probe don't both fit one driver deadline, so BENCH_MODE
  *   `auto` (default) ALTERNATES them round over round by flipping
  *   the previous tracked artifact's `bench_mode` — a `full30` round
  *   runs 10×+30×, a `probe100` round trades the 30× sweep for the
  *   100× probe. Force either with BENCH_MODE / BENCH_SCALE30 /
  *   BENCH_SCALE100.
  *
  * Each timed query runs under [[Capped]], which stops a query that
  * outlives its cap (timing `-1`) before the next one starts. Both
  * documents are ordered trees written by [[Json]]: key order is the
  * truncation priority, and strings are escaped by the writer alone.
  *
  * Queries are materialized through the noop sink — count() lets
  * Spark's count-star shortcut skip projection work and would
  * under-measure; noop executes the full plan including expression
  * evaluation.
  */
object Bench {

  /** Headline set: one representative per operator family, ordered
    * roughly cheap → expensive.
    */
  val headline: Seq[String] = Seq(
    "daily_revenue",       // scan → filter → group agg
    "p01_cast_projection", // projection throughput
    "v01_rule_annotate",   // rule-engine projection
    "e2e_curated",         // validate + double broadcast join
    "a04_extended_metrics",// join + wide agg
    "j04_semi_exists",     // semi join
    "w01_latest_per_key",  // window dedupe
    "scd2_merge",          // SCD2 merge pipeline
    "mdm_match_pairs",     // blocked fuzzy self-join
    "ta_quality_scores",   // regex-heavy text projection
    "dd_minhash_pairs",    // shingle explode + LSH self-join
    "ann_topk",            // brute-force vector search
    "ta_rolling_hash",     // custom codegen'd expression
    "ev_window_agg",       // tumbling window agg
    "ev_sessions",         // gaps-and-islands windowing
    "ev_asof_join")        // as-of join

  /** Default 100× probe set: the headline plus the dedup/ANN/MDM scale
    * defaults whose 100-TB story the engine stands on, plus the
    * corpus-trained LM family (whose scaling regime the r14 corpus fix
    * changed — distinct n-grams now grow ×copies by construction, see
    * [[nullModels]]).
    */
  val scale100Defaults: Seq[String] = headline ++ Seq(
    "dd_dup_clusters", "ann_ivf_topk", "ta_bigram_logprob",
    "llm_corpus_pipeline", "ta_unigram_logprob", "ta_pmi_pairs")

  /** 100×-probe information-value order (VERDICT r14 #1): the probe
    * exists to time the flagship/dedup/LM tier at 100×, and a
    * cheapest-first sweep under a driver deadline buys the cheap tail
    * and deadline-skips exactly that tier (r14: 14/20 skipped, all
    * flagship). Names here run FIRST, in this order; the remainder
    * still runs cheapest-first. Order within the tier: the engine's
    * headline dedup story first, then MDM, clustering, the e2e
    * pipeline, then the LM family (whose 100× cost is the largest and
    * carries its own null model — it must not starve the names before
    * it).
    */
  val scale100Priority: Seq[String] = Seq(
    "dd_minhash_pairs", "mdm_match_pairs", "dd_dup_clusters",
    "llm_corpus_pipeline", "ta_bigram_logprob", "ta_unigram_logprob",
    "ta_pmi_pairs")

  /** Sweep execution order: `priorityFirst` members (present among the
    * candidates) run first in the given order; everything else runs
    * cheapest-first by the best predictor available (a prior sweep's
    * measured time, else the 1× time scaled). Pure — pinned by
    * BenchSpec.
    */
  private[graft] def sweepOrder(candidates: Seq[(String, Double)],
                                prior: Map[String, Double], copies: Int,
                                priorityFirst: Seq[String]): Seq[String] = {
    val cand = candidates.map(_._1).toSet
    val pri = priorityFirst.filter(cand.contains)
    val rest = candidates.filterNot(p => pri.contains(p._1))
      .sortBy { case (n, t1) => prior.getOrElse(n, t1 * copies) }
      .map(_._1)
    pri ++ rest
  }

  /** Default in-bench scale-oracle tier: the 100× probe set plus the
    * r12 cliff set — the queries whose scale shape was rewritten in
    * r13 stay answer-verified at 10× in every driver round (a fixed
    * query regressing in a later refactor must fail the oracle, not
    * just drift in the sweep timings). 10×-flagged names from the
    * same run join automatically on top.
    */
  val oracleTierDefaults: Seq[String] = (scale100Defaults ++ Seq(
    "a12_rollup_revenue", "a18_grouping_sets", "ev_json_props",
    "ev_stickiness", "mv_incremental_revenue",
    "ta_boilerplate_scrub")).distinct

  /** One query's measurement: wall seconds (sentinel -1 timeout / -2
    * error) plus the JVM-wide GC time the run overlapped, the generated
    * classes it compiled and the Spark jobs its DataFrame build ran.
    */
  final case class Timing(sec: Double, gcMs: Long, errMsg: Option[String] = None,
                          compiles: Long = 0L, buildJobs: Long = 0L)

  /** Every knob, injectable: `main` builds one from the environment;
    * BenchSpec builds tiny ones (small registry subset, synthetic
    * superlinear query, second-scale budgets) so the apparatus itself
    * — deadline fitting, cliff flag + recheck, skip reporting, JSON
    * shape — is gated by `sbt test` instead of breaking driver rounds
    * (r10 rc=124; r11 starved recheck).
    */
  final case class Config(
      sfDir: String,
      selected: Seq[String],
      extraQueries: Map[String, (SparkSession, String) => DataFrame] = Map.empty,
      repeat: Int = 2,
      deadlineSec: Double = 2400.0,
      baseCap: Int = 600,
      warmCodegen: Boolean = true,
      scaleOn: Boolean = true,
      scaleCopies: Int = 10,
      scaleBudget: Int = 900,
      scaleCap: Int = 240,
      scale30On: Boolean = true,
      scale30Copies: Int = 30,
      scale30Budget: Int = 900,
      scale30Cap: Int = 240,
      scale100On: Boolean = false,
      scale100Copies: Int = 100,
      scale100Budget: Int = 2400,
      scale100Cap: Int = 600,
      scale100Names: Seq[String] = scale100Defaults,
      scaleOracleOn: Boolean = true,
      scaleOracleBudget: Int = 420,
      // in-bench tier: the flagship + dedup/ANN/pipeline defaults +
      // the r12 cliff set fit the driver deadline; the FULL checks map
      // runs in ScaleOracleSpec (x3) and the standalone
      // graft.ScaleOracle main
      scaleOracleNames: Seq[String] = oracleTierDefaults,
      // per-CHECK cancellation cap inside the oracle phase: an
      // auto-tier flagged check is by definition expensive at scale
      // and must not eat the global deadline (ADVICE r13)
      scaleOracleCheckCap: Int = 240,
      recheckBudget: Int = 300,
      // dedicated headline-only passes: the reported headline is the
      // per-query MEDIAN over these (N≥5), not the min over the 2
      // full-registry repeats — r12's 3.06 s stddev on an 11.6 s
      // headline made round-over-round comparison mush; a median over
      // 5 warm passes is the statistically legible number. ~12 s per
      // pass at sf0.1, so the default costs ~1 min of the deadline.
      headlineRepeat: Int = 5,
      sublinearSkip: Double = 0.5,
      scaledDirBase: String = "target",
      detailPath: String = "BENCH_LOCAL.json",
      // alternating-round cadence (VERDICT r13 #6): the full 30×
      // sweep and the 100× probe don't BOTH fit one driver deadline,
      // so `auto` alternates them across rounds — "full30" runs
      // 10×+30× (the probe off), "probe100" trades the 30× sweep for
      // the 100× probe over scale100Defaults. envConfig resolves
      // `auto` by reading the PREVIOUS tracked artifact's bench_mode
      // field and flipping it; the chosen mode travels in the
      // artifact so the next round can alternate.
      mode: String = "full30")

  /** BENCH_MODE resolution: an explicit mode wins; `auto` (anything
    * else) FLIPS the previous tracked artifact's `bench_mode` so
    * consecutive driver rounds alternate full-30× and 100×-probe
    * coverage. A missing, unreadable or modeless artifact starts at
    * full30.
    */
  def resolveMode(envMode: Option[String], prevArtifact: => String): String =
    envMode match {
      case Some(m @ ("full30" | "probe100")) => m
      case _ =>
        val prev =
          try Json.read(prevArtifact).path("bench_mode").asText("")
          catch { case scala.util.control.NonFatal(_) => "" }
        if (prev == "full30") "probe100" else "full30"
    }

  def envConfig(): Config = {
    val selected: Seq[String] = sys.env.get("BENCH_QUERIES") match {
      case Some("all") | None => SparkEntry.queries.keys.toSeq.sorted
      case Some(list) => list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }
    val s100Names = sys.env.get("BENCH_SCALE100_QUERIES") match {
      case None => scale100Defaults
      case Some(list) => list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }
    val detailPath = sys.env.getOrElse("BENCH_OUT", "BENCH_LOCAL.json")
    // BENCH_MODE: full30 | probe100 | auto (default). auto flips the
    // PREVIOUS tracked artifact's mode, so consecutive driver rounds
    // alternate 30×-sweep and 100×-probe coverage; a missing/modeless
    // artifact starts the cadence at full30.
    val mode = resolveMode(sys.env.get("BENCH_MODE"),
      java.nio.file.Files.readString(java.nio.file.Paths.get(detailPath)))
    val probe = mode == "probe100"
    Config(
      sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      selected = selected,
      repeat = sys.env.getOrElse("BENCH_REPEAT", "2").toInt max 1,
      // Global wall-clock deadline for the WHOLE bench run: the driver
      // kills the process at its own outer timeout (round 10's 1800 s
      // 30× budget pushed the run past it → BENCH_r10.json rc=124, a
      // dead artifact). 2400 s + ~200 s of sbt/JVM startup fits the
      // 2599 s a driver run has proven to allow. Sweeps truncate
      // GRACEFULLY at the deadline (skips reported with their prior),
      // so the JSON line is always emitted.
      deadlineSec = sys.env.getOrElse("BENCH_DEADLINE_SEC", "2400").toDouble,
      scaleOn = sys.env.getOrElse("BENCH_SCALE", "on") != "off",
      scaleCopies = sys.env.getOrElse("BENCH_SCALE_COPIES", "10").toInt,
      // probe100 rounds trim the 10× sweep to FUND the 100× probe
      // (VERDICT r14 #1): the 10× tail the trim drops is exactly the
      // proven-sublinear surface the alternating full30 round covers,
      // while the freed ~300 s buys the flagship tier at 100×
      scaleBudget = sys.env.getOrElse("BENCH_SCALE_BUDGET_SEC",
        if (probe) "600" else "900").toInt,
      // 240s: with dd_ngram_prefix sweep-excluded, the slowest
      // genuinely-completing 10× query is well under 120s — the cap
      // only bounds true blow-ups now
      scaleCap = sys.env.getOrElse("BENCH_SCALE_QUERY_CAP_SEC", "240").toInt,
      scale30On = sys.env.getOrElse("BENCH_SCALE30",
        if (probe) "off" else "on") != "off",
      scale30Copies = sys.env.getOrElse("BENCH_SCALE30_COPIES", "30").toInt,
      scale30Budget = sys.env.getOrElse("BENCH_SCALE30_BUDGET_SEC", "900").toInt,
      scale30Cap = sys.env.getOrElse("BENCH_SCALE30_QUERY_CAP_SEC", "240").toInt,
      scale100On = sys.env.getOrElse("BENCH_SCALE100",
        if (probe) "on" else "off") == "on",
      scale100Copies = sys.env.getOrElse("BENCH_SCALE100_COPIES", "100").toInt,
      // probe mode trades the 30× sweep's 900 s plus the 10× trim for
      // the probe; a standalone (BENCH_SCALE100=on) run keeps the wide
      // budget. Probe cap 600 (was 360): the LM-family 100× runs are
      // linear-×-vocab-growth (see nullModels) and land above 360 —
      // a cap that guarantees a timeout flag every probe round times
      // nothing and spends the same wall-clock.
      scale100Budget = sys.env.getOrElse("BENCH_SCALE100_BUDGET_SEC",
        if (probe) "1300" else "2400").toInt,
      scale100Cap = sys.env.getOrElse("BENCH_SCALE100_QUERY_CAP_SEC",
        "600").toInt,
      scale100Names = s100Names,
      scaleOracleOn = sys.env.getOrElse("BENCH_SCALE_ORACLE", "on") != "off",
      scaleOracleBudget =
        sys.env.getOrElse("BENCH_SCALE_ORACLE_BUDGET_SEC", "420").toInt,
      scaleOracleNames = sys.env.get("BENCH_SCALE_ORACLE_QUERIES") match {
        case Some("all") => ScaleOracle.checks.keys.toSeq.sorted
        case Some(list) => list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        case None => oracleTierDefaults
      },
      scaleOracleCheckCap =
        sys.env.getOrElse("BENCH_SCALE_ORACLE_CHECK_CAP_SEC", "240").toInt,
      recheckBudget = sys.env.getOrElse("BENCH_RECHECK_BUDGET_SEC", "300").toInt,
      headlineRepeat = sys.env.getOrElse("BENCH_HEADLINE_REPEAT", "5").toInt,
      detailPath = detailPath,
      mode = mode)
  }

  private def totalGcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  private[graft] def timedRun(spark: SparkSession,
                       queries: Map[String, (SparkSession, String) => DataFrame],
                       name: String, dir: String, capSec: Int): Timing = {
    val fn = queries(name)
    val group = s"bench-$name"
    val sc = spark.sparkContext
    // counts the jobs submitted while the DataFrame is built, which
    // carry the build property
    val buildJobs = new java.util.concurrent.atomic.AtomicLong()
    val buildListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(BuildProp) == group)
          buildJobs.incrementAndGet()
    }
    sc.addSparkListener(buildListener)
    val compiles0 = compileCount
    val gc0 = totalGcMs
    val t0 = System.nanoTime()
    val outcome = Capped.run(spark, group, capSec) {
      sc.setLocalProperty(BuildProp, group)
      val df = try fn(spark, dir) finally sc.setLocalProperty(BuildProp, null)
      df.write.format("noop").mode("overwrite").save()
    }
    val timing = outcome match {
      case Capped.Done(_) => Timing((System.nanoTime() - t0) / 1e9, totalGcMs - gc0)
      case Capped.CapExceeded =>
        System.err.println(s"[bench] $name exceeded ${capSec}s cap, cancelled")
        Timing(-1.0, totalGcMs - gc0)
      case Capped.Failed(e) =>
        // record the failure's first line IN the artifact: round 10's 30×
        // sweep cascade (24 consecutive -2.0s) was undiagnosable because
        // the messages lived only on a lost console
        System.err.println(s"[bench] $name failed: $e")
        e.printStackTrace()
        Timing(-2.0, totalGcMs - gc0, Some(Capped.firstLine(e)))
    }
    // -1 marks a count the listener bus could not deliver in time
    val drained =
      try { org.apache.spark.ListenerBusDrain.drain(sc); true }
      catch { case scala.util.control.NonFatal(_) => false }
    sc.removeSparkListener(buildListener)
    timing.copy(compiles = compileCount - compiles0,
      buildJobs = if (drained) buildJobs.get else -1L)
  }

  /** Local property naming the query whose DataFrame is being built. */
  private val BuildProp = "graft.bench.build"

  private def compileCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount

  /** A name -> seconds dict in the given order, at 3 decimals. */
  private def secDict(entries: Iterable[(String, Double)]): ListMap[String, Any] =
    ListMap.from(entries.map { case (k, v) => k -> Json.dec(v, 3) })

  /** Queries whose wall-time is fixed micro-batch + checkpoint
    * overhead, not data cost (Structured Streaming: each runs a real
    * readStream→writeStream with its own checkpoint dir). Their
    * variance across repeats is low and min-of-N buys nothing, so the
    * repeat loop runs them ONCE — ~55 s of the sf0.1 pass at r10 —
    * and the saved wall-clock funds the scale sweeps under the global
    * deadline.
    */
  private def isStreamingFixedOverhead(name: String): Boolean =
    name.contains("_stream_") || name == "corpus_stream_gate" ||
      name == "scd2_stream_merge"

  /** Sweep-excluded names beyond the `_coarse` MDM twins — each is
    * 1×-EVIDENCE by design, its flagged sweep cost the null model of
    * its own semantics, reported in `excluded_sweep`, never silent:
    *  - dd_ngram_prefix: output-quadratic BY SEMANTICS (exact pair
    *    enumeration; the declared corpus-scale route is MinHash/LSH —
    *    dd_minhash_pairs, 10×-clean). It burned a full per-query cap
    *    timeout every sweep while measuring nothing new; it stays
    *    fully oracle-gated at the bench SF.
    *  - ev_json_props_agree: deliberately runs BOTH json parsers per
    *    row to pin their row-for-row agreement at the oracle SF (the
    *    registered scale path is ev_json_props, from_json-only).
    */
  private val excludedSweep: Seq[String] =
    Seq("dd_ngram_prefix", "ev_json_props_agree")

  /** Named null models for derived-scale ratios (VERDICT r13 #4 watch
    * item): the MDM pair-LISTING queries' output is quadratic in block
    * size, and the block keys (nation, segment[, name-suffix]) are
    * UNSHIFTED under ScaledCorpus replication, so blocks grow ×copies
    * and the OUTPUT grows ~×copies² — a per-INPUT-row sweep ratio
    * above 1 on them is output growth, not a plan regression.
    * Adjudicated r14 with a measured block histogram (Micro
    * mdmblocks): at 30× the fine pair space grows ×972.6 (89,843 →
    * 87,383,700 rows out) while wall time grows ×54 (per-input ratio
    * 1.80) — per-OUTPUT-row cost DROPS ~18×. These stay in the sweep
    * (their ratios are real measurements); this map travels in the
    * artifact so a reader scores them against the right expectation.
    * The registered default aggregate family rides ADAPTIVE blocking
    * (bounded pair space per block) — this note is about pair-listing
    * semantics, where work is at least proportional to the answer.
    */
  val nullModels: Map[String, String] = {
    val pairListing = "blocked pair-listing: output quadratic in block " +
      "size; block key unshifted under replica scaling so output grows " +
      "~copies^2 (fine pair space x972.6 at 30x vs wall time x54 — " +
      "per-output-row cost drops ~18x)"
    // VERDICT r14 #4: the LSH pair/cluster family's sweep ratios must
    // be read against the synthetic corpus's bucket dispersion, not a
    // linear-input expectation — the ~60-word synthetic vocabulary
    // packs shingle space so densely that permuted replicas still
    // band-collide at random, growing candidate-pair OUTPUT
    // superlinearly (measured x582 at 100x on the permutation-fixed
    // corpus, NOTES r14) while per-output-row cost stays flat; real
    // web-scale shingle universes are ~2^64-sparse and don't do this.
    val lshDispersion = "LSH banding on the small-shingle-universe " +
      "synthetic corpus: permuted replicas still band-collide at " +
      "random, so candidate-pair output grows superlinearly (x582 at " +
      "100x, corpus artifact) while per-output-row cost stays flat — " +
      "score sweep ratios against output growth, not input rows"
    // VERDICT r14 #3: the corpus-trained LM family. The per-copy
    // alphabet permutation makes distinct tokens/bigrams grow ×copies
    // BY CONSTRUCTION (every copy speaks its own 26-letter cipher), so
    // LM join/agg key cardinality grows linearly with corpus size;
    // real corpora follow Heaps' law (vocabulary ~n^0.5±) and their LM
    // tables grow far slower — a per-input-row ratio ≳1 here is
    // synthetic vocab growth, not a plan regression.
    val vocabGrowth = "corpus-trained LM: per-copy alphabet " +
      "permutation grows distinct tokens/bigrams ~x(copies) by " +
      "construction, so LM join/agg key cardinality scales linearly " +
      "with the corpus; real corpora are Heaps-sublinear — per-input-" +
      "row ratios near or above 1 reflect synthetic vocab growth, not " +
      "a plan regression"
    Seq("mdm_match_pairs", "mdm_match_pairs_fine", "mdm_steward_queue",
      "mdm_steward_queue_fine", "mdm_golden_records",
      "mdm_golden_records_fine").map(_ -> pairListing).toMap ++
      Seq("dd_minhash_pairs", "dd_minhash_pairs_xx64", "dd_dup_clusters",
        "dd_neardup_result", "dd_incremental_neardup")
        .map(_ -> lshDispersion).toMap ++
      Seq("ta_bigram_logprob", "ta_unigram_logprob", "ta_pmi_pairs")
        .map(_ -> vocabGrowth).toMap
  }

  /** A cliff flag's recheck: the isolated re-run's seconds, per-input-row
    * ratio and verdict, or why it did not run (`skipped_*`).
    */
  final case class Recheck(skipped: Option[String], sec: Double = 0.0,
                           ratio: Double = 0.0, confirmed: Boolean = false) {
    def fields: ListMap[String, Any] = skipped match {
      case Some(why) => ListMap("recheck" -> why)
      case None => ListMap("sec_isolated" -> Json.dec(sec, 3),
        "ratio_isolated" -> Json.dec(ratio, 2), "confirmed" -> confirmed)
    }
  }

  /** One flagged query of a sweep: its in-sweep run, its recheck, and
    * for a confirmed cliff the measured output growth (scaled / base
    * rows, base rows).
    */
  final case class Cliff(name: String, sec: Double, ratio: Double,
                         timedOut: Boolean, recheck: Recheck,
                         rowsGrowth: Option[(Double, Long)] = None) {
    def json: ListMap[String, Any] =
      ListMap("name" -> name, "ratio" -> Json.dec(ratio, 2),
        "sec" -> Json.dec(sec, 3), "timed_out" -> timedOut) ++
        recheck.fields ++ rowsGrowth.toSeq.flatMap { case (g, base) =>
          Seq("rows_growth" -> Json.dec(g, 1), "base_rows" -> base) }
  }

  /** One derived-scale sweep: its settings, the per-query timings (in
    * run order) and per-input-row ratios, and what it flagged, errored
    * and skipped (each skip with its reason and best predictor). `copies`
    * 0 is a sweep that did not run (null in the artifact).
    */
  final case class SweepOut(copies: Int = 0, budgetSec: Int = 0,
                            capSec: Int = 0, warmSec: Double = 0.0,
                            warmFailed: Seq[String] = Nil,
                            timed: ListMap[String, Double] = ListMap.empty,
                            gcMs: ListMap[String, Double] = ListMap.empty,
                            ratios: Map[String, Double] = Map.empty,
                            cliffs: Seq[Cliff] = Nil,
                            errored: Seq[(String, String)] = Nil,
                            cascadeStopAfter: Option[String] = None,
                            skipped: Seq[ListMap[String, Any]] = Nil) {
    def flagged: Seq[String] = cliffs.map(_.name)
    def confirmed: Seq[String] = cliffs.filter(_.recheck.confirmed).map(_.name)
    def unadjudicated: Seq[String] =
      cliffs.filter(_.recheck.skipped.isDefined).map(_.name)
    def rechecks: Seq[ListMap[String, Any]] = cliffs.map(c =>
      ListMap("name" -> c.name, "copies" -> copies) ++ c.recheck.fields)
    def json: Any =
      if (copies == 0) null
      else ListMap("copies" -> copies, "budget_sec" -> budgetSec,
        "query_cap_sec" -> capSec, "warm_sec" -> Json.dec(warmSec, 1),
        "warm_failed" -> warmFailed, "queries" -> secDict(timed),
        "gc_ms" -> secDict(gcMs), "cliffs" -> cliffs.map(_.json),
        "errored" -> errored.map { case (n, m) => ListMap("name" -> n, "msg" -> m) },
        "cascade_stop_after" -> cascadeStopAfter,
        "skipped_detail" -> skipped)
  }

  /** Run the whole bench under `cfg`; returns (full artifact JSON,
    * compact summary JSON). Writes nothing, stops nothing — `main`
    * owns files and the session, so BenchSpec can drive this
    * end-to-end in-process.
    */
  def run(spark: SparkSession, cfg: Config): (String, String) = {
    val benchStart = System.nanoTime()
    def globalElapsed: Double = (System.nanoTime() - benchStart) / 1e9
    def deadlineLeft: Double = cfg.deadlineSec - globalElapsed

    val queries = SparkEntry.queries ++ cfg.extraQueries
    val selected = cfg.selected.filter(queries.contains)
    val headlinePresent = headline.filter(selected.contains)

    spark.range(1000000).selectExpr("sum(id)").collect() // JVM/codegen warmup

    def runOnce(dir: String, capSec: Int = cfg.baseCap,
                only: String => Boolean = _ => true): Seq[(String, Timing)] =
      selected.filter(only)
        .map(name => name -> timedRun(spark, queries, name, dir, capSec))

    // Warm per-query codegen at the smallest SF: generated classes are
    // cached by code shape, so a fast sf0.001 pass compiles the plans
    // and the timed runs measure execution, not Janino. That holds only
    // while the classes of one pass fit Spark's codegen cache: the
    // session's GraftSession.CodegenCacheEntries (1000) holds a
    // headline pass (~200 classes) but not every class of a full
    // registry pass, so the headline passes run warm and early
    // registry queries may recompile (counted in codegen_compiles).
    if (cfg.warmCodegen) {
      val warmDir = new java.io.File(cfg.sfDir).getParent match {
        case null => cfg.sfDir
        case p if new java.io.File(s"$p/sf0.001").isDirectory => s"$p/sf0.001"
        case _ => cfg.sfDir
      }
      if (warmDir != cfg.sfDir) runOnce(warmDir)
    }

    // Per-query minimum across SUCCESSFUL iterations (steady state,
    // GC-noise-free): a single contended iteration (concurrent JVM
    // stealing cores) can otherwise own the recorded number — and the
    // error/timeout sentinels (-1/-2) sort below any real timing, so
    // the min is taken over positive timings only; a query keeps its
    // sentinel (and lands in `failed`) only when EVERY repeat failed.
    // Repeats 2..N skip the streaming fixed-overhead queries (their
    // time is checkpoint/micro-batch cost — min-of-N is a no-op) and
    // stop entirely once the global deadline would be breached, so a
    // contended environment degrades to fewer repeats, never to a
    // killed process.
    var repeatCost = 600.0 // refined from repeat 1's measured total
    val runs = (1 to cfg.repeat).flatMap { i =>
      if (i == 1) {
        val r = runOnce(cfg.sfDir)
        // a further repeat costs about this repeat minus the
        // streaming-fixed-overhead queries it will skip — guard the
        // deadline against the MEASURED cost, not a fixed constant
        repeatCost = r.collect {
          case (n, t) if t.sec > 0 && !isStreamingFixedOverhead(n) => t.sec
        }.sum + 60
        Some(r)
      } else if (deadlineLeft < repeatCost) {
        System.err.println(f"[bench] deadline (${cfg.deadlineSec}%.0fs) " +
          s"near, skipping repeat $i")
        None
      } else Some(runOnce(cfg.sfDir, only = n => !isStreamingFixedOverhead(n)))
    }
    // per query: the fastest successful run's (sec, gcMs) pair — gc is
    // taken from the SAME run whose wall-time is reported, so the two
    // numbers describe one execution
    val picked = runs.head.map(_._1).map { name =>
      val timings = runs.flatMap(_.toMap.get(name))
      val ok = timings.filter(_.sec > 0)
      name -> (if (ok.nonEmpty) ok.minBy(_.sec)
               else timings.maxBy(_.sec)) // prefer -1 (timeout) over -2
    }
    val results = picked.map { case (n, t) => n -> t.sec }
    val gcMs = picked.map { case (n, t) => n -> t.gcMs.toDouble }
    val failed = results.collect { case (k, v) if v <= 0 => k }
    val timeAt01 = results.toMap

    // ── dedicated headline passes: median-of-N (N≥5) ────────────────
    // The headline number the round-over-round comparison rides must
    // clear its own noise floor: r12 reported min-of-2 full-registry
    // repeats and measured a 3.06 s stddev on an 11.6 s headline
    // (26%). N cheap headline-only passes (~12 s each, fully warm by
    // now) give a per-query MEDIAN — robust to one contended pass in
    // a way min-of-2 is not — and the stddev of the pass totals is
    // the honest spread of the same measurement being reported.
    // cost estimate: a headline query whose every registry repeat
    // failed/timed out still runs in each dedicated pass for up to
    // baseCap seconds — bill it at the cap, not zero, or the deadline
    // guard under-estimates the pass cost exactly when a query is
    // sick (ADVICE r13)
    val headlinePassCost = headlinePresent.map { n =>
      picked.toMap.get(n).map(_.sec).filter(_ > 0)
        .getOrElse(cfg.baseCap.toDouble)
    }.sum + 30
    // stop permanently on the first deadline miss (ADVICE r13: the
    // flatMap kept iterating and printed one stderr stop-line per
    // remaining pass with a changing count)
    var headlineStopped = false
    val headlinePasses: Seq[Map[String, Timing]] =
      (1 to cfg.headlineRepeat).flatMap { i =>
        if (headlineStopped) None
        else if (deadlineLeft < headlinePassCost) {
          headlineStopped = true
          System.err.println(s"[bench] deadline near, stopping headline " +
            s"passes at ${i - 1}/${cfg.headlineRepeat}")
          None
        } else Some(runOnce(cfg.sfDir, only = headlinePresent.contains).toMap)
      }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // per-query median over the dedicated passes; a query with no
    // successful dedicated timing falls back to its registry number —
    // and the fallback is NAMED in the artifact (headline_fallback),
    // so a headline that mixes median-of-passes with registry-min
    // methodology says so itself (ADVICE r13)
    val headlineMedians: Seq[(String, Double)] = headlinePresent.map { n =>
      val ts = headlinePasses.flatMap(_.get(n)).map(_.sec).filter(_ > 0)
      n -> (if (ts.nonEmpty) median(ts) else timeAt01.getOrElse(n, -1.0))
    }
    val headlineFallback: Seq[String] = headlinePresent.filter { n =>
      headlinePasses.flatMap(_.get(n)).map(_.sec).forall(_ <= 0)
    }
    // full artifact keeps EVERY timing (registry repeats + dedicated
    // passes) per headline query, so the spread is inspectable
    val headlineRepeats: Seq[(String, Seq[Double])] = headlinePresent.map { n =>
      n -> (runs.flatMap(_.toMap.get(n)) ++ headlinePasses.flatMap(_.get(n)))
        .map(_.sec)
    }
    val repeatTotals = headlinePasses.map { m =>
      headlinePresent.flatMap(m.get).map(_.sec)
    }.filter(ts => ts.size == headlinePresent.size && ts.forall(_ > 0))
      .map(_.sum)
    val headlineStddev =
      if (repeatTotals.size >= 2) {
        val mean = repeatTotals.sum / repeatTotals.size
        math.sqrt(repeatTotals.map(t => (t - mean) * (t - mean)).sum /
          (repeatTotals.size - 1))
      } else -1.0

    // ── derived-scale sweep (10× / 30× / opt-in 100×) ────────────────
    // cheapest-first under a global budget with a per-query cap, so a
    // superlinear query is DETECTED (flagged as a cliff) without the
    // sweep paying its full runtime.
    def sweep(copies: Int, budget: Int, cap: Int,
              prior: Map[String, Double] = Map.empty,
              preSkips: Map[String, Double] = Map.empty,
              nameFilter: String => Boolean = _ => true,
              priorityFirst: Seq[String] = Nil): SweepOut = {
      val scaledDir = new java.io.File(
        s"${cfg.scaledDirBase}/bench-scaled-x$copies").getAbsolutePath
      graft.sources.ScaledCorpus.build(spark, cfg.sfDir, scaledDir, copies)
      // UNTIMED warm scan of every scaled table: the build just wrote
      // the corpus, and timing reads while write-back is still in
      // flight made the r11 sweep head (cheapest-first = the first ~15
      // queries) ratio 3–17× — a cold-start band, not 15 plan
      // regressions. One noop full scan per table settles the page
      // cache before any measurement starts. It reads as the queries do
      // (legacy-nanos event timestamps included); a table that fails to
      // scan is named in the section's `warm_failed`.
      val warmT0 = System.nanoTime()
      val warmFailed = graft.sources.ScaledCorpus.keyCols.keys.toSeq.sorted.filter { table =>
        try {
          graft.sources.Tables.readParquetAutoNanos(spark, s"$scaledDir/$table.parquet")
            .write.format("noop").mode("overwrite").save()
          false
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] ${copies}x warm scan of $table failed: $e")
          true
        }
      }
      val warmSec = (System.nanoTime() - warmT0) / 1e9
      // cheapest-first by the best predictor available: a PRIOR sweep's
      // measured times when present (the 10× sweep predicts 30× far
      // better than 1× — at 1× the output-quadratic pair queries look
      // cheap, sort early, and eat the whole budget), else scaled 1×.
      // `_coarse` evidence twins are excluded BY NAME: they are
      // output-quadratic BY SEMANTICS (the unsuffixed adaptive
      // defaults are the scaling shape; the twins pin the
      // recall-maximal pair set at correctness SFs), so a derived-
      // scale cliff flag on them would re-report the null model every
      // round. The exclusion is reported in the top-level
      // `excluded_twins` field, never silent.
      // priorityFirst (the 100× probe's information-value tier) runs
      // before the cheapest-first remainder: under a deadline the
      // UNSTARTED tail must be the names whose scale behavior is
      // already covered elsewhere, not the tier the probe exists for
      // (VERDICT r14 #1 — r14's ascending-prior probe deadline-skipped
      // 14/20, all flagship).
      val order = sweepOrder(
        results.filter(_._2 > 0)
          .filterNot(_._1.endsWith("_coarse"))
          .filterNot(p => excludedSweep.contains(p._1))
          .filter(p => nameFilter(p._1))
          .filterNot(p => preSkips.contains(p._1)),
        prior, copies, priorityFirst)
      val sweepStart = System.nanoTime()
      def elapsed = (System.nanoTime() - sweepStart) / 1e9
      val timed = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val sweepGc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val errMsgs = scala.collection.mutable.LinkedHashMap.empty[String, String]
      val skipped = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      // Cliff recheck state: flags are COLLECTED during the sweep and
      // adjudicated right after it, in DESCENDING-ratio order — r12
      // rechecked at flag time (= cheapest-first sweep order) and the
      // recheck budget ran out before the round's largest flag
      // (a12_rollup_revenue, 19.7× in-sweep) was ever re-measured;
      // the worst flag must never be the one skipped. End-of-THIS-
      // sweep keeps r11's lesson (deferring past both sweeps starved
      // rechecks entirely) and the scaled corpus / page cache are
      // still warm, so the isolated re-run keeps its refutation
      // power. The recheck spend stays bounded by its own budget so a
      // burst of CONFIRMED cliffs (each worth up to `cap`) can't eat
      // the deadline.
      var recheckSpent = 0.0
      final case class Flag(name: String, sec: Double, ratio: Double,
                            timedOut: Boolean)
      val flagsBuf = scala.collection.mutable.ArrayBuffer.empty[Flag]
      // Consecutive-error circuit breaker: a sick JVM (one r10-era run
      // failed 24 queries in a row, instantly, after 700 successful
      // runs — cause environmental, unreproducible) fails everything
      // it touches; each failure costs ~0 budget, so without a breaker
      // the sweep "times" the whole tail as errors and the artifact
      // reads as 24 distinct failures instead of one sick process.
      var consecErrors = 0
      var cascadeAfter: Option[String] = None
      order.foreach { name =>
        // stop on the sweep's own budget, OR when the global deadline
        // no longer holds a full per-query cap + cancellation drain:
        // cheapest-first ordering means the unstarted tail is exactly
        // the expensive part, so truncating here (reported, with the
        // prior as the datapoint) is the graceful-degradation path
        // that keeps the artifact parseable under any wall-clock
        // adaptive per-query cap: demanding the FULL nominal cap of
        // deadline headroom before starting anything would skip the
        // whole remaining sweep the moment deadlineLeft < cap+30 —
        // with the probe's 600 s cap that re-creates the r14 failure
        // mode after the first expensive query. Tightening the cap to
        // the remaining wall-clock (floor 60 s) times every query the
        // deadline can still fit; a timeout under the tightened cap
        // is still an honest lower-bound flag.
        val effCap = math.min(cap.toLong, (deadlineLeft - 30).toLong).toInt
        if (cascadeAfter.isDefined) skipped += name -> "cascade"
        else if (elapsed > budget) skipped += name -> "budget"
        else if (effCap < math.min(cap, 60)) skipped += name -> "deadline"
        else {
          val t = timedRun(spark, queries, name, scaledDir, effCap)
          timed(name) = t.sec
          sweepGc(name) = t.gcMs.toDouble
          t.errMsg.foreach(m => errMsgs(name) = m)
          consecErrors = if (t.sec == -2.0) consecErrors + 1 else 0
          if (consecErrors >= 3) {
            cascadeAfter = Some(name)
            System.err.println(s"[bench] 3 consecutive errors ending at " +
              s"$name — treating as a sick JVM, skipping the rest of the " +
              s"${copies}x sweep")
          }
          // cliff candidate: per-row cost at Nx grew >2× vs the bench
          // SF (ratio = t_N / (copies · t_1)); a timeout is ALWAYS a
          // candidate (its ratio is only a LOWER bound, computed from
          // the cap the run actually had). Sub-second absolute costs
          // are ignored — fixed per-query overhead dominates there
          // and the ratio is noise.
          val t1 = timeAt01.getOrElse(name, 0.0)
          if (t1 > 0.05 && t.sec != -2.0) {
            val eff = if (t.sec == -1.0) effCap.toDouble else t.sec
            val ratio = eff / (copies * t1)
            if (t.sec == -1.0 || (ratio > 2.0 && eff > 2.0))
              flagsBuf += Flag(name, t.sec, ratio, t.sec == -1.0)
          }
        }
      }
      // ── recheck phase: worst flag first ──
      val cliffs = flagsBuf.toSeq.sortBy(-_.ratio).map { f =>
        val t1 = timeAt01.getOrElse(f.name, 0.0)
        if (deadlineLeft < cap + 30 || recheckSpent > cfg.recheckBudget) {
          val why = if (deadlineLeft < cap + 30) "skipped_deadline"
                    else "skipped_budget"
          // MEASUREMENT FIX (r16): a skipped recheck used to mark the
          // flag `confirmed = true` — i.e. a DEADLINE artifact was
          // reported as a proven scale cliff (r15's sole "confirmed
          // cliff", ta_bigram_logprob at 100×, was exactly this: the
          // in-sweep run was cancelled under a tightened lower-bound
          // cap and the recheck had no deadline left, while the same
          // query measured isolated at 100× ratios 0.22/input-row).
          // A flag the bench could not adjudicate is now reported in
          // its own `cliffs_unadjudicated` bucket: never silently
          // dropped, never falsely confirmed.
          Cliff(f.name, f.sec, f.ratio, f.timedOut, Recheck(Some(why)))
        } else {
          // isolated re-run: confirmed means it still ratios >2 (or
          // still times out); refuted means the in-sweep run was
          // environment, and the artifact says so itself
          val r = timedRun(spark, queries, f.name, scaledDir, cap)
          recheckSpent += (if (r.sec > 0) r.sec else cap.toDouble)
          val effIso = if (r.sec == -1.0) cap.toDouble else r.sec
          val ratioIso =
            if (r.sec == -2.0) -1.0 else effIso / (copies * t1)
          val confirmed = r.sec == -1.0 ||
            (r.sec > 0 && ratioIso > 2.0 && effIso > 2.0)
          // the isolated run is the steadier measurement — record the
          // better of the two as the sweep timing (the flag entry
          // keeps the first run's number)
          if (r.sec > 0 && (f.sec < 0 || r.sec < f.sec))
            timed(f.name) = r.sec
          Cliff(f.name, f.sec, f.ratio, f.timedOut,
            Recheck(None, r.sec, ratioIso, confirmed))
        }
      }
      if (skipped.nonEmpty)
        System.err.println(s"[bench] ${copies}x sweep skipped " +
          s"${skipped.size}: ${skipped.take(8).map(_._1).mkString(",")}…")
      // a skip must still carry a datapoint + reason: the best prior
      // (the 10× sweep's measured time for the 30× section, else 1×
      // scaled) — no query name ever appears in the artifact without
      // a scale number or an explicit predictor + reason behind its
      // skip. preSkips (sublinear_at_10x) carry their measured 10×
      // ratio — proof-of-sub-linearity from THIS run, not absence.
      val skDetail = skipped.toSeq.map { case (n, why) =>
        ListMap("name" -> n, "reason" -> why) ++ prior.get(n)
          .orElse(timeAt01.get(n).filter(_ > 0).map(_ * copies))
          .map(v => "prior_sec" -> Json.dec(v, 3))
      } ++ preSkips.toSeq.sortBy(_._1).map { case (n, r10) =>
        ListMap("name" -> n, "reason" -> "sublinear_at_10x",
          "ratio_10x" -> Json.dec(r10, 2))
      }
      // Per-INPUT-row ratio assumes work ∝ input. For pair-generating
      // queries (blocked self-joins) output grows ~quadratically in
      // block size, so a CONFIRMED ratio can still be sub-linear in
      // true work. Record measured output growth per confirmed,
      // non-timeout cliff so the flag carries its own null model:
      // ratio ≪ rows_growth / copies means the implementation scales;
      // ratio ≈ rows_growth / copies (or a timeout) means a real
      // blow-up. Refuted flags skip the probe (nothing to explain).
      def outRows(name: String, dir: String): Long =
        try queries(name)(spark, dir).count()
        catch { case scala.util.control.NonFatal(_) => -1L }
      val cliffsOut = cliffs.map { c =>
        if (c.recheck.confirmed && !c.timedOut && deadlineLeft > 60) {
          val base = outRows(c.name, cfg.sfDir)
          val scaled = outRows(c.name, scaledDir)
          if (base > 0 && scaled >= 0)
            c.copy(rowsGrowth = Some((scaled.toDouble / base, base)))
          else c
        } else c
      }
      // errored queries (-2.0) are excluded from cliff ratios (no
      // timing to ratio) — name them explicitly, each with its first
      // message line, so a scale-induced failure is never readable as
      // "not flagged" and a cascade's shared root cause is in-artifact
      val er = timed.toSeq.collect { case (n, v) if v == -2.0 =>
        n -> errMsgs.getOrElse(n, "")
      }
      val ratios = timed.collect {
        case (n, v) if v > 0 && timeAt01.getOrElse(n, 0.0) > 0.05 =>
          n -> v / (copies * timeAt01(n))
      }.toMap
      SweepOut(copies, budget, cap, warmSec, warmFailed, ListMap.from(timed),
        ListMap.from(sweepGc), ratios, cliffsOut, er, cascadeAfter, skDetail)
    }

    val s10 =
      if (cfg.scaleOn && cfg.scaleCopies > 1)
        sweep(cfg.scaleCopies, cfg.scaleBudget, cfg.scaleCap)
      else SweepOut()

    // ── scale-correctness oracle at 10× ──────────────────────────────
    // The sweeps above TIME the scaled runs; this phase VERIFIES their
    // answers (graft.ScaleOracle: replica-embedding / group-scaling
    // laws + independent SQL twins — exact, no tolerance archaeology).
    // It runs right after the 10× sweep so the driver artifact carries
    // oracle-gated 10× evidence even when the 30× tail later truncates
    // under the global deadline; its own skips are reported per-query.
    val (oracleSection, oracleResults): (Any, Seq[ScaleOracle.Result]) =
      if (cfg.scaleOracleOn && cfg.scaleOn && cfg.scaleCopies > 1 &&
          deadlineLeft > 60) {
        val scaledDir = new java.io.File(
          s"${cfg.scaledDirBase}/bench-scaled-x${cfg.scaleCopies}").getAbsolutePath
        graft.sources.ScaledCorpus.build(spark, cfg.sfDir, scaledDir,
          cfg.scaleCopies) // idempotent: the 10× sweep already built it
        val t0 = System.nanoTime()
        // every 10×-flagged name joins the oracle tier automatically
        // (VERDICT r12): a perf fix adjudicated by the recheck can't
        // silently change answers in the same run — its scale law is
        // verified alongside. A flagged name with no registered check
        // surfaces as an explicit "no check registered" skip.
        val names = (ScaleOracle.checks.keys.toSeq
            .filter(cfg.scaleOracleNames.contains) ++ s10.flagged)
          .distinct.sorted
          .filter(selected.contains)
        // a flagged query that TIMED OUT in the sweep would run
        // unbounded inside its check (Embed = the query at Nx plus two
        // exceptAll passes) — ScaleOracle skips those with an explicit
        // flagged_timeout_uncapped marker, and every other check runs
        // under the same cancellation cap as timedRun (ADVICE r13)
        val timedOutFlags = s10.flagged
          .filter(n => s10.timed.get(n).contains(-1.0)).toSet
        val rs = ScaleOracle.run(spark, queries, names, cfg.sfDir, scaledDir,
          cfg.scaleCopies, cfg.scaleOracleBudget, () => deadlineLeft,
          perCheckCapSec = cfg.scaleOracleCheckCap,
          timedOutFlags = timedOutFlags)
        (ScaleOracle.section(cfg.scaleCopies, rs, (System.nanoTime() - t0) / 1e9), rs)
      } else (null, Nil)
    val oracleFailed = oracleResults
      .filter(r => r.status == "fail" || r.status == "error").map(_.name)
    if (oracleFailed.nonEmpty)
      System.err.println(s"[bench] scale oracle FAILED: ${oracleFailed.mkString(",")}")
    // 30× sweep: ordered by the 10× measurements (×3 — the known-
    // expensive tail runs last, budget buys max coverage), and
    // SKIPPING what 10× already answered: a query that was timed
    // clean at 10× with per-row ratio < 0.5 is decisively sub-linear
    // — r11 spent its starved 30× budget re-proving those while the
    // open mid-tier went unmeasured. Headline queries and 10×-flagged
    // queries always run.
    val prior30 = s10.timed.collect { case (n, t) if t > 0 => n -> t * 3 }
    val sublinear30 = s10.ratios.filter { case (n, r) =>
      r < cfg.sublinearSkip && !headlinePresent.contains(n) &&
        !s10.flagged.contains(n) && s10.timed.getOrElse(n, -1.0) > 0
    }
    val s30 =
      if (cfg.scale30On && cfg.scale30Copies > 1)
        sweep(cfg.scale30Copies, cfg.scale30Budget, cfg.scale30Cap,
          prior30, sublinear30)
      else SweepOut()
    // opt-in 100× probe over the flagship + dedup/ANN defaults — the
    // "plans you'd want at 100×" datapoint (run locally: the corpus
    // build + sweep don't fit the driver's deadline alongside 10×+30×)
    val prior100 = s30.timed.collect { case (n, t) if t > 0 =>
      n -> t * (cfg.scale100Copies.toDouble / cfg.scale30Copies)
    }
    val s100 =
      if (cfg.scale100On && cfg.scale100Copies > 1)
        sweep(cfg.scale100Copies, cfg.scale100Budget, cfg.scale100Cap,
          prior100 ++ prior30.view.filterKeys(k => !prior100.contains(k)),
          Map.empty, cfg.scale100Names.toSet,
          priorityFirst = scale100Priority)
      else SweepOut()

    // headline dict + total ride the dedicated-pass MEDIANS (the
    // registry `queries` dict keeps min-of-N for every query)
    val headlineResults = headlineMedians.filter(_._2 > 0)
    val headlineTotal = headlineResults.map(_._2).sum
    val totalAll = results.collect { case (_, v) if v > 0 => v }.sum
    val excludedTwins = results.collect {
      case (n, _) if n.endsWith("_coarse") => n
    }
    val sweeps = Seq(s10, s30, s100)
    val counts = ListMap("registry" -> selected.size,
      "timed_1x" -> results.count(_._2 > 0), "failed_1x" -> failed.size,
      "timed_10x" -> s10.timed.size, "timed_30x" -> s30.timed.size,
      "sublinear_skips_30x" -> sublinear30.size,
      "timed_100x" -> s100.timed.size,
      "oracle_pass" -> oracleResults.count(_.status == "pass"),
      "oracle_fail" -> oracleFailed.size,
      "recheck_skipped" -> sweeps.map(_.unadjudicated.size).sum)
    // the scalars both documents end with
    val tail = ListMap("headline_stddev" -> Json.dec(headlineStddev, 3),
      "elapsed_sec" -> Json.dec(globalElapsed, 1),
      "deadline_sec" -> Json.dec(cfg.deadlineSec, 0))
    val driverKeys = ListMap("sf" -> cfg.sfDir, "metric" -> "total",
      "unit" -> "sec", "value" -> Json.dec(headlineTotal, 3))

    // FULL artifact: key order = truncation priority (big dicts first,
    // summary scalars last, so any tail of the line is self-contained)
    val full = ListMap(
      "queries" -> secDict(results), "gc_ms" -> secDict(gcMs),
      "codegen_compiles" -> ListMap.from(picked.map { case (n, t) => n -> t.compiles }),
      "build_jobs" -> ListMap.from(picked.map { case (n, t) => n -> t.buildJobs }),
      "headline_repeats" -> ListMap.from(headlineRepeats.map { case (n, ts) =>
        n -> ts.map(Json.dec(_, 3)) }),
      "scale" -> s10.json, "scale30" -> s30.json, "scale100" -> s100.json,
      "scale_oracle" -> oracleSection,
      "headline_queries" -> secDict(headlineResults),
      "headline_fallback" -> headlineFallback, "bench_mode" -> cfg.mode,
      "cliffs_10x" -> s10.flagged, "cliffs_30x" -> s30.flagged,
      "cliffs_100x" -> s100.flagged,
      "cliffs_confirmed_10x" -> s10.confirmed,
      "cliffs_confirmed_30x" -> s30.confirmed,
      "cliffs_confirmed_100x" -> s100.confirmed,
      "cliffs_unadjudicated_10x" -> s10.unadjudicated,
      "cliffs_unadjudicated_30x" -> s30.unadjudicated,
      "cliffs_unadjudicated_100x" -> s100.unadjudicated,
      "cliffs_rechecked" -> sweeps.flatMap(_.rechecks),
      "excluded_twins" -> excludedTwins, "excluded_sweep" -> excludedSweep,
      "null_models" -> ListMap.from(
        nullModels.view.filterKeys(selected.contains).toSeq.sortBy(_._1)),
      "counts" -> counts) ++ tail ++ ListMap(
      "failed_detail" -> picked.collect { case (n, t) if t.sec == -2.0 =>
        ListMap("name" -> n, "msg" -> t.errMsg.getOrElse("")) },
      "failed" -> failed, "total_all" -> Json.dec(totalAll, 3)) ++ driverKeys

    // SUMMARY line (printed): everything a bounded-tail consumer needs
    // — headline per-query dict, cliff verdicts, coverage counts —
    // in ≤ ~1.5 KB. `queries` here is the HEADLINE set (the full
    // registry dict lives in `detail`); name lists are capped at 12
    // (counts carry the totals).
    val summary = ListMap("schema" -> "graft-bench-summary-v1",
      "detail" -> cfg.detailPath, "bench_mode" -> cfg.mode,
      "counts" -> counts, "oracle_failed" -> oracleFailed.take(12),
      "cliffs_10x" -> s10.flagged.take(12), "cliffs_30x" -> s30.flagged.take(12),
      "cliffs_100x" -> s100.flagged.take(12),
      "cliffs_confirmed" -> sweeps.flatMap(_.confirmed).distinct.take(12),
      "cliffs_unadjudicated" -> sweeps.flatMap(_.unadjudicated).distinct.take(12),
      "failed" -> failed.take(12)) ++ tail ++ ListMap(
      "total_all" -> Json.dec(totalAll, 3),
      "queries" -> secDict(
        if (headlineResults.nonEmpty) headlineResults else results.take(12))) ++
      driverKeys
    (Json.write(full), Json.write(summary))
  }

  def main(args: Array[String]): Unit = {
    val cfg = envConfig()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local("graft-bench", cpus)
    spark.sparkContext.setLogLevel("WARN")
    val (full, summary) = run(spark, cfg)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench.json"), full)
    // durable, TRACKED copy: the driver's BENCH_r{N}.json records only
    // the (truncated) stdout tail — the full per-query evidence a
    // round's verdict cites must survive the round in-repo. BENCH_OUT
    // redirects a focused local run (e.g. a 100× probe) so it can't
    // stomp the full-run artifact.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(cfg.detailPath), full)
    println(summary)
    spark.stop()
  }
}
