package graft.queries

import graft.QueryDef
import graft.functions.Functions.exactSum
import graft.operators.AsOfJoin
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch twins of the streaming operators (SURVEY.md §2.9 extension):
  * tumbling-window aggregation and gaps-and-islands sessionization.
  * Column contracts match graft.streaming.EventStream so pipelines
  * can swap batch↔stream; the DuckDB twins verify the semantics.
  */
object StreamingQueries {

  val defs: Map[String, QueryDef] = Map(

    // ───── ordered conversion funnel view → click → purchase: each
    // stage's FIRST event must fall strictly after the previous
    // stage's first event. ONE shuffle: events group to a per-user
    // ts-sorted array and an in-row fold walks the funnel (the
    // correlated-min-join formulation the oracle uses would shuffle
    // the event stream once PER STAGE at 100 TB). avg_secs_from_view
    // rides exact decimal micros.
    "ev_funnel" -> QueryDef.sql(
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        val perUser = ev.groupBy(col("user_id"))
          .agg(array_sort(collect_list(
            struct(col("ts"), col("event_id"), col("event_type")))).as("_evs"))
        val nullTs = lit(null).cast("timestamp")
        val walked = perUser.select(col("user_id"),
          aggregate(col("_evs"),
            struct(nullTs.as("t_v"), nullTs.as("t_c"), nullTs.as("t_p")),
            (st, e) => struct(
              when(st.getField("t_v").isNull && e.getField("event_type") === "view",
                e.getField("ts")).otherwise(st.getField("t_v")).as("t_v"),
              when(st.getField("t_c").isNull && st.getField("t_v").isNotNull &&
                e.getField("event_type") === "click" &&
                e.getField("ts") > st.getField("t_v"),
                e.getField("ts")).otherwise(st.getField("t_c")).as("t_c"),
              when(st.getField("t_p").isNull && st.getField("t_c").isNotNull &&
                e.getField("event_type") === "purchase" &&
                e.getField("ts") > st.getField("t_c"),
                e.getField("ts")).otherwise(st.getField("t_p")).as("t_p"))).as("f"))
          .select(col("user_id"), col("f.t_v").as("t_v"),
            col("f.t_c").as("t_c"), col("f.t_p").as("t_p"))
        // ONE aggregate computes every stage's count + exact-decimal
        // micros sum (three filtered aggregates would recompute the
        // per-user fold once per stage), then stack() emits the rows
        def stageCols(t: String, suffix: String) = Seq(
          count(when(col(t).isNotNull, 1)).cast("long").as(s"n_$suffix"),
          sum(when(col(t).isNotNull,
            (unix_micros(col(t)) - unix_micros(col("t_v"))).cast("decimal(30,0)")))
            .as(s"d_$suffix"))
        val one = walked.agg(
          (stageCols("t_v", "v") ++ stageCols("t_c", "c") ++
            stageCols("t_p", "p")).head,
          (stageCols("t_v", "v") ++ stageCols("t_c", "c") ++
            stageCols("t_p", "p")).tail: _*)
        def avgOf(suffix: String) =
          when(col(s"n_$suffix") > 0,
            round(col(s"d_$suffix").cast("double") /
              col(s"n_$suffix").cast("double") / lit(1000000.0), 4))
        one.select(col("n_v"), col("n_c"), col("n_p"),
          avgOf("v").as("_a_v"), avgOf("c").as("_a_c"), avgOf("p").as("_a_p"))
          .select(expr("stack(3, 'view', n_v, _a_v, 'click', n_c, _a_c, " +
            "'purchase', n_p, _a_p) AS (stage, n_users, avg_secs_from_view)"))
      },
      """WITH v AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_v
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_c
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t_v
        |  GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_p
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t_c
        |  GROUP BY 1)
        |SELECT 'view' AS stage, count(*) AS n_users,
        |       round(CAST(SUM(CAST(0 AS DECIMAL(30,0))) AS DOUBLE)
        |             / count(*) / 1000000.0, 4) AS avg_secs_from_view
        |FROM v
        |UNION ALL
        |SELECT 'click', count(*),
        |       round(CAST(SUM(CAST(epoch_us(t_c) - epoch_us(t_v) AS DECIMAL(30,0))) AS DOUBLE)
        |             / count(*) / 1000000.0, 4)
        |FROM c JOIN v USING (user_id)
        |UNION ALL
        |SELECT 'purchase', count(*),
        |       round(CAST(SUM(CAST(epoch_us(t_p) - epoch_us(t_v) AS DECIMAL(30,0))) AS DOUBLE)
        |             / count(*) / 1000000.0, 4)
        |FROM p JOIN v USING (user_id)""".stripMargin),

    // ───── semi-structured JSON extraction: the events `props`
    // payload parsed schema-first with `from_json` — ONE parse per
    // row into a struct, the codegen'd scale path (at 100 TB you
    // declare the schema once and let the parser run). The
    // path-probing `get_json_object` double-parse lives in the
    // `ev_json_props_agree` 1×-evidence twin below — r12 confirmed
    // the dual-parse form as a 25× 10× cliff, which is exactly what
    // running two JSON parsers per row to cross-check them costs;
    // that agreement check is 1× evidence, not a scale shape.
    "ev_json_props" -> QueryDef.sql(
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .withColumn("k", from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))
        ev.groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            count(col("k")).as("n_with_k"),
            sum(col("k")).as("sum_k"),
            min(col("k")).as("min_k"),
            max(col("k")).as("max_k"))
      },
      """SELECT event_type,
        |  COUNT(*) AS n_events,
        |  COUNT(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_with_k,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin),

    // ───── dual-parse agreement twin (1×-EVIDENCE, excluded from the
    // derived-scale sweeps by name — Bench.excludedSweep): parses
    // `props` BOTH ways Spark offers (schema-first `from_json` and
    // path-probing `get_json_object`) and asserts they agree
    // row-for-row (n_agree = n_with_k) before aggregating. This pins
    // parser equivalence at the oracle SF; `ev_json_props` above is
    // the registered scale shape.
    "ev_json_props_agree" -> QueryDef.sql(
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .withColumn("k", from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))
          .withColumn("k2", get_json_object(col("props"), "$.k").cast("int"))
        ev.groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            count(col("k")).as("n_with_k"),
            sum(when(col("k") === col("k2"), 1L).otherwise(0L)).as("n_agree"))
      },
      """SELECT event_type,
        |  COUNT(*) AS n_events,
        |  COUNT(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_with_k,
        |  COUNT(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_agree
        |FROM events GROUP BY event_type""".stripMargin),

    // ───── daily-active-users summary — DAU, event volume, and
    // per-user intensity per calendar day (the dashboard row the
    // streaming MV keeps fresh); one map-side-combined shuffle.
    "ev_dau_summary" -> QueryDef.sql(
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(
            countDistinct(col("user_id")).as("dau"),
            count(lit(1)).as("n_events"),
            round(count(lit(1)).cast("double") /
              countDistinct(col("user_id")).cast("double"), 4)
              .as("events_per_user")),
      """SELECT CAST(ts AS DATE) AS day,
        |       COUNT(DISTINCT user_id) AS dau,
        |       COUNT(*) AS n_events,
        |       round(CAST(COUNT(*) AS DOUBLE)
        |             / CAST(COUNT(DISTINCT user_id) AS DOUBLE), 4)
        |         AS events_per_user
        |FROM events GROUP BY 1""".stripMargin),

    // ───── event-type transition matrix — P(next type | type) per
    // user-ordered event stream, the Markov view funnels summarize.
    // One window per user partition (lead over (ts, event_id) — the
    // id tiebreak makes simultaneous events deterministic), one
    // count shuffle bounded by |types|²; probability as integer ppm
    // via floor division (exact cross-engine; a double ratio is one
    // division and would also match, but ppm keeps the matrix
    // directly comparable/sortable as integers).
    "ev_transition_matrix" -> QueryDef.sql(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val pairs = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            lead(col("event_type"), 1).over(w).as("next_type"))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type"), col("next_type"))
          .agg(count(lit(1)).as("n"))
        val totals = pairs.groupBy(col("event_type"))
          .agg(sum(col("n")).as("_tot"))
        pairs.join(totals.hint("shuffle_hash"), Seq("event_type"))
          .select(col("event_type"), col("next_type"), col("n"),
            expr("CAST((1000000 * n) DIV _tot AS BIGINT)").as("p_ppm"))
      },
      """WITH p AS (
        |  SELECT event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |c AS (
        |  SELECT event_type, next_type, COUNT(*) AS n
        |  FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT event_type, SUM(n) AS tot FROM c GROUP BY 1)
        |SELECT c.event_type, c.next_type, c.n,
        |       CAST((1000000 * c.n) // t.tot AS BIGINT) AS p_ppm
        |FROM c JOIN t USING (event_type)""".stripMargin),

    // ───── time-to-convert distribution — seconds from each
    // purchase back to the user's most recent preceding view/click
    // (the latency companion of ev_attribution's channel credit):
    // same single-window IGNORE-NULLS last_value shape, then exact
    // integer deltas feed count/median/p90/max. No self-join; the
    // event table shuffles once on user_id and the percentile runs
    // over |purchases| integers.
    "ev_time_to_convert" -> QueryDef.sql(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val isTouch = col("event_type").isin("click", "view")
        Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_type"),
            last(when(isTouch, col("ts")), ignoreNulls = true).over(w)
              .as("t_ts"))
          .filter(col("event_type") === "purchase" && col("t_ts").isNotNull)
          // exact integer MICROSECOND deltas — epoch-seconds would
          // truncate in Spark and stay fractional in DuckDB
          .select((unix_micros(col("ts")) - unix_micros(col("t_ts")))
            .as("usec"))
          .agg(count(lit(1)).as("n_converted"),
            expr("percentile(usec, 0.5)").as("p50_usec"),
            expr("percentile(usec, 0.9)").as("p90_usec"),
            max(col("usec")).as("max_usec"))
      },
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |        THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_ts
        |  FROM events)
        |SELECT COUNT(*) AS n_converted,
        |  quantile_cont(epoch_us(ts) - epoch_us(t_ts), 0.5) AS p50_usec,
        |  quantile_cont(epoch_us(ts) - epoch_us(t_ts), 0.9) AS p90_usec,
        |  CAST(MAX(epoch_us(ts) - epoch_us(t_ts)) AS BIGINT) AS max_usec
        |FROM e WHERE event_type = 'purchase' AND t_ts IS NOT NULL"""
        .stripMargin),

    // ───── item-to-item co-visitation recommender (the covisitation
    // matrix of every production recall stage, e.g. the OTTO/Kaggle
    // winning shape): items = props.k, co-occurrence = two items
    // touched by the same user, weight = user count. The quadratic
    // hazard is the HEAVY USER — a user with F items contributes
    // F²/2 pairs — so each user is first capped to their 32
    // strongest items via the bounded-heap topk_pairs aggregate
    // (ties item-asc, deterministic), putting a hard ceiling on
    // per-user fan-out before the self-join. Pair counts map-combine;
    // the final per-item top-5 neighbor list is topk_pairs again —
    // count-keyed, never a global or per-partition sort of the pair
    // table. Everything integer.
    "rec_covisit_topk" -> QueryDef.sql(
      (s, dir) => {
        graft.plans.GraftExtensions.register(s)
        val ui = Tables.events(s, dir)
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item"))
          .filter(col("item").isNotNull)
          .groupBy(col("user_id"), col("item"))
          .agg(count(lit(1)).as("n_i"))
        val capped = ui.groupBy(col("user_id"))
          .agg(expr("topk_pairs(n_i, item, 32)").as("_top"))
          .select(col("user_id"),
            explode(expr("transform(_top, p -> p.v)")).as("item"))
        val pairs = capped.as("a")
          .join(capped.as("b"), Seq("user_id"))
          .filter(col("a.item") < col("b.item"))
          .groupBy(col("a.item").as("i"), col("b.item").as("j"))
          .agg(count(lit(1)).as("c"))
        val sym = pairs.unionByName(
          pairs.select(col("j").as("i"), col("i").as("j"), col("c")))
        sym.groupBy(col("i").as("item"))
          .agg(expr("topk_pairs(c, j, 5)").as("_nb"))
          .select(col("item"),
            expr("array_join(transform(_nb, p -> concat(p.v, ':', p.k)), ',')")
              .as("top_neighbors"))
      },
      """WITH ui AS (
        |  SELECT user_id,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
        |    COUNT(*) AS n_i
        |  FROM events
        |  WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        |    IS NOT NULL
        |  GROUP BY 1, 2),
        |capped AS (
        |  SELECT user_id, item FROM (
        |    SELECT user_id, item,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY n_i DESC, item ASC) AS rn
        |    FROM ui) WHERE rn <= 32),
        |pr AS (
        |  SELECT a.item AS i, b.item AS j, COUNT(*) AS c
        |  FROM capped a
        |  JOIN capped b ON a.user_id = b.user_id AND a.item < b.item
        |  GROUP BY 1, 2),
        |sym AS (
        |  SELECT i, j, c FROM pr
        |  UNION ALL SELECT j, i, c FROM pr),
        |rk AS (
        |  SELECT i, j, c,
        |    row_number() OVER (PARTITION BY i ORDER BY c DESC, j ASC) AS rn
        |  FROM sym)
        |SELECT i AS item,
        |  string_agg(j || ':' || c, ',' ORDER BY c DESC, j ASC)
        |    AS top_neighbors
        |FROM rk WHERE rn <= 5 GROUP BY 1""".stripMargin),

    // ───── the STREAMING twin of ev_transition_matrix: transition
    // counts maintained incrementally across event-time-ordered
    // batches. Unlike the algebraic MVs, a transition pair straddles
    // ROWS — and at batch boundaries, BATCHES — so the state carries
    // the count matrix PLUS each user's last-event frontier in ONE
    // atomically-swapped frame (counts without the matching frontier
    // would double-count boundary pairs on restart). The feed splits
    // by ts terciles (append arrival); oracle = the one-shot batch
    // SQL, so every boundary stitch must be exact.
    "mv_stream_transitions" -> QueryDef.sql(
      (s, dir) => {
        import graft.streaming.DimensionStream
        val root = Tables.scratchDir("mv_tr", dir)
        Tables.deletePath(s, root)
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        val cuts = ev.agg(
          expr("percentile(CAST(unix_micros(ts) AS DOUBLE), 0.34)"),
          expr("percentile(CAST(unix_micros(ts) AS DOUBLE), 0.67)"))
          .head()
        val (c1, c2) = (cuts.getDouble(0), cuts.getDouble(1))
        val us = unix_micros(col("ts")).cast("double")
        // one partitioned write lands all three ts-tercile batches;
        // the null-ts filter preserves the old per-batch predicates'
        // semantics exactly (null matched none of the three batches)
        DimensionStream.writeFeedBatches(
          ev.filter(us.isNotNull).withColumn("_b",
            when(us <= c1, 0).when(us <= c2, 1).otherwise(2)),
          "_b", 3, s"$root/feed", 1700000000000L)
        val state = DimensionStream.transitionMergeAvailableNow(
          s, s"$root/feed", s"$root/state", queryName = "mv_stream_transitions")
        val cnt = state.filter(col("_kind") === "cnt")
          .select("event_type", "next_type", "n")
        val totals = cnt.groupBy(col("event_type")).agg(sum(col("n")).as("_tot"))
        cnt.join(totals.hint("shuffle_hash"), Seq("event_type"))
          .select(col("event_type"), col("next_type"), col("n"),
            expr("CAST((1000000 * n) DIV _tot AS BIGINT)").as("p_ppm"))
      },
      """WITH p AS (
        |  SELECT event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |c AS (
        |  SELECT event_type, next_type, COUNT(*) AS n
        |  FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT event_type, SUM(n) AS tot FROM c GROUP BY 1)
        |SELECT c.event_type, c.next_type, c.n,
        |       CAST((1000000 * c.n) // t.tot AS BIGINT) AS p_ppm
        |FROM c JOIN t USING (event_type)""".stripMargin),

    // ───── DAU/MAU28 stickiness — the engagement ratio dashboards
    // track. A windowed COUNT DISTINCT (28-day trailing users per
    // day) has no algebraic window form; the scalable shape is the
    // INTERVAL-DELTA coverage count (the X85 merge-rank recipe —
    // r12 confirmed the previous ×28 contribution-explode + global
    // re-distinct as a 9.9× 10× cliff: 28× the distinct layer
    // through one exchange, spilling): each active (user, day) marks
    // the user MAU-covered on days [d, d+27]; per user, runs ≤27
    // days apart merge into coverage intervals via one lag window
    // (adjacent/overlapping intervals must not double-count — gaps
    // > 27 start a new interval), each merged interval emits
    // boundary deltas (+1 at start, −1 at end+1), and MAU28 per day
    // is the running sum of per-day delta totals. O(user-days) rows
    // end-to-end: one distinct, one user-partitioned window, a
    // delta aggregate over ~2 rows per interval, and a running sum
    // over the bounded day domain — no explode, no second global
    // distinct, at any event volume.
    "ev_stickiness" -> QueryDef.sql(
      (s, dir) => {
        val ud = Tables.events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val wUser = Window.partitionBy(col("user_id")).orderBy(col("day"))
        val intervals = ud
          .withColumn("_new",
            when(datediff(col("day"),
              lag(col("day"), 1).over(wUser)) <= 27, 0).otherwise(1))
          .withColumn("_grp", sum(col("_new")).over(wUser))
          .groupBy(col("user_id"), col("_grp"))
          .agg(min(col("day")).as("_start"),
            date_add(max(col("day")), 28).as("_end1"))
        val deltas = intervals
          .select(explode(array(
            struct(col("_start").as("day"), lit(1L).as("_d")),
            struct(col("_end1").as("day"), lit(-1L).as("_d")))).as("_e"))
          .select(col("_e.day").as("day"), col("_e._d").as("_d"))
        val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
        // running sum needs a row at every day MAU is read — union
        // the (bounded) DAU day domain in at delta 0, then cumulate
        // over the tiny per-day frame in one ordered pass
        val mau = deltas
          .unionByName(dau.select(col("day"), lit(0L).as("_d")))
          .groupBy("day").agg(sum(col("_d")).as("_dsum"))
          .withColumn("mau28",
            sum(col("_dsum")).over(Window.orderBy(col("day"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("day"), col("mau28"))
        dau.join(mau.hint("shuffle_hash"), Seq("day"))
          .select(col("day"), col("dau"), col("mau28"),
            round(col("dau").cast("double") / col("mau28").cast("double"), 4)
              .as("stickiness"))
      },
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (
        |  SELECT DISTINCT user_id, day + CAST(x AS INTEGER) AS wday
        |  FROM ud, generate_series(0, 27) AS t(x)),
        |mau AS (SELECT wday, COUNT(*) AS mau28 FROM c GROUP BY 1),
        |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1)
        |SELECT d.day, d.dau, m.mau28,
        |       round(CAST(d.dau AS DOUBLE) / CAST(m.mau28 AS DOUBLE), 4)
        |         AS stickiness
        |FROM dau d JOIN mau m ON m.wday = d.day""".stripMargin),

    // ───── the DAU summary maintained INCREMENTALLY by the real
    // streaming engine (X63's foreachBatch MV loop): COUNT DISTINCT is
    // not algebraic — per-day (sum, count) state can't merge it — so
    // the streaming view keeps the (day, user_id) DISTINCT LAYER as
    // its state (events-per-user-day counts, exactly mergeable across
    // arrival batches) and the dashboard row is a stateless aggregate
    // OVER the state: dau = rows per day, n_events = Σ counts. State
    // size is bounded by active (day, user) combinations — the same
    // cardinality a big-engine incremental MV materializes for any
    // distinct-count view. Oracle = the batch ev_dau_summary SQL,
    // so the streaming path must reproduce the one-shot answer.
    "mv_stream_dau" -> QueryDef.sql(
      (s, dir) => {
        import graft.streaming.DimensionStream
        val root = Tables.scratchDir("mv_dau", dir)
        Tables.deletePath(s, root)
        val ev = Tables.events(s, dir)
          .select(col("event_id"), to_date(col("ts")).as("day"),
            col("user_id"), col("value"))
        DimensionStream.writeFeedBatches(
          ev.withColumn("_b", (col("event_id") % 3).cast("int")),
          "_b", 3, s"$root/feed", 1700000000000L)
        val state = DimensionStream.aggMergeAvailableNow(
          s, s"$root/feed", s"$root/state",
          Seq("day", "user_id"), "value", queryName = "mv_stream_dau")
        state.groupBy(col("day"))
          .agg(
            count(lit(1)).as("dau"),
            sum(col("_cnt")).as("n_events"),
            round(sum(col("_cnt")).cast("double") /
              count(lit(1)).cast("double"), 4).as("events_per_user"))
      },
      """SELECT CAST(ts AS DATE) AS day,
        |       COUNT(DISTINCT user_id) AS dau,
        |       COUNT(*) AS n_events,
        |       round(CAST(COUNT(*) AS DOUBLE)
        |             / CAST(COUNT(DISTINCT user_id) AS DOUBLE), 4)
        |         AS events_per_user
        |FROM events GROUP BY 1""".stripMargin),

    // ───── the SKETCH-STATE twin of mv_stream_dau: per-day uniques
    // maintained incrementally with mergeable HLL sketch state
    // (Sketches.hllSketchState through the same foreachBatch MV loop,
    // batchId replay guard included). Where the exact distinct LAYER
    // carries one state row per (day, user), the sketch carries
    // O(2^lgK) bytes per DAY regardless of user cardinality — the
    // state shape that still fits when the grain is (day, url) over a
    // 100 TB crawl. Sketch estimates aren't oracle-reproducible, so
    // the output follows a13's gate pattern: EXACT counts (one-shot
    // batch aggregate) plus a boolean the streamed estimate must
    // satisfy (±5% at lgK=12 ≈ 3σ) — a drifted estimate breaks the
    // row hash.
    "mv_hll_uniques" -> QueryDef.sql(
      (s, dir) => {
        import graft.streaming.DimensionStream
        val root = Tables.scratchDir("mv_hll", dir)
        Tables.deletePath(s, root)
        val ev = Tables.events(s, dir)
          .select(col("event_id"), to_date(col("ts")).as("day"), col("user_id"))
        DimensionStream.writeFeedBatches(
          ev.withColumn("_b", (col("event_id") % 3).cast("int")),
          "_b", 3, s"$root/feed", 1700000000000L)
        val state = DimensionStream.sketchMergeAvailableNow(
          s, s"$root/feed", s"$root/state",
          Seq("day"), "user_id", queryName = "mv_hll_uniques")
        val est = graft.operators.Sketches
          .finalizeSketchState(state, "_est")
        val exact = ev.groupBy(col("day"))
          .agg(countDistinct(col("user_id")).as("n_exact"))
        exact.join(broadcast(est), Seq("day"))
          .select(col("day"), col("n_exact"),
            (abs(col("_est") - col("n_exact")).cast("double") /
              col("n_exact").cast("double") <= 0.05).as("hll_within_tol"))
      },
      """SELECT CAST(ts AS DATE) AS day,
        |       COUNT(DISTINCT user_id) AS n_exact,
        |       TRUE AS hll_within_tol
        |FROM events GROUP BY 1""".stripMargin),

    // ───── cohort retention matrix — users cohorted by first-active
    // day, each later active day counted at its day offset (the
    // product-analytics staple next to ev_funnel). SINGLE-SCAN shape:
    // the per-user cohort day is a whole-partition window MIN over the
    // distinct (user, day) frame — no self-join, no second scan of
    // events (the r8 join-back form read events twice; at 100 TB the
    // second scan costs more than every shuffle here). Window
    // partitions are bounded by #days-per-user, so no skew risk.
    "ev_retention_cohorts" -> QueryDef.sql(
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("d"))
          .distinct()
        val w = Window.partitionBy(col("user_id"))
        ev.withColumn("cohort_day", min(col("d")).over(w))
          .withColumn("day_offset", datediff(col("d"), col("cohort_day")))
          .groupBy(col("cohort_day"), col("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_active"))
      },
      """WITH a AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (
        |  SELECT user_id, MIN(d) AS cohort_day FROM a GROUP BY 1)
        |SELECT f.cohort_day,
        |       CAST(date_diff('day', f.cohort_day, a.d) AS INTEGER) AS day_offset,
        |       COUNT(DISTINCT a.user_id) AS n_active
        |FROM a JOIN f ON a.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin),

    // ───── native session_window aggregation — Spark's built-in
    // gap-session operator (the declarative form of the
    // flatMapGroupsWithState sessionization): sessions close when the
    // next event is ≥ gap after the last; window.end = last event +
    // gap. NOTE the boundary differs from the gaps-and-islands twin
    // by design: islands keeps an event at EXACTLY prev+gap in the
    // same session (strict >), session_window starts a new one (the
    // window interval is half-open) — the oracle encodes >=.
    "ev_session_window_agg" -> QueryDef.sql(
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(
            count(lit(1)).as("n_events"),
            exactSum(col("value"), scale = 6).as("total_value"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n_events"), col("total_value")),
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events),
        |l AS (
        |  SELECT user_id, event_id, ts, value,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM e),
        |f AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN prev_ts IS NULL OR ts >= prev_ts + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS ns,
        |         event_id
        |  FROM l),
        |g AS (
        |  SELECT user_id, ts, value,
        |         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f)
        |SELECT user_id,
        |       min(ts) AS session_start,
        |       max(ts) + INTERVAL 30 MINUTE AS session_end,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
        |FROM g GROUP BY user_id, sid""".stripMargin),

    // ───── session CONCURRENCY census — for every 30-min-gap session,
    // how many other sessions overlapped it in time (the load/abuse
    // signal session aggregation alone can't see). NO pair join:
    // overlaps(a) = #(starts < a.end) − #(ends ≤ a.start) − own(a),
    // both counts from one merged (ts, kind) event stream via the
    // distributed merge-rank (deterministic time-bucket partitions +
    // in-bucket running sums + O(#buckets) offset frame) — linear at
    // ANY concurrency, where the pair-materializing formulation is
    // concurrency-quadratic (measured: 30× user-population sweep
    // timed out pair-based, runs in seconds count-based). Kind order
    // at equal ts encodes the strict boundary semantics exactly. The
    // oracle is the NAIVE theta self-join over the same session set.
    "ev_session_overlap" -> QueryDef.sql(
      (s, dir) => {
        import graft.operators.IntervalOverlap
        val sess = Tables.events(s, dir)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"))
          .withColumn("sid", concat_ws(":",
            col("user_id"), unix_micros(col("session_start"))))
        IntervalOverlap.concurrencyCensus(
            sess, "sid", "session_start", "session_end", bucketSeconds = 3600)
          .select(col("user_id"), col("session_start"), col("n_concurrent"))
      },
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |l AS (
        |  SELECT user_id, event_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM e),
        |f AS (
        |  SELECT user_id, ts,
        |         CASE WHEN prev_ts IS NULL OR ts >= prev_ts + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS ns,
        |         event_id
        |  FROM l),
        |g AS (
        |  SELECT user_id, ts,
        |         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f),
        |sess AS (
        |  SELECT user_id,
        |         min(ts) AS session_start,
        |         max(ts) + INTERVAL 30 MINUTE AS session_end
        |  FROM g GROUP BY user_id, sid),
        |s2 AS (
        |  SELECT user_id, session_start, session_end,
        |         concat(CAST(user_id AS VARCHAR), ':',
        |                CAST(epoch_us(session_start) AS VARCHAR)) AS sid2
        |  FROM sess)
        |SELECT a.user_id, a.session_start, COUNT(b.sid2) AS n_concurrent
        |FROM s2 a LEFT JOIN s2 b
        |  ON b.sid2 <> a.sid2
        | AND a.session_start < b.session_end
        | AND b.session_start < a.session_end
        |GROUP BY 1, 2""".stripMargin),

    // ───── tumbling 1h window aggregation (streaming twin: windowedAgg)
    "ev_window_agg" -> QueryDef.sql(
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            exactSum(col("value"), scale = 6).as("total_value"))
          .select(
            col("window.start").as("window_start"),
            col("window.end").as("window_end"),
            col("event_type"), col("n_events"), col("total_value")),
      """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
        |       time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS window_end,
        |       event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2, 3""".stripMargin),

    // ───── the SAME window aggregate through the real streaming
    // engine (readStream → Complete-mode agg → AvailableNow → memory
    // sink): the oracle is identical to ev_window_agg's, so the gate
    // verifies the streaming code path end-to-end, not just its batch
    // twin. Exact decimal sum ⇒ micro-batch order can't show.
    "ev_stream_window_agg" -> QueryDef.sql(
      (s, dir) =>
        graft.streaming.EventStream.windowedAggAvailableNow(
          s, s"$dir/events.parquet"),
      """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
        |       time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS window_end,
        |       event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2, 3""".stripMargin),

    // ───── streaming exact dedup through the real engine
    // (dropDuplicatesWithinWatermark → Append → AvailableNow): the
    // emitted KEY set equals batch DISTINCT regardless of which
    // physical row of a key arrived first, so the oracle verifies the
    // watermark-bounded dedup state machine end-to-end.
    "ev_stream_dedup" -> QueryDef.sql(
      (s, dir) =>
        graft.streaming.EventStream.dedupKeysAvailableNow(
          s, s"$dir/events.parquet", Seq("user_id", "event_type")),
      "SELECT DISTINCT user_id, event_type FROM events"),

    // ───── stream-static broadcast join through the real streaming
    // engine (readStream events ⋈ broadcast static customer dim →
    // Complete-mode segment aggregate → AvailableNow → memory sink).
    // Stream-static equi-joins are stateless; the dim hash table is
    // shared across micro-batches. Exact decimal sum ⇒ arrival order
    // can't show, so the batch oracle verifies the path end-to-end.
    "ev_stream_enrich" -> QueryDef.sql(
      (s, dir) =>
        graft.streaming.EventStream.enrichedSegmentAggAvailableNow(s, dir),
      """SELECT c.c_mktsegment AS mktsegment,
        |       e.event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(e.value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2""".stripMargin),

    // ───── watermarked stream-stream interval join through the real
    // engine (two file streams ⋈ on user + 30-min purchase window,
    // Append → AvailableNow → memory). Inner joins emit per match and
    // the set is order-independent, so the batch interval-join oracle
    // verifies the stateful two-stream path end-to-end.
    "ev_stream_interval_join" -> QueryDef.sql(
      (s, dir) =>
        graft.streaming.EventStream.clickPurchaseJoinAvailableNow(
          s, s"$dir/events.parquet"),
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |         CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |c AS (SELECT user_id, event_id AS click_id, ts AS c_ts
        |      FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user_id, event_id AS purchase_id,
        |             ts AS p_ts, value AS p_value
        |      FROM e WHERE event_type = 'purchase')
        |SELECT c.user_id, c.click_id, c.c_ts,
        |       p.purchase_id, p.p_ts, p.p_value
        |FROM c JOIN p ON c.user_id = p.p_user_id
        | AND p.p_ts >= c.c_ts - INTERVAL 30 MINUTE
        | AND p.p_ts <= c.c_ts""".stripMargin),

    // ───── stream-stream LEFT OUTER interval join: unmatched clicks
    // emit nulls only after the watermark passes their join window —
    // on a bounded replay that means NEVER, unless a watermark
    // heartbeat (synthetic far-future event per side, impossible
    // user id, excluded from output by construction) pushes the
    // final watermark past the tail. The oracle is the plain batch
    // LEFT JOIN: equality proves both the outer-state semantics and
    // the heartbeat pattern end-to-end.
    "ev_stream_outer_join" -> QueryDef.sql(
      (s, dir) =>
        graft.streaming.EventStream.clickPurchaseLeftJoinAvailableNow(
          s, s"$dir/events.parquet"),
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |         CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |c AS (SELECT user_id, event_id AS click_id, ts AS c_ts
        |      FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user_id, event_id AS purchase_id,
        |             ts AS p_ts, value AS p_value
        |      FROM e WHERE event_type = 'purchase')
        |SELECT c.user_id, c.click_id, c.c_ts,
        |       p.purchase_id, p.p_ts, p.p_value
        |FROM c LEFT JOIN p ON c.user_id = p.p_user_id
        | AND p.p_ts >= c.c_ts - INTERVAL 30 MINUTE
        | AND p.p_ts <= c.c_ts""".stripMargin),

    // ───── stream-stream FULL OUTER interval join: both sides' outer
    // state flushed by the watermark heartbeat (EventStream scaladoc);
    // oracle = batch FULL JOIN, user_id coalesced across sides
    "ev_stream_full_outer" -> QueryDef.sql(
      (s, dir) =>
        graft.streaming.EventStream.clickPurchaseFullJoinAvailableNow(
          s, s"$dir/events.parquet"),
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |         CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |c AS (SELECT user_id, event_id AS click_id, ts AS c_ts
        |      FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user_id, event_id AS purchase_id,
        |             ts AS p_ts, value AS p_value
        |      FROM e WHERE event_type = 'purchase')
        |SELECT COALESCE(c.user_id, p.p_user_id) AS user_id,
        |       c.click_id, c.c_ts,
        |       p.purchase_id, p.p_ts, p.p_value
        |FROM c FULL JOIN p ON c.user_id = p.p_user_id
        | AND p.p_ts >= c.c_ts - INTERVAL 30 MINUTE
        | AND p.p_ts <= c.c_ts""".stripMargin),

    // ───── as-of join: each click attached to the user's latest
    // at-or-before purchase (DuckDB verifies with its native ASOF
    // JOIN — our composed union-sort-window must match it exactly)
    "ev_asof_join" -> QueryDef.sql(
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"),
            col("event_id").as("p_event_id"))
        // dedupe right to one row per (key, ts) so ties are impossible
        val w = Window.partitionBy(col("user_id"), col("p_ts"))
          .orderBy(col("p_event_id").desc)
        val dedupedPurch = purchases
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
        AsOfJoin.asofJoin(clicks, dedupedPurch, Seq("user_id"),
          "ts", "p_ts", Seq("p_ts", "p_value"))
      },
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |clicks AS (
        |  SELECT user_id, event_id, ts FROM e WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, ts AS p_ts, value AS p_value, event_id AS p_event_id
        |  FROM e WHERE event_type = 'purchase'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts
        |                             ORDER BY event_id DESC) = 1)
        |SELECT c.user_id, c.event_id, c.ts, p.p_ts, p.p_value
        |FROM clicks c
        |ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts >= p.p_ts""".stripMargin),

    // ───── last-touch revenue attribution — every purchase credited
    // to the user's most recent preceding click/view within 7 days,
    // else 'organic' (the marketing-analytics counterpart of the
    // as-of join). ONE window pass over per-user (ts, event_id)
    // order: two IGNORE-NULLS last_value columns over the
    // rows-to-1-preceding frame pick the same touch row (their CASEs
    // null out the same rows), so no self-join, no per-purchase
    // probe — the event table shuffles exactly once on user_id.
    // Cents by the decimal recipe; counts and sums integer.
    "ev_attribution" -> QueryDef.sql(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val isTouch = col("event_type").isin("click", "view")
        val ev = Tables.events(s, dir).select(
          col("user_id"), col("ts"), col("event_id"), col("event_type"),
          col("value"),
          last(when(isTouch, col("ts")), ignoreNulls = true).over(w)
            .as("t_ts"),
          last(when(isTouch, col("event_type")), ignoreNulls = true).over(w)
            .as("t_type"))
        ev.filter(col("event_type") === "purchase")
          .select(
            when(col("t_ts").isNotNull &&
              col("t_ts") >= col("ts") - expr("INTERVAL 7 DAYS"),
              col("t_type")).otherwise("organic").as("channel"),
            (col("value").cast("decimal(18,2)") * 100)
              .cast("long").as("cents"))
          .groupBy(col("channel"))
          .agg(count(lit(1)).as("n_purchases"),
            sum(col("cents")).as("revenue_cents"))
      },
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    event_type, value,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |        THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
        |      OVER w AS t_ts,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |        THEN event_type END IGNORE NULLS)
        |      OVER w AS t_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT
        |  CASE WHEN t_ts IS NOT NULL AND t_ts >= ts - INTERVAL 7 DAY
        |       THEN t_type ELSE 'organic' END AS channel,
        |  COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS revenue_cents
        |FROM e WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin),

    // ───── as-of join with a TOLERANCE window (pandas merge_asof
    // tolerance): same backward match as ev_asof_join, but a
    // purchase more than 36 hours older than the click is no match —
    // both attached columns null out TOGETHER (the match is a row,
    // not per-column). The staleness test is a scan-side projection
    // over the same one-shuffle union-sort-window plan; tolerance is
    // free at any scale.
    "j17_asof_tolerance" -> QueryDef.sql(
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"),
            col("value").as("p_value"), col("event_id").as("p_event_id"))
        val w = Window.partitionBy(col("user_id"), col("p_ts"))
          .orderBy(col("p_event_id").desc)
        val deduped = purchases
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
        AsOfJoin.asofJoinTolerance(clicks, deduped, Seq("user_id"),
          "ts", "p_ts", Seq("p_ts", "p_value"),
          expr("INTERVAL 36 HOURS"))
      },
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value,
        |    CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |clicks AS (
        |  SELECT user_id, event_id, ts FROM e WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, ts AS p_ts, value AS p_value, event_id AS p_event_id
        |  FROM e WHERE event_type = 'purchase'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts
        |                             ORDER BY event_id DESC) = 1)
        |SELECT c.user_id, c.event_id, c.ts,
        |  CASE WHEN p.p_ts >= c.ts - INTERVAL 36 HOUR
        |       THEN p.p_ts END AS p_ts,
        |  CASE WHEN p.p_ts >= c.ts - INTERVAL 36 HOUR
        |       THEN p.p_value END AS p_value
        |FROM clicks c
        |ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts >= p.p_ts""".stripMargin),

    // ───── stateful running per-user counts through the real engine
    // (mapGroupsWithState, Update mode, AvailableNow): the memory sink
    // holds every per-batch update; max per key recovers the final
    // running values exactly (count monotone, ts a running max), so
    // the plain batch aggregate oracle verifies the custom-state
    // Update-mode surface end-to-end.
    "ev_stream_user_counts" -> QueryDef.sql(
      (s, dir) =>
        graft.streaming.EventStream.userCountsAvailableNow(
          s, s"$dir/events.parquet"),
      """SELECT user_id, COUNT(*) AS n_events,
        |       max(CAST(ts AS TIMESTAMP)) AS last_ts
        |FROM events GROUP BY 1""".stripMargin),

    // ───── the SAME sessionization through the real streaming engine
    // (flatMapGroupsWithState + EventTimeTimeout, heartbeat-flushed):
    // the oracle is identical to ev_sessions', so the gate verifies
    // the custom-state code path end-to-end, not just its batch twin.
    "ev_stream_sessions" -> QueryDef.sql(
      (s, dir) =>
        graft.streaming.EventStream.sessionsAvailableNow(
          s, s"$dir/events.parquet"),
      sessionsOracleSql),

    // ───── 30-min-gap sessionization, batch form (streaming twin:
    // sessionize). Gaps-and-islands: lag → new-session flag → running
    // sum as session index → per-session aggregate.
    "ev_sessions" -> QueryDef.sql(
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val flagged = ev
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1)
              .otherwise(0))
          .withColumn("sid", sum(col("new_session")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        flagged.groupBy(col("user_id"), col("sid"))
          .agg(
            min(col("ts")).as("session_start"),
            max(col("ts")).as("session_end"),
            count(lit(1)).as("n_events"))
          .select("user_id", "session_start", "session_end", "n_events")
      },
      sessionsOracleSql),

    // ───── STREAMING curation gate (ingest-time quality filtering):
    // readStream(documents) → Gopher rules → pass filter → Append →
    // memory sink, AvailableNow. Stateless, so the emitted set equals
    // the batch-filtered set regardless of micro-batch boundaries —
    // the oracle is ta_gopher_rules' metric derivation WHERE pass.
    "corpus_stream_gate" -> QueryDef.sql(
      (s, dir) =>
        graft.streaming.CorpusStream.gopherGateAvailableNow(
          s, s"$dir/documents.parquet", minWords = 30),
      """WITH base AS (
        |  SELECT doc_id, lang, text,
        |    string_split_regex(trim(text), '\s+') AS words,
        |    len(string_split_regex(trim(text), '\s+')) AS wc
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang, wc AS word_count,
        |    round(CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |          / greatest(wc, 1), 4) AS mean_word_len,
        |    round(CAST(len(regexp_extract_all(text, '#'))
        |             + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
        |          / greatest(wc, 1), 4) AS symbol_ratio,
        |    round(CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |          / greatest(wc, 1), 4) AS alpha_word_ratio,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|for)\b')) AS stopword_hits
        |  FROM base)
        |SELECT doc_id, lang, word_count, mean_word_len, symbol_ratio,
        |       alpha_word_ratio, stopword_hits
        |FROM m
        |WHERE word_count BETWEEN 30 AND 100000
        |  AND mean_word_len BETWEEN 3.0 AND 10.0
        |  AND symbol_ratio <= 0.1
        |  AND alpha_word_ratio >= 0.8
        |  AND stopword_hits >= 2""".stripMargin)
  )

  /** Shared by the batch (`ev_sessions`) and streaming
    * (`ev_stream_sessions`) twins — the result contract is identical.
    */
  private lazy val sessionsOracleSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |l AS (
      |  SELECT user_id, event_id, ts,
      |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM e),
      |f AS (
      |  SELECT user_id, event_id, ts,
      |         CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
      |              THEN 1 ELSE 0 END AS ns
      |  FROM l),
      |g AS (
      |  SELECT user_id, ts,
      |         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                       ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM f)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      |       COUNT(*) AS n_events
      |FROM g GROUP BY user_id, sid""".stripMargin
}
