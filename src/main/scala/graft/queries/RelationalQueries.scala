package graft.queries

import graft.QueryDef
import graft.functions.Functions._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operator coverage (SURVEY.md §2.2-§2.8) mapped onto
  * the TPC-H-ish testdata. Each query is the Spark-first rendition of
  * a reference operator; the oracle twin is ANSI SQL for DuckDB.
  *
  * Determinism discipline (SURVEY.md §7.5):
  *  - double aggregates go through exact decimal sums (`exactSum`) so
  *    Spark's parallel aggregation and DuckDB's serial one produce
  *    bit-identical doubles;
  *  - every window/top-k has a unique-key tiebreaker;
  *  - counts are cast to BIGINT on the oracle side (DuckDB SUM(int)
  *    is HUGEINT);
  *  - DuckDB regexp_replace takes the 'g' flag to match Spark's
  *    replace-all semantics;
  *  - no double→int casts (Spark truncates, DuckDB rounds).
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** P2 validity predicate shared by the split queries — the trip
    * validity CASE WHEN of `nyc_raw_to_validated_etl.py:67-74` mapped
    * onto lineitem columns.
    */
  private def isValidCol = // multi-branch CASE WHEN (P2)
    when(col("l_quantity") <= 0, lit(false))
      .when(col("l_extendedprice") < 0, lit(false))
      .when(col("l_discount") > 0.05, lit(false))
      .when(col("l_shipdate").isNull, lit(false))
      .otherwise(lit(true))

  private val isValidSql =
    """CASE WHEN l_quantity <= 0 THEN FALSE
      |     WHEN l_extendedprice < 0 THEN FALSE
      |     WHEN l_discount > 0.05 THEN FALSE
      |     WHEN l_shipdate IS NULL THEN FALSE
      |     ELSE TRUE END""".stripMargin

  /** Skew-pair fixture: 40% of lineitem lands on hot_key 0, the rest
    * spreads over 1000 keys; line_id is the unique per-row tiebreak.
    */
  private def skewRankInput(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      when(pmod(col("l_orderkey"), lit(10)) < 4, 0L)
        .otherwise(pmod(col("l_orderkey"), lit(1000)) + 1).as("hot_key"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("line_id"))

  private val skewRankOracle =
    """WITH f AS (
      |  SELECT CASE WHEN l_orderkey % 10 < 4 THEN 0
      |              ELSE l_orderkey % 1000 + 1 END AS hot_key,
      |         l_orderkey * 10 + l_linenumber AS line_id
      |  FROM lineitem)
      |SELECT hot_key, line_id,
      |       row_number() OVER (
      |         PARTITION BY hot_key
      |         ORDER BY md5('skew' || CAST(line_id AS VARCHAR)), line_id) AS pos
      |FROM f""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // ───── flagship: daily revenue (A3; ref daily_vendor_revenue.sql:29-53)
    // scan → filter → group-agg; map-side partial aggregation means the
    // shuffle carries only (suppkey, day) partials — at 100 TB the
    // shuffle volume is bounded by group cardinality, not input rows.
    "daily_revenue" -> QueryDef.sql(
      (s, dir) =>
        // no spreadScan here (r16): the pre-agg work is one cheap
        // filter+project, and at sf0.1 the partial aggregate barely
        // compresses (~one (suppkey, day) group per row — 12.4 MB of
        // partials from a 10.3 MB projected scan), so the round-robin
        // exchange cost a full extra shuffle of the input to
        // parallelize a stage the scan tasks absorb for free
        t(s, dir, "lineitem")
          .filter(col("l_extendedprice") > 0)
          .select("l_suppkey", "l_shipdate", "l_extendedprice")
          .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("ship_date"))
          .agg(
            exactSum(col("l_extendedprice")).as("total_revenue"),
            count(lit(1)).as("trip_count")),
      """SELECT l_suppkey,
        |       CAST(l_shipdate AS DATE) AS ship_date,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS total_revenue,
        |       COUNT(*) AS trip_count
        |FROM lineitem
        |WHERE l_extendedprice > 0
        |GROUP BY 1, 2""".stripMargin),

    // ───── P1: cast-projection schema enforcement
    // (ref nyc_raw_to_validated_etl.py:43-62)
    "p01_cast_projection" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "lineitem").select(
          col("l_orderkey").cast("string").as("orderkey_str"),
          col("l_linenumber").cast("long").as("linenumber_long"),
          col("l_quantity").cast("decimal(12,2)").cast("string").as("quantity_str"),
          to_date(col("l_shipdate")).as("ship_date"),
          col("l_returnflag").as("returnflag")),
      """SELECT CAST(l_orderkey AS VARCHAR) AS orderkey_str,
        |       CAST(l_linenumber AS BIGINT) AS linenumber_long,
        |       CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR) AS quantity_str,
        |       CAST(l_shipdate AS DATE) AS ship_date,
        |       l_returnflag AS returnflag
        |FROM lineitem""".stripMargin),

    // ───── P2: multi-branch CASE WHEN validity flag
    // (ref nyc_raw_to_validated_etl.py:67-74)
    "p02_validity_flag" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"), isValidCol.as("is_valid")),
      s"""SELECT l_orderkey, l_linenumber, $isValidSql AS is_valid
         |FROM lineitem""".stripMargin),

    // ───── P3: filter split, good branch (ref :76)
    "p03_valid_rows" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "lineitem")
          .withColumn("is_valid", isValidCol)
          .filter(col("is_valid"))
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount"),
      s"""SELECT l_orderkey, l_linenumber, l_quantity, l_discount
         |FROM lineitem WHERE $isValidSql""".stripMargin),

    // ───── P3: negated filter, quarantine branch (ref :77)
    "p04_quarantine_rows" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "lineitem")
          .withColumn("is_valid", isValidCol)
          .filter(!col("is_valid"))
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount"),
      s"""SELECT l_orderkey, l_linenumber, l_quantity, l_discount
         |FROM lineitem WHERE NOT ($isValidSql)""".stripMargin),

    // ───── A7/P5: conditional violation counters, single audit row
    // (ref qc_positive_amounts.sql:27-29, test_no_null_vendor.sql:21-23)
    "a07_violation_counts" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "lineitem").agg(
          count(lit(1)).as("total_rows"),
          sum(when(col("l_quantity") <= 0, 1).otherwise(0)).cast("long").as("nonpositive_qty"),
          sum(when(col("l_extendedprice") < 0, 1).otherwise(0)).cast("long").as("negative_price"),
          sum(when(col("l_shipdate").isNull, 1).otherwise(0)).cast("long").as("null_shipdate")),
      """SELECT COUNT(*) AS total_rows,
        |  CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_qty,
        |  CAST(SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_price,
        |  CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_shipdate
        |FROM lineitem""".stripMargin),

    // ───── P18: text normalization (ref fuzzy_match.py:15-21)
    "p18_normalize_text" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"), normalizeText(col("text")).as("norm_text")),
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin),

    // ───── P14: SCD2 record hash (ref scd2_delta_vendors.py:36-56)
    "p14_record_hash" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "supplier").select(
          col("s_suppkey"),
          recordHash(Seq(
            col("s_name"), col("s_nationkey"),
            col("s_acctbal").cast("decimal(18,2)"))).as("record_hash")),
      """SELECT s_suppkey,
        |  sha256(concat_ws('||',
        |    coalesce(CAST(s_name AS VARCHAR), ''),
        |    coalesce(CAST(s_nationkey AS VARCHAR), ''),
        |    coalesce(CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR), ''))) AS record_hash
        |FROM supplier""".stripMargin),

    // ───── P15: md5 change hash (ref 02_scd_procedures.sql:36-41)
    "p15_md5_hash" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "nation").select(
          col("n_nationkey"),
          md5Hash(Seq(col("n_name"), col("n_regionkey"))).as("change_hash")),
      """SELECT n_nationkey,
        |  md5(concat_ws('|', coalesce(CAST(n_name AS VARCHAR), ''),
        |                     coalesce(CAST(n_regionkey AS VARCHAR), ''))) AS change_hash
        |FROM nation""".stripMargin),

    // ───── P22: sequential surrogate IDs (ref lifecycle_management.py:46-52)
    // Single-partition window is intentional: this runs on small master
    // dims (the reference does it in pandas on the driver).
    "p22_surrogate_ids" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))
          .withColumn("master_id",
            surrogateId(row_number().over(Window.orderBy(col("s_name"), col("s_suppkey"))))),
      """SELECT s_suppkey, s_name,
        |  printf('MV-%05d', row_number() OVER (ORDER BY s_name, s_suppkey)) AS master_id
        |FROM supplier""".stripMargin),

    // ───── J1/J2/J3/P10: dimension enrichment, two broadcast left joins
    // (ref nyc_validated_to_curated_etl.py:115-139). nation/region are
    // broadcast explicitly — at 100 TB fact scale this stays a map-side
    // join with zero shuffle of the fact table.
    "j01_enrich_dims" -> QueryDef.sql(
      (s, dir) => {
        val customer = t(s, dir, "customer")
        val nation = t(s, dir, "nation")
        val region = t(s, dir, "region")
        customer
          .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"), "left")
          .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"), "left")
          .select(
            col("c_custkey"), col("c_name"),
            col("n_name").as("nation_name"),
            col("r_name").as("region_name"))
      },
      """SELECT c_custkey, c_name, n_name AS nation_name, r_name AS region_name
        |FROM customer
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey""".stripMargin),

    // ───── J4: referential-integrity semi join (ref glue_mdm.py:33-37) —
    // left_semi is the idiomatic Spark EXISTS: no row multiplication,
    // right side reduced to its join key before the shuffle.
    "j04_semi_exists" -> QueryDef.sql(
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val bigItems = t(s, dir, "lineitem")
          .filter(col("l_quantity") >= 49)
          .select(col("l_orderkey").as("o_orderkey"))
        orders.join(bigItems, Seq("o_orderkey"), "left_semi")
          .select("o_orderkey", "o_custkey", "o_totalprice")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)""".stripMargin),

    // ───── J5: anti-join orphan quarantine (ref glue_mdm.py:40-44)
    "j05_anti_orphans" -> QueryDef.sql(
      (s, dir) => {
        val customer = t(s, dir, "customer")
        val bigOrders = t(s, dir, "orders")
          .filter(col("o_totalprice") > 400000)
          .select(col("o_custkey").as("c_custkey"))
        customer.join(bigOrders, Seq("c_custkey"), "left_anti")
          .select("c_custkey", "c_name", "c_mktsegment")
      },
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin),

    // ───── unknown-member rollup (ref day16_zones.yml unknown_row:
    // location_id -1 "Fallback for unmapped zones"): unmatched fact
    // keys coalesce to the dimension's declared unknown member so
    // groupings see one explicit bucket, never null
    // The dim drops every 10th supplier so unmatched facts EXIST at
    // every SF — the fallback path is genuinely exercised, not
    // vacuously green.
    "j12_unknown_member" -> QueryDef.sql(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val supp = t(s, dir, "supplier").filter(col("s_suppkey") % 10 =!= 0)
        val enriched = graft.operators.Enrichment.enrichWithDim(
          li, supp, "l_suppkey", "s_suppkey", "supp_")
        graft.operators.Enrichment.withUnknownMember(enriched, "supp_s_name",
            Map("supp_s_name" -> "UNKNOWN", "supp_s_nationkey" -> -1L))
          .groupBy("supp_s_nationkey")
          .agg(count(lit(1)).as("n_items"))
      },
      """SELECT COALESCE(s.s_nationkey, -1) AS supp_s_nationkey,
        |       CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem l
        |LEFT JOIN (SELECT * FROM supplier WHERE s_suppkey % 10 <> 0) s
        |  ON l.l_suppkey = s.s_suppkey
        |GROUP BY 1""".stripMargin),

    // ───── J8: FK orphan-count audit (ref qc_vendor_fk.sql:26-30)
    "j08_fk_orphan_count" -> QueryDef.sql(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val supp = t(s, dir, "supplier").select(col("s_suppkey").as("l_suppkey"))
        li.join(broadcast(supp), Seq("l_suppkey"), "left_anti")
          .agg(count(lit(1)).as("orphan_count"))
      },
      """SELECT COUNT(*) AS orphan_count
        |FROM lineitem
        |WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)""".stripMargin),

    // ───── J11-style range join: event pairs within a 1-hour window
    // per user (ref 03_version_procedures.sql:125-170 ts-range join).
    // Equi key (user_id) keeps this a hash join with a range residual —
    // never a cartesian product.
    "j11_range_join_pairs" -> QueryDef.sql(
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val e1 = ev.select(col("user_id"), col("event_id").as("eid1"), col("ts").as("ts1"))
        val e2 = ev.select(col("user_id"), col("event_id").as("eid2"), col("ts").as("ts2"))
        e1.join(e2,
            e1("user_id") === e2("user_id") &&
            e2("ts2") > e1("ts1") &&
            e2("ts2") <= e1("ts1") + expr("INTERVAL 1 HOUR"))
          .groupBy(e1("user_id"))
          .agg(count(lit(1)).as("pair_count"))
      },
      """SELECT e1.user_id, COUNT(*) AS pair_count
        |FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events) e1
        |JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events) e2
        |  ON e1.user_id = e2.user_id
        |  AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR
        |GROUP BY e1.user_id""".stripMargin),

    // ───── J13 (scale extension): bucketed co-located join. Both
    // sides are repartitioned onto the bucket scheme and written as
    // bucketBy(orderkey)+sortBy(orderkey) managed tables (one file
    // per bucket), so the sort-merge join reads pre-partitioned,
    // pre-sorted buckets: ZERO shuffle Exchange below the join
    // (pinned in PlanContractsSpec). This is the
    // pay-the-shuffle-once-at-ingest pattern for 100-TB fact tables
    // that are joined on the same key every run; 8 buckets at test
    // scale stands in for cluster-core-count buckets.
    "j13_bucketed_join" -> QueryDef.sql(
      (s, dir) => {
        val buckets = 8
        // Index build is ONCE-PER-SOURCE (pay the shuffle at ingest,
        // never again): the bucketed twins are keyed by source dir and
        // reused on re-invocation, so the measured cost is the JOIN —
        // re-running the query does not re-ingest. Cross-session
        // staleness is handled inside writeBucketed (drop + orphan-dir
        // delete before write).
        val tag = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
        val (liT, ordT) = (s"graft_bkt_lineitem_$tag", s"graft_bkt_orders_$tag")
        if (!s.catalog.tableExists(liT))
          Tables.writeBucketed(
            t(s, dir, "lineitem")
              .select(col("l_orderkey"), col("l_extendedprice"))
              .repartition(buckets, col("l_orderkey")),
            liT, buckets, "l_orderkey", Seq("l_orderkey"))
        if (!s.catalog.tableExists(ordT))
          Tables.writeBucketed(
            t(s, dir, "orders")
              .select(col("o_orderkey"), col("o_orderpriority"))
              .repartition(buckets, col("o_orderkey")),
            ordT, buckets, "o_orderkey", Seq("o_orderkey"))
        val bli = s.table(liT)
        val bord = s.table(ordT)
        bli.hint("merge")
          .join(bord, bli("l_orderkey") === bord("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(
            exactSum(col("l_extendedprice")).as("revenue"),
            count(lit(1)).as("line_count"))
      },
      """SELECT o_orderpriority,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin),

    // ───── J14 (scale showcase): 6-table local-supplier volume join
    // (TPC-H Q5 shape on the testdata schema). The fact joins
    // supplier on its key with the "local" residual
    // (c_nationkey = s_nationkey), nation/region are explicit
    // broadcasts, and the region filter prunes nations BEFORE the
    // fact-side joins run — Catalyst pushes it through the broadcast.
    // Revenue is the rounded-product exact-decimal sum so parallel
    // and serial aggregation agree bit-for-bit.
    "j14_multi_join_volume" -> QueryDef.sql(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1997-01-01")
        val cust = t(s, dir, "customer")
        val supp = t(s, dir, "supplier")
        val nat = t(s, dir, "nation")
        val reg = t(s, dir, "region").filter(col("r_name") === "ASIA")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(supp, col("l_suppkey") === col("s_suppkey"))
          .join(cust,
            col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(
            exactSum(round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4), 4)
              .as("revenue"),
            count(lit(1)).as("line_count"))
      },
      """SELECT n_name,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(30,4))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS line_count
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
        |GROUP BY n_name""".stripMargin),

    // ───── A1: groupBy-count HAVING (ref verify_delta_vendors_job.py:57-62)
    "a01_having_dupes" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("order_count"))
          .filter(col("order_count") > 15),
      """SELECT o_custkey, COUNT(*) AS order_count
        |FROM orders GROUP BY 1 HAVING COUNT(*) > 15""".stripMargin),

    // ───── A2: global bounds scalar agg (ref nyc_validated_to_curated_etl.py:88-92)
    "a02_global_bounds" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "orders").agg(
          max(col("o_orderdate")).as("max_date"),
          min(col("o_orderdate")).as("min_date"),
          count(lit(1)).as("n_orders")),
      """SELECT max(o_orderdate) AS max_date, min(o_orderdate) AS min_date,
        |       COUNT(*) AS n_orders FROM orders""".stripMargin),

    // ───── A4: extended revenue metrics per vendor
    // (ref sql/docs/Transformation Documentation.md:59-70)
    "a04_extended_metrics" -> QueryDef.sql(
      (s, dir) => {
        // No scan spread (r16, measured): the broadcast probe + partial
        // agg run inside the 3 scan tasks. The spread alternative
        // round-robins the 16.7 MB projected fact to buy 32-way
        // parallelism downstream, but the partial aggregate compresses
        // 600k rows to tasks×1000 suppkey groups, so the exchange costs
        // more than the parallelism returns: min-of-2 1.51→1.41 s at 32
        // cpus, 1.31→1.23 s at 8 cpus, shuffle 16.7 MB → ~0.
        val li = t(s, dir, "lineitem").select(
          "l_orderkey", "l_suppkey", "l_extendedprice", "l_quantity",
          "l_shipdate")
        val orders = t(s, dir, "orders")
        li.join(orders, li("l_orderkey") === orders("o_orderkey"))
          .groupBy(col("l_suppkey"))
          .agg(
            count(lit(1)).as("n_items"),
            exactSum(col("l_extendedprice")).as("total_revenue"),
            exactSum(col("l_quantity")).as("total_qty"),
            (sum(col("l_extendedprice").cast("decimal(30,2)")).cast("double") / count(lit(1)))
              .as("avg_price"),
            sum(unix_timestamp(col("l_shipdate")) - unix_timestamp(col("o_orderdate")))
              .as("ship_delay_sec_total"))
      },
      """SELECT l_suppkey,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS total_revenue,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS total_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  CAST(SUM(date_diff('second', o_orderdate, l_shipdate)) AS BIGINT) AS ship_delay_sec_total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin),

    // ───── beyond-reference: exact interpolated percentiles (both
    // engines define quantiles as linear interpolation over the
    // sorted set, so exact equality is checkable)
    "a11_percentiles" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            expr("percentile(l_extendedprice, 0.5)").as("p50"),
            expr("percentile(l_extendedprice, 0.95)").as("p95"),
            min(col("l_extendedprice")).as("min_price"),
            max(col("l_extendedprice")).as("max_price")),
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS p50,
        |  quantile_cont(l_extendedprice, 0.95) AS p95,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY 1""".stripMargin),

    // ───── the SKETCH tier of a11: approx_percentile (Greenwald-
    // Khanna) is the single-pass mergeable quantile the 100 TB path
    // runs — a11's exact percentile materializes every group's values;
    // the GK sketch is O(1/err · log(err·n)) per group and combines
    // map-side like any agg. Sketch output isn't oracle-reproducible
    // (DuckDB's approx_quantile is t-digest), so the gate pattern
    // applies: the approx value's EXACT rank span (cnt_lt, cnt_le —
    // one broadcast of the per-group values back over the fact) must
    // sit inside GK's deterministic guarantee rank ∈ (p ± 1/acc)·n,
    // ±1 row for the floor/ceil boundary. A violated bound breaks the
    // row hash — and unlike HLL's probabilistic ±3σ gate, GK's bound
    // is DETERMINISTIC: zero flake risk by construction.
    "a17_approx_quantile_gate" -> QueryDef.sql(
      (s, dir) => {
        val acc = 1000 // rank error ≤ n/1000 — binding at every test SF
        val err = 1.0 / acc
        val li = t(s, dir, "lineitem")
        val appx = li.groupBy(col("l_returnflag"))
          .agg(expr(s"approx_percentile(l_extendedprice, array(0.5D, 0.95D), $acc)")
            .as("_ap"))
          .select(col("l_returnflag"),
            col("_ap").getItem(0).as("_v50"), col("_ap").getItem(1).as("_v95"))
        def gate(p: Double, lt: String, le: String): org.apache.spark.sql.Column =
          (col(le).cast("double") >= (lit(p - err) * col("n").cast("double")) - 1.0) &&
            (col(lt).cast("double") < (lit(p + err) * col("n").cast("double")) + 1.0)
        li.join(broadcast(appx), Seq("l_returnflag"))
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("l_extendedprice") < col("_v50"), 1L).otherwise(0L)).as("_lt50"),
            sum(when(col("l_extendedprice") <= col("_v50"), 1L).otherwise(0L)).as("_le50"),
            sum(when(col("l_extendedprice") < col("_v95"), 1L).otherwise(0L)).as("_lt95"),
            sum(when(col("l_extendedprice") <= col("_v95"), 1L).otherwise(0L)).as("_le95"))
          .select(col("l_returnflag"), col("n"),
            gate(0.5, "_lt50", "_le50").as("p50_within_bound"),
            gate(0.95, "_lt95", "_le95").as("p95_within_bound"))
      },
      """SELECT l_returnflag, COUNT(*) AS n,
        |       TRUE AS p50_within_bound, TRUE AS p95_within_bound
        |FROM lineitem GROUP BY 1""".stripMargin),

    // ───── A5: distinct (ref scd2_delta_vendors.py:135-140)
    "a05_distinct" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct(),
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"),

    // ───── A9: boolean-sum state pivot (ref lifecycle_management.py:256-268)
    "a09_status_pivot" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(
            sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).cast("long").as("n_open"),
            sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).cast("long").as("n_finished"),
            sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).cast("long").as("n_pending")),
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
        |FROM orders GROUP BY 1""".stripMargin),

    // ───── A10/P21: quality scorecard with gate (ref glue_mdm.py:56-95,
    // lambda/dq-governance-gate/lambda_function.py:54-63)
    "a10_quality_scorecard" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "lineitem")
          .agg(
            count(lit(1)).as("total_rows"),
            sum(when(isValidCol, 1).otherwise(0)).cast("long").as("valid_rows"))
          .withColumn("quality_pct",
            round(col("valid_rows").cast("double") / col("total_rows") * 100, 2))
          .withColumn("gate_pass", col("quality_pct") >= 50.0),
      s"""WITH c AS (
         |  SELECT COUNT(*) AS total_rows,
         |         CAST(SUM(CASE WHEN $isValidSql THEN 1 ELSE 0 END) AS BIGINT) AS valid_rows
         |  FROM lineitem)
         |SELECT total_rows, valid_rows,
         |       round(CAST(valid_rows AS DOUBLE) / total_rows * 100, 2) AS quality_pct,
         |       round(CAST(valid_rows AS DOUBLE) / total_rows * 100, 2) >= 50.0 AS gate_pass
         |FROM c""".stripMargin),

    // ───── W1: row_number dedupe / latest-per-key
    // (ref scd2_delta_vendors.py:77-85; deterministic tiebreak per
    // SURVEY.md §7.5.4)
    "w01_latest_per_key" -> QueryDef.sql(
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("o_custkey", "o_orderkey", "o_orderdate")
      },
      """SELECT o_custkey, o_orderkey, o_orderdate
        |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
        |             row_number() OVER (PARTITION BY o_custkey
        |                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |      FROM orders)
        |WHERE rn = 1""".stripMargin),

    // ───── P23: datetime-function battery — the calendar surface a
    // migrating SQL workload leans on (component extraction, date
    // arithmetic, truncation, week numbering), each mapped to its
    // exact DuckDB twin (dayofweek numbering differs by 1 and is
    // aligned explicitly; fractional months_between is deliberately
    // excluded — its day-fraction semantics are engine-specific).
    "p23_datetime_battery" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "orders").select(
          col("o_orderkey"),
          to_date(col("o_orderdate")).as("d"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          hour(col("o_orderdate")).as("hr"),
          dayofweek(col("o_orderdate")).as("dow"),
          weekofyear(col("o_orderdate")).as("iso_week"),
          quarter(col("o_orderdate")).as("q"),
          date_add(to_date(col("o_orderdate")), 7).as("plus7"),
          last_day(col("o_orderdate")).as("month_end"),
          trunc(col("o_orderdate"), "MM").as("month_start"),
          datediff(to_date(col("o_orderdate")), lit("2024-01-01").cast("date"))
            .as("days_since_2024")),
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS d,
        |  CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(day(o_orderdate) AS INTEGER) AS dom,
        |  CAST(hour(o_orderdate) AS INTEGER) AS hr,
        |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
        |  CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 7 DAY AS DATE) AS plus7,
        |  CAST(last_day(o_orderdate) AS DATE) AS month_end,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(date_diff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE))
        |       AS INTEGER) AS days_since_2024
        |FROM orders""".stripMargin),

    // ───── P24: string-function battery — the text-manipulation
    // surface (positioning, padding, splitting, translation) mapped
    // to exact DuckDB twins. Locale-sensitive functions (initcap) and
    // engine-specific collations are deliberately excluded.
    "p24_string_battery" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "supplier").select(
          col("s_suppkey"),
          upper(col("s_name")).as("up"),
          substring(col("s_name"), 2, 5).as("sub25"),
          instr(col("s_name"), "e").as("pos_e"),
          lpad(col("s_name"), 15, "*").as("lp"),
          rpad(col("s_name"), 15, "-").as("rp"),
          translate(col("s_name"), "aeiou", "AEIOU").as("tr"),
          reverse(col("s_name")).as("rev"),
          element_at(split(col("s_name"), "#"), 1).as("first_part"),
          regexp_extract(col("s_name"), "([0-9]+)", 1).as("digits"),
          ascii(col("s_name")).as("first_code"),
          repeat(substring(col("s_name"), 1, 2), 3).as("rep3")),
      """SELECT s_suppkey,
        |  upper(s_name) AS up,
        |  substr(s_name, 2, 5) AS sub25,
        |  CAST(strpos(s_name, 'e') AS INTEGER) AS pos_e,
        |  lpad(s_name, 15, '*') AS lp,
        |  rpad(s_name, 15, '-') AS rp,
        |  translate(s_name, 'aeiou', 'AEIOU') AS tr,
        |  reverse(s_name) AS rev,
        |  split_part(s_name, '#', 1) AS first_part,
        |  COALESCE(regexp_extract(s_name, '([0-9]+)', 1), '') AS digits,
        |  CAST(ascii(s_name) AS INTEGER) AS first_code,
        |  repeat(substr(s_name, 1, 2), 3) AS rep3
        |FROM supplier""".stripMargin),

    // ───── P25: math-function battery — restricted to functions with
    // cross-engine-exact semantics: sqrt is IEEE-correctly-rounded,
    // ln has matched bit-for-bit across every LM oracle, %'s
    // dividend-sign rule agrees, round-half-up on 2 dp decimals
    // agrees. exp/pow/log10 are deliberately excluded (libm
    // last-ulp variance).
    "p25_math_battery" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            abs(col("l_discount") - lit(0.05)).as("abs_d"),
            signum(col("l_discount") - lit(0.05)).as("sign_d"),
            floor(col("l_extendedprice")).cast("long").as("floor_p"),
            ceil(col("l_extendedprice")).cast("long").as("ceil_p"),
            round(col("l_extendedprice") / 3.0, 2).as("third_2dp"),
            sqrt(col("l_quantity")).as("sqrt_q"),
            (col("l_orderkey") % 7).as("mod7"),
            ((lit(0L) - col("l_orderkey")) % 7).as("negmod7"),
            greatest(col("l_tax"), col("l_discount")).as("hi"),
            least(col("l_tax"), col("l_discount")).as("lo"),
            round(log(col("l_extendedprice")), 9).as("ln_p")),
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS abs_d,
        |  CAST(sign(l_discount - 0.05) AS DOUBLE) AS sign_d,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS floor_p,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_p,
        |  round(l_extendedprice / 3.0, 2) AS third_2dp,
        |  sqrt(l_quantity) AS sqrt_q,
        |  l_orderkey % 7 AS mod7,
        |  (0 - l_orderkey) % 7 AS negmod7,
        |  greatest(l_tax, l_discount) AS hi,
        |  least(l_tax, l_discount) AS lo,
        |  round(ln(l_extendedprice), 9) AS ln_p
        |FROM lineitem""".stripMargin),

    // ───── A15: fixed-width histogram of extended price — the
    // distribution-profiling aggregate (floor((x−lo)/width) buckets,
    // one map-side-combined shuffle on the bucket id).
    "a15_value_histogram" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "lineitem")
          .select((floor(col("l_extendedprice") / lit(5000.0)).cast("int") * 5000)
            .as("bucket_lo"))
          .groupBy("bucket_lo")
          .agg(count(lit(1)).as("n")),
      """SELECT CAST(floor(l_extendedprice / 5000.0) AS INTEGER) * 5000 AS bucket_lo,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin),

    // ───── A16: EXACT distributed Pearson correlation — built-in
    // corr() accumulates doubles in partition order (two engines, two
    // answers in the last ulps); this derives r from exact DECIMAL
    // moments (Σx, Σy, Σxy, Σx², Σy², n) so the result is
    // partitioning- and engine-invariant: the standard second-moment
    // identity evaluated in ONE fixed double expression after the
    // exact sums. Same one-shuffle shape as any grouped agg.
    "a16_exact_corr" -> QueryDef.sql(
      (s, dir) => {
        // data is exact 2-dp; narrow decimals keep every product
        // exact (no >38-precision reduction) in BOTH engines
        val x = col("l_quantity").cast("decimal(12,2)")
        val y = col("l_extendedprice").cast("decimal(14,2)")
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(x).as("_sx"), sum(y).as("_sy"),
            sum(x * y).as("_sxy"),
            sum(x * x).as("_sxx"),
            sum(y * y).as("_syy"))
          .select(col("l_returnflag"), col("n"),
            round(momentsPearson(col("n"), col("_sx"), col("_sy"),
              col("_sxy"), col("_sxx"), col("_syy")), 6)
              .as("corr_qty_price"))
      },
      """WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
        |    SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS sy,
        |    SUM(CAST(l_quantity AS DECIMAL(12,2))
        |      * CAST(l_extendedprice AS DECIMAL(14,2))) AS sxy,
        |    SUM(CAST(l_quantity AS DECIMAL(12,2))
        |      * CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
        |    SUM(CAST(l_extendedprice AS DECIMAL(14,2))
        |      * CAST(l_extendedprice AS DECIMAL(14,2))) AS syy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |       * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |    AS corr_qty_price
        |FROM m""".stripMargin),

    // ───── A22: per-group OLS trend — each supplier's daily-revenue
    // slope in cents/day, from the same EXACT-decimal-moments recipe
    // as a16 (sums exact per group, the final slope ONE fixed double
    // expression over casts of exact sums — engine- and
    // partitioning-invariant where a built-in regr_slope would drift).
    // Two cascaded aggs (daily, then 5 moments per supplier); nothing
    // re-scans, no window. Degenerate groups (<2 days / zero x-var)
    // excluded, like v06.
    "a22_group_trend" -> QueryDef.sql(
      (s, dir) => {
        val daily = t(s, dir, "lineitem")
          .filter(col("l_extendedprice") > 0)
          .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("d"))
          .agg((sum(col("l_extendedprice").cast("decimal(30,2)")) * 100)
            .cast("decimal(20,0)").as("y"))
          .withColumn("x",
            datediff(col("d"), lit("1992-01-01")).cast("decimal(10,0)"))
        val m = daily.groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_days"),
            sum(col("x")).as("_sx"), sum(col("y")).as("_sy"),
            sum(col("x") * col("y")).as("_sxy"),
            sum(col("x") * col("x")).as("_sxx"))
        m.filter(col("n_days") >= 2)
          .select(col("l_suppkey"), col("n_days"),
            round(
              (col("n_days").cast("double") * col("_sxy").cast("double")
                - col("_sx").cast("double") * col("_sy").cast("double"))
              / (col("n_days").cast("double") * col("_sxx").cast("double")
                - col("_sx").cast("double") * col("_sx").cast("double")),
              6).as("slope_cents_per_day"))
          .filter(col("slope_cents_per_day").isNotNull)
      },
      """WITH daily AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) * 100
        |         AS DECIMAL(20,0)) AS y
        |  FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1, 2),
        |xy AS (
        |  SELECT l_suppkey,
        |    CAST(d - DATE '1992-01-01' AS DECIMAL(10,0)) AS x, y
        |  FROM daily),
        |m AS (
        |  SELECT l_suppkey, COUNT(*) AS n_days,
        |    SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |  FROM xy GROUP BY 1)
        |SELECT l_suppkey, n_days,
        |  round((CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
        |    AS slope_cents_per_day
        |FROM m
        |WHERE n_days >= 2
        |  AND CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0""".stripMargin),

    // ───── A23: exact weighted median — the 50% weighted-rank price
    // per return flag, weights = quantities (the "typical dollar"
    // statistic; unweighted medians over-represent small orders).
    // Lower weighted median: smallest value v with cum_weight(≤v) ≥
    // total/2, as the pure-integer inequality 2·cum ≥ total — no
    // interpolation, no doubles, bit-identical anywhere. Scale shape:
    // raw rows first collapse to DISTINCT (flag, cents) weight sums
    // (map-combinable; bounded by price cardinality), the cumsum
    // window runs over that collapsed frame only, and the winner is a
    // min() — the raw table is never windowed or sorted.
    "a23_weighted_median" -> QueryDef.sql(
      (s, dir) => {
        val byPrice = t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            (col("l_extendedprice").cast("decimal(18,2)") * 100)
              .cast("long").as("cents"),
            col("l_quantity").cast("long").as("w"))
          .groupBy(col("l_returnflag"), col("cents"))
          .agg(sum(col("w")).as("wsum"))
        val win = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("cents"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = Window.partitionBy(col("l_returnflag"))
        byPrice
          .withColumn("cum", sum(col("wsum")).over(win))
          .withColumn("total", sum(col("wsum")).over(tot))
          .filter(col("cum") * 2 >= col("total"))
          .groupBy(col("l_returnflag"))
          .agg(min(col("cents")).as("wmedian_cents"),
            max(col("total")).as("total_weight"))
      },
      """WITH byprice AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wsum
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, cents,
        |    CAST(SUM(wsum) OVER (PARTITION BY l_returnflag ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum,
        |    CAST(SUM(wsum) OVER (PARTITION BY l_returnflag) AS BIGINT)
        |      AS total
        |  FROM byprice)
        |SELECT l_returnflag, MIN(cents) AS wmedian_cents,
        |  MAX(total) AS total_weight
        |FROM c WHERE cum * 2 >= total
        |GROUP BY 1""".stripMargin),

    // ───── A24: Benford first-digit audit — the fraud/DQ screen over
    // order amounts: observed first-significant-digit shares vs
    // Benford's log₁₀(1+1/d) expectation, per-digit deviation, and
    // the total-variation distance as ONE integer. The expected
    // shares are the nine canonical ppm CONSTANTS (301030 … 45757)
    // hardcoded in BOTH engines — deriving them via log10 at runtime
    // would ride libm cross-engine. First digit via string head of
    // the integer cents (cents > 0 always has a nonzero lead digit);
    // one 9-group map-combined aggregate + a 1-row total frame.
    "a24_benford_check" -> QueryDef.sql(
      (s, dir) => {
        val benford = typedLit(Map(
          1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L,
          5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L,
          9 -> 45757L))
        val digits = t(s, dir, "orders")
          .select((col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
          .filter(col("cents") > 0)
          .select(substring(col("cents").cast("string"), 1, 1)
            .cast("int").as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        val total = digits.agg(sum(col("n")).as("n_total"))
        digits.crossJoin(broadcast(total))
          .select(col("digit"), col("n"),
            expr("n * 1000000L DIV n_total").as("share_ppm"),
            benford(col("digit")).as("benford_ppm"))
          .withColumn("dev_ppm",
            abs(col("share_ppm") - col("benford_ppm")))
      },
      """WITH d AS (
        |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER)
        |    AS digit
        |  FROM (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |          AS BIGINT) AS cents FROM orders)
        |  WHERE cents > 0),
        |c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM c),
        |b(digit, benford_ppm) AS (VALUES
        |  (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
        |  (6, 66947), (7, 57992), (8, 51153), (9, 45757))
        |SELECT c.digit, c.n,
        |  CAST(c.n * 1000000 // t.n_total AS BIGINT) AS share_ppm,
        |  CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
        |  CAST(abs(c.n * 1000000 // t.n_total - b.benford_ppm) AS BIGINT)
        |    AS dev_ppm
        |FROM c JOIN b USING (digit), t""".stripMargin),

    // ───── O6: top-N per group — each customer's 3 largest orders
    // (per-key window over the group shuffle; the per-key variant of
    // o04's global TakeOrderedAndProject).
    "o06_topn_per_group" -> QueryDef.sql(
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            col("rn").cast("int").as("rn"))
      },
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
        |  FROM orders)
        |WHERE rn <= 3""".stripMargin),

    // ───── O7: top-N per group as a BOUNDED-HEAP AGGREGATE — the
    // same answer as o06 through the custom topk_pairs
    // TypedImperativeAggregate (plans/TopKPairsAgg.scala) instead of
    // a window. The window form shuffles and sorts EVERY order row on
    // the customer key before discarding all but 3; the aggregate
    // runs as ObjectHashAggregate with a map-side PARTIAL pass, so
    // each mapper reduces its slice to ≤3 pairs per customer (O(k)
    // heap state) and only those survivors cross the exchange —
    // shuffle volume independent of fact row count, nothing globally
    // sorted. Keys are exact cents (the registry-wide integer
    // recipe); ties break by smallest order id, a total order, so the
    // flattened `price:order` string is deterministic cross-engine.
    "o07_topk_agg" -> QueryDef.sql(
      (s, dir) => {
        graft.plans.GraftExtensions.register(s) // idempotent
        t(s, dir, "orders")
          .select(col("o_custkey"),
            (col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long").as("_cents"),
            col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(expr("topk_pairs(_cents, o_orderkey, 3)").as("_top"))
          .select(col("o_custkey"),
            expr("array_join(transform(_top, p -> concat(p.k, ':', p.v)), ',')")
              .as("top_orders"))
      },
      """WITH r AS (
        |  SELECT o_custkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DESC,
        |               o_orderkey ASC) AS rn
        |  FROM orders)
        |SELECT o_custkey,
        |  string_agg(cents || ':' || o_orderkey, ','
        |    ORDER BY cents DESC, o_orderkey ASC) AS top_orders
        |FROM r WHERE rn <= 3 GROUP BY 1""".stripMargin),

    // ───── materialized-view maintenance gate: the daily-revenue
    // aggregate rebuilt INCREMENTALLY — two arrival batches each
    // produce algebraic (decimal-sum, count) state, the states merge,
    // and the result must equal the one-shot aggregate (the oracle is
    // the same SQL daily_revenue uses). Decimal state is what makes
    // the merge batch-boundary-exact; double state would drift.
    "mv_incremental_revenue" -> QueryDef.sql(
      (s, dir) => {
        import graft.operators.Incremental
        val li = t(s, dir, "lineitem")
          .filter(col("l_extendedprice") > 0)
          .withColumn("ship_date", to_date(col("l_shipdate")))
        val keys = Seq("l_suppkey", "ship_date")
        val merged = Incremental.mergeAggStates(
          Incremental.aggState(
            li.filter(col("l_orderkey") % 2 === 0), keys, col("l_extendedprice")),
          Incremental.aggState(
            li.filter(col("l_orderkey") % 2 =!= 0), keys, col("l_extendedprice")),
          keys)
        Incremental.finalizeAggState(merged, "total_revenue", "trip_count")
      },
      """SELECT l_suppkey,
        |       CAST(l_shipdate AS DATE) AS ship_date,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS total_revenue,
        |       COUNT(*) AS trip_count
        |FROM lineitem
        |WHERE l_extendedprice > 0
        |GROUP BY 1, 2""".stripMargin),

    // ───── STREAMING materialized-view maintenance: the daily-revenue
    // view maintained by the REAL streaming engine — three arrival
    // files, each micro-batch's exact-decimal aggregate state merged
    // into the persisted view (foreachBatch + atomic swap). Decimal
    // algebra makes the result independent of micro-batch boundaries,
    // so the oracle is the same one-shot aggregate SQL.
    "mv_stream_revenue" -> QueryDef.sql(
      (s, dir) => {
        import graft.operators.Incremental
        import graft.streaming.DimensionStream
        val root = Tables.scratchDir("mv_stream", dir)
        Tables.deletePath(s, root)
        val li = t(s, dir, "lineitem")
          .filter(col("l_extendedprice") > 0)
          .withColumn("ship_date", to_date(col("l_shipdate")))
          .select("l_orderkey", "l_suppkey", "ship_date", "l_extendedprice")
        // per-batch writes, deliberately NOT writeFeedBatches: the
        // one-pass variant must shuffle the whole input to land each
        // batch in one file, and lineitem's wide rows make that
        // exchange (~42 MB) cost more than two extra 11 MB scans —
        // the single-pass writer wins only on narrow feeds (events)
        (0 until 3).foreach(i =>
          DimensionStream.writeFeedFile(
            li.filter(col("l_orderkey") % 3 === i), s"$root/feed",
            s"batch_$i", 1700000000000L + i * 60000L))
        val state = DimensionStream.aggMergeAvailableNow(
          s, s"$root/feed", s"$root/state",
          Seq("l_suppkey", "ship_date"), "l_extendedprice",
          queryName = "mv_stream_revenue")
        Incremental.finalizeAggState(state, "total_revenue", "trip_count")
      },
      """SELECT l_suppkey,
        |       CAST(l_shipdate AS DATE) AS ship_date,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS total_revenue,
        |       COUNT(*) AS trip_count
        |FROM lineitem
        |WHERE l_extendedprice > 0
        |GROUP BY 1, 2""".stripMargin),

    // ───── snapshot-diff change feed (the offline Delta CDF): two
    // supplier snapshots with planted deletes (%13), updates (%7,
    // acctbal+5), and inserts (+10M keys) → one full-outer
    // shuffled-hash join over scan-side (key, hash) rows emits
    // exactly the |changes|-sized feed the oracle derives directly
    // from the plant rules.
    "cdc_snapshot_diff" -> QueryDef.sql(
      (s, dir) => {
        import graft.operators.Incremental
        val sup = t(s, dir, "supplier")
        val newSnap = sup
          .filter(col("s_suppkey") % 13 =!= 0)
          .withColumn("s_acctbal",
            when(col("s_suppkey") % 7 === 0, col("s_acctbal") + 5.0)
              .otherwise(col("s_acctbal")))
          .unionByName(sup.filter(col("s_suppkey") < 3).select(
            (col("s_suppkey") + 10000000L).as("s_suppkey"),
            col("s_name"), col("s_nationkey"), col("s_acctbal")))
        Incremental.snapshotDiff(sup, newSnap, Seq("s_suppkey"),
          Seq("s_name", "s_nationkey", "s_acctbal"))
      },
      """SELECT s_suppkey, 'delete' AS change_type
        |FROM supplier WHERE s_suppkey % 13 = 0
        |UNION ALL
        |SELECT s_suppkey, 'update'
        |FROM supplier WHERE s_suppkey % 7 = 0 AND s_suppkey % 13 <> 0
        |UNION ALL
        |SELECT s_suppkey + 10000000, 'insert'
        |FROM supplier WHERE s_suppkey < 3""".stripMargin),

    // ───── CDC APPLY — the consumer half of the change-data pair:
    // fold an I/U/D change feed into a keyed snapshot (offline MERGE
    // INTO ... WHEN MATCHED DELETE). Feed = the events table mapped
    // to ops (error→D, signup→I, else U), keyed by user, ordered by
    // (ts, event_id) — a total order, so "latest change wins" is
    // deterministic. Snapshot = customers as (key, status, cents)
    // state rows. The feed collapses to latest-per-key via a
    // map-combinable max_by (no window — a row_number formulation
    // would shuffle AND sort the whole feed), then one shuffled-hash
    // full-outer join upserts/deletes against the snapshot. Cents via
    // the registry-wide decimal recipe keeps every value integer.
    "cdc_apply" -> QueryDef.sql(
      (s, dir) => {
        import graft.operators.Incremental
        val snap = t(s, dir, "customer").select(
          col("c_custkey").as("entity_id"),
          lit("base").as("status"),
          (col("c_acctbal").cast("decimal(18,2)") * 100)
            .cast("long").as("val_cents"))
        val feed = t(s, dir, "events").select(
          col("user_id").as("entity_id"),
          col("ts"), col("event_id"),
          when(col("event_type") === "error", "D")
            .when(col("event_type") === "signup", "I")
            .otherwise("U").as("op"),
          col("event_type").as("status"),
          (col("value").cast("decimal(18,2)") * 100)
            .cast("long").as("val_cents"))
        Incremental.applyChanges(snap, feed, Seq("entity_id"),
          Seq("ts", "event_id"), "op", Seq("status", "val_cents"))
      },
      """WITH latest AS (
        |  SELECT user_id AS entity_id,
        |    CASE event_type WHEN 'error' THEN 'D'
        |         WHEN 'signup' THEN 'I' ELSE 'U' END AS op,
        |    event_type AS status,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS val_cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |l1 AS (SELECT * FROM latest WHERE rn = 1),
        |snap AS (
        |  SELECT c_custkey AS entity_id, 'base' AS status,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS val_cents
        |  FROM customer)
        |SELECT COALESCE(l1.entity_id, snap.entity_id) AS entity_id,
        |  COALESCE(l1.status, snap.status) AS status,
        |  CASE WHEN l1.entity_id IS NOT NULL THEN l1.val_cents
        |       ELSE snap.val_cents END AS val_cents
        |FROM snap FULL OUTER JOIN l1 ON snap.entity_id = l1.entity_id
        |WHERE l1.op IS NULL OR l1.op <> 'D'""".stripMargin),

    // ───── the STREAMING twin of cdc_apply, fed OUT OF ORDER on
    // purpose: the change feed splits into event-time terciles
    // arriving T0, T2, T1, and the state's per-key stored (ts,
    // event_id) makes last-writer-wins follow EVENT order, not
    // arrival order — plus tombstoned deletes, so the late middle
    // tercile can neither regress a key nor resurrect a deleted one.
    // The oracle is the IDENTICAL one-shot batch SQL as cdc_apply:
    // any boundary or ordering mistake in the stitch breaks the hash.
    "cdc_stream_apply" -> QueryDef.sql(
      (s, dir) => {
        import graft.streaming.DimensionStream
        val root = Tables.scratchDir("cdc_stream", dir)
        Tables.deletePath(s, root)
        val feedDir = s"$root/feed"
        val statePath = s"$root/state"
        val feed = graft.sources.Tables.events(s, dir).select(
          col("user_id").as("entity_id"),
          col("ts"), col("event_id"),
          when(col("event_type") === "error", "D")
            .when(col("event_type") === "signup", "I")
            .otherwise("U").as("op"),
          col("event_type").as("status"),
          (col("value").cast("decimal(18,2)") * 100)
            .cast("long").as("val_cents"))
        val cuts = feed.agg(
          expr("percentile(CAST(unix_micros(ts) AS DOUBLE), 0.34)"),
          expr("percentile(CAST(unix_micros(ts) AS DOUBLE), 0.67)"))
          .head()
        val (c1, c2) = (cuts.getDouble(0).toLong, cuts.getDouble(1).toLong)
        val t0 = feed.filter(unix_micros(col("ts")) <= c1)
        val t1 = feed.filter(unix_micros(col("ts")) > c1 &&
          unix_micros(col("ts")) <= c2)
        val t2 = feed.filter(unix_micros(col("ts")) > c2)
        // arrival order T0, T2, T1 — the middle tercile arrives LAST
        DimensionStream.writeFeedFile(t0, feedDir, "b0", 1700000000000L)
        DimensionStream.writeFeedFile(t2, feedDir, "b1", 1700000060000L)
        DimensionStream.writeFeedFile(t1, feedDir, "b2", 1700000120000L)
        val state0 = t(s, dir, "customer").select(
          col("c_custkey").as("entity_id"),
          lit("U").as("op"),
          lit("base").as("status"),
          (col("c_acctbal").cast("decimal(18,2)") * 100)
            .cast("long").as("val_cents"),
          lit("1970-01-01 00:00:00").cast("timestamp").as("ts"),
          lit(0L).as("event_id"))
        graft.operators.Scd2.writeAtomic(state0, statePath)
        DimensionStream.cdcApplyAvailableNow(s, feedDir, statePath,
          keys = Seq("entity_id"), orderCols = Seq("ts", "event_id"),
          opCol = "op", payloadCols = Seq("status", "val_cents"))
      },
      """WITH latest AS (
        |  SELECT user_id AS entity_id,
        |    CASE event_type WHEN 'error' THEN 'D'
        |         WHEN 'signup' THEN 'I' ELSE 'U' END AS op,
        |    event_type AS status,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS val_cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |l1 AS (SELECT * FROM latest WHERE rn = 1),
        |snap AS (
        |  SELECT c_custkey AS entity_id, 'base' AS status,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS val_cents
        |  FROM customer)
        |SELECT COALESCE(l1.entity_id, snap.entity_id) AS entity_id,
        |  COALESCE(l1.status, snap.status) AS status,
        |  CASE WHEN l1.entity_id IS NOT NULL THEN l1.val_cents
        |       ELSE snap.val_cents END AS val_cents
        |FROM snap FULL OUTER JOIN l1 ON snap.entity_id = l1.entity_id
        |WHERE l1.op IS NULL OR l1.op <> 'D'""".stripMargin),

    // ───── V6: statistical anomaly detection — days whose revenue
    // sits ≥ 3σ from the supplier's own mean, with mean/σ derived
    // from EXACT decimal moments (same recipe as a16: population
    // variance via n·Σx²−(Σx)² over exact sums, evaluated in one
    // fixed double expression — engine- and partitioning-invariant,
    // where a built-in stddev would drift in the last ulps). Two
    // aggregates over the daily frame; suppliers with <2 days or
    // zero variance are excluded (z undefined).
    "v06_outlier_days" -> QueryDef.sql(
      (s, dir) => {
        val daily = t(s, dir, "lineitem")
          .filter(col("l_extendedprice") > 0)
          .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("ship_date"))
          .agg(sum(col("l_extendedprice").cast("decimal(30,2)"))
            .cast("decimal(18,2)").as("_rev"))
        val moments = daily.groupBy(col("l_suppkey"))
          .agg(
            count(lit(1)).as("n_days"),
            sum(col("_rev")).as("_s1"),
            sum(col("_rev") * col("_rev")).as("_s2"))
          .filter(col("n_days") >= 2)
          .select(col("l_suppkey"), col("n_days"),
            momentsMean(col("n_days"), col("_s1")).as("_mean"),
            momentsStddevPop(col("n_days"), col("_s1"), col("_s2")).as("_sd"))
          .filter(col("_sd") > 0)
        daily.join(moments.hint("shuffle_hash"), Seq("l_suppkey"))
          .withColumn("z", round(
            (col("_rev").cast("double") - col("_mean")) / col("_sd"), 6))
          .filter(abs(col("z")) >= 3.0)
          .select(col("l_suppkey"), col("ship_date"),
            col("_rev").cast("double").as("total_revenue"), col("z"))
      },
      """WITH daily AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS ship_date,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2)))
        |              AS DECIMAL(18,2)) AS rev
        |  FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1, 2),
        |m AS (
        |  SELECT l_suppkey, COUNT(*) AS n_days,
        |         SUM(rev) AS s1, SUM(rev * rev) AS s2
        |  FROM daily GROUP BY 1 HAVING COUNT(*) >= 2),
        |mm AS (
        |  SELECT l_suppkey,
        |    CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean,
        |    sqrt((CAST(n_days AS DOUBLE) * CAST(s2 AS DOUBLE)
        |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |         / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE))) AS sd
        |  FROM m)
        |SELECT d.l_suppkey, d.ship_date,
        |       CAST(d.rev AS DOUBLE) AS total_revenue,
        |       round((CAST(d.rev AS DOUBLE) - mm.mean) / mm.sd, 6) AS z
        |FROM daily d JOIN mm ON d.l_suppkey = mm.l_suppkey
        |WHERE mm.sd > 0
        |  AND abs(round((CAST(d.rev AS DOUBLE) - mm.mean) / mm.sd, 6)) >= 3.0""".stripMargin),

    // ───── V7: winsorization at exact P1/P99 — robust-statistics
    // clipping for feature pipelines. Cutoffs are RANK-EXACT k-th
    // smallest values (deterministic on multisets regardless of tie
    // order) with ranks from INTEGER arithmetic — ceil(p·n) through
    // doubles drifts (0.01·60000 ≠ 600 in IEEE); (n+99)/100 does
    // not. BOTH cutoff scans run as TakeOrderedAndProject with heaps
    // of ≤ ⌈n/100⌉+1 rows: P1 is the k1-th smallest taken from the
    // ASCENDING side, P99 the (n−k99+1)-th LARGEST taken from the
    // DESCENDING side (the k-th smallest = the (n−k+1)-th largest on
    // any multiset) — never a 0.99·n heap pulled into one task
    // (VERDICT r8 #1). The three driver actions (count + two cutoffs)
    // are O(n/100)-bounded control-plane scalars. Clipped sums ride
    // exact decimals.
    "v07_winsorized_revenue" -> QueryDef.sql(
      (s, dir) => {
        val li = t(s, dir, "lineitem").filter(col("l_extendedprice") > 0)
        val n = li.count() // control-plane scalar: the limit() bounds
        val k1 = ((n + 99) / 100).toInt         // ceil(n/100)
        val k99 = (99 * n + 99) / 100           // ceil(0.99·n)
        val kTop = (n - k99 + 1).toInt          // ≤ floor(n/100)+1
        val p01 = kthSmallestPlan(li, col("l_extendedprice"), k1)
          .head.getDouble(0)
        val p99 = kthLargestPlan(li, col("l_extendedprice"), kTop)
          .head.getDouble(0)
        val clipped = greatest(lit(p01), least(lit(p99), col("l_extendedprice")))
        li.groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n_rows"),
            exactSum(clipped).as("winsorized_sum"),
            sum(when(col("l_extendedprice") < p01, 1L)
              .when(col("l_extendedprice") > p99, 1L)
              .otherwise(0L)).as("n_clipped"))
      },
      """WITH f AS (
        |  SELECT l_returnflag, l_extendedprice
        |  FROM lineitem WHERE l_extendedprice > 0),
        |s AS (
        |  SELECT l_extendedprice,
        |         row_number() OVER (ORDER BY l_extendedprice) AS rn,
        |         COUNT(*) OVER () AS n
        |  FROM f),
        |c AS (
        |  SELECT
        |    max(CASE WHEN rn <= (n + 99) // 100 THEN l_extendedprice END) AS p01,
        |    max(CASE WHEN rn <= (99 * n + 99) // 100 THEN l_extendedprice END) AS p99
        |  FROM s)
        |SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(greatest(c.p01, least(c.p99, l_extendedprice))
        |       AS DECIMAL(30,2))) AS DOUBLE) AS winsorized_sum,
        |  CAST(SUM(CASE WHEN l_extendedprice < c.p01 THEN 1
        |                WHEN l_extendedprice > c.p99 THEN 1
        |                ELSE 0 END) AS BIGINT) AS n_clipped
        |FROM f, c GROUP BY l_returnflag""".stripMargin),

    // ───── A20: RFM customer segmentation — recency/frequency/
    // monetary quintile scores and the classic 3-digit segment code.
    // The quintile assignment is the SCALE-SAFE form: a global
    // ntile(5) is a single-partition window over every customer (one
    // task owns the table); instead the four cutoffs per metric come
    // from ONE exact-percentile aggregate (a11's interpolation,
    // bit-matched cross-engine) broadcast back, and each score is
    // pure comparison arithmetic at the scan. Monetary sums go
    // through decimal; recency is integer day arithmetic against the
    // corpus max date (parameter-free, reproducible).
    "a20_rfm_segments" -> QueryDef.sql(
      (s, dir) => {
        val cust = t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(max(to_date(col("o_orderdate"))).as("_last"),
            count(lit(1)).as("frequency"),
            sum(col("o_totalprice").cast("decimal(30,2)")).as("_mon"))
        val mx = t(s, dir, "orders")
          .agg(max(to_date(col("o_orderdate"))).as("_maxd"))
        val c2 = cust.crossJoin(broadcast(mx))
          .select(col("o_custkey"),
            datediff(col("_maxd"), col("_last")).as("recency_days"),
            col("frequency"),
            col("_mon").cast("double").as("monetary"))
        val cutExprs = Seq("recency_days", "frequency", "monetary").flatMap(m =>
          Seq(20, 40, 60, 80).map(p =>
            expr(s"percentile(CAST($m AS DOUBLE), 0.$p)").as(s"_${m.head}$p")))
        val cuts = c2.agg(cutExprs.head, cutExprs.tail: _*)
        def bucket(c: org.apache.spark.sql.Column, pfx: String) =
          lit(1) + (c > col(s"_${pfx}20")).cast("int") +
            (c > col(s"_${pfx}40")).cast("int") +
            (c > col(s"_${pfx}60")).cast("int") +
            (c > col(s"_${pfx}80")).cast("int")
        c2.crossJoin(broadcast(cuts))
          .select(col("o_custkey"), col("recency_days"), col("frequency"),
            col("monetary"),
            (lit(6) - bucket(col("recency_days").cast("double"), "r"))
              .as("r_score"),
            bucket(col("frequency").cast("double"), "f").as("f_score"),
            bucket(col("monetary"), "m").as("m_score"))
          .withColumn("segment",
            col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      },
      """WITH cust AS (
        |  SELECT o_custkey,
        |         max(CAST(o_orderdate AS DATE)) AS last_d,
        |         COUNT(*) AS frequency,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
        |           AS monetary
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
        |c2 AS (
        |  SELECT o_custkey,
        |         CAST(date_diff('day', last_d, mx.maxd) AS INTEGER)
        |           AS recency_days,
        |         frequency, monetary
        |  FROM cust, mx),
        |cuts AS (
        |  SELECT
        |    quantile_cont(CAST(recency_days AS DOUBLE), 0.2) AS r20,
        |    quantile_cont(CAST(recency_days AS DOUBLE), 0.4) AS r40,
        |    quantile_cont(CAST(recency_days AS DOUBLE), 0.6) AS r60,
        |    quantile_cont(CAST(recency_days AS DOUBLE), 0.8) AS r80,
        |    quantile_cont(CAST(frequency AS DOUBLE), 0.2) AS f20,
        |    quantile_cont(CAST(frequency AS DOUBLE), 0.4) AS f40,
        |    quantile_cont(CAST(frequency AS DOUBLE), 0.6) AS f60,
        |    quantile_cont(CAST(frequency AS DOUBLE), 0.8) AS f80,
        |    quantile_cont(monetary, 0.2) AS m20,
        |    quantile_cont(monetary, 0.4) AS m40,
        |    quantile_cont(monetary, 0.6) AS m60,
        |    quantile_cont(monetary, 0.8) AS m80
        |  FROM c2),
        |sc AS (
        |  SELECT o_custkey, recency_days, frequency, monetary,
        |    6 - (1 + CAST(CAST(recency_days AS DOUBLE) > r20 AS INTEGER)
        |           + CAST(CAST(recency_days AS DOUBLE) > r40 AS INTEGER)
        |           + CAST(CAST(recency_days AS DOUBLE) > r60 AS INTEGER)
        |           + CAST(CAST(recency_days AS DOUBLE) > r80 AS INTEGER))
        |      AS r_score,
        |    1 + CAST(CAST(frequency AS DOUBLE) > f20 AS INTEGER)
        |      + CAST(CAST(frequency AS DOUBLE) > f40 AS INTEGER)
        |      + CAST(CAST(frequency AS DOUBLE) > f60 AS INTEGER)
        |      + CAST(CAST(frequency AS DOUBLE) > f80 AS INTEGER) AS f_score,
        |    1 + CAST(monetary > m20 AS INTEGER)
        |      + CAST(monetary > m40 AS INTEGER)
        |      + CAST(monetary > m60 AS INTEGER)
        |      + CAST(monetary > m80 AS INTEGER) AS m_score
        |  FROM c2, cuts)
        |SELECT o_custkey, recency_days, frequency, monetary,
        |       r_score, f_score, m_score,
        |       r_score * 100 + f_score * 10 + m_score AS segment
        |FROM sc""".stripMargin),

    // ───── A21: Pareto/ABC supplier classification — cumulative
    // revenue share over suppliers ranked desc, class A ≤ 80%,
    // B ≤ 95%, C above. The cumulative window runs over the
    // AGGREGATED supplier frame (bounded by entity count, never fact
    // rows) — the one place an unpartitioned running sum is the
    // right call at 100 TB. Shares are integer basis points from
    // decimal sums (floor division against the decimal total) so the
    // class boundaries are exact cross-engine — a double cumsum
    // would drift with partitioning.
    "a21_abc_analysis" -> QueryDef.sql(
      (s, dir) => {
        val sup = t(s, dir, "lineitem")
          .groupBy(col("l_suppkey"))
          .agg(sum(col("l_extendedprice").cast("decimal(30,2)")).as("_rev"))
          // integer CENTS for the share arithmetic: DuckDB's // on
          // DECIMAL operands is not exact integral division (measured
          // one-bp boundary flips); BIGINT // BIGINT is, both engines
          .withColumn("_rc", (col("_rev") * 100).cast("long"))
        val total = sup.agg(sum(col("_rc")).as("_tot"))
        val w = Window.orderBy(col("_rev").desc, col("l_suppkey").asc)
          .rowsBetween(Window.unboundedPreceding, 0)
        sup.crossJoin(broadcast(total))
          .select(col("l_suppkey"), col("_rev"), col("_tot"),
            sum(col("_rc")).over(w).as("_cum"))
          .select(col("l_suppkey"),
            col("_rev").cast("double").as("revenue"),
            expr("(10000L * _cum) DIV _tot").as("cum_share_bp"))
          .withColumn("abc_class",
            when(col("cum_share_bp") <= 8000, "A")
              .when(col("cum_share_bp") <= 9500, "B")
              .otherwise("C"))
      },
      """WITH sup AS (
        |  SELECT l_suppkey,
        |         SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS rev,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) * 100 AS BIGINT)
        |           AS rc
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT SUM(rc) AS tot FROM sup),
        |c AS (
        |  SELECT l_suppkey, rev, tot,
        |         SUM(rc) OVER (ORDER BY rev DESC, l_suppkey
        |                       ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM sup, t),
        |b AS (
        |  SELECT l_suppkey, CAST(rev AS DOUBLE) AS revenue,
        |         CAST((10000 * cum) // tot AS BIGINT) AS cum_share_bp
        |  FROM c)
        |SELECT l_suppkey, revenue, cum_share_bp,
        |       CASE WHEN cum_share_bp <= 8000 THEN 'A'
        |            WHEN cum_share_bp <= 9500 THEN 'B'
        |            ELSE 'C' END AS abc_class
        |FROM b""".stripMargin),

    // ───── V8: SEASONAL outlier days — v06's z-score after removing
    // the day-of-week effect (retail/traffic revenue is weekly-
    // periodic; an un-detrended z flags every Saturday instead of
    // real anomalies). The seasonal mean is QUANTIZED to integer
    // thousandths via floor division — the graph_pagerank fixed-point
    // recipe — so residuals are exact BIGINTs and their moments exact
    // decimal sums: NO floating-point value is ever summed (double
    // sums are partitioning- and engine-ordered; integer/decimal sums
    // are not). The only doubles are the final mean/sd/z evaluation —
    // a fixed chain of correctly-rounded IEEE ops on identical exact
    // inputs. Shape: daily aggregate (1 shuffle, scan-side partial),
    // O(suppliers×7) seasonal frame joined back shuffle-hash, then
    // the per-supplier moments as WHOLE-PARTITION window sums over
    // the residual frame — the decimal window aggregate is exact, and
    // reading the moments through a window instead of an aggregate +
    // join-back means the residual frame executes ONCE (the join-back
    // formulation re-runs the whole daily/seasonal chain per
    // consumer: measured 3 SHJ / 4 fact scans vs this plan's 1 / 2).
    "v08_seasonal_outliers" -> QueryDef.sql(
      (s, dir) => {
        val daily = t(s, dir, "lineitem")
          .filter(col("l_extendedprice") > 0)
          .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("ship_date"))
          .agg(sum(col("l_extendedprice").cast("decimal(30,2)"))
            .cast("decimal(18,2)").as("_rev"))
          .withColumn("_dw", dayofweek(col("ship_date")) - 1)
        val seasonal = daily.groupBy(col("l_suppkey"), col("_dw"))
          .agg(count(lit(1)).as("_ng"),
            sum((col("_rev") * 1000).cast("decimal(38,0)")).as("_sg"))
        val resid = daily
          .join(seasonal.hint("shuffle_hash"), Seq("l_suppkey", "_dw"))
          .withColumn("_rm",
            (col("_rev") * 1000).cast("long") -
              expr("CAST(_sg AS BIGINT) DIV _ng"))
        val w = Window.partitionBy(col("l_suppkey"))
        val rm38 = col("_rm").cast("decimal(38,0)")
        resid
          .select(col("*"),
            // one select → ONE Window node (chained withColumn emits
            // a Window operator per call)
            count(lit(1)).over(w).as("n_days"),
            sum(rm38).over(w).as("_s1"),
            sum(rm38 * rm38).over(w).as("_s2"))
          .filter(col("n_days") >= 2)
          .withColumn("_mean", momentsMean(col("n_days"), col("_s1")))
          .withColumn("_sd",
            momentsStddevPop(col("n_days"), col("_s1"), col("_s2")))
          .filter(col("_sd") > 0)
          .withColumn("z", round(
            (col("_rm").cast("double") - col("_mean")) / col("_sd"), 6))
          .filter(abs(col("z")) >= 3.0)
          .select(col("l_suppkey"), col("ship_date"),
            col("_dw").cast("int").as("dow"),
            col("_rev").cast("double").as("total_revenue"),
            (col("_rm").cast("double") / 1000.0).as("residual"),
            col("z"))
      },
      """WITH daily AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS ship_date,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2)))
        |              AS DECIMAL(18,2)) AS rev
        |  FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1, 2),
        |d2 AS (
        |  SELECT *, CAST(date_part('dow', ship_date) AS INTEGER) AS dw
        |  FROM daily),
        |seas AS (
        |  SELECT l_suppkey, dw, COUNT(*) AS ng,
        |         CAST(SUM(CAST(rev * 1000 AS BIGINT)) AS BIGINT) AS sg
        |  FROM d2 GROUP BY 1, 2),
        |r AS (
        |  SELECT d.l_suppkey, d.ship_date, d.dw, d.rev,
        |         CAST(d.rev * 1000 AS BIGINT) - (s.sg // s.ng) AS rm
        |  FROM d2 d JOIN seas s ON d.l_suppkey = s.l_suppkey AND d.dw = s.dw),
        |r2 AS (
        |  SELECT *,
        |    COUNT(*) OVER (PARTITION BY l_suppkey) AS n_days,
        |    SUM(CAST(rm AS DECIMAL(38,0))) OVER (PARTITION BY l_suppkey) AS s1,
        |    SUM(CAST(rm AS DECIMAL(38,0)) * CAST(rm AS DECIMAL(38,0)))
        |      OVER (PARTITION BY l_suppkey) AS s2
        |  FROM r),
        |mm AS (
        |  SELECT *,
        |    CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean,
        |    sqrt((CAST(n_days AS DOUBLE) * CAST(s2 AS DOUBLE)
        |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |         / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE))) AS sd
        |  FROM r2 WHERE n_days >= 2)
        |SELECT l_suppkey, ship_date, dw AS dow,
        |       CAST(rev AS DOUBLE) AS total_revenue,
        |       CAST(rm AS DOUBLE) / 1000.0 AS residual,
        |       round((CAST(rm AS DOUBLE) - mean) / sd, 6) AS z
        |FROM mm
        |WHERE sd > 0
        |  AND abs(round((CAST(rm AS DOUBLE) - mean) / sd, 6)) >= 3.0""".stripMargin),

    // ───── V9: robust outlier scoring via median/MAD — the
    // Iglewicz–Hoaglin modified z-score family, which a single wild
    // day cannot poison the way it drags a mean/σ gate (v06's moment
    // z): median and MAD have 50% breakdown. Exactness recipe: daily
    // revenue in integer cents, medians carried as DOUBLED integers
    // (med2 = 2·median, mad4 = 2·median(|2x − med2|)) so even-count
    // interpolation stays integral — Spark's exact `percentile` at
    // p=0.5 computes a+(b−a)·0.5 over even integers (IEEE-exact
    // < 2^53), the oracle re-derives the same values from pure rank
    // arithmetic, proving them equal. The outlier FLAG is the
    // integer inequality 20000·dev2 > 44478·mad4 (⇔ |x−med| >
    // 1.4826·MAD; production gates lift the same integers to the
    // 3.5 threshold of Iglewicz–Hoaglin 1993, =155673·mad4/20000) —
    // no floating point in the decision; robust_z is display-only.
    // Scale shape: the daily frame is CALENDAR-bounded (≤ #days
    // regardless of corpus size), so both exact medians run on a
    // bounded frame after one map-combined aggregate; the two 1-row
    // stats broadcast back. Counts past BIGINT cents headroom
    // (~9·10^16 dollars/day) would lift to DECIMAL(38,0).
    "v09_mad_outliers" -> QueryDef.sql(
      (s, dir) => {
        val daily = t(s, dir, "lineitem")
          .filter(col("l_extendedprice") > 0)
          .groupBy(to_date(col("l_shipdate")).as("ship_date"))
          .agg(sum(col("l_extendedprice").cast("decimal(30,2)"))
            .cast("decimal(18,2)").as("_rev"))
          .withColumn("_r2", (col("_rev") * 100).cast("long") * 2)
        val med = daily.agg(
          expr("CAST(percentile(_r2, 0.5d) AS BIGINT)").as("_med2"))
        val dev = daily.crossJoin(broadcast(med))
          .withColumn("_dev2", abs(col("_r2") - col("_med2")))
        val mad = dev.agg(
          expr("CAST(percentile(_dev2 * 2, 0.5d) AS BIGINT)").as("_mad4"))
        dev.crossJoin(broadcast(mad))
          .select(col("ship_date"),
            col("_rev").cast("double").as("total_revenue"),
            round(lit(2.0) * col("_dev2").cast("double") /
              (lit(4.4478) * col("_mad4").cast("double")), 6).as("robust_z"),
            (col("_dev2") * 20000L > col("_mad4") * 44478L).as("is_outlier"))
      },
      """WITH daily AS (
        |  SELECT CAST(l_shipdate AS DATE) AS ship_date,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2)))
        |              AS DECIMAL(18,2)) AS rev
        |  FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1),
        |c AS (
        |  SELECT ship_date, rev, CAST(rev * 100 AS BIGINT) * 2 AS r2
        |  FROM daily),
        |rk AS (
        |  SELECT r2, row_number() OVER (ORDER BY r2) AS rn,
        |         COUNT(*) OVER () AS n
        |  FROM c),
        |m AS (
        |  SELECT (SUM(CASE WHEN rn = (n + 1) // 2 THEN r2 ELSE 0 END)
        |        + SUM(CASE WHEN rn = n // 2 + 1 THEN r2 ELSE 0 END)) // 2
        |        AS med2
        |  FROM rk),
        |dv AS (
        |  SELECT c.ship_date, c.rev, abs(c.r2 - m.med2) AS dev2
        |  FROM c, m),
        |drk AS (
        |  SELECT dev2 * 2 AS d4, row_number() OVER (ORDER BY dev2 * 2) AS rn,
        |         COUNT(*) OVER () AS n
        |  FROM dv),
        |mm AS (
        |  SELECT (SUM(CASE WHEN rn = (n + 1) // 2 THEN d4 ELSE 0 END)
        |        + SUM(CASE WHEN rn = n // 2 + 1 THEN d4 ELSE 0 END)) // 2
        |        AS mad4
        |  FROM drk)
        |SELECT dv.ship_date, CAST(dv.rev AS DOUBLE) AS total_revenue,
        |  round(2.0 * CAST(dv.dev2 AS DOUBLE)
        |        / (4.4478 * CAST(mm.mad4 AS DOUBLE)), 6) AS robust_z,
        |  dv.dev2 * 20000 > mm.mad4 * 44478 AS is_outlier
        |FROM dv, mm""".stripMargin),

    // ───── V10: distribution-drift monitor — total-variation
    // distance between two time periods' event-type distributions,
    // the production data-drift check in front of any model retrain
    // (the PSI/TVD monitor family; TVD chosen because it is exactly
    // computable in integers — PSI's logarithm would ride libm and
    // drift cross-engine). Shares are integer ppm by floor division
    // (`(10^6·o) DIV n`, the X83 PMI recipe), the per-bin delta and
    // the TVD (= Σ|Δ|/2) are pure BIGINT arithmetic — bit-identical
    // in any engine. Scale shape: one map-combined |bins|-row
    // aggregate, two 1-row broadcast frames; the event scan is the
    // only data pass. BIGINT headroom to 9·10^12 events per period
    // (then: DECIMAL(38,0), the ppsSample lift).
    "v10_distribution_drift" -> QueryDef.sql(
      (s, dir) => {
        val cut = lit("2024-01-16 00:00:00").cast("timestamp")
        val bins = t(s, dir, "events").groupBy(col("event_type"))
          .agg(
            sum(when(col("ts") < cut, 1L).otherwise(0L)).as("o1"),
            sum(when(col("ts") >= cut, 1L).otherwise(0L)).as("o2"))
        val tot = bins.agg(sum(col("o1")).as("_n1"), sum(col("o2")).as("_n2"))
        val shares = bins.crossJoin(broadcast(tot))
          .select(col("event_type"), col("o1"), col("o2"),
            expr("(1000000L * o1) DIV _n1").as("p1_ppm"),
            expr("(1000000L * o2) DIV _n2").as("p2_ppm"))
          .withColumn("delta_ppm", col("p1_ppm") - col("p2_ppm"))
        val tvd = shares.agg(expr("SUM(abs(delta_ppm)) DIV 2").as("tvd_ppm"))
        shares.crossJoin(broadcast(tvd))
      },
      """WITH bins AS (
        |  SELECT event_type,
        |    SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |             THEN 1 ELSE 0 END) AS o1,
        |    SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |             THEN 1 ELSE 0 END) AS o2
        |  FROM events GROUP BY 1),
        |tot AS (SELECT SUM(o1) AS n1, SUM(o2) AS n2 FROM bins),
        |sh AS (
        |  SELECT event_type,
        |    CAST(o1 AS BIGINT) AS o1, CAST(o2 AS BIGINT) AS o2,
        |    CAST((1000000 * o1) // n1 AS BIGINT) AS p1_ppm,
        |    CAST((1000000 * o2) // n2 AS BIGINT) AS p2_ppm,
        |    CAST((1000000 * o1) // n1
        |         - (1000000 * o2) // n2 AS BIGINT) AS delta_ppm
        |  FROM bins, tot),
        |tv AS (
        |  SELECT CAST(SUM(abs(delta_ppm)) // 2 AS BIGINT) AS tvd_ppm FROM sh)
        |SELECT sh.*, tv.tvd_ppm FROM sh, tv""".stripMargin),

    // ───── P28: transposition-aware fuzzy match pairs — the custom
    // codegen'd true Damerau–Levenshtein expression
    // (plans/DamerauLevenshtein.scala, Lowrance–Wagner 1975) against
    // Spark's built-in levenshtein over blocked candidate pairs.
    // The candidate frame doubles each part with an adjacent-char-
    // swapped twin (the most common human typo class), so the output
    // PROVES the transposition edit is first-class: 4k+ pairs where
    // dl < lev (`transposition_gain` > 0) — a plain-levenshtein or
    // OSA-restricted engine cannot reproduce this frame. Blocking on
    // (brand, name length) keeps the self-join bucket-bounded (the
    // MDM J10 discipline — length is swap-invariant so twins stay
    // co-blocked). The plan is DISTINCT-KERNEL shaped: linkage keys
    // repeat heavily (names, brands, addresses — here 128 distinct
    // names across 400k rows), so the edit-distance kernel runs ONCE
    // per distinct equal-length name pair using the BANDED 3-arg form
    // damerau_levenshtein(a, b, 3) — exact when ≤ 3, capped at 4
    // otherwise, O(k·n) per pair instead of O(n²) — and the
    // qualifying pairs (with their exact dl AND levenshtein, both
    // pure functions of the name pair) broadcast back; id-pair
    // expansion is then two equi-joins that never materialize a
    // NON-qualifying candidate pair. Measured 10.5s → ~1s at sf0.1
    // vs evaluating the DP per id pair (7.4M evaluations for a 640-
    // row kernel). At high name cardinality the kernel join itself
    // would need segment blocking (PassJoin-style); the distinct
    // layer is the right first move either way. Oracle: DuckDB's
    // built-in (uncapped) damerau_levenshtein over the plain blocked
    // join — semantics fuzz-verified identical, the cap provably
    // invisible at threshold 3, and the distinct-kernel plan provably
    // the same row set.
    "p28_damerau_pairs" -> QueryDef.sql(
      (s, dir) => {
        graft.plans.GraftExtensions.register(s) // idempotent
        val p0 = t(s, dir, "part").select("p_partkey", "p_name", "p_brand")
        val swapped = p0.select(
          (col("p_partkey") + 100000L).as("p_partkey"),
          concat(substring(col("p_name"), 2, 1), substring(col("p_name"), 1, 1),
            expr("substring(p_name, 3, 100000)")).as("p_name"),
          col("p_brand"))
        val pp = p0.unionByName(swapped)
        // kernel: distinct names, equal-length pairs, banded DL + lev
        val dn = pp.select(col("p_name").as("_na")).distinct()
        val dn2 = dn.select(col("_na").as("_nb"))
        val q = dn.join(dn2.hint("shuffle_hash"),
            length(col("_na")) === length(col("_nb")))
          .select(col("_na"), col("_nb"),
            expr("damerau_levenshtein(_na, _nb, 3)").as("dl"),
            levenshtein(col("_na"), col("_nb")).as("lev"))
          .filter(col("dl") <= 3)
        // expansion: only qualifying name pairs ever reach id space
        val a = pp.toDF("k1", "n1", "b1")
        val b = pp.toDF("k2", "n2", "b2")
        a.join(broadcast(q), col("n1") === col("_na"))
          .join(b.hint("shuffle_hash"),
            col("_nb") === col("n2") && col("b1") === col("b2") &&
              col("k1") < col("k2"))
          .select(col("k1"), col("k2"), col("dl"), col("lev"),
            (col("lev") - col("dl")).as("transposition_gain"))
      },
      """WITH p0 AS (SELECT p_partkey, p_name, p_brand FROM part),
        |pp AS (
        |  SELECT * FROM p0
        |  UNION ALL
        |  SELECT p_partkey + 100000,
        |    concat(substr(p_name, 2, 1), substr(p_name, 1, 1),
        |           substr(p_name, 3, 100000)),
        |    p_brand
        |  FROM p0)
        |SELECT a.p_partkey AS k1, b.p_partkey AS k2,
        |  damerau_levenshtein(a.p_name, b.p_name) AS dl,
        |  levenshtein(a.p_name, b.p_name) AS lev,
        |  levenshtein(a.p_name, b.p_name)
        |    - damerau_levenshtein(a.p_name, b.p_name) AS transposition_gain
        |FROM pp a JOIN pp b
        |  ON a.p_brand = b.p_brand AND length(a.p_name) = length(b.p_name)
        | AND a.p_partkey < b.p_partkey
        |WHERE damerau_levenshtein(a.p_name, b.p_name) <= 3""".stripMargin),

    // ───── P26: collection-function battery — set algebra over
    // arrays (intersect/union/except return IMPLEMENTATION-DEFINED
    // order in both engines, so every set result is array_sort'ed
    // before comparison), plus flatten/slice/contains/position.
    "p26_array_battery" -> QueryDef.sql(
      (s, dir) => {
        val a = split(lower(col("s_name")), "")
        val b = split(lit("supplier"), "")
        t(s, dir, "supplier").select(
          col("s_suppkey"),
          array_join(array_sort(array_distinct(a)), "|").as("chars"),
          array_join(array_sort(array_intersect(array_distinct(a),
            array_distinct(b))), "|").as("inter"),
          array_join(array_sort(array_union(array_distinct(a),
            array_distinct(b))), "|").as("uni"),
          array_join(array_sort(array_except(array_distinct(a),
            array_distinct(b))), "|").as("exc"),
          array_contains(a, "e").as("has_e"),
          array_position(a, "e").cast("int").as("pos_e"),
          array_join(slice(array_sort(array_distinct(a)), 1, 3), "|")
            .as("first3"),
          array_join(flatten(array(slice(a, 1, 2), slice(a, 3, 2))), "|")
            .as("flat4"))
      },
      """WITH base AS (
        |  SELECT s_suppkey,
        |    string_split_regex(lower(s_name), '') AS a,
        |    string_split_regex('supplier', '') AS b
        |  FROM supplier)
        |SELECT s_suppkey,
        |  array_to_string(list_sort(list_distinct(a)), '|') AS chars,
        |  array_to_string(list_sort(list_intersect(list_distinct(a),
        |      list_distinct(b))), '|') AS inter,
        |  array_to_string(list_sort(list_distinct(a || b)), '|') AS uni,
        |  array_to_string(list_sort(list_filter(list_distinct(a),
        |      x -> NOT list_contains(list_distinct(b), x))), '|') AS exc,
        |  list_contains(a, 'e') AS has_e,
        |  CAST(COALESCE(list_position(a, 'e'), 0) AS INTEGER) AS pos_e,
        |  array_to_string(list_sort(list_distinct(a))[1:3], '|') AS first3,
        |  array_to_string(flatten([a[1:2], a[3:4]]), '|') AS flat4
        |FROM base""".stripMargin),

    // ───── P27: null-semantics battery — the cross-engine trip
    // wires: null-safe equality (Spark `<=>` ≡ SQL IS NOT DISTINCT
    // FROM), null propagation through arithmetic, coalesce/nullif,
    // and EXPLICIT null placement in window ordering (Spark defaults
    // nulls FIRST ascending, DuckDB defaults nulls LAST — the battery
    // pins asc_nulls_last against an explicit NULLS LAST so the
    // default divergence can never leak into a query silently).
    "p27_null_semantics" -> QueryDef.sql(
      (s, dir) => {
        val w = Window.orderBy(
          col("bal_n").asc_nulls_last, col("s_suppkey").asc)
        t(s, dir, "supplier")
          .withColumn("bal_n",
            when(col("s_suppkey") % 5 === 0, lit(null).cast("double"))
              .otherwise(col("s_acctbal")))
          .select(
            col("s_suppkey"), col("bal_n"),
            coalesce(col("bal_n"), lit(-1.0)).as("coal"),
            nullif(col("s_suppkey") % 3, lit(0)).as("nif"),
            (col("bal_n") <=> lit(null).cast("double")).as("is_null_safe"),
            (col("bal_n") + 1.0).as("plus1"),
            (col("bal_n") > 0).as("gt0"),
            row_number().over(w).cast("int").as("rn_nulls_last"))
      },
      """WITH base AS (
        |  SELECT s_suppkey,
        |    CASE WHEN s_suppkey % 5 = 0 THEN NULL ELSE s_acctbal END AS bal_n
        |  FROM supplier)
        |SELECT s_suppkey, bal_n,
        |  coalesce(bal_n, -1.0) AS coal,
        |  nullif(s_suppkey % 3, 0) AS nif,
        |  (bal_n IS NOT DISTINCT FROM NULL) AS is_null_safe,
        |  bal_n + 1.0 AS plus1,
        |  bal_n > 0 AS gt0,
        |  CAST(row_number() OVER (ORDER BY bal_n ASC NULLS LAST, s_suppkey ASC)
        |       AS INTEGER) AS rn_nulls_last
        |FROM base""".stripMargin),

    // ───── W4: the rank-function family — rank / dense_rank (tie
    // behavior), percent_rank / cume_dist (standard (rank−1)/(n−1)
    // and ≤-fraction definitions, deterministic under ties), and
    // ntile deciles over a TOTALLY ordered window (ntile depends on
    // row order, so ties are broken by key).
    "w04_rank_battery" -> QueryDef.sql(
      (s, dir) => {
        val byPrice = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc)
        val total = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders").select(
          col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          rank().over(byPrice).cast("int").as("rnk"),
          dense_rank().over(byPrice).cast("int").as("drnk"),
          round(percent_rank().over(byPrice), 9).as("pct_rank"),
          round(cume_dist().over(byPrice), 9).as("cume"),
          ntile(10).over(total).cast("int").as("decile"))
      },
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(rank() OVER wp AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER wp AS INTEGER) AS drnk,
        |  round(percent_rank() OVER wp, 9) AS pct_rank,
        |  round(cume_dist() OVER wp, 9) AS cume,
        |  CAST(ntile(10) OVER wt AS INTEGER) AS decile
        |FROM orders
        |WINDOW wp AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC),
        |       wt AS (PARTITION BY o_orderpriority
        |              ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin),

    // ───── W3: gap-filled daily resample — each supplier's revenue
    // series completed over its own [min, max] date span (sequence +
    // explode builds the per-key spine IN-ROW from the 2-column
    // bounds aggregate — the corpus never joins a global calendar),
    // missing days filled with 0. The left join back to daily revenue
    // shuffles spine rows (keys × days), not lineitem.
    "w03_resample_daily" -> QueryDef.sql(
      (s, dir) => {
        val daily = t(s, dir, "lineitem")
          .filter(col("l_extendedprice") > 0)
          .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("ship_date"))
          .agg(exactSum(col("l_extendedprice")).as("total_revenue"))
        val spine = daily.groupBy(col("l_suppkey"))
          .agg(min(col("ship_date")).as("_lo"), max(col("ship_date")).as("_hi"))
          .select(col("l_suppkey"),
            explode(sequence(col("_lo"), col("_hi"))).as("ship_date"))
          // re-key AFTER the explode: AQE sizes the bounds exchange on
          // the tiny pre-explode bytes and coalesces it to ~1
          // partition, then Generate inflates keys×days rows onto that
          // one task. A plain same-key repartition is optimizer-removed
          // as redundant (the child is already hash-partitioned by
          // l_suppkey); REBALANCE survives and lets AQE size the
          // downstream work on the REAL post-explode spine volume.
          .hint("rebalance", col("l_suppkey"))
        spine.join(daily, Seq("l_suppkey", "ship_date"), "left")
          .select(col("l_suppkey"), col("ship_date"),
            coalesce(col("total_revenue"), lit(0.0)).as("total_revenue"),
            col("total_revenue").isNotNull.as("had_sales"))
      },
      """WITH daily AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS ship_date,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS total_revenue
        |  FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1, 2),
        |bounds AS (
        |  SELECT l_suppkey, MIN(ship_date) AS lo, MAX(ship_date) AS hi
        |  FROM daily GROUP BY 1),
        |spine AS (
        |  SELECT l_suppkey, CAST(unnest(generate_series(lo, hi,
        |         INTERVAL 1 DAY)) AS DATE) AS ship_date
        |  FROM bounds)
        |SELECT s.l_suppkey, s.ship_date,
        |       COALESCE(d.total_revenue, 0.0) AS total_revenue,
        |       d.total_revenue IS NOT NULL AS had_sales
        |FROM spine s LEFT JOIN daily d
        |  ON s.l_suppkey = d.l_suppkey AND s.ship_date = d.ship_date""".stripMargin),

    // ───── W2: framed window — 7-row trailing moving average of
    // per-supplier daily revenue (ROWS BETWEEN 6 PRECEDING AND
    // CURRENT ROW). The frame sum rides the exact DECIMAL through the
    // window (FP window accumulation order is engine-internal; the
    // decimal sum is order-free), cast double only at the division.
    // One shuffle on the partition key; the frame walk is per-task.
    "w02_moving_avg" -> QueryDef.sql(
      (s, dir) => {
        val daily = t(s, dir, "lineitem")
          .filter(col("l_extendedprice") > 0)
          .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("ship_date"))
          .agg(sum(col("l_extendedprice").cast("decimal(30,2)")).as("_rev_dec"))
        val w = Window.partitionBy(col("l_suppkey")).orderBy(col("ship_date"))
          .rowsBetween(-6, 0)
        daily.select(
          col("l_suppkey"), col("ship_date"),
          col("_rev_dec").cast("double").as("total_revenue"),
          round(sum(col("_rev_dec")).over(w).cast("double") /
            count(lit(1)).over(w).cast("double"), 4).as("moving_avg_7"))
      },
      """WITH daily AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS ship_date,
        |         SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS rev_dec
        |  FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1, 2)
        |SELECT l_suppkey, ship_date,
        |       CAST(rev_dec AS DOUBLE) AS total_revenue,
        |       round(CAST(SUM(rev_dec) OVER w AS DOUBLE)
        |             / CAST(COUNT(*) OVER w AS DOUBLE), 4) AS moving_avg_7
        |FROM daily
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY ship_date
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin),

    // ───── A12: ROLLUP subtotal hierarchy over (nation, segment)
    // revenue. Scale shape (r12 confirmed the naive form as the
    // round's worst 10× cliff, 19.7×): Spark's grouping-set expand
    // multiplies every FACT row ×(sets) BEFORE the exchange, so a
    // direct rollup over the join output shuffles 3×|orders⋈customer|.
    // Instead pre-aggregate to the bounded (n_name, c_mktsegment)
    // frame first — ONE fact-sized, map-side-combined exchange — then
    // ROLLUP over the ≤|nations|×|segments| frame: the subtotal
    // hierarchy costs a second exchange over ~150 rows. Decimal state
    // carries through both levels (sum-of-sums is exact), so the
    // result is bit-identical to the one-pass form. GROUPING() flags
    // distinguish subtotal rows from genuine values.
    "a12_rollup_revenue" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"), col("c_mktsegment"))
          .agg(
            sum(col("o_totalprice").cast("decimal(30,2)")).as("_sales_dec"),
            count(lit(1)).as("_n"))
          .rollup(col("n_name"), col("c_mktsegment"))
          .agg(
            sum(col("_sales_dec")).cast("double").as("total_sales"),
            sum(col("_n")).as("n_orders"),
            grouping(col("n_name")).as("_g_nation"),
            grouping(col("c_mktsegment")).as("_g_segment"))
          .select(
            when(col("_g_nation") === 1, "ALL")
              .otherwise(col("n_name")).as("nation"),
            when(col("_g_segment") === 1, "ALL")
              .otherwise(col("c_mktsegment")).as("segment"),
            col("total_sales"), col("n_orders")),
      """SELECT CASE WHEN GROUPING(n_name) = 1 THEN 'ALL' ELSE n_name END AS nation,
        |       CASE WHEN GROUPING(c_mktsegment) = 1 THEN 'ALL'
        |            ELSE c_mktsegment END AS segment,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total_sales,
        |       COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, c_mktsegment)""".stripMargin),

    // ───── A18: GROUPING SETS — the general form a12's ROLLUP is a
    // special case of: per-nation totals, per-segment totals, and the
    // grand total WITHOUT the (nation, segment) cross rows a rollup
    // would add. Same scale shape as a12 (the naive form was 10×-
    // flagged in r12 for the same reason — the set expand runs ×3
    // below the fact-sized exchange): pre-aggregate to the bounded
    // (n_name, c_mktsegment) frame in one map-side-combined shuffle,
    // then expand the sets over ~150 rows; decimal sum-of-sums keeps
    // the result exact. SQL-only surface (the DataFrame API exposes
    // rollup/cube but not arbitrary sets).
    "a18_grouping_sets" -> QueryDef.sql(
      (s, dir) => {
        // dir-unique view names (see j07 note)
        val sfx = java.lang.Integer.toHexString(dir.hashCode)
        t(s, dir, "orders").createOrReplaceTempView(s"orders_v_$sfx")
        t(s, dir, "customer").createOrReplaceTempView(s"customer_v_$sfx")
        t(s, dir, "nation").createOrReplaceTempView(s"nation_v_$sfx")
        s.sql(
          s"""WITH base AS (
            |  SELECT n_name, c_mktsegment,
            |         SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS sales_dec,
            |         COUNT(*) AS n
            |  FROM orders_v_$sfx
            |  JOIN customer_v_$sfx ON o_custkey = c_custkey
            |  JOIN nation_v_$sfx ON c_nationkey = n_nationkey
            |  GROUP BY n_name, c_mktsegment)
            |SELECT
            |  CASE WHEN GROUPING(n_name) = 1 THEN 'ALL' ELSE n_name END AS nation,
            |  CASE WHEN GROUPING(c_mktsegment) = 1 THEN 'ALL'
            |       ELSE c_mktsegment END AS segment,
            |  CAST(SUM(sales_dec) AS DOUBLE) AS total_sales,
            |  SUM(n) AS n_orders
            |FROM base
            |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())""".stripMargin)
      },
      """SELECT
        |  CASE WHEN GROUPING(n_name) = 1 THEN 'ALL' ELSE n_name END AS nation,
        |  CASE WHEN GROUPING(c_mktsegment) = 1 THEN 'ALL'
        |       ELSE c_mktsegment END AS segment,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total_sales,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())""".stripMargin),

    // ───── A19: native pivot — a09's boolean-sum pivot through
    // Spark's relational pivot operator, with the value list EXPLICIT
    // (the discovery variant runs an extra distinct pass over the
    // pivot column at plan time — fine for a bounded domain, a scan
    // you don't want at 100 TB, so the explicit form is the
    // registered shape). Two-phase plan: (key, status) aggregate,
    // then pivotfirst regrouped on the key — both map-side combined,
    // the second exchange over the domain-bounded frame.
    "a19_pivot_status" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(col("o_orderpriority"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(exactSum(col("o_totalprice")))
          .select(col("o_orderpriority"),
            coalesce(col("F"), lit(0.0)).as("sales_f"),
            coalesce(col("O"), lit(0.0)).as("sales_o"),
            coalesce(col("P"), lit(0.0)).as("sales_p")),
      """SELECT o_orderpriority,
        |  CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(o_totalprice AS DECIMAL(30,2)) END), 0) AS DOUBLE) AS sales_f,
        |  CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(o_totalprice AS DECIMAL(30,2)) END), 0) AS DOUBLE) AS sales_o,
        |  CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(o_totalprice AS DECIMAL(30,2)) END), 0) AS DOUBLE) AS sales_p
        |FROM orders GROUP BY 1""".stripMargin),

    // ───── J16: correlated scalar subquery — the SQL-surface form
    // every migrating workload carries. Catalyst de-correlates it to
    // a left outer join against the pre-aggregated subquery (plan-
    // checked: no per-row re-execution), which is exactly the shape
    // you'd hand-write — the point is that the DECLARATIVE form plans
    // correctly.
    "j16_correlated_scalar" -> QueryDef.sql(
      (s, dir) => {
        // dir-unique view names (see j07 note)
        val sfx = java.lang.Integer.toHexString(dir.hashCode)
        t(s, dir, "customer").createOrReplaceTempView(s"customer_v_$sfx")
        t(s, dir, "orders").createOrReplaceTempView(s"orders_v_$sfx")
        s.sql(
          s"""SELECT c_custkey,
            |  (SELECT MAX(o_totalprice) FROM orders_v_$sfx
            |   WHERE o_custkey = c_custkey) AS max_order_price
            |FROM customer_v_$sfx""".stripMargin)
      },
      """SELECT c_custkey,
        |  (SELECT MAX(o_totalprice) FROM orders
        |   WHERE o_custkey = c_custkey) AS max_order_price
        |FROM customer""".stripMargin),

    // ───── W5: RANGE frame over a VALUE distance — the calendar
    // twin of w02's ROWS frame: the trailing-7-day revenue sum per
    // supplier ranges over day-number DISTANCE, so gap days shrink
    // the window (a ROWS frame would silently reach back across
    // gaps) and tied days aggregate together. Day numbers (epoch-day
    // ints) on BOTH sides keep the frame semantics engine-identical
    // without interval-type quirks.
    "w05_range_day_frame" -> QueryDef.sql(
      (s, dir) => {
        val daily = t(s, dir, "lineitem")
          .filter(col("l_extendedprice") > 0)
          .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("ship_date"))
          .agg(sum(col("l_extendedprice").cast("decimal(30,2)")).as("_rev"))
          .withColumn("_day", datediff(col("ship_date"), lit("1970-01-01")))
        val w = Window.partitionBy(col("l_suppkey")).orderBy(col("_day"))
          .rangeBetween(-6, 0)
        daily.select(col("l_suppkey"), col("ship_date"),
          sum(col("_rev")).over(w).cast("double").as("trailing_7d_revenue"))
      },
      """WITH daily AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS ship_date,
        |         SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS rev,
        |         date_diff('day', DATE '1970-01-01',
        |                   CAST(l_shipdate AS DATE)) AS day_num
        |  FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1, 2, 4)
        |SELECT l_suppkey, ship_date,
        |       CAST(SUM(rev) OVER (PARTITION BY l_suppkey ORDER BY day_num
        |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         AS trailing_7d_revenue
        |FROM daily""".stripMargin),

    // ───── O4: deterministic top-k (ref dq-governance-gate lambda :30-34)
    "o04_topk_orders" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "orders")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .limit(10),
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // ───── O5: longest-string survivorship (ref fuzzy_match.py:121-132)
    "o05_survivorship" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "part").select(
          col("p_partkey"),
          longestString(col("p_type"), col("p_brand")).as("golden_value")),
      """SELECT p_partkey,
        |  CASE WHEN length(coalesce(p_type, '')) >= length(coalesce(p_brand, ''))
        |       THEN p_type ELSE p_brand END AS golden_value
        |FROM part""".stripMargin),

    // ───── T1: EXCEPT (ref Glue Job.py:57 subtract)
    "t01_except" -> QueryDef.sql(
      (s, dir) => {
        val orders = t(s, dir, "orders")
        orders.filter(col("o_totalprice") > 100000).select(col("o_custkey").as("custkey"))
          .except(orders.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey")))
      },
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin),

    // ───── T2: unionByName with source tags (ref lifecycle pd.concat)
    "t02_union_tagged" -> QueryDef.sql(
      (s, dir) => {
        val supp = t(s, dir, "supplier").select(col("s_name").as("name"), lit("supplier").as("src"))
        val cust = t(s, dir, "customer").select(col("c_name").as("name"), lit("customer").as("src"))
        supp.unionByName(cust)
      },
      """SELECT s_name AS name, 'supplier' AS src FROM supplier
        |UNION ALL
        |SELECT c_name AS name, 'customer' AS src FROM customer""".stripMargin),

    // ───── T3: UNPIVOT/melt — wide per-supplier metrics to long
    // (metric, value) rows via the stack() generator (one pass, no
    // join; the inverse of a09_status_pivot's PIVOT).
    "t03_unpivot_metrics" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "supplier")
          .select(col("s_suppkey"),
            expr("stack(2, 'acctbal', s_acctbal, " +
              "'nationkey', CAST(s_nationkey AS DOUBLE)) AS (metric, value)")),
      """SELECT s_suppkey, 'acctbal' AS metric, s_acctbal AS value FROM supplier
        |UNION ALL
        |SELECT s_suppkey, 'nationkey', CAST(s_nationkey AS DOUBLE) FROM supplier""".stripMargin),

    // ───── T4: INTERSECT — the set-op family's last member (t01
    // EXCEPT, t02 UNION): customers with both a >100k order AND a
    // finished order. Plans as a left-semi aggregate join, one
    // shuffle per side.
    "t04_intersect" -> QueryDef.sql(
      (s, dir) => {
        val orders = t(s, dir, "orders")
        orders.filter(col("o_totalprice") > 100000)
          .select(col("o_custkey").as("custkey"))
          .intersect(orders.filter(col("o_orderstatus") === "F")
            .select(col("o_custkey").as("custkey")))
      },
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin),

    // ───── W6: offset/value window battery — lag/lead deltas and
    // first/last/nth frame values per supplier-day revenue series
    // (lag is proven inside the sessionization queries; this gates
    // the full offset-function surface in one window). One daily
    // aggregate shuffle + one supplier window shuffle; last_value
    // rides the explicit full frame (the default frame ends at
    // CURRENT ROW — a classic silent-migration bug, pinned here).
    "w06_offset_battery" -> QueryDef.sql(
      (s, dir) => {
        val daily = t(s, dir, "lineitem")
          .filter(col("l_extendedprice") > 0)
          .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("ship_date"))
          .agg(sum(col("l_extendedprice").cast("decimal(30,2)")).as("_rev"))
        val w = Window.partitionBy(col("l_suppkey")).orderBy(col("ship_date"))
        val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        daily.select(col("l_suppkey"), col("ship_date"),
          col("_rev").cast("double").as("revenue"),
          (col("_rev") - lag(col("_rev"), 1).over(w)).cast("double")
            .as("delta_prev"),
          lead(col("_rev"), 2).over(w).cast("double").as("rev_plus2"),
          first(col("_rev")).over(w).cast("double").as("first_rev"),
          last(col("_rev")).over(wFull).cast("double").as("last_rev"),
          nth_value(col("_rev"), 3).over(wFull).cast("double").as("third_rev"))
      },
      """WITH daily AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS ship_date,
        |         SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS rev
        |  FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1, 2)
        |SELECT l_suppkey, ship_date,
        |  CAST(rev AS DOUBLE) AS revenue,
        |  CAST(rev - lag(rev, 1) OVER w AS DOUBLE) AS delta_prev,
        |  CAST(lead(rev, 2) OVER w AS DOUBLE) AS rev_plus2,
        |  CAST(first_value(rev) OVER w AS DOUBLE) AS first_rev,
        |  CAST(last_value(rev) OVER wf AS DOUBLE) AS last_rev,
        |  CAST(nth_value(rev, 3) OVER wf AS DOUBLE) AS third_rev
        |FROM daily
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY ship_date),
        |       wf AS (PARTITION BY l_suppkey ORDER BY ship_date
        |              ROWS BETWEEN UNBOUNDED PRECEDING
        |                       AND UNBOUNDED FOLLOWING)""".stripMargin),

    // ───── W7: EWMA smoothing with a DYADIC decay (α = 1/2) over the
    // trailing 8 observations — the feature-engineering staple
    // (recency-weighted revenue) made ENGINE-EXACT: weights 2^(7−i)
    // are integers, revenue is cents, so numerator/denominator/EWMA
    // are pure BIGINT and the result is bit-identical in any engine
    // (a general α^i EWMA rides libm pow cross-engine). Eight
    // explicit lag() columns over ONE window — a single pass, fully
    // codegen'd, no frame re-aggregation per row; missing leading
    // observations drop their weight from the denominator (the
    // standard adjusted/bias-corrected EWM form).
    "w07_ewma_dyadic" -> QueryDef.sql(
      (s, dir) => {
        val daily = t(s, dir, "lineitem")
          .filter(col("l_extendedprice") > 0)
          .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("d"))
          .agg((sum(col("l_extendedprice").cast("decimal(30,2)")) * 100)
            .cast("long").as("cents"))
        val w = Window.partitionBy(col("l_suppkey")).orderBy(col("d"))
        val terms = (0 to 7).map { i =>
          val weight = lit(1L << (7 - i))
          val x = if (i == 0) col("cents") else lag(col("cents"), i).over(w)
          (coalesce(x * weight, lit(0L)),
            when(x.isNotNull, weight).otherwise(lit(0L)))
        }
        val num = terms.map(_._1).reduce(_ + _)
        val den = terms.map(_._2).reduce(_ + _)
        daily.select(col("l_suppkey"), col("d"), col("cents"),
          num.as("ewma_num"), den.as("ewma_den"))
          .withColumn("ewma_cents", expr("ewma_num DIV ewma_den"))
      }, {
        // lag terms unrolled (DuckDB cannot run window functions
        // inside list-comprehension lambdas); positives only, so
        // Spark DIV (truncate) == DuckDB // (floor)
        val nums = (0 to 7).map { i =>
          val wgt = 1L << (7 - i)
          if (i == 0) s"cents * $wgt"
          else s"COALESCE(lag(cents, $i) OVER w * $wgt, 0)"
        }.mkString(" + ")
        val dens = (0 to 7).map { i =>
          val wgt = 1L << (7 - i)
          if (i == 0) s"$wgt"
          else s"CASE WHEN lag(cents, $i) OVER w IS NOT NULL THEN $wgt ELSE 0 END"
        }.mkString(" + ")
        s"""WITH daily AS (
           |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
           |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) * 100 AS BIGINT)
           |      AS cents
           |  FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1, 2),
           |lagged AS (
           |  SELECT l_suppkey, d, cents,
           |    $nums AS ewma_num,
           |    $dens AS ewma_den
           |  FROM daily
           |  WINDOW w AS (PARTITION BY l_suppkey ORDER BY d))
           |SELECT l_suppkey, d, cents, ewma_num, ewma_den,
           |  ewma_num // ewma_den AS ewma_cents
           |FROM lagged""".stripMargin
      }),

    // ───── A25: Herfindahl–Hirschman concentration index — supplier
    // revenue concentration as Σ share², shares in integer basis
    // points of BIGINT cents (the a21/X90 recipe: BIGINT//BIGINT is
    // exact integral division; DECIMAL // is not). HHI > 2500 is the
    // regulator's "highly concentrated" line; here it is an exact
    // integer, so the alert threshold can't flap on float noise. Two
    // cascaded aggs + one 1-row total frame; supplier-bounded.
    "a25_hhi_concentration" -> QueryDef.sql(
      (s, dir) => {
        val bySupp = t(s, dir, "lineitem")
          .filter(col("l_extendedprice") > 0)
          .groupBy(col("l_suppkey"))
          .agg((sum(col("l_extendedprice").cast("decimal(30,2)")) * 100)
            .cast("long").as("cents"))
        val total = bySupp.agg(sum(col("cents")).cast("long").as("_tot"))
        bySupp.crossJoin(broadcast(total))
          .select(expr("cents * 10000L DIV _tot").as("share_bp"))
          .agg(count(lit(1)).as("n_suppliers"),
            sum(col("share_bp") * col("share_bp")).as("hhi"),
            max(col("share_bp")).as("top_share_bp"))
      },
      """WITH s AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) * 100
        |      AS BIGINT) AS cents
        |  FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1),
        |t AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot FROM s),
        |sh AS (SELECT cents * 10000 // tot AS share_bp FROM s, t)
        |SELECT COUNT(*) AS n_suppliers,
        |  CAST(SUM(share_bp * share_bp) AS BIGINT) AS hhi,
        |  CAST(MAX(share_bp) AS BIGINT) AS top_share_bp
        |FROM sh""".stripMargin),

    // ───── W8: calendar gap-fill with LAST-OBSERVATION-CARRIED-
    // FORWARD — the imputation for STATE-like series (balances,
    // inventory, sensor readings) where w03's zero-fill is wrong: a
    // missing day means "unchanged", not "zero". Spine explode +
    // one left join + ONE window pass carrying both the last value
    // and its observation date (gap_age_days = how stale the carried
    // value is — the staleness column downstream SLAs key on). All
    // integer cents/dates; spine bounded per key by its own
    // [min, max] date span.
    "w08_gap_fill_locf" -> QueryDef.sql(
      (s, dir) => {
        val daily = t(s, dir, "lineitem")
          .filter(col("l_extendedprice") > 0)
          .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("d"))
          .agg((sum(col("l_extendedprice").cast("decimal(30,2)")) * 100)
            .cast("long").as("obs_cents"))
        val spine = daily.groupBy(col("l_suppkey"))
          .agg(min(col("d")).as("_lo"), max(col("d")).as("_hi"))
          .select(col("l_suppkey"),
            explode(sequence(col("_lo"), col("_hi"))).as("d"))
          // post-explode re-key (same reason as w03_resample_daily):
          // without it the LOCF window inherits the bounds exchange's
          // AQE-coalesced ~1 partition and runs keys×days rows
          // serially; REBALANCE (not a same-key repartition, which the
          // optimizer removes as redundant) re-sizes on real bytes
          .hint("rebalance", col("l_suppkey"))
        val w = Window.partitionBy(col("l_suppkey")).orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(daily, Seq("l_suppkey", "d"), "left")
          .select(col("l_suppkey"), col("d"), col("obs_cents"),
            last(col("obs_cents"), ignoreNulls = true).over(w)
              .as("filled_cents"),
            datediff(col("d"),
              last(when(col("obs_cents").isNotNull, col("d")),
                ignoreNulls = true).over(w)).as("gap_age_days"))
      },
      """WITH daily AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) * 100
        |      AS BIGINT) AS obs_cents
        |  FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1, 2),
        |bounds AS (
        |  SELECT l_suppkey, MIN(d) AS lo, MAX(d) AS hi FROM daily
        |  GROUP BY 1),
        |spine AS (
        |  SELECT l_suppkey, CAST(unnest(generate_series(lo, hi,
        |    INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM bounds),
        |j AS (
        |  SELECT s.l_suppkey, s.d, daily.obs_cents
        |  FROM spine s LEFT JOIN daily USING (l_suppkey, d))
        |SELECT l_suppkey, d, obs_cents,
        |  last_value(obs_cents IGNORE NULLS) OVER w AS filled_cents,
        |  CAST(date_diff('day',
        |    last_value(CASE WHEN obs_cents IS NOT NULL THEN d END
        |      IGNORE NULLS) OVER w, d) AS INTEGER) AS gap_age_days
        |FROM j
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY d
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),

    // ───── O8: KEYSET pagination — page 3 of the order book by
    // (o_orderdate, o_orderkey) cursor, the serving pattern that
    // stays O(page) at any depth: `WHERE (d, k) > (cursor_d,
    // cursor_k)` prunes at the SCAN (min/max row-group stats cover
    // the leading date), then TakeOrderedAndProject keeps only the
    // page — where OFFSET must sort and discard every earlier row,
    // and page 1,000,000 costs a million rows. The cursor is the
    // previous page's last key, fixed here for determinism.
    "o08_keyset_page" -> QueryDef.sql(
      (s, dir) =>
        t(s, dir, "orders")
          .filter(col("o_orderdate") > lit("1995-06-15").cast("timestamp") ||
            (col("o_orderdate") === lit("1995-06-15").cast("timestamp") &&
              col("o_orderkey") > 1000L))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .limit(20)
          .select(col("o_orderkey"), col("o_orderdate"),
            (col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long").as("cents")),
      """SELECT o_orderkey, o_orderdate,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS cents
        |FROM orders
        |WHERE o_orderdate > TIMESTAMP '1995-06-15'
        |   OR (o_orderdate = TIMESTAMP '1995-06-15' AND o_orderkey > 1000)
        |ORDER BY o_orderdate, o_orderkey
        |LIMIT 20""".stripMargin),

    // ───── J15: null-aware anti join — NOT IN against a subquery
    // that CONTAINS a NULL must return ZERO rows (three-valued logic:
    // `x NOT IN (..., NULL)` is never true), where NOT EXISTS / anti
    // join returns the plain complement. Spark plans the NOT IN as a
    // BroadcastNestedLoopJoin with a null-aware condition — this
    // gates the semantic, and the companion rows prove the engine
    // did not silently rewrite it to a plain anti join.
    "j15_not_in_nulls" -> QueryDef.sql(
      (s, dir) => {
        // dir-unique view names (see j07 note)
        val sfx = java.lang.Integer.toHexString(dir.hashCode)
        t(s, dir, "supplier").createOrReplaceTempView(s"_j15_supp_$sfx")
        // key set with an injected NULL: every 5th key, plus NULL
        t(s, dir, "supplier")
          .select(when(col("s_suppkey") % 5 === 0, col("s_suppkey"))
            .otherwise(lit(null)).as("k"))
          .createOrReplaceTempView(s"_j15_keys_$sfx")
        s.sql(
          s"""SELECT 'not_in_with_null' AS variant, COUNT(*) AS n
            |FROM _j15_supp_$sfx WHERE s_suppkey NOT IN (SELECT k FROM _j15_keys_$sfx)
            |UNION ALL
            |SELECT 'not_in_no_null', COUNT(*)
            |FROM _j15_supp_$sfx
            |WHERE s_suppkey NOT IN (SELECT k FROM _j15_keys_$sfx WHERE k IS NOT NULL)
            |UNION ALL
            |SELECT 'not_exists', COUNT(*)
            |FROM _j15_supp_$sfx s
            |WHERE NOT EXISTS (SELECT 1 FROM _j15_keys_$sfx n WHERE n.k = s.s_suppkey)""".stripMargin)
      },
      """WITH keys AS (
        |  SELECT CASE WHEN s_suppkey % 5 = 0 THEN s_suppkey END AS k
        |  FROM supplier)
        |SELECT 'not_in_with_null' AS variant, COUNT(*) AS n
        |FROM supplier WHERE s_suppkey NOT IN (SELECT k FROM keys)
        |UNION ALL
        |SELECT 'not_in_no_null', COUNT(*)
        |FROM supplier WHERE s_suppkey NOT IN (SELECT k FROM keys WHERE k IS NOT NULL)
        |UNION ALL
        |SELECT 'not_exists', COUNT(*)
        |FROM supplier s
        |WHERE NOT EXISTS (SELECT 1 FROM keys n WHERE n.k = s.s_suppkey)""".stripMargin),

    // ───── skew lever: two-phase salted aggregation — must equal the
    // plain grouped aggregation exactly (decimal partials merge
    // losslessly), which is precisely what the oracle asserts
    "skew_salted_agg" -> QueryDef.sql(
      (s, dir) =>
        graft.operators.Skew.saltedSumCount(
          t(s, dir, "lineitem"), Seq("l_returnflag"), "l_extendedprice",
          distributeBy = col("l_orderkey"), factor = 8),
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_l_extendedprice,
        |  COUNT(*) AS count
        |FROM lineitem GROUP BY 1""".stripMargin),

    // ───── skew bench pair: deterministic per-key ranking over a
    // 40%-hot key, unsalted (single-reducer window — the shuffle shape
    // AQE can't split) vs salted (bucket-rank + offset merge,
    // Skew.saltedRank). Identical output, same oracle; the recorded
    // bench delta IS the evidence the salting lever pays at scale.
    "skew_rank_unsalted" -> QueryDef.sql(
      (s, dir) => {
        val f = skewRankInput(s, dir)
        import org.apache.spark.sql.expressions.Window
        f.withColumn("pos",
          row_number().over(Window.partitionBy(col("hot_key"))
            .orderBy(md5(concat(lit("skew"), col("line_id").cast("string"))),
              col("line_id"))).cast("long"))
      },
      skewRankOracle),

    "skew_rank_salted" -> QueryDef.sql(
      (s, dir) =>
        graft.operators.Skew.saltedRank(
          skewRankInput(s, dir), Seq("hot_key"), "line_id", seed = "skew"),
      skewRankOracle),

    // ───── S7: in-memory literal source (ref nyc_raw_to_validated_etl.py:106-115)
    "s07_literal_metrics" -> QueryDef.sql(
      (s, dir) => {
        import s.implicits._
        Seq(("run_20240101", "raw_to_validated", 1000L, 990L, 10L, "SUCCESS"))
          .toDF("run_id", "job_name", "records_read", "records_valid",
            "records_quarantined", "status")
      },
      """SELECT 'run_20240101' AS run_id, 'raw_to_validated' AS job_name,
        |  CAST(1000 AS BIGINT) AS records_read, CAST(990 AS BIGINT) AS records_valid,
        |  CAST(10 AS BIGINT) AS records_quarantined, 'SUCCESS' AS status""".stripMargin),

    // ───── J7: CTE join via spark.sql over temp views
    // (ref daily_vendor_revenue.sql:29-53; runner transform_check.py:50-62)
    "j07_cte_nation_revenue" -> QueryDef.sql(
      (s, dir) => {
        // dir-unique view names: replacing a shared temp view between
        // two instantiations of the same query (base vs scaled dirs —
        // the ScaleOracle shape) triggers Spark's dependent-cache
        // recache against stale exprIds ("key not found: o_custkey#N")
        val sfx = java.lang.Integer.toHexString(dir.hashCode)
        t(s, dir, "orders").createOrReplaceTempView(s"orders_v_$sfx")
        t(s, dir, "customer").createOrReplaceTempView(s"customer_v_$sfx")
        t(s, dir, "nation").createOrReplaceTempView(s"nation_v_$sfx")
        s.sql(
          s"""WITH base AS (
            |  SELECT o.o_totalprice, c.c_nationkey
            |  FROM orders_v_$sfx o JOIN customer_v_$sfx c ON o.o_custkey = c.c_custkey
            |  WHERE o.o_totalprice > 0)
            |SELECT n.n_name AS nation_name,
            |       CAST(SUM(CAST(b.o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total_revenue,
            |       COUNT(*) AS order_count
            |FROM base b JOIN nation_v_$sfx n ON b.c_nationkey = n.n_nationkey
            |GROUP BY n.n_name""".stripMargin)
      },
      """WITH base AS (
        |  SELECT o.o_totalprice, c.c_nationkey
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE o.o_totalprice > 0)
        |SELECT n.n_name AS nation_name,
        |       CAST(SUM(CAST(b.o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total_revenue,
        |       COUNT(*) AS order_count
        |FROM base b JOIN nation n ON b.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name""".stripMargin)
  )
}
