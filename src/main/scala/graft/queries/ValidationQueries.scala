package graft.queries

import graft.QueryDef
import graft.operators.{Enrichment, SqlWorkflow, Validation}
import graft.operators.SqlWorkflow.{QualityCheck, TestStep, Transform}
import graft.operators.Validation._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Queries exercising the declarative DQ rule engine, the enrichment
  * operator, and the end-to-end curated pipeline (SURVEY.md §7.2
  * steps 2-3) with DuckDB oracle twins.
  */
object ValidationQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** The lineitem rule suite used across these queries — shaped after
    * the reference's governance rule files (not_null / positive /
    * between / allowed_values, `governance/data_quality_rules.json`).
    */
  val lineitemRules: Seq[Rule] = Seq(
    NotNull("l_shipdate"),
    GreaterThan("l_quantity", 0),
    Between("l_discount", 0, 0.05, Error),
    AllowedValues("l_returnflag", Seq("A", "N", "R")),
    Between("l_quantity", 1, 8, Warn)) // WARN: flags but doesn't quarantine

  private val failedRulesSql =
    """concat_ws(',',
      |  CASE WHEN NOT (l_shipdate IS NOT NULL) THEN 'not_null_l_shipdate' END,
      |  CASE WHEN NOT (l_quantity IS NOT NULL AND l_quantity > 0) THEN 'greater_than_l_quantity' END,
      |  CASE WHEN NOT (l_discount IS NOT NULL AND l_discount >= 0 AND l_discount <= 0.05) THEN 'between_l_discount' END,
      |  CASE WHEN NOT (l_returnflag IN ('A','N','R')) THEN 'allowed_values_l_returnflag' END,
      |  CASE WHEN NOT (l_quantity IS NOT NULL AND l_quantity >= 1 AND l_quantity <= 8) THEN 'between_l_quantity' END)""".stripMargin

  private val isValidRuleSql =
    """((l_shipdate IS NOT NULL)
      |  AND (l_quantity IS NOT NULL AND l_quantity > 0)
      |  AND (l_discount IS NOT NULL AND l_discount >= 0 AND l_discount <= 0.05)
      |  AND (l_returnflag IN ('A','N','R')))""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // ───── rule engine: one-pass annotation with failed-rule list
    "v01_rule_annotate" -> QueryDef.sql(
      (s, dir) =>
        Validation.annotate(t(s, dir, "lineitem"), lineitemRules)
          .select("l_orderkey", "l_linenumber", "failed_rules", "is_valid"),
      s"""SELECT l_orderkey, l_linenumber,
         |  $failedRulesSql AS failed_rules,
         |  $isValidRuleSql AS is_valid
         |FROM lineitem""".stripMargin),

    // ───── rule engine: single-pass run metrics + gate status
    // (ref nyc_raw_to_validated_etl.py:106-113 + max_error_rate gate)
    "v02_validation_metrics" -> QueryDef.sql(
      (s, dir) =>
        Validation.metrics(
          Validation.annotate(t(s, dir, "lineitem"), lineitemRules),
          lineitemRules, runId = "run_fixed", jobName = "lineitem_validation",
          maxErrorRate = 0.5),
      s"""WITH a AS (
         |  SELECT COUNT(*) AS records_read,
         |    CAST(SUM(CASE WHEN $isValidRuleSql THEN 1 ELSE 0 END) AS BIGINT) AS records_valid,
         |    CAST(SUM(CASE WHEN NOT $isValidRuleSql THEN 1 ELSE 0 END) AS BIGINT) AS records_quarantined,
         |    CAST(SUM(CASE WHEN NOT (l_shipdate IS NOT NULL) THEN 1 ELSE 0 END) AS BIGINT) AS violations_not_null_l_shipdate,
         |    CAST(SUM(CASE WHEN NOT (l_quantity IS NOT NULL AND l_quantity > 0) THEN 1 ELSE 0 END) AS BIGINT) AS violations_greater_than_l_quantity,
         |    CAST(SUM(CASE WHEN NOT (l_discount IS NOT NULL AND l_discount >= 0 AND l_discount <= 0.05) THEN 1 ELSE 0 END) AS BIGINT) AS violations_between_l_discount,
         |    CAST(SUM(CASE WHEN NOT (l_returnflag IN ('A','N','R')) THEN 1 ELSE 0 END) AS BIGINT) AS violations_allowed_values_l_returnflag,
         |    CAST(SUM(CASE WHEN NOT (l_quantity IS NOT NULL AND l_quantity >= 1 AND l_quantity <= 8) THEN 1 ELSE 0 END) AS BIGINT) AS violations_between_l_quantity
         |  FROM lineitem)
         |SELECT *, 'run_fixed' AS run_id, 'lineitem_validation' AS job_name,
         |  round(CAST(records_quarantined AS DOUBLE) / records_read, 4) AS error_rate,
         |  CASE WHEN round(CAST(records_quarantined AS DOUBLE) / records_read, 4) <= 0.5
         |       THEN 'SUCCESS' ELSE 'FAILED_GATE' END AS status
         |FROM a""".stripMargin),

    // ───── table-level uniqueness rules (ref taxi_zone_rules.yaml;
    // verify_delta_vendors_job.py:57-62)
    "v04_uniqueness_checks" -> QueryDef.sql(
      (s, dir) =>
        Validation.uniquenessCheck(t(s, dir, "orders"), Seq("o_orderkey"))
          .unionByName(
            Validation.uniquenessCheck(t(s, dir, "lineitem"), Seq("l_orderkey"))),
      """SELECT 'unique_o_orderkey' AS rule_name,
        |       COUNT(*) AS duplicate_groups, COUNT(*) = 0 AS passed
        |FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1)
        |UNION ALL
        |SELECT 'unique_l_orderkey' AS rule_name,
        |       COUNT(*) AS duplicate_groups, COUNT(*) = 0 AS passed
        |FROM (SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING COUNT(*) > 1)""".stripMargin),

    // ───── reference-data freshness gate (ref lambda.py staleness SLA)
    "v05_freshness" -> QueryDef.sql(
      (s, dir) =>
        Validation.freshnessCheck(graft.sources.Tables.events(s, dir), "ts",
          maxAgeDays = 7, graft.functions.Functions.utcTimestamp("2024-02-05 00:00:00")),
      """SELECT max(CAST(ts AS TIMESTAMP)) AS newest_ts,
        |  CAST(date_diff('day', CAST(max(CAST(ts AS TIMESTAMP)) AS DATE),
        |                 DATE '2024-02-05') AS BIGINT) AS age_days,
        |  max(ts) IS NOT NULL AND
        |    date_diff('day', CAST(max(CAST(ts AS TIMESTAMP)) AS DATE),
        |              DATE '2024-02-05') <= 7 AS fresh
        |FROM events""".stripMargin),

    // ───── §3.5: ordered SQL workflow runner (transform →
    // quality-check → test, raise-on-violation) — the transform_check
    // .py harness over spark.sql temp views
    "wf_daily_check" -> QueryDef.sql(
      (s, dir) => {
        // dir-unique view names (see j07's note in RelationalQueries)
        val sfx = java.lang.Integer.toHexString(dir.hashCode)
        graft.sources.Tables.table(s, dir, "orders")
          .createOrReplaceTempView(s"orders_wf_$sfx")
        SqlWorkflow.run(s, Seq(
          Transform(s"wf_daily_rev_$sfx",
            s"""SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_date,
              |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue,
              |       COUNT(*) AS n_orders
              |FROM orders_wf_$sfx GROUP BY 1, 2""".stripMargin),
          QualityCheck("qc_nonneg_revenue",
            s"SELECT COUNT(*) FROM wf_daily_rev_$sfx WHERE revenue < 0"),
          TestStep("test_nonempty",
            s"""SELECT CASE WHEN (SELECT COUNT(*) FROM wf_daily_rev_$sfx) > 0
              |            THEN 0 ELSE 1 END""".stripMargin)))
        s.table(s"wf_daily_rev_$sfx")
      },
      """SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_date,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_orders
        |FROM orders GROUP BY 1, 2""".stripMargin),

    // ───── S11→O4→gate round trip (ref dq-governance-gate/
    // lambda_function.py:30-34,52-120): metrics persisted per-run as
    // single-file JSON, gate reads the LATEST run back from storage
    // (latest-by-sort) and decides on the persisted values. Two runs
    // are written — a worse run_001 and the real run_002 — so the
    // result proves latest-run discovery, not just the math.
    "wf_gate_roundtrip" -> QueryDef.sql(
      (s, dir) => {
        val base = java.nio.file.Files.createTempDirectory("graft_gate_").toString
        try {
          val annotated = Validation.annotate(t(s, dir, "lineitem"), lineitemRules)
          val m = Validation.metrics(annotated, lineitemRules,
            runId = "run_002", jobName = "lineitem_validation", maxErrorRate = 0.5)
          val worse = m
            .withColumn("records_valid", lit(0L))
            .withColumn("run_id", lit("run_001"))
          graft.operators.MetricsGate.persistRun(worse, base, "run_001")
          graft.operators.MetricsGate.persistRun(m, base, "run_002")
          // one row: materialized so the run store can be removed now
          Tables.collectLocal(graft.operators.MetricsGate.evaluate(s, base))
        } finally Tables.deletePath(s, base)
      },
      s"""WITH a AS (
         |  SELECT COUNT(*) AS records_read,
         |    CAST(SUM(CASE WHEN $isValidRuleSql THEN 1 ELSE 0 END) AS BIGINT) AS records_valid
         |  FROM lineitem),
         |r AS (
         |  SELECT CASE WHEN records_read > 0
         |              THEN CAST(records_valid AS DOUBLE) / records_read
         |              ELSE 0.0 END AS ratio
         |  FROM a)
         |SELECT CASE WHEN ratio >= 0.9 THEN 'PASS' ELSE 'FAIL' END AS decision,
         |  CASE WHEN ratio >= 0.9 THEN NULL ELSE 'QUALITY_GATE_FAILED' END AS reason,
         |  round(ratio, 4) AS quality_ratio,
         |  round(ratio * 100, 2) AS quality_score,
         |  ratio >= 0.9 AS freshness_ok
         |FROM r""".stripMargin),

    // ───── governance lineage edges (ref governance/lineage_schema.json
    // required_fields; write_data_lineage lambda INSERT shape): one row
    // per pipeline hop with the ACTUAL record counts of this run.
    "gov_lineage" -> QueryDef.sql(
      (s, dir) => {
        val asOf = graft.functions.Functions.utcTimestamp("2024-06-01 00:00:00")
        val annotated = Validation.annotate(t(s, dir, "lineitem"), lineitemRules)
        val validCount = Validation.split(annotated)._1.count()
        graft.operators.Lineage.toDf(s, Seq(
          graft.operators.Lineage.edge("run_fixed", "raw_to_validated",
            "raw", "validated", "lineitem", "lineitem_validated",
            validCount, asOf),
          graft.operators.Lineage.edge("run_fixed", "validated_to_curated",
            "validated", "curated", "lineitem_validated", "lineitem_curated",
            validCount, asOf)))
      },
      s"""WITH v AS (
         |  SELECT COUNT(*) AS c FROM lineitem WHERE $isValidRuleSql)
         |SELECT 'run_fixed' AS pipeline_run_id, 'raw_to_validated' AS job_name,
         |  'raw' AS source_layer, 'validated' AS target_layer,
         |  'lineitem' AS source_object, 'lineitem_validated' AS target_object,
         |  CAST(c AS BIGINT) AS record_count,
         |  TIMESTAMP '2024-06-01 00:00:00' AS run_timestamp
         |FROM v
         |UNION ALL
         |SELECT 'run_fixed', 'validated_to_curated', 'validated', 'curated',
         |  'lineitem_validated', 'lineitem_curated', CAST(c AS BIGINT),
         |  TIMESTAMP '2024-06-01 00:00:00'
         |FROM v""".stripMargin),

    // ───── dataset metadata manifest (ref metadata_manifest.json;
    // newpy.py create_metadata_manifest) — the catalog record answering
    // "who owns this dataset"
    // zones flattened to CSV for the compare: Spark writes parquet list
    // elements as `element not null` while DuckDB writes nullable `l` —
    // a spurious schema mismatch on an otherwise identical value.
    "gov_manifest" -> QueryDef.sql(
      (s, dir) =>
        graft.operators.Lineage.metadataManifest(s,
          dataset = "lineitem", bucket = "lake",
          owner = "DataEngineeringTeam", domain = "Transportation",
          classification = "Internal",
          createdOn = graft.functions.Functions.utcTimestamp("2024-06-01 00:00:00"),
          retentionPolicy = "7 years",
          zones = Seq("raw", "validated", "curated"))
          .withColumn("zones", concat_ws(",", col("zones"))),
      """SELECT 'lineitem' AS dataset, 'lake' AS bucket,
        |  'DataEngineeringTeam' AS owner, 'Transportation' AS domain,
        |  'Internal' AS classification,
        |  TIMESTAMP '2024-06-01 00:00:00' AS created_on,
        |  '7 years' AS retention_policy,
        |  'raw,validated,curated' AS zones""".stripMargin),

    // ───── RBAC effective-permissions matrix (ref rbac_matrix.csv:1-4
    // — role × zone grants, melted to long form with derived
    // read/write bits). Enforcement (deny-throws, PII redaction) is
    // spec'd in GovernanceSpec; this is the dashboard/query surface.
    "gov_rbac" -> QueryDef.sql(
      (s, _) =>
        graft.operators.Governance.permissionMatrix(
          s, graft.operators.Governance.ReferenceRoles),
      """SELECT * FROM (VALUES
        |  ('etl', 'curated', 'read_write', true, true),
        |  ('etl', 'governance', 'read', true, false),
        |  ('etl', 'raw', 'read_write', true, true),
        |  ('etl', 'validated', 'read_write', true, true),
        |  ('analyst', 'curated', 'read', true, false),
        |  ('analyst', 'governance', 'no_access', false, false),
        |  ('analyst', 'raw', 'no_access', false, false),
        |  ('analyst', 'validated', 'read', true, false),
        |  ('steward', 'curated', 'read', true, false),
        |  ('steward', 'governance', 'read_write', true, true),
        |  ('steward', 'raw', 'read', true, false),
        |  ('steward', 'validated', 'read', true, false))
        |AS t(role_name, zone, permission, can_read, can_write)""".stripMargin),

    // ───── RBAC-governed read with PII redaction: the analyst role
    // (curated read, NO governance access) sees c_name sha2-redacted —
    // referentially stable (equal names → equal hashes), raw value
    // unrecoverable. The oracle recomputes the same sha256, so the
    // redaction path itself is gate-verified.
    "gov_masked_read" -> QueryDef.sql(
      (s, dir) =>
        graft.operators.Governance.readZone(
          s, graft.operators.Governance.ReferenceRoles, "analyst",
          "curated", s"$dir/customer.parquet", piiCols = Set("c_name")),
      """SELECT c_custkey, sha256(c_name) AS c_name, c_nationkey,
        |       c_acctbal, c_mktsegment
        |FROM customer""".stripMargin),

    // ───── data dictionary GENERATED from schema + rule suite (ref
    // data_dictionary.csv:1-7) — a derived artifact that cannot drift
    // from the table it describes. The oracle re-derives column/type/
    // nullable from DuckDB's own catalog (DESCRIBE) over the same
    // parquet, so the generator is checked against an independent
    // schema source, not against itself.
    "gov_dictionary" -> QueryDef.sql(
      (s, dir) => {
        val schema = s.read.parquet(s"$dir/customer.parquet").schema
        graft.operators.Governance.dataDictionary(
          s, "customer", schema,
          rules = Seq(
            Validation.NotNull("c_custkey"),
            Validation.NotNull("c_acctbal"),
            Validation.Between("c_acctbal", -999.99, 9999.99),
            Validation.NotNull("c_name")),
          piiCols = Set("c_name"))
      },
      """WITH cols AS (
        |  SELECT column_name, lower(column_type) AS ct,
        |         "null" = 'YES' AS nullable
        |  FROM (DESCRIBE customer)),
        |rules(column_name, rule_name) AS (VALUES
        |  ('c_custkey', 'not_null_c_custkey'),
        |  ('c_acctbal', 'not_null_c_acctbal'),
        |  ('c_acctbal', 'between_c_acctbal'),
        |  ('c_name', 'not_null_c_name')),
        |agg AS (
        |  SELECT column_name,
        |         string_agg(rule_name, ',' ORDER BY rule_name) AS rn
        |  FROM rules GROUP BY 1)
        |SELECT 'customer' AS table_name, c.column_name,
        |  CASE c.ct WHEN 'varchar' THEN 'string'
        |            WHEN 'integer' THEN 'int' ELSE c.ct END AS data_type,
        |  c.nullable AS nullable,
        |  coalesce(a.rn, '') AS quality_rules,
        |  c.column_name = 'c_name' AS is_pii,
        |  CASE WHEN c.column_name = 'c_name' THEN 'Confidential'
        |       ELSE 'Internal' END AS sensitivity,
        |  'Data Engineering' AS data_steward,
        |  '7 years' AS retention_policy
        |FROM cols c LEFT JOIN agg a USING (column_name)""".stripMargin),

    // ───── GDPR right-to-be-forgotten: a multi-file events lake is
    // laid out, two subjects' rows are surgically deleted —
    // Governance.forgetKey rewrites ONLY the files containing
    // matches (O(affected files), never O(lake); GovernanceSpec
    // proves untouched files keep their modification times) — and
    // the oracle pins the POST-DELETE lake content row-for-row
    // against the subject-filtered source. ts is excluded from the
    // lake so the round-trip stays encoding-neutral.
    "gov_forget_user" -> QueryDef.sql(
      (s, dir) => {
        val lake = Tables.scratchDir("forget", dir)
        Tables.deletePath(s, lake)
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("value"))
          .repartition(8, col("event_id"))
          .write.mode("overwrite").parquet(lake)
        graft.operators.Governance.forgetKey(s, lake, "user_id", Seq(7L, 13L))
        s.read.parquet(lake).select("event_id", "user_id", "value")
      },
      """SELECT event_id, user_id, value FROM events
        |WHERE user_id NOT IN (7, 13)""".stripMargin),

    // ───── storage-lifecycle dry-run plan (ref newpy.py:89-98 — the
    // S3 raw→Glacier 30-day rule, re-expressed as partition-directory
    // tiering): a month-partitioned zone is laid out from orders, and
    // the plan classifies each partition by age at asOf (the table's
    // max date) into HOT / ARCHIVE / DELETE. The zone layout is tiny
    // (one aggregated row per month) so the query measures the
    // CLASSIFIER, not a partitioned fact rewrite; the DuckDB twin
    // re-derives partitions and ages from the same orders dates. The
    // destructive apply path (rename to archive tier, delete expired,
    // audit frame) is spec-verified in GovernanceSpec.
    "gov_lifecycle_plan" -> QueryDef.sql(
      (s, dir) => {
        val zone = java.nio.file.Files.createTempDirectory("graft_zone_").toString
        val months = t(s, dir, "orders")
          .groupBy(substring(col("o_orderdate").cast("string"), 1, 7).as("om"))
          .agg(count(lit(1)).as("n_orders"))
        months.write.mode("overwrite").partitionBy("om").parquet(zone)
        val asOf = t(s, dir, "orders")
          .agg(max(col("o_orderdate").cast("date"))).head.getDate(0)
        val plan = graft.operators.Governance.lifecyclePlan(
          s, zone, "om",
          graft.operators.Governance.StoragePolicy(
            archiveAfterDays = 730, deleteAfterDays = 1825),
          asOf, v => to_date(concat(v, lit("-01"))))
        // the plan frame is built from the driver-side listing, so the
        // temp zone can be removed immediately (bench repeats this
        // query — never leak the scratch layout)
        Tables.deletePath(s, zone)
        plan
      },
      """WITH m AS (
        |  SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS partition
        |  FROM orders GROUP BY 1),
        |a AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS asof FROM orders)
        |SELECT m.partition,
        |  CAST(date_diff('day', CAST(m.partition || '-01' AS DATE), a.asof) AS INTEGER) AS age_days,
        |  CASE
        |    WHEN date_diff('day', CAST(m.partition || '-01' AS DATE), a.asof) >= 1825 THEN 'DELETE'
        |    WHEN date_diff('day', CAST(m.partition || '-01' AS DATE), a.asof) >= 730 THEN 'ARCHIVE'
        |    ELSE 'HOT' END AS action
        |FROM m, a""".stripMargin),

    // ───── end-to-end curated pipeline: validate → filter → double
    // enrichment (supplier, then supplier's nation) → lineage stamp.
    // Glue-1 + Glue-2 fused in one declarative plan: Catalyst pushes
    // the validity filter to the scan and both dims broadcast, so the
    // fact table is read once and never shuffled.
    "e2e_curated" -> QueryDef.sql(
      (s, dir) => {
        val annotated = Validation.annotate(t(s, dir, "lineitem"), lineitemRules)
        val (good, _) = Validation.split(annotated)
        val withSupp = Enrichment.enrichWithDim(
          good, t(s, dir, "supplier"), "l_suppkey", "s_suppkey", "supp_")
        val withNation = Enrichment.enrichWithDim(
          withSupp, t(s, dir, "nation"), "supp_s_nationkey", "n_nationkey", "supp_nation_")
        Enrichment.addLineage(withNation, "testdata", "run_fixed",
            graft.functions.Functions.utcTimestamp("2024-06-01 00:00:00"))
          .select(
            col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("supp_s_name"), col("supp_nation_n_name"),
            col("data_source"), col("run_id"), col("curated_timestamp_utc"))
      },
      s"""SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
         |  s.s_name AS supp_s_name, n.n_name AS supp_nation_n_name,
         |  'testdata' AS data_source, 'run_fixed' AS run_id,
         |  TIMESTAMP '2024-06-01 00:00:00' AS curated_timestamp_utc
         |FROM lineitem l
         |LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
         |WHERE $isValidRuleSql""".stripMargin),

    // ───── ANALYZE-style one-pass table statistics: every numeric
    // column's min/max/null-count/exact-NDV from a SINGLE scan with
    // map-side partials (the stats CBO join-reordering and min/max
    // file pruning run on; at 100 TB you compute them all in the one
    // pass, never per-column). Exact NDV here; the sketch tier for
    // unbounded-cardinality columns is a13_hll_distinct_gate.
    "gov_table_stats" -> QueryDef.sql(
      (s, dir) => {
        // (spreadScan was tried here in r16 and reverted: the five
        // countDistincts expand rows ×6 into a 3-task partial agg, but
        // their partials are near-distinct keys that don't compress —
        // the round-robin exchange added 18 MB of shuffle and bought
        // no wall time.)
        val li = Tables.table(s, dir, "lineitem")
        val statCols = Seq("l_orderkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount")
        li.agg(
          count(lit(1)).as("n_rows"),
          statCols.flatMap(c => Seq(
            min(col(c)).cast("double").as(s"min_$c"),
            max(col(c)).cast("double").as(s"max_$c"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"),
            countDistinct(col(c)).as(s"ndv_$c"))): _*)
      },
      {
        val statCols = Seq("l_orderkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount")
        "SELECT COUNT(*) AS n_rows,\n" + statCols.map(c =>
          s"""  CAST(MIN($c) AS DOUBLE) AS min_$c,
             |  CAST(MAX($c) AS DOUBLE) AS max_$c,
             |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_$c,
             |  COUNT(DISTINCT $c) AS ndv_$c""".stripMargin)
          .mkString(",\n") + "\nFROM lineitem"
      }),

    // ───── inclusion-dependency (FK) discovery — profiling which
    // column pairs actually satisfy child ⊆ parent (the Metanome/
    // data-catalog primitive behind "suggest foreign keys"): for five
    // candidate pairs, distinct child keys, orphan keys (left-anti
    // vs parent), and containment ppm. Scale shape per pair: both
    // sides reduce to DISTINCT KEYS at the scan (the wide rows never
    // shuffle), one anti join per pair, counts only — cost is
    // O(distinct keys), never O(rows²). events.user_id→supplier is
    // the deliberately-WRONG candidate (user ids overrun the supplier
    // key space): discovery's whole job is rejecting such guesses, so
    // the op provably measures containment, not assumes it.
    "gov_fk_discovery" -> QueryDef.sql(
      (s, dir) => {
        def pair(childT: String, childC: String,
                 parentT: String, parentC: String): DataFrame = {
          val child = t(s, dir, childT)
            .select(col(childC).cast("long").as("k")).distinct()
          val parent = t(s, dir, parentT)
            .select(col(parentC).cast("long").as("k")).distinct()
            .withColumn("_hit", lit(1))
          child.join(parent, Seq("k"), "left")
            .agg(count(lit(1)).as("n_child_keys"),
              sum(when(col("_hit").isNull, 1L).otherwise(0L))
                .as("n_orphan_keys"))
            .select(
              lit(s"$childT.$childC").as("child_col"),
              lit(s"$parentT.$parentC").as("parent_col"),
              col("n_child_keys"), col("n_orphan_keys"),
              expr("(n_child_keys - n_orphan_keys) * 1000000L" +
                " DIV greatest(n_child_keys, 1L)").as("containment_ppm"))
        }
        pair("orders", "o_custkey", "customer", "c_custkey")
          .unionByName(pair("lineitem", "l_orderkey", "orders", "o_orderkey"))
          .unionByName(pair("lineitem", "l_suppkey", "supplier", "s_suppkey"))
          .unionByName(pair("nation", "n_regionkey", "region", "r_regionkey"))
          .unionByName(pair("events", "user_id", "customer", "c_custkey"))
          .unionByName(pair("events", "user_id", "supplier", "s_suppkey"))
      },
      """SELECT child_col, parent_col, n_child_keys, n_orphan_keys,
        |  (n_child_keys - n_orphan_keys) * 1000000
        |    // greatest(n_child_keys, 1) AS containment_ppm
        |FROM (
        |  SELECT 'orders.o_custkey' AS child_col,
        |    'customer.c_custkey' AS parent_col,
        |    (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS n_child_keys,
        |    (SELECT COUNT(*) FROM (
        |       SELECT DISTINCT o_custkey FROM orders
        |       WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)))
        |      AS n_orphan_keys
        |  UNION ALL
        |  SELECT 'lineitem.l_orderkey', 'orders.o_orderkey',
        |    (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem),
        |    (SELECT COUNT(*) FROM (
        |       SELECT DISTINCT l_orderkey FROM lineitem
        |       WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)))
        |  UNION ALL
        |  SELECT 'lineitem.l_suppkey', 'supplier.s_suppkey',
        |    (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem),
        |    (SELECT COUNT(*) FROM (
        |       SELECT DISTINCT l_suppkey FROM lineitem
        |       WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)))
        |  UNION ALL
        |  SELECT 'nation.n_regionkey', 'region.r_regionkey',
        |    (SELECT COUNT(DISTINCT n_regionkey) FROM nation),
        |    (SELECT COUNT(*) FROM (
        |       SELECT DISTINCT n_regionkey FROM nation
        |       WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region)))
        |  UNION ALL
        |  SELECT 'events.user_id', 'customer.c_custkey',
        |    (SELECT COUNT(DISTINCT user_id) FROM events),
        |    (SELECT COUNT(*) FROM (
        |       SELECT DISTINCT user_id FROM events
        |       WHERE user_id NOT IN (SELECT c_custkey FROM customer)))
        |  UNION ALL
        |  SELECT 'events.user_id', 'supplier.s_suppkey',
        |    (SELECT COUNT(DISTINCT user_id) FROM events),
        |    (SELECT COUNT(*) FROM (
        |       SELECT DISTINCT user_id FROM events
        |       WHERE user_id NOT IN (SELECT s_suppkey FROM supplier))))"""
        .stripMargin),

    // ───── join-cardinality prediction — |A ⋈ B| computed from the
    // two sides' per-key COUNT TABLES, never from the join itself:
    // Σ_k cntA(k)·cntB(k), plus each side's key count and max
    // frequency (the skew corner the estimate hinges on). With
    // X109's skew report this completes the plan-before-you-join
    // toolkit: the count tables are O(distinct keys), their join is
    // keys-only, and the true join never executes. Exact integers —
    // the CBO-style estimate with zero estimation error when derived
    // from full histograms.
    "gov_join_cardinality" -> QueryDef.sql(
      (s, dir) => {
        val a = t(s, dir, "orders").groupBy(col("o_orderkey").as("k"))
          .agg(count(lit(1)).as("ca"))
        val b = t(s, dir, "lineitem").groupBy(col("l_orderkey").as("k"))
          .agg(count(lit(1)).as("cb"))
        a.join(b.hint("shuffle_hash"), Seq("k"))
          .agg(sum(col("ca") * col("cb")).as("_rows"))
          .select(col("_rows").cast("long").as("predicted_join_rows"))
          .crossJoin(broadcast(a.agg(
            count(lit(1)).as("orders_keys"),
            max(col("ca")).as("orders_max_freq"))))
          .crossJoin(broadcast(b.agg(
            count(lit(1)).as("lineitem_keys"),
            max(col("cb")).as("lineitem_max_freq"))))
      },
      """WITH a AS (SELECT o_orderkey AS k, COUNT(*) AS ca FROM orders
        |           GROUP BY 1),
        |b AS (SELECT l_orderkey AS k, COUNT(*) AS cb FROM lineitem
        |      GROUP BY 1),
        |j AS (SELECT CAST(SUM(ca * cb) AS BIGINT) AS predicted_join_rows
        |      FROM a JOIN b USING (k)),
        |sa AS (SELECT COUNT(*) AS orders_keys, MAX(ca) AS orders_max_freq
        |       FROM a),
        |sb AS (SELECT COUNT(*) AS lineitem_keys, MAX(cb) AS lineitem_max_freq
        |       FROM b)
        |SELECT predicted_join_rows, orders_keys, orders_max_freq,
        |       lineitem_keys, lineitem_max_freq
        |FROM j, sa, sb""".stripMargin),

    // ───── CUSUM change-point scan — cumulative sum of daily-revenue
    // deviations from the global mean (Page 1954): a level SHIFT in
    // the series makes |cusum| ramp, and its peak day is the classic
    // change-point estimate; pure-integer throughout (cents minus
    // floor-mean, cumulative BIGINT), so the scan is engine-exact
    // where an EWMA/σ formulation would ride floating point. One
    // daily aggregate, a 1-row mean frame broadcast back, one
    // calendar-bounded cumsum window, one 1-row peak frame.
    "v12_cusum_shift" -> QueryDef.sql(
      (s, dir) => {
        val daily = t(s, dir, "lineitem")
          .filter(col("l_extendedprice") > 0)
          .groupBy(to_date(col("l_shipdate")).as("d"))
          .agg((sum(col("l_extendedprice").cast("decimal(30,2)")) * 100)
            .cast("long").as("cents"))
        val mean = daily.agg(
          expr("sum(cents) DIV count(1)").as("mean_cents"))
        val w = Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cusum = daily.crossJoin(broadcast(mean))
          .withColumn("cusum",
            sum(col("cents") - col("mean_cents")).over(w))
        val peak = cusum.agg(max(abs(col("cusum"))).as("peak_abs"))
        cusum.crossJoin(broadcast(peak))
          .select(col("d"), col("cents"), col("cusum"),
            (abs(col("cusum")) === col("peak_abs")).as("is_change_point"))
      },
      """WITH daily AS (
        |  SELECT CAST(l_shipdate AS DATE) AS d,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) * 100
        |      AS BIGINT) AS cents
        |  FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1),
        |m AS (SELECT CAST(SUM(cents) AS BIGINT) // COUNT(*) AS mean_cents
        |      FROM daily),
        |c AS (
        |  SELECT d, cents,
        |    CAST(SUM(cents - mean_cents) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cusum
        |  FROM daily, m),
        |p AS (SELECT MAX(abs(cusum)) AS peak_abs FROM c)
        |SELECT d, cents, cusum, abs(cusum) = peak_abs AS is_change_point
        |FROM c, p""".stripMargin),

    // ───── order-independent table checksum — the cross-replica
    // integrity audit (post-migration/backfill/replication "same
    // content?" check) as ONE pass per side: rows digest to 60-bit
    // md5 integers, combined by MODULAR ADDITION mod 2⁶⁰
    // (commutative+associative → invariant to partitioning, file
    // layout, and row order; multiset-safe, unlike XOR, so
    // duplicate-pair corruption shifts the signature), doubly salted
    // so random-corruption collision across both channels is ~2⁻¹²⁰.
    // Nothing but 3 numbers per mapper crosses the exchange. The
    // oracle re-derives the full digest chain.
    "gov_table_checksum" -> QueryDef.sql(
      (s, dir) =>
        graft.operators.Governance.tableChecksum(
          t(s, dir, "customer"), Seq("c_custkey", "c_name", "c_nationkey")),
      """WITH s AS (
        |  SELECT
        |    md5(concat('1',
        |      md5(CASE WHEN c_custkey IS NULL THEN 'n'
        |               ELSE 'v' || CAST(c_custkey AS VARCHAR) END),
        |      md5(CASE WHEN c_name IS NULL THEN 'n'
        |               ELSE 'v' || c_name END),
        |      md5(CASE WHEN c_nationkey IS NULL THEN 'n'
        |               ELSE 'v' || CAST(c_nationkey AS VARCHAR) END)))
        |      AS h1,
        |    md5(concat('2',
        |      md5(CASE WHEN c_custkey IS NULL THEN 'n'
        |               ELSE 'v' || CAST(c_custkey AS VARCHAR) END),
        |      md5(CASE WHEN c_name IS NULL THEN 'n'
        |               ELSE 'v' || c_name END),
        |      md5(CASE WHEN c_nationkey IS NULL THEN 'n'
        |               ELSE 'v' || CAST(c_nationkey AS VARCHAR) END)))
        |      AS h2
        |  FROM customer)
        |SELECT COUNT(*) AS n_rows,
        |  CAST(CAST(sum(CAST(concat('0x', substr(h1, 1, 15)) AS BIGINT))
        |    AS HUGEINT) % 1152921504606846976 AS BIGINT) AS sig1,
        |  CAST(CAST(sum(CAST(concat('0x', substr(h2, 1, 15)) AS BIGINT))
        |    AS HUGEINT) % 1152921504606846976 AS BIGINT) AS sig2,
        |  'md5x15-madd60-v2' AS sig_scheme
        |FROM s""".stripMargin),

    // ───── join-key skew report — the diagnostic you run BEFORE
    // picking a join/partitioning strategy at 100 TB: per-key row
    // counts of the would-be shuffle key, reduced to key cardinality,
    // max/median/p99 frequency, floor-mean, the max/mean skew ratio
    // (ppm — >2,000,000 means AQE skew splitting or salting is
    // warranted), and the 5 heaviest keys by name (via the
    // bounded-heap topk_pairs — no sort of the counts table). Two
    // cascaded aggregations; raw rows shuffle once into the counts.
    "gov_skew_report" -> QueryDef.sql(
      (s, dir) => {
        graft.plans.GraftExtensions.register(s)
        val counts = t(s, dir, "lineitem")
          .groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt"))
        counts.agg(
          count(lit(1)).as("n_keys"),
          sum(col("cnt")).as("total_rows"),
          max(col("cnt")).as("max_cnt"),
          expr("percentile(cnt, 0.5)").as("p50_cnt"),
          expr("percentile(cnt, 0.99)").as("p99_cnt"),
          expr("topk_pairs(cnt, l_suppkey, 5)").as("_top"))
          .select(col("n_keys"), col("total_rows"), col("max_cnt"),
            col("p50_cnt"), col("p99_cnt"),
            expr("total_rows DIV n_keys").as("mean_cnt"),
            expr("max_cnt * 1000000L DIV (total_rows DIV n_keys)")
              .as("skew_ratio_ppm"),
            expr("array_join(transform(_top, p -> concat(p.v, ':', p.k)), ',')")
              .as("heaviest_keys"))
      },
      """WITH counts AS (
        |  SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
        |stats AS (
        |  SELECT COUNT(*) AS n_keys,
        |    CAST(SUM(cnt) AS BIGINT) AS total_rows,
        |    MAX(cnt) AS max_cnt,
        |    quantile_cont(cnt, 0.5) AS p50_cnt,
        |    quantile_cont(cnt, 0.99) AS p99_cnt
        |  FROM counts),
        |top AS (
        |  SELECT string_agg(l_suppkey || ':' || cnt, ','
        |      ORDER BY cnt DESC, l_suppkey ASC) AS heaviest_keys
        |  FROM (SELECT l_suppkey, cnt,
        |          row_number() OVER (ORDER BY cnt DESC, l_suppkey ASC) AS rn
        |        FROM counts) WHERE rn <= 5)
        |SELECT n_keys, total_rows, max_cnt, p50_cnt, p99_cnt,
        |  total_rows // n_keys AS mean_cnt,
        |  max_cnt * 1000000 // (total_rows // n_keys) AS skew_ratio_ppm,
        |  heaviest_keys
        |FROM stats, top""".stripMargin),

    // ───── V11: functional-dependency audit — does `source` determine
    // `lang` in the documents table? The consistency check behind
    // every "column A should imply column B" data contract (zip→city,
    // sku→brand, source→language): per LHS value report the distinct
    // RHS count, the majority RHS and its ppm share, and the count of
    // rows OUTSIDE the majority (the rows a cleanup job would touch).
    // Scale shape: two cascaded aggregations — (source, lang) counts
    // first (map-side combinable, |sources × langs| partials), then
    // per-source argmax via max(struct(cnt, lang)) — NEVER a window
    // over the raw table, and the raw rows shuffle once at most.
    // Ties break lang-DESC (max struct order), matching the oracle's
    // row_number ORDER BY cnt DESC, lang DESC. All-integer output.
    "v11_fd_audit" -> QueryDef.sql(
      (s, dir) => {
        val counts = t(s, dir, "documents")
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("cnt"))
        counts.groupBy(col("source"))
          .agg(
            sum(col("cnt")).as("n_rows"),
            count(lit(1)).as("n_langs"),
            max(struct(col("cnt"), col("lang"))).as("_m"))
          .select(col("source"), col("n_rows"), col("n_langs"),
            col("_m.lang").as("majority_lang"),
            expr("_m.cnt * 1000000L DIV n_rows").as("majority_ppm"),
            (col("n_rows") - col("_m.cnt")).as("violation_rows"),
            (col("n_langs") > 1).as("fd_violated"))
      },
      """WITH counts AS (
        |  SELECT source, lang, COUNT(*) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |ranked AS (
        |  SELECT source, lang, cnt,
        |    CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_rows,
        |    COUNT(*) OVER (PARTITION BY source) AS n_langs,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY cnt DESC, lang DESC) AS rn
        |  FROM counts)
        |SELECT source, n_rows, n_langs,
        |  lang AS majority_lang,
        |  CAST(cnt * 1000000 // n_rows AS BIGINT) AS majority_ppm,
        |  CAST(n_rows - cnt AS BIGINT) AS violation_rows,
        |  n_langs > 1 AS fd_violated
        |FROM ranked WHERE rn = 1""".stripMargin)
  )
}
