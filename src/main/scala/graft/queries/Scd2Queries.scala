package graft.queries

import graft.QueryDef
import graft.operators.Scd2
import graft.operators.Scd2.Config
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCD2 merge semantics verified against a DuckDB twin that computes
  * the expected post-merge state from first principles (SURVEY.md §2.3
  * J6/J9, §3.4).
  *
  * Deterministic scenario built from the supplier table:
  *   t0: initial load of all suppliers.
  *   t1 batch: suppliers with key % 10 == 0 get acctbal+100 (changed),
  *             suppliers with key < 5 reappear as new keys key+1000
  *             (new), everything else arrives unchanged (hash
  *             short-circuit must no-op them).
  */
object Scd2Queries {

  private val t0 = graft.functions.Functions.utcTimestamp("2024-01-01 00:00:00")
  private val t1 = graft.functions.Functions.utcTimestamp("2024-02-01 00:00:00")
  private val t2 = graft.functions.Functions.utcTimestamp("2024-03-01 00:00:00")

  val conf: Config = Config(
    keyCols = Seq("s_suppkey"),
    businessCols = Seq("s_name", "s_nationkey", "bal"),
    dedupeOrder = Seq("s_name"))

  /** supplier projected to SCD business shape; acctbal pre-cast to
    * decimal so the record hash renders identically across engines.
    */
  private def base(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "supplier").select(
      col("s_suppkey"), col("s_name"), col("s_nationkey"),
      col("s_acctbal").cast("decimal(18,2)").as("bal"))

  private def incoming(s: SparkSession, dir: String): DataFrame = {
    val b = base(s, dir)
    val modified = b.withColumn("bal",
      when(col("s_suppkey") % 10 === 0,
        (col("bal") + 100).cast("decimal(18,2)")).otherwise(col("bal")))
    val fresh = b.filter(col("s_suppkey") < 5).select(
      (col("s_suppkey") + 1000).as("s_suppkey"),
      concat(col("s_name"), lit(" NEW")).as("s_name"),
      col("s_nationkey"), col("bal"))
    modified.unionByName(fresh)
  }

  def merged(s: SparkSession, dir: String): DataFrame = {
    val target = Scd2.initialLoad(base(s, dir), conf, t0)
    Scd2.merge(target, incoming(s, dir), conf, t1)
  }

  /** Streaming CDC scenario: two change-feed files applied in order
    * by [[graft.streaming.DimensionStream.scd2MergeAvailableNow]] —
    * batch 0 (t1): keys %10 get bal+100; batch 1 (t2): keys %3 get
    * bal+50 (computed off the BASE value, so for keys divisible by
    * both, batch 1 changes the then-current v2 row again → v3).
    * Stable temp paths keyed on the sf dir; state is fully reset per
    * run so replay is deterministic.
    */
  def streamMerged(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DimensionStream
    val b = base(s, dir)
    val root = Tables.scratchDir("scd2_stream", dir)
    val feedDir = s"$root/feed"
    val dimPath = s"$root/dim"
    Tables.deletePath(s, root)
    val batchA = b.filter(col("s_suppkey") % 10 === 0)
      .withColumn("bal", (col("bal") + 100).cast("decimal(18,2)"))
      .withColumn("change_ts", lit(t1))
    val batchB = b.filter(col("s_suppkey") % 3 === 0)
      .withColumn("bal", (col("bal") + 50).cast("decimal(18,2)"))
      .withColumn("change_ts", lit(t2))
    // fixed ascending modTimes → deterministic file-source ordering
    DimensionStream.writeFeedFile(batchA, feedDir, "batch_0", 1700000000000L)
    DimensionStream.writeFeedFile(batchB, feedDir, "batch_1", 1700000060000L)
    Scd2.writeAtomic(Scd2.initialLoad(b, conf, t0), dimPath)
    DimensionStream.scd2MergeAvailableNow(s, feedDir, dimPath, conf)
  }

  private val hashedBaseSql =
    """WITH b AS (
      |  SELECT s_suppkey, s_name, s_nationkey,
      |         CAST(s_acctbal AS DECIMAL(18,2)) AS bal
      |  FROM supplier),
      |hb AS (
      |  SELECT *, sha256(concat_ws('||',
      |      coalesce(CAST(s_name AS VARCHAR), ''),
      |      coalesce(CAST(s_nationkey AS VARCHAR), ''),
      |      coalesce(CAST(bal AS VARCHAR), ''))) AS h
      |  FROM b),
      |hm AS (
      |  SELECT s_suppkey, s_name, s_nationkey,
      |         CAST(bal + 100 AS DECIMAL(18,2)) AS bal,
      |         sha256(concat_ws('||',
      |      coalesce(CAST(s_name AS VARCHAR), ''),
      |      coalesce(CAST(s_nationkey AS VARCHAR), ''),
      |      coalesce(CAST(CAST(bal + 100 AS DECIMAL(18,2)) AS VARCHAR), ''))) AS h
      |  FROM b WHERE s_suppkey % 10 = 0)""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // ───── the merge itself: full post-merge table state
    "scd2_merge" -> QueryDef.sql(
      (s, dir) =>
        merged(s, dir).select(
          col("s_suppkey"), col("s_name"), col("version_no"), col("is_current"),
          col("effective_start_ts"), col("effective_end_ts"), col("record_hash")),
      s"""$hashedBaseSql
         |SELECT s_suppkey, s_name, version_no, is_current,
         |       effective_start_ts, effective_end_ts, record_hash
         |FROM (
         |  -- original rows: changed keys expired at t1, others still open
         |  SELECT s_suppkey, s_name, CAST(1 AS INTEGER) AS version_no,
         |         (s_suppkey % 10 <> 0) AS is_current,
         |         TIMESTAMP '2024-01-01 00:00:00' AS effective_start_ts,
         |         CASE WHEN s_suppkey % 10 = 0 THEN TIMESTAMP '2024-02-01 00:00:00'
         |              ELSE TIMESTAMP '9999-12-31 00:00:00' END AS effective_end_ts,
         |         h AS record_hash
         |  FROM hb
         |  UNION ALL
         |  -- changed keys: new current version 2
         |  SELECT s_suppkey, s_name, CAST(2 AS INTEGER), TRUE,
         |         TIMESTAMP '2024-02-01 00:00:00', TIMESTAMP '9999-12-31 00:00:00', h
         |  FROM hm
         |  UNION ALL
         |  -- brand-new keys: version 1 at t1
         |  SELECT s_suppkey + 1000, s_name || ' NEW', CAST(1 AS INTEGER), TRUE,
         |         TIMESTAMP '2024-02-01 00:00:00', TIMESTAMP '9999-12-31 00:00:00',
         |         sha256(concat_ws('||',
         |           coalesce(CAST(s_name || ' NEW' AS VARCHAR), ''),
         |           coalesce(CAST(s_nationkey AS VARCHAR), ''),
         |           coalesce(CAST(bal AS VARCHAR), '')))
         |  FROM b WHERE s_suppkey < 5
         |)""".stripMargin),

    // ───── STREAMING SCD2 dimension maintenance (the lakehouse CDC
    // pattern): two change-feed files merged in order inside
    // foreachBatch (maxFilesPerTrigger=1, atomic staging swap per
    // batch). The oracle derives the full three-version timeline from
    // first principles — wrong batch ORDER, a torn write, or a missed
    // hash short-circuit all shift version numbers or timestamps and
    // break the hash.
    "scd2_stream_merge" -> QueryDef.sql(
      (s, dir) =>
        streamMerged(s, dir).select(
          col("s_suppkey"), col("s_name"), col("version_no"), col("is_current"),
          col("effective_start_ts"), col("effective_end_ts"), col("record_hash")),
      s"""WITH b AS (
         |  SELECT s_suppkey, s_name, s_nationkey,
         |         CAST(s_acctbal AS DECIMAL(18,2)) AS bal
         |  FROM supplier),
         |h AS (
         |  SELECT *,
         |    sha256(concat_ws('||',
         |      coalesce(CAST(s_name AS VARCHAR), ''),
         |      coalesce(CAST(s_nationkey AS VARCHAR), ''),
         |      coalesce(CAST(bal AS VARCHAR), ''))) AS h0,
         |    sha256(concat_ws('||',
         |      coalesce(CAST(s_name AS VARCHAR), ''),
         |      coalesce(CAST(s_nationkey AS VARCHAR), ''),
         |      coalesce(CAST(CAST(bal + 100 AS DECIMAL(18,2)) AS VARCHAR), ''))) AS h100,
         |    sha256(concat_ws('||',
         |      coalesce(CAST(s_name AS VARCHAR), ''),
         |      coalesce(CAST(s_nationkey AS VARCHAR), ''),
         |      coalesce(CAST(CAST(bal + 50 AS DECIMAL(18,2)) AS VARCHAR), ''))) AS h50
         |  FROM b)
         |SELECT s_suppkey, s_name, version_no, is_current,
         |       effective_start_ts, effective_end_ts, record_hash
         |FROM (
         |  -- v1 for every key; expired by whichever batch touches it first
         |  SELECT s_suppkey, s_name, CAST(1 AS INTEGER) AS version_no,
         |         (s_suppkey % 10 <> 0 AND s_suppkey % 3 <> 0) AS is_current,
         |         TIMESTAMP '2024-01-01 00:00:00' AS effective_start_ts,
         |         CASE WHEN s_suppkey % 10 = 0 THEN TIMESTAMP '2024-02-01 00:00:00'
         |              WHEN s_suppkey % 3 = 0 THEN TIMESTAMP '2024-03-01 00:00:00'
         |              ELSE TIMESTAMP '9999-12-31 00:00:00' END AS effective_end_ts,
         |         h0 AS record_hash
         |  FROM h
         |  UNION ALL
         |  -- batch-0 keys: v2 at t1 (bal+100); re-expired at t2 if
         |  -- batch 1 also touches the key
         |  SELECT s_suppkey, s_name, CAST(2 AS INTEGER), (s_suppkey % 30 <> 0),
         |         TIMESTAMP '2024-02-01 00:00:00',
         |         CASE WHEN s_suppkey % 30 = 0 THEN TIMESTAMP '2024-03-01 00:00:00'
         |              ELSE TIMESTAMP '9999-12-31 00:00:00' END,
         |         h100
         |  FROM h WHERE s_suppkey % 10 = 0
         |  UNION ALL
         |  -- batch-1-only keys: v2 at t2 (bal+50)
         |  SELECT s_suppkey, s_name, CAST(2 AS INTEGER), TRUE,
         |         TIMESTAMP '2024-03-01 00:00:00',
         |         TIMESTAMP '9999-12-31 00:00:00', h50
         |  FROM h WHERE s_suppkey % 3 = 0 AND s_suppkey % 10 <> 0
         |  UNION ALL
         |  -- keys hit by BOTH batches: v3 at t2 (bal+50 over the v2 row)
         |  SELECT s_suppkey, s_name, CAST(3 AS INTEGER), TRUE,
         |         TIMESTAMP '2024-03-01 00:00:00',
         |         TIMESTAMP '9999-12-31 00:00:00', h50
         |  FROM h WHERE s_suppkey % 30 = 0
         |)""".stripMargin),

    // ───── S5 time travel: table state between t0 and t1 — every
    // original key active at version 1, new keys invisible
    "scd2_asof" -> QueryDef.sql(
      (s, dir) =>
        Scd2.asOf(merged(s, dir), graft.functions.Functions.utcTimestamp("2024-01-15 00:00:00"))
          .select(col("s_suppkey"), col("s_name"), col("version_no")),
      """SELECT s_suppkey, s_name, CAST(1 AS INTEGER) AS version_no
        |FROM supplier""".stripMargin),

    // ───── SCD invariants over the merged table (ref
    // verify_delta_vendors_job.py:57-65): zero violations expected,
    // computed by Spark, asserted by the oracle
    "scd2_invariants" -> QueryDef.sql(
      (s, dir) => Scd2.invariants(merged(s, dir), conf),
      """SELECT 'single_current_per_key' AS rule,
        |       CAST(0 AS BIGINT) AS violations, TRUE AS passed
        |UNION ALL
        |SELECT 'contiguous_versions', CAST(0 AS BIGINT), TRUE""".stripMargin),

    // ───── table-level version audit (ref DeltaOP/delta_audit_update
    // .py: initial load, then a compliance overwrite creates a NEW
    // VERSION; delta_audit_read.py reads DESCRIBE HISTORY). The query
    // REALLY writes both versions to a versioned store and returns
    // the history the store reads back — counts are this run's data.
    "delta_audit_history" -> QueryDef.sql(
      (s, dir) => {
        import graft.sources.VersionedTable
        val base = java.nio.file.Files.createTempDirectory("graft_vt_").toString
        try {
          val supp = Tables.table(s, dir, "supplier")
            .select("s_suppkey", "s_name", "s_acctbal")
          VersionedTable.write(supp, base, "initial_load", t0)
          // compliance rule: remove non-positive balances (ref
          // delta_audit_update.py:18 fare_amount > 0)
          VersionedTable.write(supp.filter(col("s_acctbal") > 0), base,
            "compliance_filter", t1)
          // two rows: materialized so the store can be removed now
          Tables.collectLocal(VersionedTable.history(s, base))
        } finally Tables.deletePath(s, base)
      },
      """SELECT CAST(1 AS INTEGER) AS version, 'initial_load' AS operation,
        |  (SELECT COUNT(*) FROM supplier) AS record_count,
        |  TIMESTAMP '2024-01-01 00:00:00' AS run_timestamp
        |UNION ALL
        |SELECT CAST(2 AS INTEGER), 'compliance_filter',
        |  (SELECT COUNT(*) FROM supplier WHERE s_acctbal > 0),
        |  TIMESTAMP '2024-02-01 00:00:00'""".stripMargin)
  )
}
