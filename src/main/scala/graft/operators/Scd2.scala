package graft.operators

import graft.functions.Functions.recordHash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD Type 2 engine without Delta Lake.
  *
  * Re-implements the reference's Delta MERGE upsert
  * (`glue_jobs/scd2_delta_vendors.py:36-180`) and its Postgres twin
  * (`sql/scd/02_scd_procedures.sql:19-99`) with plain Spark joins +
  * unions. The semantic contract preserved exactly:
  *   - record_hash = sha2-256 over "||"-joined coalesced business cols;
  *   - unchanged hash ⇒ idempotent no-op (no new version) — the
  *     load-bearing short-circuit at `scd2_delta_vendors.py:122-124`;
  *   - changed key ⇒ current row expired (is_current=false,
  *     effective_end_ts=asOf) + new row version_no+1;
  *   - new key ⇒ version_no=1;
  *   - exactly one current row per key at all times.
  *
  * Scale design: the merge is ONE shuffle on the business key (the
  * staged left join); expiry is a broadcast semi-join when the changed
  * key set is small (the common case — AQE decides). History stays
  * in-table, giving time-travel reads (S5) and audit history (S6/J11)
  * as plain filters instead of Delta log replay. At 100 TB, partition
  * the written table by a stable hash bucket of the key so both the
  * merge join and point lookups co-locate.
  */
object Scd2 {

  val SentinelEnd: java.sql.Timestamp = graft.functions.Functions.utcTimestamp("9999-12-31 00:00:00")

  final case class Config(
      keyCols: Seq[String],
      businessCols: Seq[String],
      /** deterministic intra-key ordering for incoming dedupe — the
        * reference's `orderBy(lit(1))` is non-deterministic
        * (SURVEY.md §7.5.4); we require a real ordering. */
      dedupeOrder: Seq[String])

  private def hashCol(conf: Config): Column =
    recordHash(conf.businessCols.map(col))

  /** Stamp SCD2 metadata on an incoming batch (ref :66-75) and dedupe
    * to one row per key (W1, ref :77-85).
    */
  def prepareIncoming(incoming: DataFrame, conf: Config,
                      asOf: java.sql.Timestamp, versionNo: Column): DataFrame = {
    val w = Window.partitionBy(conf.keyCols.map(col): _*)
      .orderBy(conf.dedupeOrder.map(c => col(c).desc): _*)
    incoming
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .withColumn("record_hash", hashCol(conf))
      .withColumn("effective_start_ts", lit(asOf))
      .withColumn("effective_end_ts", lit(SentinelEnd))
      .withColumn("is_current", lit(true))
      .withColumn("version_no", versionNo.cast("int"))
  }

  /** Initial load: every key at version 1 (ref :90-101). */
  def initialLoad(incoming: DataFrame, conf: Config,
                  asOf: java.sql.Timestamp): DataFrame =
    prepareIncoming(incoming, conf, asOf, lit(1))

  /** The merge (ref :106-180). Returns the complete new table
    * (untouched history ∪ expired ∪ inserts) — caller persists it
    * atomically (see `writeAtomic`).
    */
  def merge(target: DataFrame, incoming: DataFrame, conf: Config,
            asOf: java.sql.Timestamp): DataFrame = {
    val keys = conf.keyCols
    // current slice, projected to (key, hash, version) only — mirrors
    // the reference's narrow select (:111-116) and keeps the join
    // build side minimal.
    val current = target.filter(col("is_current"))
      .select((keys.map(col) :+ col("record_hash").as("curr_hash")
        :+ col("version_no").as("curr_version")): _*)

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(conf.dedupeOrder.map(c => col(c).desc): _*)
    val staged = incoming
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .withColumn("record_hash", hashCol(conf))
      .join(current, keys, "left")
      .withColumn("is_new", col("curr_hash").isNull)
      .withColumn("is_changed",
        col("curr_hash").isNotNull && col("record_hash") =!= col("curr_hash"))

    // hash short-circuit: unchanged incoming rows contribute nothing.
    val toInsert = staged.filter(col("is_new") || col("is_changed"))
      .withColumn("version_no",
        when(col("is_new"), 1).otherwise(col("curr_version") + 1).cast("int"))
      .withColumn("effective_start_ts", lit(asOf))
      .withColumn("effective_end_ts", lit(SentinelEnd))
      .withColumn("is_current", lit(true))
      .drop("curr_hash", "curr_version", "is_new", "is_changed")

    val changedKeys = staged.filter(col("is_changed")).select(keys.map(col): _*).distinct()

    // expire: MERGE whenMatched(key ∧ is_current) → close the row
    // (ref :144-155). Left join against the (small) changed key set;
    // AQE broadcasts it.
    val marked = target.join(
      changedKeys.withColumn("_changed", lit(true)), keys, "left")
    val newTarget = marked
      .withColumn("effective_end_ts",
        when(col("_changed") && col("is_current"), lit(asOf))
          .otherwise(col("effective_end_ts")))
      .withColumn("is_current",
        when(col("_changed") && col("is_current"), lit(false))
          .otherwise(col("is_current")))
      .drop("_changed")

    newTarget.unionByName(toInsert.select(newTarget.columns.map(col): _*))
  }

  /** S5 time travel: the table as of `ts` — rows whose validity
    * interval covers ts (ref DeltaOP/delta_time_travel.py:14-19,
    * audit_version_history 03_version_procedures.sql:125-170).
    */
  def asOf(table: DataFrame, ts: java.sql.Timestamp): DataFrame =
    table.filter(col("effective_start_ts") <= lit(ts) && col("effective_end_ts") > lit(ts))

  /** J11: version history for one key, ordered. */
  def history(table: DataFrame, conf: Config, keyValues: Seq[Any]): DataFrame = {
    val pred = conf.keyCols.zip(keyValues)
      .map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)
    table.filter(pred).orderBy(col("version_no"))
  }

  /** Approve (ref `03_version_procedures.sql:15-53`): stamp an
    * approval onto one version of one key and emit the action record
    * for the audit table. Errors if the version doesn't exist
    * (precondition in the plpgsql twin).
    */
  def approveVersion(table: DataFrame, conf: Config, keyValues: Seq[Any],
                     versionNo: Int, approvedBy: String,
                     asOf: java.sql.Timestamp): (DataFrame, DataFrame) = {
    val keyPred = conf.keyCols.zip(keyValues)
      .map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)
    val targetPred = keyPred && col("version_no") === versionNo
    require(!table.filter(targetPred).isEmpty,
      s"version $versionNo not found for key ${keyValues.mkString(",")}")

    val base =
      if (table.columns.contains("approval_status")) table
      else table
        .withColumn("approval_status", lit(null).cast("string"))
        .withColumn("approved_by", lit(null).cast("string"))
        .withColumn("approved_at", lit(null).cast("timestamp"))
    val updated = base
      .withColumn("approval_status",
        when(targetPred, "APPROVED").otherwise(col("approval_status")))
      .withColumn("approved_by",
        when(targetPred, approvedBy).otherwise(col("approved_by")))
      .withColumn("approved_at",
        when(targetPred, lit(asOf)).otherwise(col("approved_at")))
    val action = updated.filter(targetPred).select(
      (conf.keyCols.map(col) :+ col("version_no") :+
        lit("APPROVE").as("action") :+ lit(approvedBy).as("action_by") :+
        lit(asOf).as("action_at")): _*)
    (updated, action)
  }

  /** Rollback (ref `03_version_procedures.sql:55-123`): revert a key
    * to its previous version's business values by expiring the
    * current row and inserting a NEW version that copies the prior
    * values (history is never rewritten — rollback is itself a
    * versioned change, as the plpgsql twin does).
    */
  def rollbackVersion(table: DataFrame, conf: Config, keyValues: Seq[Any],
                      asOf: java.sql.Timestamp): DataFrame = {
    val keyPred = conf.keyCols.zip(keyValues)
      .map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)
    val rows = table.filter(keyPred)
    val current = rows.filter(col("is_current"))
    val currentVersion = current.select(max("version_no")).head().getInt(0)
    require(currentVersion >= 2, s"no previous version to roll back to")
    val previous = rows.filter(col("version_no") === currentVersion - 1)

    val expired = table
      .withColumn("effective_end_ts",
        when(keyPred && col("is_current"), lit(asOf)).otherwise(col("effective_end_ts")))
      .withColumn("is_current",
        when(keyPred && col("is_current"), lit(false)).otherwise(col("is_current")))
    val reverted = previous
      .withColumn("version_no", lit(currentVersion + 1).cast("int"))
      .withColumn("effective_start_ts", lit(asOf))
      .withColumn("effective_end_ts", lit(SentinelEnd))
      .withColumn("is_current", lit(true))
    expired.unionByName(reverted.select(expired.columns.map(col): _*))
  }

  /** SCD invariant checks (ref verify_delta_vendors_job.py:57-65 +
    * FIXTURES.md §4): returns (rule, violation_count, passed) rows.
    */
  def invariants(table: DataFrame, conf: Config): DataFrame = {
    val keys = conf.keyCols
    val dupCurrent = table.filter(col("is_current"))
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(count(lit(1)).as("violations"))
      .select(lit("single_current_per_key").as("rule"), col("violations"),
        (col("violations") === 0).as("passed"))
    val versionGaps = table
      .groupBy(keys.map(col): _*)
      .agg(max("version_no").as("maxv"), count(lit(1)).as("n"))
      .filter(col("maxv") =!= col("n"))
      .agg(count(lit(1)).as("violations"))
      .select(lit("contiguous_versions").as("rule"), col("violations"),
        (col("violations") === 0).as("passed"))
    dupCurrent.unionByName(versionGaps)
  }

  /** Atomic table persist: write to a staging dir, then rename over
    * the live dir (S12 replacement for Delta's transactional write;
    * SURVEY.md §7.5.1 overwrite-while-reading discipline).
    *
    * `sidecar` entries are written as small files INTO the staging
    * dir before the swap, so data and metadata commit in the same
    * rename — a marker written after the swap would leave a window
    * where a crash decouples them. Names must start with `_` or `.`
    * (Spark's parquet reader skips such files).
    */
  def writeAtomic(df: DataFrame, path: String,
                  sidecar: Map[String, String] = Map.empty): Unit = {
    require(sidecar.keys.forall(n => n.startsWith("_") || n.startsWith(".")),
      s"sidecar names must be _/.-prefixed (parquet-reader-invisible): " +
        sidecar.keys.mkString(","))
    val spark = df.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hconf)
    val staging = new org.apache.hadoop.fs.Path(path + ".staging")
    val live = new org.apache.hadoop.fs.Path(path)
    val backup = new org.apache.hadoop.fs.Path(path + ".backup")
    df.write.mode("overwrite").parquet(staging.toString)
    sidecar.foreach { case (name, content) =>
      val out = fs.create(new org.apache.hadoop.fs.Path(staging, name), true)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    if (fs.exists(backup)) fs.delete(backup, true)
    if (fs.exists(live)) fs.rename(live, backup)
    fs.rename(staging, live)
    if (fs.exists(backup)) fs.delete(backup, true)
  }

  /** Read back a [[writeAtomic]] sidecar file, or None if absent. */
  def readSidecar(spark: org.apache.spark.sql.SparkSession, path: String,
                  name: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        Some(new String(buf.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** S6: audit-log record for each table write — replaces
    * DESCRIBE HISTORY (ref DeltaOP/delta_audit_history.py:14-16).
    */
  def auditRecord(spark: SparkSession, operation: String, version: Long,
                  rowCount: Long, asOf: java.sql.Timestamp): DataFrame = {
    import spark.implicits._
    Seq((version, operation, asOf, rowCount)).toDF(
      "table_version", "operation", "committed_at", "row_count")
  }
}
