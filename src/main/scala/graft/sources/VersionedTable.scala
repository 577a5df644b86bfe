package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-level version store — the Delta-lake audit surface the
  * reference exercises (`DeltaOP/delta_audit_update.py`: overwrite
  * creates a NEW VERSION; `delta_audit_read.py`: DESCRIBE HISTORY;
  * `delta_audit_history.py` / `delta_time_travel.py`: versionAsOf
  * reads) re-expressed on plain parquet: each write lands a new
  * `v=N` directory plus a one-row JSON manifest, so every version
  * stays readable and the history IS the audit log. Complements
  * `Scd2` (row-level versioning) with the reference's table-level
  * semantics.
  *
  * Scale: the manifest is O(versions) driver-side control plane; data
  * reads prune to exactly one `v=N` directory.
  */
object VersionedTable {

  /** Version directories present under the base path, ascending —
    * listed via the Hadoop FileSystem API (any scheme, not local-FS
    * only).
    */
  private def versions(base: String): Seq[Int] =
    Tables.listChildDirNames(base, "v=")
      .map(_.stripPrefix("v=").toInt).sorted

  def currentVersion(base: String): Option[Int] = versions(base).lastOption

  /** Write `df` as the next version with an audit manifest row
    * (operation name, record count, injected timestamp — the
    * DESCRIBE-HISTORY fields the reference reads). Returns the new
    * version number. The data write completes before the manifest
    * write, so a torn write leaves an orphan data dir but never a
    * manifest pointing at missing data.
    */
  def write(df: DataFrame, base: String, operation: String,
            asOf: java.sql.Timestamp): Int = {
    val next = currentVersion(base).getOrElse(0) + 1
    val spark = df.sparkSession
    df.write.mode("errorifexists").parquet(s"$base/v=$next")
    // count is read BACK from storage so the audit manifest records
    // what actually landed, not what the plan attempted (a parquet
    // count() reads only footers — cheap at any scale)
    val count = spark.read.parquet(s"$base/v=$next").count()
    import spark.implicits._
    Tables.writeJsonSingleFile(
      Seq((next, operation, count, asOf))
        .toDF("version", "operation", "record_count", "run_timestamp"),
      s"$base/_history/v=$next")
    next
  }

  /** Latest-version read (the plain `spark.read.format("delta")`). */
  def read(spark: SparkSession, base: String): DataFrame =
    readVersion(spark, base,
      currentVersion(base).getOrElse(sys.error(s"no versions under $base")))

  /** versionAsOf read (`delta_time_travel.py:14-19`). */
  def readVersion(spark: SparkSession, base: String, version: Int): DataFrame =
    spark.read.parquet(s"$base/v=$version")

  /** DESCRIBE HISTORY (`delta_audit_read.py:20`): one audit row per
    * version, ascending. Reads the listed manifest dirs, not a glob: a
    * glob read logs a FileNotFoundException WARN on every call.
    */
  def history(spark: SparkSession, base: String): DataFrame =
    spark.read.json(versions(s"$base/_history").map(v => s"$base/_history/v=$v"): _*)
      .select(col("version").cast("int"), col("operation"),
        col("record_count").cast("long"),
        to_timestamp(col("run_timestamp")).as("run_timestamp"))
      .orderBy("version")

  /** Timestamp-based time travel: the newest version whose manifest
    * timestamp is ≤ `asOf`.
    */
  def readAsOf(spark: SparkSession, base: String,
               asOf: java.sql.Timestamp): DataFrame = {
    val v = history(spark, base)
      .filter(col("run_timestamp") <= lit(asOf))
      .agg(max("version")).head()
    require(!v.isNullAt(0), s"no version at or before $asOf under $base")
    readVersion(spark, base, v.getInt(0))
  }
}
