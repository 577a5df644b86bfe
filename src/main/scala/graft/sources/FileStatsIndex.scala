package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delta/Iceberg-style DATA SKIPPING for plain parquet directories:
  * a per-file min/max statistics index, built once per table write,
  * that lets subsequent range-predicate reads open ONLY the files
  * whose value interval intersects the predicate.
  *
  * Parquet footers already carry row-group min/max, but the scan
  * still LISTS and OPENS every file to read those footers —
  * O(files) round-trips per query, which at lake scale (millions of
  * files) dominates planning. A table-level stats index inverts
  * that: one O(files)-row parquet read plans the file list, and the
  * data scan touches only survivors. This is exactly the transaction-
  * log stats mechanism of the table formats, re-expressed as an
  * explicit operator over directories the engine already writes.
  *
  * Soundness: `min ≤ v ≤ max` for every non-null value v in the
  * file, so a file is skippable for `[lo, hi]` iff
  * `max < lo ∨ min > hi`. NULL values never satisfy a range
  * predicate, so files whose indexed column is entirely NULL
  * (min/max NULL → the keep-condition is NULL → filtered out) are
  * correctly skippable. Pruning is file-level ONLY — the caller's
  * row-level predicate still applies after the read (same contract
  * as the formats' skipping).
  *
  * Effectiveness requires the layout to CLUSTER the indexed column
  * across files ([[Tables.compact]] with sortCols, or
  * [[Tables.writeZOrdered]] for two dimensions); on a random layout
  * every file's interval spans the domain and nothing prunes —
  * soundly, just uselessly.
  */
object FileStatsIndex {

  /** One scan → one stats row per file: min/max per indexed column
    * plus the file's row count. Map-side combined on the file-name
    * key (rows of one file live in contiguous scan partitions, so
    * partial aggregation collapses almost everything before the one
    * O(files)-row shuffle). Only the indexed columns are read —
    * column pruning keeps the build scan narrow.
    */
  def build(spark: SparkSession, path: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column to index")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
      count(lit(1)).as("n_rows")
    Tables.parquet(spark, path)
      .select(cols.map(col): _*)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Persist the index next to the table (atomic staging swap — the
    * same no-partial-state contract every sink here honors).
    */
  def write(stats: DataFrame, tablePath: String): String = {
    val statsPath = indexPath(tablePath)
    graft.operators.Scd2.writeAtomic(stats.coalesce(1), statsPath)
    statsPath
  }

  def indexPath(tablePath: String): String =
    tablePath.stripSuffix("/") + "_file_stats"

  /** Range-predicate read through the index: open ONLY files whose
    * [min, max] interval intersects [lo, hi]. The survivor file list
    * is an O(files) control-plane collect (bounded by file count,
    * never row count — the same class of driver hop as partition
    * listing). Returns the pruned frame; callers apply their row
    * predicate on top, exactly as with format-native skipping.
    */
  def prunedRead(spark: SparkSession, tablePath: String, c: String,
                 lo: Column, hi: Column): DataFrame = {
    val stats = Tables.parquet(spark, indexPath(tablePath))
    val survivors = stats
      .filter(col(s"max_$c") >= lo && col(s"min_$c") <= hi)
      .select("file").collect().map(_.getString(0)).toSeq
    readFiles(spark, tablePath, survivors)
  }

  /** `files` of the table at `tablePath`, read as the table is: with its
    * resolved schema and its partition columns (`basePath`), so pruned
    * and empty reads have the full read's columns and infer nothing.
    * No files: the table's schema and no rows.
    */
  private def readFiles(spark: SparkSession, tablePath: String,
                        files: Seq[String]): DataFrame = {
    val table = Tables.parquet(spark, tablePath)
    if (files.isEmpty) table.filter(lit(false))
    else spark.read.schema(table.schema).option("basePath", tablePath).parquet(files: _*)
  }

  /** The file lists a predicate would read, with and without the
    * index — the audit pair TablesSpec pins (pruned ⊂ all, and
    * result equality).
    */
  def plannedFiles(spark: SparkSession, tablePath: String, c: String,
                   lo: Column, hi: Column): (Seq[String], Seq[String]) = {
    val stats = Tables.parquet(spark, indexPath(tablePath))
    val all = stats.select("file").collect().map(_.getString(0)).toSeq.sorted
    val pruned = stats
      .filter(col(s"max_$c") >= lo && col(s"min_$c") <= hi)
      .select("file").collect().map(_.getString(0)).toSeq.sorted
    (pruned, all)
  }

  private def baseName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** INCREMENTAL index maintenance — the ingest-loop shape. A full
    * [[build]] re-reads the whole table on every append; refresh
    * stats ONLY the files the index hasn't seen and drops rows for
    * files that vanished (compaction, vacuum, GDPR rewrite). Indexed
    * files are NEVER re-read — their stats rows pass through
    * byte-identical (immutable-file semantics: a parquet data file
    * never changes in place in any lake layout here; rewrites create
    * new files). The file-set diff is an O(files) driver hop on
    * BASENAMES (unique per directory, scheme-independent — listing
    * URIs and `input_file_name` URIs differ in scheme spelling).
    * Returns the number of newly indexed files.
    */
  def refresh(spark: SparkSession, tablePath: String,
              cols: Seq[String]): Int = {
    require(cols.nonEmpty, "need at least one column to index")
    val listed = Tables.leafFiles(spark, tablePath).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.toUri.toString).toMap
    // snapshot at localCheckpoint's default level: the swap below
    // replaces the files this frame reads
    val existing = graft.operators.Iterate.checkpoint(
      Tables.parquet(spark, indexPath(tablePath)),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val indexed = existing.select("file").collect()
      .map(r => baseName(r.getString(0))).toSet
    val newPaths = (listed.keySet -- indexed).toSeq.sorted.map(listed)
    val removed = indexed -- listed.keySet
    val kept =
      if (removed.isEmpty) existing
      else {
        val rm = removed // stable reference for the closure-free filter
        existing.filter(not(
          regexp_extract(col("file"), "[^/]+$", 0)
            .isin(rm.toSeq.sorted: _*)))
      }
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
      count(lit(1)).as("n_rows")
    val updated =
      if (newPaths.isEmpty) kept
      else kept.unionByName(
        spark.read.parquet(newPaths: _*)
          .select(cols.map(col): _*)
          .groupBy(input_file_name().as("file"))
          .agg(aggs.head, aggs.tail: _*))
    graft.operators.Scd2.writeAtomic(updated.coalesce(1), indexPath(tablePath))
    graft.operators.Iterate.release(existing)
    newPaths.length
  }

  // ───── bloom-filter file index: the POINT-LOOKUP complement of the
  // min/max index (Delta's BLOOMFILTER INDEX). Min/max skipping needs
  // the layout to range-cluster the column; a key-hash-partitioned
  // layout defeats it (every file's interval spans the domain) yet is
  // exactly what equality lookups want — each key lives in ONE file,
  // and a per-file bloom finds it without opening the rest. False
  // positives only cost an extra file read; false negatives are
  // impossible (the [[graft.plans.BloomAgg]] filter is exact on
  // membership-no).

  def bloomIndexPath(tablePath: String): String =
    tablePath.stripSuffix("/") + "_file_bloom"

  /** One scan → one (file, bloom, n_rows) row per file. Sized for
    * ~`numItems` distinct keys per file at `numBits` (defaults give
    * ~8 bits/key ≈ 2% fpp). The bloom aggregate merges map-side like
    * any agg, so the build is one narrow scan + one O(files) shuffle.
    */
  def buildBloom(spark: SparkSession, path: String, c: String,
                 numItems: Long = 100000L,
                 numBits: Long = 800000L): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    Tables.parquet(spark, path)
      .select(col(c))
      .groupBy(input_file_name().as("file"))
      .agg(expr(s"bloom_agg(xxhash64($c), ${numItems}L, ${numBits}L)")
        .as(s"bloom_$c"),
        count(lit(1)).as("n_rows"))
  }

  def writeBloom(stats: DataFrame, tablePath: String): String = {
    val p = bloomIndexPath(tablePath)
    graft.operators.Scd2.writeAtomic(stats.coalesce(1), p)
    p
  }

  /** (file, survives) pairs for a point probe. The per-file filters
    * are PROBED ON THE DRIVER: Spark's `might_contain` only accepts a
    * constant/scalar-subquery filter (it exists for runtime join
    * pruning with ONE filter), while an index has one filter PER ROW
    * — and the index is O(files) control-plane data anyway, the same
    * class of driver hop as the min/max file list. Deserialization is
    * Spark's own sketch codec, so probe semantics match the
    * `bloom_agg` build bit-for-bit. The probe hash is computed by the
    * ENGINE (a 1-row xxhash64 job), so the value must be cast to the
    * indexed column's exact type — xxhash64 of an int and of a long
    * differ, and a mismatched probe would prune everything.
    */
  private def bloomSurvivors(spark: SparkSession, tablePath: String,
                             c: String, value: Column): (Seq[String], Seq[String]) = {
    graft.plans.GraftExtensions.register(spark)
    val probeHash = spark.range(1).select(xxhash64(value)).head().getLong(0)
    val rows = Tables.parquet(spark, bloomIndexPath(tablePath))
      .select(col("file"), col(s"bloom_$c")).collect()
    val all = rows.map(_.getString(0)).toSeq.sorted
    val pruned = rows.filter { r =>
      org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
        .mightContainLong(probeHash)
    }.map(_.getString(0)).toSeq.sorted
    (pruned, all)
  }

  /** Equality-lookup read through the bloom index: open ONLY files
    * whose filter might contain the key. O(files) control-plane
    * collect, same class as [[prunedRead]].
    */
  def prunedPointRead(spark: SparkSession, tablePath: String, c: String,
                      value: Column): DataFrame = {
    readFiles(spark, tablePath, bloomSurvivors(spark, tablePath, c, value)._1)
  }

  /** Audit pair for the bloom path: (files a point lookup opens,
    * all files) — TablesSpec pins pruned ⊂ all plus result equality.
    */
  def plannedFilesBloom(spark: SparkSession, tablePath: String, c: String,
                        value: Column): (Seq[String], Seq[String]) =
    bloomSurvivors(spark, tablePath, c, value)
}
