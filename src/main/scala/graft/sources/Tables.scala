package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.util.control.NonFatal

/** Readers/writers for the engine's zoned-lake layout.
  *
  * Re-expresses the reference's source/sink surface (SURVEY.md §2.1,
  * reference `glue_jobs/nyc_raw_to_validated_etl.py:37,93-96`,
  * `nyc_validated_to_curated_etl.py:86-94,103`) Spark-first: plain
  * `spark.read`/`df.write` with partitioned layouts so Catalyst gets
  * partition pruning and parquet filter pushdown for free.
  */
object Tables {

  /** Canonical testdata tables (TESTDATA.md). */
  val testTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** S1: parquet scan. Column pruning + predicate pushdown are
    * handled by Catalyst; callers should NOT pre-materialize.
    *
    * The schema is resolved once per (session, path, inference confs,
    * leaf-file snapshot) and later reads pass it to the reader, so they
    * skip footer inference (a one-task Spark job per call). The snapshot
    * lists every leaf file's name, length and mtime, so any rewrite of
    * the path, through whatever writer, misses the cache: no sink needs
    * to invalidate it. A miss returns the inferring read itself, so it
    * costs one listing and nothing more. A path that cannot be listed
    * (missing, a glob) takes the plain read and its error.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    SchemaCache.key(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(key) => SchemaCache.get(spark, key) match {
        case Some(schema) => spark.read.schema(schema).parquet(path)
        case None =>
          val df = spark.read.parquet(path)
          SchemaCache.put(spark, key, df.schema)
          df
      }
    }

  /** Resolved parquet schemas, one bounded LRU map per session. Sessions
    * are weak keys, so a stopped, unreferenced session is not kept alive.
    */
  private object SchemaCache {
    private val MaxEntriesPerSession = 256
    // confs that change what footer inference returns for the same files
    private val inferenceConfs = Seq(
      "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.inferTimestampNTZ.enabled",
      "spark.sql.parquet.binaryAsString",
      "spark.sql.parquet.int96AsTimestamp",
      "spark.sql.parquet.mergeSchema",
      "spark.sql.sources.partitionColumnTypeInference.enabled",
      "spark.sql.caseSensitive")

    /** (path, inference confs, digest of the leaf-file listing). */
    final case class Key(path: String, confs: Seq[Option[String]], files: String)

    private val bySession =
      new java.util.WeakHashMap[SparkSession, java.util.LinkedHashMap[Key, StructType]]()

    def key(spark: SparkSession, path: String): Option[Key] =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val f = it.next()
          md.update(s"${f.getPath}\u0000${f.getLen}/${f.getModificationTime}\n"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        Some(Key(path, inferenceConfs.map(spark.conf.getOption),
          java.util.Base64.getEncoder.encodeToString(md.digest())))
      } catch { case NonFatal(_) => None }

    def get(spark: SparkSession, key: Key): Option[StructType] = synchronized {
      Option(bySession.get(spark)).flatMap(m => Option(m.get(key)))
    }

    def put(spark: SparkSession, key: Key, schema: StructType): Unit = synchronized {
      bySession.computeIfAbsent(spark, _ =>
        new java.util.LinkedHashMap[Key, StructType](16, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[Key, StructType]): Boolean =
            size() > MaxEntriesPerSession
        }).put(key, schema)
      ()
    }
  }

  /** Read one of the driver's testdata tables from an sf dir. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** Floor the parallelism of a CPU-heavy per-row derivation
    * (optimization guide §2.5, input skew: "one huge unsplittable
    * file … repartition immediately after the read"). A single-file,
    * single-row-group parquet scan hands the WHOLE table to one task
    * — Spark's byte-range splits exist, but every row group lands in
    * the split holding its midpoint — so an expensive projection
    * (shingling, minhash, tokenize-and-explode) runs single-threaded
    * no matter how many cores the session has (measured: 8.5 s
    * single-task tokenize stages in ta_bigram_logprob at sf0.1 on 32
    * cores). When the frame's planned partition count is below the
    * session parallelism, redistribute rows round-robin before the
    * heavy work; when the scan already carries ≥ parallelism splits —
    * any realistic multi-file table, in particular anything at
    * cluster scale — this is the identity and costs nothing. The
    * probe reads the planned partitioning only (no job).
    *
    * Guarded to SCAN-SIDE frames (leaf/project/filter/union/alias):
    * under AQE, `.rdd` on a frame that contains an upstream exchange
    * MATERIALIZES those query stages — real shuffle jobs whose results
    * are then discarded and recomputed by the returned df. Any other
    * shape is returned unchanged rather than probed (ADVICE r15).
    */
  def spreadScan(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (!scanSide(df.queryExecution.analyzed)) df
    else if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  /** True when the plan is scan-side only — shapes whose `.rdd`
    * partition probe plans no exchange (see [[spreadScan]]).
    */
  private def scanSide(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan match {
      case _: LeafNode      => true
      case p: Project       => scanSide(p.child)
      case f: Filter        => scanSide(f.child)
      case u: Union         => u.children.forall(scanSide)
      case a: SubqueryAlias => scanSide(a.child)
      case v: View          => scanSide(v.child)
      case _                => false
    }
  }

  /** Normalize the events `ts` column to session-zoned TimestampType
    * regardless of how the file encoded it. Generators have shipped
    * events.parquet both as TIMESTAMP(NANOS) — which Spark 4 rejects
    * unless decoded as int64 nanos via the legacy nanosAsLong conf —
    * and as plain timestamp[us] (decoded as TIMESTAMP_NTZ). A schema
    * dispatch here makes every events consumer robust to either
    * encoding instead of hard-coding one. Under the UTC session
    * timezone the NTZ→TZ cast preserves the wall-clock value, so the
    * result matches DuckDB's native read in both cases (ns→µs is a
    * truncation, DuckDB's cast semantics).
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other " +
          "(expected int64 nanos, timestamp_ntz, or timestamp)")
    }
  }

  /** Spark 4 rejects parquet TIMESTAMP(NANOS) unless the legacy
    * `nanosAsLong` conf is on. This helper OWNS that conf (the only
    * set site in the engine): it first tries a plain read; only when
    * the footer actually carries NANOS (the rejection error) does it
    * enable the conf and retry. The conf must outlive the call — the
    * returned frame decodes nanos lazily at execution — so it
    * escalates per-session on demand instead of save/restoring; the
    * common (µs) path never touches it, so plain timestamp reads
    * elsewhere in the session are unaffected.
    */
  def readParquetAutoNanos(spark: SparkSession, path: String): DataFrame =
    try parquet(spark, path)
    catch {
      case NonFatal(e) if mentionsNanos(e) =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        parquet(spark, path)
    }

  private def mentionsNanos(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t != null) {
      if (t.getMessage != null && t.getMessage.contains("NANOS")) return true
      t = if (t.getCause eq t) null else t.getCause
    }
    false
  }

  /** Events read with `ts` normalized to TimestampType — see
    * [[normalizeEventTs]]. Centralized so every consumer agrees.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventTs(readParquetAutoNanos(spark, s"$sfDir/events.parquet"))

  /** S3: CSV scan with header (reference zone/vendor master reads,
    * `nyc_validated_to_curated_etl.py:103`). `inferSchema=false` by
    * default mirrors the reference's all-string-then-cast pattern.
    */
  def csv(spark: SparkSession, path: String,
          schema: Option[StructType] = None,
          inferSchema: Boolean = false): DataFrame = {
    val r = spark.read.option("header", "true")
    schema match {
      case Some(s) => r.schema(s).csv(path)
      case None    => r.option("inferSchema", inferSchema.toString).csv(path)
    }
  }

  /** S8: partitioned parquet sink (validated zone by run_date,
    * `nyc_raw_to_validated_etl.py:93-96`). Partition column choice is
    * the scale lever: downstream latest-partition reads prune to one
    * directory regardless of total table size.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** S9: append parquet sink (`nyc_validated_to_curated_etl.py:163`). */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** S10: dynamic partition overwrite — only touched partitions are
    * replaced (`nyc_validated_to_curated_etl.py:65`). Session-scoped.
    */
  def enableDynamicPartitionOverwrite(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

  /** Run `body` with dynamic partition-overwrite ON, then restore the
    * previous mode — the scoped form of
    * [[enableDynamicPartitionOverwrite]], so one incremental-landing
    * call site can't silently flip every later `overwrite` write in
    * the session from static to dynamic (writes are EAGER, unlike
    * reads, so save/restore is safe here).
    */
  def withDynamicPartitionOverwrite[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** S11: single-file JSON metrics sink
    * (`nyc_raw_to_validated_etl.py:115-119`). coalesce(1) is correct
    * here ONLY because metrics frames are tiny (1-row audit records);
    * never use on data-scale frames.
    */
  def writeJsonSingleFile(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").json(path)

  /** Latest-partition incremental read (S2,
    * `nyc_validated_to_curated_etl.py:86-94`): read the base path,
    * find max partition value, filter to it. With a partitioned
    * layout the filter prunes to one directory — the max() scan
    * itself only reads partition metadata when `col` is a partition
    * column, so this stays O(latest partition) at 100 TB.
    */
  def latestPartition(spark: SparkSession, path: String, col: String): DataFrame = {
    import org.apache.spark.sql.functions.max
    val df = spark.read.parquet(path)
    val latest = df.agg(max(org.apache.spark.sql.functions.col(col))).head().get(0)
    df.filter(org.apache.spark.sql.functions.col(col) === latest)
  }

  /** S13: managed-table sink — the JDBC full-overwrite semantics
    * (`ppcurated_rds.py:64-72`: replace named table `curated.x`)
    * modeled as a catalog table overwrite; [[writeJdbc]] is the same
    * semantics against a live JDBC url.
    */
  def writeManagedTable(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").saveAsTable(table)

  /** Bucketed managed-table sink (scale extension beyond the
    * reference's plain-parquet zones): pre-hash-partition a table on
    * its join/agg key at WRITE time so every later equi-join or
    * groupBy on that key runs shuffle-free — both sides of a join
    * bucketed `(key, n)` are already co-located, and `sortBy` makes
    * each bucket file pre-sorted so sort-merge join skips its sort.
    * This is the 100-TB lever for repeatedly-joined fact tables: pay
    * one shuffle at ingest, never again. `numBuckets` should match
    * the downstream parallelism (cluster cores), not the 8 used at
    * test scale.
    */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int,
                    bucketCol: String, sortCols: Seq[String] = Nil): Unit = {
    // Idempotent across sessions: a managed table written by a PREVIOUS
    // session leaves its warehouse directory behind while the new
    // session's in-memory catalog has no entry for it — saveAsTable then
    // fails with LOCATION_ALREADY_EXISTS. Drop the catalog entry and
    // remove the orphaned location before writing.
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(loc)) fs.delete(loc, true)
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol)
    val sorted = if (sortCols.isEmpty) w else w.sortBy(sortCols.head, sortCols.tail: _*)
    sorted.saveAsTable(table)
  }

  /** JSONL (JSON-lines) corpus reader — the interchange format
    * training corpora actually ship in. ALWAYS pass a schema in
    * production: schema inference is a full extra pass over the data
    * (at 100 TB, a second 100 TB scan before the first real one).
    * `multiLine` stays false so files split by line and parallelize
    * per-block; a multiline JSON document cannot be split.
    */
  def readJsonl(spark: SparkSession, path: String,
                schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("mode", "PERMISSIVE")
    schema.fold(r.json(path))(s => r.schema(s).json(path))
  }

  /** JSONL sink — one JSON object per line, splittable on re-read. */
  def writeJsonl(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)

  /** Raw text-lines reader (one row per line, column `value`) — the
    * lowest-level corpus ingestion surface; `wholetext=true` flips to
    * one row per FILE for document-per-file layouts.
    */
  def readTextLines(spark: SparkSession, path: String,
                    wholeFile: Boolean = false): DataFrame =
    spark.read.option("wholetext", wholeFile.toString).text(path)

  /** ORC round-trip — the other splittable columnar format Spark
    * ships natively; same pushdown/pruning behavior as parquet.
    */
  def writeOrc(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Small-file compaction — lake maintenance for append-heavy
    * layouts. Streaming sinks and per-batch appends accumulate tiny
    * files; at 100 TB the scheduler/metadata cost of millions of
    * small splits dominates the scan itself. Rewrites the directory
    * into `ceil(bytes / targetFileBytes)` files — sized from the
    * ACTUAL on-disk footprint, not a guessed partition count — using
    * `coalesce` (narrow: no shuffle, readers merge input splits) and
    * the atomic staging swap (`Scd2.writeAtomic`), so a concurrent
    * reader never observes a half-compacted directory. Returns the
    * target file count.
    *
    * ORDERING: pass `sortCols` for a table whose layout carries
    * meaning — a clustered/z-ordered table compacted through the
    * round-robin path would silently lose its min/max file pruning
    * (round-robin scatters rows across files; each file then spans
    * the full key range). With `sortCols` the rewrite is
    * `repartitionByRange` + `sortWithinPartitions`, which RESTORES
    * clustering on those keys. Without it, `coalesce` preserves
    * concatenated input order; the round-robin shuffle (taken only
    * when the compaction ratio is steep, files > 4n) trades ordering
    * for scan parallelism — acceptable for unordered append logs,
    * wrong for clustered tables, hence the explicit parameter.
    */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L << 20,
              sortCols: Seq[String] = Nil): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // size RECURSIVELY: partitioned layouts keep their files in nested
    // key=value dirs, so a top-level-only listing would see bytes=0 and
    // silently compact a large table to one file
    var bytes = 0L; var files = 0
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { bytes += f.getLen; files += 1 }
    }
    val n = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    // coalesce is narrow but collapses the upstream SCAN to n tasks; when
    // the compaction ratio is steep (many small files → few big ones) pay
    // one round-robin shuffle instead so the read keeps its parallelism
    val df = spark.read.parquet(path)
    import org.apache.spark.sql.functions.col
    val arranged =
      if (sortCols.nonEmpty)
        df.repartitionByRange(n, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else if (files > 4 * n) df.repartition(n)
      else df.coalesce(n)
    graft.operators.Scd2.writeAtomic(arranged, path)
    n
  }

  /** OPTIMIZE-style lake maintenance in one call — the nightly job
    * every lakehouse runs: compact small files into target-sized
    * ones CLUSTERED on `sortCols` ([[compact]]'s range-partition +
    * in-partition sort path), rebuild the min/max skipping index
    * over `statsCols` ([[FileStatsIndex]] — a rewrite invalidates
    * every old file, so rebuild, not refresh), and return a one-row
    * AUDIT frame: file/byte counts before and after plus the row
    * count — the row count read from the fresh stats index, not
    * another table scan. Every number is fs metadata or a frame the
    * maintenance already built; the data itself is read once
    * (compaction) and written once.
    */
  def maintain(spark: SparkSession, path: String,
               targetFileBytes: Long = 128L << 20,
               sortCols: Seq[String] = Nil,
               statsCols: Seq[String] = Nil): DataFrame = {
    def footprint(): (Long, Long) = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      var bytes = 0L; var files = 0L
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) { bytes += f.getLen; files += 1 }
      }
      (files, bytes)
    }
    val (filesBefore, bytesBefore) = footprint()
    compact(spark, path, targetFileBytes, sortCols)
    val idxCols = if (statsCols.nonEmpty) statsCols else sortCols
    val rows: Long =
      if (idxCols.nonEmpty) {
        FileStatsIndex.write(FileStatsIndex.build(spark, path, idxCols), path)
        parquet(spark, FileStatsIndex.indexPath(path))
          .agg(org.apache.spark.sql.functions.sum("n_rows")).head.getLong(0)
      } else parquet(spark, path).count()
    val (filesAfter, bytesAfter) = footprint()
    import spark.implicits._
    Seq((filesBefore, filesAfter, bytesBefore, bytesAfter, rows))
      .toDF("n_files_before", "n_files_after",
        "bytes_before", "bytes_after", "n_rows")
  }

  /** Recursive path delete through the Hadoop fs (works for local
    * temp artifacts and any lake filesystem alike) — the one shared
    * cleanup helper, so scratch-dir lifecycles never hand-roll
    * child-before-parent deletion order.
    */
  def deletePath(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    ()
  }

  /** `df` collected into a driver-local frame with the same schema, so
    * it no longer reads its source files: for results of a few rows
    * whose scratch directory is deleted before they are returned.
    */
  def collectLocal(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Schema-evolution read: files in one directory may carry
    * different (compatible) footers as columns are added over a
    * table's life; `mergeSchema` unions them and files that predate a
    * column surface NULL for it. Spark leaves this off by default
    * because footer merging costs O(files) at planning — so it is an
    * explicit per-read surface here, not a session conf.
    */
  def readMergedSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Z-order (Morton) interleave of two pre-normalized values in
    * [0, 2^bits): bit i of `a` lands at position 2i, bit i of `b` at
    * 2i+1. Built from shift/and/or Column ops only — codegen'd, no
    * UDF. Sorting by this value clusters rows so that a contiguous
    * slice covers a LOCAL region of BOTH dimensions.
    */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
             bits: Int = 16): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftrightunsigned}
    (0 until bits).map { i =>
      shiftleft(shiftrightunsigned(a, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftrightunsigned(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Z-ordered clustered write — the two-dimension analogue of
    * [[writeSharded]]. A single-column sort prunes file-level min/max
    * stats on that column only: every file spans the FULL range of
    * the second column, so predicates on it scan everything. Here
    * both columns are min/max-normalized to `bits`-bit grid cells,
    * Morton-interleaved, range-partitioned and sorted on the z-value:
    * each output file covers a compact rectangle of the (colA, colB)
    * space, so footer min/max pruning works for predicates on EITHER
    * column. The normalization bounds come from one 4-value aggregate
    * (constant driver hop at any scale).
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    numFiles: Int, bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions._
    val r = df.agg(
      min(col(colA)).cast("long"), max(col(colA)).cast("long"),
      min(col(colB)).cast("long"), max(col(colB)).cast("long")).head
    if (r.isNullAt(0) || r.isNullAt(2)) { // empty input: nothing to cluster
      df.write.mode("overwrite").parquet(path)
      return
    }
    val (aMin, aMax, bMin, bMax) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val cells = (1L << bits) - 1
    // normalize in DOUBLE, dividing before multiplying: the integer form
    // (col−lo)·cells overflows Long once the key range exceeds ~2^47,
    // silently producing garbage z-values; a double ratio in [0,1] times
    // cells is exact enough for grid-cell assignment at any range
    def norm(c: String, lo: Long, hi: Long) =
      if (hi == lo) lit(0L)
      else least(lit(cells), greatest(lit(0L),
        ((col(c).cast("double") - lit(lo.toDouble)) /
          lit(hi.toDouble - lo.toDouble) * lit(cells.toDouble)).cast("long")))
    df.withColumn("_z", zValue(norm(colA, aMin, aMax), norm(colB, bMin, bMax), bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Range-sharded sorted output (training-example sharding): rows
    * are range-partitioned on `sortCol` into `numShards` files, each
    * internally sorted — a global sort order across shard files
    * WITHOUT a single-reducer global sort (repartitionByRange samples
    * range bounds, then each shard sorts locally in parallel). The
    * standard layout for reproducible training-data delivery: shard k
    * holds a contiguous key range, readers stream shards in order.
    */
  def writeSharded(df: DataFrame, path: String, sortCol: String,
                   numShards: Int, mode: String = "overwrite"): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(numShards, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode(mode).parquet(path)
  }

  /** S13: real JDBC overwrite sink (`ppcurated_rds.py:64-72` —
    * `mode("overwrite")` replaces the named warehouse table). At
    * scale, `numPartitions` caps concurrent connections so a
    * 1000-task write doesn't open 1000 sessions against the database
    * — the write is repartitioned down before the JDBC batch inserts.
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
                numPartitions: Int = 8,
                props: java.util.Properties = new java.util.Properties()): Unit =
    df.coalesce(numPartitions).write.mode("overwrite").jdbc(url, table, props)

  /** JDBC read-back twin of [[writeJdbc]] (warehouse verification
    * reads). Partitioned reads (`partitionColumn`/bounds) are the
    * scale path; this plain form is for small verification queries.
    */
  def readJdbc(spark: SparkSession, url: String, table: String,
               props: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read.jdbc(url, table, props)

  /** Data files under a parquet output directory, the COPY manifest
    * unit (Redshift's manifest file is exactly this list): absolute
    * file paths, sorted for determinism. Control-plane metadata —
    * O(files) driver-side, never data.
    */
  def parquetManifest(spark: SparkSession, dir: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else if (s.getPath.getName.endsWith(".parquet")) Seq(s) else Seq.empty
      }
    walk(path).map(_.getPath.toString).sorted
  }

  /** S14: warehouse bulk load in the Redshift COPY shape
    * (`glue_jobs/nyc_curated_s3_to_redshift.py:60-73` — `COPY schema.
    * table FROM 's3://curated/...' FORMAT AS PARQUET` + the job's
    * post-load rowcount check), re-expressed over the portable JDBC
    * path: the MANIFEST (an explicit file list, the COPY retry/atomic
    * unit — never "whatever the prefix holds right now") is read as
    * one parquet scan and APPENDED into the warehouse table, then the
    * load is audited by rowcount. Returns the one-row audit frame —
    * `(table, n_files, rows_before, rows_manifest, rows_after, ok)` —
    * with `ok = (rows_after − rows_before == rows_manifest)`, the
    * gate a workflow checks before `job.commit()`.
    *
    * Scale shape: the scan is a normal distributed parquet read of
    * exactly the manifested files; `numPartitions` caps concurrent
    * warehouse connections (same dial as [[writeJdbc]]); the audit
    * counts are a footer-metadata count on the Spark side and a
    * `count(*)` pushed to the warehouse on the JDBC side — no data
    * is re-read to audit.
    */
  def copyManifest(spark: SparkSession, manifest: Seq[String], url: String,
                   table: String, numPartitions: Int = 8,
                   props: java.util.Properties = new java.util.Properties())
      : DataFrame = {
    require(manifest.nonEmpty, "COPY manifest must list at least one file")
    import org.apache.spark.sql.functions.lit
    def warehouseCount(): Long =
      try readJdbc(spark, url, table).count() catch { case _: Exception => 0L }
    val before = warehouseCount()
    val df = spark.read.parquet(manifest: _*)
    val rowsManifest = df.count()
    df.coalesce(numPartitions).write.mode("append").jdbc(url, table, props)
    val after = warehouseCount()
    import spark.implicits._
    Seq((table, manifest.size, before, rowsManifest, after))
      .toDF("table", "n_files", "rows_before", "rows_manifest", "rows_after")
      .withColumn("ok", lit(after - before == rowsManifest))
  }

  /** Immediate child directories of `base` whose name starts with
    * `prefix`, via the Hadoop FileSystem API — so control-plane
    * listings (version dirs, run-id prefixes) work on any supported
    * scheme (`file://`, `hdfs://`, `s3a://`), mirroring the
    * reference lambda's S3 CommonPrefixes listing. Returns bare dir
    * names, unsorted. O(children) driver-side metadata, never data.
    */
  def listChildDirNames(base: String, prefix: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(base)
    val conf = SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(_.getPath.getName)
  }

  /** P12: required-column assertion
    * (`nyc_validated_to_curated_etl.py:25-28`). */
  def requireCols(df: DataFrame, cols: Seq[String]): Unit = {
    val missing = cols.filterNot(df.columns.map(_.toLowerCase).toSet)
    require(missing.isEmpty, s"missing required columns: ${missing.mkString(", ")}")
  }

  /** P11: column-name normalization
    * (`nyc_validated_to_curated_etl.py:31-53`): trim, non-alnum → _,
    * collapse _, lowercase, dedupe with _N suffix. Pure driver-side
    * rename — zero plan impact.
    */
  def normalizeColumnNames(df: DataFrame): DataFrame = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val renamed = df.columns.map { c =>
      val base = c.trim
        .replaceAll("[^0-9a-zA-Z_]+", "_")
        .replaceAll("_+", "_")
        .stripPrefix("_").stripSuffix("_")
        .toLowerCase
      val n = seen.getOrElse(base, 0)
      seen(base) = n + 1
      if (n == 0) base else s"${base}_$n"
    }
    df.toDF(renamed: _*)
  }
}
