package graft

import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Canonical SparkSession builder for the engine — the one public
  * entrypoint a library user configures a session through. Centralizes
  * the confs the engine's semantics depend on, so every session
  * (user app, Verify, Bench, tests) agrees:
  *
  *  - UTC session timezone: timestamp results are engine-reproducible
  *    (oracle comparisons are tz-strict).
  *  - TIMESTAMP_MICROS parquet output: Spark's INT96 default reads
  *    back as nanos and OVERFLOWS year-9999 SCD2 sentinels.
  *  - AQE on: runtime coalescing/skew-join — the 100-TB re-plan path.
  *  - GraftExtensions: registers the engine's codegen'd Catalyst
  *    expressions (poly_hash64, minhash_sigs, packed_shingles,
  *    jaccard_sorted) as SQL functions.
  *  - A 1000-entry generated-class cache (see [[CodegenCacheEntries]]).
  *  - A fork-free `file://`: `spark.hadoop.fs.file.impl` and
  *    `spark.hadoop.fs.AbstractFileSystem.file.impl` name
  *    [[graft.sources.NioLocalFileSystem]] and [[graft.sources.NioLocalFs]],
  *    which set file modes through java.nio where Hadoop would run one
  *    `chmod` process per file. Hadoop caches one `FileSystem` per
  *    scheme and user, first come, so this holds when an engine session
  *    is the first in its JVM to touch `file://`.
  *
  * `spark.sql.shuffle.partitions` defaults to the cluster's core
  * count when given (local mode: pass the parallelism you run with —
  * the 200 default is wrong for a laptop and for a 1000-executor
  * cluster alike).
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries` for every engine session. One
    * headline pass needs ~200 generated classes, so Spark's default of
    * 100 evicts and recompiles them on every pass.
    */
  val CodegenCacheEntries = 1000

  def builder(appName: String = "graft",
              master: Option[String] = None,
              shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      // ObjectHashAggregate (the execution mode of every
      // TypedImperativeAggregate, e.g. topk_pairs) falls back to
      // SORT-BASED aggregation after only 128 distinct groups by
      // default — built for sketches with megabyte buffers. This
      // engine's object buffers are O(k) longs by design, so keep
      // hash aggregation through realistic group counts. The count
      // fallback is ObjectHashAggregate's ONLY spill path (the
      // object map has no memory-pressure trigger), so the threshold
      // must stay moderate: 256k live O(k)-long buffers is bounded
      // heap; a 10M threshold would let a high-cardinality key OOM an
      // executor where the default would have spilled.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "262144")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.NioLocalFs].getName)
    val withMaster = master.fold(b)(b.master)
    shufflePartitions.fold(withMaster)(n =>
      withMaster.config("spark.sql.shuffle.partitions", n))
  }

  /** Local session sized to `cpus` threads — the shape Verify/Bench
    * and tests run with.
    */
  def local(appName: String, cpus: Int, uiEnabled: Boolean = false): SparkSession = {
    val s = builder(appName, Some(s"local[$cpus]"), Some(cpus))
      .config("spark.ui.enabled", uiEnabled.toString)
      .getOrCreate()
    // Scope OUT the WindowExec "No Partition Defined for Window
    // operation" WARN (VERDICT r13 #5): the registry's unpartitioned
    // windows are all BOUNDED-domain by design (calendar days,
    // 256-row bucket offsets, entity frames — each justified in
    // WindowAuditSpec's allowlist), and their per-run spam drowned
    // the driver log so a REAL new single-partition window would be
    // invisible in the noise. Regression coverage moves to
    // WindowAuditSpec, which walks every batch query's plan and
    // FAILS on any unpartitioned window not on the allowlist —
    // a strictly stronger signal than a log line.
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    catch { // logging backend is best-effort: tolerate a missing log4j-core
      case NonFatal(_) | _: LinkageError => ()
    }
    s
  }
}
