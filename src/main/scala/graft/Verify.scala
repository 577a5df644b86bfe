package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Replace instant timestamps with naive ones, recursively. */
  private def toNtz(dt: DataType): DataType = dt match {
    case TimestampType      => TimestampNTZType
    case s: StructType      => StructType(s.fields.map(f => f.copy(dataType = toNtz(f.dataType))))
    case a: ArrayType       => a.copy(elementType = toNtz(a.elementType))
    case m: MapType         => m.copy(keyType = toNtz(m.keyType), valueType = toNtz(m.valueType))
    case other              => other
  }

  /** Dump-layer normalization: Spark writes TimestampType to parquet with
    * instant semantics (isAdjustedToUTC=true → Arrow timestamp[us, tz=UTC])
    * while the DuckDB oracle produces naive timestamp[us]; the driver's
    * schema/hash compare treats those as different. Casting to
    * TIMESTAMP_NTZ under the UTC session timezone preserves every value
    * (same wall-clock) and writes isAdjustedToUTC=false, matching the
    * oracle. Applied to every dumped result so any future timestamp
    * output is green by construction.
    */
  private[graft] def normalizeTimestamps(df: DataFrame): DataFrame = {
    val needsCast = df.schema.fields.exists(f => toNtz(f.dataType) != f.dataType)
    if (!needsCast) df
    else df.select(df.schema.fields.map { f =>
      val target = toNtz(f.dataType)
      if (target == f.dataType) col(f.name)
      else col(f.name).cast(target).as(f.name)
    }.toIndexedSeq: _*)
  }

  /** Writes `oracle_sql.json` (every registered oracle) and
    * `failures.json` (name and message per failed query, `[]` when none)
    * into `outDir`.
    */
  private[graft] def writeReport(outDir: String,
                                 failures: Seq[(String, String)]): Unit = {
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.write(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/failures.json"), Json.write(
      failures.map { case (k, m) => ListMap("name" -> k, "message" -> m) }))
  }

  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName...] — trailing names restrict the
    // dump to a subset (debugging aid; the driver passes two args)
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => only(k) }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local("graft-verify", cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failures = selected.toSeq.flatMap { case (name, fn) =>
      try {
        normalizeTimestamps(fn(spark, sfDir)).coalesce(1).write
          .mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> s"${e.getClass.getName}: ${e.getMessage}")
      }
    }
    writeReport(outDir, failures)
    // the driver-side cost of the run's generated classes
    val compiles =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val metaspaceMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .toArray(Array.empty[java.lang.management.MemoryPoolMXBean])
      .filter(_.getName == "Metaspace").map(_.getUsage.getUsed).sum / 1048576.0
    System.err.println(f"[verify] ${selected.size} queries: $compiles codegen " +
      f"compiles, driver metaspace $metaspaceMb%.1f MB")
    // the exit code stays 0: SURVEY §7.1 defines none for failed queries
    System.err.println(s"[verify] ${failures.size} of ${selected.size} queries failed" +
      (if (failures.isEmpty) "" else s": ${failures.map(_._1).mkString(", ")}") +
      s" (see $outDir/failures.json)")
    spark.stop()
  }
}
