package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import graft.functions.Functions
import graft.operators.{Enrichment, Scd2, Validation}
import graft.sources.{FileStatsIndex, Tables, VersionedTable}
import graft.streaming.DimensionStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The medallion pipeline with writes beside reads. One pass:
  * validate the raw trips into the validated and quarantine zones,
  * enrich with broadcast dimensions into a partitioned curated zone,
  * load an SCD2 customer dimension and apply three seeded change
  * batches through `Scd2.merge` + `writeAtomic`, apply a fourth through
  * the streaming CDC path, commit two `VersionedTable` versions and read
  * the history, run `Tables.maintain` on the curated zone, and read back
  * through `latestPartition` and `FileStatsIndex.prunedRead`.
  *
  * The lake is emptied before each pass (untimed); the last pass's lake
  * is left for the checker.
  */
final class Lake(data: String, lake: String, pruneLo: Long, pruneHi: Long)
    extends Harness.Workload {
  import Harness.{Ctx, Op}

  private val validated = s"$lake/validated"
  private val quarantine = s"$lake/quarantine"
  private val orphans = s"$lake/orphans"
  private val curated = s"$lake/curated"
  private val dim = s"$lake/dim_customer"
  private val versioned = s"$lake/versioned"

  private val conf = Scd2.Config(
    keyCols = Seq("c_custkey"),
    businessCols = Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    dedupeOrder = Seq("c_custkey"))

  private val rules = Seq(
    Validation.NotNull("l_quantity"),
    Validation.Between("l_discount", 0.0, 0.1, Validation.Error),
    Validation.GreaterThan("l_extendedprice", 0.0),
    Validation.AllowedValues("l_returnflag", Seq("A", "N", "R")))

  private def input(spark: SparkSession, name: String) =
    Tables.parquet(spark, s"$data/$name.parquet")

  private def ts(s: String) = Functions.utcTimestamp(s)

  private def prunedRange(spark: SparkSession) =
    FileStatsIndex.prunedRead(spark, curated, "l_orderkey", lit(pruneLo), lit(pruneHi))
      .filter(col("l_orderkey").between(pruneLo, pruneHi))

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  val ops: Seq[Op] = Seq(
    Op("validate", ctx => {
      val annotated = ctx.phase("build")(Validation.annotate(
        input(ctx.spark, "lake_raw").withColumn("ship_year", year(col("l_shipdate"))), rules))
      val (good, bad) = Validation.split(annotated)
      ctx.write(validated)(Tables.writePartitioned(
        good.drop("failed_rules", "is_valid"), validated, Seq("ship_year")))
      ctx.write(quarantine)(Tables.writePartitioned(bad, quarantine, Seq("ship_year")))
    }),
    Op("enrich", ctx => {
      val v = ctx.phase("read")(Tables.parquet(ctx.spark, validated))
      val (enriched, orphaned) = ctx.phase("build") {
        val supplier = input(ctx.spark, "supplier")
        val (matched, orphaned) = Enrichment.riSplit(v, supplier, "l_suppkey", "s_suppkey")
        val withSupp = Enrichment.enrichWithDim(matched, supplier, "l_suppkey", "s_suppkey", "supp_")
        (Enrichment.enrichWithDim(withSupp, input(ctx.spark, "nation"),
          "supp_s_nationkey", "n_nationkey", "nation_"), orphaned)
      }
      ctx.write(curated)(Tables.writePartitioned(enriched, curated, Seq("ship_year")))
      ctx.write(orphans)(Tables.writePartitioned(orphaned, orphans, Seq("ship_year")))
    }),
    Op("scd2_load", ctx => {
      val loaded = ctx.phase("build")(
        Scd2.initialLoad(input(ctx.spark, "customer"), conf, ts("2024-01-01 00:00:00")))
      ctx.write(dim)(Scd2.writeAtomic(loaded, dim))
    })) ++ (1 to 3).map { i =>
    Op(s"scd2_merge_$i", ctx => {
      val merged = ctx.phase("build")(Scd2.merge(Tables.parquet(ctx.spark, dim),
        input(ctx.spark, s"cdc_$i").drop("change_ts"), conf, ts(f"2024-${i + 1}%02d-01 00:00:00")))
      ctx.write(dim)(Scd2.writeAtomic(merged, dim))
    })
  } ++ Seq(
    Op("scd2_stream", ctx => ctx.phase("stream")(
      DimensionStream.scd2MergeAvailableNow(ctx.spark, s"$data/cdc_stream", dim, conf))),
    Op("versioned_table", ctx => {
      val (byNation, bySegment) = ctx.phase("build")((
        Tables.parquet(ctx.spark, curated).groupBy("nation_n_name")
          .agg(count(lit(1)).as("n_lines"), Functions.exactSum(col("l_extendedprice")).as("revenue")),
        Tables.parquet(ctx.spark, dim).filter(col("is_current")).groupBy("c_mktsegment").count()))
      ctx.write(versioned)(VersionedTable.write(byNation, versioned, "curated_by_nation",
        ts("2024-06-01 00:00:00")))
      ctx.write(versioned)(VersionedTable.write(bySegment, versioned, "customers_by_segment",
        ts("2024-06-02 00:00:00")))
      ctx.phase("read")(VersionedTable.history(ctx.spark, versioned).collect())
    }),
    Op("maintain", ctx => ctx.write(curated)(Tables.maintain(ctx.spark, curated,
      targetFileBytes = 1L << 20, sortCols = Seq("l_orderkey"), statsCols = Seq("l_orderkey"))
      .collect())),
    Op("read_back", ctx => ctx.phase("read") {
      noop(Tables.latestPartition(ctx.spark, validated, "ship_year"))
      noop(prunedRange(ctx.spark))
    }))

  override def beforePass(spark: SparkSession): Unit = Lake.delete(new File(lake))

  override def passCounts(): Map[String, Double] = {
    val (files, bytes) = Lake.footprint(lake)
    Map("sources.lake_files" -> files.toDouble, "sources.lake_mb" -> bytes / 1048576.0)
  }

  def writeCheck(spark: SparkSession, checkDir: String): Unit = {
    Harness.ntz(Tables.latestPartition(spark, validated, "ship_year"))
      .write.mode("overwrite").parquet(s"$checkDir/latest_partition")
    Harness.ntz(prunedRange(spark)).write.mode("overwrite").parquet(s"$checkDir/pruned_read")
    Harness.ntz(VersionedTable.history(spark, versioned))
      .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/versioned_history")
  }
}

object Lake {
  /** Data files (parquet, json) under `path` and their total bytes. */
  def footprint(path: String): (Long, Long) = {
    val p = Paths.get(path)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.filter(f => Files.isRegularFile(f) && {
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_") && (n.endsWith(".parquet") || n.endsWith(".json"))
        }).toArray.map(_.asInstanceOf[java.nio.file.Path])
        (files.length.toLong, files.map(f => Files.size(f)).sum)
      } finally s.close()
    }
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
}
