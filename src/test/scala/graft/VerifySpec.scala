package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The dump-layer timestamp normalization that makes the driver's
  * DuckDB compare see naive (NTZ) timestamps instead of Spark's
  * instant-semantics TimestampType.
  */
class VerifySpec extends SparkSpec {
  import spark.implicits._

  test("normalizeTimestamps casts instant timestamps to NTZ, preserving wall-clock") {
    val df = Seq(("a", graft.functions.Functions.utcTimestamp("2024-03-01 12:34:56.789")))
      .toDF("k", "ts")
    val out = Verify.normalizeTimestamps(df)
    assert(out.schema("ts").dataType === TimestampNTZType)
    assert(out.schema("k").dataType === StringType)
    // UTC session: same wall-clock value survives the cast
    assert(out.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSS"))
      .first().getString(0) === "2024-03-01 12:34:56.789")
  }

  test("normalizeTimestamps reaches timestamps nested in structs and arrays") {
    val df = Seq((1, graft.functions.Functions.utcTimestamp("2024-01-01 00:00:00")))
      .toDF("id", "ts")
      .select(col("id"), struct(col("ts").as("inner")).as("s"),
        array(col("ts")).as("arr"))
    val out = Verify.normalizeTimestamps(df)
    val s = out.schema("s").dataType.asInstanceOf[StructType]
    assert(s("inner").dataType === TimestampNTZType)
    assert(out.schema("arr").dataType.asInstanceOf[ArrayType].elementType === TimestampNTZType)
  }

  /** `Verify.main` over `queries` in a child JVM (its session is its
    * own, and it stops it): (exit code, stderr and stdout).
    */
  private def runVerify(sf: String, out: String, queries: String*): (Int, String) = {
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx")).toSeq
    val pb = new ProcessBuilder((Seq(s"${System.getProperty("java.home")}/bin/java") ++
      jvmArgs ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.Verify", sf, out) ++ queries).asJava).redirectErrorStream(true)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val proc = pb.start()
    val log = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    (proc.waitFor(), log)
  }

  test("main writes failures.json beside oracle_sql.json and a failure count; exit stays 0") {
    import java.nio.file.{Files, Paths}
    // an sf dir holding nation but not supplier: p22_surrogate_ids fails
    val sf = Files.createTempDirectory("verify_sf")
    Files.createSymbolicLink(sf.resolve("nation.parquet"), Paths.get(sfDir, "nation.parquet"))
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    def failures(out: String) =
      json.readTree(Files.readString(Paths.get(out, "failures.json")))

    val out = Files.createTempDirectory("verify_out").toString
    val (code, log) = runVerify(sf.toString, out, "p15_md5_hash", "p22_surrogate_ids")
    assert(code === 0, log)
    assert(Files.exists(Paths.get(out, "oracle_sql.json")), log)
    assert(Files.exists(Paths.get(out, "p15_md5_hash", "_SUCCESS")), log)
    assert(!Files.exists(Paths.get(out, "p22_surrogate_ids")), log)
    val f = failures(out)
    assert(f.size === 1, f.toString)
    assert(f.get(0).get("name").asText === "p22_surrogate_ids")
    assert(f.get(0).get("message").asText.contains("PATH_NOT_FOUND"), f.toString)
    assert(log.contains("[verify] 1 of 2 queries failed: p22_surrogate_ids"), log)

    val clean = Files.createTempDirectory("verify_out").toString
    val (code2, log2) = runVerify(sf.toString, clean, "p15_md5_hash")
    assert(code2 === 0, log2)
    assert(failures(clean).size === 0, log2)
    assert(Files.readString(Paths.get(clean, "failures.json")) === "[]")
    assert(log2.contains("[verify] 0 of 1 queries failed"), log2)
  }

  test("failures.json and oracle_sql.json give back every string they were written with") {
    import java.nio.file.{Files, Paths}
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val out = Files.createTempDirectory("verify_report").toString
    val msg = "org.x.Err: bad \"col\" at C:\\tmp\nline two\tcol \u2014 end"
    Verify.writeReport(out, Seq("odd" -> msg))
    val f = json.readTree(Files.readString(Paths.get(out, "failures.json")))
    assert(f.size === 1 && f.get(0).get("name").asText === "odd", f.toString)
    assert(f.get(0).get("message").asText === msg, f.toString)
    val sql = json.readTree(Files.readString(Paths.get(out, "oracle_sql.json")))
    assert(sql.size === SparkEntry.oracleSql.size)
    SparkEntry.oracleSql.foreach { case (k, v) => assert(sql.get(k).asText === v, k) }
  }

  test("normalizeTimestamps is identity on timestamp-free frames") {
    val df = Seq((1, "x", 2.0)).toDF("a", "b", "c")
    assert(Verify.normalizeTimestamps(df) eq df)
  }
}
