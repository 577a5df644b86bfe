package graft

import graft.operators.SqlWorkflow
import graft.operators.SqlWorkflow._
import graft.sources.Tables
import org.apache.spark.sql.functions._

class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = java.nio.file.Files.createTempDirectory("tables").toString

  /** `body`'s result and the number of Spark jobs started while it ran. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.ListenerBusDrain.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  // The "parquet schema cache" cases keep the names they had under the
  // per-session schema cache; they now pin the one-footer schema read
  // that replaced it.
  test("parquet schema cache: a repeated read of an unchanged path runs no Spark job") {
    val dir = tmp() + "/t"
    Seq((1, "a"), (2, "b")).toDF("id", "s").write.parquet(dir)
    // the job the footer read saves: footer inference of a plain read
    assert(jobsDuring(spark.read.parquet(dir))._2 > 0)
    val (first, firstJobs) = jobsDuring(Tables.parquet(spark, dir))
    assert(firstJobs === 0)
    val (again, jobs) = jobsDuring(Tables.parquet(spark, dir))
    assert(jobs === 0)
    assert(again.schema === first.schema)
    assert(again.as[(Int, String)].collect().sorted === Array((1, "a"), (2, "b")))
  }

  test("parquet schema cache: a path rewritten with an added column returns the new schema") {
    val dir = tmp() + "/t"
    Seq((1, "a")).toDF("id", "s").write.parquet(dir)
    assert(Tables.parquet(spark, dir).columns === Array("id", "s"))
    Seq((2, "b", 2.5)).toDF("id", "s", "x").write.mode("overwrite").parquet(dir)
    val (df, jobs) = jobsDuring(Tables.parquet(spark, dir))
    assert(jobs === 0)
    assert(df.columns === Array("id", "s", "x"))
    assert(df.as[(Int, String, Double)].collect() === Array((2, "b", 2.5)))
  }

  test("parquet schema cache: a partitioned path keeps its partition column") {
    val dir = tmp() + "/t"
    Tables.writePartitioned(
      Seq((1, "2024-01-01"), (2, "2024-01-02")).toDF("id", "run_date"), dir, Seq("run_date"))
    val (first, firstJobs) = jobsDuring(Tables.parquet(spark, dir))
    assert(firstJobs === 0)
    val (again, jobs) = jobsDuring(Tables.parquet(spark, dir))
    assert(jobs === 0)
    assert(again.schema === first.schema)
    assert(again.columns === Array("id", "run_date"))
    assert(again.filter($"run_date" === "2024-01-02").select("id").as[Int]
      .collect() === Array(2))
  }

  test("parquet schema cache: a NANOS events file still reads through readParquetAutoNanos") {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    val dir = tmp()
    val schema = Types.buildMessage()
      .optional(INT64).named("event_id")
      .optional(INT64)
      .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.NANOS))
      .named("ts")
      .named("events")
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withConf(conf).withType(schema).build()
    val nanos = graft.functions.Functions.utcTimestamp("2024-02-01 00:00:00")
      .getTime * 1000000L + 1000L
    try {
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
      g.add("event_id", 1L)
      g.add("ts", nanos)
      w.write(g)
    } finally w.close()
    val first = Tables.events(spark, dir)
    val (again, jobs) = jobsDuring(Tables.events(spark, dir))
    assert(jobs === 0)
    Seq(first, again).foreach { df =>
      assert(df.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
      assert(df.select(col("ts").cast("string")).as[String].collect() ===
        Array("2024-02-01 00:00:00.000001"))
    }
  }

  test("parquet schema cache: a missing path still fails with Spark's own error") {
    val missing = tmp() + "/missing"
    val e = intercept[org.apache.spark.sql.AnalysisException](Tables.parquet(spark, missing))
    assert(e.getCondition === "PATH_NOT_FOUND")
  }

  test("parquet footer schema: equals Spark's inferred schema on every layout; " +
    "summaries and mergeSchema take Spark's own inference") {
    val mergeKey = "spark.sql.parquet.mergeSchema"
    def plain(df: org.apache.spark.sql.DataFrame): String => Unit =
      dir => df.write.parquet(dir)
    // (name, writer, whether one footer stands in for Spark's inference)
    val cases: Seq[(String, String => Unit, Boolean)] = Seq(
      ("partitioned", dir => Tables.writePartitioned(
        Seq((1, 10L, "x"), (2, 20L, "y")).toDF("id", "year", "s"), dir, Seq("year", "s")), true),
      ("nested struct/array", plain(Seq((1, (2, "a"), Seq(1.5, 2.5), Map("k" -> Seq(3L))))
        .toDF("id", "st", "arr", "m")), true),
      ("decimal", plain(Seq((1, "1.25", "123456789012.123456789"))
        .toDF("id", "a", "b").select(col("id"), col("a").cast("decimal(9,2)").as("a"),
          col("b").cast("decimal(38,18)").as("b"))), true),
      ("TIMESTAMP_NTZ", plain(Seq((1, java.time.LocalDateTime.of(2024, 2, 1, 12, 30)))
        .toDF("id", "ts")), true),
      // a summary whose schema differs from the data files': Spark's
      // inference reads the summary, so one data footer must not
      ("_metadata summary", dir => {
        Seq((1, "a")).toDF("id", "s").write.parquet(dir)
        val other = tmp() + "/other"
        Seq((1, "a", 2.0)).toDF("id", "s", "extra").write.parquet(other)
        val part = new java.io.File(other).listFiles().find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(dir, "_metadata"))
      }, false),
      ("mergeSchema=true", dir => {
        Seq((1, "a")).toDF("id", "s").write.parquet(dir)
        Seq((2, "b", 2.0)).toDF("id", "s", "extra").write.mode("append").parquet(dir)
        spark.conf.set(mergeKey, "true")
      }, false))
    cases.foreach { case (name, write, jobFree) =>
      val dir = tmp() + "/t"
      try {
        write(dir)
        val (df, jobs) = jobsDuring(Tables.parquet(spark, dir))
        assert(df.schema === spark.read.parquet(dir).schema, name)
        assert((jobs === 0) === jobFree, s"$name: $jobs jobs")
        assert(df.collect().length === spark.read.parquet(dir).collect().length, name)
      } finally spark.conf.unset(mergeKey)
    }
    val empty = tmp()
    val e = intercept[org.apache.spark.sql.AnalysisException](Tables.parquet(spark, empty))
    assert(e.getCondition === "UNABLE_TO_INFER_SCHEMA")
  }

  test("scratchDir: one stable path per (name, sf dir), removed when the JVM exits") {
    val dir = tmp()
    assert(Tables.scratchDir("spec", dir) === Tables.scratchDir("spec", dir))
    assert(Tables.scratchDir("spec", dir) !== Tables.scratchDir("spec", dir + "/other"))
    assert(Tables.scratchDir("spec", dir).startsWith(
      s"${System.getProperty("java.io.tmpdir")}/graft_spec_"))
    // the cleanup runs at JVM exit, so it is observed from a child JVM
    // that creates its scratch dir under its own tmpdir and exits
    val childTmp = tmp()
    val proc = new ProcessBuilder(
      s"${System.getProperty("java.home")}/bin/java", s"-Djava.io.tmpdir=$childTmp",
      "-cp", System.getProperty("java.class.path"), "graft.ScratchDirProbe", dir)
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString.trim
    assert(proc.waitFor() === 0, out)
    assert(out.startsWith(s"$childTmp/graft_probe_"), out)
    assert(!new java.io.File(out).exists(), s"$out survived the JVM exit")
  }

  test("partitioned write + latestPartition incremental read") {
    val dir = tmp() + "/t"
    val df = Seq((1, "2024-01-01"), (2, "2024-01-02"), (3, "2024-01-02"))
      .toDF("id", "run_date")
    Tables.writePartitioned(df, dir, Seq("run_date"))
    val latest = Tables.latestPartition(spark, dir, "run_date")
    assert(latest.count() === 2)
    assert(latest.select("id").as[Int].collect().sorted === Array(2, 3))
    // partition layout on disk
    assert(new java.io.File(dir + "/run_date=2024-01-01").exists)
  }

  test("dynamic partition overwrite only replaces touched partitions") {
    val dir = tmp() + "/t"
    Tables.writePartitioned(
      Seq((1, "a"), (2, "b")).toDF("id", "p"), dir, Seq("p"))
    // overwrite only partition b — scoped, so the session mode is
    // restored afterwards (a later plain overwrite stays STATIC)
    Tables.withDynamicPartitionOverwrite(spark) {
      Seq((99, "b")).toDF("id", "p").write.mode("overwrite")
        .partitionBy("p").parquet(dir)
    }
    val out = spark.read.parquet(dir)
    assert(out.count() === 2)
    assert(out.filter($"p" === "a").select("id").as[Int].collect() === Array(1))
    assert(out.filter($"p" === "b").select("id").as[Int].collect() === Array(99))
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .forall(_ != "dynamic"))
  }

  test("append sink accumulates rows") {
    val dir = tmp() + "/t"
    Tables.append(Seq(1).toDF("x"), dir)
    Tables.append(Seq(2).toDF("x"), dir)
    assert(spark.read.parquet(dir).count() === 2)
  }

  test("single-file JSON metrics sink writes exactly one part file") {
    val dir = tmp() + "/m"
    Tables.writeJsonSingleFile(Seq(("r1", 100L)).toDF("run_id", "n"), dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
    assert(parts.length === 1)
    assert(spark.read.json(dir).collect()(0).getAs[String]("run_id") === "r1")
  }

  test("csv round-trip with header and explicit schema") {
    val dir = tmp() + "/c"
    Seq((10, "Manhattan")).toDF("locationid", "borough")
      .write.option("header", "true").csv(dir)
    val inferred = Tables.csv(spark, dir)
    assert(inferred.columns.toSeq === Seq("locationid", "borough"))
    assert(inferred.collect()(0).getString(0) === "10") // all-string default
    val typed = Tables.csv(spark, dir, Some(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("locationid",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("borough",
          org.apache.spark.sql.types.StringType)))))
    assert(typed.collect()(0).getInt(0) === 10)
  }

  test("SqlWorkflow runs transforms then enforces zero-violation checks") {
    Tables.table(spark, sfDir, "orders").createOrReplaceTempView("orders")
    val results = SqlWorkflow.run(spark, Seq(
      Transform("daily_rev",
        """SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
          |       SUM(o_totalprice) AS rev
          |FROM orders GROUP BY 1, 2""".stripMargin),
      QualityCheck("qc_nonneg",
        "SELECT COUNT(*) FROM daily_rev WHERE rev < 0"),
      TestStep("test_rowcount",
        """SELECT CASE WHEN (SELECT COUNT(*) FROM daily_rev) > 0
          |            THEN 0 ELSE 1 END""".stripMargin)))
    assert(results.map(_.kind) === Seq("transform", "quality_check", "test"))
    assert(results.forall(_.passed))
  }

  test("SqlWorkflow raises on violations (raise-on-violation convention)") {
    intercept[WorkflowFailed] {
      SqlWorkflow.run(spark, Seq(
        Transform("bad", "SELECT -1 AS rev"),
        QualityCheck("qc", "SELECT COUNT(*) FROM bad WHERE rev < 0")))
    }
  }

  test("SqlWorkflow retry: transient failure recovers on the 60s/120s backoff schedule") {
    // reference policy: step_functions/Tests.json:15-28 — 3 attempts,
    // 60s interval, 2.0 backoff. Inject a step that fails twice
    // transiently (missing view) then succeeds, and record the waits.
    val waits = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    val policy = RetryPolicy(sleep = ms => {
      waits += ms
      // the view appears after the first backoff wait — attempt 2
      // still fails (registered mid-wait semantics: appear before
      // attempt 3 only)
      calls += 1
      if (calls == 2)
        spark.sql("SELECT 0 AS v").createOrReplaceTempView("flaky_dep")
    })
    spark.catalog.dropTempView("flaky_dep")
    val results = SqlWorkflow.run(spark, Seq(
      QualityCheck("qc_flaky", "SELECT v FROM flaky_dep")), policy)
    assert(results.head.passed)
    assert(waits.toSeq === Seq(60000L, 120000L)) // 60s, then 2.0×
  }

  test("SqlWorkflow retry: violation failures are deterministic — never retried") {
    var sleeps = 0
    val policy = RetryPolicy(sleep = _ => sleeps += 1)
    intercept[WorkflowFailed] {
      SqlWorkflow.run(spark, Seq(
        Transform("bad2", "SELECT -1 AS rev"),
        QualityCheck("qc2", "SELECT COUNT(*) FROM bad2 WHERE rev < 0")), policy)
    }
    assert(sleeps === 0)
  }

  test("SqlWorkflow retry: interrupts and VM-fatal errors are never retried") {
    var sleeps = 0
    val policy = RetryPolicy(sleep = _ => sleeps += 1)
    // an interrupt is a cancellation: rethrown immediately, interrupt
    // flag restored, zero backoff waits
    intercept[InterruptedException] {
      SqlWorkflow.withRetry(policy, "s") {
        throw new InterruptedException("cancelled")
      }
    }
    assert(Thread.interrupted(), "interrupt flag must be restored")
    assert(sleeps === 0)
    // fatal errors escape the NonFatal guard — never classified
    // transient, never slept on
    intercept[NoClassDefFoundError] {
      SqlWorkflow.withRetry(policy, "s") {
        throw new NoClassDefFoundError("graft/Gone")
      }
    }
    assert(sleeps === 0)
  }

  test("SqlWorkflow retry: attempts are bounded at maxAttempts") {
    var sleeps = 0
    val policy = RetryPolicy(maxAttempts = 3, sleep = _ => sleeps += 1)
    intercept[Exception] {
      SqlWorkflow.run(spark, Seq(
        QualityCheck("qc_gone", "SELECT v FROM view_that_never_exists")), policy)
    }
    assert(sleeps === 2) // 3 attempts → 2 backoff waits, then the raise
  }

  test("VersionedTable: overwrite creates versions; history and time travel read them") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("vt_spec_").toString
    val t0 = graft.functions.Functions.utcTimestamp("2024-01-01 00:00:00")
    val t1 = graft.functions.Functions.utcTimestamp("2024-02-01 00:00:00")
    val v1 = Seq((1, 10.0), (2, -5.0), (3, 7.5)).toDF("id", "fare")
    assert(VersionedTable.write(v1, base, "initial_load", t0) === 1)
    // compliance overwrite: drop negative fares → NEW version
    assert(VersionedTable.write(v1.filter($"fare" > 0), base,
      "compliance_filter", t1) === 2)

    assert(VersionedTable.currentVersion(base) === Some(2))
    assert(VersionedTable.read(spark, base).count() === 2) // latest
    assert(VersionedTable.readVersion(spark, base, 1).count() === 3) // versionAsOf
    // timestamp time travel: between the writes → version 1
    assert(VersionedTable.readAsOf(spark, base,
      graft.functions.Functions.utcTimestamp("2024-01-15 00:00:00")).count() === 3)

    val hist = VersionedTable.history(spark, base).collect()
    assert(hist.map(_.getInt(0)).toSeq === Seq(1, 2))
    assert(hist.map(_.getString(1)).toSeq === Seq("initial_load", "compliance_filter"))
    assert(hist.map(_.getLong(2)).toSeq === Seq(3L, 2L))
    intercept[IllegalArgumentException] {
      VersionedTable.readAsOf(spark, base,
        graft.functions.Functions.utcTimestamp("2023-01-01 00:00:00"))
    }
  }

  test("writeJdbc/readJdbc round-trip and overwrite against a live JDBC url") {
    import spark.implicits._
    // Derby in-memory: a real JDBC database (driver ships with Spark)
    val url = "jdbc:derby:memory:graft_jdbc;create=true"
    val v1 = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name")
    Tables.writeJdbc(v1, url, "curated_x")
    val back1 = Tables.readJdbc(spark, url, "curated_x")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(back1 === Seq((1L, "alpha"), (2L, "beta")))
    // overwrite replaces the table contents (ppcurated_rds semantics)
    val v2 = Seq((3L, "gamma")).toDF("id", "name")
    Tables.writeJdbc(v2, url, "curated_x")
    val back2 = Tables.readJdbc(spark, url, "curated_x")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back2 === Seq((3L, "gamma")))
  }

  test("copyManifest: COPY-shaped bulk append over live JDBC with rowcount audit") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graft_copy;create=true"
    val dir = java.nio.file.Files.createTempDirectory("graft_copy").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
      .repartition(2).write.parquet(s"$dir/load1")
    Seq((4L, "d")).toDF("id", "name").write.parquet(s"$dir/load2")
    val m1 = Tables.parquetManifest(spark, s"$dir/load1")
    assert(m1.size === 2 && m1.forall(_.endsWith(".parquet")))
    // first COPY creates the table; audit must balance
    val a1 = Tables.copyManifest(spark, m1, url, "warehouse_t").head()
    assert(a1.getAs[Long]("rows_before") === 0L)
    assert(a1.getAs[Long]("rows_manifest") === 3L)
    assert(a1.getAs[Long]("rows_after") === 3L)
    assert(a1.getAs[Boolean]("ok"))
    // second COPY appends (never truncates) and audits the delta only
    val a2 = Tables.copyManifest(spark,
      Tables.parquetManifest(spark, s"$dir/load2"), url, "warehouse_t").head()
    assert(a2.getAs[Long]("rows_before") === 3L)
    assert(a2.getAs[Long]("rows_after") === 4L)
    assert(a2.getAs[Boolean]("ok"))
    val back = Tables.readJdbc(spark, url, "warehouse_t")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(back === Seq(1L, 2L, 3L, 4L))
  }

  test("JSONL round-trip preserves the documents schema and contents") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    val docs = Tables.table(spark, sfDir, "documents")
    Tables.writeJsonl(docs, dir)
    val back = Tables.readJsonl(spark, dir, Some(docs.schema))
    assert(back.schema === docs.schema)
    assert(back.count() === docs.count())
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("readTextLines: per-line rows; wholetext gives one row per file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_text")
    java.nio.file.Files.writeString(dir.resolve("a.txt"), "line one\nline two\n")
    java.nio.file.Files.writeString(dir.resolve("b.txt"), "only line\n")
    val lines = Tables.readTextLines(spark, dir.toString)
    assert(lines.count() === 3)
    val whole = Tables.readTextLines(spark, dir.toString, wholeFile = true)
    assert(whole.count() === 2)
    assert(whole.collect().map(_.getString(0)).exists(_.contains("line one\nline two")))
  }

  test("ORC round-trip with pushdown parity") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val li = Tables.table(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
    Tables.writeOrc(li, dir)
    val back = Tables.readOrc(spark, dir).filter(col("l_quantity") > 30)
    assert(back.count() === li.filter(col("l_quantity") > 30).count())
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30"), plan)
  }

  test("partitioned layout: a partition-key filter prunes at planning, not at scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val df = Tables.table(spark, sfDir, "orders")
      .withColumn("od", to_date(col("o_orderdate")))
    Tables.writePartitioned(df, dir, Seq("od"))
    val latest = spark.read.parquet(dir).agg(max("od")).head().getDate(0)
    val pruned = spark.read.parquet(dir).filter(col("od") === lit(latest))
    val plan = pruned.queryExecution.executedPlan.toString
    // the date predicate lands in PartitionFilters — directory-level
    // pruning — NOT in PushedFilters (row-group level): at 100 TB this
    // is the difference between listing one directory and scanning
    // every file's footers
    assert(plan.contains("PartitionFilters: [isnotnull(od"), plan)
    assert(!plan.contains("PushedFilters: [IsNotNull(od"), plan)
    assert(pruned.count() ===
      df.filter(col("od") === lit(latest)).count())
  }

  test("compact: small-file dir rewritten to the computed count, atomically, content-exact") {
    val dir = tmp() + "/lake"
    val df = Tables.table(spark, sfDir, "orders").limit(2000).cache()
    df.repartition(16).write.parquet(dir)
    def files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length === 16)
    val onDisk = files.map(_.length).sum
    // target ~half the footprint → exactly 2 output files
    val n = Tables.compact(spark, dir, targetFileBytes = (onDisk + 1) / 2)
    assert(n === 2)
    assert(files.length === n)
    // no staging/backup residue (the swap completed)
    val parent = new java.io.File(dir).getParentFile.listFiles().map(_.getName)
    assert(!parent.exists(x => x.endsWith(".staging") || x.endsWith(".backup")), parent.mkString(","))
    // content is byte-identical to the pre-compaction table
    val after = spark.read.parquet(dir)
    assert(after.exceptAll(df).isEmpty && df.exceptAll(after).isEmpty)
  }

  test("FileStatsIndex: clustered layout prunes files; pruned read is result-exact; empty range reads nothing") {
    import graft.sources.FileStatsIndex
    val dir = tmp() + "/lake"
    val li = Tables.table(spark, sfDir, "lineitem")
    li.repartitionByRange(8, col("l_shipdate"))
      .sortWithinPartitions(col("l_shipdate"))
      .write.parquet(dir)
    FileStatsIndex.write(FileStatsIndex.build(spark, dir, Seq("l_shipdate")), dir)
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    // a one-year slice of a 7-year clustered span must skip MOST files
    val (pruned, all) = FileStatsIndex.plannedFiles(spark, dir, "l_shipdate", lo, hi)
    assert(all.length === 8, all.mkString(","))
    assert(pruned.nonEmpty && pruned.length <= 3, pruned.mkString(","))
    assert(pruned.toSet.subsetOf(all.toSet))
    // pruning is sound: pruned read + row predicate ≡ full read + row predicate
    val p = (d: org.apache.spark.sql.DataFrame) =>
      d.filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
    val viaIndex = p(FileStatsIndex.prunedRead(spark, dir, "l_shipdate", lo, hi))
    val full = p(spark.read.parquet(dir))
    assert(viaIndex.count() === full.count())
    assert(viaIndex.exceptAll(full).isEmpty && full.exceptAll(viaIndex).isEmpty)
    // out-of-domain range: zero survivors, empty frame, schema kept
    val none = FileStatsIndex.prunedRead(spark, dir, "l_shipdate",
      lit("1902-01-01").cast("timestamp"), lit("1903-01-01").cast("timestamp"))
    assert(none.count() === 0L)
    assert(none.schema === li.schema)
    // unclustered layout: soundly prunes NOTHING (every interval spans the domain)
    val dir2 = tmp() + "/lake2"
    li.repartition(8).write.parquet(dir2)
    FileStatsIndex.write(FileStatsIndex.build(spark, dir2, Seq("l_shipdate")), dir2)
    val (pruned2, all2) = FileStatsIndex.plannedFiles(spark, dir2, "l_shipdate", lo, hi)
    assert(pruned2.length === all2.length)
  }

  test("FileStatsIndex: on a partitioned table, pruned and empty reads keep the full read's columns") {
    import graft.sources.FileStatsIndex
    val dir = tmp() + "/lake"
    (1L to 400L).map(k => (k, (k % 4).toInt)).toDF("k", "part")
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.partitionBy("part").parquet(dir)
    FileStatsIndex.write(FileStatsIndex.build(spark, dir, Seq("k")), dir)
    FileStatsIndex.writeBloom(FileStatsIndex.buildBloom(spark, dir, "k"), dir)
    val full = Tables.parquet(spark, dir)
    assert(full.columns === Array("k", "part"))
    def same(got: org.apache.spark.sql.DataFrame, want: org.apache.spark.sql.DataFrame,
             what: String): Unit = {
      assert(got.schema === full.schema, what)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, what)
    }
    val inRange = col("k").between(101L, 140L)
    same(FileStatsIndex.prunedRead(spark, dir, "k", lit(101L), lit(140L)).filter(inRange),
      full.filter(inRange), "prunedRead, files hit")
    same(FileStatsIndex.prunedRead(spark, dir, "k", lit(1000L), lit(2000L)),
      full.filter(lit(false)), "prunedRead, no file hit")
    same(FileStatsIndex.prunedPointRead(spark, dir, "k", lit(42L)).filter(col("k") === 42L),
      full.filter(col("k") === 42L), "prunedPointRead, files hit")
    assert(FileStatsIndex.plannedFilesBloom(spark, dir, "k", lit(-7L))._1.isEmpty)
    same(FileStatsIndex.prunedPointRead(spark, dir, "k", lit(-7L)),
      full.filter(lit(false)), "prunedPointRead, no file hit")
  }

  test("FileStatsIndex bloom: point lookup opens ~1 of 8 hash-partitioned " +
    "files, never misses, min/max would prune nothing") {
    import graft.sources.FileStatsIndex
    val dir = tmp() + "/lake"
    val orders = Tables.table(spark, sfDir, "orders")
    orders.repartition(8, col("o_custkey")).write.parquet(dir)
    FileStatsIndex.writeBloom(
      FileStatsIndex.buildBloom(spark, dir, "o_custkey"), dir)
    // the same layout defeats min/max skipping: every file's key
    // interval spans the domain (this is WHY the bloom tier exists)
    FileStatsIndex.write(
      FileStatsIndex.build(spark, dir, Seq("o_custkey")), dir)
    // mid-domain keys: for a boundary key (the global min/max) even a
    // hash layout lets min/max prune, which would muddy the
    // "min/max can't help here" contrast below
    val allKeys = orders.select("o_custkey").distinct()
      .orderBy("o_custkey").collect().map(_.getLong(0))
    val keys = allKeys.slice(allKeys.length / 2 - 10, allKeys.length / 2 + 10)
    var opened = 0
    keys.foreach { k =>
      val (pruned, all) = FileStatsIndex.plannedFilesBloom(
        spark, dir, "o_custkey", lit(k))
      assert(all.length === 8)
      assert(pruned.nonEmpty, s"key $k: bloom false negative")
      opened += pruned.length
      // soundness: pruned read finds exactly the key's rows
      val viaIndex = FileStatsIndex.prunedPointRead(spark, dir, "o_custkey", lit(k))
        .filter(col("o_custkey") === k).count()
      val full = orders.filter(col("o_custkey") === k).count()
      assert(viaIndex === full)
      val (mm, mmAll) = FileStatsIndex.plannedFiles(
        spark, dir, "o_custkey", lit(k), lit(k))
      assert(mm.length === mmAll.length, "min/max unexpectedly pruned a hash layout")
    }
    // ~1 file per lookup (2% fpp): across 20 keys, well under 2 avg
    assert(opened <= 30, s"opened $opened files across 20 lookups")
    // absent key: usually zero survivors; NEVER a wrong row
    val absent = FileStatsIndex.prunedPointRead(
      spark, dir, "o_custkey", lit(-987654321L))
      .filter(col("o_custkey") === -987654321L)
    assert(absent.count() === 0L)
  }

  test("FileStatsIndex.refresh: appends stat only new files, removed rows drop, indexed files never re-read") {
    import graft.sources.FileStatsIndex
    val dir = tmp() + "/lake"
    val li = Tables.table(spark, sfDir, "lineitem")
    val lo = li.filter(col("l_orderkey") % 2 === 0)
    val hi = li.filter(col("l_orderkey") % 2 =!= 0)
    lo.repartition(4).write.parquet(dir)
    FileStatsIndex.write(FileStatsIndex.build(spark, dir, Seq("l_orderkey")), dir)
    val before = spark.read.parquet(FileStatsIndex.indexPath(dir)).collect()
    assert(before.length === 4)
    // append 4 more files, then CORRUPT one original file: a refresh
    // that touched indexed files would crash on it
    hi.repartition(4).write.mode("append").parquet(dir)
    val victim = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .filter(f => before.exists(r => r.getString(
        r.fieldIndex("file")).endsWith(f.getName))).head
    java.nio.file.Files.write(victim.toPath, Array.fill[Byte](64)(0))
    intercept[Exception] { // corruption is real: a full rebuild dies on it
      FileStatsIndex.build(spark, dir, Seq("l_orderkey")).collect()
    }
    val added = FileStatsIndex.refresh(spark, dir, Seq("l_orderkey"))
    assert(added === 4)
    val after = spark.read.parquet(FileStatsIndex.indexPath(dir)).collect()
    assert(after.length === 8)
    // original rows pass through byte-identical (never re-read)
    val fi = after.head.fieldIndex("file")
    val afterByFile = after.map(r => r.getString(fi) -> r).toMap
    before.foreach(r => assert(afterByFile(r.getString(fi)) === r))
    // a file vanishing (compaction/vacuum) drops its row on refresh
    assert(victim.delete())
    assert(FileStatsIndex.refresh(spark, dir, Seq("l_orderkey")) === 0)
    val finalRows = spark.read.parquet(FileStatsIndex.indexPath(dir)).collect()
    assert(finalRows.length === 7)
    assert(!finalRows.exists(_.getString(fi).endsWith(victim.getName)))
  }

  test("maintain: compacts + clusters + rebuilds the index; audit numbers honest") {
    import graft.sources.FileStatsIndex
    val dir = tmp() + "/lake"
    val li = Tables.table(spark, sfDir, "lineitem")
    li.repartition(32).write.parquet(dir)
    val audit = Tables.maintain(spark, dir, targetFileBytes = 512L << 20,
      sortCols = Seq("l_shipdate")).head()
    assert(audit.getAs[Long]("n_files_before") === 32L)
    assert(audit.getAs[Long]("n_files_after") < 32L)
    assert(audit.getAs[Long]("n_rows") === li.count())
    assert(audit.getAs[Long]("bytes_after") < audit.getAs[Long]("bytes_before"))
    // the rebuilt index covers exactly the post-compaction files and
    // prunes a narrow slice (clustering restored by the maintenance)
    val stats = spark.read.parquet(FileStatsIndex.indexPath(dir)).collect()
    assert(stats.length === audit.getAs[Long]("n_files_after"))
    val after = spark.read.parquet(dir)
    assert(after.exceptAll(li).isEmpty && li.exceptAll(after).isEmpty)
  }

  test("compact with sortCols restores clustering that round-robin would destroy") {
    val dir = tmp() + "/clustered"
    val df = Tables.table(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey").cache()
    // clustered layout, then fragmented into many small files (the
    // steep-ratio shape that triggers compact's round-robin path)
    df.repartition(32).write.parquet(dir)
    def keySpans(d: String): Seq[(Long, Long)] =
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")).toSeq
        .map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(min($"o_orderkey"), max($"o_orderkey")).head
          (r.getLong(0), r.getLong(1))
        }
    val onDisk = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val n = Tables.compact(spark, dir, targetFileBytes = (onDisk + 1) / 4,
      sortCols = Seq("o_orderkey"))
    assert(n >= 2)
    // sorted compaction → file key ranges are (nearly) disjoint: each
    // file's span is ~1/n of the global range, so min/max pruning works
    val spans = keySpans(dir)
    val global = spans.map(_._2).max - spans.map(_._1).min
    val avgSpan = spans.map { case (lo, hi) => (hi - lo).toDouble }.sum /
      spans.length / global
    assert(avgSpan < 0.5, s"avg normalized span $avgSpan — clustering lost")
    // content survived
    val after = spark.read.parquet(dir)
    assert(after.exceptAll(df).isEmpty && df.exceptAll(after).isEmpty)
  }

  test("readMergedSchema: added columns surface as NULL on files that predate them") {
    val dir = tmp() + "/evolving"
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val v2 = Seq((3L, "c", 9.5)).toDF("id", "name", "score")
    v1.write.parquet(dir)
    v2.write.mode("append").parquet(dir)
    val merged = Tables.readMergedSchema(spark, dir)
    assert(merged.columns.sorted.toSeq === Seq("id", "name", "score"))
    assert(merged.count() === 3)
    assert(merged.filter($"score".isNull).count() === 2)
    assert(merged.filter($"id" === 3L).head.getAs[Double]("score") === 9.5)
  }

  test("writeZOrdered: files cover compact regions of BOTH dimensions") {
    val li = Tables.table(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey")
    // per-file normalized span of l_partkey under each layout
    def avgPartkeySpan(dir: String): Double = {
      val global = li.agg(max($"l_partkey") - min($"l_partkey")).head.getLong(0).toDouble
      val spans = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(max($"l_partkey") - min($"l_partkey")).head
          r.getLong(0).toDouble / global
        }
      spans.sum / spans.length
    }
    val zDir = tmp() + "/z"
    val linDir = tmp() + "/lin"
    Tables.writeZOrdered(li, zDir, "l_orderkey", "l_partkey", numFiles = 8)
    li.repartitionByRange(8, $"l_orderkey").sortWithinPartitions("l_orderkey")
      .write.parquet(linDir)
    // single-column sort: every file spans ~the full l_partkey range;
    // z-order: each file covers a compact rectangle of both dims
    val (zSpan, linSpan) = (avgPartkeySpan(zDir), avgPartkeySpan(linDir))
    info(s"avg normalized l_partkey span per file: z=$zSpan linear=$linSpan")
    assert(zSpan < linSpan * 0.8, s"z=$zSpan linear=$linSpan")
    // and nothing was lost in the rewrite
    val back = spark.read.parquet(zDir)
    assert(back.count() === li.count())
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)
  }

  test("writeZOrdered: a second-dimension range scan physically skips row groups") {
    // the span test above proves layout GEOMETRY; this proves the
    // payoff — parquet row-group stats let a l_partkey range scan
    // DECODE far fewer rows from the z-ordered layout than from the
    // single-column-sorted one (whose every row group spans the full
    // l_partkey range, so pushdown can skip nothing)
    val li = Tables.table(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey")
    val zDir = tmp() + "/zskip"
    val linDir = tmp() + "/linskip"
    Tables.writeZOrdered(li, zDir, "l_orderkey", "l_partkey", numFiles = 8)
    li.repartitionByRange(8, $"l_orderkey").sortWithinPartitions("l_orderkey")
      .write.parquet(linDir)
    val (lo, hi) = {
      val r = li.agg(min($"l_partkey"), max($"l_partkey")).head
      val (mn, mx) = (r.getLong(0), r.getLong(1))
      (mn, mn + (mx - mn) / 10) // bottom decile of the partkey range
    }
    def scanDecodedRows(dir: String): (Long, Long) = {
      val df = spark.read.parquet(dir)
        .filter($"l_partkey" >= lo && $"l_partkey" <= hi)
      val out = df.collect().length.toLong
      val scan = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      (scan.metrics("numOutputRows").value, out)
    }
    val (zScan, zRows) = scanDecodedRows(zDir)
    val (linScan, linRows) = scanDecodedRows(linDir)
    assert(zRows === linRows) // same logical answer
    info(s"rows decoded at the scan: z=$zScan linear=$linScan (result $zRows)")
    // the z layout must skip MOST row groups for a 10%-range probe;
    // the linear layout decodes ~everything
    assert(zScan < linScan / 2, s"z=$zScan linear=$linScan")
  }

  test("writeSharded: shard files hold disjoint contiguous sorted key ranges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    val df = Tables.table(spark, sfDir, "orders").select("o_orderkey", "o_totalprice")
    Tables.writeSharded(df, dir, "o_orderkey", numShards = 4)

    val back = spark.read.parquet(dir)
      .select(col("o_orderkey"), col("_metadata.file_path").as("f"))
    // no rows lost, no duplicates
    assert(back.count() === df.count())
    // per-file key ranges are disjoint → a global order across shards
    val ranges = back.groupBy("f")
      .agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .orderBy("lo")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(ranges.length === 4)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, ranges.toSeq)
      case _ =>
    }
  }

  test("j13 bucketed ingest runs once per source; re-invocation reuses the tables") {
    val q = SparkEntry.queries("j13_bucketed_join")
    val r1 = q(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    assert(spark.catalog.tableExists(s"graft_bkt_lineitem_$tag"))
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    def mtimes = new java.io.File(s"$wh/graft_bkt_lineitem_$tag")
      .listFiles().map(f => f.getName -> f.lastModified).toMap
    val before = mtimes
    assert(before.nonEmpty)
    // second invocation: same result, NO re-ingest (bucket files untouched)
    val r2 = q(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(r2 === r1)
    assert(mtimes === before, "bucketed ingest re-ran on re-invocation")
  }
}

/** Creates a non-empty scratch dir for the sf dir in `args(0)`, prints
  * its path and exits: TablesSpec checks the dir is gone afterwards.
  */
object ScratchDirProbe {
  def main(args: Array[String]): Unit = {
    val root = Tables.scratchDir("probe", args(0))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "part"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "part", "f.txt"), "x")
    println(root)
  }
}
