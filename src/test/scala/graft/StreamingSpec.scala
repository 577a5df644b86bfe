package graft

import graft.sources.Tables
import graft.streaming.EventStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Write the events table as 4 sequential ts-ordered files so the
    * file stream replays them as 4 roughly-ordered micro-batches.
    */
  private lazy val streamDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("evstream").toString
    val ev = Tables.events(spark, sfDir).orderBy("ts").cache()
    val n = ev.count()
    val chunk = (n / 4 + 1).toInt
    val rows = ev.collect()
    rows.grouped(chunk).zipWithIndex.foreach { case (batch, i) =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(batch.toSeq), ev.schema)
      df.coalesce(1).write.parquet(s"$dir/chunk_$i")
      // register files at the top level for the stream (one file per dir)
      val src = new java.io.File(s"$dir/chunk_$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(src.toPath,
        java.nio.file.Paths.get(s"$dir/part_$i.parquet"))
      Thread.sleep(1100) // distinct modification seconds → stable order
    }
    new java.io.File(dir).listFiles().filter(_.isDirectory)
      .foreach(d => { d.listFiles().foreach(_.delete()); d.delete() })
    dir
  }

  private def staticEvents = Tables.events(spark, sfDir)

  test("windowedAgg over the stream equals the batch tumbling-window aggregation") {
    val stream = EventStream.readEventStream(spark, streamDir, staticEvents.schema)
    val q = EventStream.windowedAgg(stream).writeStream
      .outputMode("complete").format("memory").queryName("win_out").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("win_out")
      .select("window_start", "event_type", "n_events")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = staticEvents
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("windowedAggAvailableNow (real engine, AvailableNow) equals the batch query") {
    val streamed = EventStream.windowedAggAvailableNow(
      spark, s"$sfDir/events.parquet", queryName = "spec_stream_agg")
    val batch = graft.SparkEntry.queries("ev_window_agg")(spark, sfDir)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("enrichedSegmentAggAvailableNow (stream-static broadcast join) equals the batch twin") {
    val streamed = EventStream.enrichedSegmentAggAvailableNow(
      spark, sfDir, queryName = "spec_stream_enrich")
    val dim = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val ev = staticEvents
    val batch = ev.join(dim, ev("user_id") === dim("c_custkey"))
      .groupBy(col("c_mktsegment").as("mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("total_value"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stream-stream interval join recovers cross-batch matches from state") {
    // two independent file streams over the 4-chunk replay: a click in
    // an early micro-batch must stay buffered in join state until its
    // matching purchase arrives in a later one
    def clicksOf(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "2 hours")
    def purchasesOf(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "2 hours")
    val cond = expr(
      "user_id = p_user_id AND p_ts >= c_ts - INTERVAL 30 MINUTES AND p_ts <= c_ts")
    val joined = clicksOf(EventStream.readEventStream(spark, streamDir, staticEvents.schema))
      .join(purchasesOf(EventStream.readEventStream(spark, streamDir, staticEvents.schema)),
        cond)
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ssj_out").start()
    q.processAllAvailable(); q.stop()
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "click_id", "purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = keys(spark.table("ssj_out"))
    val batch = keys(clicksOf(staticEvents).join(purchasesOf(staticEvents), cond))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("runningUserCounts converges to the batch per-user totals") {
    val stream = EventStream.readEventStream(spark, streamDir, staticEvents.schema)
    val q = EventStream.runningUserCounts(stream).writeStream
      .outputMode("update").format("memory").queryName("ruc_out").start()
    q.processAllAvailable(); q.stop()

    // last update per user is the final state
    val finalCounts = spark.table("ruc_out")
      .groupBy("user_id").agg(max("n_events").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = staticEvents.groupBy("user_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(finalCounts === batch)
  }

  test("streamingDedup drops cross-batch duplicate keys within the watermark") {
    val dir = java.nio.file.Files.createTempDirectory("ddstream").toString
    val ev = Tables.events(spark, sfDir).orderBy("event_id").limit(1000).cache()
    val rows = ev.collect()
    // batch 1: rows 0-599; batch 2: rows 300-999 → 300 duplicates straddle
    // the micro-batch boundary (the case per-batch dedup can't catch)
    Seq(rows.slice(0, 600), rows.slice(300, 1000)).zipWithIndex.foreach {
      case (batch, i) =>
        spark.createDataFrame(
            spark.sparkContext.parallelize(batch.toSeq), ev.schema)
          .coalesce(1).write.parquet(s"$dir/chunk_$i")
        val src = new java.io.File(s"$dir/chunk_$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(src.toPath,
          java.nio.file.Paths.get(s"$dir/part_$i.parquet"))
        Thread.sleep(1100)
    }
    val stream = EventStream.readEventStream(spark, dir, ev.schema)
    val q = EventStream.streamingDedup(stream, Seq("event_id")).writeStream
      .outputMode("append").format("memory").queryName("dd_out").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("dd_out")
    assert(out.count() === 1000)
    assert(out.select("event_id").distinct().count() === 1000)
  }

  test("sinkToLake lands watermark-closed windows in the partitioned lake layout") {
    val outDir = java.nio.file.Files.createTempDirectory("lake").toString + "/agg"
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val stream = EventStream.readEventStream(spark, streamDir, staticEvents.schema)
    val q = EventStream.sinkToLake(
      EventStream.windowedAgg(stream, watermarkDelay = "1 hour"),
      outDir, ckpt, Seq("event_type"))
    q.processAllAvailable(); q.stop()

    val landed = spark.read.parquet(outDir)
    assert(landed.count() > 0)
    // partition layout honored
    assert(new java.io.File(outDir).listFiles().exists(_.getName.startsWith("event_type=")))
    // every landed window row matches the batch aggregation
    val batch = staticEvents
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val landedSet = landed
      .select("window_start", "event_type", "n_events")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert((landedSet -- batch).isEmpty)
  }

  test("sinkToLake resumes from its checkpoint without re-emitting prior windows") {
    val srcDir = java.nio.file.Files.createTempDirectory("resume_src").toString
    val outDir = java.nio.file.Files.createTempDirectory("resume_lake").toString + "/agg"
    val ckpt = java.nio.file.Files.createTempDirectory("resume_ckpt").toString
    // reuse the 4-chunk ts-ordered replay files; phase 1 sees 2 of them
    val chunks = new java.io.File(streamDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    def copyIn(n: Int): Unit = chunks.take(n).foreach { f =>
      val dst = java.nio.file.Paths.get(s"$srcDir/${f.getName}")
      if (!dst.toFile.exists())
        java.nio.file.Files.copy(f.toPath, dst)
    }
    def runOnce(): Unit = {
      val stream = EventStream.readEventStream(spark, srcDir, staticEvents.schema)
      val q = EventStream.sinkToLake(
        EventStream.windowedAgg(stream, watermarkDelay = "1 hour"),
        outDir, ckpt, Seq("event_type"))
      q.processAllAvailable(); q.stop()
    }
    copyIn(2); runOnce()
    val afterFirst = spark.read.parquet(outDir).count()
    assert(afterFirst > 0, "phase 1 should land watermark-closed windows")
    copyIn(4); runOnce() // NEW query instance, SAME checkpoint
    val landed = spark.read.parquet(outDir)
    assert(landed.count() > afterFirst, "phase 2 should land newly closed windows")
    // exactly-once across the restart: no window re-emitted...
    assert(landed.groupBy("window_start", "event_type").count()
      .filter(col("count") > 1).count() === 0)
    // ...and everything landed agrees with the batch aggregation
    val batch = staticEvents
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val landedSet = landed.select("window_start", "event_type", "n_events")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert((landedSet -- batch).isEmpty)
  }

  test("exactly-once under a mid-batch crash: retry after a PARTIAL WRITE neither dups nor drops") {
    // the nasty case: the crash lands AFTER the batch's files are on
    // disk but BEFORE the engine commits the batch — a retry then
    // re-runs the same batch id, and a plain append sink would write
    // every row a second time. landBatchIdempotent must replace.
    val outDir = java.nio.file.Files.createTempDirectory("crash_lake").toString + "/agg"
    val ckpt = java.nio.file.Files.createTempDirectory("crash_ckpt").toString
    val ctrlOut = java.nio.file.Files.createTempDirectory("ctrl_lake").toString + "/agg"
    val ctrlCkpt = java.nio.file.Files.createTempDirectory("ctrl_ckpt").toString
    val injected = new java.util.concurrent.atomic.AtomicBoolean(false)

    def run(out: String, cp: String, inject: Boolean): Unit = {
      val stream = EventStream.readEventStream(spark, streamDir, staticEvents.schema)
      val q = EventStream.windowedAgg(stream, watermarkDelay = "1 hour")
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          EventStream.landBatchIdempotent(b, id, out, Seq("event_type"))
          if (inject && id >= 1 && injected.compareAndSet(false, true))
            throw new RuntimeException("injected crash AFTER the batch write")
        }
        .start()
      try q.processAllAvailable()
      catch { case _: Exception => () } // the injected failure surfaces here
      finally q.stop()
    }

    run(outDir, ckpt, inject = true) // crashes mid-stream, partial output on disk
    assert(injected.get, "the crash must actually have been injected")
    run(outDir, ckpt, inject = false) // restart from the SAME checkpoint
    // control: the same pipeline never crashed
    run(ctrlOut, ctrlCkpt, inject = false)

    def landedSet(path: String) = spark.read.parquet(path)
      .select("window_start", "event_type", "n_events")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val crashed = landedSet(outDir)
    val control = landedSet(ctrlOut)
    assert(crashed === control,
      s"crash+retry diverged from the never-crashed run: " +
        s"missing=${control -- crashed} extra=${crashed -- control}")
    // and no window row appears twice anywhere in the crashed lake
    assert(spark.read.parquet(outDir)
      .groupBy("window_start", "event_type").count()
      .filter(col("count") > 1).count() === 0)
  }

  test("sessionize emits watermark-closed sessions matching the batch gaps-and-islands") {
    val stream = EventStream.readEventStream(spark, streamDir, staticEvents.schema)
    val q = EventStream.sessionize(stream, gapMinutes = 30, watermarkDelay = "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("sess_out").start()
    q.processAllAvailable(); q.stop()

    val emitted = spark.table("sess_out")
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    assert(emitted.nonEmpty, "multi-batch replay should close some sessions")

    val batchSessions = graft.SparkEntry.queries("ev_sessions")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    val missing = emitted -- batchSessions
    assert(missing.isEmpty, s"streamed sessions not in batch result: ${missing.take(3)}")
  }

  test("sessionsAvailableNow equals the batch gaps-and-islands EXACTLY (heartbeat flush)") {
    val streamed = EventStream.sessionsAvailableNow(
        spark, s"$sfDir/events.parquet", "spec_sessions_full")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    val batch = graft.SparkEntry.queries("ev_sessions")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    assert(streamed === batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("full-outer stream join equals batch FULL JOIN and watermarks evict state") {
    val run = EventStream.clickPurchaseOuterJoinRun(
      spark, s"$sfDir/events.parquet", "fullOuter", "spec_full_outer_state")
    val ev = staticEvents
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value").as("p_value"))
    val batch = clicks.join(purchases,
      expr("user_id = p_user_id AND p_ts >= c_ts - INTERVAL 30 MINUTES AND p_ts <= c_ts"),
      "fullOuter")
      .select(coalesce(col("user_id"), col("p_user_id")).as("user_id"),
        col("click_id"), col("c_ts"), col("purchase_id"), col("p_ts"), col("p_value"))
    assert(run.result.count() === batch.count())
    assert(run.result.exceptAll(batch).isEmpty && batch.exceptAll(run.result).isEmpty,
      "streamed full-outer result must equal the batch FULL JOIN")
    // the eviction pin: without watermark eviction the final state
    // would hold every buffered click+purchase; with it, only rows the
    // watermark hasn't passed remain — the two heartbeats
    val buffered = clicks.count() + purchases.count()
    assert(run.stateRowsTotal < buffered,
      s"state (${run.stateRowsTotal}) not evicted vs $buffered buffered rows")
    assert(run.stateRowsTotal <= 4,
      s"final state should hold only the heartbeat rows, got ${run.stateRowsTotal}")
  }

  test("outer stream join on an EMPTY events table returns the empty joined schema") {
    val emptyDir = java.nio.file.Files.createTempDirectory("evempty").toString
    staticEvents.limit(0).write.mode("overwrite").parquet(s"$emptyDir/events.parquet")
    // the guard reads through the same schema-dispatching normalize
    // as the non-empty path, so any ts encoding round-trips
    val out = EventStream.clickPurchaseOuterJoinRun(
      spark, s"$emptyDir/events.parquet", "leftOuter", "spec_empty_outer")
    assert(out.result.count() === 0L)
    assert(out.result.columns.toSeq ===
      Seq("user_id", "click_id", "c_ts", "purchase_id", "p_ts", "p_value"))
    assert(out.stateRowsTotal === 0L)
  }

  test("gopherGateAvailableNow equals the batch gate across micro-batch splits") {
    // write documents as 3 separate files → 3 micro-batches; the gate
    // is stateless, so the emitted set must equal the batch-filtered
    // set regardless of how rows split across batches
    val dir = java.nio.file.Files.createTempDirectory("docstream").toString
    val d = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "lang", "text").cache()
    val rows = d.collect()
    val chunk = rows.length / 3 + 1
    rows.grouped(chunk).zipWithIndex.foreach { case (batch, i) =>
      spark.createDataFrame(
        spark.sparkContext.parallelize(batch.toSeq), d.schema)
        .coalesce(1).write.parquet(s"$dir/b_$i")
      val src = new java.io.File(s"$dir/b_$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(src.toPath,
        java.nio.file.Paths.get(s"$dir/part_$i.parquet"))
    }
    new java.io.File(dir).listFiles().filter(_.isDirectory)
      .foreach(sub => { sub.listFiles().foreach(_.delete()); sub.delete() })
    val streamed = graft.streaming.CorpusStream.gopherGateAvailableNow(
      spark, dir, minWords = 30, queryName = "spec_corpus_gate")
    val batch = graft.operators.TextAnalysis.gopherRules(d, "text", minWords = 30)
      .filter(col("gopher_pass"))
    assert(streamed.count() === batch.count())
    assert(streamed.select("doc_id").as[Long].collect().toSet ===
      batch.select("doc_id").as[Long].collect().toSet)
  }

  test("streaming MV: checkpoint resume across restarts yields the one-shot aggregate") {
    import graft.operators.Incremental
    import graft.streaming.DimensionStream
    val li = Tables.table(spark, sfDir, "lineitem")
      .filter($"l_extendedprice" > 0)
      .withColumn("ship_date", to_date($"l_shipdate"))
      .select("l_orderkey", "l_suppkey", "ship_date", "l_extendedprice")
    val root = java.nio.file.Files.createTempDirectory("mvresume").toString
    val keys = Seq("l_suppkey", "ship_date")
    // phase 1: only batch 0 exists; run to completion (simulates a
    // stop/crash after the first arrival)
    DimensionStream.writeFeedFile(
      li.filter($"l_orderkey" % 3 === 0), s"$root/feed", "b0", 1700000000000L)
    DimensionStream.aggMergeAvailableNow(spark, s"$root/feed", s"$root/state",
      keys, "l_extendedprice", queryName = "spec_mv_resume_1")
    // phase 2: two more arrivals land; RESTART with the same
    // checkpoint — already-processed b0 must not be re-merged
    DimensionStream.writeFeedFile(
      li.filter($"l_orderkey" % 3 === 1), s"$root/feed", "b1", 1700000060000L)
    DimensionStream.writeFeedFile(
      li.filter($"l_orderkey" % 3 === 2), s"$root/feed", "b2", 1700000120000L)
    val resumed = DimensionStream.aggMergeAvailableNow(spark, s"$root/feed",
      s"$root/state", keys, "l_extendedprice", queryName = "spec_mv_resume_2")
    val got = Incremental.finalizeAggState(resumed, "total_revenue", "trip_count")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString) ->
        (r.getDouble(2), r.getLong(3))).toMap
    val expected = Incremental.finalizeAggState(
      Incremental.aggState(li, keys, $"l_extendedprice"),
      "total_revenue", "trip_count")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString) ->
        (r.getDouble(2), r.getLong(3))).toMap
    assert(got === expected)
  }

  test("streaming MV (stateful stitch): transition matrix resumes across restarts to the one-shot counts") {
    import graft.streaming.DimensionStream
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
    val root = java.nio.file.Files.createTempDirectory("mvtr").toString
    // ts-ordered halves (the append-arrival contract the boundary
    // stitch requires)
    val cut = ev.agg(expr("percentile(CAST(unix_micros(ts) AS DOUBLE), 0.5)"))
      .head().getDouble(0)
    val us = unix_micros($"ts").cast("double")
    // phase 1: first half only, run to completion (stop/crash)
    DimensionStream.writeFeedFile(
      ev.filter(us <= cut), s"$root/feed", "b0", 1700000000000L)
    DimensionStream.transitionMergeAvailableNow(spark, s"$root/feed",
      s"$root/state", queryName = "spec_mv_tr_1")
    // frontier must exist after phase 1 — one row per phase-1 user
    val st1 = spark.read.parquet(s"$root/state")
    assert(st1.filter($"_kind" === "frontier").count() ===
      ev.filter(us <= cut).select("user_id").distinct().count())
    // phase 2: second half lands; RESTART on the same checkpoint —
    // boundary pairs (last of phase 1 → first of phase 2 per user)
    // must stitch exactly once
    DimensionStream.writeFeedFile(
      ev.filter(us > cut), s"$root/feed", "b1", 1700000060000L)
    val resumed = DimensionStream.transitionMergeAvailableNow(spark,
      s"$root/feed", s"$root/state", queryName = "spec_mv_tr_2")
    val got = resumed.filter($"_kind" === "cnt")
      .select("event_type", "next_type", "n")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val expected = ev
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
      .groupBy("event_type", "next_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === expected)
  }

  test("streaming MV (distinct layer): DAU resumes across restarts to the one-shot answer") {
    import graft.streaming.DimensionStream
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", to_date($"ts").as("day"), $"user_id", $"value")
    val root = java.nio.file.Files.createTempDirectory("mvdau").toString
    val keys = Seq("day", "user_id")
    def dau(state: org.apache.spark.sql.DataFrame) =
      state.groupBy($"day")
        .agg(count(lit(1)).as("dau"), sum($"_cnt").as("n_events"))
        .collect().map(r => r.getDate(0).toString ->
          (r.getLong(1), r.getLong(2))).toMap
    // phase 1: first arrival only, run to completion
    DimensionStream.writeFeedFile(
      ev.filter($"event_id" % 2 === 0), s"$root/feed", "b0", 1700000000000L)
    DimensionStream.aggMergeAvailableNow(spark, s"$root/feed", s"$root/state",
      keys, "value", queryName = "spec_mv_dau_1")
    // phase 2: second arrival, RESTART on the same checkpoint — the
    // (day, user) distinct layer must merge, not re-count
    DimensionStream.writeFeedFile(
      ev.filter($"event_id" % 2 =!= 0), s"$root/feed", "b1", 1700000060000L)
    val got = dau(DimensionStream.aggMergeAvailableNow(spark, s"$root/feed",
      s"$root/state", keys, "value", queryName = "spec_mv_dau_2"))
    val expected = Tables.events(spark, sfDir)
      .groupBy(to_date($"ts").as("day"))
      .agg(countDistinct($"user_id").as("dau"), count(lit(1)).as("n_events"))
      .collect().map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(got === expected)
  }

  test("streaming MV (sketch state): HLL uniques resume across restarts to the one-shot sketch") {
    import graft.operators.Sketches
    import graft.streaming.DimensionStream
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", to_date($"ts").as("day"), $"user_id")
    val root = java.nio.file.Files.createTempDirectory("mvhll").toString
    // phase 1: first arrival, run to completion
    DimensionStream.writeFeedFile(
      ev.filter($"event_id" % 2 === 0), s"$root/feed", "b0", 1700000000000L)
    DimensionStream.sketchMergeAvailableNow(spark, s"$root/feed",
      s"$root/state", Seq("day"), "user_id", queryName = "spec_mv_hll_1")
    // phase 2: second arrival, RESTART on the same checkpoint — the
    // sketch union must converge to the one-shot sketch EXACTLY
    // (register-wise max is batch-boundary invariant)
    DimensionStream.writeFeedFile(
      ev.filter($"event_id" % 2 =!= 0), s"$root/feed", "b1", 1700000060000L)
    val streamed = Sketches.finalizeSketchState(
      DimensionStream.sketchMergeAvailableNow(spark, s"$root/feed",
        s"$root/state", Seq("day"), "user_id", queryName = "spec_mv_hll_2"),
      "est").collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val oneShot = Sketches.finalizeSketchState(
      Sketches.hllSketchState(ev, Seq("day"), "user_id"), "est")
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(streamed === oneShot)
  }

  test("streaming MV: replayed batch (state committed, checkpoint lost) is not double-merged") {
    import graft.operators.{Incremental, Sketches}
    import graft.streaming.DimensionStream
    import org.apache.spark.sql.DataFrame
    /** One materialized-view loop: its feed as two arrivals, a run over
      * (feedDir, statePath, queryName), a comparable snapshot of the
      * state it returns, and the snapshot of the one-shot answer. */
    final case class Mv(name: String, first: DataFrame, rest: DataFrame,
                        run: (String, String, String) => DataFrame,
                        snap: DataFrame => Any, expected: Any)
    val li = Tables.table(spark, sfDir, "lineitem")
      .filter($"l_extendedprice" > 0)
      .withColumn("ship_date", to_date($"l_shipdate"))
      .select("l_orderkey", "l_suppkey", "ship_date", "l_extendedprice")
    val keys = Seq("l_suppkey", "ship_date")
    def revenue(df: DataFrame) =
      Incremental.finalizeAggState(df, "total_revenue", "trip_count")
        .collect().map(r => (r.getLong(0), r.getDate(1).toString) ->
          (r.getDouble(2), r.getLong(3))).toMap
    // transitions: ts-ordered halves (the append-arrival contract the
    // boundary stitch requires)
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
    val cut = ev.agg(expr("percentile(CAST(unix_micros(ts) AS DOUBLE), 0.5)"))
      .head().getDouble(0)
    val us = unix_micros($"ts").cast("double")
    def transitions(df: DataFrame) =
      df.filter($"_kind" === "cnt").select("event_type", "next_type", "n")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val oneShotTransitions = ev
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
      .groupBy("event_type", "next_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val days = Tables.events(spark, sfDir)
      .select($"event_id", to_date($"ts").as("day"), $"user_id")
    def uniques(df: DataFrame) = Sketches.finalizeSketchState(df, "est")
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val mvs = Seq(
      Mv("agg", li.filter($"l_orderkey" % 3 === 0), li.filter($"l_orderkey" % 3 =!= 0),
        (feed, state, q) => DimensionStream.aggMergeAvailableNow(spark, feed, state,
          keys, "l_extendedprice", queryName = q),
        revenue, revenue(Incremental.aggState(li, keys, $"l_extendedprice"))),
      Mv("transitions", ev.filter(us <= cut), ev.filter(us > cut),
        (feed, state, q) => DimensionStream.transitionMergeAvailableNow(spark, feed, state,
          queryName = q),
        transitions, oneShotTransitions),
      Mv("sketch", days.filter($"event_id" % 2 === 0), days.filter($"event_id" % 2 =!= 0),
        (feed, state, q) => DimensionStream.sketchMergeAvailableNow(spark, feed, state,
          Seq("day"), "user_id", queryName = q),
        uniques, uniques(Sketches.hllSketchState(days, Seq("day"), "user_id"))))
    mvs.foreach { mv =>
      val root = java.nio.file.Files.createTempDirectory(s"mvreplay_${mv.name}").toString
      def run(i: Int) = mv.snap(mv.run(s"$root/feed", s"$root/state",
        s"spec_mv_replay_${mv.name}_$i"))
      DimensionStream.writeFeedFile(mv.first, s"$root/feed", "b0", 1700000000000L)
      val s1 = run(1)
      // the worst-case at-least-once window: the state commit survived
      // but the streaming checkpoint didn't — the restarted stream
      // REPLAYS b0 as batchId 0, which the sidecar marker must skip
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$root/state.checkpoint"))
      val s2 = run(2)
      assert(s2 === s1, s"${mv.name}: the replayed batch was merged again")
      // and the stream still makes progress past the replayed batch
      DimensionStream.writeFeedFile(mv.rest, s"$root/feed", "b1", 1700000060000L)
      assert(run(3) === mv.expected, s"${mv.name}: resumed state != one-shot")
    }
  }

  /** Feeds two CDC batches through `scd2MergeAvailableNow`, their
    * `change_ts` written by `changeTs`, and checks the result against
    * the sequential batch merge chain.
    */
  private def checkScd2Cdc(changeTs: java.sql.Timestamp => org.apache.spark.sql.Column,
                           queryName: String): Unit = {
    import graft.operators.Scd2
    import graft.streaming.DimensionStream
    val conf = graft.queries.Scd2Queries.conf
    val t0 = graft.functions.Functions.utcTimestamp("2024-01-01 00:00:00")
    val t1 = graft.functions.Functions.utcTimestamp("2024-02-01 00:00:00")
    val t2 = graft.functions.Functions.utcTimestamp("2024-03-01 00:00:00")
    val b = Tables.table(spark, sfDir, "supplier").select(
      col("s_suppkey"), col("s_name"), col("s_nationkey"),
      col("s_acctbal").cast("decimal(18,2)").as("bal"))
    val batchA = b.filter(col("s_suppkey") % 10 === 0)
      .withColumn("bal", (col("bal") + 100).cast("decimal(18,2)"))
    val batchB = b.filter(col("s_suppkey") % 3 === 0)
      .withColumn("bal", (col("bal") + 50).cast("decimal(18,2)"))

    val root = java.nio.file.Files.createTempDirectory("scd2cdc").toString
    DimensionStream.writeFeedFile(
      batchA.withColumn("change_ts", changeTs(t1)), s"$root/feed", "b0", 1700000000000L)
    DimensionStream.writeFeedFile(
      batchB.withColumn("change_ts", changeTs(t2)), s"$root/feed", "b1", 1700000060000L)
    Scd2.writeAtomic(Scd2.initialLoad(b, conf, t0), s"$root/dim")
    val streamed = DimensionStream.scd2MergeAvailableNow(
      spark, s"$root/feed", s"$root/dim", conf, queryName = queryName)

    val expected = Scd2.merge(
      Scd2.merge(Scd2.initialLoad(b, conf, t0), batchA, conf, t1),
      batchB, conf, t2)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getInt(r.fieldIndex("version_no")))
    val got = streamed.collect().map(r => key(r) ->
      (r.getAs[Boolean]("is_current"), r.getAs[java.sql.Timestamp]("effective_end_ts"),
        r.getAs[String]("record_hash"))).toMap
    val exp = expected.collect().map(r => key(r) ->
      (r.getAs[Boolean]("is_current"), r.getAs[java.sql.Timestamp]("effective_end_ts"),
        r.getAs[String]("record_hash"))).toMap
    assert(got === exp)
    // both-batch keys really reached version 3
    assert(streamed.filter(col("version_no") === 3).count() ===
      b.filter(col("s_suppkey") % 30 === 0).count())
  }

  test("streaming SCD2 CDC merge equals the sequential batch merge chain") {
    checkScd2Cdc(t => lit(t), "spec_scd2_cdc")
  }

  test("streaming SCD2 CDC merge reads a naive (TIMESTAMP_NTZ) change_ts feed") {
    // pyarrow and pandas write naive timestamps by default
    checkScd2Cdc(t => lit(t).cast("timestamp_ntz"), "spec_scd2_cdc_ntz")
  }

  test("streaming MV (stateful stitch): out-of-order feed — drops measured exactly, within-batch mass intact") {
    import graft.streaming.DimensionStream
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
    val root = java.nio.file.Files.createTempDirectory("mvtrooo").toString
    // event-time thirds fed OUT OF ORDER: T0, T2, T1
    val us = unix_micros($"ts").cast("double")
    val cuts = ev.agg(
      expr("percentile(CAST(unix_micros(ts) AS DOUBLE), 0.3333)"),
      expr("percentile(CAST(unix_micros(ts) AS DOUBLE), 0.6667)"))
      .head()
    val (c1, c2) = (cuts.getDouble(0), cuts.getDouble(1))
    val batches = Seq( // arrival order
      ev.filter(us <= c1),
      ev.filter(us > c2),
      ev.filter(us > c1 && us <= c2))
    batches.zipWithIndex.foreach { case (b, i) =>
      DimensionStream.writeFeedFile(b, s"$root/feed", s"b$i",
        1700000000000L + i * 60000L)
    }
    val state = DimensionStream.transitionMergeAvailableNow(spark,
      s"$root/feed", s"$root/state", queryName = "spec_mv_tr_ooo")
    val got = state.filter($"_kind" === "cnt")
      .select("event_type", "next_type", "n")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    // driver-side simulation of the documented arrival-order stitch
    // semantics: within-batch adjacent pairs always count; the
    // frontier->first boundary stitches only when the frontier is
    // older, else the boundary pair is DROPPED; frontier = running max
    type E = (Double, Long, String) // (ts_us, event_id, type)
    val sim = scala.collection.mutable.Map.empty[(String, String), Long]
    val frontier = scala.collection.mutable.Map.empty[Long, E]
    var drops = 0L
    batches.foreach { b =>
      val rows = b.select($"user_id", us.as("u"), $"event_id", $"event_type")
        .collect()
        .map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2), r.getString(3))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(e => (e._1, e._2)))
      rows.foreach { case (uid, es) =>
        es.sliding(2).filter(_.length == 2).foreach { p =>
          val (a, c) = (p(0), p(1))
          val k = (a._3, c._3); sim(k) = sim.getOrElse(k, 0L) + 1 }
        frontier.get(uid).foreach { f =>
          val first = es.head
          if (f._1 < first._1 || (f._1 == first._1 && f._2 < first._2)) {
            val k = (f._3, first._3); sim(k) = sim.getOrElse(k, 0L) + 1
          } else drops += 1
        }
        val last = es.last
        frontier(uid) = frontier.get(uid) match {
          case Some(f) if f._1 > last._1 ||
            (f._1 == last._1 && f._2 > last._2) => f
          case _ => last
        }
      }
    }
    assert(got === sim.toMap, "streamed matrix must equal the arrival-order stitch semantics")
    // the degradation is EXACTLY the dropped boundary stitches: total
    // pair mass = one-shot total - drops (stale stitches shift pairs
    // between cells but conserve mass; within-batch pairs are exact)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val oneShotTotal = ev
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull).count()
    assert(drops > 0, "the shuffled order must actually exercise the drop path")
    assert(got.values.sum === oneShotTotal - drops,
      s"pair mass must be one-shot ($oneShotTotal) minus dropped boundaries ($drops)")
  }

  test("cdcApplyAvailableNow: full-feed replay onto final state is a no-op " +
    "(equal event order keeps state); tombstones block resurrection") {
    import graft.streaming.DimensionStream
    import graft.operators.Scd2
    val root = java.nio.file.Files.createTempDirectory("graft_cdcspec_").toString
    val feedDir = s"$root/feed"
    val statePath = s"$root/state"
    val feed = Seq(
      (1L, 10L, 1L, "U", "a1", 11L),
      (2L, 10L, 2L, "D", "xx", 0L),  // delete key 2 at t=10
      (3L, 10L, 3L, "I", "c1", 31L)
    ).toDF("entity_id", "ts", "event_id", "op", "status", "val_cents")
    val state0 = Seq(
      (1L, "U", "base", 10L, 0L, 0L),
      (2L, "U", "base", 20L, 0L, 0L)
    ).toDF("entity_id", "op", "status", "val_cents", "ts", "event_id")
    Scd2.writeAtomic(state0, statePath)
    DimensionStream.writeFeedFile(feed, feedDir, "b0", 1700000000000L)
    val first = DimensionStream.cdcApplyAvailableNow(spark, feedDir,
      statePath, Seq("entity_id"), Seq("ts", "event_id"), "op",
      Seq("status", "val_cents"), queryName = "cdcspec1")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toSet
    assert(first === Set(1L -> ("a1", 11L), 3L -> ("c1", 31L)))
    // replay the SAME feed with a fresh checkpoint: equal (ts, seq)
    // keeps state — the final rows must be byte-identical
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$statePath.checkpoint"), true)
    val replayed = DimensionStream.cdcApplyAvailableNow(spark, feedDir,
      statePath, Seq("entity_id"), Seq("ts", "event_id"), "op",
      Seq("status", "val_cents"), queryName = "cdcspec2")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toSet
    assert(replayed === first)
    // a LATE batch of changes OLDER than the applied ones: stale
    // update on key 1 loses; stale insert on DELETED key 2 cannot
    // resurrect it (tombstone order wins)
    val late = Seq(
      (1L, 5L, 9L, "U", "stale", 99L),
      (2L, 5L, 9L, "I", "zombie", 99L)
    ).toDF("entity_id", "ts", "event_id", "op", "status", "val_cents")
    DimensionStream.writeFeedFile(late, feedDir, "b1", 1700000060000L)
    val afterLate = DimensionStream.cdcApplyAvailableNow(spark, feedDir,
      statePath, Seq("entity_id"), Seq("ts", "event_id"), "op",
      Seq("status", "val_cents"), queryName = "cdcspec3")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toSet
    assert(afterLate === first,
      s"late stale batch must change nothing, got $afterLate")
  }

  test("cdcApplyAvailableNow: crash inside the atomic-swap rename window " +
    "restores from backup instead of silently seeding empty") {
    import graft.streaming.DimensionStream
    import graft.operators.Scd2
    val root = java.nio.file.Files.createTempDirectory("graft_cdccrash_").toString
    val statePath = s"$root/state"
    val feed0 = Seq((1L, 10L, 1L, "I", "a1", 11L))
      .toDF("entity_id", "ts", "event_id", "op", "status", "val_cents")
    DimensionStream.writeFeedFile(feed0, s"$root/feed", "b0", 1700000000000L)
    val first = DimensionStream.cdcApplyAvailableNow(spark, s"$root/feed",
      statePath, Seq("entity_id"), Seq("ts", "event_id"), "op",
      Seq("status", "val_cents"), queryName = "cdccrash1")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toSet
    assert(first === Set(1L -> ("a1", 11L)))
    // simulate a crash between writeAtomic's live→backup and
    // staging→live renames: live absent, backup = pre-crash state,
    // a stale staging dir and the streaming checkpoint both survive
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(statePath),
      new org.apache.hadoop.fs.Path(s"$statePath.backup")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$statePath.staging"))
    val feed1 = Seq((2L, 20L, 2L, "I", "b1", 22L))
      .toDF("entity_id", "ts", "event_id", "op", "status", "val_cents")
    DimensionStream.writeFeedFile(feed1, s"$root/feed", "b1", 1700000060000L)
    val recovered = DimensionStream.cdcApplyAvailableNow(spark, s"$root/feed",
      statePath, Seq("entity_id"), Seq("ts", "event_id"), "op",
      Seq("status", "val_cents"), queryName = "cdccrash2")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toSet
    assert(recovered === Set(1L -> ("a1", 11L), 2L -> ("b1", 22L)),
      s"pre-crash state must survive the restore, got $recovered")
  }

  test("cdcApplyAvailableNow: refuses to seed empty over prior-deployment " +
    "residue (checkpoint without live or backup)") {
    import graft.streaming.DimensionStream
    val root = java.nio.file.Files.createTempDirectory("graft_cdcresidue_").toString
    val feed = Seq((1L, 10L, 1L, "I", "a1", 11L))
      .toDF("entity_id", "ts", "event_id", "op", "status", "val_cents")
    DimensionStream.writeFeedFile(feed, s"$root/feed", "b0", 1700000000000L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/state.checkpoint"))
    val e = intercept[RuntimeException] {
      DimensionStream.cdcApplyAvailableNow(spark, s"$root/feed",
        s"$root/state", Seq("entity_id"), Seq("ts", "event_id"), "op",
        Seq("status", "val_cents"), queryName = "cdcresidue1")
    }
    assert(e.getMessage.contains("refusing to seed"),
      s"unexpected error: ${e.getMessage}")
  }

  test("cdcApplyAvailableNow: bootstraps from an ABSENT state table; null-op state rows are live") {
    import graft.streaming.DimensionStream
    import graft.operators.Scd2
    val root = java.nio.file.Files.createTempDirectory("graft_cdcboot_").toString
    // no state table seeded — first deployment must not crash
    val feed = Seq(
      (1L, 10L, 1L, "I", "a1", 11L),
      (2L, 10L, 2L, "D", "xx", 0L)
    ).toDF("entity_id", "ts", "event_id", "op", "status", "val_cents")
    DimensionStream.writeFeedFile(feed, s"$root/feed", "b0", 1700000000000L)
    val live = DimensionStream.cdcApplyAvailableNow(spark, s"$root/feed",
      s"$root/state", Seq("entity_id"), Seq("ts", "event_id"), "op",
      Seq("status", "val_cents"), queryName = "cdcboot1")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toSet
    assert(live === Set(1L -> ("a1", 11L)))
    // a pre-seeded snapshot whose op is NULL (never saw a CDC op) is
    // LIVE — the tombstone filter must be null-safe
    val root2 = java.nio.file.Files.createTempDirectory("graft_cdcboot2_").toString
    val snap = Seq((9L, Option.empty[String], "base", 5L, 0L, 0L))
      .toDF("entity_id", "op", "status", "val_cents", "ts", "event_id")
    Scd2.writeAtomic(snap, s"$root2/state")
    DimensionStream.writeFeedFile(feed, s"$root2/feed", "b0", 1700000000000L)
    val live2 = DimensionStream.cdcApplyAvailableNow(spark, s"$root2/feed",
      s"$root2/state", Seq("entity_id"), Seq("ts", "event_id"), "op",
      Seq("status", "val_cents"), queryName = "cdcboot2")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toSet
    assert(live2 === Set(1L -> ("a1", 11L), 9L -> ("base", 5L)),
      s"null-op snapshot row must survive the tombstone filter, got $live2")
  }
}
