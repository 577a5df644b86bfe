package graft.streaming

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming layer over the events table.
  *
  * The reference is batch-only (SURVEY.md §2.9) — its nearest
  * streaming semantics are latest-partition incremental reads and
  * run-id idempotent batches. This module provides the true streaming
  * equivalents: watermarked tumbling-window aggregation and stateful
  * per-key processing, with the SAME column contract as the batch
  * twins in StreamingQueries so a pipeline can swap batch↔stream.
  *
  * Scale: windowed aggregation state is bounded by watermark expiry;
  * session state by timeout. Both shuffle on the grouping key only.
  */
object EventStream {

  /** File-source stream over a parquet directory. Streaming sources
    * need an explicit schema — pass one captured from a static read.
    * One file per micro-batch gives deterministic multi-batch replay
    * in tests.
    */
  def readEventStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    BoundedStream.fileStream(spark, path, schema, Some(1))

  /** Watermarked tumbling-window counts/sums per event_type — the
    * streaming twin of the `ev_window_agg` batch query.
    */
  def windowedAgg(events: DataFrame, windowDur: String = "1 hour",
                  watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Streaming → zoned-lake bridge: every micro-batch lands through
    * the SAME batch sink as the batch pipeline (partitioned parquet
    * append via foreachBatch), so streaming output obeys the lake's
    * partition-layout contract and downstream latest-partition reads
    * work unchanged.
    */
  def sinkToLake(out: DataFrame, path: String, checkpoint: String,
                 partitionCols: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery =
    out.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          Tables.writePartitioned(batch, path, partitionCols,
            mode = "append")
      }
      .start()

  /** Idempotent per-batch landing: the batch's output directory is
    * keyed by its batch id and OVERWRITTEN, so a retry after a crash
    * mid-attempt (even one that already wrote files) REPLACES the
    * partial output instead of appending a second copy. foreachBatch
    * guarantees a replayed batch carries the same id and rows, so
    * (overwrite ∘ same-id) ⇒ exactly-once in the lake — the plain
    * append of [[sinkToLake]] cannot make that promise under retry.
    * Exposed separately so failure-injection tests drive the exact
    * production write path.
    */
  def landBatchIdempotent(batch: DataFrame, batchId: Long, path: String,
                          partitionCols: Seq[String]): Unit =
    if (!batch.isEmpty) {
      val w = batch.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(s"$path/batch_id=$batchId")
    }

  /** [[sinkToLake]] with exactly-once semantics under batch retry —
    * every micro-batch lands through [[landBatchIdempotent]]. Readers
    * see `batch_id` as one more partition column of the layout.
    */
  def sinkToLakeExactlyOnce(out: DataFrame, path: String, checkpoint: String,
                            partitionCols: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery =
    out.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        landBatchIdempotent(batch, id, path, partitionCols)
      }
      .start()

  /** File-source stream over the events parquet (file or directory)
    * with the same `ts` encoding dispatch as the batch `Tables.events`
    * read (int64 nanos / timestamp_ntz / timestamp — see
    * `Tables.normalizeEventTs`).
    */
  private def readEventsFileStream(spark: SparkSession, eventsPath: String): DataFrame =
    Tables.normalizeEventTs(BoundedStream.fileStream(spark, eventsPath,
      Tables.readParquetAutoNanos(spark, eventsPath).schema, None))

  /** Run the REAL streaming engine over the events table and return
    * the final windowed aggregate: file-source readStream →
    * [[windowedAgg]]'s grouping in Complete mode → memory sink, with
    * `Trigger.AvailableNow` so the query processes every file then
    * stops (the batch-bounded replay mode — same code path a live
    * deployment runs, minus an unbounded source). Complete mode emits
    * every window in the final result, so the answer equals the batch
    * twin `ev_window_agg` bit-for-bit (the sum is an exact decimal —
    * associative, so micro-batch accumulation order can't show).
    *
    * Scale note: Complete mode holds all windows in state — right for
    * bounded replay/verification; an unbounded deployment uses
    * [[windowedAgg]]'s watermarked Append mode + [[sinkToLake]].
    */
  def windowedAggAvailableNow(spark: SparkSession, eventsPath: String,
                              windowDur: String = "1 hour",
                              queryName: String = "ev_stream_window_agg"): DataFrame = {
    val stream = readEventsFileStream(spark, eventsPath)
    val agg = stream
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))
    BoundedStream.toMemory(agg, "complete", queryName, Seq(eventsPath))
    spark.table(queryName)
  }

  /** Stream-static broadcast enrichment through the REAL streaming
    * engine: readStream(events) inner-joined to the static customer
    * dimension — broadcast, so each micro-batch probes a shared hash
    * table and the dimension never shuffles (on a cluster: shipped
    * once per executor, not per batch) — then aggregated per market
    * segment and event type in Complete mode, AvailableNow trigger,
    * memory sink. Stream-static equi-joins are stateless (no
    * watermark needed): only the aggregation holds state, bounded by
    * |segments| × |event types|.
    *
    * The exact decimal sum makes the result independent of
    * micro-batch arrival order, so the answer equals the batch join +
    * aggregate bit-for-bit and the DuckDB oracle verifies this
    * streaming code path end-to-end.
    */
  def enrichedSegmentAggAvailableNow(spark: SparkSession, sfDir: String,
                                     queryName: String = "ev_stream_enrich"): DataFrame = {
    val stream = readEventsFileStream(spark, s"$sfDir/events.parquet")
    val dim = broadcast(
      spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment")))
    val agg = stream
      .join(dim, stream("user_id") === dim("c_custkey"))
      .groupBy(col("c_mktsegment").as("mktsegment"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("total_value"))
    BoundedStream.toMemory(agg, "complete", queryName, Seq(s"$sfDir/events.parquet"))
    spark.table(queryName)
  }

  /** Watermarked STREAM-STREAM interval join through the real engine:
    * clicks ⋈ purchases from two independent streams over the same
    * events source, equi-keyed on user with the purchase constrained
    * to [click − 30 min, click]. Inner stream-stream joins emit a
    * match the moment both sides have arrived; the two watermarks plus
    * the time constraint bound the buffered state (each side evicts
    * rows the other side's watermark can no longer match), which is
    * what makes the operator runnable on an unbounded feed — state is
    * O(events per watermark window), not O(stream). Append mode,
    * AvailableNow, memory sink; the emitted match set equals the batch
    * interval join exactly (no aggregation, so arrival order can't
    * show), letting the DuckDB oracle verify the code path end-to-end.
    */
  def clickPurchaseJoinAvailableNow(spark: SparkSession, eventsPath: String,
                                    queryName: String = "ev_stream_interval_join"): DataFrame = {
    val joined = clickPurchaseJoin(readEventsFileStream(spark, eventsPath),
      readEventsFileStream(spark, eventsPath), "inner")
    BoundedStream.toMemory(joined, "append", queryName, Seq(eventsPath))
    spark.table(queryName)
  }

  /** Clicks ⋈ purchases on the same user, the purchase within
    * [click − 30 min, click], each side watermarked 2 hours behind
    * its event time.
    */
  private def clickPurchaseJoin(clickEvents: DataFrame, purchaseEvents: DataFrame,
                                joinType: String): DataFrame = {
    val clicks = clickEvents
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val purchases = purchaseEvents
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", "2 hours")
    clicks.join(purchases,
      expr("""user_id = p_user_id
             |AND p_ts >= c_ts - INTERVAL 30 MINUTES
             |AND p_ts <= c_ts""".stripMargin),
      joinType)
      .select(
        // fullOuter: unmatched purchases have a null click side
        coalesce(col("user_id"), col("p_user_id")).as("user_id"),
        col("click_id"), col("c_ts"),
        col("purchase_id"), col("p_ts"), col("p_value"))
  }

  /** Stream-stream LEFT OUTER interval join — the outer twin of
    * [[clickPurchaseJoinAvailableNow]]: every click emits, matched
    * rows carry the purchase columns, unmatched clicks emit nulls.
    *
    * The semantic trap outer joins add: an unmatched row may only
    * emit once the WATERMARK has passed its join window (before that,
    * a matching purchase could still arrive), and on a bounded replay
    * the stream ends before the watermark passes the tail — so every
    * unmatched click would sit in state forever and the outer rows
    * would silently never appear. The operational fix is the
    * WATERMARK HEARTBEAT: one synthetic far-future event per side
    * (impossible user id) advances the final watermark past every
    * real row, flushing all outer state. The sentinels never reach
    * the output — the heartbeat click stays ahead of the watermark
    * it creates, and a lone purchase never emits in a left join —
    * so the result equals the batch LEFT JOIN exactly and the DuckDB
    * oracle gates this code path end-to-end.
    */
  def clickPurchaseLeftJoinAvailableNow(spark: SparkSession, eventsPath: String,
                                        queryName: String = "ev_stream_outer_join"): DataFrame =
    clickPurchaseOuterJoinRun(spark, eventsPath, "leftOuter", queryName).result

  /** Stream-stream FULL OUTER interval join — [[clickPurchaseLeftJoinAvailableNow]]
    * extended to both sides: unmatched purchases emit too (with null
    * click columns), `user_id` coalesced across sides. The heartbeat
    * flush argument is symmetric — the final watermark passes every
    * real row on BOTH sides, so both sides' outer state flushes; the
    * two heartbeats themselves sit beyond the watermark they create
    * and never emit. Result equals the batch FULL JOIN exactly.
    */
  def clickPurchaseFullJoinAvailableNow(spark: SparkSession, eventsPath: String,
                                        queryName: String = "ev_stream_full_outer"): DataFrame =
    clickPurchaseOuterJoinRun(spark, eventsPath, "fullOuter", queryName).result

  /** One outer-join replay's result plus the final state-store row
    * count — the spec's evidence that watermarks actually EVICT
    * buffered rows (bounded state is the whole point of the
    * watermarked join; without eviction the count would be the full
    * event set).
    */
  final case class OuterJoinRun(result: DataFrame, stateRowsTotal: Long)

  def clickPurchaseOuterJoinRun(spark: SparkSession, eventsPath: String,
                                joinType: String,
                                queryName: String): OuterJoinRun = {
    require(joinType == "leftOuter" || joinType == "fullOuter",
      s"joinType must be leftOuter|fullOuter, got $joinType")
    withHeartbeat(spark, eventsPath, Seq("click", "purchase")) { (stream, _) =>
      val q = BoundedStream.toMemory(clickPurchaseJoin(stream, stream, joinType),
        "append", queryName, Seq(eventsPath))
      // final state-store size: last progress entry that carries state
      // operator metrics (the terminal no-data batch may not)
      OuterJoinRun(spark.table(queryName), q.recentProgress.reverseIterator
        .find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum)
        .getOrElse(0L))
    }.getOrElse(OuterJoinRun(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType.fromDDL("user_id BIGINT, click_id BIGINT, c_ts TIMESTAMP, " +
        "purchase_id BIGINT, p_ts TIMESTAMP, p_value DOUBLE")), 0L))
  }

  /** The watermark heartbeat of a bounded replay whose output waits
    * on the watermark (outer stream joins, event-time session close):
    * the stream ends before its watermark passes the tail, so state
    * for the last rows would never flush. One far-future event per
    * entry of `eventTypes`, 10 h past the newest event, pushes the
    * final watermark past every real row. Each beat has its own user
    * id BELOW the real id range: a hardcoded sentinel could collide
    * with a real user and join real rows, and with a shared id (and
    * equal timestamps) two beats would match EACH OTHER and emit — an
    * inner match doesn't wait for any watermark.
    *
    * `body` gets the events stream with the beats appended, and the
    * beats' user ids in `eventTypes` order. Empty input returns None:
    * no rows, nothing to flush. The beats land in a temp dir that is
    * removed when `body` returns (bench runs this repeatedly).
    */
  private def withHeartbeat[T](spark: SparkSession, eventsPath: String,
                               eventTypes: Seq[String])
                              (body: (DataFrame, Seq[Long]) => T): Option[T] = {
    val raw = Tables.normalizeEventTs(Tables.readParquetAutoNanos(spark, eventsPath))
    val bounds = raw.agg(max(col("ts")), min(col("user_id"))).head
    if (bounds.isNullAt(0)) return None
    // getTime's ms truncation loses <1s of the slack, irrelevant for a
    // flush-everything heartbeat
    val beat = lit(new java.sql.Timestamp(
      bounds.getTimestamp(0).getTime + 10L * 3600 * 1000))
    // min(user_id) can be null with non-empty events (all ids null —
    // such rows join nothing but still need flushing); 0 is then below
    // every real id
    val base = if (bounds.isNullAt(1)) 0L else math.min(bounds.getLong(1), 0L)
    val ids = eventTypes.indices.map(i => base - 1L - i)
    val beats = eventTypes.zip(ids).map { case (tpe, uid) =>
      raw.limit(1).select(
        lit(-1L).as("event_id"), beat.as("ts"), lit(uid).as("user_id"),
        lit(tpe).as("event_type"), lit(0.0).as("value"), lit("{}").as("props"))
    }.reduce(_ unionByName _)
    val beatDir = java.nio.file.Files.createTempDirectory("wm_heartbeat").toString
    try {
      beats.write.mode("overwrite").parquet(beatDir)
      Some(body(readEventsFileStream(spark, eventsPath)
        .unionByName(readEventsFileStream(spark, beatDir)), ids))
    } finally Tables.deletePath(spark, beatDir)
  }

  /** Streaming exact deduplication for ingest pipelines: drop events
    * whose dedup key was already seen, with state bounded by the
    * event-time watermark (`dropDuplicatesWithinWatermark` — a late
    * duplicate arriving inside the delay is still caught; state for
    * keys older than the watermark is evicted, so state size is
    * O(keys per watermark window), not O(stream)). The streaming twin
    * of `TextDedup.dedupExact` for a document/event feed.
    */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
                     watermarkDelay: String = "2 hours",
                     tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** [[streamingDedup]] through the real engine, bounded: first-seen
    * keys stream out in Append mode under AvailableNow. Projecting
    * ONLY the key columns makes the emitted rows a deterministic SET
    * (which physical row of a key survives depends on arrival order;
    * its key does not), so the DuckDB `SELECT DISTINCT` oracle
    * verifies the streaming dedup code path end-to-end.
    */
  def dedupKeysAvailableNow(spark: SparkSession, eventsPath: String,
                            keyCols: Seq[String],
                            queryName: String = "ev_stream_dedup"): DataFrame = {
    val deduped = streamingDedup(readEventsFileStream(spark, eventsPath), keyCols)
      .select(keyCols.map(col): _*)
    BoundedStream.toMemory(deduped, "append", queryName, Seq(eventsPath))
    spark.table(queryName)
  }

  final case class UserCount(user_id: Long, n_events: Long, last_ts: java.sql.Timestamp)

  /** Stateful running per-user event counts (mapGroupsWithState,
    * Update mode) — the `KeyValueGroupedDataset` custom-state surface.
    */
  def runningUserCounts(events: DataFrame): Dataset[UserCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserCount, UserCount](GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[UserCount]) =>
          val batch = rows.toSeq
          val prev = state.getOption.getOrElse(UserCount(userId, 0L, batch.head._2))
          // max at FULL timestamp precision (getTime alone truncates to
          // ms and breaks µs ties arbitrarily), folded over the prior
          // state too — a later batch may carry only earlier events
          val tsMax = (prev.last_ts +: batch.map(_._2))
            .max(Ordering.by((t: java.sql.Timestamp) => (t.getTime, t.getNanos)))
          val next = UserCount(userId, prev.n_events + batch.size, tsMax)
          state.update(next)
          next
      }
  }

  /** [[runningUserCounts]] through the real engine, bounded: Update
    * mode → memory sink → AvailableNow. The memory sink appends each
    * micro-batch's updated rows, so the FINAL value per key is
    * recovered by max — n_events is a running count (monotone) and
    * last_ts a running max, so the reduction is exact regardless of
    * how the replay splits into batches. Verifies the
    * mapGroupsWithState surface end-to-end against the plain batch
    * aggregate oracle.
    */
  def userCountsAvailableNow(spark: SparkSession, eventsPath: String,
                             queryName: String = "ev_stream_user_counts"): DataFrame = {
    BoundedStream.toMemory(runningUserCounts(readEventsFileStream(spark, eventsPath)).toDF(),
      "update", queryName, Seq(eventsPath))
    spark.table(queryName)
      .groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"), max(col("last_ts")).as("last_ts"))
  }

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  /** start/end in epoch MICROS — java.sql.Timestamp.getTime is
    * millisecond-truncating and would corrupt µs event times. */
  final case class SessionState(start: Long, end: Long, n: Long)
  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Long)

  private def toMicros(t: java.sql.Timestamp): Long =
    (t.getTime - t.getNanos / 1000000) * 1000L + t.getNanos / 1000
  private def fromMicros(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(us / 1000)
    ts.setNanos((us % 1000000).toInt * 1000)
    ts
  }

  /** Event-time sessionization (flatMapGroupsWithState, Append):
    * sessions close after `gapMinutes` of per-user inactivity, emitted
    * once the event-time watermark passes the gap. Batch twin:
    * `ev_sessions` (gaps-and-islands via lag + running sum).
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30,
                 watermarkDelay: String = "2 hours"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L
    events
      .select(col("user_id").cast("long").as("user_id"), col("ts"))
      .withWatermark("ts", watermarkDelay)
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, fromMicros(s.start), fromMicros(s.end), s.n))
          } else {
            val ts = rows.map(e => toMicros(e.ts)).toSeq.sorted
            var closed = List.empty[Session]
            var cur = state.getOption
            ts.foreach { t =>
              cur match {
                case Some(s) if t - s.end <= gapUs =>
                  cur = Some(SessionState(s.start, math.max(s.end, t), s.n + 1))
                case Some(s) =>
                  closed ::= Session(userId, fromMicros(s.start), fromMicros(s.end), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.end + gapUs) / 1000) // timeout API is ms
            }
            closed.reverseIterator
          }
      }
  }

  /** [[sessionize]] through the real engine, bounded and COMPLETE:
    * one far-future heartbeat event (sentinel user id below the real
    * id range) pushes the global event-time watermark past every real
    * session's end + gap, so EventTimeTimeout fires for ALL of them
    * on the terminal no-data batch and the emitted set equals the
    * batch gaps-and-islands result (`ev_sessions`) exactly. The
    * heartbeat's own session times out only past the beat, so it
    * never emits — the output filter is belt-and-braces. Same
    * watermark-heartbeat pattern as the outer stream joins.
    */
  def sessionsAvailableNow(spark: SparkSession, eventsPath: String,
                           queryName: String = "ev_stream_sessions"): DataFrame = {
    withHeartbeat(spark, eventsPath, Seq("heartbeat")) { (stream, ids) =>
      val sess = sessionize(stream, gapMinutes = 30, watermarkDelay = "2 hours")
        .filter(col("user_id") =!= ids.head)
        .select("user_id", "session_start", "session_end", "n_events")
      BoundedStream.toMemory(sess, "append", queryName, Seq(eventsPath))
      spark.table(queryName)
    }.getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType.fromDDL("user_id BIGINT, session_start TIMESTAMP, " +
        "session_end TIMESTAMP, n_events BIGINT")))
  }
}
