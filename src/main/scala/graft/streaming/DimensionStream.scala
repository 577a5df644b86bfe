package graft.streaming

import graft.operators.Scd2
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming SCD2 dimension maintenance — the lakehouse CDC pattern
  * (reference semantics: `scd2_delta_vendors.py`'s merge, applied
  * continuously instead of nightly): a change feed lands as files,
  * each micro-batch is MERGEd into the dimension with
  * [[graft.operators.Scd2.merge]] inside `foreachBatch`, and the
  * dimension is persisted with the atomic staging swap
  * ([[graft.operators.Scd2.writeAtomic]]) so a crash mid-batch
  * leaves either the old or the new complete state — never a torn
  * table.
  *
  * Spark-first shape: the stream side only sequences batches;
  * everything data-sized runs through the SAME batch merge plan
  * (hash short-circuit, broadcast changed-key expiry) the nightly
  * job uses, so streaming and batch cannot drift. The per-batch
  * `asOf` is taken from the feed's own `change_ts` column (1-row
  * aggregate — control-plane, not data-plane), so replaying the
  * same files always reproduces the same version timeline.
  *
  * At scale: each micro-batch shuffles only the incoming changes
  * against the current slice of the dimension (narrow projection,
  * AQE-broadcast expiry keys); the full-history table is rewritten
  * per batch — the parquet-lake equivalent of a Delta MERGE, which
  * at 100 TB dimension scale would swap `writeAtomic` for a format
  * with file-level merge. The dimension is a DIMENSION (suppliers,
  * vendors), orders of magnitude smaller than fact/corpus tables,
  * so the rewrite is bounded.
  */
object DimensionStream {

  /** Apply a change feed to an SCD2 dimension, one merge per
    * micro-batch, in file order (`maxFilesPerTrigger=1` — each feed
    * file IS a CDC batch; files carry ascending modification times).
    * Returns the final dimension state read back from `dimPath`.
    *
    * @param feedDir   directory of parquet change-batch files, each
    *                  with the dimension's business columns plus a
    *                  `change_ts` timestamp column
    * @param dimPath   dimension table path; must hold the initial
    *                  SCD2 state (see [[Scd2.initialLoad]] +
    *                  [[Scd2.writeAtomic]]) before the stream starts
    */
  def scd2MergeAvailableNow(spark: SparkSession, feedDir: String,
                            dimPath: String, conf: Scd2.Config,
                            queryName: String = "scd2_stream_merge"): DataFrame = {
    val schema = spark.read.parquet(feedDir).schema
    val feed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(feedDir)
    val q = feed.writeStream
      .outputMode("update")
      .queryName(queryName)
      .option("checkpointLocation", s"$dimPath.checkpoint")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // asOf from the batch's own data: 1-row control-plane agg.
          // The cast reads a naive (TIMESTAMP_NTZ) change_ts, what
          // pyarrow and pandas write by default, as a zoned timestamp;
          // under the UTC session it keeps the wall-clock value.
          val asOf = batch.agg(max(col("change_ts")).cast("timestamp"))
            .head.getTimestamp(0)
          val target = spark.read.parquet(dimPath)
          val merged = Scd2.merge(target, batch.drop("change_ts"), conf, asOf)
          Scd2.writeAtomic(merged, dimPath)
        }
        ()
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(dimPath)
  }

  /** Streaming materialized-view maintenance: each micro-batch's
    * algebraic aggregate state ([[graft.operators.Incremental]]'s
    * exact-decimal (sum, count) rows) merges into the persisted view
    * state — the streaming form of "never re-scan history for a new
    * arrival". The merge is batch-boundary-exact (decimal algebra),
    * so ANY micro-batch partitioning of the feed produces the same
    * view as the one-shot aggregate. Crash safety is two-layered: the
    * atomic staging swap keeps the view whole mid-write, and the
    * last-applied batchId rides the SAME swap as a sidecar file so an
    * at-least-once REPLAY of an already-merged batch (crash between
    * the state commit and the streaming checkpoint's) is detected and
    * skipped — a bare re-merge would double-count the delta.
    */
  def aggMergeAvailableNow(spark: SparkSession, feedDir: String,
                           statePath: String, keys: Seq[String],
                           valueCol: String,
                           queryName: String = "mv_stream"): DataFrame = {
    import graft.operators.Incremental
    val schema = spark.read.parquet(feedDir).schema
    val feed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(feedDir)
    val q = feed.writeStream
      .outputMode("update")
      .queryName(queryName)
      .option("checkpointLocation", s"$statePath.checkpoint")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // At-least-once replay guard: foreachBatch can re-run a batch
        // whose state merge already committed (crash after writeAtomic
        // but before the streaming checkpoint commits) — merging a
        // delta is NOT idempotent, so the last-applied batchId is
        // persisted INSIDE the state dir via writeAtomic's sidecar
        // (data + marker commit in the same rename) and replayed
        // batches with id <= lastApplied are skipped.
        val lastApplied = graft.operators.Scd2
          .readSidecar(spark, statePath, "_last_batch_id")
          .map(_.trim.toLong).getOrElse(-1L)
        if (batchId > lastApplied && !batch.isEmpty) {
          val delta = Incremental.aggState(batch, keys,
            org.apache.spark.sql.functions.col(valueCol))
          val fs = new org.apache.hadoop.fs.Path(statePath)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val merged =
            if (fs.exists(new org.apache.hadoop.fs.Path(statePath)))
              Incremental.mergeAggStates(
                spark.read.parquet(statePath), delta, keys)
            else delta
          graft.operators.Scd2.writeAtomic(merged, statePath,
            sidecar = Map("_last_batch_id" -> batchId.toString))
        }
        ()
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(statePath)
  }

  /** Streaming DISTINCT-COUNT materialized view via mergeable HLL
    * sketch state ([[graft.operators.Sketches.hllSketchState]]): each
    * micro-batch's per-group sketch unions into the persisted state —
    * O(2^lgK) bytes per group regardless of key cardinality, where
    * the exact distinct LAYER (`aggMergeAvailableNow` feeding
    * `mv_stream_dau`) grows with distinct keys. Batch-boundary
    * independence holds because HLL union is register-wise max —
    * idempotent, commutative, associative — so ANY partitioning of
    * the feed converges to the one-shot sketch. The same
    * batchId-sidecar replay guard as the exact MV applies: union IS
    * idempotent for a bit-identical replay, but the guard keeps the
    * two MV loops contract-identical (and protects a replay that
    * re-reads a REWRITTEN feed file).
    */
  def sketchMergeAvailableNow(spark: SparkSession, feedDir: String,
                              statePath: String, keys: Seq[String],
                              keyCol: String, lgK: Int = 12,
                              queryName: String = "mv_sketch"): DataFrame = {
    import graft.operators.Sketches
    val schema = spark.read.parquet(feedDir).schema
    val feed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(feedDir)
    val q = feed.writeStream
      .outputMode("update")
      .queryName(queryName)
      .option("checkpointLocation", s"$statePath.checkpoint")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val lastApplied = graft.operators.Scd2
          .readSidecar(spark, statePath, "_last_batch_id")
          .map(_.trim.toLong).getOrElse(-1L)
        if (batchId > lastApplied && !batch.isEmpty) {
          val delta = Sketches.hllSketchState(batch, keys, keyCol, lgK)
          val fs = new org.apache.hadoop.fs.Path(statePath)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val merged =
            if (fs.exists(new org.apache.hadoop.fs.Path(statePath)))
              Sketches.mergeSketchStates(
                spark.read.parquet(statePath), delta, keys)
            else delta
          graft.operators.Scd2.writeAtomic(merged, statePath,
            sidecar = Map("_last_batch_id" -> batchId.toString))
        }
        ()
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(statePath)
  }

  /** Streaming EVENT-TRANSITION-MATRIX materialized view — the
    * stateful-increment tier above the algebraic MVs: transition
    * counts are NOT a per-row aggregate (the pair (type → next_type)
    * straddles rows, and at a batch boundary it straddles BATCHES),
    * so the state carries two parts in ONE frame:
    *
    *  - `_kind = 'cnt'`: the (event_type, next_type) count matrix —
    *    sum-mergeable across batches;
    *  - `_kind = 'frontier'`: each user's LAST event (ts, event_id,
    *    type) — the cross-batch stitch. Each batch contributes its
    *    within-batch transitions (lead over (ts, event_id) per user)
    *    plus one boundary transition per user: frontier → the
    *    batch's first event.
    *
    * One frame means ONE [[Scd2.writeAtomic]] per batch: counts,
    * frontier, and the batchId replay-guard sidecar commit in the
    * same rename — a crash can never persist counts without the
    * matching frontier (two separate writes could, and the boundary
    * transitions would then double-count on restart).
    *
    * CONTRACT: feed batches must be event-time ordered per user
    * (append arrival — the streaming case). The boundary stitch only
    * fires when frontier < the batch's first event (guarded), and
    * the frontier always advances to the max (ts, event_id), so an
    * out-of-order feed degrades, never corrupts: within-batch pairs
    * stay exact; a boundary stitch made before a late batch arrived
    * pairs events that are non-adjacent in final event time (mass
    * conserved, shifted cells); a late batch's own boundary is
    * DROPPED — total pair mass = one-shot total − drops, with the
    * drop count measured exactly by StreamingSpec's shuffled-order
    * case. State size: |types|² + one row per user.
    */
  def transitionMergeAvailableNow(spark: SparkSession, feedDir: String,
                                  statePath: String,
                                  queryName: String = "mv_transitions"): DataFrame = {
    val schema = spark.read.parquet(feedDir).schema
    val feed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(feedDir)
    val q = feed.writeStream
      .outputMode("update")
      .queryName(queryName)
      .option("checkpointLocation", s"$statePath.checkpoint")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val lastApplied = Scd2.readSidecar(spark, statePath, "_last_batch_id")
          .map(_.trim.toLong).getOrElse(-1L)
        if (batchId > lastApplied && !batch.isEmpty) {
          import org.apache.spark.sql.expressions.Window
          val fs = new org.apache.hadoop.fs.Path(statePath)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val prev =
            if (fs.exists(new org.apache.hadoop.fs.Path(statePath)))
              Some(spark.read.parquet(statePath))
            else None
          val prevCnt = prev.map(_.filter(col("_kind") === "cnt")
            .select("event_type", "next_type", "n"))
          val frontier = prev.map(_.filter(col("_kind") === "frontier")
            .select(col("user_id"), col("last_ts"), col("last_eid"),
              col("last_type")))
          val ev = batch.select(col("user_id"), col("ts"),
            col("event_id"), col("event_type"))
          val w = Window.partitionBy(col("user_id"))
            .orderBy(col("ts"), col("event_id"))
          val within = ev
            .withColumn("next_type", lead(col("event_type"), 1).over(w))
            .filter(col("next_type").isNotNull)
            .groupBy(col("event_type"), col("next_type"))
            .agg(count(lit(1)).as("n"))
          val firsts = ev.withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1).drop("_rn")
          val boundary = frontier.map(f => firsts
            .join(f.hint("shuffle_hash"), Seq("user_id"))
            .filter(col("last_ts") < col("ts") ||
              (col("last_ts") === col("ts") && col("last_eid") < col("event_id")))
            .groupBy(col("last_type").as("event_type"),
              col("event_type").as("next_type"))
            .agg(count(lit(1)).as("n")))
          val deltas = boundary.map(within.unionByName(_)).getOrElse(within)
          val mergedCnt = prevCnt.map(_.unionByName(deltas)).getOrElse(deltas)
            .groupBy("event_type", "next_type").agg(sum(col("n")).as("n"))
          val lasts = ev
            .withColumn("_rn", row_number().over(
              Window.partitionBy(col("user_id"))
                .orderBy(col("ts").desc, col("event_id").desc)))
            .filter(col("_rn") === 1)
            .select(col("user_id"), col("ts").as("last_ts"),
              col("event_id").as("last_eid"), col("event_type").as("last_type"))
          val newFrontier = frontier.map(_.unionByName(lasts)).getOrElse(lasts)
            .withColumn("_rn", row_number().over(
              Window.partitionBy(col("user_id"))
                .orderBy(col("last_ts").desc, col("last_eid").desc)))
            .filter(col("_rn") === 1).drop("_rn")
          val state = mergedCnt
            .select(lit("cnt").as("_kind"), col("event_type"),
              col("next_type"), col("n"),
              lit(null).cast("bigint").as("user_id"),
              lit(null).cast("timestamp").as("last_ts"),
              lit(null).cast("bigint").as("last_eid"),
              lit(null).cast("string").as("last_type"))
            .unionByName(newFrontier.select(
              lit("frontier").as("_kind"),
              lit(null).cast("string").as("event_type"),
              lit(null).cast("string").as("next_type"),
              lit(null).cast("bigint").as("n"),
              col("user_id"), col("last_ts"), col("last_eid"),
              col("last_type")))
          Scd2.writeAtomic(state, statePath,
            sidecar = Map("_last_batch_id" -> batchId.toString))
        }
        ()
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(statePath)
  }

  /** Write one CDC feed file (single parquet file, explicit
    * modification time so the file source's modTime ordering replays
    * batches deterministically).
    */
  /** Streaming CDC APPLY — the I/U/D consumer loop
    * ([[graft.operators.Incremental.applyChanges]] run per
    * micro-batch against a persisted state table), hardened one step
    * beyond the batch form: the state carries each key's winning
    * (orderCols, op) alongside the payload, so the merge is
    * last-writer-wins BY EVENT ORDER, not by arrival order. That
    * buys two properties the stateless loop can't have:
    *
    *  - OUT-OF-ORDER SAFETY: a batch of older changes arriving after
    *    a newer one cannot regress a key — the state's stored order
    *    wins (`>` strictly, so an equal-order replay keeps state:
    *    re-applying any batch is a no-op ⇒ idempotent under
    *    at-least-once delivery with no batch-id sidecar needed).
    *  - TOMBSTONES: deletes persist as `op = D` rows instead of
    *    removing the key, so a LATE stale insert/update cannot
    *    resurrect a deleted key. The read view filters tombstones;
    *    compaction of old tombstones is the lake VACUUM's job.
    *
    * Scale shape per batch: the feed collapses map-side to
    * latest-per-key, then ONE full-outer shuffled-hash join against
    * the state and an atomic staged swap — identical cost profile to
    * the batch applyChanges, state-size-bounded, never
    * history-bounded. Returns the final LIVE rows (tombstones
    * filtered), which must equal the one-shot batch apply of the
    * whole feed regardless of batch arrival order.
    */
  def cdcApplyAvailableNow(spark: SparkSession, feedDir: String,
                           statePath: String, keys: Seq[String],
                           orderCols: Seq[String], opCol: String,
                           payloadCols: Seq[String],
                           queryName: String = "cdc_stream_apply"): DataFrame = {
    val schema = spark.read.parquet(feedDir).schema
    val stateCols0 = keys ++ (opCol +: payloadCols ++: orderCols)
    // Bootstrap: an absent state table means "no keys yet" — seed an
    // empty table with the feed's column shape so the first
    // micro-batch's full-outer join sees zero state rows instead of
    // failing on a missing path. (The alternative — requiring callers
    // to pre-seed — turns first deployment into a crash.)
    //
    // But "live is absent" is NOT proof of first deployment: a crash
    // inside Scd2.writeAtomic's rename window (between live→backup and
    // staging→live) also leaves live absent — while the streaming
    // checkpoint survives. Seeding empty there silently discards all
    // prior CDC state and the replayed batch "succeeds" against
    // nothing. So before seeding, look for deployment residue:
    //  - $statePath.backup present → that IS the pre-batch state
    //    (writeAtomic renamed live to backup and died before
    //    staging→live); restore it. The interrupted batch was never
    //    checkpoint-committed, so replay re-applies it — idempotent,
    //    because an incoming change only wins when STRICTLY newer.
    //  - .staging or .checkpoint present without live or backup →
    //    a prior deployment existed but its state is unrecoverable
    //    here; FAIL LOUDLY instead of seeding empty.
    val hfs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    if (!hfs.exists(hp(statePath))) {
      val backup = hp(s"$statePath.backup")
      val staging = hp(s"$statePath.staging")
      val checkpoint = hp(s"$statePath.checkpoint")
      if (hfs.exists(backup)) {
        if (hfs.exists(staging)) hfs.delete(staging, true)
        require(hfs.rename(backup, hp(statePath)),
          s"cdcApplyAvailableNow: failed to restore $backup -> $statePath")
        System.err.println(s"[cdc] restored state table $statePath from " +
          "backup left by an interrupted atomic swap")
      } else if (hfs.exists(staging) || hfs.exists(checkpoint)) {
        sys.error(s"cdcApplyAvailableNow: state table $statePath is absent " +
          s"but prior-deployment residue exists (" +
          Seq(staging, checkpoint).filter(hfs.exists).mkString(", ") +
          ") — refusing to seed an empty state table over lost state; " +
          "restore the table or remove the residue to re-bootstrap")
      } else {
        val empty = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(
            stateCols0.map(c => schema(c))))
        empty.write.mode("overwrite").parquet(statePath)
      }
    }
    val feed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(feedDir)
    val ordState = struct(orderCols.map(col): _*)
    val q = feed.writeStream
      .outputMode("update")
      .queryName(queryName)
      .option("checkpointLocation", s"$statePath.checkpoint")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val latest = batch.groupBy(keys.map(col): _*)
            .agg(max_by(
              struct((opCol +: payloadCols ++: orderCols).map(col): _*),
              ordState).as("_c"))
            .hint("shuffle_hash")
          val state = spark.read.parquet(statePath)
          val joined = state.join(latest, keys, "full_outer")
          // the incoming change wins only if STRICTLY newer — equal
          // order keeps state, which makes replay a no-op
          val incomingWins = col("_c").isNotNull && (col(opCol).isNull ||
            struct(orderCols.map(c => col(s"_c.$c")): _*) > ordState)
          val stateCols = (opCol +: payloadCols ++: orderCols)
          val next = joined.select(keys.map(col) ++ stateCols.map(c =>
            when(incomingWins, col(s"_c.$c")).otherwise(col(c)).as(c)): _*)
          Scd2.writeAtomic(next, statePath)
        }
        ()
      }
      .start()
    q.awaitTermination()
    // null-safe tombstone filter: a state row with a NULL op (e.g. a
    // pre-seeded snapshot that never carried CDC ops) is LIVE — the
    // non-null-safe `=!= "D"` would silently drop it
    spark.read.parquet(statePath)
      .filter(!(col(opCol) <=> "D"))
      .select((keys ++ payloadCols).map(col): _*)
  }

  /** Write an N-batch feed in ONE pass: rows carry their batch index
    * in `batchCol`; a single partitioned write (repartitioned by the
    * batch key, so each batch lands in exactly one part file) replaces
    * N full scans of the source — [[writeFeedFile]] per batch re-reads
    * and re-filters the input once per batch, which at the bench SF
    * made the feed prep cost as much as the stream it feeds. Each
    * batch file gets `modTimeBase + i·60 s` so the file source replays
    * batches in index order, exactly like N writeFeedFile calls.
    * Batch indices must be 0 until nBatches — ENFORCED after the
    * write (an out-of-range index would land in an unglobbed tmp
    * partition dir and be silently deleted with it). NOTE one
    * behavioral difference from N writeFeedFile calls: an EMPTY batch
    * writes no file here, whereas writeFeedFile emitted a zero-row
    * file that the maxFilesPerTrigger=1 source replayed as a real
    * (empty) micro-batch — callers whose per-batch logic counts
    * micro-batches must not feed empty batches through this path.
    */
  def writeFeedBatches(df: DataFrame, batchCol: String, nBatches: Int,
                       feedDir: String, modTimeBase: Long): Unit = {
    val spark = df.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(feedDir).getFileSystem(hconf)
    val tmp = new org.apache.hadoop.fs.Path(s"$feedDir/.tmp_batches")
    df.repartition(nBatches, col(batchCol))
      .write.mode("overwrite").partitionBy(batchCol).parquet(tmp.toString)
    // every partition dir must be a declared batch index (ADVICE r15:
    // rows with out-of-range indices must fail loudly, not vanish)
    val partDirs = fs.listStatus(tmp).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith(s"$batchCol="))
    val badDirs = partDirs.filterNot { d =>
      val v = d.stripPrefix(s"$batchCol=")
      v.toIntOption.exists(i => i >= 0 && i < nBatches)
    }
    require(badDirs.isEmpty,
      s"writeFeedBatches: rows landed outside [0, $nBatches): " +
        badDirs.mkString(", "))
    (0 until nBatches).foreach { i =>
      val parts = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/$batchCol=$i/part-*.parquet"))
      if (parts.nonEmpty) {
        require(parts.length == 1,
          s"writeFeedBatches: batch $i produced ${parts.length} files — " +
            "the per-batch repartition must yield one part file per batch")
        val dest = new org.apache.hadoop.fs.Path(s"$feedDir/batch_$i.parquet")
        if (fs.exists(dest)) fs.delete(dest, false)
        require(fs.rename(parts.head.getPath, dest),
          s"writeFeedBatches: rename to $dest failed")
        fs.setTimes(dest, modTimeBase + i * 60000L, -1)
      }
    }
    fs.delete(tmp, true)
  }

  def writeFeedFile(df: DataFrame, feedDir: String, name: String,
                    modTimeMs: Long): Unit = {
    val spark = df.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(feedDir).getFileSystem(hconf)
    val tmp = new org.apache.hadoop.fs.Path(s"$feedDir/.tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))
      .head.getPath
    val dest = new org.apache.hadoop.fs.Path(s"$feedDir/$name.parquet")
    if (fs.exists(dest)) fs.delete(dest, false)
    org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, dest, false, hconf)
    fs.delete(tmp, true)
    fs.setTimes(dest, modTimeMs, -1)
  }
}
