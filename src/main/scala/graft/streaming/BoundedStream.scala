package graft.streaming

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one bounded-stream runner behind every `…AvailableNow` query:
  * it owns the file-source read, the `Trigger.AvailableNow` trigger
  * (process every available file, then stop — the batch-bounded
  * replay mode; a live deployment swaps the trigger and the sink,
  * nothing else), the sink, the drain and the state sizing. Each
  * query keeps only what is its own: the plan it streams, or the
  * step it applies per micro-batch.
  */
private[streaming] object BoundedStream {

  /** File-source stream over a parquet file, directory or glob. The
    * file source requires a directory (or glob) path, so a single
    * parquet FILE is rewritten as a `{name}` glob under its parent.
    * File streams need an explicit schema (inference would re-scan on
    * every restart); `maxFilesPerTrigger = Some(1)` makes each file
    * one micro-batch, in modification-time order.
    */
  def fileStream(spark: SparkSession, path: String, schema: StructType,
                 maxFilesPerTrigger: Option[Int]): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val streamPath =
      if (scala.util.Try(fs.getFileStatus(p).isFile).getOrElse(false))
        s"${p.getParent}/{${p.getName}}"
      else path
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(streamPath)
  }

  /** Drain `out` into the memory table `queryName` (read it back with
    * `spark.table(queryName)`) and return the finished query. A
    * stateful plan names the inputs its state partitions are sized to
    * ([[StateTuning.withStatePartitions]]); a stateless one passes
    * none and leaves the session's shuffle partitions alone.
    */
  def toMemory(out: DataFrame, outputMode: String, queryName: String,
               stateInputs: Seq[String]): StreamingQuery = {
    def run() = drain(out.writeStream.outputMode(outputMode)
      .format("memory").queryName(queryName))
    if (stateInputs.isEmpty) run()
    else StateTuning.withStatePartitions(out.sparkSession, stateInputs)(run())
  }

  /** Replay the CDC-style feed in `feedDir` through `step`, one feed
    * file per micro-batch in file order; empty batches are skipped.
    * The checkpoint lives beside the state table at
    * `$statePath.checkpoint`. Returns the state table read back.
    */
  def eachBatch(spark: SparkSession, feedDir: String, schema: StructType,
                statePath: String, queryName: String)
               (step: (DataFrame, Long) => Unit): DataFrame = {
    drain(fileStream(spark, feedDir, schema, Some(1)).writeStream
      .outputMode("update")
      .queryName(queryName)
      .option("checkpointLocation", s"$statePath.checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) step(batch, batchId)
      })
    Tables.parquet(spark, statePath)
  }

  private def drain(writer: DataStreamWriter[Row]): StreamingQuery = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }
}
