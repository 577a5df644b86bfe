package graft.streaming

import graft.operators.TextAnalysis
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming corpus curation: the document-side twin of
  * [[EventStream]] — training corpora arrive as files (crawl dumps,
  * ingest batches), and the first curation pass should run AS the
  * data lands instead of waiting for a nightly batch. Stateless
  * gates (rule filters, scoring projections) are the streaming
  * sweet spot: no watermark, no state store, each micro-batch is an
  * independent scan-side filter — the same plan the batch twin runs,
  * executed incrementally.
  */
object CorpusStream {

  /** Gopher quality gate through the REAL streaming engine:
    * readStream(documents) → [[TextAnalysis.gopherRules]] →
    * `gopher_pass` filter → Append mode → memory sink, with
    * `Trigger.AvailableNow` (process every available file, then stop
    * — the batch-bounded replay mode; a live deployment swaps the
    * trigger and sink, nothing else). The gate is STATELESS — a pure
    * per-row projection + filter — so Append mode needs no watermark,
    * holds zero state rows, and the emitted set equals the batch twin
    * `ta_gopher_rules`-filtered set exactly regardless of micro-batch
    * boundaries; the DuckDB oracle verifies this streaming code path
    * end-to-end.
    *
    * At 100 TB-scale ingest this is the shape that matters: each
    * arriving file is gated once, immediately, with per-file
    * parallelism — no global re-scan, no state growth, and the
    * downstream (dedup, mixing) reads an already-filtered stream.
    */
  def gopherGateAvailableNow(spark: SparkSession, docsPath: String,
                             minWords: Int = 30,
                             queryName: String = "corpus_stream_gate"): DataFrame = {
    // file streams need an explicit schema: take it from a batch peek
    val stream = BoundedStream.fileStream(spark, docsPath,
        Tables.parquet(spark, docsPath).schema, None)
      .select(col("doc_id"), col("lang"), col("text"))
    val gated = TextAnalysis.gopherRules(stream, "text", minWords = minWords)
      .filter(col("gopher_pass"))
      .select("doc_id", "lang", "word_count", "mean_word_len",
        "symbol_ratio", "alpha_word_ratio", "stopword_hits")
    // stateless: no state partitions to size
    BoundedStream.toMemory(gated, "append", queryName, stateInputs = Nil)
    spark.table(queryName)
  }
}
