package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding trainer + encoder — the real
  * tokenizer-construction pass a pretraining pipeline runs over its
  * corpus (the reference has no tokenizer stage; this extends the
  * text-analysis family the same way the dedup/ANN operators do).
  *
  * Algorithm (Sennrich et al. 2016, "Neural Machine Translation of
  * Rare Words with Subword Units"): start from characters, repeatedly
  * merge the most frequent adjacent symbol pair. The distributed
  * formulation keeps the CORPUS out of the loop entirely:
  *
  *  - One pass builds the word-frequency table (vocabulary-bounded —
  *    ~1M rows at any corpus size; the classic map-side-combined
  *    count).
  *  - The merge loop runs over that table only: each iteration is one
  *    adjacent-pair aggregation (shuffle bounded by the distinct-pair
  *    count) + a 1-row argmax collect + a map-only merge application.
  *    At 100 TB the loop costs the same as at 100 GB, because the
  *    working set is the vocabulary, not the corpus.
  *  - The merge loop runs on the [[Iterate]] runner: each
  *    iteration's table is eagerly local-checkpointed (serialized) so
  *    plan depth stays flat across hundreds of merges, and the
  *    iteration it replaces is released; on a real cluster prefer
  *    reliable `checkpoint()`.
  *
  * Determinism: the argmax tiebreak is (count desc, pair asc) — a
  * total order — so retrainings on the same corpus produce the same
  * merge table regardless of partitioning.
  */
object Bpe {

  final case class Merge(a: String, b: String, rank: Int)

  /** End-of-word marker (its own symbol, as in the reference BPE):
    * lets merges distinguish word-final from word-internal contexts.
    */
  val EndOfWord = "</w>"

  /** Word-frequency working set: whitespace tokens of the case-folded
    * corpus, counted. The ONLY corpus-sized pass in training.
    */
  def wordFreq(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextAnalysis.wordTokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Character-level initial segmentation + the end-of-word marker. */
  private def initialSyms(word: Column): Column =
    concat(
      transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1))),
      array(lit(EndOfWord)))

  /** Adjacent symbol pairs of each row's `syms`, weighted by `freq`:
    * one row per position, then a map-side-combined count keyed on the
    * pair — the iteration's only shuffle, bounded by distinct pairs.
    */
  def pairCounts(words: DataFrame): DataFrame =
    words.select(col("freq"),
      explode(
        zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).cast("long").as("n"))

  /** Greedy left-to-right application of one merge to a symbol array —
    * a fold: append each symbol unless the accumulator ends with `a`
    * and the symbol is `b`, in which case replace the tail with the
    * merged symbol. `get()` (0-based, null-safe) keeps the
    * empty-accumulator probe legal under ANSI mode.
    */
  def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(get(acc, size(acc) - 1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  /** Checkpoint storage for the merge loop: serialized blocks, the
    * level components chose after deserialized round blocks squeezed
    * the execution pool at 30× (TextDedup's CkptLevel).
    */
  private val CkptLevel =
    org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  /** Train `numMerges` merges. Each iteration: pair aggregation →
    * 1-row deterministic argmax (collected — control plane) → map-only
    * merge application → eager checkpoint. Stops early when the best
    * pair's count falls below `minCount` (nothing left worth merging).
    * The merge table lives on the driver, so the last iteration's
    * table is released too: a call leaves no blocks behind.
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
            minCount: Long = 2L): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val start = Iterate.checkpoint(wordFreq(df, textCol)
      .select(initialSyms(col("word")).as("syms"), col("freq")), CkptLevel)
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    val (last, _) = Iterate.fixpoint("bpe", start, CkptLevel, numMerges) { words =>
      val top = pairCounts(words)
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty || top.head.getLong(2) < minCount) None
      else {
        val (a, b) = (top.head.getString(0), top.head.getString(1))
        merges += Merge(a, b, rank)
        rank += 1
        Some(words.select(applyMerge(col("syms"), a, b).as("syms"), col("freq")))
      }
    }()
    Iterate.release(last)
    merges.result()
  }

  /** Encode documents with a learned merge table: per word, character
    * segmentation folded through every merge in rank order. Adds
    * `bpe_tokens` (the subword array) and `n_bpe_tokens`.
    *
    * The merge table compiles into the expression tree (k nested
    * folds), which is the right shape for the tens-of-merges fixtures
    * here; a production encoder with a 30k-merge table would compile
    * the table into a trie and encode per-partition
    * (`mapPartitions`) — same contract, different engine-side
    * implementation.
    */
  def encode(df: DataFrame, textCol: String, merges: Seq[Merge]): DataFrame = {
    // fold the merge table into one word→syms function
    def wordSyms(w: Column): Column =
      merges.sortBy(_.rank).foldLeft(initialSyms(w))(
        (acc, m) => applyMerge(acc, m.a, m.b))
    df.withColumn("bpe_tokens",
      flatten(transform(
        filter(TextAnalysis.wordTokens(col(textCol)), w => w =!= ""),
        w => wordSyms(w))))
      .withColumn("n_bpe_tokens", size(col("bpe_tokens")))
  }
}
