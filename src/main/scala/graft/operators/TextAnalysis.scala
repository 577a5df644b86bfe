package graft.operators

import graft.functions.Functions.normalizeText
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines: language
  * ID, quality scoring, token counting, document fingerprinting.
  * All composed built-ins (regexp_count / split / md5) — codegen'd,
  * shuffle-free per-row projections that scale linearly with corpus
  * size.
  */
object TextAnalysis {

  /** n-gram-heuristic language ID: CJK character density first, then
    * argmax of per-language stopword hit counts with a deterministic
    * tie-break order (en > es > de > fr).
    */
  val StopwordPatterns: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|in|is|for)\\b",
    "es" -> "\\b(el|la|de|que|los|las|un|una)\\b",
    "de" -> "\\b(der|die|das|und|ist|ein|zu)\\b",
    "fr" -> "\\b(le|la|les|des|est|un|une|et)\\b")

  val CjkPattern = "[\\x{4e00}-\\x{9fff}]"

  def languageId(text: Column): Column = {
    val lower_ = lower(text)
    val counts = StopwordPatterns.map { case (lang, pat) =>
      lang -> regexp_count(lower_, lit(pat))
    }.toMap
    val cjkRatio = regexp_count(text, lit(CjkPattern)).cast("double") /
      greatest(length(text), lit(1)).cast("double")
    when(cjkRatio > 0.3, "zh")
      .when(counts("en") >= greatest(counts("es"), counts("de"), counts("fr")), "en")
      .when(counts("es") >= greatest(counts("de"), counts("fr")), "es")
      .when(counts("de") >= counts("fr"), "de")
      .otherwise("fr")
  }

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish token count: letter runs, digit runs, and isolated
    * symbols each count as one token (a cheap, deterministic stand-in
    * for a real tokenizer's piece count). Runs as the codegen'd
    * [[graft.plans.RegexTokenCount]] linear scan — count-identical to
    * `regexp_count(text, "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")`
    * (CharCountsSpec pins the equivalence) without the regex engine;
    * the alternation measured 5.1 s/pass on the 100× corpus scan.
    */
  def regexTokenCount(text: Column): Column =
    call_function("regex_token_count", text)

  /** Quality features + composite score: rewards reasonable length,
    * penalizes punctuation density (ref-style ratio scoring, cf. the
    * scorecard ratios glue_mdm.py:63-65).
    */
  def withQualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_chars_m", length(t))
      .withColumn("word_count", wsTokenCount(t))
      // punct_count == regexp_count(t, "[^A-Za-z0-9\s\x{4e00}-\x{9fff}]")
      // (CharCountsSpec); the regex form measured 20.6 s/pass at 100× —
      // the single most expensive expression in this stage
      .withColumn("punct_ratio",
        call_function("punct_count", t).cast("double") /
          greatest(length(t), lit(1)).cast("double"))
      // stopword density: natural prose sits ~0.2-0.5; keyword-stuffed
      // or gibberish text sits near 0 (stopword list = languageId's en set)
      .withColumn("stopword_ratio",
        round(regexp_count(lower(t), lit(StopwordPatterns.toMap.apply("en"))).cast("double") /
          greatest(wsTokenCount(t), lit(1)).cast("double"), 4))
      .withColumn("quality_score",
        round(
          least(col("word_count").cast("double") / 50.0, lit(1.0)) * 0.5 +
            (lit(1.0) - least(col("punct_ratio") * 5.0, lit(1.0))) * 0.5, 4))
  }

  /** Document fingerprint: md5 of the normalized text — the exact-dup
    * key. (Near-dup fingerprints live in TextDedup: minhash/simhash.)
    */
  def fingerprint(text: Column): Column = md5(normalizeText(text))

  // ───────────────────────── PII scrubbing ─────────────────────────

  /** Engine-portable PII patterns (RE2-safe: no backrefs/lookaround,
    * so the DuckDB oracle runs the identical regex). Deliberately
    * C4-style coarse — a production pipeline layers locale-specific
    * patterns on the same plumbing.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"

  /** C4-style PII scrub: count then redact emails and phone numbers
    * (emails first — a phone pattern can never span a redacted email
    * but not vice versa). Pure per-row projection: shuffle-free,
    * codegen'd, linear in corpus size.
    */
  def scrubPii(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails", regexp_count(t, lit(EmailPattern)))
      .withColumn("n_phones", regexp_count(t, lit(PhonePattern)))
      .withColumn("clean_text",
        regexp_replace(regexp_replace(t, EmailPattern, "[EMAIL]"),
          PhonePattern, "[PHONE]"))
  }

  /** Luhn-validated payment-card detection + scrub (the
    * checksum-gated PII class [[scrubPii]]'s regexes can't express —
    * a 16-digit run is only a card number if ISO/IEC 7812's Luhn mod
    * 10 holds, and compliance scrubbing wants BOTH counts: candidates
    * for audit, validated hits for the actual exposure number).
    * Candidates are MAXIMAL digit runs of 13–19 digits (extract `\d+`
    * then length-filter — equivalent to anchoring with
    * `(?<!\d)\d{13,19}(?!\d)` but expressible in RE2 for the oracle):
    * a 26-digit run is NOT a card candidate, and a greedy
    * `\d{13,19}` would both count it and leave a <13-digit raw tail
    * after scrubbing. The checksum is the standard right-to-left
    * double-every-second fold. `clean_text` scrubs EVERY run of ≥13
    * digits completely (conservative PCI posture — a mistyped or
    * over-long card is still not trainable text); `n_cc_valid` counts
    * checksum hits among the candidates.
    *
    * Shape: pure scan-side projection, zero exchanges. The Luhn fold
    * is a higher-order `aggregate` per candidate — CodegenFallback,
    * but O(19 digits) per candidate on a stream that is empty for
    * almost every row; the regex prefilter is the hot path and that
    * is codegen'd.
    */
  def luhnCcDetect(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    // X89 hazard class: `size(cands)` and `size(filter(cands, …))` as
    // sibling projection columns would plant two COPIES of the
    // candidate-filter HOF tree, whose lambdas can share
    // NamedLambdaVariable state and silently disagree within one row
    // (the measured mmrRerank failure mode). Materialize the
    // candidate array EXACTLY ONCE into its own fenced column; both
    // siblings then read the attribute, not copies of the tree.
    val prepped = df.select(
      col(idCol), col(textCol),
      graft.plans.NoInline(spark, filter(
        regexp_extract_all(col(textCol), lit("\\d+"), lit(0)),
        c => length(c) >= 13 && length(c) <= 19)).as("_cands"))
    val cands = col("_cands")
    val luhnOk = (c: Column) =>
      aggregate(
        sequence(lit(1), length(c)),
        lit(0),
        (acc, i) => {
          val d = c.substr(length(c) - i + 1, lit(1)).cast("int")
          val dd = when(i % 2 === 0,
            when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
          acc + dd
        }) % 10 === 0
    prepped.select(
      col(idCol),
      size(cands).as("n_cc_candidates"),
      size(filter(cands, luhnOk)).as("n_cc_valid"),
      regexp_replace(col(textCol), "\\d{13,}", "[CC]").as("clean_text"))
  }

  /** Per-document word-unigram entropy (the `rps_doc_unigram_entropy`
    * quality signal of RedPajama-Data-v2, TogetherAI 2023 — low
    * entropy means a repetitive/templated page, the scalar cousin of
    * [[repetitionRatio]]'s n-gram signal): H = −Σ p_w ln p_w over the
    * document's own word distribution, plus the token counts the
    * ratio needs. Engine-exact by construction: the fold runs over
    * the SORTED distinct-token array (fixed order, so IEEE double
    * accumulation is identical in any engine re-deriving it) and the
    * result is 6 dp-rounded.
    *
    * Shape: pure scan-side array algebra, zero exchanges. Counts come
    * from ONE run-length fold over the sorted token array (equal-run
    * end indices → count = gap between ends), O(len) per row — the
    * naive per-distinct-token `filter` is O(distinct × len) and
    * measured 7× slower at sf0.1 with the same bit-exact result
    * (terms and their order are identical, only the counting walk
    * changes).
    */
  def unigramEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    graft.plans.GraftExtensions.register(spark)
    // the sorted array MUST materialize once per row: without the
    // no_inline fence, project-collapse substitutes array_sort into
    // every element_at inside the lambdas below — O(n² log n) per row
    // (measured 29.8s vs 0.8s at sf0.1 for the same output)
    val prepped = df.select(col(idCol),
      graft.plans.NoInline(spark,
        array_sort(wordTokens(col(textCol)))).as("_sorted"))
    val sorted = col("_sorted")
    val n = size(sorted)
    // X89 hazard class: the equal-run-ends filter tree was referenced
    // by BOTH the entropy fold and `size(ends)` as sibling projection
    // columns — copies of one HOF tree whose lambdas can share
    // NamedLambdaVariable state and disagree within one row (the
    // measured mmrRerank failure mode). Materialize the ends array
    // EXACTLY ONCE into its own fenced column; the fold and the size
    // then read the attribute, not tree copies.
    val staged = prepped.select(col(idCol), sorted,
      graft.plans.NoInline(spark,
        filter(sequence(lit(1), n), i =>
          (i === n) || (element_at(sorted, i) =!= element_at(sorted, i + 1))))
        .as("_ends"))
    val ends = col("_ends")
    val h = aggregate(
      ends,
      struct(lit(0).as("prev"), lit(0.0).as("acc")),
      (st, e) => {
        val p = (e - st.getField("prev")).cast("double") / n.cast("double")
        struct(e.as("prev"), (st.getField("acc") + p * log(p)).as("acc"))
      }).getField("acc")
    staged.select(
      col(idCol),
      n.as("n_tokens"),
      size(ends).as("n_distinct_tokens"),
      when(n === 0, 0.0).otherwise(round(-h, 6)).as("unigram_entropy"))
  }

  /** Hashed-n-gram linear text classifier — the model-inference-at-
    * scale shape of the fastText quality gates behind DCLM (Li et al.
    * 2024, arXiv:2406.11794 §3.4, OH-2.5+ELI5 classifier) and
    * FineWeb-Edu (Penedo et al. 2024, arXiv:2406.17557): a document's
    * score is the sum of learned weights over its bag of word
    * uni+bigrams, each feature hashed into a fixed bucket space
    * (fastText's hashing trick — no vocabulary file ships with the
    * model, just a weight vector indexed by hash).
    *
    * `weights` is the trained model as DATA — one row per bucket,
    * integer basis-point weights (`bucket`, `w_bp`) — so inference is
    * pure relational algebra: explode grams (linear scan-side work),
    * hash to buckets map-side (engine-portable md5-prefix mod B),
    * broadcast the B-bounded weight table, ONE map-combined key
    * shuffle for the per-doc sum. Integer bp weights keep the logit
    * EXACT cross-engine (no float summation order anywhere); the gate
    * is `logit_bp > 0`. Docs with zero features survive with the bias
    * alone (left join back to the doc spine).
    *
    * Scale shape: identical to [[bigramLogProb]]'s — the corpus is
    * never shuffled except for the per-doc sum; the model (however
    * many buckets) broadcasts. At 100 TB the classifier gate runs in
    * the same pass budget as any quality projection.
    */
  def hashedNgramScore(df: DataFrame, idCol: String, textCol: String,
                       weights: DataFrame, buckets: Int,
                       biasBp: Long): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val spark = df.sparkSession
    graft.plans.GraftExtensions.register(spark)
    // X89 pattern: the token-filter HOF materializes once; the gram
    // builder below references the attribute
    val toked = df.select(col(idCol),
      graft.plans.NoInline(spark,
        filter(wordTokens(col(textCol)), t => t =!= "")).as("_toks"))
    val n = size(col("_toks"))
    val grams = concat(
      col("_toks"),
      when(n >= 2, zip_with(
        slice(col("_toks"), lit(1), n - 1),
        slice(col("_toks"), lit(2), n - 1),
        (a, b) => concat_ws("_", a, b)))
        .otherwise(array().cast("array<string>")))
    val feats = toked.select(col(idCol), explode(grams).as("_g"))
      .select(col(idCol),
        (conv(substring(md5(col("_g")), 1, 6), 16, 10).cast("long")
          % buckets).as("bucket"))
    val sums = feats.join(broadcast(weights), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("_nf"), sum(col("w_bp")).as("_s"))
    df.select(col(idCol))
      .join(sums, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_nf"), lit(0L)).as("n_features"),
        (coalesce(col("_s"), lit(0L)) + lit(biasBp)).as("logit_bp"))
      .withColumn("keep", col("logit_bp") > 0)
  }

  /** Deterministic pseudo-trained weight table for
    * [[hashedNgramScore]] demos/tests: `w_bp(bucket) =
    * md5int("w:" + bucket) mod 1001 − 500` — any engine re-derives
    * it exactly. A real deployment reads the trained vector from a
    * table instead; the inference plan is identical.
    */
  def syntheticWeights(spark: org.apache.spark.sql.SparkSession,
                       buckets: Int): DataFrame =
    spark.range(buckets).select(col("id").as("bucket"),
      (conv(substring(md5(concat(lit("w:"), col("id").cast("string"))),
        1, 6), 16, 10).cast("long") % 1001 - 500).as("w_bp"))

  // ─────────────────────── repetition scoring ───────────────────────

  // ─────────────────── corpus-level statistics ───────────────────

  /** Whitespace word tokens of the lowercased trimmed text — the
    * shared tokenizer for corpus statistics (case-folded so "The" and
    * "the" count together).
    */
  def wordTokens(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  /** Exact corpus top-k heavy hitters: explode tokens → count →
    * top-k with a deterministic (count desc, token asc) order. The
    * count combines map-side, so the shuffle carries one row per
    * distinct token per task — bounded by vocabulary size, not corpus
    * size — and the top-k runs as TakeOrderedAndProject (per-partition
    * heap + driver merge of k rows, never a global sort). For
    * sketch-budget variants, `count_min_sketch` runs over the same
    * exploded frame.
    */
  def topTerms(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(wordTokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /** CCNet-style unigram log-prob quality signal: build the corpus
    * unigram LM (token → ln(tf/total)) and score each document by the
    * mean log-probability of its tokens. Rare-token/gibberish
    * documents score far below natural prose; the signal feeds the
    * same gate as [[withQualityFeatures]].
    *
    * Scale shape: the LM is one vocabulary-bounded aggregation
    * (~100k rows regardless of corpus size) broadcast back to the
    * exploded token stream — the corpus itself is never shuffled for
    * the join, and the per-doc mean is one key shuffle. Per-token
    * log-probs are rounded then decimal-summed so the parallel mean
    * is bit-deterministic.
    */
  def withUnigramLogProb(df: DataFrame, textCol: String,
                         idCol: String): DataFrame = {
    // NOT scan-spread (unlike bigramLogProb's three tokenizing
    // subtrees): one light tokenize pass — the spread exchange
    // measured +0.35 s at sf0.1 against nothing
    val toks = df
      .select(col(idCol), explode(wordTokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("tf"))
    // total token count enters the plan as a broadcast 1-row frame —
    // no driver-side collect, the LM build stays fully lazy
    val total = vocab.agg(sum(col("tf")).as("total_tf"))
    val lm = vocab.crossJoin(broadcast(total))
      .select(col("token"),
        round(log(col("tf").cast("double") / col("total_tf").cast("double")), 9)
          .as("logp"))
    toks.join(broadcast(lm), Seq("token"))
      .groupBy(col(idCol))
      .agg(
        round(
          (sum(col("logp").cast("decimal(30,9)")).cast("double") /
            count(lit(1)).cast("double")), 6).as("mean_logp"),
        count(lit(1)).as("n_tokens"))
  }

  /** Sparse keyword retrieval: per-document TF-IDF score for a fixed
    * query-term set, top-k. Inverted-index shape: the exploded token
    * stream FILTERS to the query terms immediately (the "posting
    * lists" — the corpus is never shuffled at full width), per-
    * (doc, term) TF is one bounded shuffle, the |terms|-row IDF table
    * broadcasts back, and per-doc scores are one more bounded
    * shuffle. No all-pairs anywhere: at 100 TB every intermediate is
    * O(docs containing a query term), not O(corpus).
    *
    * Determinism discipline: idf = ln(N/df) rounded to 9 dp (Spark
    * `log` and DuckDB `ln` agree bit-for-bit on these inputs — NOTES
    * round-5 fact 18), per-term tf·idf rounded to 9 dp, decimal-
    * summed per doc, final score rounded to 6 dp, doc-id tiebreak —
    * so the top-k cut is engine-exact.
    */
  /** Interpolated bigram language-model scoring — the in-engine
    * stand-in for CCNet's KenLM perplexity filter (Wenzek et al.
    * 2019, arXiv:1911.00359 §4.3 trains a 5-gram KenLM; the engine's
    * corpus-trained bigram LM captures the same "does this read like
    * the corpus" signal with exactly reproducible arithmetic):
    * `p(w₂|w₁) = λ·c₂(w₁w₂)/c₁(w₁) + (1−λ)·(c₁(w₂)+1)/(N+V)` —
    * Jelinek-Mercer interpolation against a Laplace unigram floor —
    * and the doc score is the mean log over the FULL CHAIN
    * `p(w₁)·Π p(wᵢ|wᵢ₋₁)` (first token scored by the Laplace
    * unigram). The chain matters: mean CONDITIONAL logp alone rewards
    * gibberish — a singleton word's only observed transition has
    * conditional probability ≈ 1, so rare-word soup outscores normal
    * prose; the unigram start term carries the rarity penalty
    * perplexity filters rely on (measured: "zyx qwv jkl" beats "the
    * cat sat" −0.10 vs −0.36 conditional-only, loses −2.6 vs −0.5 on
    * the chain). Engine-exact: logs rounded 9 dp, decimal sums, final
    * mean 6 dp; λ enters the arithmetic as fixed literals so both
    * engines evaluate the same double expression tree.
    *
    * Scale shape: bigrams are built IN-ROW (no positional self-join);
    * both LM tables are vocabulary-bounded aggregates; the corpus
    * bigram stream joins the bigram-LM table shuffled-hash BY
    * CONTRACT (a web-scale bigram dictionary does not broadcast); the
    * total/vocab scalars ride a broadcast 1-row frame — no driver
    * collect, the LM build stays fully lazy. Empty docs have no
    * chain terms and drop out; a single-token doc scores just its
    * unigram term.
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
                    lambda: Double = 0.9): DataFrame = {
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1), got $lambda")
    val t = wordTokens(col(textCol))
    // one scan-spread feeds all three tokenizing subtrees (vocab,
    // bigrams, first-term): the round-robin exchange is planned once
    // (ReuseExchange) and the O(tokens) projections above it run at
    // session parallelism instead of single-file scan parallelism
    val dfS = graft.sources.Tables.spreadScan(df)
    val toks = dfS.select(col(idCol), explode(t).as("w"))
      .filter(col("w") =!= "")
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("c1"))
    val scalars = vocab.agg(
      sum(col("c1")).as("n_total"), count(lit(1)).as("v_size"))
    val laplace = (c: Column) => (c + 1).cast("double") /
      (col("n_total") + col("v_size")).cast("double")
    val bigramsInRow = when(size(t) >= 2,
      transform(sequence(lit(1), size(t) - 1), i =>
        struct(element_at(t, i).as("w1"), element_at(t, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val docBigrams = dfS
      .select(col(idCol), explode(bigramsInRow).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bigramCounts = docBigrams.groupBy("w1", "w2")
      .agg(count(lit(1)).as("c2"))
    // vocabulary-bounded LM tables: logp per OBSERVED bigram + the
    // Laplace unigram for the chain's start term
    val lm2 = bigramCounts
      .join(vocab.select(col("w").as("w1"), col("c1").as("c1w1")).hint("shuffle_hash"), Seq("w1"))
      .join(vocab.select(col("w").as("w2"), col("c1").as("c1w2")).hint("shuffle_hash"), Seq("w2"))
      .crossJoin(broadcast(scalars))
      .select(col("w1"), col("w2"),
        round(log(
          lit(lambda) * (col("c2").cast("double") / col("c1w1").cast("double")) +
            lit(1.0 - lambda) * laplace(col("c1w2"))), 9).as("logp"))
    val lmU = vocab.crossJoin(broadcast(scalars))
      .select(col("w"), round(log(laplace(col("c1"))), 9).as("logp"))
    val firstTerm = dfS
      .select(col(idCol), element_at(t, 1).as("w"))
      .filter(col("w").isNotNull && col("w") =!= "")
      .join(lmU.hint("shuffle_hash"), Seq("w"))
      .select(col(idCol), col("logp"))
    val bigramTerms = docBigrams
      .join(lm2.hint("shuffle_hash"), Seq("w1", "w2"))
      .select(col(idCol), col("logp"))
    firstTerm.unionByName(bigramTerms)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_terms"),
        round(sum(col("logp").cast("decimal(30,9)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_chain_logp"))
  }

  /** BM25 retrieval (Robertson & Zaragoza 2009, "The Probabilistic
    * Relevance Framework: BM25 and Beyond" — the production lexical
    * ranker [[tfidfRetrieve]] approximates): per query term,
    * `idf · tf·(k1+1) / (tf + k1·(1−b+b·len/avglen))` with the
    * Robertson-Sparck-Jones idf `ln((N−df+0.5)/(df+0.5)+1)`.
    * Engine-exact: idf and per-term scores rounded 9 dp, decimal
    * per-doc sum rounded 6; k1/b enter as fixed literals so both
    * engines evaluate the identical double tree.
    *
    * Scale shape: identical to TF-IDF's — the only additions are the
    * per-doc length (a scan-side count) and the 1-row (N, avg-len)
    * frame broadcast into the scoring join; the corpus still shuffles
    * once, on the per-doc score key.
    */
  def bm25Retrieve(df: DataFrame, idCol: String, textCol: String,
                   queryTerms: Seq[String], k: Int,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = queryTerms.map(_.toLowerCase)
    val docLen = df.select(col(idCol),
      wsTokenCount(lower(col(textCol))).cast("double").as("_len"))
    val toks = df
      .select(col(idCol), explode(wordTokens(col(textCol))).as("token"))
      .filter(col("token").isin(terms: _*))
    val tf = toks.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val corpus = docLen.agg(
      count(lit(1)).as("n_docs"),
      // exact decimal mean length so avglen is partitioning-invariant
      (sum(col("_len").cast("decimal(30,2)")).cast("double") /
        count(lit(1)).cast("double")).as("avg_len"))
    val idf = tf.groupBy("token").agg(countDistinct(col(idCol)).as("df"))
      .crossJoin(broadcast(corpus))
      .select(col("token"), col("avg_len"),
        round(log((col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
          (col("df").cast("double") + 0.5) + 1.0), 9).as("idf"))
    tf.join(broadcast(idf), Seq("token"))
      .join(docLen.hint("shuffle_hash"), Seq(idCol))
      .withColumn("w", round(
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("_len") / col("avg_len"))),
        9))
      .groupBy(col(idCol))
      .agg(round(sum(col("w").cast("decimal(30,9)")).cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Inverted-index materialization — the posting-list build behind
    * [[tfidfRetrieve]]/[[bm25Retrieve]], surfaced as a table: one row
    * per term with its document frequency, total occurrences, and the
    * top-`maxPostings` postings ("docId:tf", tf-descending, docId
    * tiebreak) serialized to a string (the driver compare can't
    * schema-match LIST columns). This is how a lexical search index
    * ships at 100 TB: the index is ITSELF a table build, not a
    * service call.
    *
    * Scale shape: explode → one (term, doc) shuffle for tf, then
    * everything rides the term partitioning — the per-term window and
    * BOTH aggregates reuse the same exchange. The posting list is
    * capped BEFORE collect_list (row_number ≤ maxPostings), so no
    * task ever materializes an unbounded list — a stopword's million
    * postings never leave the heap-safe window stream; only its
    * (df, total) scalars and k survivors do.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    maxPostings: Int = 5, minDf: Long = 2): DataFrame = {
    require(maxPostings >= 1, s"maxPostings must be >= 1, got $maxPostings")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol), explode(wordTokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col("term"), col(idCol)).agg(count(lit(1)).as("tf"))
    val stats = tf.groupBy(col("term")).agg(
      count(lit(1)).as("df"),
      sum(col("tf")).as("n_occurrences"))
    val w = Window.partitionBy(col("term"))
      .orderBy(col("tf").desc, col(idCol).asc)
    // rank is the sort key for the serialized list: collect_list order
    // is partition-arrival nondeterministic, array_sort on the (rn, _)
    // struct restores the windowed order deterministically
    val postings = tf.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxPostings)
      .groupBy(col("term"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("_rn"),
            concat(col(idCol).cast("string"), lit(":"),
              col("tf").cast("string")).as("_p")))),
          x => x.getField("_p")), ",").as("postings"))
    stats.filter(col("df") >= minDf)
      .join(postings.hint("shuffle_hash"), Seq("term"))
      .select(col("term"), col("df"), col("n_occurrences"), col("postings"))
  }

  def tfidfRetrieve(df: DataFrame, idCol: String, textCol: String,
                    queryTerms: Seq[String], k: Int): DataFrame = {
    val terms = queryTerms.map(_.toLowerCase)
    val toks = df
      .select(col(idCol), explode(wordTokens(col(textCol))).as("token"))
      .filter(col("token").isin(terms: _*))
    val tf = toks.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    // corpus size enters as a broadcast 1-row frame — no driver collect
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val idf = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("token"),
        round(log(col("n_docs").cast("double") / col("df").cast("double")), 9)
          .as("idf"))
    tf.join(broadcast(idf), Seq("token"))
      .withColumn("w", round(col("tf").cast("double") * col("idf"), 9))
      .groupBy(col(idCol))
      .agg(round(sum(col("w").cast("decimal(30,9)")).cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Corpus vocabulary statistics in one pass: total token instances,
    * exact distinct tokens, and docs covered. Exact distinct is the
    * verification form (one extra shuffle); at 100 TB swap
    * `approx_count_distinct` into the same agg for a single-pass
    * sketch answer — spec'd to stay within its 5% default error
    * (LlmOpsSpec).
    */
  def vocabStats(df: DataFrame, textCol: String, idCol: String,
                 approx: Boolean = false): DataFrame = {
    val toks = df
      .select(col(idCol), explode(wordTokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    val distinctAgg =
      if (approx) approx_count_distinct(col("token")).as("distinct_tokens")
      else countDistinct(col("token")).as("distinct_tokens")
    toks.agg(
      count(lit(1)).as("total_tokens"),
      distinctAgg,
      countDistinct(col(idCol)).as("n_docs"))
  }

  /** Token-window document chunking with overlap — training-example
    * prep (context-window packing). Tokens are windowed `chunkSize`
    * at a time advancing by `chunkSize - overlap`; the final chunks
    * may be shorter. Pure per-row array work (sequence → posexplode →
    * slice): shuffle-free, codegen'd, linear in corpus size, and
    * chunk ordinals are deterministic — no window function, no
    * driver-side loop.
    */
  def chunkDocuments(df: DataFrame, textCol: String, idCol: String,
                     chunkSize: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize,
      s"overlap must be in [0, chunkSize); got overlap=$overlap chunkSize=$chunkSize")
    val stride = chunkSize - overlap
    df.withColumn("_toks", split(trim(col(textCol)), "\\s+"))
      .select(col(idCol), col("_toks"),
        posexplode(
          sequence(lit(0), greatest(size(col("_toks")) - 1, lit(0)), lit(stride)))
          .as(Seq("chunk_id", "_start")))
      .select(col(idCol), col("chunk_id"),
        concat_ws(" ", slice(col("_toks"), col("_start") + 1, lit(chunkSize)))
          .as("chunk_text"),
        size(slice(col("_toks"), col("_start") + 1, lit(chunkSize)))
          .as("n_chunk_tokens"))
  }

  /** Greedy sequential sequence packing: assign documents to packs of
    * ~`targetTokens` by walking each stratum in deterministic id
    * order and cutting a new pack when the running token total
    * crosses a multiple of the target — constant-length training
    * batches without a bin-packing solver, reproducible across runs
    * and engines (it's just a window cumsum).
    *
    * Scale shape: packing runs INSIDE each stratum (language, shard,
    * source), so the window never needs a global order — one shuffle
    * on the stratum key, parallel across strata. For a single global
    * stream, range-shard first (`Tables.writeSharded`) and pack per
    * shard.
    */
  def packSequences(df: DataFrame, idCol: String, tokenCountCol: String,
                    strataCol: String, targetTokens: Int): DataFrame = {
    require(targetTokens > 0, s"targetTokens must be positive, got $targetTokens")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("_cum", sum(col(tokenCountCol)).over(w))
      // the pack a doc lands in is decided by the tokens BEFORE it:
      // a doc starting inside pack k belongs to pack k even if it
      // overflows the boundary (packs can exceed target by < 1 doc)
      .withColumn("pack_id",
        floor((col("_cum") - col(tokenCountCol)) / targetTokens).cast("long"))
      .drop("_cum")
  }

  /** Gopher-style within-document repetition: 1 − distinct/total
    * character n-grams of the normalized text (0 = all unique, → 1 as
    * the doc degenerates into repeated boilerplate). Shuffle-free
    * projection; the shingle arrays never leave the row.
    */
  def repetitionRatio(df: DataFrame, textCol: String, n: Int = 5): DataFrame =
    df.withColumn("_norm", normalizeText(col(textCol)))
      .withColumn("_total", greatest(length(col("_norm")) - (n - 1), lit(1)))
      .withColumn("repetition_ratio",
        round(lit(1.0) -
          size(TextDedup.shingleExpr("_norm", n)).cast("double") /
            col("_total").cast("double"), 4))
      .drop("_norm", "_total")

  /** (id, `_segs`): each doc's normalized text cut into
    * position-aligned non-overlapping `segTokens`-token segments —
    * the segmentation [[boilerplateScrub]] and
    * [[TextDedup.substringScrub]] share. Staged once PRE-explode: both
    * scrubs' consumers re-derive from the segment arrays — uncached,
    * the 3-regex normalization and segmentation would run twice over
    * the corpus. Caching before the explode keeps the cached footprint
    * at one array row per doc (the exploded stream is ~segTokens×
    * larger); the explode itself is cheap. Serialized storage for
    * truthful size stats (see the X19 broadcast-trap post-mortem).
    * Self-releasing: the scrubs return LAZY frames, so they can't
    * try/finally around the caller's action — the cache goes as soon
    * as the first query that consumed it completes, and a long-lived
    * session never accumulates cached corpora across calls
    * (kmeansCentroids/pqCodebooks collect eagerly and release in
    * `finally`; this is the lazy-path twin).
    */
  private[operators] def cachedSegments(df: DataFrame, idCol: String,
                                        textCol: String, segTokens: Int): DataFrame = {
    require(segTokens >= 1, s"segTokens must be >= 1, got $segTokens")
    val nseg = ceil(size(col("_toks")).cast("double") / segTokens).cast("int")
    val segged = df
      .select(col(idCol), col(textCol))
      .withColumn("_toks", split(normalizeText(col(textCol)), " "))
      .withColumn("_segs",
        transform(sequence(lit(0), greatest(nseg - 1, lit(0))),
          i => array_join(slice(col("_toks"), i * segTokens + 1, lit(segTokens)), " ")))
      .select(col(idCol), col("_segs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    Iterate.releaseAfterFirstRead(segged)
    segged
  }

  /** Corpus-frequency boilerplate scrub (the ACROSS-document sibling
    * of [[repetitionRatio]]'s within-document signal — C4, Raffel et
    * al. 2020, arXiv:1910.10683 §2.2 dedups three-sentence spans
    * across the corpus; RefinedWeb, Penedo et al. 2023,
    * arXiv:2306.01116 scrubs recurring lines): a segment of
    * normalized text that recurs in ≥ `minDocs` DISTINCT documents is
    * boilerplate (headers, navigation, license blurbs) and is removed
    * IN PLACE; the rest of each document is reassembled in order.
    * With no natural line breaks in the corpus, a "segment" is a
    * non-overlapping `segTokens`-token window (position-aligned, so a
    * shared prefix segments identically in every doc).
    *
    * Scale shape: segmentation is a scan-side array projection; the
    * boilerplate dictionary is one (segment-key) distinct-doc count;
    * the scrub is a shuffled-hash SEMI-join of the exploded segment
    * stream against the dictionary (NOT broadcast — a template-heavy
    * crawl can have a huge dictionary). Both dictionary exchanges
    * move xxhash64 LONG keys on compact (id, pos, hash) rows — the
    * segment STRINGS never shuffle (r12 confirmed the string-keyed
    * anti-join + full-stream `collect_list(struct(pos, seg))`
    * reassembly as a 5.4× 10× cliff: every exchange carried 8-token
    * text twice). The semi-join yields only the REMOVED (id, pos)
    * hits — boilerplate-sized, not corpus-sized — which aggregate to
    * a per-doc drop-position list; reassembly is then an in-row
    * array filter over the cached segment arrays, joined doc-sized.
    * A 64-bit hash collision could scrub an innocent segment; at the
    * birthday bound that needs ~2³² distinct segments per corpus to
    * reach even ~50% for ONE collision — the exact-path contract at
    * any practical SF, and the oracle pins it at the bench SFs.
    * Documents that are PURE boilerplate drop out of the result
    * entirely.
    */
  def boilerplateScrub(df: DataFrame, idCol: String, textCol: String,
                       segTokens: Int = 8, minDocs: Int = 10): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val segged = cachedSegments(df, idCol, textCol, segTokens)
    // compact exploded stream: the segment string is hashed AT the
    // explode and never travels — exchanges carry (id, pos, long).
    // Empty segments (split of empty text) are excluded here outright:
    // they are never dictionary candidates, so they need no probe.
    val ex = segged
      .select(col(idCol), posexplode(col("_segs")).as(Seq("_pos", "_seg")))
      .filter(col("_seg") =!= "")
      .select(col(idCol), col("_pos"), xxhash64(col("_seg")).as("_h"))
    val dict = ex
      .groupBy("_h").agg(countDistinct(col(idCol)).as("_docs"))
      .filter(col("_docs") >= minDocs)
      .select("_h")
    val removed = ex.join(dict.hint("shuffle_hash"), Seq("_h"), "left_semi")
      .groupBy(col(idCol))
      .agg(collect_list(col("_pos")).as("_drop"))
    segged.join(removed.hint("shuffle_hash"), Seq(idCol), "left")
      .withColumn("_dropArr",
        coalesce(col("_drop"), array().cast("array<int>")))
      // a doc whose every segment was removed has no clean text left —
      // it drops from the result entirely (null _segs from null text
      // makes the predicate null ⇒ also dropped, matching the explode
      // path, which emitted no rows for such docs)
      .filter(size(col("_segs")) > size(col("_dropArr")))
      .select(col(idCol),
        array_join(
          filter(col("_segs"),
            (s, i) => !array_contains(col("_dropArr"), i)),
          " ").as("clean_text"),
        size(col("_dropArr")).cast("long").as("n_removed"))
  }

  /** CCNet perplexity buckets (Wenzek et al. 2019, arXiv:1911.00359
    * §4.3): per-language head/middle/tail terciles by language-model
    * score — CCNet keeps "head" (lowest-perplexity) slices per
    * language rather than one global cut, because a global cut would
    * drain low-resource languages. LM here is the per-language
    * unigram model (the engine's deterministic stand-in for CCNet's
    * Wikipedia KenLM); higher mean log-prob = lower perplexity =
    * head. Terciles are rank-exact, not quantile-interpolated:
    * rn·3 ≤ n → head, rn·3 ≤ 2n → middle, else tail, with the
    * (score desc, id) tiebreak — engine-exact by construction.
    *
    * Scale shape: one (lang, token) vocab aggregate, per-lang totals
    * joined back vocab-side, the vocab-bounded LM broadcast onto the
    * token stream, one per-doc aggregate, one per-lang window.
    */
  def ccnetBuckets(df: DataFrame, idCol: String, textCol: String,
                   langCol: String): DataFrame = {
    val toks = df
      .select(col(idCol), col(langCol),
        explode(wordTokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    val vocab = toks.groupBy(col(langCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val totals = vocab.groupBy(col(langCol)).agg(sum(col("tf")).as("total_tf"))
    val lm = vocab.join(broadcast(totals), Seq(langCol))
      .select(col(langCol), col("token"),
        round(log(col("tf").cast("double") / col("total_tf").cast("double")), 9)
          .as("logp"))
    val scored = toks.join(broadcast(lm), Seq(langCol, "token"))
      .groupBy(col(idCol), col(langCol))
      .agg(round(sum(col("logp").cast("decimal(30,9)")).cast("double") /
        count(lit(1)).cast("double"), 6).as("mean_logp"))
    val w = Window.partitionBy(col(langCol))
      .orderBy(col("mean_logp").desc, col(idCol).asc)
    val cw = Window.partitionBy(col(langCol))
    scored
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(cw))
      .withColumn("ppl_bucket",
        when(col("_rn") * 3 <= col("_n"), "head")
          .when(col("_rn") * 3 <= col("_n") * 2, "middle")
          .otherwise("tail"))
      .select(col(idCol), col(langCol), col("mean_logp"), col("ppl_bucket"))
  }

  /** DSIR-style importance scoring (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling",
    * arXiv:2302.03169): score every document by the log-likelihood
    * ratio of a TARGET unigram LM over the RAW-corpus unigram LM —
    * positive means "more target-like than the average raw document".
    * Deterministic engine variant: Laplace-smoothed LMs over the
    * shared raw vocabulary (V = |raw vocab| in both denominators, so
    * target-absent tokens get a finite penalty), per-token 9 dp-
    * rounded logs, per-doc decimal-summed mean rounded to 6 dp, and
    * `keep = score ≥ threshold` — the deterministic top-of-
    * distribution cut standing in for the paper's Gumbel resampling
    * (RNG-dependent by design, so not engine-reproducible).
    *
    * Scale shape mirrors [[withUnigramLogProb]]: one vocab-bounded
    * aggregate builds BOTH LMs in one pass (the target counts are a
    * conditional sum, not a second scan), totals enter as a broadcast
    * 1-row frame, the vocab-bounded log-ratio table broadcasts back
    * onto the token stream, one per-doc aggregate. The corpus is
    * never shuffled at full text width.
    */
  def dsirScores(df: DataFrame, idCol: String, textCol: String,
                 isTarget: Column, threshold: Double): DataFrame = {
    val toks = df
      .select(col(idCol), isTarget.as("_is_target"),
        explode(wordTokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    val vocab = toks.groupBy("token").agg(
      count(lit(1)).as("tf_raw"),
      sum(when(col("_is_target"), 1L).otherwise(0L)).as("tf_target"))
    val totals = vocab.agg(
      sum(col("tf_raw")).as("total_raw"),
      sum(col("tf_target")).as("total_target"),
      count(lit(1)).as("v"))
    val lm = vocab.crossJoin(broadcast(totals))
      .select(col("token"),
        (round(log((col("tf_target") + 1).cast("double") /
          (col("total_target") + col("v")).cast("double")), 9) -
          round(log((col("tf_raw") + 1).cast("double") /
            (col("total_raw") + col("v")).cast("double")), 9)).as("logratio"))
    toks.join(broadcast(lm), Seq("token"))
      .groupBy(col(idCol))
      .agg(
        round(sum(col("logratio").cast("decimal(30,9)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("dsir_score"),
        count(lit(1)).as("n_tokens"))
      .withColumn("keep", col("dsir_score") >= threshold)
  }

  /** Gopher document-quality rules (Rae et al. 2021, arXiv:2112.11446,
    * Appendix A1.1) — the published hand-tuned filter set, each rule
    * its own boolean column plus the conjunction, so downstream gates
    * can route on individual failures:
    *  - word count in [minWords, maxWords]            (50..100k)
    *  - mean word length in [3, 10] characters
    *  - symbol-to-word ratio ≤ 0.1 ('#' or '...')
    *  - ≥ 80% of words contain an alphabetic character
    *  - ≥ 2 hits of the English stop set (the paper's
    *    "contains 2 of 8 required words" proxy)
    * Pure scan-side projection — regexp counts and one array filter
    * per row, shuffle-free at any corpus size; ratios are rounded to
    * 4 dp BEFORE comparison so rule outcomes are engine-exact.
    */
  def gopherRules(df: DataFrame, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val words = split(trim(t), "\\s+")
    val wc = wsTokenCount(t)
    val meanWordLen = round(
      length(regexp_replace(trim(t), "\\s+", "")).cast("double") /
        greatest(wc, lit(1)).cast("double"), 4)
    val symbolRatio = round(
      (regexp_count(t, lit("#")) + regexp_count(t, lit("\\.\\.\\."))).cast("double") /
        greatest(wc, lit(1)).cast("double"), 4)
    val alphaRatio = round(
      size(filter(words, w => regexp_count(w, lit("[A-Za-z]")) > 0)).cast("double") /
        greatest(wc, lit(1)).cast("double"), 4)
    val stopHits = regexp_count(lower(t), lit(StopwordPatterns.toMap.apply("en")))
    df.withColumn("word_count", wc)
      .withColumn("mean_word_len", meanWordLen)
      .withColumn("symbol_ratio", symbolRatio)
      .withColumn("alpha_word_ratio", alphaRatio)
      .withColumn("stopword_hits", stopHits)
      .withColumn("rule_word_count",
        wc.between(minWords, maxWords))
      .withColumn("rule_mean_word_len",
        meanWordLen.between(3.0, 10.0))
      .withColumn("rule_symbol_ratio", symbolRatio <= 0.1)
      .withColumn("rule_alpha_words", alphaRatio >= 0.8)
      .withColumn("rule_stopwords", stopHits >= 2)
      .withColumn("gopher_pass",
        col("rule_word_count") && col("rule_mean_word_len") &&
          col("rule_symbol_ratio") && col("rule_alpha_words") &&
          col("rule_stopwords"))
  }

  /** C4 line-level cleaning (Raffel et al. 2020, arXiv:1910.10683
    * §2.2) — the published web-page scrub applied line-by-line, then
    * page-by-page:
    *  - keep only lines ending in a terminal punctuation mark
    *    (`.`, `!`, `?`, `"`)
    *  - keep only lines with ≥ `minLineWords` words (paper: 5)
    *  - drop any line containing the word "javascript"
    *  - drop the whole page if it contains a curly brace, the phrase
    *    "lorem ipsum", or fewer than `minLines` retained lines
    *    (the paper's 3-sentence floor)
    * The line scrub is pure array algebra over `split(text, '\n')` —
    * filter + reassemble inside the row, no explode, ZERO exchanges
    * at any corpus size (the whole operator is a scan-side
    * projection + filter; compare [[boilerplateScrub]], whose
    * cross-document dictionary genuinely needs a shuffle — C4's line
    * rules are deliberately local so the first web-scale pass is
    * embarrassingly parallel).
    *
    * Emits surviving pages as (idCol, clean_text, n_lines,
    * n_lines_kept); dropped pages vanish from the result.
    */
  def c4Clean(df: DataFrame, idCol: String, textCol: String,
              minLineWords: Int = 5, minLines: Int = 3): DataFrame = {
    require(minLineWords >= 1, s"minLineWords must be >= 1, got $minLineWords")
    require(minLines >= 1, s"minLines must be >= 1, got $minLines")
    val lines = split(col(textCol), "\n")
    val lineOk = (l: Column) =>
      regexp_count(trim(l), lit("[.!?\"]$")) > 0 &&
        size(split(trim(l), "\\s+")) >= minLineWords &&
        regexp_count(lower(l), lit("\\bjavascript\\b")) === 0
    df.withColumn("_lines", lines)
      .withColumn("_kept", filter(lines, lineOk))
      .filter(
        !col(textCol).contains("{") &&
          !lower(col(textCol)).contains("lorem ipsum") &&
          size(col("_kept")) >= minLines)
      .select(
        col(idCol),
        array_join(col("_kept"), "\n").as("clean_text"),
        size(col("_lines")).as("n_lines"),
        size(col("_kept")).as("n_lines_kept"))
  }

  /** RedPajama-Data-v2 doc-level fraction signals (Together 2023,
    * arXiv:2411.12372 appendix; the quality-signal battery CCNet/
    * Gopher-style pipelines cut on) not already covered by
    * [[gopherRules]]/[[withQualityFeatures]]:
    *
    *  - `frac_all_caps_words` — words that are entirely A–Z
    *    (rps_doc_frac_all_caps_words; shouting/headline text)
    *  - `frac_no_alph_words` — words with no alphabetic character
    *    (rps_doc_frac_no_alph_words; tables, code dumps)
    *  - `frac_unique_words` — distinct(case-folded words)/words
    *    (rps_doc_frac_unique_words; low ⇒ template/spam)
    *  - `mean_word_length` (rps_doc_mean_word_length)
    *  - `lorem_ipsum_count` — occurrences of "lorem ipsum"
    *    (rps_doc_lorem_ipsum)
    *  - `frac_curly_bracket` — `{`/`}` chars over all chars
    *    (rps_doc_curly_bracket; leaked markup/code)
    *
    * All ratios rounded 4 dp so downstream threshold comparisons are
    * engine-exact. Shape: pure scan-side projection — zero exchanges,
    * codegen'd regex counting, linear in corpus bytes; the signal
    * battery a 100 TB curation pass computes in the same scan that
    * already tokenizes.
    */
  def rpv2Signals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    // raw-case whitespace tokens (all-caps detection needs case);
    // frac_unique_words case-folds per the RPv2 definition
    val words = split(trim(t), "\\s+")
    val nWords = greatest(size(words), lit(1)).cast("double")
    val nChars = greatest(length(t), lit(1)).cast("double")
    df.select(
      col(idCol),
      size(words).as("n_words"),
      round(size(filter(words, w => w.rlike("^[A-Z]+$"))).cast("double")
        / nWords, 4).as("frac_all_caps_words"),
      round(size(filter(words, w => !w.rlike("[A-Za-z]"))).cast("double")
        / nWords, 4).as("frac_no_alph_words"),
      round(size(array_distinct(transform(words, w => lower(w)))).cast("double")
        / nWords, 4).as("frac_unique_words"),
      // mean over words of char length (separator chars excluded)
      round(aggregate(words, lit(0L), (acc, w) => acc + length(w))
        .cast("double") / nWords, 4).as("mean_word_length"),
      regexp_count(lower(t), lit("lorem ipsum")).as("lorem_ipsum_count"),
      round(regexp_count(t, lit("[{}]")).cast("double") / nChars, 4)
        .as("frac_curly_bracket"))
  }

  /** Gopher repetition signals (Rae et al. 2021, arXiv:2112.11446
    * A1.1; RedPajama-v2 `rps_doc_frac_chars_top_{2,3,4}gram`): the
    * fraction of characters accounted for by the single most frequent
    * word n-gram, for n = 2, 3, 4. High values mark template/spam
    * pages a plain unique-word ratio misses (the repeated unit is a
    * PHRASE, not a word).
    *
    * Definition (engine-exact): tokens = case-folded whitespace
    * words; n-grams joined by single spaces; the top gram is the
    * max-count one with ties broken lexicographically-smallest;
    * `frac_top_ngram = count·len(gram) / len(join(tokens,' '))`,
    * rounded 4 dp; docs with fewer than n tokens score 0.
    *
    * Shape: per-row array algebra in TWO fenced projections. Stage 1
    * tokenizes ONCE per row behind a [[graft.plans.NoInline]] fence:
    * the gram builders below reference the token array inside
    * interpreted higher-order lambdas (CodegenFallback — no
    * subexpression elimination), so an unfenced `wordTokens` is
    * re-evaluated on EVERY lambda element — the whole battery then
    * pays O(tokens²) regex splits per row (measured 9.4s → 2.2s at
    * sf0.1 from this fence alone). Stage 2 builds all gram widths
    * from that one materialized array, each sorted ONCE behind its
    * own fence (same project-collapse trap [[unigramEntropy]]
    * documents), and a linear run-length fold extracts the
    * (count, gram) maximum. Zero exchanges; the whole battery is one
    * scan.
    */
  def topNgramFracs(df: DataFrame, idCol: String, textCol: String,
                    ns: Seq[Int] = Seq(2, 3, 4)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 2), s"ns must all be >= 2, got $ns")
    val spark = df.sparkSession
    graft.plans.GraftExtensions.register(spark)
    val tokd = df.select(col(idCol),
      graft.plans.NoInline(spark, wordTokens(col(textCol))).as("_toks"))
    val toks = col("_toks")
    val sortedGrams = ns.map { n =>
      // sequence(1, stop) DESCENDS when stop < 1 — docs shorter than
      // n tokens must short-circuit to an empty gram array
      val cnt = size(toks) - (n - 1)
      val grams = when(cnt >= 1,
        transform(sequence(lit(1), cnt),
          i => array_join(slice(toks, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
      s"_g$n" -> graft.plans.NoInline(spark, array_sort(grams))
    }
    val prepped = tokd.select(
      col(idCol) +: length(array_join(toks, " ")).as("_total") +:
        sortedGrams.map { case (nm, c) => c.as(nm) }: _*)
    val fracCols = ns.map { n =>
      val sorted = col(s"_g$n")
      val sz = size(sorted)
      // 1-based indices where a sorted equal-run ends
      val ends = filter(sequence(lit(1), sz), i =>
        (i === sz) || (element_at(sorted, i) =!= element_at(sorted, i + 1)))
      // fold: longest run wins; sorted ascending ⇒ first max is the
      // lexicographically smallest gram among ties
      val best = aggregate(
        ends,
        struct(lit(0).as("prev"), lit(0).as("cnt"), lit("").as("gram")),
        (st, e) => {
          val run = e - st.getField("prev")
          struct(
            e.as("prev"),
            when(run > st.getField("cnt"), run)
              .otherwise(st.getField("cnt")).as("cnt"),
            when(run > st.getField("cnt"), element_at(sorted, e))
              .otherwise(st.getField("gram")).as("gram"))
        })
      when(sz === 0, 0.0).otherwise(
        round(best.getField("cnt").cast("double") *
          length(best.getField("gram")).cast("double") /
          greatest(col("_total"), lit(1)).cast("double"), 4))
        .as(s"frac_top_${n}gram")
    }
    prepped.select(col(idCol) +: fracCols: _*)
  }

  /** C4-style blocklist ("bad words") gate (arXiv:1910.10683 §2.2
    * drops any page containing a word from a public blocklist).
    * Per document: token count, blocklisted-token occurrences,
    * distinct blocklisted terms present, occurrence fraction, and the
    * C4 keep decision (`n_block_hits == 0` — ANY hit drops the page).
    *
    * Scale shape: the blocklist rides as a LITERAL array in the
    * projection (real blocklists are a few thousand terms — KBs of
    * task binary, not a join side), so the whole gate is scan-side
    * array algebra with ZERO exchanges at any corpus size. Matching
    * is exact-token against normalized text — no substring scan, so
    * "scrap" never trips a blocklisted "crap" (the documented C4
    * false-positive family this choice avoids). Tokenization is
    * fenced through [[graft.plans.NoInline]]: the occurrence filter
    * is an interpreted higher-order lambda and would otherwise
    * re-split the text once per token ([[topNgramFracs]]'s measured
    * O(tokens²) trap). Counts are exact integers; `block_frac` is one
    * correctly-rounded IEEE division — engine-invariant.
    */
  def blocklistGate(df: DataFrame, idCol: String, textCol: String,
                    blocklist: Seq[String]): DataFrame = {
    require(blocklist.nonEmpty, "blocklist must be non-empty")
    val spark = df.sparkSession
    graft.plans.GraftExtensions.register(spark)
    val bl = typedLit(blocklist.distinct.sorted)
    val toks = col("_toks")
    df.select(col(idCol),
        graft.plans.NoInline(spark,
          split(graft.functions.Functions.normalizeText(col(textCol)), " "))
          .as("_toks"))
      .select(col(idCol),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => array_contains(bl, t))).cast("long")
          .as("n_block_hits"),
        size(array_intersect(toks, bl)).cast("long").as("n_block_terms"))
      .select(col(idCol), col("n_tokens"), col("n_block_hits"),
        col("n_block_terms"),
        when(col("n_tokens") === 0, lit(0.0)).otherwise(
          col("n_block_hits").cast("double") / col("n_tokens").cast("double"))
          .as("block_frac"),
        (col("n_block_hits") === 0).as("keep"))
  }

  /** Document-level token co-occurrence association (PMI family)
    * over the top-`topVocab` vocabulary: for every vocabulary pair
    * (t1 < t2), the number of documents containing both, each term's
    * document frequency, and the association LIFT
    * `⌊10^6 · N · n_ab / (n_a · n_b)⌋` in parts-per-million — the
    * exact-integer monotone transform of PMI (= ln lift), kept
    * integral so the score is bit-identical cross-engine (ln of a
    * ratio would ride each libm's last ulp).
    *
    * Scale shape: restricting to a FIXED top-V vocabulary is what
    * bounds the quadratic — per-document pair fan-out is ≤ C(V,2)
    * regardless of document length, where unrestricted co-occurrence
    * on a 1k-distinct-token web page is 500k pairs/doc. The vocab
    * (with its doc frequencies) is an O(V) driver collect — V is
    * config-bounded (the [[Sampling]] O(|strata|) control-plane
    * contract) — and rides back as a literal array + literal map, so
    * the pair pass is ONE scan with in-row pair generation and ONE
    * map-side-combined count shuffle bounded by C(V,2) keys. The
    * doc-frequency pass is its own scan; two scans total, no joins.
    * Tokenization and the vocab intersect are fenced
    * ([[topNgramFracs]]'s interpreted-lambda re-evaluation trap).
    */
  def pmiPairs(df: DataFrame, idCol: String, textCol: String,
               topVocab: Int = 16, minPair: Int = 5): DataFrame = {
    require(topVocab >= 2, s"topVocab must be >= 2, got $topVocab")
    require(minPair >= 1, s"minPair must be >= 1, got $minPair")
    val spark = df.sparkSession
    graft.plans.GraftExtensions.register(spark)
    def distinctToks =
      array_sort(array_distinct(
        split(graft.functions.Functions.normalizeText(col(textCol)), " ")))
    // pass 1: doc frequencies → deterministic top-V (count desc, token
    // asc) via TakeOrderedAndProject; O(V) driver hop
    val vocabRows = df
      .select(explode(distinctToks).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc).limit(topVocab)
      .collect()
    val vocab = vocabRows.map(_.getString(0)).toSeq
    val dfreq = vocabRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val nFrame = df.agg(count(lit(1)).as("_n"))
    // pass 2: in-row pair generation over the vocab-filtered sorted
    // distinct token array (array_intersect keeps first-arg order →
    // stays sorted, so i < j emission yields t1 < t2 for free)
    val tokd = df.select(
      graft.plans.NoInline(spark,
        array_intersect(distinctToks, typedLit(vocab))).as("_vt"))
    val vt = col("_vt")
    val prs = when(size(vt) >= 2,
      flatten(transform(sequence(lit(1), size(vt) - 1), i =>
        transform(slice(vt, i + 1, size(vt)),
          t2 => struct(element_at(vt, i).as("t1"), t2.as("t2"))))))
      .otherwise(array().cast("array<struct<t1:string,t2:string>>"))
    val counts = tokd
      .select(explode(prs).as("p"))
      .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPair)
    val dfLit = typedLit(dfreq)
    counts.crossJoin(broadcast(nFrame))
      .select(col("t1"), col("t2"), col("n_ab"),
        element_at(dfLit, col("t1")).as("n_a"),
        element_at(dfLit, col("t2")).as("n_b"),
        col("_n"))
      .select(col("t1"), col("t2"), col("n_ab"), col("n_a"), col("n_b"),
        // exact-integer floor division — 10^6·N·n_ab stays far inside
        // BIGINT up to ~10^12 documents; past that, lift the products
        // to DECIMAL(38,0) (the ppsSample recipe)
        expr("CAST((1000000L * _n * n_ab) DIV (n_a * n_b) AS BIGINT)")
          .as("lift_ppm"))
  }

  /** Fixed-window overlapping document chunking — the RAG/embedding
    * preprocessing step (split every document into `chunkChars`-char
    * windows every `stride` chars, consecutive chunks overlapping by
    * `chunkChars − stride`) so retrieval indexes embed bounded
    * passages instead of whole documents. Emits one row per chunk:
    * `(id, chunk_id, start_char, chunk_text, chunk_len)` — chunk ids
    * are dense per document (`start DIV stride`, exact because every
    * start is a stride multiple), the final chunk is short rather
    * than padded, and an empty OR NULL document still yields its one
    * empty chunk (null text coalesces to "" — `length(NULL)` would
    * otherwise null the sequence and explode would emit nothing,
    * silently losing the doc; downstream joins never lose the doc).
    *
    * Scale shape: pure scan-side `explode(sequence(...))` — output
    * grows by the ~`len/stride` chunk factor but there is NO shuffle,
    * no state, and no driver hop; chunks land co-partitioned with
    * their documents, so the downstream embed/index stage starts
    * from a clean map-side frame at any corpus size.
    */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                chunkChars: Int, stride: Int): DataFrame = {
    require(chunkChars >= 1, s"chunkChars must be >= 1, got $chunkChars")
    require(stride >= 1 && stride <= chunkChars,
      s"stride must be in 1..chunkChars, got $stride")
    val t = coalesce(col(textCol), lit(""))
    df.select(col(idCol), t.as("_t"),
        explode(sequence(lit(0), greatest(length(t) - 1, lit(0)),
          lit(stride))).as("_start"))
      .select(col(idCol),
        expr(s"CAST(_start DIV $stride AS BIGINT)").as("chunk_id"),
        col("_start").cast("long").as("start_char"),
        col("_t").substr(col("_start") + 1, lit(chunkChars)).as("chunk_text"))
      .withColumn("chunk_len", length(col("chunk_text")))
  }
}
