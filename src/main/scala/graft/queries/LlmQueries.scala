package graft.queries

import graft.QueryDef
import graft.operators.{Bpe, Graph, Multimodal, Sampling, Similarity, Sketches, TextAnalysis, TextDedup}
import graft.sources.{FileStatsIndex, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM training-data pipeline operators over documents/embeddings
  * (builder-prompt extension set): text analysis, dedup (exact,
  * MinHash+LSH, SimHash, n-gram Jaccard), ANN similarity search, and
  * multimodal plumbing. DuckDB twins re-derive every signature from
  * the same md5-based formulas.
  */
object LlmQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")

  /** Near-dup corpus: originals ∪ (+10000, text+" copy") variants. */
  // public: ScaleOracle's FnTwin checks rebuild the same fixture
  def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text", "lang")
    d.unionByName(d.select(
      (col("doc_id") + 10000).as("doc_id"),
      concat(col("text"), lit(" copy")).as("text"),
      col("lang")))
  }

  /** Exact-dup corpus: originals ∪ identical copies at +20000. */
  def exactDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(d.select((col("doc_id") + 20000).as("doc_id"), col("text")))
  }

  // DuckDB text normalization (must mirror Functions.normalizeText)
  private def normSql(c: String) =
    s"trim(regexp_replace(regexp_replace(lower($c), '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g'))"

  private val nearDupCorpusSql =
    """corpus AS (
      |  SELECT doc_id, text, lang FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000, text || ' copy', lang FROM documents)""".stripMargin

  /** CTE chain deriving the LSH band table (shared by the minhash
    * pair and cluster oracles). Defined lazily: references
    * `shinglesSql`, which is declared below.
    */
  private lazy val minhashBandsCtes =
    s"""$nearDupCorpusSql,
       |$bandsFromCorpusCtes""".stripMargin

  /** The LSH candidate pairs `(id_1, id_2)` over the `bands` CTE: a
    * top-level SELECT, or given a `cte` name, a CTE of that name
    * followed by its undirected edge list `edges(src, dst)`.
    */
  private def bandPairsSql(cte: String = ""): String = {
    val indent = if (cte.isEmpty) "" else "  "
    val select = Seq("SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2",
      "FROM bands a JOIN bands b",
      "  ON a.band_id = b.band_id AND a.band_hash = b.band_hash",
      " AND a.doc_id < b.doc_id").map(indent + _).mkString("\n")
    if (cte.isEmpty) select
    else s"""$cte AS (
            |$select),
            |edges AS (
            |  SELECT id_1 AS src, id_2 AS dst FROM $cte
            |  UNION
            |  SELECT id_2, id_1 FROM $cte)""".stripMargin
  }

  /** Band derivation alone (expects a `corpus(doc_id, text, lang)`
    * CTE already in scope) — split out so callers can swap the
    * corpus (e.g. the exact-dedup-first graph census).
    */
  private lazy val bandsFromCorpusCtes =
    s"""$shinglesSql,
       |sh AS (SELECT doc_id, md5(unnest(sh)) AS h FROM shl),
       |sig AS (
       |  SELECT doc_id,
       |    MIN(substr(h, 1, 5)) AS sig_0, MIN(substr(h, 6, 5)) AS sig_1,
       |    MIN(substr(h, 11, 5)) AS sig_2, MIN(substr(h, 16, 5)) AS sig_3,
       |    MIN(substr(h, 21, 5)) AS sig_4, MIN(substr(h, 26, 5)) AS sig_5
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band_id,
       |         md5(concat_ws(',', sig_0, sig_1, sig_2)) AS band_hash FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1, md5(concat_ws(',', sig_3, sig_4, sig_5)) FROM sig)""".stripMargin

  private val shinglesSql =
    s"""n AS (SELECT doc_id, lang, ${normSql("text")} AS t FROM corpus),
       |shl AS (
       |  SELECT doc_id, lang,
       |         list_distinct([substring(t, i, 5)
       |                        for i in generate_series(1, greatest(length(t) - 4, 1))]) AS sh
       |  FROM n)""".stripMargin

  // DuckDB double-promoted cosine over 64-dim float lists
  private def cosineSql(a: String, b: String) =
    s"""(list_aggregate([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)
       |                 for i in generate_series(1, 64)], 'sum')
       | / (sqrt(list_aggregate([CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)
       |                 for i in generate_series(1, 64)], 'sum'))
       |  * sqrt(list_aggregate([CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)
       |                 for i in generate_series(1, 64)], 'sum'))))""".stripMargin

  /** Lloyd-unroll CTE chain replicating `Similarity.kmeansCentroids`
    * (+ full-corpus assignment) over a `vecs(vid, v)` CTE already in
    * scope. Emits `samp`, `cent0..cent$iters`, `asgF` and finally
    * `cells(vid, centroid_id, cc)` — the per-vector cell with its
    * 6 dp-rounded cosine to the winning centroid. Shared by the
    * SemDeDup / prototype-pruning oracles; the `ann_ivf_kmeans_
    * sampled` oracle predates it and keeps its inline copy.
    */
  /** Reduced squared-L2 between a `dsub`-dim subvector expression and
    * a codeword expression: ‖c‖² − 2·s·c, each fold a fixed-order
    * list_aggregate — matches `Similarity.assignSubCode`'s plan-side
    * arithmetic bit-for-bit.
    */
  private def pqDistSql(s: String, c: String, dsub: Int) =
    s"""(list_aggregate([CAST($c[x] AS DOUBLE) * CAST($c[x] AS DOUBLE)
       |                 for x in generate_series(1, $dsub)], 'sum')
       | - 2 * list_aggregate([CAST($s[x] AS DOUBLE) * CAST($c[x] AS DOUBLE)
       |                 for x in generate_series(1, $dsub)], 'sum'))""".stripMargin

  /** Unrolled per-subspace PQ recipe over a `vecs(vid, v)` CTE:
    * for each subspace j emits `sub$j` (subvector slices), the Lloyd
    * chain `pc${j}_0..pc${j}_$iters` (reduced-L2 argmin assignment,
    * decimal cell means, empty cells keep their codeword), the final
    * corpus encoding `pcode$j(vid, code)`, and the query distance
    * table `qd$j(query_id, cid, d)` for `vid < $nQueries` — the exact
    * twin of `Similarity.pqCodebooks`/`pqEncode`/`pqTopK`'s tables.
    */
  private def pqSql(m: Int, dsub: Int, k: Int, iters: Int,
                    nQueries: Int, src: String = "vecs"): String =
    (0 until m).map { j =>
      val a = j * dsub + 1
      val b = (j + 1) * dsub
      val itSql = (1 to iters).map { i =>
        s"""pa${j}_$i AS (
           |  SELECT s.vid, s.sv, c.cid,
           |         round(${pqDistSql("s.sv", "c.cv", dsub)}, 6) AS d
           |  FROM sub$j s, pc${j}_${i - 1} c),
           |pcell${j}_$i AS (
           |  SELECT vid, sv, cid FROM (
           |    SELECT vid, sv, cid,
           |           row_number() OVER (PARTITION BY vid
           |                              ORDER BY d ASC, cid ASC) AS rn
           |    FROM pa${j}_$i) WHERE rn = 1),
           |pm${j}_$i AS (
           |  SELECT cid, dd.x AS pos,
           |         CAST(SUM(CAST(sv[dd.x] AS DECIMAL(38,12))) AS DOUBLE)
           |           / COUNT(*) AS mu
           |  FROM pcell${j}_$i, generate_series(1, $dsub) AS dd(x)
           |  GROUP BY 1, 2),
           |pc${j}_$i AS (
           |  SELECT p.cid, COALESCE(n.nv, p.cv) AS cv
           |  FROM pc${j}_${i - 1} p LEFT JOIN (
           |    SELECT cid, list(mu ORDER BY pos) AS nv
           |    FROM pm${j}_$i GROUP BY 1) n USING (cid))""".stripMargin
      }.mkString(",\n")
      s"""sub$j AS (SELECT vid, v[$a:$b] AS sv FROM $src),
         |pc${j}_0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vid) - 1 AS INTEGER) AS cid,
         |         sv AS cv
         |  FROM (SELECT vid, sv FROM sub$j ORDER BY vid LIMIT $k)),
         |$itSql,
         |pcode$j AS (
         |  SELECT vid, cid AS code FROM (
         |    SELECT s.vid, c.cid,
         |           row_number() OVER (PARTITION BY s.vid
         |             ORDER BY round(${pqDistSql("s.sv", "c.cv", dsub)}, 6) ASC,
         |                      c.cid ASC) AS rn
         |    FROM sub$j s, pc${j}_$iters c) WHERE rn = 1),
         |qd$j AS (
         |  SELECT s.vid AS query_id, c.cid,
         |         round(${pqDistSql("s.sv", "c.cv", dsub)}, 6) AS d
         |  FROM sub$j s, pc${j}_$iters c WHERE s.vid < $nQueries)""".stripMargin
    }.mkString(",\n")

  private def kmeansCellsSql(k: Int, iters: Int, samplePct: Int): String = {
    val samp =
      if (samplePct >= 100) "samp AS (SELECT vid, v FROM vecs)"
      else
        s"""samp AS (
           |  SELECT vid, v FROM vecs
           |  WHERE CAST(concat('0x', substr(md5(CAST(vid AS VARCHAR)), 1, 6)) AS BIGINT) % 100 < $samplePct)""".stripMargin
    val itSql = (1 to iters).map { i =>
      s"""asg$i AS (
         |  SELECT v.vid, v.v, c.centroid_id,
         |         round(${cosineSql("v.v", "c.cv")}, 6) AS cc
         |  FROM samp v, cent${i - 1} c),
         |cell$i AS (
         |  SELECT vid, v, centroid_id FROM (
         |    SELECT vid, v, centroid_id,
         |           row_number() OVER (PARTITION BY vid
         |                              ORDER BY cc DESC, centroid_id) AS rn
         |    FROM asg$i) WHERE rn = 1),
         |mean$i AS (
         |  SELECT centroid_id, d.i AS pos,
         |         CAST(SUM(CAST(v[d.i] AS DECIMAL(38,12))) AS DOUBLE)
         |           / COUNT(*) AS m
         |  FROM cell$i, generate_series(1, 64) AS d(i)
         |  GROUP BY 1, 2),
         |cent$i AS (
         |  SELECT p.centroid_id, COALESCE(n.nv, p.cv) AS cv
         |  FROM cent${i - 1} p LEFT JOIN (
         |    SELECT centroid_id, list(m ORDER BY pos) AS nv
         |    FROM mean$i GROUP BY 1) n USING (centroid_id))""".stripMargin
    }.mkString(",\n")
    s"""$samp,
       |cent0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vid) - 1 AS INTEGER) AS centroid_id,
       |         v AS cv
       |  FROM (SELECT vid, v FROM samp ORDER BY vid LIMIT $k)),
       |$itSql,
       |asgF AS (
       |  SELECT v.vid, c.centroid_id,
       |         round(${cosineSql("v.v", "c.cv")}, 6) AS cc
       |  FROM vecs v, cent$iters c),
       |cells AS (
       |  SELECT vid, centroid_id, cc FROM (
       |    SELECT vid, centroid_id, cc,
       |           row_number() OVER (PARTITION BY vid
       |                              ORDER BY cc DESC, centroid_id) AS rn
       |    FROM asgF) WHERE rn = 1)""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(

    // ───────── text analysis ─────────

    "ta_language_id" -> QueryDef.sql(
      (s, dir) =>
        docs(s, dir).select(
          col("doc_id"), col("lang"),
          TextAnalysis.languageId(col("text")).as("predicted_lang")),
      """SELECT doc_id, lang,
        |  CASE
        |    WHEN CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS DOUBLE)
        |         / CAST(greatest(length(text), 1) AS DOUBLE) > 0.3 THEN 'zh'
        |    WHEN len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|for)\b'))
        |         >= greatest(len(regexp_extract_all(lower(text), '\b(el|la|de|que|los|las|un|una)\b')),
        |                     len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein|zu)\b')),
        |                     len(regexp_extract_all(lower(text), '\b(le|la|les|des|est|un|une|et)\b'))) THEN 'en'
        |    WHEN len(regexp_extract_all(lower(text), '\b(el|la|de|que|los|las|un|una)\b'))
        |         >= greatest(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein|zu)\b')),
        |                     len(regexp_extract_all(lower(text), '\b(le|la|les|des|est|un|une|et)\b'))) THEN 'es'
        |    WHEN len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein|zu)\b'))
        |         >= len(regexp_extract_all(lower(text), '\b(le|la|les|des|est|un|une|et)\b')) THEN 'de'
        |    ELSE 'fr' END AS predicted_lang
        |FROM documents""".stripMargin),

    "ta_quality_scores" -> QueryDef.sql(
      (s, dir) =>
        TextAnalysis.withQualityFeatures(docs(s, dir), "text")
          .select("doc_id", "n_chars_m", "word_count", "punct_ratio",
            "stopword_ratio", "quality_score"),
      """SELECT doc_id,
        |  length(text) AS n_chars_m,
        |  len(string_split_regex(trim(text), '\s+')) AS word_count,
        |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s\x{4e00}-\x{9fff}]')) AS DOUBLE)
        |    / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
        |  round(CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|for)\b')) AS DOUBLE)
        |    / CAST(greatest(len(string_split_regex(trim(text), '\s+')), 1) AS DOUBLE), 4) AS stopword_ratio,
        |  round(
        |    least(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 50.0, 1.0) * 0.5 +
        |    (1.0 - least(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s\x{4e00}-\x{9fff}]')) AS DOUBLE)
        |                   / CAST(greatest(length(text), 1) AS DOUBLE) * 5.0, 1.0)) * 0.5, 4) AS quality_score
        |FROM documents""".stripMargin),

    "ta_token_counts" -> QueryDef.sql(
      (s, dir) =>
        docs(s, dir).select(
          col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
          TextAnalysis.regexTokenCount(col("text")).as("regex_tokens")),
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS regex_tokens
        |FROM documents""".stripMargin),

    "ta_fingerprints" -> QueryDef.sql(
      (s, dir) =>
        docs(s, dir).select(
          col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint")),
      s"""SELECT doc_id, md5(${normSql("text")}) AS fingerprint
         |FROM documents""".stripMargin),

    // ───── C4-style PII scrub. The synthetic docs carry no PII, so
    // the query plants a deterministic email+phone per doc (same
    // expression in both engines) and verifies count + redaction.
    "ta_pii_scrub" -> QueryDef.sql(
      (s, dir) => {
        val planted = docs(s, dir).select(col("doc_id"),
          concat(col("text"), lit(" reach user"), col("doc_id"),
            lit("@example.com or +1 555-867-"),
            (lit(1000) + pmod(col("doc_id"), lit(9000))).cast("string")).as("text"))
        TextAnalysis.scrubPii(planted, "text")
          .select("doc_id", "n_emails", "n_phones", "clean_text")
      },
      s"""WITH planted AS (
         |  SELECT doc_id,
         |         concat(text, ' reach user', doc_id, '@example.com or +1 555-867-',
         |                CAST(1000 + doc_id % 9000 AS VARCHAR)) AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailPattern}')) AS INTEGER) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.PhonePattern}')) AS INTEGER) AS n_phones,
         |  regexp_replace(regexp_replace(text, '${TextAnalysis.EmailPattern}', '[EMAIL]', 'g'),
         |                 '${TextAnalysis.PhonePattern}', '[PHONE]', 'g') AS clean_text
         |FROM planted""".stripMargin),

    // ───── Gopher-style within-doc repetition score.
    "ta_repetition" -> QueryDef.sql(
      (s, dir) =>
        TextAnalysis.repetitionRatio(docs(s, dir), "text")
          .select("doc_id", "repetition_ratio"),
      s"""WITH n AS (SELECT doc_id, ${normSql("text")} AS t FROM documents)
         |SELECT doc_id,
         |  round(1.0 -
         |    CAST(len(list_distinct([substring(t, i, 5)
         |           for i in generate_series(1, greatest(length(t) - 4, 1))])) AS DOUBLE)
         |    / CAST(greatest(length(t) - 4, 1) AS DOUBLE), 4) AS repetition_ratio
         |FROM n""".stripMargin),

    // ───── corpus-level exact heavy hitters: vocabulary-bounded
    // shuffle + TakeOrderedAndProject top-k (count desc, token asc
    // tiebreak makes the boundary deterministic).
    "ta_top_terms" -> QueryDef.sql(
      (s, dir) => TextAnalysis.topTerms(docs(s, dir), "text", 50),
      """SELECT token, COUNT(*) AS n
        |FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |      FROM documents)
        |WHERE token <> ''
        |GROUP BY token
        |ORDER BY n DESC, token ASC
        |LIMIT 50""".stripMargin),

    // ───── EXACT heavy hitters via the two-pass Misra–Gries pattern:
    // pass 1 reduces the unbounded token stream to ≤32 candidates
    // with O(32) state per mapper (`freq_items` sketch — the MG
    // guarantee: any token with freq > n/33 SURVIVES any merge
    // order); pass 2 semi-joins the stream against the broadcast
    // candidates and counts exactly, so the answer has no sketch
    // error. Contrast ta_top_terms: that one shuffles every distinct
    // token (vocabulary-bounded here, unbounded in the wild); this
    // shuffles only candidate tokens — the 100 TB form. Raw MG
    // counts are never exposed (they vary with merge order; only the
    // survival guarantee is order-free).
    "ta_heavy_tokens" -> QueryDef.sql(
      (s, dir) => {
        graft.plans.GraftExtensions.register(s)
        val toks = docs(s, dir)
          .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
          .filter(col("token") =!= "")
        val cands = toks
          .agg(expr("freq_items(xxhash64(token), 32)").as("_c"))
          .select(explode(expr("transform(_c, x -> x.item)")).as("h"))
        val total = toks.agg(count(lit(1)).as("n_total"))
        toks.join(broadcast(cands),
            xxhash64(col("token")) === col("h"), "left_semi")
          .groupBy(col("token"))
          .agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(total))
          .filter(col("cnt") * 33 > col("n_total"))
          .select(col("token"), col("cnt"), col("n_total"),
            expr("cnt * 1000000L DIV n_total").as("share_ppm"))
      },
      """WITH toks AS (
        |  SELECT token FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
        |      AS token
        |    FROM documents)
        |  WHERE token <> ''),
        |t AS (SELECT COUNT(*) AS n_total FROM toks),
        |c AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1)
        |SELECT token, cnt, n_total,
        |  CAST(cnt * 1000000 // n_total AS BIGINT) AS share_ppm
        |FROM c, t WHERE cnt * 33 > n_total""".stripMargin),

    // ───── Zipf-exponent fit — OLS slope of ln(freq) on ln(rank)
    // over the token frequency table (natural text sits near −1;
    // synthetic/templated corpora flatten toward 0, so the exponent
    // is a one-number corpus-health check next to ta_unigram_entropy).
    // Engine-exact determinism: every ln is 9 dp-rounded into a
    // DECIMAL before summation (the ta_unigram_logprob recipe — raw
    // double sums would drift with partitioning), the five moments
    // are exact decimal sums, and the slope is ONE fixed double
    // expression (the a16/a22 recipe). The rank window runs over the
    // VOCAB table only — raw tokens are never windowed.
    "ta_zipf_fit" -> QueryDef.sql(
      (s, dir) => {
        val toks = docs(s, dir)
          .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
          .filter(col("token") =!= "")
        val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        val w = Window.orderBy(col("cnt").desc, col("token").asc)
        val xy = vocab
          .withColumn("rnk", row_number().over(w))
          .select(
            round(log(col("rnk").cast("double")), 9)
              .cast("decimal(18,9)").as("x"),
            round(log(col("cnt").cast("double")), 9)
              .cast("decimal(18,9)").as("y"))
        xy.agg(count(lit(1)).as("n_vocab"),
            sum(col("x")).as("_sx"), sum(col("y")).as("_sy"),
            sum(col("x") * col("y")).as("_sxy"),
            sum(col("x") * col("x")).as("_sxx"))
          .select(col("n_vocab"),
            round(
              (col("n_vocab").cast("double") * col("_sxy").cast("double")
                - col("_sx").cast("double") * col("_sy").cast("double"))
              / (col("n_vocab").cast("double") * col("_sxx").cast("double")
                - col("_sx").cast("double") * col("_sx").cast("double")),
              6).as("zipf_slope"))
      },
      """WITH toks AS (
        |  SELECT token FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
        |      AS token
        |    FROM documents)
        |  WHERE token <> ''),
        |v AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1),
        |xy AS (
        |  SELECT
        |    CAST(round(ln(CAST(row_number() OVER (ORDER BY cnt DESC,
        |      token ASC) AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
        |    CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
        |  FROM v),
        |m AS (
        |  SELECT COUNT(*) AS n_vocab,
        |    SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |  FROM xy)
        |SELECT n_vocab,
        |  round((CAST(n_vocab AS DOUBLE) * CAST(sxy AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n_vocab AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
        |    AS zipf_slope
        |FROM m""".stripMargin),

    // ───── per-source PII exposure report — the compliance rollup
    // over the scrub + Luhn detectors: deterministic plants (email on
    // doc_id%3, phone on %5, a Luhn-VALID card on %7) prove every
    // counter moves; per source the report carries doc counts,
    // per-class hit counts/totals, and the clean-docs share in ppm.
    // Two scan-side detector projections joined on doc_id, one
    // |sources|-bounded aggregate — no raw-text shuffle.
    "gov_pii_report" -> QueryDef.sql(
      (s, dir) => {
        val planted = docs(s, dir).select(col("doc_id"), col("source"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" u"), col("doc_id"), lit("@example.com")))
              .otherwise(lit("")),
            when(col("doc_id") % 5 === 0, lit(" +1 555-867-5309"))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0, lit(" 4539148803436467"))
              .otherwise(lit(""))).as("text"))
        val scrub = TextAnalysis.scrubPii(planted, "text")
          .select(col("doc_id"), col("source"),
            col("n_emails"), col("n_phones"))
        val luhn = TextAnalysis.luhnCcDetect(planted, "doc_id", "text")
          .select(col("doc_id"), col("n_cc_valid"))
        scrub.join(luhn, Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_emails") > 0, 1L).otherwise(0L))
              .as("docs_with_email"),
            sum(col("n_emails").cast("long")).as("total_emails"),
            sum(when(col("n_phones") > 0, 1L).otherwise(0L))
              .as("docs_with_phone"),
            sum(when(col("n_cc_valid") > 0, 1L).otherwise(0L))
              .as("docs_with_valid_cc"),
            sum(when(col("n_emails") === 0 && col("n_phones") === 0 &&
              col("n_cc_valid") === 0, 1L).otherwise(0L)).as("_clean"))
          .withColumn("clean_ppm", expr("_clean * 1000000L DIV n_docs"))
          .drop("_clean")
      },
      s"""WITH planted AS (
         |  SELECT doc_id, source,
         |    text || (CASE WHEN doc_id % 3 = 0
         |             THEN ' u' || doc_id || '@example.com' ELSE '' END)
         |         || (CASE WHEN doc_id % 5 = 0
         |             THEN ' +1 555-867-5309' ELSE '' END)
         |         || (CASE WHEN doc_id % 7 = 0
         |             THEN ' 4539148803436467' ELSE '' END) AS t
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(t, '${TextAnalysis.EmailPattern}'))
         |      AS INTEGER) AS n_emails,
         |    CAST(len(regexp_extract_all(t, '${TextAnalysis.PhonePattern}'))
         |      AS INTEGER) AS n_phones,
         |    CAST(len(list_filter(
         |      list_filter(regexp_extract_all(t, '\\d+'),
         |                  x -> length(x) BETWEEN 13 AND 19),
         |      x -> list_sum([CASE WHEN i % 2 = 0 THEN
         |          (CASE WHEN CAST(x[length(x)-i+1] AS INTEGER) * 2 > 9
         |                THEN CAST(x[length(x)-i+1] AS INTEGER) * 2 - 9
         |                ELSE CAST(x[length(x)-i+1] AS INTEGER) * 2 END)
         |        ELSE CAST(x[length(x)-i+1] AS INTEGER) END
         |        for i in generate_series(1, length(x))]) % 10 = 0))
         |      AS INTEGER) AS n_cc_valid
         |  FROM planted)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN n_emails > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_with_email,
         |  CAST(SUM(n_emails) AS BIGINT) AS total_emails,
         |  CAST(SUM(CASE WHEN n_phones > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_with_phone,
         |  CAST(SUM(CASE WHEN n_cc_valid > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_with_valid_cc,
         |  CAST(SUM(CASE WHEN n_emails = 0 AND n_phones = 0
         |    AND n_cc_valid = 0 THEN 1 ELSE 0 END) * 1000000
         |    // COUNT(*) AS BIGINT) AS clean_ppm
         |FROM d GROUP BY 1""".stripMargin),

    // ───── CCNet-style unigram log-prob quality signal: corpus LM
    // broadcast back to the token stream; per-token ln rounded to 9dp
    // then decimal-summed so the parallel mean is bit-deterministic.
    "ta_unigram_logprob" -> QueryDef.sql(
      (s, dir) =>
        TextAnalysis.withUnigramLogProb(docs(s, dir), "text", "doc_id"),
      """WITH toks AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |    FROM documents)
        |  WHERE token <> ''),
        |vocab AS (SELECT token, COUNT(*) AS tf FROM toks GROUP BY token),
        |total AS (SELECT CAST(SUM(tf) AS DOUBLE) AS total_tf FROM vocab),
        |lm AS (SELECT token, ROUND(LN(CAST(tf AS DOUBLE) / total_tf), 9) AS logp
        |       FROM vocab, total)
        |SELECT doc_id,
        |       ROUND(CAST(SUM(CAST(logp AS DECIMAL(30,9))) AS DOUBLE)
        |             / CAST(COUNT(*) AS DOUBLE), 6) AS mean_logp,
        |       COUNT(*) AS n_tokens
        |FROM toks JOIN lm USING (token)
        |GROUP BY doc_id""".stripMargin),

    // ───── DSIR importance selection (arXiv:2302.03169): target =
    // English docs, raw = the whole corpus; per-doc mean log-ratio of
    // the Laplace-smoothed target LM over the raw LM, keep ≥ 0. The
    // oracle re-derives both LMs and every rounding step.
    "corpus_dsir_select" -> QueryDef.sql(
      (s, dir) =>
        TextAnalysis.dsirScores(docs(s, dir), "doc_id", "text",
          isTarget = col("lang") === "en", threshold = 0.0),
      """WITH toks AS (
        |  SELECT doc_id, is_t, token FROM (
        |    SELECT doc_id, lang = 'en' AS is_t,
        |           unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |    FROM documents)
        |  WHERE token <> ''),
        |vocab AS (
        |  SELECT token, COUNT(*) AS tf_raw,
        |         SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS tf_target
        |  FROM toks GROUP BY token),
        |tot AS (
        |  SELECT SUM(tf_raw) AS total_raw, SUM(tf_target) AS total_target,
        |         COUNT(*) AS v
        |  FROM vocab),
        |lm AS (
        |  SELECT token,
        |         ROUND(LN(CAST(tf_target + 1 AS DOUBLE)
        |                  / CAST(total_target + v AS DOUBLE)), 9)
        |       - ROUND(LN(CAST(tf_raw + 1 AS DOUBLE)
        |                  / CAST(total_raw + v AS DOUBLE)), 9) AS logratio
        |  FROM vocab, tot),
        |scored AS (
        |  SELECT doc_id,
        |         ROUND(CAST(SUM(CAST(logratio AS DECIMAL(30,9))) AS DOUBLE)
        |               / CAST(COUNT(*) AS DOUBLE), 6) AS dsir_score,
        |         COUNT(*) AS n_tokens
        |  FROM toks JOIN lm USING (token)
        |  GROUP BY doc_id)
        |SELECT doc_id, dsir_score, n_tokens,
        |       dsir_score >= 0.0 AS keep
        |FROM scored""".stripMargin),

    // ───── token-window chunking with overlap (context-window
    // packing): shuffle-free per-row array windowing.
    "ta_chunks" -> QueryDef.sql(
      (s, dir) =>
        TextAnalysis.chunkDocuments(docs(s, dir), "text", "doc_id",
          chunkSize = 64, overlap = 16),
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        |st AS (
        |  SELECT doc_id, tk, unnest(range(0, greatest(len(tk), 1), 48)) AS s
        |  FROM toks)
        |SELECT doc_id,
        |       CAST(s // 48 AS INT) AS chunk_id,
        |       array_to_string(tk[s+1 : s+64], ' ') AS chunk_text,
        |       CAST(len(tk[s+1 : s+64]) AS INT) AS n_chunk_tokens
        |FROM st""".stripMargin),

    // ───── JSONL interchange round-trip THROUGH the oracle gate:
    // documents → writeJsonl → readJsonl (schema-first) → aggregate;
    // the oracle reads the original parquet, so any row lost or value
    // mangled in the JSON round-trip breaks the hash match.
    "corpus_jsonl_roundtrip" -> QueryDef.sql(
      (s, dir) => {
        // stable per-input path, overwritten on each run: the returned
        // frame reads the dir LAZILY, so it can't be deleted here —
        // a fresh createTempDirectory per invocation leaked ~50 MB per
        // bench/verify repeat instead of reusing one footprint
        val tmp = Tables.scratchDir("jsonl_rt", dir)
        val d = docs(s, dir)
        Tables.writeJsonl(d, tmp)
        Tables.readJsonl(s, tmp, Some(d.schema))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      },
      """SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang""".stripMargin),

    // ───── dynamic-partition-overwrite gate (S10): land the corpus
    // partitioned by lang, then dynamically overwrite ONLY the 'en'
    // partition with modified rows (+1000 n_chars). If the overwrite
    // were static, every other partition would vanish and the oracle
    // hash breaks; if the modified rows leaked into other partitions,
    // the sums break. The read-back aggregate must equal the oracle's
    // re-derivation of the final lake state from the original table.
    "corpus_dynamic_overwrite" -> QueryDef.sql(
      (s, dir) => {
        val tmp = Tables.scratchDir("dyn_ow", dir)
        val d = docs(s, dir).select("doc_id", "lang", "n_chars")
        Tables.writePartitioned(d, tmp, Seq("lang"))
        Tables.withDynamicPartitionOverwrite(s) {
          Tables.writePartitioned(
            d.filter(col("lang") === "en")
              .withColumn("n_chars", col("n_chars") + 1000),
            tmp, Seq("lang"))
        }
        Tables.parquet(s, tmp)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("total_chars"))
      },
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN n_chars + 1000
        |                ELSE n_chars END) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang""".stripMargin),

    // ───── latest-partition incremental read gate (S2): the corpus
    // partitioned by lang, `latestPartition` picks the max partition
    // value and prunes to that one directory — the oracle re-derives
    // "the max-lang slice" from the original table.
    "corpus_latest_partition" -> QueryDef.sql(
      (s, dir) => {
        val tmp = Tables.scratchDir("latest", dir)
        val d = docs(s, dir).select("doc_id", "lang", "source", "n_chars")
        Tables.writePartitioned(d, tmp, Seq("lang"))
        Tables.latestPartition(s, tmp, "lang")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("total_chars"))
      },
      """SELECT source, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents
        |WHERE lang = (SELECT max(lang) FROM documents)
        |GROUP BY source""".stripMargin),

    // ───── sequence packing: per-language greedy packs of ~512
    // tokens (window cumsum — deterministic, engine-reproducible).
    "ta_pack_sequences" -> QueryDef.sql(
      (s, dir) => {
        val d = docs(s, dir).withColumn("n_tokens",
          TextAnalysis.wsTokenCount(col("text")))
        TextAnalysis.packSequences(d, "doc_id", "n_tokens", "lang", 512)
          .select("doc_id", "lang", "n_tokens", "pack_id")
      },
      """SELECT doc_id, lang,
        |       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |       CAST(FLOOR(CAST(SUM(len(string_split_regex(trim(text), '\s+')))
        |                         OVER (PARTITION BY lang ORDER BY doc_id)
        |                       - len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
        |                  / 512) AS BIGINT) AS pack_id
        |FROM documents""".stripMargin),

    // ───── corpus vocabulary stats (exact verification form; the
    // approx_count_distinct sketch twin is spec-checked).
    "ta_vocab_stats" -> QueryDef.sql(
      (s, dir) => TextAnalysis.vocabStats(docs(s, dir), "text", "doc_id"),
      """WITH toks AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |    FROM documents)
        |  WHERE token <> '')
        |SELECT COUNT(*) AS total_tokens,
        |       COUNT(DISTINCT token) AS distinct_tokens,
        |       COUNT(DISTINCT doc_id) AS n_docs
        |FROM toks""".stripMargin),

    // ───── BPE training, iteration 0: adjacent symbol-pair counts
    // over the character-segmented word-frequency table — the exact
    // aggregation the distributed trainer (Bpe.train, spec-verified
    // against a sequential reference) runs each round; registering it
    // gates the tokenizer path's corpus-side plumbing (word freq,
    // segmentation, pair explode, weighted count, deterministic
    // argmax order) against an independent engine. Top-50 with a
    // total-order boundary so the limit is engine-stable.
    "ta_bpe_pair_counts" -> QueryDef.sql(
      (s, dir) => {
        val words = Bpe.wordFreq(docs(s, dir), "text")
          .select(concat(
            transform(sequence(lit(1), length(col("word"))),
              i => col("word").substr(i, lit(1))),
            array(lit(Bpe.EndOfWord))).as("syms"), col("freq"))
        Bpe.pairCounts(words)
          .orderBy(col("n").desc, col("a").asc, col("b").asc)
          .limit(50)
      },
      """WITH words AS (
        |  SELECT word, COUNT(*) AS freq FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |    FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |syms AS (
        |  SELECT freq,
        |         list_append(list_transform(range(1, length(word)+1),
        |           i -> substring(word, i, 1)), '</w>') AS s
        |  FROM words),
        |pairs AS (
        |  SELECT s[i] AS a, s[i+1] AS b, freq
        |  FROM syms, UNNEST(range(1, len(s))) AS t(i))
        |SELECT a, b, CAST(SUM(freq) AS BIGINT) AS n
        |FROM pairs GROUP BY a, b
        |ORDER BY n DESC, a ASC, b ASC LIMIT 50""".stripMargin),

    // ───── incremental ingest dedup: new batch anti-joined against
    // the existing corpus on fingerprint, then self-deduped. Batch
    // plants all three cases: exact dups of the corpus (+30000,
    // dropped), genuinely new docs (+40000, kept), and within-batch
    // dups of those (+50000, dropped by the min-id survivor rule).
    "dd_incremental" -> QueryDef.sql(
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text")
        val batch = d.select((col("doc_id") + 30000).as("doc_id"), col("text"))
          .unionByName(d.select((col("doc_id") + 40000).as("doc_id"),
            concat(col("text"), lit(" fresh")).as("text")))
          .unionByName(d.select((col("doc_id") + 50000).as("doc_id"),
            concat(col("text"), lit(" fresh")).as("text")))
        TextDedup.dedupIncremental(d, batch, "doc_id", "text")
          .select("doc_id")
      },
      s"""WITH batch AS (
         |  SELECT doc_id + 30000 AS doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 40000, text || ' fresh' FROM documents
         |  UNION ALL
         |  SELECT doc_id + 50000, text || ' fresh' FROM documents),
         |dedup AS (
         |  SELECT doc_id, text FROM batch
         |  QUALIFY row_number() OVER (PARTITION BY md5(${normSql("text")})
         |                             ORDER BY doc_id) = 1)
         |SELECT doc_id FROM dedup
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM documents c
         |  WHERE md5(${normSql("c.text")}) = md5(${normSql("dedup.text")}))""".stripMargin),

    // ───── bloom-prefiltered incremental dedup: same SEMANTICS as
    // dd_incremental (blooms have no false negatives, so the exact
    // anti-join on the prefiltered corpus is bit-identical) — what
    // changes is the plan: the corpus-side fingerprint stream is cut
    // at the scan by a broadcast-size bloom predicate before it ever
    // shuffles. The fixture exercises the operator's DESIGN regime —
    // a small batch (5% modulo slice, scale-proportional) against the
    // full corpus; the original dd_incremental fixture's batch is 3×
    // the corpus, which would charge the bloom build more passes than
    // the prefilter saves. Equality with the plain path on an
    // identical small-batch fixture is pinned by LlmOpsSpec.
    "dd_incremental_bloom" -> QueryDef.sql(
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text")
        val sample = d.filter(col("doc_id") % 20 === 0)
        val batch = sample
          .select((col("doc_id") + 30000).as("doc_id"), col("text"))
          .unionByName(sample.select((col("doc_id") + 40000).as("doc_id"),
            concat(col("text"), lit(" fresh")).as("text")))
          .unionByName(sample.select((col("doc_id") + 50000).as("doc_id"),
            concat(col("text"), lit(" fresh")).as("text")))
        TextDedup.dedupIncrementalBloom(d, batch, "doc_id", "text")
          .select("doc_id")
      },
      s"""WITH batch AS (
         |  SELECT doc_id + 30000 AS doc_id, text FROM documents
         |  WHERE doc_id % 20 = 0
         |  UNION ALL
         |  SELECT doc_id + 40000, text || ' fresh' FROM documents
         |  WHERE doc_id % 20 = 0
         |  UNION ALL
         |  SELECT doc_id + 50000, text || ' fresh' FROM documents
         |  WHERE doc_id % 20 = 0),
         |dedup AS (
         |  SELECT doc_id, text FROM batch
         |  QUALIFY row_number() OVER (PARTITION BY md5(${normSql("text")})
         |                             ORDER BY doc_id) = 1)
         |SELECT doc_id FROM dedup
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM documents c
         |  WHERE md5(${normSql("c.text")}) = md5(${normSql("dedup.text")}))""".stripMargin),

    // ───── incremental NEAR-dup: batch = near-copies of the corpus
    // (+60000, " copy" suffix) ∪ heavily-perturbed docs (+70000,
    // letter-rotation translate — shingle sets diverge far below the
    // banding threshold, so they must NOT collide). Candidates are
    // (batch, corpus) band-bucket matches with the batch side
    // BROADCAST — the corpus never shuffles (the 100 TB ingest shape,
    // pinned in PlanContractsSpec).
    "dd_incremental_neardup" -> QueryDef.sql(
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text")
        val batch = d.select((col("doc_id") + 60000).as("doc_id"),
            concat(col("text"), lit(" copy")).as("text"))
          .unionByName(d.select((col("doc_id") + 70000).as("doc_id"),
            translate(col("text"), "etaoins", "taoinse").as("text")))
        TextDedup.nearDupIncrementalCandidates(d, batch, "doc_id", "text")
      },
      s"""WITH batch AS (
         |  SELECT doc_id + 60000 AS doc_id, text || ' copy' AS text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 70000, translate(text, 'etaoins', 'taoinse') FROM documents),
         |cn AS (SELECT doc_id, ${normSql("text")} AS t FROM documents),
         |bn AS (SELECT doc_id, ${normSql("text")} AS t FROM batch),
         |csh AS (
         |  SELECT doc_id, list_distinct([substring(t, i, 5)
         |    for i in generate_series(1, greatest(length(t) - 4, 1))]) AS sh FROM cn),
         |bsh AS (
         |  SELECT doc_id, list_distinct([substring(t, i, 5)
         |    for i in generate_series(1, greatest(length(t) - 4, 1))]) AS sh FROM bn),
         |ch AS (SELECT doc_id, md5(unnest(sh)) AS h FROM csh),
         |bh AS (SELECT doc_id, md5(unnest(sh)) AS h FROM bsh),
         |csig AS (
         |  SELECT doc_id,
         |    MIN(substr(h, 1, 5)) AS sig_0, MIN(substr(h, 6, 5)) AS sig_1,
         |    MIN(substr(h, 11, 5)) AS sig_2, MIN(substr(h, 16, 5)) AS sig_3,
         |    MIN(substr(h, 21, 5)) AS sig_4, MIN(substr(h, 26, 5)) AS sig_5
         |  FROM ch GROUP BY doc_id),
         |bsig AS (
         |  SELECT doc_id,
         |    MIN(substr(h, 1, 5)) AS sig_0, MIN(substr(h, 6, 5)) AS sig_1,
         |    MIN(substr(h, 11, 5)) AS sig_2, MIN(substr(h, 16, 5)) AS sig_3,
         |    MIN(substr(h, 21, 5)) AS sig_4, MIN(substr(h, 26, 5)) AS sig_5
         |  FROM bh GROUP BY doc_id),
         |cbands AS (
         |  SELECT doc_id, 0 AS band_id,
         |         md5(concat_ws(',', sig_0, sig_1, sig_2)) AS band_hash FROM csig
         |  UNION ALL
         |  SELECT doc_id, 1, md5(concat_ws(',', sig_3, sig_4, sig_5)) FROM csig),
         |bbands AS (
         |  SELECT doc_id, 0 AS band_id,
         |         md5(concat_ws(',', sig_0, sig_1, sig_2)) AS band_hash FROM bsig
         |  UNION ALL
         |  SELECT doc_id, 1, md5(concat_ws(',', sig_3, sig_4, sig_5)) FROM bsig)
         |SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
         |FROM bbands b JOIN cbands c
         |  ON b.band_id = c.band_id AND b.band_hash = c.band_hash""".stripMargin),

    // ───── passage-level duplicate detection: corpus = originals ∪
    // prefix-modified copies, so originals score dup_ratio 1.0 and
    // copies score slightly below (their prefix windows are unique) —
    // the ratio gradient doc-level dedup can't produce.
    "dd_dup_passages" -> QueryDef.sql(
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text")
        val corpus = d.unionByName(d.select(
          (col("doc_id") + 10000).as("doc_id"),
          concat(lit("copy of "), col("text")).as("text")))
        TextDedup.duplicatePassages(corpus, "doc_id", "text", windowTokens = 10)
      },
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, 'copy of ' || text FROM documents),
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM corpus),
        |wins AS (
        |  SELECT doc_id, array_to_string(tk[s+1 : s+10], ' ') AS w
        |  FROM toks, LATERAL unnest(range(0, greatest(len(tk) - 9, 1), 1)) AS t(s)),
        |dupw AS (
        |  SELECT w FROM wins GROUP BY w HAVING COUNT(DISTINCT doc_id) > 1)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_windows,
        |       CAST(SUM(CASE WHEN w IN (SELECT w FROM dupw) THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dup_windows,
        |       round(CAST(SUM(CASE WHEN w IN (SELECT w FROM dupw) THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(COUNT(*) AS DOUBLE), 4) AS dup_ratio
        |FROM wins GROUP BY doc_id""".stripMargin),

    // ───── hashed-key passage dedup: the PRODUCTION shape of
    // dd_dup_passages — window strings fold to 8-byte poly_hash64
    // keys BEFORE the shuffle (fixed-width longs instead of the
    // corpus text ~10× over). The oracle re-derives the same 64-bit
    // wrapping fold per window with HUGEINT mod arithmetic and groups
    // on it, so the hash itself is gate-verified, not just the counts.
    "dd_dup_passages_hashed" -> QueryDef.sql(
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text")
        val corpus = d.unionByName(d.select(
          (col("doc_id") + 10000).as("doc_id"),
          concat(lit("copy of "), col("text")).as("text")))
        TextDedup.duplicatePassagesHashed(corpus, "doc_id", "text",
          windowTokens = 10)
      },
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, 'copy of ' || text FROM documents),
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM corpus),
        |winstr AS (
        |  SELECT doc_id, array_to_string(tk[s+1 : s+10], ' ') AS ws
        |  FROM toks, LATERAL unnest(range(0, greatest(len(tk) - 9, 1), 1)) AS t(s)),
        |wins AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS HUGEINT),
        |        [CAST(unicode(substring(ws, i, 1)) AS HUGEINT)
        |         for i in generate_series(1, length(ws))]),
        |      (acc, x) -> (acc * 31 + x) % CAST(18446744073709551616 AS HUGEINT)) AS w
        |  FROM winstr),
        |dupw AS (
        |  SELECT w FROM wins GROUP BY w HAVING COUNT(DISTINCT doc_id) > 1)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_windows,
        |       CAST(SUM(CASE WHEN w IN (SELECT w FROM dupw) THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dup_windows,
        |       round(CAST(SUM(CASE WHEN w IN (SELECT w FROM dupw) THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(COUNT(*) AS DOUBLE), 4) AS dup_ratio
        |FROM wins GROUP BY doc_id""".stripMargin),

    // ───── train/eval contamination sweep: docs sharing ≥20 distinct
    // 8-gram shingles with an "eval set" (docs 0-9). The oracle
    // intersects string shingle sets; the Spark side joins packed-long
    // shingles against the BROADCAST eval side — bijective packing ⇒
    // identical counts.
    "dd_contamination" -> QueryDef.sql(
      (s, dir) => {
        val d = docs(s, dir)
        TextDedup.contaminationPairs(d, d.filter(col("doc_id") < 10),
          "doc_id", "text")
      },
      s"""WITH n AS (SELECT doc_id, ${normSql("text")} AS t FROM documents),
         |shl AS (
         |  SELECT doc_id,
         |         list_distinct([substring(t, i, 8)
         |           for i in generate_series(1, greatest(length(t) - 7, 1))]) AS sh
         |  FROM n),
         |ev AS (SELECT doc_id AS eval_id, sh FROM shl WHERE doc_id < 10)
         |SELECT c.doc_id, e.eval_id,
         |       CAST(len(list_intersect(c.sh, e.sh)) AS BIGINT) AS n_common
         |FROM shl c, ev e
         |WHERE c.doc_id <> e.eval_id
         |  AND len(list_intersect(c.sh, e.sh)) >= 20""".stripMargin),

    // ───── per-document decontamination GATE (GPT-3 C, arXiv:
    // 2005.14165): doc-level max shingle overlap vs ANY eval doc +
    // the drop decision — the decision view over dd_contamination's
    // audit pairs.
    "dd_decontaminate" -> QueryDef.sql(
      (s, dir) => {
        val d = docs(s, dir)
        TextDedup.decontaminate(d, d.filter(col("doc_id") < 10),
          "doc_id", "text")
      },
      s"""WITH n AS (SELECT doc_id, ${normSql("text")} AS t FROM documents),
         |shl AS (
         |  SELECT doc_id,
         |         list_distinct([substring(t, i, 8)
         |           for i in generate_series(1, greatest(length(t) - 7, 1))]) AS sh
         |  FROM n),
         |ev AS (SELECT doc_id AS eval_id, sh FROM shl WHERE doc_id < 10),
         |mx AS (
         |  SELECT c.doc_id,
         |         CAST(MAX(len(list_intersect(c.sh, e.sh))) AS BIGINT) AS m
         |  FROM shl c, ev e WHERE c.doc_id <> e.eval_id GROUP BY 1)
         |SELECT s.doc_id, COALESCE(mx.m, 0) AS max_common,
         |       COALESCE(mx.m, 0) >= 20 AS contaminated
         |FROM shl s LEFT JOIN mx USING (doc_id)""".stripMargin),

    // ───── CCNet head/middle/tail perplexity buckets (arXiv:
    // 1911.00359 §4.3): per-language unigram-LM score terciles —
    // rank-exact cuts with (score desc, id) tiebreak, never
    // interpolated quantiles.
    "ta_ccnet_buckets" -> QueryDef.sql(
      (s, dir) =>
        TextAnalysis.ccnetBuckets(docs(s, dir), "doc_id", "text", "lang"),
      """WITH toks AS (
        |  SELECT doc_id, lang, token FROM (
        |    SELECT doc_id, lang,
        |           unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |    FROM documents)
        |  WHERE token <> ''),
        |vocab AS (SELECT lang, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |tot AS (SELECT lang, SUM(tf) AS total_tf FROM vocab GROUP BY 1),
        |lm AS (
        |  SELECT v.lang, v.token,
        |         ROUND(LN(CAST(tf AS DOUBLE) / CAST(total_tf AS DOUBLE)), 9) AS logp
        |  FROM vocab v JOIN tot USING (lang)),
        |scored AS (
        |  SELECT t.doc_id, t.lang,
        |         ROUND(CAST(SUM(CAST(logp AS DECIMAL(30,9))) AS DOUBLE)
        |               / CAST(COUNT(*) AS DOUBLE), 6) AS mean_logp
        |  FROM toks t JOIN lm ON t.lang = lm.lang AND t.token = lm.token
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT doc_id, lang, mean_logp,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY mean_logp DESC, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM scored)
        |SELECT doc_id, lang, mean_logp,
        |       CASE WHEN rn * 3 <= n THEN 'head'
        |            WHEN rn * 3 <= 2 * n THEN 'middle'
        |            ELSE 'tail' END AS ppl_bucket
        |FROM r""".stripMargin),

    // ───── data-constrained epoch plan (arXiv:2305.16264): uniform
    // repetition up to 4 epochs against a token budget — a pure
    // planning aggregate over per-source token totals.
    "corpus_epoch_plan" -> QueryDef.sql(
      (s, dir) =>
        Sampling.epochPlan(
          docs(s, dir).withColumn("tokens",
            TextAnalysis.regexTokenCount(col("text"))),
          "source", col("tokens"), budgetTokens = 50000L),
      """WITH ps AS (
        |  SELECT source AS stratum,
        |    CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT)
        |      AS unique_tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT SUM(unique_tokens) AS t FROM ps)
        |SELECT stratum, unique_tokens,
        |  round(least(4.0, 50000.0 / CAST(t AS DOUBLE)), 6) AS epochs,
        |  CAST(floor(CAST(unique_tokens AS DOUBLE)
        |             * round(least(4.0, 50000.0 / CAST(t AS DOUBLE)), 6)) AS BIGINT)
        |    AS planned_tokens
        |FROM ps, tot""".stripMargin),

    // ───── deterministic stratified sampling (corpus mixing): per-
    // language keep-rates as a pure function of md5(doc_id) — the same
    // rows survive in any engine, run, or partitioning.
    "corpus_sample" -> QueryDef.sql(
      (s, dir) =>
        Sampling.stratifiedSample(docs(s, dir), "doc_id", "lang",
          Map("en" -> 50, "es" -> 25), defaultPct = 10)
          .select("doc_id", "lang"),
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100
        |      < (CASE lang WHEN 'es' THEN 25 WHEN 'en' THEN 50 ELSE 10 END)""".stripMargin),

    // ───── sparse TF-IDF keyword retrieval: inverted-index shape
    // (explode → filter to query terms → bounded TF/IDF shuffles,
    // |terms|-row IDF broadcast) — the sparse sibling of the dense
    // ANN queries. Round-9dp ln + decimal sum keep the top-k cut
    // engine-exact.
    "ta_tfidf_search" -> QueryDef.sql(
      (s, dir) =>
        TextAnalysis.tfidfRetrieve(docs(s, dir), "doc_id", "text",
          Seq("join", "merge", "window", "scan"), k = 10),
      """WITH toks AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id,
        |           unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |    FROM documents)
        |  WHERE token IN ('join', 'merge', 'window', 'scan')),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |idf AS (
        |  SELECT token,
        |         round(ln(CAST(n_docs AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)), 9) AS idf
        |  FROM tf, n GROUP BY token, n_docs),
        |w AS (
        |  SELECT doc_id, round(CAST(tf AS DOUBLE) * idf, 9) AS w
        |  FROM tf JOIN idf USING (token))
        |SELECT doc_id,
        |       round(CAST(SUM(CAST(w AS DECIMAL(30,9))) AS DOUBLE), 6) AS score
        |FROM w GROUP BY doc_id
        |ORDER BY score DESC, doc_id ASC
        |LIMIT 10""".stripMargin),

    // ───── token-budget corpus mixture: keep-rates are DERIVED from
    // measured per-language token totals so the sample hits a global
    // token budget at fixed language shares (the knob a pretraining
    // mix actually turns). Two passes: a constant-size rate aggregate
    // (collected — O(|langs|)), then the shuffle-free hash-sample
    // scan. The oracle recomputes the rate math digit-for-digit.
    "corpus_mixture" -> QueryDef.sql(
      (s, dir) => {
        val d = docs(s, dir)
        val rates = Sampling.tokenBudgetRates(
          d.withColumn("tokens", TextAnalysis.regexTokenCount(col("text"))),
          "lang", col("tokens"), budgetTokens = 5000L,
          Map("en" -> 0.5, "es" -> 0.2, "de" -> 0.15, "fr" -> 0.1, "zh" -> 0.05))
        Sampling.stratifiedSample(d, "doc_id", "lang", rates, defaultPct = 0)
          .select("doc_id", "lang")
      },
      """WITH tk AS (
        |  SELECT doc_id, lang,
        |         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS tokens
        |  FROM documents),
        |tot AS (SELECT lang, SUM(tokens) AS t FROM tk GROUP BY lang),
        |rates AS (
        |  SELECT lang,
        |         least(100, CAST(floor(CAST(100 AS DOUBLE) * 5000 *
        |           (CASE lang WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.2
        |                      WHEN 'de' THEN 0.15 WHEN 'fr' THEN 0.1
        |                      WHEN 'zh' THEN 0.05 ELSE 0 END) / t) AS BIGINT)) AS pct
        |  FROM tot WHERE t > 0)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100
        |      < r.pct""".stripMargin),

    // ───── temperature-scaled mixture (arXiv:1901.07291 §3.1): the
    // strata weights are DERIVED from the corpus distribution
    // (q ∝ n^(1/τ), τ=2 up-samples low-resource langs) instead of
    // hand-set shares as in corpus_mixture. Rates stay in-plan; the
    // oracle re-derives pow/decimal-sum/floor bit-for-bit.
    "corpus_mixture_temperature" -> QueryDef.sql(
      (s, dir) =>
        Sampling.temperatureSampledMixture(docs(s, dir), "doc_id", "lang",
          tau = 2.0, budgetDocs = 300)
          .select("doc_id", "lang"),
      """WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |q AS (SELECT lang, n,
        |             round(pow(CAST(n AS DOUBLE), 0.5), 6) AS q
        |      FROM cnt),
        |tot AS (SELECT CAST(SUM(CAST(q AS DECIMAL(38,12))) AS DOUBLE) AS qsum FROM q),
        |rates AS (
        |  SELECT lang,
        |         least(100, CAST(floor(round(100.0 * 300 * q
        |                  / (qsum * CAST(n AS DOUBLE)), 6)) AS BIGINT)) AS pct
        |  FROM q, tot)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN rates r USING (lang)
        |WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100
        |      < r.pct""".stripMargin),

    // ───── corpus-frequency boilerplate scrub (C4 §2.2 / RefinedWeb):
    // segments recurring in ≥30 distinct docs are removed in place.
    // Corpus = documents ∪ (+10000) copies with a fixed 8-token
    // boilerplate prefix — the prefix segment recurs in every copy
    // (≥30 docs → scrubbed) while position-alignment means each
    // copy's remaining segments equal its original's (2 docs → kept):
    // every copy's clean_text must equal its original's normalized
    // text, and the oracle checks exactly that reassembly.
    "ta_boilerplate_scrub" -> QueryDef.sql(
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text")
        val corpus = d.unionByName(d.select(
          (col("doc_id") + 10000).as("doc_id"),
          concat(lit("Subscribe to our newsletter for daily updates now "),
            col("text")).as("text")))
        TextAnalysis.boilerplateScrub(corpus, "doc_id", "text",
          segTokens = 8, minDocs = 30)
      },
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000,
         |         'Subscribe to our newsletter for daily updates now ' || text
         |  FROM documents),
         |n AS (SELECT doc_id, ${normSql("text")} AS t FROM corpus),
         |tk AS (SELECT doc_id, string_split(t, ' ') AS toks FROM n),
         |sg AS (SELECT doc_id,
         |  [array_to_string(toks[(i*8+1):(i*8+8)], ' ')
         |   for i in generate_series(0,
         |     greatest(CAST(ceil(len(toks) / 8.0) AS INTEGER) - 1, 0))] AS segs
         |  FROM tk),
         |ex AS (
         |  SELECT doc_id, len(segs) AS nseg,
         |         unnest([{'pos': i, 'seg': segs[i]}
         |                 for i in generate_series(1, len(segs))],
         |                recursive := true)
         |  FROM sg),
         |dict AS (
         |  SELECT seg FROM ex WHERE seg <> ''
         |  GROUP BY seg HAVING count(DISTINCT doc_id) >= 30),
         |kept AS (SELECT ex.* FROM ex ANTI JOIN dict USING (seg))
         |SELECT doc_id,
         |       array_to_string(list(seg ORDER BY pos), ' ') AS clean_text,
         |       CAST(any_value(nseg) - count(*) AS BIGINT) AS n_removed
         |FROM kept GROUP BY doc_id""".stripMargin),

    // ───── Gopher quality rules (arXiv:2112.11446 A1.1): the
    // published doc-level filter set, one boolean column per rule +
    // the conjunction; minWords=30 so both outcomes appear in the
    // synthetic corpus (word counts 10..99).
    "ta_gopher_rules" -> QueryDef.sql(
      (s, dir) =>
        TextAnalysis.gopherRules(docs(s, dir).select("doc_id", "text"),
          "text", minWords = 30)
          .drop("text"),
      """WITH base AS (
        |  SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS words,
        |    len(string_split_regex(trim(text), '\s+')) AS wc
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, wc AS word_count,
        |    round(CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |          / greatest(wc, 1), 4) AS mean_word_len,
        |    round(CAST(len(regexp_extract_all(text, '#'))
        |             + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
        |          / greatest(wc, 1), 4) AS symbol_ratio,
        |    round(CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |          / greatest(wc, 1), 4) AS alpha_word_ratio,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|for)\b')) AS stopword_hits
        |  FROM base)
        |SELECT doc_id, word_count, mean_word_len, symbol_ratio,
        |       alpha_word_ratio, stopword_hits,
        |       word_count BETWEEN 30 AND 100000 AS rule_word_count,
        |       mean_word_len BETWEEN 3.0 AND 10.0 AS rule_mean_word_len,
        |       symbol_ratio <= 0.1 AS rule_symbol_ratio,
        |       alpha_word_ratio >= 0.8 AS rule_alpha_words,
        |       stopword_hits >= 2 AS rule_stopwords,
        |       (word_count BETWEEN 30 AND 100000)
        |         AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |         AND (symbol_ratio <= 0.1)
        |         AND (alpha_word_ratio >= 0.8)
        |         AND (stopword_hits >= 2) AS gopher_pass
        |FROM m""".stripMargin),

    // ───── seeded deterministic global shuffle (training-order
    // randomization): contiguous 1-based positions in md5(seed‖id)
    // order, computed WITHOUT a global sort — hex-prefix buckets give
    // per-bucket ranks (bounded shuffle) + a 256-row offset cumsum
    // broadcast back. The oracle's single-window row_number proves
    // the decomposition equals the global ordering exactly.
    "corpus_shuffle" -> QueryDef.sql(
      (s, dir) =>
        Sampling.shuffledPositions(docs(s, dir), "doc_id", "seed42"),
      """WITH k AS (
        |  SELECT doc_id, md5('seed42' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM documents)
        |SELECT doc_id, row_number() OVER (ORDER BY skey, doc_id) AS pos
        |FROM k""".stripMargin),

    // ───── deterministic train/val/test split: one md5 bucket, three
    // half-open ranges — disjoint and exhaustive by construction,
    // reproducible across engines (the oracle re-derives the same
    // buckets), independent of sampling decisions via the seed.
    // Shuffle-free scan-side projection.
    "corpus_split" -> QueryDef.sql(
      (s, dir) =>
        Sampling.splitAssign(docs(s, dir), "doc_id", trainPct = 80,
          valPct = 10, seed = "splitv1")
          .select("doc_id", "lang", "split"),
      """SELECT doc_id, lang,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5('splitv1' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 AS b
        |  FROM documents)""".stripMargin),

    // ───── concat-and-chunk sequence packing: the manifest mapping
    // every document to its (shard, pack position, token offset,
    // first/last training sequence) under GPT-style packing into
    // 512-token sequences across 8 shards. The Spark side decomposes
    // the in-shard cumsum into per-(shard, hex-bucket) windows + a
    // broadcast offset frame (no single-reducer shard windows); the
    // oracle's single window per shard proves the decomposition IS
    // the sequential packing. Integral DIV throughout — no doubles
    // near token offsets.
    "corpus_pack_sequences" -> QueryDef.sql(
      (s, dir) =>
        Sampling.packPlan(
          docs(s, dir).select(col("doc_id"),
            TextAnalysis.wsTokenCount(col("text")).as("_tok")),
          "doc_id", col("_tok"), seqLen = 512, shards = 8, seed = "packv1"),
      """WITH t AS (
        |  SELECT doc_id,
        |    greatest(len(string_split_regex(trim(text), '\s+')), 1) AS n_tokens,
        |    md5('packv1' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(concat('0x', substr(skey, 1, 6)) AS BIGINT) % 8 AS shard,
        |    substr(skey, 7) AS okey
        |  FROM t),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    row_number() OVER (PARTITION BY shard ORDER BY okey, doc_id) AS pack_pos,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY okey, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset
        |  FROM k)
        |SELECT doc_id, shard, n_tokens, pack_pos,
        |  CAST(token_offset AS BIGINT) AS token_offset,
        |  CAST(token_offset // 512 AS BIGINT) AS first_seq,
        |  CAST((token_offset + n_tokens - 1) // 512 AS BIGINT) AS last_seq,
        |  CAST((token_offset + n_tokens - 1) // 512
        |    - token_offset // 512 + 1 AS BIGINT) AS n_seqs
        |FROM c""".stripMargin),

    // ───── RAG chunking: every document split into 200-char windows
    // every 150 chars (50-char overlap) — the bounded-passage
    // preprocessing in front of the embed/index stages. Scan-side
    // explode, zero shuffles; the oracle re-derives every window with
    // unnest(range(...)) (exclusive stop ≡ Spark's inclusive
    // sequence-to-len−1) including the short final chunk and the
    // one-empty-chunk contract for empty docs.
    "ret_doc_chunks" -> QueryDef.sql(
      (s, dir) =>
        TextAnalysis.chunkDocs(docs(s, dir), "doc_id", "text",
          chunkChars = 200, stride = 150),
      """WITH s AS (
        |  SELECT doc_id, coalesce(text, '') AS text,
        |    unnest(range(0, greatest(length(coalesce(text, '')), 1), 150)) AS i
        |  FROM documents)
        |SELECT doc_id, i // 150 AS chunk_id, i AS start_char,
        |  substring(text, CAST(i + 1 AS INT), 200) AS chunk_text,
        |  length(substring(text, CAST(i + 1 AS INT), 200)) AS chunk_len
        |FROM s""".stripMargin),

    // ───── end-to-end corpus curation: quality gate → exact dedup →
    // per-language corpus stats (docs kept, total BPE-ish tokens,
    // exact-mean quality). The integration query a training-data
    // pipeline actually runs — every stage is an operator that is
    // also individually oracle-proven above; this checks their
    // COMPOSITION (filter ordering, dedup key on the filtered set,
    // aggregate determinism) end to end. One scan, one dedup shuffle,
    // one agg shuffle — no operator adds a pass.
    // ───── composed curation pipeline over THIS round's operators:
    // Gopher rule gate → DSIR importance selection → temperature
    // mixture → per-lang summary, all one plan. Each stage is
    // individually oracle-proven (ta_gopher_rules, corpus_dsir_select,
    // corpus_mixture_temperature); this gates their COMPOSITION — the
    // DSIR LMs are built over the GATED corpus and the mixture rates
    // over the DSIR survivors, so any stage disagreement shifts every
    // downstream number. Scale shape: scan-side gate, vocab-bounded
    // LM aggs, one doc-keyed join of scores back to strata, strata-
    // bounded rate agg — nothing quadratic, nothing global.
    "llm_curation_pipeline" -> QueryDef.sql(
      (s, dir) => {
        val gk = TextAnalysis.gopherRules(
          docs(s, dir).select("doc_id", "lang", "text"), "text", minWords = 30)
          .filter(col("gopher_pass"))
          .select("doc_id", "lang", "text")
        val dk = TextAnalysis.dsirScores(gk, "doc_id", "text",
          isTarget = col("lang") === "en", threshold = 0.0)
          .filter(col("keep"))
          .join(gk.select("doc_id", "lang"), Seq("doc_id"))
        Sampling.temperatureSampledMixture(dk, "doc_id", "lang",
          tau = 2.0, budgetDocs = 200)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).cast("long").as("total_tokens"),
            round(sum(col("dsir_score").cast("decimal(30,6)")).cast("double") /
              count(lit(1)).cast("double"), 6).as("avg_dsir"))
      },
      """WITH m AS (
        |  SELECT doc_id, lang, text,
        |    len(string_split_regex(trim(text), '\s+')) AS wc,
        |    round(CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |          / greatest(len(string_split_regex(trim(text), '\s+')), 1), 4) AS mwl,
        |    round(CAST(len(regexp_extract_all(text, '#'))
        |             + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
        |          / greatest(len(string_split_regex(trim(text), '\s+')), 1), 4) AS sym,
        |    round(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |                               w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |          / greatest(len(string_split_regex(trim(text), '\s+')), 1), 4) AS alpha,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|for)\b')) AS stop
        |  FROM documents),
        |gk AS (
        |  SELECT doc_id, lang, text FROM m
        |  WHERE wc BETWEEN 30 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
        |    AND sym <= 0.1 AND alpha >= 0.8 AND stop >= 2),
        |toks AS (
        |  SELECT doc_id, is_t, token FROM (
        |    SELECT doc_id, lang = 'en' AS is_t,
        |           unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |    FROM gk)
        |  WHERE token <> ''),
        |vocab AS (
        |  SELECT token, COUNT(*) AS tf_raw,
        |         SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS tf_target
        |  FROM toks GROUP BY token),
        |tot AS (
        |  SELECT SUM(tf_raw) AS total_raw, SUM(tf_target) AS total_target,
        |         COUNT(*) AS v
        |  FROM vocab),
        |lm AS (
        |  SELECT token,
        |         ROUND(LN(CAST(tf_target + 1 AS DOUBLE)
        |                  / CAST(total_target + v AS DOUBLE)), 9)
        |       - ROUND(LN(CAST(tf_raw + 1 AS DOUBLE)
        |                  / CAST(total_raw + v AS DOUBLE)), 9) AS logratio
        |  FROM vocab, tot),
        |scored AS (
        |  SELECT doc_id,
        |         ROUND(CAST(SUM(CAST(logratio AS DECIMAL(30,9))) AS DOUBLE)
        |               / CAST(COUNT(*) AS DOUBLE), 6) AS dsir_score,
        |         COUNT(*) AS n_tokens
        |  FROM toks JOIN lm USING (token)
        |  GROUP BY doc_id),
        |dk AS (
        |  SELECT s.doc_id, g.lang, s.dsir_score, s.n_tokens
        |  FROM scored s JOIN gk g USING (doc_id)
        |  WHERE s.dsir_score >= 0.0),
        |cnt AS (SELECT lang, count(*) AS n FROM dk GROUP BY 1),
        |q AS (SELECT lang, n,
        |             round(pow(CAST(n AS DOUBLE), 0.5), 6) AS q
        |      FROM cnt),
        |tot2 AS (SELECT CAST(SUM(CAST(q AS DECIMAL(38,12))) AS DOUBLE) AS qsum FROM q),
        |rates AS (
        |  SELECT lang,
        |         least(100, CAST(floor(round(100.0 * 200 * q
        |                  / (qsum * CAST(n AS DOUBLE)), 6)) AS BIGINT)) AS pct
        |  FROM q, tot2),
        |samp AS (
        |  SELECT dk.* FROM dk JOIN rates USING (lang)
        |  WHERE CAST(concat('0x', substr(md5(CAST(dk.doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100
        |        < rates.pct)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |       round(CAST(SUM(CAST(dsir_score AS DECIMAL(30,6))) AS DOUBLE)
        |             / CAST(COUNT(*) AS DOUBLE), 6) AS avg_dsir
        |FROM samp GROUP BY lang""".stripMargin),

    "llm_corpus_pipeline" -> QueryDef.sql(
      (s, dir) => {
        val scored = TextAnalysis.withQualityFeatures(docs(s, dir), "text")
          .filter(col("quality_score") >= 0.5)
        TextDedup.dedupExact(scored, "doc_id", "text")
          .withColumn("regex_tokens", TextAnalysis.regexTokenCount(col("text")))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("regex_tokens")).cast("long").as("total_tokens"),
            round(sum(col("quality_score").cast("decimal(30,4)")).cast("double") /
              count(lit(1)), 4).as("avg_quality"))
      },
      s"""WITH q AS (
         |  SELECT doc_id, lang, text,
         |    round(
         |      least(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) / 50.0, 1.0) * 0.5 +
         |      (1.0 - least(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s\\x{4e00}-\\x{9fff}]')) AS DOUBLE)
         |                     / CAST(greatest(length(text), 1) AS DOUBLE) * 5.0, 1.0)) * 0.5, 4) AS quality_score
         |  FROM documents),
         |kept AS (SELECT * FROM q WHERE quality_score >= 0.5),
         |dedup AS (
         |  SELECT * FROM kept
         |  QUALIFY row_number() OVER (PARTITION BY md5(${normSql("text")})
         |                             ORDER BY doc_id) = 1)
         |SELECT lang,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS total_tokens,
         |  round(CAST(SUM(CAST(quality_score AS DECIMAL(30,4))) AS DOUBLE) / COUNT(*), 4) AS avg_quality
         |FROM dedup GROUP BY 1""".stripMargin),

    // ───── the FULL training-prep pipeline in one plan: quality gate
    // → exact dedup → token-budget mixture (measured rates) → seeded
    // global shuffle → per-language sequence packing → per-pack
    // totals. Every stage is an operator individually oracle-proven
    // above; this gates their COMPOSITION — any disagreement anywhere
    // (a gate boundary, a dedup survivor, a rate, one shuffle
    // position) shifts pack boundaries and breaks every downstream
    // hash. Scale shape: two bounded aggregates (rates, packs), the
    // shuffle-position machinery's bounded bucket ranks, and
    // scan-side everything else — no stage is quadratic or global.
    "llm_train_prep" -> QueryDef.sql(
      (s, dir) => {
        val gated = TextAnalysis.withQualityFeatures(docs(s, dir), "text")
          .filter(col("quality_score") >= 0.5)
        val deduped = TextDedup.dedupExact(gated, "doc_id", "text")
          .withColumn("tokens", TextAnalysis.regexTokenCount(col("text")))
        val rates = Sampling.tokenBudgetRates(deduped, "lang", col("tokens"),
          budgetTokens = 5000L,
          Map("en" -> 0.5, "es" -> 0.2, "de" -> 0.15, "fr" -> 0.1, "zh" -> 0.05))
        val mixed = Sampling
          .stratifiedSample(deduped, "doc_id", "lang", rates, defaultPct = 0)
          .select("doc_id", "lang", "tokens")
        val ordered = mixed.join(
          Sampling.shuffledPositions(mixed, "doc_id", "seedtp"), "doc_id")
        TextAnalysis.packSequences(ordered, "pos", "tokens", "lang",
          targetTokens = 512)
          .groupBy("lang", "pack_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("tokens")).cast("long").as("pack_tokens"))
      },
      s"""WITH q AS (
         |  SELECT doc_id, lang, text,
         |    round(
         |      least(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) / 50.0, 1.0) * 0.5 +
         |      (1.0 - least(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s\\x{4e00}-\\x{9fff}]')) AS DOUBLE)
         |                     / CAST(greatest(length(text), 1) AS DOUBLE) * 5.0, 1.0)) * 0.5, 4) AS quality_score
         |  FROM documents),
         |kept AS (SELECT * FROM q WHERE quality_score >= 0.5),
         |dedup AS (
         |  SELECT * FROM kept
         |  QUALIFY row_number() OVER (PARTITION BY md5(${normSql("text")})
         |                             ORDER BY doc_id) = 1),
         |tk AS (
         |  SELECT doc_id, lang,
         |         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS tokens
         |  FROM dedup),
         |tot AS (SELECT lang, SUM(tokens) AS t FROM tk GROUP BY lang),
         |rates AS (
         |  SELECT lang,
         |         least(100, CAST(floor(CAST(100 AS DOUBLE) * 5000 *
         |           (CASE lang WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.2
         |                      WHEN 'de' THEN 0.15 WHEN 'fr' THEN 0.1
         |                      WHEN 'zh' THEN 0.05 ELSE 0 END) / t) AS BIGINT)) AS pct
         |  FROM tot WHERE t > 0),
         |mixed AS (
         |  SELECT tk.doc_id, tk.lang, tk.tokens
         |  FROM tk JOIN rates r ON tk.lang = r.lang
         |  WHERE CAST(concat('0x', substr(md5(CAST(tk.doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100
         |        < r.pct),
         |pos AS (
         |  SELECT doc_id, lang, tokens,
         |         row_number() OVER (ORDER BY md5('seedtp' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
         |  FROM mixed),
         |packed AS (
         |  SELECT lang, tokens,
         |         floor((SUM(tokens) OVER (PARTITION BY lang ORDER BY pos
         |                                  ROWS UNBOUNDED PRECEDING) - tokens) / 512) AS pack_id
         |  FROM pos)
         |SELECT lang, CAST(pack_id AS BIGINT) AS pack_id,
         |       COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS pack_tokens
         |FROM packed GROUP BY 1, 2""".stripMargin),

    // ───── custom Catalyst expression: codegen'd rolling hash
    // (poly_hash64 via GraftExtensions). DuckDB twin re-derives the
    // wrapping 64-bit fold with HUGEINT mod arithmetic.
    "ta_rolling_hash" -> QueryDef.sql(
      (s, dir) => {
        graft.plans.GraftExtensions.register(s)
        docs(s, dir).selectExpr("doc_id",
          // normalize_text == the trim(regexp_replace(...)) chain
          // (NormalizeTextSpec), single-pass for ASCII rows
          "poly_hash64(normalize_text(text)) AS rolling_hash")
      },
      s"""WITH n AS (SELECT doc_id, ${normSql("text")} AS t FROM documents)
         |SELECT doc_id,
         |  CAST(CASE WHEN m >= CAST(9223372036854775808 AS HUGEINT)
         |            THEN m - CAST(18446744073709551616 AS HUGEINT)
         |            ELSE m END AS BIGINT) AS rolling_hash
         |FROM (
         |  SELECT doc_id,
         |    list_reduce(
         |      list_prepend(CAST(0 AS HUGEINT),
         |        [CAST(unicode(substring(t, i, 1)) AS HUGEINT)
         |         for i in generate_series(1, length(t))]),
         |      (acc, x) -> (acc * 31 + x) % CAST(18446744073709551616 AS HUGEINT)) AS m
         |  FROM n)""".stripMargin),

    // ───────── dedup suite ─────────

    "dd_exact_groups" -> QueryDef.sql(
      (s, dir) =>
        TextDedup.exactDedupGroups(exactDupCorpus(s, dir), "doc_id", "text"),
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 20000, text FROM documents)
         |SELECT md5(${normSql("text")}) AS fingerprint,
         |       COUNT(*) AS n_docs, min(doc_id) AS canonical_id
         |FROM corpus GROUP BY 1""".stripMargin),

    "dd_dedup_result" -> QueryDef.sql(
      (s, dir) =>
        TextDedup.dedupExact(exactDupCorpus(s, dir), "doc_id", "text")
          .select("doc_id"),
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 20000, text FROM documents)
         |SELECT doc_id FROM corpus
         |QUALIFY row_number() OVER (PARTITION BY md5(${normSql("text")})
         |                           ORDER BY doc_id) = 1""".stripMargin),

    "dd_minhash_pairs" -> QueryDef.sql(
      (s, dir) => {
        val sigs = TextDedup.minhashSignatures(nearDupCorpus(s, dir), "doc_id", "text")
        TextDedup.lshCandidatePairs(
          TextDedup.lshBands(sigs, "doc_id"), "doc_id")
      },
      s"""WITH $minhashBandsCtes
         |${bandPairsSql()}""".stripMargin),

    // ───── the PRODUCTION-KEY twin of dd_minhash_pairs: the band
    // table shuffles an 8-byte xxhash64 LONG bucket key instead of a
    // 32-char md5 string (measured 2.8× fewer bytes through the band
    // exchange) through the IDENTICAL band-self-join plan. Band-key
    // equality ⟺ signature-slice equality for either key function
    // (both are injective in practice; the bucket key only GROUPS
    // candidates — verification jaccard decides truth), so the pair
    // set is EXACTLY dd_minhash_pairs' and the DuckDB oracle
    // re-derives it via md5 band hashes: a full rows+schema+hash gate
    // on the long-key shuffle path. (The further xx64-SIGNATURE
    // variant — no crypto digest at all — stays spec-gated in
    // MinHashSigsSpec: DuckDB cannot reproduce xxhash64 over strings,
    // and its candidate set legitimately differs between hash
    // families; MinHashSigsSpec pins its value contract, exact-dup
    // completeness, and planted near-dup recall.)
    "dd_minhash_pairs_xx64" -> QueryDef.sql(
      (s, dir) => {
        val sigs =
          TextDedup.minhashSignatures(nearDupCorpus(s, dir), "doc_id", "text")
        TextDedup.lshCandidatePairs(
          TextDedup.lshBandsXx64(sigs, "doc_id"), "doc_id")
      },
      s"""WITH $minhashBandsCtes
         |${bandPairsSql()}""".stripMargin),

    // ───── pairs → clusters: connected components over the LSH pair
    // list (min-label propagation to fixpoint). The oracle proves the
    // fixpoint IS the transitive closure: a recursive CTE walks
    // reachability and takes each vertex's minimum reachable id.
    "dd_dup_clusters" -> QueryDef.sql(
      (s, dir) => {
        val sigs = TextDedup.minhashSignatures(nearDupCorpus(s, dir), "doc_id", "text")
        // star edges, not all-pairs: component-identical (see
        // lshStarPairs) with O(bucket) instead of O(bucket²) edges
        TextDedup.dupClusters(
          TextDedup.lshStarPairs(
            TextDedup.lshBands(sigs, "doc_id"), "doc_id"))
      },
      s"""WITH RECURSIVE $minhashBandsCtes,
         |${bandPairsSql("pairs")},
         |reach(id, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, re.r FROM edges e JOIN reach re ON re.id = e.dst)
         |SELECT id AS doc_id, MIN(r) AS cluster_id
         |FROM reach GROUP BY 1""".stripMargin),

    // ───── near-dup RETENTION: the step after detection+clustering —
    // keep each cluster's minimum doc_id, drop the other members,
    // pass unclustered docs through. Detection → clustering →
    // retention is the complete near-dedup story (the exact-dup twin
    // is dd_dedup_result). Anti-join on the loser set: narrow, and
    // the loser frame is bounded by the duplicate count, not the
    // corpus.
    "dd_neardup_result" -> QueryDef.sql(
      (s, dir) => {
        val corpus = nearDupCorpus(s, dir)
        val sigs = TextDedup.minhashSignatures(corpus, "doc_id", "text")
        val clusters = TextDedup.dupClusters(
          TextDedup.lshStarPairs(
            TextDedup.lshBands(sigs, "doc_id"), "doc_id"))
        val losers = clusters
          .filter(col("cluster_id") =!= col("doc_id")).select("doc_id")
        corpus.join(losers, Seq("doc_id"), "left_anti")
          .select("doc_id", "lang")
      },
      s"""WITH RECURSIVE $minhashBandsCtes,
         |${bandPairsSql("pairs")},
         |reach(id, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, re.r FROM edges e JOIN reach re ON re.id = e.dst)
         |SELECT c.doc_id, c.lang
         |FROM corpus c
         |WHERE c.doc_id NOT IN (
         |  SELECT id FROM reach GROUP BY id HAVING MIN(r) <> id)""".stripMargin),

    // ───── PageRank over the near-dup candidate graph (Page et al.
    // 1999): the iterative-graph tier next to dd_dup_clusters' CC —
    // ranking the pair graph surfaces template hubs (docs banded with
    // many others) for curation triage. THREE fixed power iterations,
    // each one shuffled-hash join + one map-side-combined sum;
    // engine-invariant by FIXED-POINT construction (1e-12 BIGINT
    // units, floor division — a round(·,9) formulation measured
    // 2/1000 rows one ulp off between engines); the degree-annotated
    // edge list checkpoints once so the LSH pipeline doesn't
    // re-execute per iteration. The oracle unrolls the same three
    // integer steps as a CTE chain.
    "graph_pagerank" -> QueryDef.sql(
      (s, dir) => {
        val sigs = TextDedup.minhashSignatures(nearDupCorpus(s, dir), "doc_id", "text")
        Graph.pageRank(
          TextDedup.lshCandidatePairs(
            TextDedup.lshBands(sigs, "doc_id"), "doc_id"),
          "id_1", "id_2", iters = 3)
          .select(col("node").as("doc_id"), col("rank"))
      },
      s"""WITH $minhashBandsCtes,
         |${bandPairsSql("prs")},
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
         |edeg AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
         |nn AS (SELECT COUNT(DISTINCT src) AS n FROM edges),
         |r0 AS (
         |  SELECT DISTINCT src AS node,
         |         CAST(1000000000000 AS BIGINT) // nn.n AS r
         |  FROM edges, nn),
         |c1 AS (
         |  SELECT e.dst AS node, r.r // e.deg AS c
         |  FROM edeg e JOIN r0 r ON r.node = e.src),
         |r1 AS (
         |  SELECT node, (CAST(15000000000000 AS BIGINT) // (100 * nn.n))
         |    + ((85 * SUM(c)) // 100) AS r
         |  FROM c1, nn GROUP BY node, nn.n),
         |c2 AS (
         |  SELECT e.dst AS node, r.r // e.deg AS c
         |  FROM edeg e JOIN r1 r ON r.node = e.src),
         |r2 AS (
         |  SELECT node, (CAST(15000000000000 AS BIGINT) // (100 * nn.n))
         |    + ((85 * SUM(c)) // 100) AS r
         |  FROM c2, nn GROUP BY node, nn.n),
         |c3 AS (
         |  SELECT e.dst AS node, r.r // e.deg AS c
         |  FROM edeg e JOIN r2 r ON r.node = e.src),
         |r3 AS (
         |  SELECT node, (CAST(15000000000000 AS BIGINT) // (100 * nn.n))
         |    + ((85 * SUM(c)) // 100) AS r
         |  FROM c3, nn GROUP BY node, nn.n)
         |SELECT node AS doc_id,
         |       CAST(r AS DOUBLE) / 1000000000000.0 AS rank
         |FROM r3""".stripMargin),

    // ───── triangle statistics over the near-dup pair graph:
    // undirected degree, triangles through each node, local
    // clustering coefficient — the triangle census a curation
    // pipeline reads to tell template CLIQUES (dense boilerplate
    // families, lcc → 1) from hub-and-spoke near-dup stars (shared
    // header pulling unrelated docs, lcc → 0). The census runs on
    // the EXACT-DEDUPED corpus — the pipeline-correct order (exact
    // clones contribute degenerate clique structure that measures
    // clone count, not near-dup topology) and the order that keeps
    // the op scale-stable: triangle count is CUBIC in clone
    // multiplicity, so on an un-deduped all-duplicates corpus the
    // output itself explodes (the 30× derived sweep measured exactly
    // that before the dedup stage). Degree-ordered compact-forward
    // join: edges oriented up the (deg, id) total order bound every
    // out-degree by O(√m) — wedge fan-out O(m^1.5) regardless of hub
    // skew, where id-orientation would hand a low-id hub C(deg,2)
    // wedges. lcc is ONE IEEE division of exact integers —
    // engine-invariant. The oracle re-derives dedup + the oriented
    // wedge-close census as a CTE chain.
    "graph_triangle_stats" -> QueryDef.sql(
      (s, dir) => {
        val base = TextDedup.dedupExact(nearDupCorpus(s, dir), "doc_id", "text")
        val sigs = TextDedup.minhashSignatures(base, "doc_id", "text")
        // census input rides the SUPER-CLUSTER cap (Graph scaladoc):
        // a hot LSH bucket is a b-clique whose census work is b³ —
        // not binding at any correctness SF (max bucket 116 at
        // sf0.1), so the oracle below needs no cap clause
        Graph.triangleStats(
          TextDedup.lshCandidatePairs(
            TextDedup.lshBands(sigs, "doc_id"), "doc_id",
            maxBucketSize = Graph.CensusMaxBucketSize),
          "id_1", "id_2")
          .select(col("node").as("doc_id"), col("deg"), col("tri"), col("lcc"))
      },
      s"""WITH corpus0 AS (
         |  SELECT doc_id, text, lang FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, text || ' copy', lang FROM documents),
         |corpus AS (
         |  SELECT doc_id, text, lang FROM corpus0
         |  QUALIFY row_number() OVER (PARTITION BY md5(${normSql("text")})
         |                             ORDER BY doc_id) = 1),
         |$bandsFromCorpusCtes,
         |${bandPairsSql("prs")},
         |deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY 1),
         |oriented AS (
         |  SELECT e.src AS lo, e.dst AS hi
         |  FROM edges e
         |  JOIN deg ds ON ds.node = e.src
         |  JOIN deg dd ON dd.node = e.dst
         |  WHERE ds.deg < dd.deg OR (ds.deg = dd.deg AND e.src < e.dst)),
         |wedges AS (
         |  SELECT a.lo, a.hi AS mid, b.hi AS far
         |  FROM oriented a JOIN oriented b ON a.lo = b.lo AND a.hi <> b.hi),
         |tris AS (
         |  SELECT w.lo, w.mid, w.far
         |  FROM wedges w
         |  WHERE EXISTS (SELECT 1 FROM oriented o
         |                WHERE o.lo = w.mid AND o.hi = w.far)),
         |pern AS (
         |  SELECT node, COUNT(*) AS tri FROM (
         |    SELECT lo AS node FROM tris
         |    UNION ALL SELECT mid FROM tris
         |    UNION ALL SELECT far FROM tris) GROUP BY 1)
         |SELECT d.node AS doc_id, d.deg,
         |       COALESCE(p.tri, 0) AS tri,
         |       CASE WHEN d.deg < 2 THEN 0.0
         |            ELSE CAST(2 * COALESCE(p.tri, 0) AS DOUBLE)
         |                 / CAST(d.deg * (d.deg - 1) AS DOUBLE) END AS lcc
         |FROM deg d LEFT JOIN pern p USING (node)""".stripMargin),

    "dd_simhash" -> QueryDef.sql(
      (s, dir) => TextDedup.simhash16(docs(s, dir), "doc_id", "text"),
      {
        val bitSums = (0 until 16).map(b =>
          s"SUM(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS b_$b").mkString(",\n    ")
        val fp = (0 until 16).map(b =>
          s"(CASE WHEN b_$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)").mkString(" + ")
        s"""WITH n AS (SELECT doc_id, ${normSql("text")} AS t FROM documents),
           |toks AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM n),
           |hs AS (SELECT doc_id,
           |         CAST(concat('0x', substr(md5(tok), 1, 4)) AS BIGINT) AS h FROM toks),
           |bits AS (
           |  SELECT doc_id,
           |    $bitSums
           |  FROM hs GROUP BY doc_id)
           |SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM bits""".stripMargin
      }),

    // 64-bit simhash, oracle-checked at FULL width via the md5 bit
    // source (hi/lo 32-bit halves — DuckDB re-derives both and
    // assembles the signed fingerprint through HUGEINT to express the
    // sign-bit term). Production default bit source is xxhash64
    // (cheaper, Spark-specific) — same plan, spec-covered (LlmOpsSpec).
    "dd_simhash64" -> QueryDef.sql(
      (s, dir) => TextDedup.simhash64(docs(s, dir), "doc_id", "text",
        TextDedup.md5Bits64),
      {
        val bitSums = (0 until 64).map { b =>
          val src = if (b < 32) s"(lo >> $b)" else s"(hi >> ${b - 32})"
          s"SUM(CASE WHEN ($src & 1) = 1 THEN 1 ELSE -1 END) AS b_$b"
        }.mkString(",\n    ")
        val fpu = (0 until 64).map { b =>
          s"(CASE WHEN b_$b > 0 THEN CAST('${BigInt(1) << b}' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)"
        }.mkString(" + ")
        s"""WITH n AS (SELECT doc_id, ${normSql("text")} AS t FROM documents),
           |toks AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM n),
           |hs AS (SELECT doc_id,
           |         CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
           |         CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS lo FROM toks),
           |bits AS (SELECT doc_id, $bitSums FROM hs GROUP BY doc_id),
           |fpu AS (SELECT doc_id, $fpu AS u FROM bits)
           |SELECT doc_id,
           |  CAST(CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
           |            THEN u - CAST('18446744073709551616' AS HUGEINT)
           |            ELSE u END AS BIGINT) AS simhash64
           |FROM fpu""".stripMargin
      }),

    "dd_ngram_jaccard" -> QueryDef.sql(
      (s, dir) =>
        // explicit opt-in to the block-size skew guard: this is the
        // documented 1×-exact evidence path (named scale-oracle
        // exclusion — at derived scale every block exceeds the cap
        // and the result is empty BY CONTRACT); unsanctioned callers
        // get a loud failure instead (TextDedup.blockCapGuard)
        TextDedup.ngramJaccardPairs(nearDupCorpus(s, dir), "doc_id", "text",
          "lang", threshold = 0.5, allowBlockExclusion = true),
      s"""WITH $nearDupCorpusSql,
         |$shinglesSql
         |SELECT a.doc_id AS id_1, b.doc_id AS id_2,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / CAST(len(list_distinct(list_cat(a.sh, b.sh))) AS DOUBLE) AS jaccard
         |FROM shl a JOIN shl b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / CAST(len(list_distinct(list_cat(a.sh, b.sh))) AS DOUBLE) >= 0.5""".stripMargin),

    // ───── exact n-gram CONTAINMENT pairs (Broder 1997's second
    // metric): |A∩B| / min(|A|,|B|) — the near-subset detector for
    // doc-in-doc duplication that Jaccard's union denominator caps at
    // |A|/|B|. The "+ ' copy'" variants are near-supersets of their
    // originals, so they pair at t=0.9 where dd_ngram_jaccard needs
    // t=0.5 for the same corpus.
    "dd_ngram_containment" -> QueryDef.sql(
      (s, dir) =>
        TextDedup.ngramContainmentPairs(nearDupCorpus(s, dir), "doc_id",
          "text", "lang", threshold = 0.9, allowBlockExclusion = true),
      s"""WITH $nearDupCorpusSql,
         |$shinglesSql
         |SELECT a.doc_id AS id_1, b.doc_id AS id_2,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / CAST(least(len(a.sh), len(b.sh)) AS DOUBLE) AS containment
         |FROM shl a JOIN shl b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / CAST(least(len(a.sh), len(b.sh)) AS DOUBLE) >= 0.9""".stripMargin),

    // ───── PPJoin-style prefix-filtered exact Jaccard join: SAME
    // result set as dd_ngram_jaccard (the oracle SQL is identical),
    // but candidates come from an equi-join on (block, prefix token)
    // instead of a block-cartesian — subquadratic, no size cap, no
    // excluded blocks. This is the form that survives 100 TB, where
    // the biggest block IS the corpus.
    "dd_ngram_prefix" -> QueryDef.sql(
      (s, dir) =>
        TextDedup.ngramJaccardPairsPrefix(nearDupCorpus(s, dir), "doc_id",
          "text", "lang", threshold = 0.5),
      s"""WITH $nearDupCorpusSql,
         |$shinglesSql
         |SELECT a.doc_id AS id_1, b.doc_id AS id_2,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / CAST(len(list_distinct(list_cat(a.sh, b.sh))) AS DOUBLE) AS jaccard
         |FROM shl a JOIN shl b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / CAST(len(list_distinct(list_cat(a.sh, b.sh))) AS DOUBLE) >= 0.5""".stripMargin),

    // ───────── similarity search ─────────

    "ann_topk" -> QueryDef.sql(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10)
          .withColumn("rank", col("rank").cast("int"))
      },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
         |sc AS (
         |  SELECT query_id, cand_id, round(${cosineSql("qv", "cv")}, 6) AS cos_sim
         |  FROM c, q WHERE query_id <> cand_id)
         |SELECT query_id, cand_id, cos_sim, rank FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY cos_sim DESC, cand_id) AS INTEGER) AS rank
         |  FROM sc)
         |WHERE rank <= 10""".stripMargin),

    // ───── MMR diversified re-ranking (Carbonell & Goldstein 1998)
    // over the brute-force pool: 4 greedy picks maximizing
    // λ·rel − (1−λ)·max-sim-to-selected — the re-rank that stops a
    // RAG retriever returning four near-copies of one passage. The
    // greedy loop is per-row array algebra over the collapsed
    // per-query pool (each step behind a no_inline fence — unfenced,
    // the expression tree doubles per step); unit-vector dots use
    // the fixed-order fold both engines replicate bit-for-bit, and
    // every comparison is on 6 dp-rounded scores with a −cand_id
    // struct tie-break. The oracle unrolls the same 4 steps as
    // pick/max-sim/filter CTE rounds.
    "ret_mmr_rerank" -> QueryDef.sql(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.mmrRerank(e, e.filter(col("vec_id") < 3),
          "vec_id", "embedding", poolK = 15, outK = 4, lambdaPct = 50)
      },
      {
        val dotSql = (a: String, b: String) =>
          s"list_aggregate([$a[i] * $b[i] for i in generate_series(1, 64)], 'sum')"
        val steps = (2 to 4).map { j =>
          val prev = (1 until j).map(i => s"SELECT query_id, cand_id, u FROM b$i")
            .mkString("\n  UNION ALL ")
          s"""pk$j AS (
             |  $prev),
             |ms$j AS (
             |  SELECT pl.query_id, pl.cand_id,
             |         round(MAX(${dotSql("pl.u", "b.u")}), 6) AS msim
             |  FROM pool pl JOIN pk$j b USING (query_id)
             |  GROUP BY 1, 2),
             |r$j AS (
             |  SELECT pl.query_id, pl.cand_id, pl.rel, pl.u,
             |         round(0.5 * pl.rel - 0.5 * m.msim, 6) AS mmr
             |  FROM pool pl
             |  JOIN ms$j m ON m.query_id = pl.query_id AND m.cand_id = pl.cand_id
             |  LEFT JOIN pk$j x ON x.query_id = pl.query_id AND x.cand_id = pl.cand_id
             |  WHERE x.cand_id IS NULL),
             |b$j AS (
             |  SELECT query_id, cand_id, rel, u, mmr FROM (
             |    SELECT *, row_number() OVER (PARTITION BY query_id
             |                ORDER BY mmr DESC, cand_id) AS rn FROM r$j)
             |  WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        val out = (1 to 4).map(j =>
          s"SELECT query_id, $j AS pos, cand_id, rel, mmr FROM b$j")
          .mkString("\nUNION ALL ")
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
           |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
           |sc AS (
           |  SELECT query_id, cand_id, round(${cosineSql("qv", "cv")}, 6) AS rel, cv
           |  FROM c, q WHERE query_id <> cand_id),
           |pool AS (
           |  SELECT query_id, cand_id, rel,
           |    [CAST(cv[i] AS DOUBLE)
           |       / sqrt(list_aggregate([CAST(cv[j] AS DOUBLE) * CAST(cv[j] AS DOUBLE)
           |                              for j in generate_series(1, 64)], 'sum'))
           |     for i in generate_series(1, 64)] AS u
           |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           |              ORDER BY rel DESC, cand_id) AS rn FROM sc)
           |  WHERE rn <= 15),
           |b1 AS (
           |  SELECT query_id, cand_id, rel, u,
           |         round(0.5 * rel - 0.5 * 0.0, 6) AS mmr FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |                ORDER BY round(0.5 * rel - 0.5 * 0.0, 6) DESC, cand_id) AS rn
           |    FROM pool)
           |  WHERE rn = 1),
           |$steps
           |$out""".stripMargin
      }),

    // ───── int8-quantized brute-force top-k: the ANN memory-scale
    // path (1 byte/dim at rest, 4× smaller than float32; max-abs
    // scale cancels in cosine so scoring never dequantizes). The
    // oracle reproduces the quantizer digit-for-digit: double-
    // promoted division + half-away-from-zero round are identical in
    // Spark and DuckDB, and the int-valued dot is exact in both.
    "ann_int8_topk" -> QueryDef.sql(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.quantizedTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10)
          .withColumn("rank", col("rank").cast("int"))
      },
      s"""WITH sc0 AS (
         |  SELECT vec_id, embedding,
         |         greatest(list_max([abs(CAST(y AS DOUBLE)) for y in embedding]) / 127.0,
         |                  2.2250738585072014e-308) AS s
         |  FROM embeddings),
         |qz AS (
         |  SELECT vec_id,
         |         [round(CAST(x AS DOUBLE) / s) for x in embedding] AS qv
         |  FROM sc0),
         |q AS (SELECT vec_id AS query_id, qv AS qvq FROM qz WHERE vec_id < 5),
         |c AS (SELECT vec_id AS cand_id, qv AS qvc FROM qz),
         |sc AS (
         |  SELECT query_id, cand_id, round(${cosineSql("qvq", "qvc")}, 6) AS cos_sim
         |  FROM c, q WHERE query_id <> cand_id)
         |SELECT query_id, cand_id, cos_sim, rank FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY cos_sim DESC, cand_id) AS INTEGER) AS rank
         |  FROM sc)
         |WHERE rank <= 10""".stripMargin),

    "ann_lsh_topk" -> QueryDef.sql(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.lshTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", dim = 64, k = 10, numPlanes = 4)
          .withColumn("rank", col("rank").cast("int"))
      },
      s"""WITH plane AS (
         |  SELECT j, i,
         |    CASE WHEN (CAST(concat('0x', substr(md5(concat(j, '|', i)), 1, 2)) AS INTEGER) & 1) = 0
         |         THEN 1.0 ELSE -1.0 END AS s
         |  FROM generate_series(0, 3) t(j), generate_series(0, 63) u(i)),
         |expl AS (
         |  SELECT vec_id, i.i AS i, CAST(embedding[i.i + 1] AS DOUBLE) AS v
         |  FROM embeddings, generate_series(0, 63) i(i)),
         |dots AS (
         |  SELECT vec_id, j, sum(v * s) AS d
         |  FROM expl JOIN plane USING (i) GROUP BY vec_id, j),
         |bucket AS (
         |  SELECT vec_id,
         |    CAST(sum(CASE WHEN d >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM dots GROUP BY vec_id),
         |q AS (SELECT e.vec_id AS query_id, e.embedding AS qv, bk.bucket
         |      FROM embeddings e JOIN bucket bk ON e.vec_id = bk.vec_id WHERE e.vec_id < 5),
         |c AS (SELECT e.vec_id AS cand_id, e.embedding AS cv, bk.bucket
         |      FROM embeddings e JOIN bucket bk ON e.vec_id = bk.vec_id),
         |sc AS (
         |  SELECT query_id, cand_id, round(${cosineSql("qv", "cv")}, 6) AS cos_sim
         |  FROM c JOIN q USING (bucket) WHERE query_id <> cand_id)
         |SELECT query_id, cand_id, cos_sim, rank FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY cos_sim DESC, cand_id) AS INTEGER) AS rank
         |  FROM sc)
         |WHERE rank <= 10""".stripMargin),

    // IVF with k-means-trained cells — the data-adaptive index build,
    // oracle-checked END TO END: kmeansCentroids is cross-engine
    // deterministic (round-6 assignment scores, exact decimal cell
    // means — see its scaladoc), so the oracle unrolls the 3 Lloyd
    // iterations as SQL CTEs (assign → argmax → per-dim exact mean →
    // coalesce empty cells) and reproduces every centroid bit-for-bit
    // before running the oracle-proven ann_ivf_topk probe/join shape.
    "ann_ivf_kmeans_topk" -> QueryDef.sql(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.ivfTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, nprobe = 1,
          centroidsOverride =
            Some(Similarity.kmeansCentroids(e, "vec_id", "embedding", k = 8, iters = 3)))
          .withColumn("rank", col("rank").cast("int"))
      },
      {
        val iters = 3
        val itSql = (1 to iters).map { i =>
          s"""asg$i AS (
             |  SELECT v.vid, v.v, c.centroid_id,
             |         round(${cosineSql("v.v", "c.cv")}, 6) AS cc
             |  FROM vecs v, cent${i - 1} c),
             |cell$i AS (
             |  SELECT vid, v, centroid_id FROM (
             |    SELECT vid, v, centroid_id,
             |           row_number() OVER (PARTITION BY vid
             |                              ORDER BY cc DESC, centroid_id) AS rn
             |    FROM asg$i) WHERE rn = 1),
             |mean$i AS (
             |  SELECT centroid_id, d.i AS pos,
             |         CAST(SUM(CAST(v[d.i] AS DECIMAL(38,12))) AS DOUBLE)
             |           / COUNT(*) AS m
             |  FROM cell$i, generate_series(1, 64) AS d(i)
             |  GROUP BY 1, 2),
             |cent$i AS (
             |  SELECT p.centroid_id, COALESCE(n.nv, p.cv) AS cv
             |  FROM cent${i - 1} p LEFT JOIN (
             |    SELECT centroid_id, list(m ORDER BY pos) AS nv
             |    FROM mean$i GROUP BY 1) n USING (centroid_id))""".stripMargin
        }.mkString(",\n")
        s"""WITH vecs AS (
           |  SELECT vec_id AS vid,
           |         [CAST(x AS DOUBLE) for x in embedding] AS v
           |  FROM embeddings),
           |cent0 AS (
           |  SELECT CAST(row_number() OVER (ORDER BY vid) - 1 AS INTEGER) AS centroid_id,
           |         v AS cv
           |  FROM (SELECT vid, v FROM vecs ORDER BY vid LIMIT 8)),
           |$itSql,
           |asgF AS (
           |  SELECT v.vid, c.centroid_id,
           |         round(${cosineSql("v.v", "c.cv")}, 6) AS cc
           |  FROM vecs v, cent$iters c),
           |rankedF AS (
           |  SELECT vid, centroid_id,
           |         row_number() OVER (PARTITION BY vid
           |                            ORDER BY cc DESC, centroid_id) AS rn
           |  FROM asgF),
           |cells AS (SELECT vid AS cand_id, centroid_id FROM rankedF WHERE rn = 1),
           |probes AS (SELECT vid AS query_id, centroid_id FROM rankedF
           |           WHERE rn = 1 AND vid < 5),
           |sc AS (
           |  SELECT p.query_id, ce.cand_id,
           |         round(${cosineSql("eq.embedding", "ec.embedding")}, 6) AS cos_sim
           |  FROM probes p
           |  JOIN cells ce USING (centroid_id)
           |  JOIN embeddings eq ON eq.vec_id = p.query_id
           |  JOIN embeddings ec ON ec.vec_id = ce.cand_id
           |  WHERE p.query_id <> ce.cand_id)
           |SELECT query_id, cand_id, cos_sim, rank FROM (
           |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
           |              ORDER BY cos_sim DESC, cand_id) AS INTEGER) AS rank
           |  FROM sc)
           |WHERE rank <= 10""".stripMargin
      }),

    // Sample-trained k-means IVF — THE registered scale shape: Lloyd
    // trains on a deterministic 10% md5 hash-sample of the corpus
    // (Sampling.sampleByHash), so the per-iteration (cell, dim) mean
    // agg — the posexplode corpus×dim shuffle that dominates the
    // full-corpus build above — shrinks by the sample rate, while the
    // map-only full-corpus ASSIGNMENT is unchanged. The hash sample
    // is pure md5 arithmetic, so the oracle re-derives it exactly and
    // unrolls the same Lloyd rounds over the sampled CTE. Centroids
    // differ from the full-corpus build by construction (training set
    // is a semantic parameter), hence a separate oracle-checked query
    // rather than an optimization of ann_ivf_kmeans_topk.
    "ann_ivf_kmeans_sampled" -> QueryDef.sql(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.ivfTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, nprobe = 1,
          centroidsOverride =
            Some(Similarity.kmeansCentroids(e, "vec_id", "embedding",
              k = 8, iters = 3, samplePct = 10)))
          .withColumn("rank", col("rank").cast("int"))
      },
      {
        val iters = 3
        val itSql = (1 to iters).map { i =>
          s"""asg$i AS (
             |  SELECT v.vid, v.v, c.centroid_id,
             |         round(${cosineSql("v.v", "c.cv")}, 6) AS cc
             |  FROM samp v, cent${i - 1} c),
             |cell$i AS (
             |  SELECT vid, v, centroid_id FROM (
             |    SELECT vid, v, centroid_id,
             |           row_number() OVER (PARTITION BY vid
             |                              ORDER BY cc DESC, centroid_id) AS rn
             |    FROM asg$i) WHERE rn = 1),
             |mean$i AS (
             |  SELECT centroid_id, d.i AS pos,
             |         CAST(SUM(CAST(v[d.i] AS DECIMAL(38,12))) AS DOUBLE)
             |           / COUNT(*) AS m
             |  FROM cell$i, generate_series(1, 64) AS d(i)
             |  GROUP BY 1, 2),
             |cent$i AS (
             |  SELECT p.centroid_id, COALESCE(n.nv, p.cv) AS cv
             |  FROM cent${i - 1} p LEFT JOIN (
             |    SELECT centroid_id, list(m ORDER BY pos) AS nv
             |    FROM mean$i GROUP BY 1) n USING (centroid_id))""".stripMargin
        }.mkString(",\n")
        s"""WITH vecs AS (
           |  SELECT vec_id AS vid,
           |         [CAST(x AS DOUBLE) for x in embedding] AS v
           |  FROM embeddings),
           |samp AS (
           |  SELECT vid, v FROM vecs
           |  WHERE CAST(concat('0x', substr(md5(CAST(vid AS VARCHAR)), 1, 6)) AS BIGINT) % 100 < 10),
           |cent0 AS (
           |  SELECT CAST(row_number() OVER (ORDER BY vid) - 1 AS INTEGER) AS centroid_id,
           |         v AS cv
           |  FROM (SELECT vid, v FROM samp ORDER BY vid LIMIT 8)),
           |$itSql,
           |asgF AS (
           |  SELECT v.vid, c.centroid_id,
           |         round(${cosineSql("v.v", "c.cv")}, 6) AS cc
           |  FROM vecs v, cent$iters c),
           |rankedF AS (
           |  SELECT vid, centroid_id,
           |         row_number() OVER (PARTITION BY vid
           |                            ORDER BY cc DESC, centroid_id) AS rn
           |  FROM asgF),
           |cells AS (SELECT vid AS cand_id, centroid_id FROM rankedF WHERE rn = 1),
           |probes AS (SELECT vid AS query_id, centroid_id FROM rankedF
           |           WHERE rn = 1 AND vid < 5),
           |sc AS (
           |  SELECT p.query_id, ce.cand_id,
           |         round(${cosineSql("eq.embedding", "ec.embedding")}, 6) AS cos_sim
           |  FROM probes p
           |  JOIN cells ce USING (centroid_id)
           |  JOIN embeddings eq ON eq.vec_id = p.query_id
           |  JOIN embeddings ec ON ec.vec_id = ce.cand_id
           |  WHERE p.query_id <> ce.cand_id)
           |SELECT query_id, cand_id, cos_sim, rank FROM (
           |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
           |              ORDER BY cos_sim DESC, cand_id) AS INTEGER) AS rank
           |  FROM sc)
           |WHERE rank <= 10""".stripMargin
      }),

    // ───── SemDeDup (arXiv:2303.09540), EXACT-within-cell evidence
    // twin: k-means cells bound the pair space (Σ|cell|², never
    // |corpus|²); within-cell cosine ≥ t with lowest-id-wins pruning.
    // Corpus = embeddings ∪ identical copies at +10000, so every copy
    // is guaranteed a same-cell exact twin (identical vectors score
    // identically against every centroid) — the oracle re-runs the
    // unrolled Lloyd recipe and the same exists-lower-id rule.
    // `_coarse` because per-cell density (with k pinned by the
    // oracle) grows linearly with the corpus, so within-cell pair
    // work is output-quadratic by SEMANTICS — the 30× sweep measured
    // ratio 3.39; the registered default `dd_semdedup` sub-blocks the
    // cell. Same treatment as the MDM coarse family: oracle-gated at
    // correctness SFs, excluded from derived-scale sweeps BY NAME and
    // reported in `excluded_twins`.
    "dd_semdedup_coarse" -> QueryDef.sql(
      (s, dir) => {
        val e = emb(s, dir).select("vec_id", "embedding")
        val corpus = e.unionByName(
          e.select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
        Similarity.semDedup(corpus, "vec_id", "embedding",
          k = 8, iters = 2, threshold = 0.5)
      },
      s"""WITH vecs AS (
         |  SELECT vec_id AS vid,
         |         [CAST(x AS DOUBLE) for x in embedding] AS v
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000,
         |         [CAST(x AS DOUBLE) for x in embedding]
         |  FROM embeddings),
         |${kmeansCellsSql(k = 8, iters = 2, samplePct = 100)},
         |dup AS (
         |  SELECT DISTINCT b.vid
         |  FROM cells a
         |  JOIN cells b ON a.centroid_id = b.centroid_id AND a.vid < b.vid
         |  JOIN vecs va ON va.vid = a.vid
         |  JOIN vecs vb ON vb.vid = b.vid
         |  WHERE round(${cosineSql("va.v", "vb.v")}, 6) >= 0.5)
         |SELECT c.vid AS vec_id, c.centroid_id AS cell_id,
         |       (d.vid IS NULL) AS keep
         |FROM cells c LEFT JOIN dup d ON c.vid = d.vid""".stripMargin),

    // ───── SemDeDup, registered DEFAULT (the scale path): pairs only
    // within (cell, 4-plane LSH bucket) — exact copies always collide
    // (the 500 planted twins must all still prune), near-dups may
    // split (the LSH recall trade). The 30× sweep measured the exact
    // form at ratio 3.39 with k pinned by its oracle; sub-blocking
    // restores headroom without growing k. The exact-within-cell form
    // is kept as the `dd_semdedup_coarse` evidence twin.
    "dd_semdedup" -> QueryDef.sql(
      (s, dir) => {
        val e = emb(s, dir).select("vec_id", "embedding")
        val corpus = e.unionByName(
          e.select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
        Similarity.semDedupBucketed(corpus, "vec_id", "embedding",
          dim = 64, k = 8, iters = 2, threshold = 0.5, numPlanes = 4)
      },
      s"""WITH vecs AS (
         |  SELECT vec_id AS vid,
         |         [CAST(x AS DOUBLE) for x in embedding] AS v
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000,
         |         [CAST(x AS DOUBLE) for x in embedding]
         |  FROM embeddings),
         |${kmeansCellsSql(k = 8, iters = 2, samplePct = 100)},
         |plane AS (
         |  SELECT j, i,
         |    CASE WHEN (CAST(concat('0x', substr(md5(concat(j, '|', i)), 1, 2)) AS INTEGER) & 1) = 0
         |         THEN 1.0 ELSE -1.0 END AS s
         |  FROM generate_series(0, 3) t(j), generate_series(0, 63) u(i)),
         |expl AS (
         |  SELECT vid, i.i AS i, v[i.i + 1] AS x
         |  FROM vecs, generate_series(0, 63) i(i)),
         |dots AS (
         |  SELECT vid, j, sum(x * s) AS d
         |  FROM expl JOIN plane USING (i) GROUP BY vid, j),
         |bkt AS (
         |  SELECT vid,
         |    CAST(sum(CASE WHEN d >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM dots GROUP BY vid),
         |dup AS (
         |  SELECT DISTINCT b.vid
         |  FROM cells a
         |  JOIN cells b ON a.centroid_id = b.centroid_id AND a.vid < b.vid
         |  JOIN bkt ba ON ba.vid = a.vid
         |  JOIN bkt bb ON bb.vid = b.vid AND ba.bucket = bb.bucket
         |  JOIN vecs va ON va.vid = a.vid
         |  JOIN vecs vb ON vb.vid = b.vid
         |  WHERE round(${cosineSql("va.v", "vb.v")}, 6) >= 0.5)
         |SELECT c.vid AS vec_id, c.centroid_id AS cell_id,
         |       (d.vid IS NULL) AS keep
         |FROM cells c LEFT JOIN dup d ON c.vid = d.vid""".stripMargin),

    // ───── prototype pruning (arXiv:2206.14486): per-cell rank by
    // cosine-to-own-centroid, drop the top 25% most prototypical per
    // cell (floor — small cells under-prune). Per-cell window only;
    // k is the scale lever exactly as in dd_semdedup.
    "corpus_prune_prototypes" -> QueryDef.sql(
      (s, dir) =>
        Similarity.prototypePrune(emb(s, dir), "vec_id", "embedding",
          k = 8, iters = 2, prunePct = 25),
      s"""WITH vecs AS (
         |  SELECT vec_id AS vid,
         |         [CAST(x AS DOUBLE) for x in embedding] AS v
         |  FROM embeddings),
         |${kmeansCellsSql(k = 8, iters = 2, samplePct = 100)},
         |r AS (
         |  SELECT vid, centroid_id, cc,
         |         row_number() OVER (PARTITION BY centroid_id
         |                            ORDER BY cc DESC, vid) AS rn,
         |         count(*) OVER (PARTITION BY centroid_id) AS cnt
         |  FROM cells)
         |SELECT vid AS vec_id, centroid_id AS cell_id, cc AS centroid_cos,
         |       rn > floor(cnt * 25 / 100) AS keep
         |FROM r""".stripMargin),

    "ann_ivf_topk" -> QueryDef.sql(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.ivfTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, numCentroids = 8, nprobe = 1)
          .withColumn("rank", col("rank").cast("int"))
      },
      s"""WITH cent AS (
         |  SELECT vec_id AS centroid_id, embedding AS cv
         |  FROM embeddings ORDER BY vec_id LIMIT 8),
         |asg AS (
         |  SELECT e.vec_id, c.centroid_id,
         |         round(${cosineSql("e.embedding", "c.cv")}, 6) AS cc
         |  FROM embeddings e, cent c),
         |ranked AS (
         |  SELECT vec_id, centroid_id,
         |         row_number() OVER (PARTITION BY vec_id
         |                            ORDER BY cc DESC, centroid_id) AS rn
         |  FROM asg),
         |cells AS (SELECT vec_id AS cand_id, centroid_id FROM ranked WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, centroid_id FROM ranked
         |           WHERE rn = 1 AND vec_id < 5),
         |sc AS (
         |  SELECT p.query_id, ce.cand_id,
         |         round(${cosineSql("eq.embedding", "ec.embedding")}, 6) AS cos_sim
         |  FROM probes p
         |  JOIN cells ce USING (centroid_id)
         |  JOIN embeddings eq ON eq.vec_id = p.query_id
         |  JOIN embeddings ec ON ec.vec_id = ce.cand_id
         |  WHERE p.query_id <> ce.cand_id)
         |SELECT query_id, cand_id, cos_sim, rank FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY cos_sim DESC, cand_id) AS INTEGER) AS rank
         |  FROM sc)
         |WHERE rank <= 10""".stripMargin),

    // ───── ANN quality EVAL as an engine query — recall@10 and
    // reciprocal rank of the IVF index against the exact brute-force
    // ranking, per query, all-integer (ppm). This is the harness that
    // decides nprobe/centroid settings before a 100 TB index build:
    // ground truth on a sampled query panel is exactly this
    // composition, and both arms already have engine-exact semantics
    // (6 dp cosine, deterministic tie-breaks) so the eval itself is
    // oracle-reproducible — the metric can't drift between engines.
    "ret_eval_recall" -> QueryDef.sql(
      (s, dir) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 5)
        val bf = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("cand_id"),
            col("rank").cast("int").as("bf_rank"))
        val ivf = Similarity.ivfTopK(e, q, "vec_id", "embedding",
          k = 10, numCentroids = 8, nprobe = 1)
          .select(col("query_id"), col("cand_id"),
            col("rank").cast("int").as("ivf_rank"))
        bf.join(ivf, Seq("query_id", "cand_id"), "left")
          .groupBy(col("query_id"))
          .agg(
            sum(when(col("ivf_rank").isNotNull, 1L).otherwise(0L))
              .as("n_hits"),
            max(when(col("bf_rank") === 1,
              coalesce(expr("1000000L DIV ivf_rank"), lit(0L))))
              .as("rr_ppm"))
          .withColumn("recall_ppm", expr("n_hits * 1000000L DIV 10"))
      },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
         |bf AS (
         |  SELECT query_id, cand_id, bf_rank FROM (
         |    SELECT q.query_id, c.cand_id,
         |      CAST(row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round(${cosineSql("q.qv", "c.cv")}, 6) DESC,
         |                 c.cand_id) AS INTEGER) AS bf_rank
         |    FROM q, c WHERE q.query_id <> c.cand_id)
         |  WHERE bf_rank <= 10),
         |cent AS (
         |  SELECT vec_id AS centroid_id, embedding AS cv
         |  FROM embeddings ORDER BY vec_id LIMIT 8),
         |asg AS (
         |  SELECT e.vec_id, ct.centroid_id,
         |         round(${cosineSql("e.embedding", "ct.cv")}, 6) AS cc
         |  FROM embeddings e, cent ct),
         |ranked AS (
         |  SELECT vec_id, centroid_id,
         |         row_number() OVER (PARTITION BY vec_id
         |                            ORDER BY cc DESC, centroid_id) AS rn
         |  FROM asg),
         |cells AS (SELECT vec_id AS cand_id, centroid_id
         |          FROM ranked WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, centroid_id FROM ranked
         |           WHERE rn = 1 AND vec_id < 5),
         |ivf AS (
         |  SELECT query_id, cand_id, ivf_rank FROM (
         |    SELECT sc.query_id, sc.cand_id,
         |      CAST(row_number() OVER (PARTITION BY sc.query_id
         |        ORDER BY sc.cos_sim DESC, sc.cand_id) AS INTEGER)
         |        AS ivf_rank
         |    FROM (
         |      SELECT p.query_id, ce.cand_id,
         |        round(${cosineSql("eq.embedding", "ec.embedding")}, 6)
         |          AS cos_sim
         |      FROM probes p
         |      JOIN cells ce USING (centroid_id)
         |      JOIN embeddings eq ON eq.vec_id = p.query_id
         |      JOIN embeddings ec ON ec.vec_id = ce.cand_id
         |      WHERE p.query_id <> ce.cand_id) sc)
         |  WHERE ivf_rank <= 10)
         |SELECT bf.query_id,
         |  CAST(SUM(CASE WHEN ivf.ivf_rank IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  CAST(MAX(CASE WHEN bf.bf_rank = 1
         |    THEN COALESCE(1000000 // ivf.ivf_rank, 0) END) AS BIGINT)
         |    AS rr_ppm,
         |  CAST(SUM(CASE WHEN ivf.ivf_rank IS NOT NULL THEN 1 ELSE 0 END)
         |    * 1000000 // 10 AS BIGINT) AS recall_ppm
         |FROM bf LEFT JOIN ivf USING (query_id, cand_id)
         |GROUP BY 1""".stripMargin),

    "emb_dup_pairs" -> QueryDef.sql(
      (s, dir) => {
        val e = emb(s, dir).select("vec_id", "embedding")
        val corpus = e.unionByName(
          e.select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
        Similarity.embeddingDupPairs(corpus, "vec_id", "embedding",
          dim = 64, threshold = 0.99)
      },
      // oracle: bucketing can only LOSE pairs, and identical vectors
      // always share a bucket; at threshold 0.99 the surviving set
      // equals the unbucketed one, so the twin checks the full
      // cross-product formula.
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000, embedding FROM embeddings)
         |SELECT a.vec_id AS id_1, b.vec_id AS id_2,
         |       round(${cosineSql("a.embedding", "b.embedding")}, 6) AS cos_sim
         |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
         |WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6) >= 0.99""".stripMargin),

    // ───────── multimodal plumbing (header parse real; pixel decode
    // is a marked stub). Payloads here are text bytes, so the header
    // probe correctly reports no image format — the oracle pins the
    // nulls; real-image parsing is spec-covered (LlmOpsSpec).

    "mm_features" -> QueryDef.sql(
      (s, dir) =>
        Multimodal.extractFeatures(
          Multimodal.fromText(docs(s, dir), "doc_id", "text", "image"))
          .toDF(),
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  md5(text) AS content_md5,
        |  array_to_string([CAST((i * CAST(octet_length(encode(text)) AS BIGINT)) // 4 AS VARCHAR)
        |                   for i in generate_series(0, 3)], ',') AS frame_offsets,
        |  CAST(octet_length(encode(text)) % 256 AS BIGINT) AS fake_brightness,
        |  CAST(NULL AS VARCHAR) AS image_format,
        |  CAST(NULL AS INTEGER) AS width,
        |  CAST(NULL AS INTEGER) AS height,
        |  CAST(NULL AS DOUBLE) AS mean_r,
        |  CAST(NULL AS DOUBLE) AS mean_g,
        |  CAST(NULL AS DOUBLE) AS mean_b
        |FROM documents""".stripMargin),

    // ───── audio path: documents' UTF-8 bytes wrapped as real PCM16
    // mono WAV payloads, then parsed BACK by the pure-JVM RIFF header
    // reader — the oracle re-derives frame count and duration from
    // byte-length arithmetic, proving the header round-trip. RMS/peak
    // (the real sample decode) are spec-verified on synthetic sine
    // waves (LlmOpsSpec) where SQL can't follow.
    // ───── REAL RIFF/AVI container parse: deterministic raw-RGB AVI
    // built from each doc's bytes (8×4 frames, 96 B each, 10 fps),
    // then width/height/frames/duration re-derived by the actual
    // header parser. The oracle recomputes the container math from
    // the text length — any builder/parser disagreement breaks it.
    "mm_video_meta" -> QueryDef.sql(
      (s, dir) => {
        import s.implicits._
        val vids = docs(s, dir)
          .select(col("doc_id").cast("long"), col("text"))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            val bytes = text.getBytes("UTF-8")
            val frameSize = 96 // 8×4 RGB
            val frames =
              if (bytes.isEmpty) Seq(new Array[Byte](frameSize))
              else bytes.grouped(frameSize)
                .map(c => java.util.Arrays.copyOf(c, frameSize)).toSeq
            (id, Multimodal.aviFromFrames(frames, width = 8, height = 4, fps = 10))
          }).toDF("media_id", "content")
        Multimodal.extractVideoFeatures(vids)
          .select("media_id", "width", "height", "n_frames", "fps", "duration_ms")
      },
      """SELECT doc_id AS media_id,
        |       8 AS width, 4 AS height,
        |       GREATEST(CAST((octet_length(encode(text)) + 95) // 96 AS BIGINT), 1) AS n_frames,
        |       10 AS fps,
        |       GREATEST(CAST((octet_length(encode(text)) + 95) // 96 AS BIGINT), 1) * 100 AS duration_ms
        |FROM documents""".stripMargin),

    "mm_audio_meta" -> QueryDef.sql(
      (s, dir) => {
        import s.implicits._
        val wavs = docs(s, dir)
          .select(col("doc_id").cast("long"), col("text"))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            (id, Multimodal.wavFromPcmBytes(text.getBytes("UTF-8")))
          }).toDF("media_id", "content")
        Multimodal.extractAudioFeatures(wavs)
          .select("media_id", "sample_rate", "n_frames", "duration_ms")
      },
      """SELECT doc_id AS media_id,
        |       16000 AS sample_rate,
        |       CAST(octet_length(encode(text)) // 2 AS BIGINT) AS n_frames,
        |       CAST((octet_length(encode(text)) // 2) * 1000 // 16000 AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin),

    // ───── 64-bit audio fingerprint, re-derived BIT-FOR-BIT by the
    // oracle: the docs' UTF-8 bytes wrapped as PCM16 WAV (as in
    // mm_audio_meta), then the block-energy hash. The arithmetic is
    // engine-reproducible by construction — exact Long Σv² per block,
    // one IEEE division, fixed-order 64-term mean — so DuckDB can
    // recompute the identical signed 64-bit value from hex-extracted
    // bytes. This is the decode path the image/video hashes can't
    // gate (SQL can't decode PNG/AVI); audio CAN be, so it is.
    "mm_audio_hash" -> QueryDef.sql(
      (s, dir) => {
        import s.implicits._
        val wavs = docs(s, dir)
          .select(col("doc_id").cast("long"), col("text"))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            (id, Multimodal.wavFromPcmBytes(text.getBytes("UTF-8")))
          }).toDF("media_id", "content")
        Multimodal.audioHashes(wavs).toDF()
          .filter(col("audio_hash").isNotNull)
          .select(col("media_id"), col("audio_hash"))
      },
      """WITH wav AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) // 2 AS n
        |  FROM documents
        |  WHERE octet_length(encode(text)) // 2 >= 64),
        |samples AS (
        |  SELECT doc_id, k, i,
        |         ((k + 1) * n) // 64 - (k * n) // 64 AS cnt,
        |         CAST(concat('0x', substr(hx, 4 * i + 3, 2),
        |                     substr(hx, 4 * i + 1, 2)) AS INTEGER) AS u
        |  FROM wav,
        |       UNNEST(range(0, 64)) AS t(k),
        |       UNNEST(range((k * n) // 64, ((k + 1) * n) // 64)) AS s(i)),
        |energy AS (
        |  SELECT doc_id, k,
        |         CAST(SUM(CAST(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS BIGINT)
        |                  * CAST(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS BIGINT))
        |              AS DOUBLE) / any_value(cnt) AS e
        |  FROM samples GROUP BY doc_id, k),
        |m AS (
        |  SELECT doc_id, list_sum(list(e ORDER BY k)) / 64 AS mean
        |  FROM energy GROUP BY doc_id),
        |h AS (
        |  SELECT energy.doc_id,
        |         SUM(CASE WHEN e > mean
        |                  THEN CAST(power(2, k) AS HUGEINT)
        |                  ELSE CAST(0 AS HUGEINT) END) AS raw
        |  FROM energy JOIN m ON energy.doc_id = m.doc_id
        |  GROUP BY energy.doc_id)
        |SELECT doc_id AS media_id,
        |       CAST(CASE WHEN raw >= CAST(power(2, 63) AS HUGEINT)
        |                 THEN raw - CAST(power(2, 64) AS HUGEINT)
        |                 ELSE raw END AS BIGINT) AS audio_hash
        |FROM h""".stripMargin),

    // ───── C4 line-level cleaning (arXiv:1910.10683 §2.2): the
    // documents corpus has no line structure, so BOTH engines first
    // synthesize it deterministically — 8-token lines, every (doc+i)
    // ≡ 0 (mod 4) line truncated to 3 words (fails the ≥5-word rule),
    // every (doc+i) ≡ 2 (mod 3) line left unpunctuated (fails the
    // terminal-punct rule), doc%43 docs get "javascript" in line 0
    // (line dropped), doc%37 docs a "lorem ipsum" line and doc%41
    // docs a curly-brace line (page dropped) — then the operator
    // applies the published rules. Zero-exchange scan-side plan.
    "ta_c4_line_rules" -> QueryDef.sql(
      (s, dir) => {
        val toks = split(col("text"), " ")
        val nline = ceil(size(toks).cast("double") / 8).cast("int")
        val baseLines = transform(
          sequence(lit(0), greatest(nline - 1, lit(0))), i =>
            concat(
              array_join(
                slice(toks, i * 8 + 1,
                  when((col("doc_id") + i) % 4 === 0, lit(3)).otherwise(lit(8))),
                " "),
              when(i === 0 && col("doc_id") % 43 === 0, lit(" javascript"))
                .otherwise(lit("")),
              when((col("doc_id") + i) % 3 < 2, lit(".")).otherwise(lit(""))))
        val allLines = concat(
          baseLines,
          filter(array(lit("lorem ipsum dolor sit amet consectetur.")),
            _ => col("doc_id") % 37 === 0),
          filter(array(lit("function foo { bar baz qux quux }.")),
            _ => col("doc_id") % 41 === 0))
        val lined = docs(s, dir)
          .select(col("doc_id"), array_join(allLines, "\n").as("text2"))
        TextAnalysis.c4Clean(lined, "doc_id", "text2",
          minLineWords = 5, minLines = 3)
      },
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |lns AS (
        |  SELECT doc_id,
        |    [array_to_string(
        |       toks[(i*8+1):(i*8 + (CASE WHEN (doc_id+i)%4=0 THEN 3 ELSE 8 END))], ' ')
        |     || (CASE WHEN i=0 AND doc_id%43=0 THEN ' javascript' ELSE '' END)
        |     || (CASE WHEN (doc_id+i)%3<2 THEN '.' ELSE '' END)
        |     for i in generate_series(0,
        |       greatest(CAST(ceil(len(toks)/8.0) AS INTEGER)-1, 0))] AS ls
        |  FROM tk),
        |txt AS (
        |  SELECT doc_id, array_to_string(
        |    ls || (CASE WHEN doc_id%37=0
        |                THEN ['lorem ipsum dolor sit amet consectetur.']
        |                ELSE CAST([] AS VARCHAR[]) END)
        |       || (CASE WHEN doc_id%41=0
        |                THEN ['function foo { bar baz qux quux }.']
        |                ELSE CAST([] AS VARCHAR[]) END),
        |    chr(10)) AS text2
        |  FROM lns),
        |k AS (
        |  SELECT doc_id, text2,
        |    string_split(text2, chr(10)) AS lines,
        |    list_filter(string_split(text2, chr(10)), l ->
        |      regexp_matches(trim(l), '[.!?"]$')
        |      AND len(string_split_regex(trim(l), '\s+')) >= 5
        |      AND NOT regexp_matches(lower(l), '\bjavascript\b')) AS kept
        |  FROM txt)
        |SELECT doc_id,
        |       array_to_string(kept, chr(10)) AS clean_text,
        |       CAST(len(lines) AS INTEGER) AS n_lines,
        |       CAST(len(kept) AS INTEGER) AS n_lines_kept
        |FROM k
        |WHERE NOT contains(text2, '{')
        |  AND NOT contains(lower(text2), 'lorem ipsum')
        |  AND len(kept) >= 3""".stripMargin),

    // ───── exact-substring REMOVAL dedup (Lee et al. 2021,
    // arXiv:2107.06499 ExactSubstr): corpus = documents ∪ (+10000)
    // copies carrying the 8-token planted prefix. Position alignment
    // makes every copy segment a duplicate of its original's (the
    // original is the canonical min-(doc,pos) occurrence), so the
    // scrub must return every original INTACT (n_removed=0), drop
    // every copy as pure duplicate — except the single min-id copy,
    // which survives holding ONLY the planted prefix (its canonical
    // occurrence). The oracle re-derives segmentation, canonical
    // choice, and reassembly.
    "dd_substring_scrub" -> QueryDef.sql(
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text")
        val corpus = d.unionByName(d.select(
          (col("doc_id") + 10000).as("doc_id"),
          concat(lit("Subscribe to our newsletter for daily updates now "),
            col("text")).as("text")))
        TextDedup.substringScrub(corpus, "doc_id", "text", segTokens = 8)
      },
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000,
         |         'Subscribe to our newsletter for daily updates now ' || text
         |  FROM documents),
         |n AS (SELECT doc_id, ${normSql("text")} AS t FROM corpus),
         |tk AS (SELECT doc_id, string_split(t, ' ') AS toks FROM n),
         |sg AS (SELECT doc_id,
         |  [array_to_string(toks[(i*8+1):(i*8+8)], ' ')
         |   for i in generate_series(0,
         |     greatest(CAST(ceil(len(toks) / 8.0) AS INTEGER) - 1, 0))] AS segs
         |  FROM tk),
         |ex AS (
         |  SELECT doc_id, len(segs) AS nseg,
         |         unnest([{'pos': i, 'seg': segs[i]}
         |                 for i in generate_series(1, len(segs))],
         |                recursive := true)
         |  FROM sg),
         |marked AS (
         |  SELECT doc_id, nseg, pos, seg,
         |         count(*) OVER (PARTITION BY seg) AS n,
         |         row_number() OVER (PARTITION BY seg
         |                            ORDER BY doc_id, pos) AS rn
         |  FROM ex WHERE seg <> ''),
         |kept AS (
         |  SELECT doc_id, nseg, pos, seg FROM marked WHERE n = 1 OR rn = 1
         |  UNION ALL
         |  SELECT doc_id, nseg, pos, seg FROM ex WHERE seg = '')
         |SELECT doc_id,
         |       array_to_string(list(seg ORDER BY pos), ' ') AS clean_text,
         |       CAST(any_value(nseg) - count(*) AS BIGINT) AS n_removed
         |FROM kept GROUP BY doc_id""".stripMargin),

    // ───── per-doc word-unigram entropy (RedPajama-Data-v2's
    // rps_doc_unigram_entropy signal): −Σ p ln p over the doc's own
    // word distribution, folded over the SORTED distinct tokens so
    // the IEEE accumulation is engine-identical; 6 dp-rounded.
    "ta_unigram_entropy" -> QueryDef.sql(
      (s, dir) =>
        TextAnalysis.unigramEntropy(docs(s, dir), "doc_id", "text"),
      """WITH tk AS (
        |  SELECT doc_id,
        |         string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, toks, list_sort(list_distinct(toks)) AS dt,
        |         CAST(len(toks) AS DOUBLE) AS n
        |  FROM tk)
        |SELECT doc_id,
        |  CAST(len(toks) AS INTEGER) AS n_tokens,
        |  CAST(len(dt) AS INTEGER) AS n_distinct_tokens,
        |  round(-list_aggregate(
        |    [(CAST(len(list_filter(toks, x -> x = w)) AS DOUBLE) / n)
        |     * ln(CAST(len(list_filter(toks, x -> x = w)) AS DOUBLE) / n)
        |     for w in dt], 'sum'), 6) AS unigram_entropy
        |FROM m""".stripMargin),

    // ───── Luhn-validated card-number detection (ISO/IEC 7812 mod-10
    // checksum — the PII class regexes can't express): docs get a
    // planted VALID card (doc%11) and a planted checksum-INVALID
    // 16-digit run (doc%13); the oracle re-derives candidates, the
    // right-to-left double-every-second fold, and the scrub.
    "ta_pii_luhn" -> QueryDef.sql(
      (s, dir) => {
        val planted = docs(s, dir).select(
          col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 11 === 0, lit(" 4539148803436467"))
              .otherwise(lit("")),
            when(col("doc_id") % 13 === 0, lit(" 4539148803436468"))
              .otherwise(lit(""))).as("text"))
        TextAnalysis.luhnCcDetect(planted, "doc_id", "text")
      },
      """WITH planted AS (
        |  SELECT doc_id,
        |    text || (CASE WHEN doc_id % 11 = 0 THEN ' 4539148803436467' ELSE '' END)
        |         || (CASE WHEN doc_id % 13 = 0 THEN ' 4539148803436468' ELSE '' END) AS t
        |  FROM documents),
        |c AS (SELECT doc_id, t,
        |        list_filter(regexp_extract_all(t, '\d+'),
        |                    x -> length(x) BETWEEN 13 AND 19) AS cands
        |      FROM planted)
        |SELECT doc_id,
        |  CAST(len(cands) AS INTEGER) AS n_cc_candidates,
        |  CAST(len(list_filter(cands, x ->
        |    list_sum([CASE WHEN i % 2 = 0 THEN
        |        (CASE WHEN CAST(x[length(x)-i+1] AS INTEGER) * 2 > 9
        |              THEN CAST(x[length(x)-i+1] AS INTEGER) * 2 - 9
        |              ELSE CAST(x[length(x)-i+1] AS INTEGER) * 2 END)
        |      ELSE CAST(x[length(x)-i+1] AS INTEGER) END
        |      for i in generate_series(1, length(x))]) % 10 = 0)) AS INTEGER)
        |    AS n_cc_valid,
        |  regexp_replace(t, '\d{13,}', '[CC]', 'g') AS clean_text
        |FROM c""".stripMargin),

    // ───── hashed-n-gram linear classifier gate (X94 — the
    // fastText-shaped quality classifier behind DCLM/FineWeb-Edu,
    // run as pure relational inference): word uni+bigrams hashed
    // md5-prefix mod B, broadcast B-bounded basis-point weight
    // table, one map-combined per-doc integer sum, gate logit>0.
    // Weights are the deterministic synthetic vector so the oracle
    // re-derives model AND inference exactly (integer arithmetic
    // end to end — no float anywhere).
    "ta_classifier_gate" -> QueryDef.sql(
      (s, dir) =>
        TextAnalysis.hashedNgramScore(docs(s, dir), "doc_id", "text",
          TextAnalysis.syntheticWeights(s, 512), buckets = 512,
          biasBp = -1000L),
      """WITH tk AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                     t -> t <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         toks || [toks[i] || '_' || toks[i+1]
        |                  for i in range(1, len(toks))] AS grams
        |  FROM tk),
        |f AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substr(md5(unnest(grams)), 1, 6)) AS BIGINT)
        |           % 512 AS bucket
        |  FROM g),
        |w AS (
        |  SELECT range AS bucket,
        |         CAST(concat('0x', substr(md5('w:' || range), 1, 6)) AS BIGINT)
        |           % 1001 - 500 AS w_bp
        |  FROM range(512)),
        |sums AS (
        |  SELECT doc_id, count(*) AS nf, sum(w_bp) AS s
        |  FROM f JOIN w USING (bucket) GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(coalesce(nf, 0) AS BIGINT) AS n_features,
        |       CAST(coalesce(s, 0) - 1000 AS BIGINT) AS logit_bp,
        |       coalesce(s, 0) - 1000 > 0 AS keep
        |FROM documents d LEFT JOIN sums USING (doc_id)""".stripMargin),

    // ───── JL ±1 random projection (Achlioptas 2003) 64 → 16 dims:
    // scan-side vec_dot against md5-derived sign vectors, zero
    // shuffles; the oracle re-derives every sign and the fixed-order
    // double fold, so all 16 components match bit-for-bit at 6 dp.
    "emb_random_projection" -> QueryDef.sql(
      (s, dir) =>
        Similarity.randomProjection(emb(s, dir), "vec_id", "embedding",
          inDim = 64, outDim = 16, seed = "rp"),
      "SELECT vec_id,\n" + (0 until 16).map(j =>
        s"""  round(list_aggregate(
           |     [CAST(embedding[i + 1] AS DOUBLE) *
           |      (CASE WHEN (CAST(concat('0x',
           |              substr(md5('rp|$j|' || i), 1, 2)) AS INTEGER) & 1) = 0
           |            THEN 1.0 ELSE -1.0 END)
           |      for i in generate_series(0, 63)], 'sum') / 4.0, 6) AS proj_$j""".stripMargin)
        .mkString(",\n") + "\nFROM embeddings"),

    // ───── per-class centroid vectors (nearest-class-mean / Rocchio
    // prototypes; also the bootstrap for IVF and SemDeDup cells):
    // mean embedding per label as (label, dim, sum_q, n, mean)
    // rows. Sums are EXACT — components quantize to round(x·10⁴)
    // BIGINTs at the scan — so partial aggregation is
    // partitioning-invariant; the mean divides two exact integers in
    // one deterministic IEEE op (6 dp-rounded). posexplode keys the
    // shuffle on (label, dim): |labels|·64 groups, map-side combined,
    // corpus never shuffles whole rows.
    "emb_label_centroids" -> QueryDef.sql(
      (s, dir) =>
        emb(s, dir)
          .select(col("label"), posexplode(
            transform(col("embedding").cast("array<double>"),
              x => round(x * 10000).cast("long"))))
          .select(col("label"), (col("pos") + 1).as("dim"),
            col("col").as("qv"))
          .groupBy(col("label"), col("dim"))
          .agg(sum(col("qv")).as("sum_q"), count(lit(1)).as("n"))
          .select(col("label"), col("dim"), col("sum_q"), col("n"),
            round(col("sum_q") / col("n") / 10000.0, 6).as("mean_v")),
      """SELECT label, d AS dim,
        |  CAST(SUM(CAST(round(CAST(embedding[d] AS DOUBLE) * 10000)
        |    AS BIGINT)) AS BIGINT) AS sum_q,
        |  COUNT(*) AS n,
        |  round(CAST(SUM(CAST(round(CAST(embedding[d] AS DOUBLE) * 10000)
        |    AS BIGINT)) AS BIGINT) / COUNT(*) / 10000.0, 6) AS mean_v
        |FROM embeddings, generate_series(1, 64) AS g(d)
        |GROUP BY 1, 2""".stripMargin),

    // ───── exact 64×64 gram matrix Σ x·xᵀ in ONE pass — the
    // sufficient statistic PCA/whitening/linear probes run on.
    // Components quantize to round(x·10⁴) BIGINTs at the scan, so
    // the whole matrix is integer arithmetic (engine-exact, no
    // double drift); (i,j) keys cap the shuffle at 2,080 partial
    // rows per mapper regardless of corpus size. The driver-side
    // power-iteration eigenvector + projection on top is LlmOpsSpec
    // territory (no SQL eigen); the distributed statistic is gated
    // here bit-for-bit.
    "emb_gram_matrix" -> QueryDef.sql(
      (s, dir) => Similarity.gramMatrix(emb(s, dir), "embedding", 64),
      """SELECT i, j, CAST(SUM(qi * qj) AS BIGINT) AS g FROM (
        |  SELECT i, j,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS qi,
        |    CAST(round(CAST(embedding[j] AS DOUBLE) * 10000) AS BIGINT) AS qj
        |  FROM embeddings,
        |    generate_series(1, 64) AS g1(i),
        |    generate_series(1, 64) AS g2(j)
        |  WHERE j >= i)
        |GROUP BY 1, 2""".stripMargin),

    // ───── ANN over the 16-d projection — the composition X44
    // exists for: brute-force top-k in the REDUCED space (per-pair
    // work 4× cheaper, candidate lists feed a full-dim rerank in a
    // real pipeline). The oracle re-derives the projection AND the
    // reduced-space cosine ranking end to end.
    "ann_projected_topk" -> QueryDef.sql(
      (s, dir) => {
        val p = Similarity.randomProjection(emb(s, dir), "vec_id", "embedding")
        val pv = p.select(col("vec_id"),
          array((0 until 16).map(j => col(s"proj_$j")): _*).as("pvec"))
        Similarity.bruteForceTopK(pv, pv.filter(col("vec_id") < 5),
          "vec_id", "pvec", k = 10)
          .withColumn("rank", col("rank").cast("int"))
      },
      """WITH pv AS (
        |  SELECT vec_id,
        |    [round(list_aggregate(
        |       [CAST(embedding[i + 1] AS DOUBLE) *
        |        (CASE WHEN (CAST(concat('0x',
        |                substr(md5('rp|' || (j - 1) || '|' || i), 1, 2)) AS INTEGER) & 1) = 0
        |              THEN 1.0 ELSE -1.0 END)
        |        for i in generate_series(0, 63)], 'sum') / 4.0, 6)
        |     for j in generate_series(1, 16)] AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM pv WHERE vec_id < 5),
        |c AS (SELECT vec_id AS cand_id, v AS cv FROM pv),
        |sc AS (
        |  SELECT query_id, cand_id,
        |    round(list_aggregate([qv[i] * cv[i]
        |                          for i in generate_series(1, 16)], 'sum')
        |      / (sqrt(list_aggregate([qv[i] * qv[i]
        |                              for i in generate_series(1, 16)], 'sum'))
        |       * sqrt(list_aggregate([cv[i] * cv[i]
        |                              for i in generate_series(1, 16)], 'sum'))), 6)
        |      AS cos_sim
        |  FROM c, q WHERE query_id <> cand_id)
        |SELECT query_id, cand_id, cos_sim, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY cos_sim DESC, cand_id) AS INTEGER) AS rank
        |  FROM sc)
        |WHERE rank <= 10""".stripMargin),

    // ───── ORC sink/source round-trip gate (the other splittable
    // columnar format): write documents as ORC, read back, aggregate
    // — the oracle aggregates the parquet original, so any loss or
    // type drift in the ORC round-trip breaks the hash.
    "corpus_orc_roundtrip" -> QueryDef.sql(
      (s, dir) => {
        val tmp = Tables.scratchDir("orc_rt", dir)
        Tables.writeOrc(docs(s, dir), tmp)
        Tables.readOrc(s, tmp)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      },
      """SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang""".stripMargin),

    // ───── CSV sink/source round-trip gate (S3/S15 promoted from
    // spec-only): documents written as quoted CSV and read back with
    // an explicit schema; the oracle aggregates the PARQUET original,
    // so any quote/escape/type-drift loss in the round trip breaks
    // the hash (the text column carries punctuation that exercises
    // quoting).
    "corpus_csv_roundtrip" -> QueryDef.sql(
      (s, dir) => {
        val tmp = Tables.scratchDir("csv_rt", dir)
        val d = docs(s, dir)
        d.write.mode("overwrite")
          .option("header", "true").option("quoteAll", "true")
          .csv(tmp)
        s.read.schema(d.schema)
          .option("header", "true").csv(tmp)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast("long")).as("total_text_chars"),
            sum(col("n_chars")).as("sum_n_chars"))
      },
      """SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(length(text)) AS BIGINT) AS total_text_chars,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
        |FROM documents GROUP BY lang""".stripMargin),

    // ───── table-format-style DATA SKIPPING over plain parquet: land
    // lineitem range-clustered on l_shipdate (8 files), build the
    // per-file min/max stats index in ONE narrow scan, then answer a
    // year-slice aggregate reading ONLY the files whose interval
    // intersects the predicate — the transaction-log skipping
    // mechanism of Delta/Iceberg as an explicit operator. The oracle
    // computes the same aggregate from the full table: any unsound
    // prune (a dropped file that held matching rows) breaks the hash.
    // TablesSpec pins the other half — that the survivor list is a
    // strict subset. Sums go through decimal (exactSum) as everywhere.
    "corpus_file_skipping" -> QueryDef.sql(
      (s, dir) => {
        // the table one level down: its stats index lands beside it,
        // inside the scratch root
        val tmp = Tables.scratchDir("fskip", dir) + "/table"
        Tables.table(s, dir, "lineitem")
          .repartitionByRange(8, col("l_shipdate"))
          .sortWithinPartitions(col("l_shipdate"))
          .write.mode("overwrite").parquet(tmp)
        FileStatsIndex.write(
          FileStatsIndex.build(s, tmp, Seq("l_shipdate")), tmp)
        val lo = lit("1996-01-01").cast("timestamp")
        val hi = lit("1997-01-01").cast("timestamp")
        FileStatsIndex.prunedRead(s, tmp, "l_shipdate", lo, hi)
          .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_rows"),
            graft.functions.Functions.exactSum(col("l_quantity")).as("sum_qty"))
      },
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin),

    // ───── bloom-filter file index — the POINT-LOOKUP complement of
    // corpus_file_skipping's min/max index (Delta BLOOMFILTER INDEX):
    // the table lands HASH-partitioned on the lookup key (each key in
    // exactly one file — the layout equality lookups want, and the
    // layout min/max skipping is useless on), a per-file bloom is
    // built in one narrow scan, and the point read opens only files
    // whose filter might contain the key — ~1 of 8 here (false
    // positives cost an extra file; false negatives impossible).
    // TablesSpec pins the file-count audit; the oracle gates the
    // looked-up content.
    "corpus_bloom_lookup" -> QueryDef.sql(
      (s, dir) => {
        // the table one level down: its bloom index lands beside it,
        // inside the scratch root
        val tmp = Tables.scratchDir("bloomix", dir) + "/table"
        Tables.table(s, dir, "orders")
          .repartition(8, col("o_custkey"))
          .write.mode("overwrite").parquet(tmp)
        FileStatsIndex.writeBloom(
          FileStatsIndex.buildBloom(s, tmp, "o_custkey"), tmp)
        FileStatsIndex.prunedPointRead(s, tmp, "o_custkey", lit(37L))
          .filter(col("o_custkey") === 37L)
          .agg(count(lit(1)).as("n_orders"),
            sum((col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long")).as("cents"))
      },
      """SELECT COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS cents
        |FROM orders WHERE o_custkey = 37""".stripMargin),

    // ───── composed OPTIMIZE: 64-small-file landing → compact
    // clustered on l_shipdate → stats-index rebuild → pruned
    // year-slice aggregate THROUGH the fresh index. One query walks
    // the whole nightly-maintenance path; the oracle (the same
    // aggregate from the raw table) breaks if compaction loses or
    // duplicates a single row OR the rebuilt index prunes unsoundly.
    // TablesSpec pins the audit-frame side (file counts shrink, row
    // count preserved).
    "gov_lake_maintenance" -> QueryDef.sql(
      (s, dir) => {
        // the table one level down: its stats index lands beside it,
        // inside the scratch root
        val tmp = Tables.scratchDir("maint", dir) + "/table"
        Tables.deletePath(s, tmp)
        Tables.table(s, dir, "lineitem").repartition(64)
          .write.parquet(tmp)
        Tables.maintain(s, tmp, targetFileBytes = 1L << 20,
          sortCols = Seq("l_shipdate"))
        val lo = lit("1998-01-01").cast("timestamp")
        val hi = lit("1999-01-01").cast("timestamp")
        FileStatsIndex.prunedRead(s, tmp, "l_shipdate", lo, hi)
          .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
          .groupBy(col("l_linestatus"))
          .agg(count(lit(1)).as("n_rows"),
            graft.functions.Functions.exactSum(col("l_extendedprice"))
              .as("sum_price"))
      },
      """SELECT l_linestatus, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE)
        |         AS sum_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |GROUP BY 1""".stripMargin),

    // ───── one-row corpus datasheet (the "Datasheets for Datasets"
    // summary, Gebru et al. 2018 arXiv:1803.09010, with WIMBD-style
    // measured stats): docs, langs, sources, total words, Gopher pass
    // rate, exact-dup count — every number derived from operators that
    // are individually oracle-proven above; this gates the one-scan
    // COMPOSITION. Scale shape: one aggregate over scan-side
    // projections; the three count-distincts expand the narrow row
    // stream ×4 before the single shuffle — the standard price of a
    // multi-distinct report, linear at any corpus size.
    "corpus_datasheet" -> QueryDef.sql(
      (s, dir) => {
        val g = TextAnalysis.gopherRules(
          docs(s, dir).select("doc_id", "lang", "source", "text"),
          "text", minWords = 30)
          .withColumn("_fp",
            md5(graft.functions.Functions.normalizeText(col("text"))))
        g.agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("word_count").cast("long")).as("total_words"),
          sum(when(col("gopher_pass"), 1L).otherwise(0L)).as("n_gopher_pass"),
          countDistinct(col("_fp")).as("n_distinct_fingerprints"))
          .withColumn("pct_gopher_pass",
            round(col("n_gopher_pass").cast("double") * 100.0 /
              col("n_docs").cast("double"), 4))
          .withColumn("n_exact_dup_docs",
            (col("n_docs") - col("n_distinct_fingerprints")).cast("long"))
      },
      s"""WITH base AS (
         |  SELECT doc_id, lang, source, text,
         |    string_split_regex(trim(text), '\\s+') AS words,
         |    len(string_split_regex(trim(text), '\\s+')) AS wc,
         |    md5(${normSql("text")}) AS fp
         |  FROM documents),
         |m AS (
         |  SELECT lang, source, wc, fp,
         |    round(CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
         |          / greatest(wc, 1), 4) AS mwl,
         |    round(CAST(len(regexp_extract_all(text, '#'))
         |             + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
         |          / greatest(wc, 1), 4) AS sym,
         |    round(CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
         |          / greatest(wc, 1), 4) AS alpha,
         |    len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|for)\\b')) AS stop
         |  FROM base)
         |SELECT count(*) AS n_docs,
         |  count(DISTINCT lang) AS n_langs,
         |  count(DISTINCT source) AS n_sources,
         |  CAST(sum(wc) AS BIGINT) AS total_words,
         |  CAST(sum(CASE WHEN wc BETWEEN 30 AND 100000
         |                 AND mwl BETWEEN 3.0 AND 10.0
         |                 AND sym <= 0.1 AND alpha >= 0.8 AND stop >= 2
         |            THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_pass,
         |  CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fingerprints,
         |  round(CAST(sum(CASE WHEN wc BETWEEN 30 AND 100000
         |                 AND mwl BETWEEN 3.0 AND 10.0
         |                 AND sym <= 0.1 AND alpha >= 0.8 AND stop >= 2
         |            THEN 1 ELSE 0 END) AS DOUBLE) * 100.0
         |        / CAST(count(*) AS DOUBLE), 4) AS pct_gopher_pass,
         |  CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dup_docs
         |FROM m""".stripMargin),

    // ───── cross-source duplication matrix (WIMBD arXiv:2310.20707):
    // fingerprints shared between source pairs. The raw corpus has no
    // cross-source duplicates, so copies are planted with a ROTATED
    // source label — each original's text reappears under the next
    // source mod 20 — giving a deterministic 20-pair band the oracle
    // re-derives with the naive fingerprint self-join the engine's
    // array-algebra formulation must match exactly.
    "dd_source_overlap" -> QueryDef.sql(
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text", "source")
        val corpus = d.unionByName(d.select(
          (col("doc_id") + 10000).as("doc_id"),
          col("text"),
          concat(lit("src"), ((col("doc_id") % 20 + 1) % 20).cast("string"))
            .as("source")))
        TextDedup.sourceOverlapMatrix(corpus, "text", "source")
      },
      s"""WITH corpus AS (
         |  SELECT doc_id, text, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, text,
         |         'src' || CAST((doc_id % 20 + 1) % 20 AS VARCHAR)
         |  FROM documents),
         |fp AS (
         |  SELECT DISTINCT md5(${normSql("text")}) AS fp, source FROM corpus),
         |p AS (
         |  SELECT a.source AS source_a, b.source AS source_b
         |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source)
         |SELECT source_a, source_b, count(*) AS n_shared_fingerprints
         |FROM p GROUP BY 1, 2""".stripMargin),

    // ───── per-source quota cap (RefinedWeb arXiv:2306.01116 §3.2
    // per-domain caps / FineWeb per-dump balancing): at most 15 docs
    // per source in deterministic md5-hash order. Rank is the salted
    // bucket-rank decomposition (Skew.saltedRank) — no per-source
    // single-reducer window — and the oracle's ONE plain window
    // proves the decomposition exactly equals the global per-source
    // ordering.
    "corpus_source_cap" -> QueryDef.sql(
      (s, dir) =>
        Sampling.stratumCap(
          docs(s, dir).select("doc_id", "source"),
          "doc_id", "source", cap = 15, seed = "capv1"),
      """SELECT source, doc_id, pos FROM (
        |  SELECT source, doc_id,
        |         row_number() OVER (
        |           PARTITION BY source
        |           ORDER BY md5('capv1' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
        |  FROM documents)
        |WHERE pos <= 15""".stripMargin),

    // ───── token co-occurrence association over the top-16
    // vocabulary: docs-containing-both counts + exact-integer LIFT
    // in ppm (the monotone transform of PMI — ln would ride libm's
    // last ulp; the integer ratio is bit-identical cross-engine).
    // The fixed top-V vocab is what bounds the quadratic: pair
    // fan-out ≤ C(V,2) per doc at ANY document length; vocab+freqs
    // ride back as an O(V) literal so the pair pass is one scan +
    // one bounded count shuffle, zero joins.
    "ta_pmi_pairs" -> QueryDef.sql(
      (s, dir) =>
        TextAnalysis.pmiPairs(docs(s, dir), "doc_id", "text",
          topVocab = 16, minPair = 5),
      s"""WITH n AS (SELECT doc_id, ${normSql("text")} AS t FROM documents),
         |tk AS (
         |  SELECT doc_id, unnest(list_distinct(string_split(t, ' '))) AS tok
         |  FROM n),
         |freq AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY 1),
         |vocab AS (SELECT tok, c FROM freq ORDER BY c DESC, tok LIMIT 16),
         |vtk AS (SELECT doc_id, tok FROM tk WHERE tok IN (SELECT tok FROM vocab)),
         |pc AS (
         |  SELECT a.tok AS t1, b.tok AS t2, COUNT(*) AS n_ab
         |  FROM vtk a JOIN vtk b ON a.doc_id = b.doc_id AND a.tok < b.tok
         |  GROUP BY 1, 2
         |  HAVING COUNT(*) >= 5),
         |nn AS (SELECT COUNT(*) AS n FROM documents)
         |SELECT pc.t1, pc.t2, pc.n_ab, va.c AS n_a, vb.c AS n_b,
         |       (1000000 * nn.n * pc.n_ab) // (va.c * vb.c) AS lift_ppm
         |FROM pc
         |JOIN vocab va ON va.tok = pc.t1
         |JOIN vocab vb ON vb.tok = pc.t2, nn""".stripMargin),

    // ───── deterministic Poisson PPS sampling: keep probability
    // ∝ document length (min(1, k·w/W)) — the corpus-mixing sampler
    // when examples should be weighted by size, not count. The keep
    // decision is the pure-integer inequality h·W < w·k·2^32
    // (DECIMAL(38,0) / HUGEINT products — NO floating point in the
    // decision, so the sample is bit-identical cross-engine); W is
    // one map-side-combined aggregate broadcast back, the filter is
    // scan-side — no data shuffle at any corpus size.
    "corpus_pps_sample" -> QueryDef.sql(
      (s, dir) =>
        Sampling.ppsSample(docs(s, dir), "doc_id", "n_chars",
          expectK = 50, seed = "pps9"),
      """WITH w AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
        |         CAST(concat('0x', substr(md5('pps9' || CAST(doc_id AS VARCHAR)), 1, 8))
        |              AS BIGINT) AS h
        |  FROM documents),
        |t AS (SELECT CAST(SUM(weight) AS BIGINT) AS tw FROM w)
        |SELECT doc_id, weight,
        |       least(1.0, CAST(weight * 50 AS DOUBLE) / CAST(tw AS DOUBLE)) AS p_keep
        |FROM w, t
        |WHERE CAST(h AS HUGEINT) * CAST(tw AS HUGEINT)
        |    < CAST(weight AS HUGEINT) * 50 * 4294967296""".stripMargin),

    // ───── EXACT-k weighted sample (Efraimidis–Spirakis A-ES) — the
    // fixed-budget companion of corpus_pps_sample's expected-k
    // Poisson: ln(u)/w keys scaled to BIGINTs (ln is in the
    // proven-bit-exact libm subset; pow is not), global top-100 via
    // the bounded-heap topk_pairs aggregate — O(k) state per mapper,
    // k·16 bytes per mapper over the wire, the corpus never sorted
    // or shuffled. The oracle re-derives every key and ranks.
    "corpus_weighted_sample" -> QueryDef.sql(
      (s, dir) =>
        Sampling.weightedSampleTopK(docs(s, dir), "doc_id", "n_chars",
          k = 100, seed = "aes1"),
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5('aes1' || CAST(doc_id AS VARCHAR)), 1, 8))
        |         AS BIGINT) AS h,
        |    CAST(n_chars AS DOUBLE) AS w
        |  FROM documents WHERE n_chars > 0),
        |k AS (
        |  SELECT doc_id,
        |    CAST(floor(greatest(least(
        |        ln((CAST(h AS DOUBLE) + 0.5) / 4294967296.0)
        |          / w * 1000000000000.0, 9e18), -9e18)) AS BIGINT)
        |      AS key_scaled
        |  FROM s)
        |SELECT CAST(row_number() OVER (ORDER BY key_scaled DESC, doc_id ASC)
        |         AS INTEGER) AS rank,
        |       doc_id, key_scaled
        |FROM k ORDER BY key_scaled DESC, doc_id ASC LIMIT 100""".stripMargin),

    // ───── RedPajama-Data-v2 doc-level fraction signals (the battery
    // CCNet/Gopher-style curation cuts on) not covered by
    // ta_gopher_rules/ta_quality_scores: all-caps-word, no-alpha-word,
    // unique-word fractions, mean word length, lorem-ipsum count,
    // curly-bracket char fraction. Pure scan-side projection — zero
    // exchanges; every ratio 4 dp-rounded so the oracle is exact.
    "ta_rpv2_fracs" -> QueryDef.sql(
      (s, dir) =>
        TextAnalysis.rpv2Signals(docs(s, dir), "doc_id", "text"),
      """WITH w AS (
        |  SELECT doc_id, text,
        |         string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, text, words,
        |         CAST(greatest(len(words), 1) AS DOUBLE) AS nw,
        |         CAST(greatest(length(text), 1) AS DOUBLE) AS nc
        |  FROM w)
        |SELECT doc_id,
        |  CAST(len(words) AS INTEGER) AS n_words,
        |  round(CAST(len(list_filter(words,
        |        x -> regexp_matches(x, '^[A-Z]+$'))) AS DOUBLE) / nw, 4)
        |    AS frac_all_caps_words,
        |  round(CAST(len(list_filter(words,
        |        x -> NOT regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / nw, 4)
        |    AS frac_no_alph_words,
        |  round(CAST(len(list_distinct(list_transform(words,
        |        x -> lower(x)))) AS DOUBLE) / nw, 4) AS frac_unique_words,
        |  round(CAST(list_sum(list_transform(words,
        |        x -> length(x))) AS DOUBLE) / nw, 4) AS mean_word_length,
        |  CAST(len(regexp_extract_all(lower(text), 'lorem ipsum')) AS INTEGER)
        |    AS lorem_ipsum_count,
        |  round(CAST(len(regexp_extract_all(text, '[{}]')) AS DOUBLE) / nc, 4)
        |    AS frac_curly_bracket
        |FROM m""".stripMargin),

    // ───── C4 blocklist ("bad words") gate (arXiv:1910.10683 §2.2:
    // any page containing a blocklisted word is dropped). Blocklist
    // rides as a literal array in the projection — scan-side, zero
    // exchanges at any corpus size; exact-token matching against
    // normalized text (no substring false positives). "spam" is
    // deliberately absent from the synthetic vocabulary so the
    // no-hit-term path is exercised alongside real hits.
    "ta_blocklist_gate" -> QueryDef.sql(
      (s, dir) =>
        TextAnalysis.blocklistGate(docs(s, dir), "doc_id", "text",
          Seq("slow", "dup", "spam")),
      s"""WITH n AS (SELECT doc_id, ${normSql("text")} AS t FROM documents),
         |tk AS (SELECT doc_id, string_split(t, ' ') AS toks FROM n),
         |c AS (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |    len(list_filter(toks,
         |        x -> list_contains(['dup', 'slow', 'spam'], x))) AS n_block_hits,
         |    len(list_intersect(toks, ['dup', 'slow', 'spam'])) AS n_block_terms
         |  FROM tk)
         |SELECT doc_id, n_tokens, n_block_hits, n_block_terms,
         |  CASE WHEN n_tokens = 0 THEN 0.0
         |       ELSE CAST(n_block_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |  END AS block_frac,
         |  n_block_hits = 0 AS keep
         |FROM c""".stripMargin),

    // ───── Gopher repetition signals (arXiv:2112.11446 A1.1 /
    // RPv2 rps_doc_frac_chars_top_{2,3,4}gram): fraction of chars in
    // the most frequent word n-gram, tie → lexicographically
    // smallest. Engine side is a per-row sorted-array run-length fold
    // behind a no_inline fence; the oracle re-derives via the naive
    // unnest + window formulation and must agree exactly.
    "ta_top_ngram_frac" -> QueryDef.sql(
      (s, dir) =>
        TextAnalysis.topNgramFracs(docs(s, dir), "doc_id", "text"),
      """WITH tk AS (
        |  SELECT doc_id,
        |         string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |tot AS (
        |  SELECT doc_id, toks,
        |    CAST(greatest(length(array_to_string(toks, ' ')), 1) AS DOUBLE)
        |      AS total
        |  FROM tk),
        |g2 AS (SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ')
        |         for i in generate_series(1, greatest(len(toks)-1, 0))]) AS gram
        |       FROM tk),
        |g3 AS (SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ')
        |         for i in generate_series(1, greatest(len(toks)-2, 0))]) AS gram
        |       FROM tk),
        |g4 AS (SELECT doc_id, unnest([array_to_string(toks[i:i+3], ' ')
        |         for i in generate_series(1, greatest(len(toks)-3, 0))]) AS gram
        |       FROM tk),
        |t2 AS (SELECT doc_id, cnt, gram FROM (
        |         SELECT doc_id, gram, count(*) AS cnt,
        |           row_number() OVER (PARTITION BY doc_id
        |             ORDER BY count(*) DESC, gram) AS rn
        |         FROM g2 GROUP BY doc_id, gram) WHERE rn = 1),
        |t3 AS (SELECT doc_id, cnt, gram FROM (
        |         SELECT doc_id, gram, count(*) AS cnt,
        |           row_number() OVER (PARTITION BY doc_id
        |             ORDER BY count(*) DESC, gram) AS rn
        |         FROM g3 GROUP BY doc_id, gram) WHERE rn = 1),
        |t4 AS (SELECT doc_id, cnt, gram FROM (
        |         SELECT doc_id, gram, count(*) AS cnt,
        |           row_number() OVER (PARTITION BY doc_id
        |             ORDER BY count(*) DESC, gram) AS rn
        |         FROM g4 GROUP BY doc_id, gram) WHERE rn = 1)
        |SELECT tot.doc_id,
        |  round(COALESCE(CAST(t2.cnt * length(t2.gram) AS DOUBLE), 0.0)
        |        / tot.total, 4) AS frac_top_2gram,
        |  round(COALESCE(CAST(t3.cnt * length(t3.gram) AS DOUBLE), 0.0)
        |        / tot.total, 4) AS frac_top_3gram,
        |  round(COALESCE(CAST(t4.cnt * length(t4.gram) AS DOUBLE), 0.0)
        |        / tot.total, 4) AS frac_top_4gram
        |FROM tot
        |LEFT JOIN t2 ON tot.doc_id = t2.doc_id
        |LEFT JOIN t3 ON tot.doc_id = t3.doc_id
        |LEFT JOIN t4 ON tot.doc_id = t4.doc_id""".stripMargin),

    // ───── product-quantization ANN with asymmetric distance
    // computation (Jégou et al. 2011): per-subspace L2 codebooks
    // (m=4 × 16 dims, k=16, 2 Lloyd rounds), corpus PQ-encoded
    // map-side to 4 byte codes (64× smaller than raw floats — the
    // memory lever that fits a billion-vector index in executor
    // RAM), queries rank by table-lookup ADC. The oracle unrolls all
    // four codebooks, the encoding, and the ADC sum bit-for-bit.
    "ann_pq_adc_topk" -> QueryDef.sql(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.pqTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10)
      },
      s"""WITH vecs AS (
         |  SELECT vec_id AS vid,
         |         [CAST(x AS DOUBLE) for x in embedding] AS v
         |  FROM embeddings),
         |${pqSql(m = 4, dsub = 16, k = 16, iters = 2, nQueries = 5)},
         |adc AS (
         |  SELECT q0.query_id, e0.vid AS cand_id,
         |         round(q0.d + q1.d + q2.d + q3.d, 6) AS approx_dist
         |  FROM pcode0 e0
         |  JOIN pcode1 e1 USING (vid)
         |  JOIN pcode2 e2 USING (vid)
         |  JOIN pcode3 e3 USING (vid)
         |  JOIN qd0 q0 ON q0.cid = e0.code
         |  JOIN qd1 q1 ON q1.query_id = q0.query_id AND q1.cid = e1.code
         |  JOIN qd2 q2 ON q2.query_id = q0.query_id AND q2.cid = e2.code
         |  JOIN qd3 q3 ON q3.query_id = q0.query_id AND q3.cid = e3.code
         |  WHERE q0.query_id <> e0.vid)
         |SELECT query_id, cand_id, approx_dist, rank FROM (
         |  SELECT query_id, cand_id, approx_dist,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY approx_dist ASC, cand_id ASC) AS INTEGER) AS rank
         |  FROM adc)
         |WHERE rank <= 10""".stripMargin),

    // ───── IVF-PQ (the FAISS-default billion-vector shape): coarse
    // first-8 cells route map-side, PQ codebooks train on RESIDUALS
    // (vector − cell centroid), queries ADC only against their own
    // cell (nprobe=1). The oracle re-derives the coarse route, every
    // residual, all four residual codebooks, the encoding, and the
    // cell-restricted ADC ranking end to end.
    "ann_ivfpq_topk" -> QueryDef.sql(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10)
      },
      s"""WITH vecs AS (
         |  SELECT vec_id AS vid,
         |         [CAST(x AS DOUBLE) for x in embedding] AS v
         |  FROM embeddings),
         |cc AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vid) - 1 AS INTEGER) AS ccid,
         |         v AS cv
         |  FROM (SELECT vid, v FROM vecs ORDER BY vid LIMIT 8)),
         |casg AS (
         |  SELECT v.vid, c.ccid,
         |         round(${pqDistSql("v.v", "c.cv", 64)}, 6) AS d
         |  FROM vecs v, cc c),
         |ccell AS (
         |  SELECT vid, ccid AS cell FROM (
         |    SELECT vid, ccid,
         |           row_number() OVER (PARTITION BY vid
         |                              ORDER BY d ASC, ccid ASC) AS rn
         |    FROM casg) WHERE rn = 1),
         |rvecs AS (
         |  SELECT v.vid,
         |         [v.v[i] - c.cv[i] for i in generate_series(1, 64)] AS v
         |  FROM vecs v
         |  JOIN ccell ce USING (vid)
         |  JOIN cc c ON c.ccid = ce.cell),
         |${pqSql(m = 4, dsub = 16, k = 16, iters = 2, nQueries = 5, src = "rvecs")},
         |adc AS (
         |  SELECT q0.query_id, e0.vid AS cand_id, ce.cell,
         |         round(q0.d + q1.d + q2.d + q3.d, 6) AS approx_dist
         |  FROM pcode0 e0
         |  JOIN pcode1 e1 USING (vid)
         |  JOIN pcode2 e2 USING (vid)
         |  JOIN pcode3 e3 USING (vid)
         |  JOIN ccell ce USING (vid)
         |  JOIN qd0 q0 ON q0.cid = e0.code
         |  JOIN qd1 q1 ON q1.query_id = q0.query_id AND q1.cid = e1.code
         |  JOIN qd2 q2 ON q2.query_id = q0.query_id AND q2.cid = e2.code
         |  JOIN qd3 q3 ON q3.query_id = q0.query_id AND q3.cid = e3.code
         |  JOIN ccell qc ON qc.vid = q0.query_id AND qc.cell = ce.cell
         |  WHERE q0.query_id <> e0.vid)
         |SELECT query_id, cand_id, cell, approx_dist, rank FROM (
         |  SELECT query_id, cand_id, cell, approx_dist,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY approx_dist ASC, cand_id ASC) AS INTEGER) AS rank
         |  FROM adc)
         |WHERE rank <= 10""".stripMargin),

    // ───── two-stage retrieval: IVF-PQ over-fetch (pool 30) →
    // exact full-vector cosine refine to top 10 (X95 — FAISS
    // IndexRefineFlat, the production ANN shape: quantization picks
    // the pool, exact arithmetic picks and scores the answer). The
    // oracle extends the full IVF-PQ twin with the same pool cut and
    // exact re-rank.
    "ann_refined_topk" -> QueryDef.sql(
      (s, dir) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 5)
        val pool = Similarity.ivfPqTopK(e, q, "vec_id", "embedding", k = 30)
        Similarity.refineTopK(pool, e, q, "vec_id", "embedding", k = 10)
      },
      s"""WITH vecs AS (
         |  SELECT vec_id AS vid,
         |         [CAST(x AS DOUBLE) for x in embedding] AS v
         |  FROM embeddings),
         |cc AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vid) - 1 AS INTEGER) AS ccid,
         |         v AS cv
         |  FROM (SELECT vid, v FROM vecs ORDER BY vid LIMIT 8)),
         |casg AS (
         |  SELECT v.vid, c.ccid,
         |         round(${pqDistSql("v.v", "c.cv", 64)}, 6) AS d
         |  FROM vecs v, cc c),
         |ccell AS (
         |  SELECT vid, ccid AS cell FROM (
         |    SELECT vid, ccid,
         |           row_number() OVER (PARTITION BY vid
         |                              ORDER BY d ASC, ccid ASC) AS rn
         |    FROM casg) WHERE rn = 1),
         |rvecs AS (
         |  SELECT v.vid,
         |         [v.v[i] - c.cv[i] for i in generate_series(1, 64)] AS v
         |  FROM vecs v
         |  JOIN ccell ce USING (vid)
         |  JOIN cc c ON c.ccid = ce.cell),
         |${pqSql(m = 4, dsub = 16, k = 16, iters = 2, nQueries = 5, src = "rvecs")},
         |adc AS (
         |  SELECT q0.query_id, e0.vid AS cand_id,
         |         round(q0.d + q1.d + q2.d + q3.d, 6) AS approx_dist
         |  FROM pcode0 e0
         |  JOIN pcode1 e1 USING (vid)
         |  JOIN pcode2 e2 USING (vid)
         |  JOIN pcode3 e3 USING (vid)
         |  JOIN ccell ce USING (vid)
         |  JOIN qd0 q0 ON q0.cid = e0.code
         |  JOIN qd1 q1 ON q1.query_id = q0.query_id AND q1.cid = e1.code
         |  JOIN qd2 q2 ON q2.query_id = q0.query_id AND q2.cid = e2.code
         |  JOIN qd3 q3 ON q3.query_id = q0.query_id AND q3.cid = e3.code
         |  JOIN ccell qc ON qc.vid = q0.query_id AND qc.cell = ce.cell
         |  WHERE q0.query_id <> e0.vid),
         |pool AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY approx_dist ASC, cand_id ASC) AS rn
         |    FROM adc) WHERE rn <= 30),
         |ex AS (
         |  SELECT p.query_id, p.cand_id,
         |         round(${cosineSql("qv.v", "cv.v")}, 6) AS cos_sim
         |  FROM pool p
         |  JOIN vecs qv ON qv.vid = p.query_id
         |  JOIN vecs cv ON cv.vid = p.cand_id)
         |SELECT query_id, cand_id, cos_sim, rank FROM (
         |  SELECT query_id, cand_id, cos_sim,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos_sim DESC, cand_id ASC) AS INTEGER) AS rank
         |  FROM ex)
         |WHERE rank <= 10""".stripMargin),

    // ───── interpolated bigram LM chain scoring (the in-engine
    // stand-in for CCNet's KenLM perplexity filter): per-doc mean log
    // of the FULL chain p(w₁)·Π(λ·c₂/c₁ + (1−λ)·Laplace-unigram) —
    // the unigram start term carries the rarity penalty that makes
    // this a quality signal (conditional-only scoring rewards
    // gibberish). The (1−λ) literal is interpolated as the EXACT
    // double Spark computes (1.0−0.9 ≠ 0.1 in IEEE arithmetic); the
    // oracle re-derives both LM tables and every rounding.
    "ta_bigram_logprob" -> QueryDef.sql(
      (s, dir) =>
        TextAnalysis.bigramLogProb(docs(s, dir), "doc_id", "text"),
      s"""WITH tk AS (
         |  SELECT doc_id,
         |         string_split_regex(trim(lower(text)), '\\s+') AS toks
         |  FROM documents),
         |uni AS (
         |  SELECT w, count(*) AS c1 FROM (
         |    SELECT unnest(toks) AS w FROM tk) WHERE w <> '' GROUP BY w),
         |sc AS (
         |  SELECT CAST(sum(c1) AS BIGINT) AS n_total, count(*) AS v_size
         |  FROM uni),
         |bg AS (
         |  SELECT doc_id,
         |    unnest([toks[i] for i in
         |            generate_series(1, greatest(len(toks) - 1, 0))]) AS w1,
         |    unnest([toks[i + 1] for i in
         |            generate_series(1, greatest(len(toks) - 1, 0))]) AS w2
         |  FROM tk),
         |c2t AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
         |lm2 AS (
         |  SELECT c2t.w1, c2t.w2,
         |    round(ln(${0.9} * (CAST(c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE))
         |        + ${1.0 - 0.9} * (CAST(u2.c1 + 1 AS DOUBLE)
         |            / CAST(sc.n_total + sc.v_size AS DOUBLE))), 9) AS logp
         |  FROM c2t
         |  JOIN uni u1 ON u1.w = c2t.w1
         |  JOIN uni u2 ON u2.w = c2t.w2, sc),
         |lmu AS (
         |  SELECT w, round(ln(CAST(c1 + 1 AS DOUBLE)
         |      / CAST(sc.n_total + sc.v_size AS DOUBLE)), 9) AS logp
         |  FROM uni, sc),
         |firstw AS (
         |  SELECT doc_id, toks[1] AS w FROM tk
         |  WHERE len(toks) >= 1 AND toks[1] <> ''),
         |terms AS (
         |  SELECT doc_id, lmu.logp FROM firstw JOIN lmu USING (w)
         |  UNION ALL
         |  SELECT doc_id, lm2.logp FROM bg JOIN lm2 USING (w1, w2))
         |SELECT doc_id, count(*) AS n_terms,
         |  round(CAST(sum(CAST(logp AS DECIMAL(30,9))) AS DOUBLE)
         |        / count(*), 6) AS mean_chain_logp
         |FROM terms GROUP BY doc_id""".stripMargin),

    // ───── HLL mergeable distinct-count gate: per-language distinct
    // tokens + the sketch-UNION rollup to the global distinct (the
    // O(sketch) cross-partition rollup exact distinct can't do).
    // Sketch internals aren't oracle-reproducible, so the gate
    // outputs EXACT counts plus a boolean the estimate must satisfy
    // (±5% at lgK=12 ≈ 3σ) — a red bound breaks the row hash.
    "a13_hll_distinct_gate" -> QueryDef.sql(
      (s, dir) => {
        val toks = docs(s, dir).select(col("lang"),
          explode(TextAnalysis.wordTokens(col("text"))).as("token"))
          .filter(col("token") =!= "")
        Sketches.hllDistinctGate(toks, "lang", "token")
      },
      """WITH tk AS (
        |  SELECT lang,
        |         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |t2 AS (SELECT lang, token FROM tk WHERE token <> '')
        |SELECT lang, COUNT(DISTINCT token) AS n_exact,
        |       TRUE AS hll_within_tol, FALSE AS is_global
        |FROM t2 GROUP BY lang
        |UNION ALL
        |SELECT '__ALL__', COUNT(DISTINCT token), TRUE, TRUE FROM t2""".stripMargin),

    // ───── count-min-sketch heavy-hitter gate: exact top-20 terms
    // cross-checked against the mergeable CMS — `cms_ge_exact` rides
    // the DETERMINISTIC one-sided guarantee (CMS never undercounts),
    // so the gate has zero flake risk; the probabilistic overestimate
    // bound is spec-checked.
    "a14_cms_top_terms" -> QueryDef.sql(
      (s, dir) =>
        Sketches.cmsTopTermsGate(docs(s, dir), "text", k = 20),
      """SELECT token, n AS n_exact, TRUE AS cms_ge_exact FROM (
        |  SELECT token, count(*) AS n FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |    FROM documents) t
        |  WHERE token <> ''
        |  GROUP BY token ORDER BY n DESC, token LIMIT 20)""".stripMargin),

    // ───── BM25 top-k retrieval (Robertson-Zaragoza 2009 — the
    // production lexical ranker): RSJ idf + length-normalized tf
    // saturation, k1/b and every derived literal interpolated as the
    // EXACT doubles Spark computes; 9 dp term scores, decimal doc
    // sums. Same one-shuffle shape as TF-IDF plus the broadcast
    // (N, avg-len) frame.
    "ret_bm25_topk" -> QueryDef.sql(
      (s, dir) =>
        TextAnalysis.bm25Retrieve(docs(s, dir), "doc_id", "text",
          Seq("join", "merge", "window", "scan"), k = 10),
      s"""WITH dl AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS DOUBLE) AS l
         |  FROM documents),
         |corpus AS (
         |  SELECT COUNT(*) AS n_docs,
         |    CAST(SUM(CAST(l AS DECIMAL(30,2))) AS DOUBLE)
         |      / CAST(COUNT(*) AS DOUBLE) AS avg_len
         |  FROM dl),
         |toks AS (
         |  SELECT doc_id, token FROM (
         |    SELECT doc_id,
         |           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
         |    FROM documents)
         |  WHERE token IN ('join', 'merge', 'window', 'scan')),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         |idf AS (
         |  SELECT token,
         |    round(ln((CAST(n_docs AS DOUBLE) - CAST(COUNT(DISTINCT doc_id) AS DOUBLE) + 0.5)
         |           / (CAST(COUNT(DISTINCT doc_id) AS DOUBLE) + 0.5) + 1.0), 9) AS idf,
         |    avg_len
         |  FROM tf, corpus GROUP BY token, n_docs, avg_len),
         |w AS (
         |  SELECT tf.doc_id,
         |    round((idf.idf * (CAST(tf.tf AS DOUBLE) * ${1.2 + 1.0}))
         |        / (CAST(tf.tf AS DOUBLE)
         |           + ${1.2} * (${1.0 - 0.75} + ${0.75} * dl.l / idf.avg_len)), 9) AS w
         |  FROM tf JOIN idf USING (token) JOIN dl ON dl.doc_id = tf.doc_id)
         |SELECT doc_id,
         |       round(CAST(SUM(CAST(w AS DECIMAL(30,9))) AS DOUBLE), 6) AS score
         |FROM w GROUP BY doc_id
         |ORDER BY score DESC, doc_id ASC
         |LIMIT 10""".stripMargin),

    // ───── inverted-index build: the posting-list table behind the
    // lexical retrievers, materialized as data (term → df, total
    // occurrences, top-5 "docId:tf" postings). One (term, doc)
    // shuffle; the window, both aggregates, and the final join all
    // reuse the term partitioning, and the posting list is capped
    // BEFORE collect_list so no task holds a stopword's full docs
    // list. Postings serialize via array_join (LIST columns can't
    // cross the driver compare).
    "ret_inverted_index" -> QueryDef.sql(
      (s, dir) =>
        TextAnalysis.invertedIndex(docs(s, dir), "doc_id", "text",
          maxPostings = 5, minDf = 2),
      """WITH tk AS (
        |  SELECT doc_id,
        |         unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |t2 AS (SELECT doc_id, term FROM tk WHERE term <> ''),
        |tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM t2 GROUP BY 1, 2),
        |stats AS (
        |  SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS n_occurrences
        |  FROM tf GROUP BY 1),
        |top AS (
        |  SELECT term, doc_id, tf,
        |         row_number() OVER (PARTITION BY term
        |           ORDER BY tf DESC, doc_id ASC) AS rn
        |  FROM tf),
        |p AS (
        |  SELECT term,
        |         string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
        |                    ',' ORDER BY rn) AS postings
        |  FROM top WHERE rn <= 5 GROUP BY 1)
        |SELECT s.term, s.df, s.n_occurrences, p.postings
        |FROM stats s JOIN p USING (term)
        |WHERE s.df >= 2""".stripMargin),

    // ───── hybrid retrieval via reciprocal-rank fusion (Cormack et
    // al. 2009, SIGIR — the standard lexical+vector combiner): the
    // TF-IDF top-20 and the cosine-ANN top-20 fuse by
    // Σ 1/(60+rank), missing-from-a-list contributes 0. Both source
    // rankings are individually oracle-proven (ta_tfidf_search,
    // ann_topk); this gates the COMPOSITION end to end. The top-k
    // windows run over k-bounded frames (control-plane rows, not the
    // corpus).
    "ret_hybrid_rrf" -> QueryDef.sql(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val text = TextAnalysis.tfidfRetrieve(docs(s, dir), "doc_id", "text",
          Seq("join", "merge", "window", "scan"), k = 20)
          .withColumn("r_text", row_number().over(
            Window.orderBy(col("score").desc, col("doc_id"))))
          .select(col("doc_id"), col("r_text"))
        val e = emb(s, dir)
        val vec = Similarity.bruteForceTopK(e, e.filter(col("vec_id") === 0),
          "vec_id", "embedding", k = 20)
          .select(col("cand_id").as("doc_id"), col("rank").as("r_vec"))
        text.join(vec, Seq("doc_id"), "full_outer")
          .withColumn("rrf", round(
            coalesce(lit(1.0) / (lit(60.0) + col("r_text").cast("double")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60.0) + col("r_vec").cast("double")), lit(0.0)),
            9))
          .withColumn("rank", row_number().over(
            Window.orderBy(col("rrf").desc, col("doc_id"))))
          .filter(col("rank") <= 10)
          .select("doc_id", "rrf", "rank")
      },
      s"""WITH toks AS (
         |  SELECT doc_id, token FROM (
         |    SELECT doc_id,
         |           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
         |    FROM documents)
         |  WHERE token IN ('join', 'merge', 'window', 'scan')),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
         |idf AS (
         |  SELECT token,
         |         round(ln(CAST(n_docs AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)), 9) AS idf
         |  FROM tf, nd GROUP BY token, n_docs),
         |w AS (
         |  SELECT doc_id, round(CAST(tf AS DOUBLE) * idf, 9) AS w
         |  FROM tf JOIN idf USING (token)),
         |ts AS (
         |  SELECT doc_id,
         |         round(CAST(SUM(CAST(w AS DECIMAL(30,9))) AS DOUBLE), 6) AS score
         |  FROM w GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 20),
         |t AS (SELECT doc_id,
         |             row_number() OVER (ORDER BY score DESC, doc_id) AS r_text
         |      FROM ts),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |sc AS (SELECT vec_id AS cand_id,
         |              round(${cosineSql("qv", "embedding")}, 6) AS cs
         |       FROM embeddings, q WHERE vec_id <> 0),
         |v AS (SELECT cand_id AS doc_id, r_vec FROM (
         |        SELECT cand_id,
         |               row_number() OVER (ORDER BY cs DESC, cand_id) AS r_vec
         |        FROM sc) WHERE r_vec <= 20),
         |f AS (
         |  SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
         |         round(COALESCE(1.0 / (60.0 + CAST(r_text AS DOUBLE)), 0.0)
         |             + COALESCE(1.0 / (60.0 + CAST(r_vec AS DOUBLE)), 0.0), 9) AS rrf
         |  FROM t FULL JOIN v ON t.doc_id = v.doc_id)
         |SELECT doc_id, rrf, rank FROM (
         |  SELECT doc_id, rrf,
         |         CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS rank
         |  FROM f)
         |WHERE rank <= 10""".stripMargin)
  )
}
