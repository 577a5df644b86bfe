package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar expression library — the reference's row-level logic
  * (SURVEY.md §2.2, §2.8) re-expressed as composed Spark built-ins so
  * everything stays inside WholeStageCodegen (no UDFs on hot paths).
  */
object Functions {

  /** TZ-independent timestamp literal: the given wall-clock string AS
    * a UTC instant. `java.sql.Timestamp.valueOf` interprets its string
    * in the JVM DEFAULT timezone — the engine pins the SESSION
    * timezone to UTC (GraftSession) but the JVM default follows the
    * host, so a sentinel built with valueOf names a different instant
    * on a laptop in PST than on a UTC cluster and reruns disagree
    * (caught by `graft.DeterminismAudit` under -Duser.timezone).
    * Accepts `yyyy-MM-dd HH:mm:ss` or ISO `yyyy-MM-ddTHH:mm:ss`.
    */
  def utcTimestamp(wallClock: String): java.sql.Timestamp =
    java.sql.Timestamp.from(
      java.time.LocalDateTime.parse(wallClock.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC))

  /** P18: text normalization (reference `fuzzy_match.py:15-21`,
    * `normalize.py:7-13`): lowercase, strip non-alnum (keep spaces),
    * collapse whitespace, trim. Runs as the codegen'd
    * [[graft.plans.NormalizeText]] expression — bit-identical to the
    * composed form `trim(regexp_replace(regexp_replace(lower(c),
    * "[^a-z0-9 ]", ""), "\\s+", " "))` (NormalizeTextSpec pins the
    * equivalence), but the ASCII common case is one allocation-free
    * byte pass instead of two regex replaceAll passes — measured 21 s
    * → ~1 s on the 100× corpus normalization stage that feeds every
    * dedup fingerprint and MinHash signature.
    */
  def normalizeText(c: Column): Column = call_function("normalize_text", c)

  /** §2.8: token_sort_ratio (reference `fuzzy_match.py:44-51` uses
    * fuzzywuzzy). Re-expressed with built-ins: normalize, sort the
    * token multiset, rejoin, then a Levenshtein similarity scaled to
    * 0..100. All codegen'd — no UDF.
    */
  def tokenSorted(c: Column): Column =
    array_join(sort_array(split(normalizeText(c), " ")), " ")

  /** Ratio over ALREADY token-sorted strings — use when the sorted
    * form is precomputed once per entity instead of per pair (the
    * normalization regexes dominate pairwise scoring cost otherwise).
    */
  def tokenSortRatioPre(sa: Column, sb: Column): Column = {
    val maxLen = greatest(length(sa), length(sb))
    // equal-string short-circuit: identical inputs score exactly 100.0
    // (levenshtein 0), and equality is O(n) vs the O(n²) DP — in-block
    // exact dups are the common case in dedup workloads
    when(sa === sb, lit(100.0))
      .when(maxLen === 0, lit(100.0))
      .otherwise(round(
        // levenshtein_fast == built-in levenshtein values
        // (LevenshteinFastSpec); prefix/suffix-stripped byte DP — the
        // MDM pair-scoring stage is pure levenshtein CPU at scale
        (lit(1.0) - call_function("levenshtein_fast", sa, sb).cast("double") /
          maxLen.cast("double")) * 100, 1))
  }

  def tokenSortRatio(a: Column, b: Column): Column =
    tokenSortRatioPre(tokenSorted(a), tokenSorted(b))

  /** P20: weighted MDM match score (`fuzzy_match.py:54`). */
  def weightedScore(nameScore: Column, addressScore: Column,
                    nameWeight: Double = 0.7): Column =
    round(lit(nameWeight) * nameScore + lit(1.0 - nameWeight) * addressScore, 2)

  /** P19: confidence bucketing (`fuzzy_match.py:72-79`). */
  def confidenceBucket(score: Column, high: Double = 95, medium: Double = 80): Column =
    when(score >= high, "HIGH").when(score >= medium, "MEDIUM").otherwise("LOW")

  /** P19: bucket → governance action (`fuzzy_match.py:81-89`). */
  def governanceAction(bucket: Column): Column =
    when(bucket === "HIGH", "AUTO_MERGE")
      .when(bucket === "MEDIUM", "STEWARD_REVIEW")
      .otherwise("NO_ACTION")

  /** P14: SCD2 record hash (`scd2_delta_vendors.py:36-56`):
    * sha2-256 over "||"-joined coalesced string casts of the business
    * columns. Column order is part of the contract — callers pass an
    * explicit ordered list. Doubles should be pre-cast to
    * decimal(18,2) by the caller when oracle parity matters (double
    * → string rendering differs across engines).
    */
  def recordHash(cols: Seq[Column]): Column =
    sha2(concat_ws("||", cols.map(c => coalesce(c.cast("string"), lit(""))): _*), 256)

  /** P15: md5 change-hash twin (`sql/scd/02_scd_procedures.sql:36-41`). */
  def md5Hash(cols: Seq[Column]): Column =
    md5(concat_ws("|", cols.map(c => coalesce(c.cast("string"), lit(""))): _*))

  /** P22: sequential surrogate ID MV-%05d
    * (`lifecycle_management.py:46-52`). Caller supplies the
    * row_number column (needs a Window with a deterministic order).
    */
  def surrogateId(rowNumber: Column, prefix: String = "MV"): Column =
    format_string(s"$prefix-%05d", rowNumber)

  /** O5: longest-string survivorship (`fuzzy_match.py:121-132`). */
  def longestString(a: Column, b: Column): Column =
    when(length(coalesce(a, lit(""))) >= length(coalesce(b, lit(""))), a).otherwise(b)

  /** P21: percentage ratio rounded to 2 (`glue_mdm.py:63-65`). */
  def pctRatio(num: Column, denom: Column): Column =
    when(denom === 0, lit(0.0)).otherwise(round(num.cast("double") / denom.cast("double") * 100, 2))

  /** Run-id stamp `yyyyMMddHHmmss` (ref `nyc_raw_to_validated_etl
    * .py:12` strftime). Takes an injected instant — never wall clock
    * in verified paths (SURVEY.md §7.5.2).
    */
  def runId(asOf: java.sql.Timestamp): String =
    new java.text.SimpleDateFormat("yyyyMMddHHmmss") {
      setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    }.format(asOf)

  /** Exact-decimal sum rendered back as double: FP addition is not
    * associative, so a parallel double sum is run-order dependent —
    * sum in decimal (exact, associative) then cast, giving
    * bit-identical results across engines and partitionings.
    */
  def exactSum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(30,$scale)")).cast("double")

  // ── exact-moment statistics ──────────────────────────────────────
  // The shared recipe behind every statistical query (correlation,
  // z-scores, outlier σ): accumulate EXACT decimal moments (n, Σx,
  // Σx², and for bivariate Σy, Σxy, Σy²) in the aggregate — decimal
  // addition is associative, so the sums are partitioning-invariant —
  // then evaluate the classical second-moment identities in ONE fixed
  // double expression. Built-in stddev/corr accumulate doubles in
  // partition order and drift in the last ulps between engines; these
  // are bit-identical across Spark and the DuckDB oracle. Callers
  // supply the moment columns (cast inputs to a decimal narrow enough
  // that products stay within precision 38, e.g. decimal(14,2)).

  /** Mean from exact moments: Σx/n evaluated in doubles. */
  def momentsMean(n: Column, s1: Column): Column =
    s1.cast("double") / n.cast("double")

  /** POPULATION std-dev from exact moments:
    * sqrt((n·Σx² − (Σx)²) / n²). Negative radicands cannot occur
    * (Cauchy–Schwarz holds exactly on the decimal sums — the reason
    * to use exact moments in the first place).
    */
  def momentsStddevPop(n: Column, s1: Column, s2: Column): Column =
    sqrt((n.cast("double") * s2.cast("double") -
      s1.cast("double") * s1.cast("double")) /
      (n.cast("double") * n.cast("double")))

  /** Pearson r from exact bivariate moments:
    * (n·Σxy − Σx·Σy) / (√(n·Σx²−(Σx)²) · √(n·Σy²−(Σy)²)).
    * NULL when either variance is zero (0/0 → NaN is avoided by the
    * caller filtering, or surfaces as NULL after round()).
    */
  def momentsPearson(n: Column, sx: Column, sy: Column,
                     sxy: Column, sxx: Column, syy: Column): Column =
    (n.cast("double") * sxy.cast("double") -
      sx.cast("double") * sy.cast("double")) /
      (sqrt(n.cast("double") * sxx.cast("double") -
        sx.cast("double") * sx.cast("double")) *
        sqrt(n.cast("double") * syy.cast("double") -
          sy.cast("double") * sy.cast("double")))

  // ── rank-exact order statistics ──────────────────────────────────

  /** Plan for the k-th SMALLEST value of `c`: TakeOrderedAndProject
    * keeps a k-row heap per partition and pulls k rows to one task —
    * valid ONLY for k = O(n/parts); for a high quantile use
    * [[kthLargestPlan]] with the complementary rank so the heap stays
    * small (VERDICT r8: a 0.99·n heap is a single-task scale-killer).
    * The k-th order statistic of a multiset is tie-order-invariant,
    * so max-of-first-k is deterministic regardless of which tied rows
    * the sort emits first.
    */
  def kthSmallestPlan(df: org.apache.spark.sql.DataFrame, c: Column,
                      k: Int): org.apache.spark.sql.DataFrame =
    df.orderBy(c.asc).limit(k).agg(max(c).as("kth"))

  /** Plan for the k-th LARGEST value of `c` — the complement of
    * [[kthSmallestPlan]]: the k-th largest equals the (n−k+1)-th
    * smallest, so a P99 cutoff is reachable with a heap of ~n/100
    * rows instead of 0.99·n.
    */
  def kthLargestPlan(df: org.apache.spark.sql.DataFrame, c: Column,
                     k: Int): org.apache.spark.sql.DataFrame =
    df.orderBy(c.desc).limit(k).agg(min(c).as("kth"))

  /** `spark.sql.shuffle.partitions` as an Int, falling back to
    * `defaultParallelism` on runtimes where the conf is non-numeric
    * (e.g. "auto" under AQE-managed partitioning) — callers use this
    * for explicit repartition-by-num on pair-explosion joins.
    */
  def numShufflePartitions(spark: org.apache.spark.sql.SparkSession): Int =
    scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
}
