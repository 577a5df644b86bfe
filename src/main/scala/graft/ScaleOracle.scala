package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

/** Scale-correctness oracle: EXACT result predictions at derived
  * scales, so the bench's 10× run is oracle-gated, not just timed.
  *
  * The DuckDB oracle pins every query's result at the driver's SFs
  * (sf0.01); the derived-scale sweeps measure throughput at 10×/30×
  * but — before this — verified nothing about the answers computed
  * there. A whole class of scale bugs is invisible at correctness
  * SFs and silent in a timing: 32-bit overflow past 2³¹ rows, a
  * partial-aggregation merge bug that only fires when maps spill, a
  * hash collision handled wrong only once buckets are dense, AQE
  * re-planning to a join that drops rows. This module closes that
  * gap with laws that make the scaled answer exactly predictable.
  *
  * [[graft.sources.ScaledCorpus]] builds the N× corpus as a DISJOINT
  * UNION of key-shifted replicas in which replica 0 is byte-identical
  * to the base corpus, conformed dimensions are shared, and
  * replica-internal structure (join selectivity, group sizes, text
  * statistics) is preserved exactly. That construction makes three
  * check families mathematically exact — no tolerance archaeology,
  * no "close enough":
  *
  *  - [[ScaleOracle.Embed]] — per-shifted-key queries: the N× result
  *    restricted to replica-0 keys must multiset-EQUAL the 1× result
  *    (and, where replicas are symmetric, total rows must equal
  *    N · base rows). Holds because each replica joins/groups only
  *    within itself, so replica-0 output rows are computed from
  *    exactly the base corpus's rows regardless of N.
  *  - [[ScaleOracle.GroupScaled]] — unshifted-group aggregates
  *    (dates, event types, windows): every replica contributes an
  *    identical row set per group, so counts and sums scale by
  *    exactly N and the group set is unchanged. Long/decimal-derived
  *    measures compare exactly; doubles get a 1e-9 relative bound
  *    (N·double(S) vs double(N·S) differ by final-rounding ulps
  *    only).
  *  - [[ScaleOracle.SqlTwin]] — where no replica law holds (dedup
  *    collapses exact cross-replica twins; top-k re-ranks against
  *    them): an INDEPENDENT plain-SQL recomputation over the scaled
  *    tables (raw Spark SQL expressions — no graft operator, no
  *    custom expression) must multiset-equal the engine result at N×.
  *
  * Queries whose semantics are legitimately corpus-statistics-
  * dependent (IVF centroids trained on the data, an LM trained on
  * the corpus, adaptive blocking re-routing oversized blocks) are
  * [[ScaleOracle.Excluded]] BY NAME with the rationale recorded in
  * the artifact — a reader sees why no law can exist, not an absence.
  */
object ScaleOracle {

  import graft.sources.ScaledCorpus.Stride

  sealed trait Check

  /** N× result filtered to replica-0 keys ≡ 1× result (multiset).
    * `pred` selects replica-0 OUTPUT rows; `countLaw` additionally
    * asserts total N× rows = copies · base rows (disable where
    * replicas are deliberately asymmetric — e.g. a fixture filter on
    * literal small keys selects only replica 0 — or where rare
    * cross-replica LSH candidate collisions are legitimate).
    */
  final case class Embed(pred: Column, countLaw: Boolean = true) extends Check

  /** Unshifted-group aggregate: expected N× rows = 1× rows with
    * `scaledLongCols` × copies (exact), `scaledDoubleCols` × copies
    * (1e-9 relative), `invariantCols` unchanged (exact),
    * `invariantDoubleCols` unchanged up to 1e-9 relative (a ratio of
    * two ×N counts is the same rational but the double division runs
    * over different magnitudes); group set identical. Empty groupCols
    * = a global-aggregate law over the single row.
    */
  final case class GroupScaled(groupCols: Seq[String],
                               scaledLongCols: Seq[String] = Nil,
                               scaledDoubleCols: Seq[String] = Nil,
                               invariantCols: Seq[String] = Nil,
                               invariantDoubleCols: Seq[String] = Nil) extends Check

  /** Independent plain-SQL recomputation over the SCALED tables
    * (views `so_documents`, `so_embeddings`, …): must multiset-equal
    * the engine result at N×. The twin uses only built-in SQL
    * expressions, so a bug in a graft operator/custom expression that
    * fires only at scale diverges from it.
    */
  final case class SqlTwin(sql: String) extends Check

  /** Independent recomputation built by a FUNCTION over the scaled
    * dir — for twins whose front half is a graft operator already
    * law-gated in its own right (e.g. the LSH pair list), with the
    * disputed tail re-derived in plain SQL. `note` documents exactly
    * which part is shared and why that is sound; the shared prefix
    * must itself carry a check in this map.
    */
  final case class FnTwin(note: String)(
      val build: (SparkSession, String) => DataFrame) extends Check

  /** No law can exist: the query's semantics depend on corpus
    * statistics by design. Named + explained in the artifact.
    */
  final case class Excluded(reason: String) extends Check

  private def keyLt(cols: String*): Column =
    cols.map(c => col(c) < Stride).reduce(_ && _)

  /** Left-to-right double dot product — bit-identical to
    * graft.plans.VecDot's accumulation (promote each float to double,
    * multiply, sequential sum), expressed with built-ins only.
    */
  private def dotSql(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"

  /** Spark-dialect twin of the text-normalization fingerprint
    * (mirrors Functions.normalizeText / the DuckDB normSql).
    */
  private val normTwin = "normalize_text(text)"

  // ─────────────────────────────────────────────────────────────────
  // r14: FULL-registry coverage. Any 10×-flagged name auto-joins the
  // in-bench oracle tier (Bench.run), so EVERY registry name needs a
  // law, a twin, or a named exclusion — a "no check registered" skip
  // on a flagged query defeats the tier (VERDICT r13 #1). OracleGap
  // lists the uncovered names; ScaleOracleCoverageSpec pins the list
  // empty. The laws below follow the same derivations as the core
  // map; partial laws (some columns unchecked) say so in place.
  // ─────────────────────────────────────────────────────────────────

  /** mdm_golden_records concatenates the pair ids into `source_ids` —
    * parse them back for the replica-0 predicate.
    */
  private def goldenIdsLt: Column = {
    val ids = split(col("source_ids"), ",")
    ids.getItem(0).cast("long") < Stride && ids.getItem(1).cast("long") < Stride
  }

  /** Spark-dialect unrolled 3-iteration integer PageRank over a pair
    * list registered as `so_pr_pairs` — the DuckDB oracle's CTE chain
    * verbatim (// → DIV). Independent of Graph.pageRank's join/agg
    * implementation; the pair-list front half is law-gated by
    * dd_minhash_pairs' own Embed check.
    */
  private val pagerankUnrollSql: String =
    """WITH edges AS (
      |  SELECT id_1 AS src, id_2 AS dst FROM so_pr_pairs
      |  UNION
      |  SELECT id_2, id_1 FROM so_pr_pairs),
      |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
      |edeg AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON d.src = e.src),
      |nn AS (SELECT COUNT(DISTINCT src) AS n FROM edges),
      |r0 AS (
      |  SELECT DISTINCT src AS node, 1000000000000L DIV nn.n AS r
      |  FROM edges CROSS JOIN nn),
      |c1 AS (SELECT e.dst AS node, r.r DIV e.deg AS c
      |       FROM edeg e JOIN r0 r ON r.node = e.src),
      |r1 AS (SELECT node, (15000000000000L DIV (100 * nn.n))
      |         + ((85 * SUM(c)) DIV 100) AS r
      |       FROM c1 CROSS JOIN nn GROUP BY node, nn.n),
      |c2 AS (SELECT e.dst AS node, r.r DIV e.deg AS c
      |       FROM edeg e JOIN r1 r ON r.node = e.src),
      |r2 AS (SELECT node, (15000000000000L DIV (100 * nn.n))
      |         + ((85 * SUM(c)) DIV 100) AS r
      |       FROM c2 CROSS JOIN nn GROUP BY node, nn.n),
      |c3 AS (SELECT e.dst AS node, r.r DIV e.deg AS c
      |       FROM edeg e JOIN r2 r ON r.node = e.src),
      |r3 AS (SELECT node, (15000000000000L DIV (100 * nn.n))
      |         + ((85 * SUM(c)) DIV 100) AS r
      |       FROM c3 CROSS JOIN nn GROUP BY node, nn.n)
      |SELECT node AS doc_id, CAST(r AS DOUBLE) / 1000000000000.0 AS rank
      |FROM r3""".stripMargin

  /** Spark-dialect degree-oriented wedge-close triangle census over a
    * pair list registered as `so_tri_pairs` — the DuckDB oracle's CTE
    * chain. Independent of Graph.triangleStats.
    */
  private val triangleCensusSql: String =
    """WITH edges AS (
      |  SELECT id_1 AS src, id_2 AS dst FROM so_tri_pairs
      |  UNION
      |  SELECT id_2, id_1 FROM so_tri_pairs),
      |deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
      |oriented AS (
      |  SELECT e.src AS lo, e.dst AS hi FROM edges e
      |  JOIN deg ds ON ds.node = e.src
      |  JOIN deg dd ON dd.node = e.dst
      |  WHERE ds.deg < dd.deg OR (ds.deg = dd.deg AND e.src < e.dst)),
      |wedges AS (
      |  SELECT a.lo, a.hi AS mid, b.hi AS far
      |  FROM oriented a JOIN oriented b ON a.lo = b.lo AND a.hi <> b.hi),
      |tris AS (
      |  SELECT w.lo, w.mid, w.far FROM wedges w
      |  WHERE EXISTS (SELECT 1 FROM oriented o
      |                WHERE o.lo = w.mid AND o.hi = w.far)),
      |pern AS (
      |  SELECT node, COUNT(*) AS tri FROM (
      |    SELECT lo AS node FROM tris
      |    UNION ALL SELECT mid FROM tris
      |    UNION ALL SELECT far FROM tris) GROUP BY node)
      |SELECT d.node AS doc_id, d.deg, COALESCE(p.tri, 0L) AS tri,
      |  CASE WHEN d.deg < 2 THEN 0.0D
      |       ELSE CAST(2 * COALESCE(p.tri, 0L) AS DOUBLE)
      |            / CAST(d.deg * (d.deg - 1) AS DOUBLE) END AS lcc
      |FROM deg d LEFT JOIN pern p ON p.node = d.node""".stripMargin

  /** One md5-chain column digest (the gov_table_checksum recipe) in
    * Spark SQL.
    */
  private def checksumColDigest(c: String): String =
    s"md5(CASE WHEN $c IS NULL THEN 'n' ELSE concat('v', CAST($c AS STRING)) END)"

  private val checksumTwinSql: String = {
    val row = Seq("c_custkey", "c_name", "c_nationkey")
      .map(checksumColDigest).mkString(", ")
    s"""WITH s AS (
       |  SELECT
       |    CAST(conv(substring(md5(concat('1', $row)), 1, 15), 16, 10)
       |      AS DECIMAL(28,0)) AS s1,
       |    CAST(conv(substring(md5(concat('2', $row)), 1, 15), 16, 10)
       |      AS DECIMAL(28,0)) AS s2
       |  FROM so_customer)
       |SELECT COUNT(*) AS n_rows,
       |  CAST(SUM(s1) % 1152921504606846976L AS BIGINT) AS sig1,
       |  CAST(SUM(s2) % 1152921504606846976L AS BIGINT) AS sig2,
       |  'md5x15-madd60-v2' AS sig_scheme
       |FROM s""".stripMargin
  }

  /** The salted-rank twin: ONE plain per-key window (the thing the
    * bucket-rank + offset decomposition must equal at any scale).
    */
  private val skewRankTwinSql: String =
    """WITH f AS (
      |  SELECT CASE WHEN l_orderkey % 10 < 4 THEN 0L
      |              ELSE l_orderkey % 1000 + 1 END AS hot_key,
      |         l_orderkey * 10 + l_linenumber AS line_id
      |  FROM so_lineitem)
      |SELECT hot_key, line_id,
      |       CAST(row_number() OVER (PARTITION BY hot_key
      |         ORDER BY md5(concat('skew', CAST(line_id AS STRING))),
      |                  line_id) AS BIGINT) AS pos
      |FROM f""".stripMargin

  private val extendedChecks: Map[String, Check] = Map(
    // ── replica-embedding laws (per-shifted-key / per-doc queries) ──
    "a22_group_trend" -> Embed(keyLt("l_suppkey")),
    "v06_outlier_days" -> Embed(keyLt("l_suppkey")),
    "v08_seasonal_outliers" -> Embed(keyLt("l_suppkey")),
    "j16_correlated_scalar" -> Embed(keyLt("c_custkey")),
    "o05_survivorship" -> Embed(keyLt("p_partkey")),
    "o07_topk_agg" -> Embed(keyLt("o_custkey")),
    // inserts come from literal small suppkeys (replica 0 only) and
    // the modulo-derived delete/update sets differ per replica
    // (Stride % 13 = 9, % 7 = 2) — replica-0 law only
    "cdc_snapshot_diff" -> Embed(keyLt("s_suppkey"), countLaw = false),
    // per-lang cumsum ordered by doc_id: replica-0 rows form the
    // exact prefix of every lang partition, so their pack_ids are
    // the 1x values verbatim
    "ta_pack_sequences" -> Embed(keyLt("doc_id")),
    "ta_unigram_entropy" -> Embed(keyLt("doc_id")),
    // fixed synthetic weight table — per-doc pure function
    "ta_classifier_gate" -> Embed(keyLt("doc_id")),
    "ta_rpv2_fracs" -> Embed(keyLt("doc_id")),
    "ta_top_ngram_frac" -> Embed(keyLt("doc_id")),
    // exact-dup groups are replica-confined unless a text is
    // invariant under the copy's letter permutation — it contains no
    // letters, or only letters that copy's map happens to fix (then
    // cross-replica groups merge) — no such text exists in the
    // synthetic corpus (spec-measured at x3); countLaw off because
    // the insert fixture is replica-0-tied
    "dd_exact_groups" -> Embed(keyLt("canonical_id"), countLaw = false),
    "dd_incremental" -> Embed(keyLt("doc_id"), countLaw = false),
    "dd_incremental_bloom" -> Embed(keyLt("doc_id"), countLaw = false),
    // batch-vs-corpus band collisions across replicas are legitimate
    // LSH behavior (the dd_minhash_pairs note) — no ×N row law
    "dd_incremental_neardup" ->
      Embed(keyLt("batch_id", "corpus_id"), countLaw = false),
    "dd_minhash_pairs_xx64" -> Embed(keyLt("id_1", "id_2"), countLaw = false),
    "dd_neardup_result" -> Embed(keyLt("doc_id"), countLaw = false),
    // window/segment duplication is corpus-global: replica-0 rows
    // stay 1x-exact because permuted replicas share no 10-token
    // window / 8-token segment with replica 0 (a shared window would
    // need every letter in it to map identically — the per-copy
    // permutations pairwise agree on ≤10 of 26 letters, spec-pinned)
    "dd_dup_passages" -> Embed(keyLt("doc_id"), countLaw = false),
    "dd_dup_passages_hashed" -> Embed(keyLt("doc_id"), countLaw = false),
    "dd_substring_scrub" -> Embed(keyLt("doc_id"), countLaw = false),
    // MDM pair-listing on a FIXED block schema: block keys (nation,
    // segment, name-suffix) are unshifted so cross-replica pairs
    // legitimately form (names replicate verbatim), but a pair of
    // replica-0 entities is emitted iff they share a block — a pure
    // per-entity function — with scores depending only on the two
    // rows, so the replica-0 pair multiset is exactly the 1x one
    "mdm_match_pairs_fine" -> Embed(keyLt("id_1", "id_2"), countLaw = false),
    "mdm_match_pairs_coarse" -> Embed(keyLt("id_1", "id_2"), countLaw = false),
    "mdm_steward_queue_fine" -> Embed(keyLt("id_1", "id_2"), countLaw = false),
    "mdm_steward_queue_coarse" -> Embed(keyLt("id_1", "id_2"), countLaw = false),
    "mdm_golden_records_fine" -> Embed(goldenIdsLt, countLaw = false),
    "mdm_golden_records_coarse" -> Embed(goldenIdsLt, countLaw = false),
    // streaming stream-stream joins: per-user state is
    // replica-confined (user_id shifts), ts/values identical
    "ev_stream_interval_join" -> Embed(keyLt("user_id")),
    "ev_stream_outer_join" -> Embed(keyLt("user_id")),
    "ev_stream_full_outer" -> Embed(keyLt("user_id")),

    // ── unshifted-group / global scaling laws ──
    // p50/p95 are interpolated ranks — replicating the multiset moves
    // the interpolation position, so only min/max carry a law
    "a11_percentiles" -> GroupScaled(Seq("l_returnflag"),
      invariantCols = Seq("min_price", "max_price")),
    // the GK bound must HOLD at 10x — that is the gate's whole point
    "a17_approx_quantile_gate" -> GroupScaled(Seq("l_returnflag"),
      scaledLongCols = Seq("n"),
      invariantCols = Seq("p50_within_bound", "p95_within_bound")),
    // cum·2 ≥ total is scale-invariant (both sides ×N)
    "a23_weighted_median" -> GroupScaled(Seq("l_returnflag"),
      scaledLongCols = Seq("total_weight"),
      invariantCols = Seq("wmedian_cents")),
    // floor((N·n·10⁶)/(N·tot)) = floor(n·10⁶/tot) — ppm invariant
    "a24_benford_check" -> GroupScaled(Seq("digit"),
      scaledLongCols = Seq("n"),
      invariantCols = Seq("share_ppm", "benford_ppm", "dev_ppm")),
    // rank-exact P1/P99 cutoffs are replication-invariant:
    // ceil(ceil(x·N)/N) = ceil(x), so the k-th smallest of the N-fold
    // multiset is the ⌈k/N⌉-th smallest of the base
    "v07_winsorized_revenue" -> GroupScaled(Seq("l_returnflag"),
      scaledLongCols = Seq("n_rows", "n_clipped"),
      scaledDoubleCols = Seq("winsorized_sum")),
    // daily frame is calendar-bounded; med/MAD scale ×N exactly and
    // the outlier inequality scales both sides ×N
    "v09_mad_outliers" -> GroupScaled(Seq("ship_date"),
      scaledDoubleCols = Seq("total_revenue"),
      invariantCols = Seq("is_outlier"),
      invariantDoubleCols = Seq("robust_z")),
    "v10_distribution_drift" -> GroupScaled(Seq("event_type"),
      scaledLongCols = Seq("o1", "o2"),
      invariantCols = Seq("p1_ppm", "p2_ppm", "delta_ppm", "tvd_ppm")),
    // cusum rides the FLOOR-mean residual (floor(N·s/d) ≠ N·floor(s/d))
    // so only the daily cents carry an exact law — partial by design
    "v12_cusum_shift" -> GroupScaled(Seq("d"), scaledLongCols = Seq("cents")),
    "v02_validation_metrics" -> GroupScaled(Nil,
      scaledLongCols = Seq("records_read", "records_valid",
        "records_quarantined", "violations_not_null_l_shipdate",
        "violations_greater_than_l_quantity", "violations_between_l_discount",
        "violations_allowed_values_l_returnflag",
        "violations_between_l_quantity"),
      invariantCols = Seq("run_id", "job_name", "status"),
      invariantDoubleCols = Seq("error_rate")),
    "v04_uniqueness_checks" -> GroupScaled(Seq("rule_name"),
      scaledLongCols = Seq("duplicate_groups"),
      invariantCols = Seq("passed")),
    // ts is unshifted → the global max and its age are invariant
    "v05_freshness" -> GroupScaled(Nil,
      invariantCols = Seq("newest_ts", "age_days", "fresh")),
    // quality ratio of two ×N counts: (N·q)/(N·r) is the same
    // rational → the correctly-rounded double division is identical
    "wf_gate_roundtrip" -> GroupScaled(Nil,
      invariantCols = Seq("decision", "reason", "freshness_ok"),
      invariantDoubleCols = Seq("quality_ratio", "quality_score")),
    "gov_lineage" -> GroupScaled(Seq("job_name"),
      scaledLongCols = Seq("record_count"),
      invariantCols = Seq("pipeline_run_id", "source_layer", "target_layer",
        "source_object", "target_object", "run_timestamp")),
    "gov_manifest" -> GroupScaled(Nil,
      invariantCols = Seq("dataset", "bucket", "owner", "domain",
        "classification", "created_on", "retention_policy", "zones")),
    "gov_rbac" -> GroupScaled(Seq("role_name", "zone"),
      invariantCols = Seq("permission", "can_read", "can_write")),
    // derived from the (scale-invariant) schema + rule suite only
    "gov_dictionary" -> GroupScaled(Seq("column_name"),
      invariantCols = Seq("table_name", "data_type", "nullable",
        "quality_rules", "is_pii", "sensitivity", "data_steward",
        "retention_policy")),
    // month partitions and the asOf (max order date) are unshifted
    "gov_lifecycle_plan" -> GroupScaled(Seq("partition"),
      invariantCols = Seq("age_days", "action")),
    // key-column max/ndv grow with the shift; value columns don't —
    // max_l_orderkey / max_l_suppkey are the (unchecked) shifted pair
    "gov_table_stats" -> GroupScaled(Nil,
      scaledLongCols = Seq("n_rows", "ndv_l_orderkey", "ndv_l_suppkey",
        "nulls_l_orderkey", "nulls_l_suppkey", "nulls_l_quantity",
        "nulls_l_extendedprice", "nulls_l_discount"),
      invariantCols = Seq("min_l_orderkey", "min_l_suppkey",
        "min_l_quantity", "max_l_quantity", "min_l_extendedprice",
        "max_l_extendedprice", "min_l_discount", "max_l_discount",
        "ndv_l_quantity", "ndv_l_extendedprice", "ndv_l_discount")),
    // per-pair laws differ (nation→region is conformed/invariant,
    // fact pairs scale ×N) — containment ppm is invariant for ALL
    "gov_fk_discovery" -> GroupScaled(Seq("child_col", "parent_col"),
      invariantCols = Seq("containment_ppm")),
    "gov_join_cardinality" -> GroupScaled(Nil,
      scaledLongCols = Seq("predicted_join_rows", "orders_keys",
        "lineitem_keys"),
      invariantCols = Seq("orders_max_freq", "lineitem_max_freq")),
    // p50/p99 are interpolated (unchecked); heaviest_keys picks up
    // replica copies of the top key (unchecked); the integer stats law
    "gov_skew_report" -> GroupScaled(Nil,
      scaledLongCols = Seq("n_keys", "total_rows"),
      invariantCols = Seq("max_cnt", "mean_cnt", "skew_ratio_ppm")),
    "skew_salted_agg" -> GroupScaled(Seq("l_returnflag"),
      scaledLongCols = Seq("count"),
      scaledDoubleCols = Seq("sum_l_extendedprice")),
    "s07_literal_metrics" -> GroupScaled(Nil,
      invariantCols = Seq("run_id", "job_name", "records_read",
        "records_valid", "records_quarantined", "status")),
    "delta_audit_history" -> GroupScaled(Seq("version"),
      scaledLongCols = Seq("record_count"),
      invariantCols = Seq("operation", "run_timestamp")),
    "corpus_jsonl_roundtrip" -> GroupScaled(Seq("lang"),
      scaledLongCols = Seq("n_docs", "total_chars")),
    "corpus_orc_roundtrip" -> GroupScaled(Seq("lang"),
      scaledLongCols = Seq("n_docs", "total_chars")),
    "corpus_csv_roundtrip" -> GroupScaled(Seq("lang"),
      scaledLongCols = Seq("n_docs", "total_text_chars", "sum_n_chars")),
    "corpus_dynamic_overwrite" -> GroupScaled(Seq("lang"),
      scaledLongCols = Seq("n_docs", "total_chars")),
    "corpus_latest_partition" -> GroupScaled(Seq("source"),
      scaledLongCols = Seq("n_docs", "total_chars")),
    "corpus_file_skipping" -> GroupScaled(Seq("l_returnflag"),
      scaledLongCols = Seq("n_rows"),
      scaledDoubleCols = Seq("sum_qty")),
    // point lookup on a literal replica-0 key — INVARIANT, not ×N
    "corpus_bloom_lookup" -> GroupScaled(Nil,
      invariantCols = Seq("n_orders", "cents")),
    "gov_lake_maintenance" -> GroupScaled(Seq("l_linestatus"),
      scaledLongCols = Seq("n_rows"),
      scaledDoubleCols = Seq("sum_price")),
    // gopher-pass and fingerprint distincts ride permuted text
    // (unchecked); docs/words and the label distincts carry the law
    "corpus_datasheet" -> GroupScaled(Nil,
      scaledLongCols = Seq("n_docs", "total_words"),
      invariantCols = Seq("n_langs", "n_sources")),
    // plants are %20-derived and Stride % 20 = 0 → every replica
    // plants the same band; permuted fingerprints keep replica
    // contributions distinct
    "dd_source_overlap" -> GroupScaled(Seq("source_a", "source_b"),
      scaledLongCols = Seq("n_shared_fingerprints")),
    // epochs/planned_tokens ride the FIXED token budget over a
    // growing corpus (legitimately scale-dependent) — partial law
    "corpus_epoch_plan" -> GroupScaled(Seq("stratum"),
      scaledLongCols = Seq("unique_tokens")),
    // distinct_tokens rides the permuted-vocab union (unchecked)
    "ta_vocab_stats" -> GroupScaled(Nil,
      scaledLongCols = Seq("total_tokens", "n_docs")),
    "emb_label_centroids" -> GroupScaled(Seq("label", "dim"),
      scaledLongCols = Seq("sum_q", "n"),
      invariantDoubleCols = Seq("mean_v")),
    // p50/p90 are interpolated (unchecked); count + max carry the law
    "ev_time_to_convert" -> GroupScaled(Nil,
      scaledLongCols = Seq("n_converted"),
      invariantCols = Seq("max_usec")),
    // the STREAMING sketch-state MV at 10x users per day: exact
    // uniques scale ×N and the ±5% HLL gate must still hold
    "mv_hll_uniques" -> GroupScaled(Seq("day"),
      scaledLongCols = Seq("n_exact"),
      invariantCols = Seq("hll_within_tol")),
    // n_exact rides the permuted-vocab union (unchecked); the HLL
    // tolerance gate itself must hold at scale
    "a13_hll_distinct_gate" -> GroupScaled(Seq("lang"),
      invariantCols = Seq("hll_within_tol", "is_global")),

    // ── independent twins (SQL over scaled views / FnTwin) ──
    "a25_hhi_concentration" -> SqlTwin(
      """WITH s AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) * 100
        |      AS BIGINT) AS cents
        |  FROM so_lineitem WHERE l_extendedprice > 0 GROUP BY l_suppkey),
        |t AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot FROM s),
        |sh AS (SELECT cents * 10000L DIV tot AS share_bp
        |       FROM s CROSS JOIN t)
        |SELECT COUNT(*) AS n_suppliers,
        |  CAST(SUM(share_bp * share_bp) AS BIGINT) AS hhi,
        |  CAST(MAX(share_bp) AS BIGINT) AS top_share_bp
        |FROM sh""".stripMargin),
    "o04_topk_orders" -> SqlTwin(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM so_orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
    "o08_keyset_page" -> SqlTwin(
      """SELECT o_orderkey, o_orderdate,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |FROM so_orders
        |WHERE o_orderdate > TIMESTAMP '1995-06-15 00:00:00'
        |   OR (o_orderdate = TIMESTAMP '1995-06-15 00:00:00'
        |       AND o_orderkey > 1000)
        |ORDER BY o_orderdate, o_orderkey
        |LIMIT 20""".stripMargin),
    "t02_union_tagged" -> SqlTwin(
      """SELECT s_name AS name, 'supplier' AS src FROM so_supplier
        |UNION ALL
        |SELECT c_name AS name, 'customer' AS src FROM so_customer""".stripMargin),
    "gov_table_checksum" -> SqlTwin(checksumTwinSql),
    // the bucket-rank + offset decomposition vs ONE global window
    "corpus_shuffle" -> SqlTwin(
      """WITH k AS (
        |  SELECT doc_id,
        |         md5(concat('seed42', CAST(doc_id AS STRING))) AS skey
        |  FROM so_documents)
        |SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY skey, doc_id) AS BIGINT) AS pos
        |FROM k""".stripMargin),
    "corpus_source_cap" -> SqlTwin(
      """SELECT source, doc_id, pos FROM (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(concat('capv1', CAST(doc_id AS STRING))),
        |               doc_id) AS BIGINT) AS pos
        |  FROM so_documents)
        |WHERE pos <= 15""".stripMargin),
    "corpus_pack_sequences" -> SqlTwin(
      """WITH t AS (
        |  SELECT doc_id,
        |    GREATEST(CAST(size(split(trim(text), '\\s+')) AS BIGINT), 1L)
        |      AS n_tokens,
        |    md5(concat('packv1', CAST(doc_id AS STRING))) AS skey
        |  FROM so_documents),
        |k AS (
        |  SELECT doc_id, n_tokens,
        |    pmod(CAST(conv(substring(skey, 1, 6), 16, 10) AS BIGINT), 8)
        |      AS shard,
        |    substring(skey, 7, 26) AS okey
        |  FROM t),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(row_number() OVER (PARTITION BY shard
        |      ORDER BY okey, doc_id) AS BIGINT) AS pack_pos,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
        |      ORDER BY okey, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)
        |      AS token_offset
        |  FROM k)
        |SELECT doc_id, shard, n_tokens, pack_pos,
        |  CAST(token_offset AS BIGINT) AS token_offset,
        |  CAST(token_offset DIV 512 AS BIGINT) AS first_seq,
        |  CAST((token_offset + n_tokens - 1) DIV 512 AS BIGINT) AS last_seq,
        |  CAST((token_offset + n_tokens - 1) DIV 512
        |    - token_offset DIV 512 + 1 AS BIGINT) AS n_seqs
        |FROM c""".stripMargin),
    "skew_rank_unsalted" -> SqlTwin(skewRankTwinSql),
    "skew_rank_salted" -> SqlTwin(skewRankTwinSql),
    "ta_top_terms" -> SqlTwin(
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT explode(split(lower(trim(text)), '\\s+')) AS token
        |  FROM so_documents)
        |WHERE token != ''
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 50""".stripMargin),
    "rec_covisit_topk" -> SqlTwin(
      """WITH items AS (
        |  SELECT user_id,
        |    CAST(get_json_object(props, '$.k') AS BIGINT) AS item
        |  FROM so_events),
        |ui AS (
        |  SELECT user_id, item, COUNT(*) AS n_i FROM items
        |  WHERE item IS NOT NULL GROUP BY user_id, item),
        |capped AS (
        |  SELECT user_id, item FROM (
        |    SELECT user_id, item,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY n_i DESC, item ASC) AS rn
        |    FROM ui) WHERE rn <= 32),
        |pr AS (
        |  SELECT a.item AS i, b.item AS j, COUNT(*) AS c
        |  FROM capped a
        |  JOIN capped b ON a.user_id = b.user_id AND a.item < b.item
        |  GROUP BY a.item, b.item),
        |sym AS (SELECT i, j, c FROM pr UNION ALL SELECT j, i, c FROM pr),
        |rk AS (
        |  SELECT i, j, c,
        |    row_number() OVER (PARTITION BY i ORDER BY c DESC, j ASC) AS rn
        |  FROM sym)
        |SELECT i AS item,
        |  array_join(transform(sort_array(collect_list(struct(rn, j, c))),
        |    p -> concat(p.j, ':', p.c)), ',') AS top_neighbors
        |FROM rk WHERE rn <= 5 GROUP BY i""".stripMargin),
    // the LSH pair list is law-gated by dd_minhash_pairs' Embed; the
    // 3 unrolled integer iterations are the independent tail
    "graph_pagerank" -> FnTwin(
      "pair list shared with the engine (law-gated via dd_minhash_pairs); " +
        "the 3 fixed-point iterations re-derived as a plain SQL CTE chain") {
      (s, dir) => {
        import graft.operators.TextDedup
        val sigs = TextDedup.minhashSignatures(
          graft.queries.LlmQueries.nearDupCorpus(s, dir), "doc_id", "text")
        TextDedup.lshCandidatePairs(TextDedup.lshBands(sigs, "doc_id"), "doc_id")
          .createOrReplaceTempView("so_pr_pairs")
        s.sql(pagerankUnrollSql)
      }
    },
    "graph_triangle_stats" -> FnTwin(
      "deduped pair list shared with the engine (law-gated via " +
        "dd_dedup_result + dd_minhash_pairs); the oriented wedge-close " +
        "census re-derived as a plain SQL CTE chain") {
      (s, dir) => {
        import graft.operators.TextDedup
        val base = TextDedup.dedupExact(
          graft.queries.LlmQueries.nearDupCorpus(s, dir), "doc_id", "text")
        val sigs = TextDedup.minhashSignatures(base, "doc_id", "text")
        // same super-cluster cap as the registered query (the pair
        // list is the SHARED front; the census CTE chain is the
        // independent tail)
        TextDedup.lshCandidatePairs(TextDedup.lshBands(sigs, "doc_id"),
            "doc_id", maxBucketSize = graft.operators.Graph.CensusMaxBucketSize)
          .createOrReplaceTempView("so_tri_pairs")
        s.sql(triangleCensusSql)
      }
    },

    // ── named exclusions: scale-dependent BY SEMANTICS ──
    "a14_cms_top_terms" -> Excluded(
      "top-20 token identities are corpus statistics and replicas are " +
        "deliberately letter-permuted (the ta_heavy_tokens note); the CMS " +
        "one-sided guarantee is spec-gated, 1x truth DuckDB-gated"),
    "a20_rfm_segments" -> Excluded(
      "quintile cutoffs are GLOBAL interpolated percentiles over the " +
        "customer population — replication moves the interpolation rank, " +
        "so boundary customers legitimately change bucket"),
    "a21_abc_analysis" -> Excluded(
      "Pareto cumulative shares are a global ranking statistic: every " +
        "supplier's replica copies insert ahead of its successors, " +
        "shifting each cumulative share toward its predecessor mass " +
        "by construction"),
    "p22_surrogate_ids" -> Excluded(
      "a global dense sequence over the whole population — positions " +
        "shift ×N under replication by definition; 1x DuckDB-gated"),
    "p27_null_semantics" -> Excluded(
      "rn_nulls_last is a GLOBAL row_number over the population — " +
        "positions interleave replicas by definition; the null-semantics " +
        "trip wires themselves are per-row and 1x DuckDB-gated"),
    "w04_rank_battery" -> Excluded(
      "rank/percent_rank/cume_dist/ntile are partition-wide positional " +
        "statistics over the ×N population — they move under replication " +
        "by definition; 1x DuckDB-gated"),
    "gov_pii_report" -> Excluded(
      "PII plants are doc_id-modulo-derived and Stride is not a multiple " +
        "of 3/7 (the ta_c4_line_rules note) — replicas plant DIFFERENT " +
        "docs, so per-source counts are not ×N-lawful; 1x DuckDB-gated"),
    "ta_unigram_logprob" -> Excluded(
      "the unigram LM is trained on the corpus itself (the " +
        "ta_bigram_logprob note) — per-doc logprob legitimately moves " +
        "with corpus statistics"),
    "corpus_dsir_select" -> Excluded(
      "DSIR importance weights are trained on the corpus (the " +
        "llm_curation_pipeline note) — selection legitimately changes " +
        "with corpus statistics"),
    "ta_ccnet_buckets" -> Excluded(
      "per-lang LM + rank terciles over the whole population — both the " +
        "model and the cuts are corpus statistics by design"),
    "ta_bpe_pair_counts" -> Excluded(
      "pair counts are corpus token statistics and replicas are " +
        "deliberately letter-permuted (the ta_heavy_tokens note)"),
    "ta_zipf_fit" -> Excluded(
      "a regression over the corpus vocabulary frequency table — " +
        "letter-permuted replicas change the vocabulary by construction"),
    "ta_pmi_pairs" -> Excluded(
      "the top-16 vocabulary and co-occurrence counts are corpus token " +
        "statistics (letter-permuted replicas)"),
    "ta_tfidf_search" -> Excluded(
      "IDF is corpus-trained and the output is a global top-10 — both " +
        "legitimately move at scale; 1x DuckDB-gated"),
    "ret_bm25_topk" -> Excluded(
      "BM25 idf/avgdl are corpus-trained and the output is a global " +
        "top-10; 1x DuckDB-gated"),
    "ret_inverted_index" -> Excluded(
      "per-term posting stats over a letter-permuted vocabulary union — " +
        "the term group set itself changes at scale by construction"),
    "ret_hybrid_rrf" -> Excluded(
      "fuses two corpus-statistic rankings (TF-IDF IDF, ANN over N−1 " +
        "exact vector twins) — both arms legitimately re-rank at scale"),
    "ret_eval_recall" -> Excluded(
      "recall/RR against ground truth polluted by N−1 exact vector " +
        "twins measures the twin pollution, not the index; 1x DuckDB-gated"),
    "ret_mmr_rerank" -> Excluded(
      "the greedy pool is a top-15 against N−1 exact vector twins — the " +
        "pool and every pick legitimately re-rank (the ann_topk re-rank " +
        "note); 1x DuckDB-gated via the unrolled 4-step oracle"),
    "ann_int8_topk" -> Excluded(
      "top-k against N−1 exact vector twins legitimately re-ranks; the " +
        "brute-force family's scale answer is SqlTwin-gated via ann_topk " +
        "and the quantizer itself is per-row (1x DuckDB-gated)"),
    "ann_lsh_topk" -> Excluded(
      "same exact-twin re-rank as ann_int8_topk; bucket membership is " +
        "per-vector and 1x DuckDB-gated"),
    "ann_projected_topk" -> Excluded(
      "same exact-twin re-rank; the JL projection is per-vector " +
        "(Embed-gated via emb_random_projection)"),
    "ann_ivf_kmeans_topk" -> Excluded(
      "k-means centroids are trained on the corpus (the ann_ivf_topk " +
        "note) — cells and recall legitimately move with scale"),
    "ann_ivf_kmeans_sampled" -> Excluded(
      "sample-trained k-means centroids — the training sample and cells " +
        "legitimately change with the corpus"),
    "ann_pq_adc_topk" -> Excluded(
      "PQ codebooks are Lloyd-trained on the corpus — codes and ADC " +
        "ranks legitimately move with scale"),
    "ann_ivfpq_topk" -> Excluded(
      "IVF cells and PQ codebooks are both corpus-trained"),
    "ann_refined_topk" -> Excluded(
      "two-stage refine over a candidate pool that re-ranks against " +
        "N−1 exact vector twins"),
    "dd_semdedup" -> Excluded(
      "k-means cells with k PINNED by the oracle are corpus-trained and " +
        "cell density grows with the corpus — keep decisions legitimately " +
        "move at scale; 1x DuckDB-gated end to end"),
    "dd_semdedup_coarse" -> Excluded(
      "same corpus-trained cells as dd_semdedup, plus within-cell pair " +
        "work that is output-quadratic by semantics (sweep-excluded twin)"),
    "corpus_prune_prototypes" -> Excluded(
      "per-cell prototype ranks ride corpus-trained k-means cells whose " +
        "membership grows with the corpus"),
    "corpus_mixture" -> Excluded(
      "keep-rates are derived from a FIXED token budget over a growing " +
        "corpus (the llm_train_prep note) — rates legitimately shrink ×N"),
    "corpus_mixture_temperature" -> Excluded(
      "temperature weights and the fixed doc budget are both measured " +
        "on the corpus — rates legitimately change with scale"),
    "corpus_pps_sample" -> Excluded(
      "fixed expected-k budget over a growing corpus: keep probability " +
        "legitimately shrinks ×N (the keep inequality carries the global " +
        "total weight)"),
    "corpus_weighted_sample" -> Excluded(
      "a fixed-k GLOBAL sample over a growing corpus re-ranks by " +
        "definition; the A-ES key math is 1x DuckDB-gated"),
    "dd_ngram_prefix" -> Excluded(
      "exact pair enumeration is output-quadratic by semantics and " +
        "sweep-excluded (burns the full per-query cap at 10x measuring " +
        "nothing new); its Jaccard math is 1x DuckDB-gated and the " +
        "corpus-scale route is dd_minhash_pairs"),
    "mdm_steward_queue" -> Excluded(
      "adaptive blocking re-routes oversized blocks to the fine key — " +
        "block schema is corpus-size-dependent by design (the " +
        "mdm_match_pairs note); the FIXED-schema twins carry Embed laws"),
    "mdm_golden_records" -> Excluded(
      "adaptive blocking (the mdm_match_pairs note); the fixed-schema " +
        "_fine/_coarse twins carry Embed laws"),
    "mdm_steward_activity" -> Excluded(
      "pair-derived aggregate over cross-replica pairs (names replicate " +
        "verbatim under the key shift) and reviewer assignment rides " +
        "id % 3 which the Stride shift changes — no replica law; the " +
        "pair STREAM is Embed-gated via the _fine/_coarse pair twins"),
    "mdm_steward_activity_fine" -> Excluded(
      "same cross-replica pair aggregation as mdm_steward_activity"),
    "mdm_steward_activity_coarse" -> Excluded(
      "same cross-replica pair aggregation as mdm_steward_activity"),
    "mdm_scorecard" -> Excluded(
      "corpus-level duplicate rates over cross-replica pairs — the pair " +
        "count grows ~quadratically in replica count BY CONSTRUCTION " +
        "(names replicate verbatim), so the rates move legitimately"),
    "mdm_scorecard_fine" -> Excluded(
      "same cross-replica pair rates as mdm_scorecard"),
    "mdm_scorecard_coarse" -> Excluded(
      "same cross-replica pair rates as mdm_scorecard"))

  /** The registered laws. Keys are registry query names; r14: every
    * registry name carries a law, an independent twin, or a named
    * exclusion (OracleGap prints the uncovered set; the coverage spec
    * pins it empty), so a 10×-flagged name auto-joining the bench
    * oracle tier can never surface as "no check registered".
    */
  val checks: Map[String, Check] = extendedChecks ++ Map(
    // ── replica-embedding laws (per-shifted-key queries) ──
    "daily_revenue" -> Embed(keyLt("l_suppkey")),
    "p01_cast_projection" -> Embed(col("orderkey_str").cast("long") < Stride),
    "v01_rule_annotate" -> Embed(keyLt("l_orderkey")),
    "e2e_curated" -> Embed(keyLt("l_orderkey")),
    "a04_extended_metrics" -> Embed(keyLt("l_suppkey")),
    "j04_semi_exists" -> Embed(keyLt("o_orderkey")),
    "w01_latest_per_key" -> Embed(keyLt("o_custkey")),
    // scd2's fixture derives its "brand-new keys" updates from
    // literal small suppkeys (< 5), which only replica 0 satisfies —
    // replicas are deliberately asymmetric, so no ×N row law.
    "scd2_merge" -> Embed(keyLt("s_suppkey"), countLaw = false),
    "ta_quality_scores" -> Embed(keyLt("doc_id")),
    "ta_rolling_hash" -> Embed(keyLt("doc_id")),
    // LSH candidate pairs: a pair (a,b) is emitted iff the two docs
    // share a band key — a pure per-doc function — so the pair set
    // among replica-0 docs is independent of the rest of the corpus.
    // Cross-replica band-key collisions between perturbed texts are
    // legitimate LSH behavior, so no ×N row law.
    "dd_minhash_pairs" -> Embed(keyLt("id_1", "id_2"), countLaw = false),
    // min-label connected components: replica-0 components stay
    // within replica 0 unless a cross-replica LSH edge exists (same
    // legitimacy note as above) — restricted equality still detects
    // lost edges/labels; the row law is left off.
    "dd_dup_clusters" -> Embed(keyLt("doc_id", "cluster_id"), countLaw = false),
    "ev_sessions" -> Embed(keyLt("user_id")),
    "ev_asof_join" -> Embed(keyLt("user_id")),
    // extended per-shifted-key coverage (joins / windows / batteries /
    // SCD2-CDC / per-doc text / per-vector): same embedding law
    "j01_enrich_dims" -> Embed(keyLt("c_custkey")),
    "j05_anti_orphans" -> Embed(keyLt("c_custkey")),
    "j11_range_join_pairs" -> Embed(keyLt("user_id")),
    "j17_asof_tolerance" -> Embed(keyLt("user_id")),
    "a01_having_dupes" -> Embed(keyLt("o_custkey")),
    "w02_moving_avg" -> Embed(keyLt("l_suppkey")),
    "w03_resample_daily" -> Embed(keyLt("l_suppkey")),
    "w05_range_day_frame" -> Embed(keyLt("l_suppkey")),
    "w06_offset_battery" -> Embed(keyLt("l_suppkey")),
    "w07_ewma_dyadic" -> Embed(keyLt("l_suppkey")),
    "w08_gap_fill_locf" -> Embed(keyLt("l_suppkey")),
    "o06_topn_per_group" -> Embed(keyLt("o_custkey")),
    "p02_validity_flag" -> Embed(keyLt("l_orderkey")),
    "p03_valid_rows" -> Embed(keyLt("l_orderkey")),
    "p04_quarantine_rows" -> Embed(keyLt("l_orderkey")),
    "p25_math_battery" -> Embed(keyLt("l_orderkey")),
    "p14_record_hash" -> Embed(keyLt("s_suppkey")),
    "p24_string_battery" -> Embed(keyLt("s_suppkey")),
    "p26_array_battery" -> Embed(keyLt("s_suppkey")),
    "p18_normalize_text" -> Embed(keyLt("doc_id")),
    "p23_datetime_battery" -> Embed(keyLt("o_orderkey")),
    // the as-of fixture's brand-new keys come from literal small
    // suppkeys — replica 0 only, same asymmetry as scd2_merge
    "scd2_asof" -> Embed(keyLt("s_suppkey"), countLaw = false),
    "cdc_apply" -> Embed(keyLt("entity_id")),
    "ta_token_counts" -> Embed(keyLt("doc_id")),
    "ta_fingerprints" -> Embed(keyLt("doc_id")),
    "ta_language_id" -> Embed(keyLt("doc_id")),
    "ta_gopher_rules" -> Embed(keyLt("doc_id")),
    // the planted fixture lines are doc_id-modulo-derived (%43/%4/%3)
    // and Stride is not a multiple of those — replicas plant (and the
    // C4 filter drops) DIFFERENT docs, so only the replica-0 law holds
    "ta_c4_line_rules" -> Embed(keyLt("doc_id"), countLaw = false),
    "ta_repetition" -> Embed(keyLt("doc_id")),
    "ta_pii_scrub" -> Embed(keyLt("doc_id")),
    "ta_pii_luhn" -> Embed(keyLt("doc_id")),
    "ta_chunks" -> Embed(keyLt("doc_id")),
    "mm_audio_hash" -> Embed(keyLt("media_id")),
    "dd_simhash" -> Embed(keyLt("doc_id")),
    "dd_simhash64" -> Embed(keyLt("doc_id")),
    // exact cross-replica vector twins legitimately pair — no ×N law
    "emb_dup_pairs" -> Embed(keyLt("id_1", "id_2"), countLaw = false),
    "emb_random_projection" -> Embed(keyLt("vec_id")),
    "t01_except" -> Embed(keyLt("custkey")),
    "t04_intersect" -> Embed(keyLt("custkey")),
    "t03_unpivot_metrics" -> Embed(keyLt("s_suppkey")),
    "corpus_split" -> Embed(keyLt("doc_id")),
    // hash-of-id sampling: shifted ids hash differently, so replica
    // sample sizes legitimately differ — replica-0 law only
    "corpus_sample" -> Embed(keyLt("doc_id"), countLaw = false),
    // eval set = literal doc_id < 10 (replica 0 only); perturbed
    // replicas can still share n-grams with it — replica-0 law only
    "dd_contamination" -> Embed(keyLt("doc_id", "eval_id"), countLaw = false),
    "dd_decontaminate" -> Embed(keyLt("doc_id"), countLaw = false),
    // min-id survivors: a cross-replica exact-dup group's minimum is
    // always its replica-0 member, so 1x survivors stay survivors
    "dd_dedup_result" -> Embed(keyLt("doc_id"), countLaw = false),
    "ta_blocklist_gate" -> Embed(keyLt("doc_id")),
    "ret_doc_chunks" -> Embed(keyLt("doc_id")),
    "mv_incremental_revenue" -> Embed(keyLt("l_suppkey")),
    // the forgotten user is a literal small id (replica 0 only)
    "gov_forget_user" -> Embed(keyLt("user_id"), countLaw = false),
    "gov_masked_read" -> Embed(keyLt("c_custkey")),
    "ev_session_window_agg" -> Embed(keyLt("user_id")),
    "mm_audio_meta" -> Embed(keyLt("media_id")),
    "mm_video_meta" -> Embed(keyLt("media_id")),
    "mm_features" -> Embed(keyLt("media_id")),
    "wf_daily_check" -> Embed(keyLt("o_custkey")),
    // pairs are over DISTINCT part names (unshifted) keyed back to
    // min part keys — replica-0 keys; replicas add no new names
    "p28_damerau_pairs" -> Embed(keyLt("k1", "k2"), countLaw = false),

    // ── unshifted-group scaling laws ──
    "ev_window_agg" -> GroupScaled(
      Seq("window_start", "window_end", "event_type"),
      scaledLongCols = Seq("n_events"),
      scaledDoubleCols = Seq("total_value")),
    "a02_global_bounds" -> GroupScaled(Nil,
      scaledLongCols = Seq("n_orders"),
      invariantCols = Seq("max_date", "min_date")),
    "a05_distinct" -> GroupScaled(Seq("l_returnflag", "l_linestatus")),
    "a07_violation_counts" -> GroupScaled(Nil,
      scaledLongCols = Seq("total_rows", "nonpositive_qty",
        "negative_price", "null_shipdate")),
    "a09_status_pivot" -> GroupScaled(Seq("o_orderpriority"),
      scaledLongCols = Seq("n_open", "n_finished", "n_pending")),
    "j08_fk_orphan_count" -> GroupScaled(Nil,
      scaledLongCols = Seq("orphan_count")),
    "j13_bucketed_join" -> GroupScaled(Seq("o_orderpriority"),
      scaledLongCols = Seq("line_count"),
      scaledDoubleCols = Seq("revenue")),
    "j14_multi_join_volume" -> GroupScaled(Seq("n_name"),
      scaledLongCols = Seq("line_count"),
      scaledDoubleCols = Seq("revenue")),
    // nation is a conformed single-copy dimension — the result is
    // IDENTICAL at every scale (group set + invariant hash)
    "p15_md5_hash" -> GroupScaled(Seq("n_nationkey"),
      invariantCols = Seq("change_hash")),
    "ev_attribution" -> GroupScaled(Seq("channel"),
      scaledLongCols = Seq("n_purchases", "revenue_cents")),
    "ev_dau_summary" -> GroupScaled(Seq("day"),
      scaledLongCols = Seq("dau", "n_events"),
      invariantDoubleCols = Seq("events_per_user")),
    "ev_retention_cohorts" -> GroupScaled(Seq("cohort_day", "day_offset"),
      scaledLongCols = Seq("n_active")),
    "ev_stickiness" -> GroupScaled(Seq("day"),
      scaledLongCols = Seq("dau", "mau28"),
      invariantDoubleCols = Seq("stickiness")),
    // integer ppm of two ×N counts: (N·n·10⁶) div (N·tot) == n·10⁶
    // div tot — exactly invariant, no tolerance needed
    "ev_transition_matrix" -> GroupScaled(Seq("event_type", "next_type"),
      scaledLongCols = Seq("n"),
      invariantCols = Seq("p_ppm")),
    "j07_cte_nation_revenue" -> GroupScaled(Seq("nation_name"),
      scaledLongCols = Seq("order_count"),
      scaledDoubleCols = Seq("total_revenue")),
    "j12_unknown_member" -> GroupScaled(Seq("supp_s_nationkey"),
      scaledLongCols = Seq("n_items")),
    "j15_not_in_nulls" -> GroupScaled(Seq("variant"),
      scaledLongCols = Seq("n")),
    "a10_quality_scorecard" -> GroupScaled(Nil,
      scaledLongCols = Seq("total_rows", "valid_rows"),
      invariantCols = Seq("gate_pass"),
      invariantDoubleCols = Seq("quality_pct")),
    "a12_rollup_revenue" -> GroupScaled(Seq("nation", "segment"),
      scaledLongCols = Seq("n_orders"),
      scaledDoubleCols = Seq("total_sales")),
    "a18_grouping_sets" -> GroupScaled(Seq("nation", "segment"),
      scaledLongCols = Seq("n_orders"),
      scaledDoubleCols = Seq("total_sales")),
    "a15_value_histogram" -> GroupScaled(Seq("bucket_lo"),
      scaledLongCols = Seq("n")),
    // Pearson r is scale-free: every sum in the formula grows ×N and
    // cancels — invariant up to final-rounding ulps
    "a16_exact_corr" -> GroupScaled(Seq("l_returnflag"),
      scaledLongCols = Seq("n"),
      invariantDoubleCols = Seq("corr_qty_price")),
    "a19_pivot_status" -> GroupScaled(Seq("o_orderpriority"),
      scaledDoubleCols = Seq("sales_f", "sales_o", "sales_p")),
    "ev_json_props" -> GroupScaled(Seq("event_type"),
      scaledLongCols = Seq("n_events", "n_with_k", "sum_k"),
      invariantCols = Seq("min_k", "max_k")),
    "ev_json_props_agree" -> Excluded("1x-evidence twin: deliberately " +
      "runs BOTH json parsers per row to pin their agreement at the " +
      "oracle SF; the registered scale path is ev_json_props"),
    "ev_funnel" -> GroupScaled(Seq("stage"),
      scaledLongCols = Seq("n_users"),
      invariantDoubleCols = Seq("avg_secs_from_view")),
    "v11_fd_audit" -> GroupScaled(Seq("source"),
      scaledLongCols = Seq("n_rows", "violation_rows"),
      invariantCols = Seq("n_langs", "majority_lang", "majority_ppm",
        "fd_violated")),
    // int8-quantized gram entries are integers — ×N is exact
    "emb_gram_matrix" -> GroupScaled(Seq("i", "j"),
      scaledLongCols = Seq("g")),
    // the SCD2 fixture's new-key branch is replica-0-only, so the
    // violation COUNTS don't scale ×N; the rule set + verdicts do hold
    "scd2_invariants" -> GroupScaled(Seq("rule"),
      invariantCols = Seq("passed")),

    // ── STREAMING-ENGINE paths (readStream → state machine →
    // AvailableNow): the same laws as their batch twins, but proven
    // against the streaming runtime at scale — watermark dedup,
    // session windows, stream-side joins, streaming SCD2/CDC state ──
    "ev_stream_window_agg" -> GroupScaled(
      Seq("window_start", "window_end", "event_type"),
      scaledLongCols = Seq("n_events"),
      scaledDoubleCols = Seq("total_value")),
    "ev_stream_dedup" -> Embed(keyLt("user_id")),
    "ev_stream_user_counts" -> Embed(keyLt("user_id")),
    "ev_stream_sessions" -> Embed(keyLt("user_id")),
    "ev_stream_enrich" -> GroupScaled(Seq("mktsegment", "event_type"),
      scaledLongCols = Seq("n_events"),
      scaledDoubleCols = Seq("total_value")),
    // gopher stopword hits change on the letter-permuted replicas, so
    // per-replica pass sets differ — replica-0 law only
    "corpus_stream_gate" -> Embed(keyLt("doc_id"), countLaw = false),
    "scd2_stream_merge" -> Embed(keyLt("s_suppkey"), countLaw = false),
    "mv_stream_revenue" -> Embed(keyLt("l_suppkey")),
    "mv_stream_dau" -> GroupScaled(Seq("day"),
      scaledLongCols = Seq("dau", "n_events"),
      invariantDoubleCols = Seq("events_per_user")),
    "cdc_stream_apply" -> Embed(keyLt("entity_id")),
    "mv_stream_transitions" -> GroupScaled(Seq("event_type", "next_type"),
      scaledLongCols = Seq("n"),
      invariantCols = Seq("p_ppm")),

    // ── independent SQL twins (replica laws broken by design) ──
    // exact dedup collapses cross-replica twins of freq-letter-free
    // texts, so per-lang counts aren't ×N-predictable; the twin
    // recomputes the whole pipeline from raw SQL on the scaled data.
    "llm_corpus_pipeline" -> SqlTwin(
      s"""WITH q AS (
         |  SELECT doc_id, lang, text,
         |    round(
         |      least(CAST(size(split(trim(text), '\\\\s+')) AS DOUBLE) / 50.0, 1.0D) * 0.5D +
         |      (1.0D - least(CAST(size(regexp_extract_all(text, '[^A-Za-z0-9\\\\s\\\\x{4e00}-\\\\x{9fff}]', 0)) AS DOUBLE)
         |                    / CAST(greatest(length(text), 1) AS DOUBLE) * 5.0D, 1.0D)) * 0.5D, 4) AS quality_score
         |  FROM so_documents),
         |kept AS (SELECT * FROM q WHERE quality_score >= 0.5),
         |fp AS (SELECT *, md5($normTwin) AS f FROM kept),
         |dedup AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
         |    FROM fp)
         |  WHERE rn = 1)
         |SELECT lang,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0))) AS BIGINT) AS total_tokens,
         |  round(CAST(SUM(CAST(quality_score AS DECIMAL(30,4))) AS DOUBLE) / COUNT(*), 4) AS avg_quality
         |FROM dedup GROUP BY lang""".stripMargin),
    // top-k against N−1 exact twins of every vector (embeddings are
    // not perturbed) legitimately re-ranks — brute-force is re-run
    // from raw SQL array algebra on the scaled vectors instead.
    "ann_topk" -> SqlTwin(
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM so_embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM so_embeddings),
         |sc AS (
         |  SELECT query_id, cand_id,
         |         round(${dotSql("qv", "cv")}
         |               / (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("cv", "cv")})), 6) AS cos_sim
         |  FROM c CROSS JOIN q WHERE query_id <> cand_id)
         |SELECT query_id, cand_id, cos_sim, CAST(rank AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |              ORDER BY cos_sim DESC, cand_id) AS rank
         |  FROM sc)
         |WHERE rank <= 10""".stripMargin),

    // ── named exclusions: corpus-statistics-dependent BY SEMANTICS ──
    "mdm_match_pairs" -> Excluded(
      "adaptive blocking re-routes blocks past the size cap to the " +
        "refined key — block sizes grow with the corpus, so the pair " +
        "set is scale-dependent by design; 1x truth is DuckDB-gated, " +
        "scale cost is swept"),
    "ann_ivf_topk" -> Excluded(
      "IVF centroids are k-means-trained on the corpus — cell " +
        "assignment and recall legitimately move with scale; recall " +
        "is gated at 1x by ret_eval_recall"),
    "ta_bigram_logprob" -> Excluded(
      "the bigram LM is trained on the corpus itself — per-doc " +
        "logprob changes with corpus statistics by definition"),
    "llm_train_prep" -> Excluded(
      "token-budget mixture rates are MEASURED on the corpus (fixed " +
        "budget / growing corpus), and pack boundaries follow the " +
        "global shuffle positions — selection and packing legitimately " +
        "change with scale"),
    "llm_curation_pipeline" -> Excluded(
      "DSIR importance weights and sqrt-rate language sampling are " +
        "trained on the corpus — per-lang selection changes with " +
        "corpus statistics by design"),
    "ta_heavy_tokens" -> Excluded(
      "a frequency sketch over corpus tokens; replicas are " +
        "deliberately letter-permuted so corpus token statistics " +
        "differ by construction"),
    "ev_session_overlap" -> Excluded(
      "n_concurrent counts time-overlapping sessions ACROSS users — " +
        "a 10x user population has more concurrent sessions in the " +
        "same wall-clock windows by definition (measured at x3: every " +
        "replica-0 session's count moved)"),
    "dd_ngram_jaccard" -> Excluded(
      "the exact-pair evidence twin EXCLUDES blocks past maxBlockSize " +
        "by documented contract (ngramOversizedBlocks reports them) — " +
        "at 10x every block outgrows the cap and the pair set empties " +
        "BY DESIGN (measured); the corpus-scale route is MinHash/LSH, " +
        "which IS replica-law-gated (dd_minhash_pairs)"),
    "dd_ngram_containment" -> Excluded(
      "same block-size-guard contract as dd_ngram_jaccard: oversized " +
        "blocks are excluded at scale by design; gated at 1x by the " +
        "DuckDB oracle"),
    "ta_boilerplate_scrub" -> Excluded(
      "the minDocs corpus-frequency threshold is scale-dependent by " +
        "SEMANTICS: a segment in k docs at 1x recurs in N*k docs at " +
        "Nx, so segments below the threshold at 1x legitimately " +
        "cross it at scale and the dictionary (hence every clean " +
        "text) changes — gated at 1x by the DuckDB reassembly oracle"))

  /** One check's outcome. status ∈ pass | fail | error | skip |
    * excluded; detail carries the failing law / exclusion rationale.
    */
  final case class Result(name: String, status: String, detail: String,
                          sec: Double)

  /** Multiset equality via two anti-differences over persisted
    * inputs; returns None on equal, Some(message) otherwise.
    */
  private def multisetDiff(expected: DataFrame, actual: DataFrame,
                           label: String): Option[String] = {
    val missing = expected.exceptAll(actual).count()
    val extra = actual.exceptAll(expected).count()
    if (missing == 0 && extra == 0) None
    else Some(s"$label: $missing expected rows missing, $extra unexpected")
  }

  /** Shared twin comparison: engine result at N× must multiset-equal
    * an independent recomputation at N× (SqlTwin / FnTwin bodies).
    */
  private def compareTwin(spark: SparkSession,
                          queries: Map[String, (SparkSession, String) => DataFrame],
                          name: String, scaledDir: String, copies: Int,
                          twinBuild: () => DataFrame,
                          done: (String, String) => Result): Result = {
    val engine = queries(name)(spark, scaledDir)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val engineN = engine.count()
      val twin = twinBuild()
        .select(engine.columns.map(col): _*)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val twinN = twin.count()
        if (engineN == 0) done("error", "engine result empty")
        else if (twinN != engineN)
          done("fail", s"independent twin: $twinN rows vs engine $engineN")
        else multisetDiff(twin, engine, "independent-twin multiset") match {
          case Some(msg) => done("fail", msg)
          case None => done("pass",
            s"engine == independent twin at ${copies}x ($engineN rows)")
        }
      } finally twin.unpersist()
    } finally engine.unpersist()
  }

  /** Run one registered check. Never throws: failures and errors are
    * statuses. The query functions and dirs are injected so BenchSpec
    * can drive synthetic registries through the same machinery.
    */
  def verify(spark: SparkSession,
             queries: Map[String, (SparkSession, String) => DataFrame],
             name: String, sfDir: String, scaledDir: String,
             copies: Int): Result = {
    val t0 = System.nanoTime()
    def done(status: String, detail: String) =
      Result(name, status, detail, (System.nanoTime() - t0) / 1e9)
    checks.get(name) match {
      case None => done("skip", "no check registered")
      case Some(Excluded(reason)) => done("excluded", reason)
      case Some(check) =>
        try {
          check match {
            case Embed(pred, countLaw) =>
              val base = queries(name)(spark, sfDir)
                .persist(StorageLevel.MEMORY_AND_DISK)
              val scaled = queries(name)(spark, scaledDir)
                .persist(StorageLevel.MEMORY_AND_DISK)
              try {
                val baseN = base.count()
                val scaledN = scaled.count()
                val r0 = scaled.filter(pred)
                val r0N = r0.count()
                if (baseN == 0) done("error", "base result empty")
                else if (countLaw && scaledN != copies * baseN)
                  done("fail", s"row law: expected ${copies}x$baseN=" +
                    s"${copies * baseN} rows at ${copies}x, got $scaledN")
                else if (r0N != baseN)
                  done("fail", s"replica-0 law: $baseN rows at 1x vs " +
                    s"$r0N replica-0 rows at ${copies}x")
                else multisetDiff(base, r0, "replica-0 multiset") match {
                  case Some(msg) => done("fail", msg)
                  case None => done("pass",
                    s"replica-0 multiset == 1x ($baseN rows)" +
                      (if (countLaw) s"; rows ${copies}x = $scaledN" else ""))
                }
              } finally { base.unpersist(); scaled.unpersist() }

            case GroupScaled(groupCols, longCols, dblCols, invCols, invDblCols) =>
              val base = queries(name)(spark, sfDir)
              val scaled = queries(name)(spark, scaledDir)
              val key = (r: org.apache.spark.sql.Row) =>
                groupCols.map(c => String.valueOf(r.getAs[Any](c))).mkString("\u0001")
              val baseArr = base.collect()
              val scaledArr = scaled.collect()
              val baseRows = baseArr.map(r => key(r) -> r).toMap
              val scaledRows = scaledArr.map(r => key(r) -> r).toMap
              if (baseRows.isEmpty) done("error", "base result empty")
              // duplicate group keys must FAIL, not collapse via toMap:
              // the partial-agg-merge bug class this law targets emits
              // extra rows per group, and the surviving map entry could
              // still satisfy the scaling law (ADVICE r12)
              else if (baseRows.size != baseArr.length)
                done("fail", s"duplicate group rows at 1x: " +
                  s"${baseArr.length} rows over ${baseRows.size} keys")
              else if (scaledRows.size != scaledArr.length)
                done("fail", s"duplicate group rows at ${copies}x: " +
                  s"${scaledArr.length} rows over ${scaledRows.size} keys")
              else if (baseRows.keySet != scaledRows.keySet)
                done("fail", s"group-set law: ${baseRows.size} groups at 1x " +
                  s"vs ${scaledRows.size} at ${copies}x (" +
                  s"${(baseRows.keySet diff scaledRows.keySet).size} missing, " +
                  s"${(scaledRows.keySet diff baseRows.keySet).size} new)")
              else {
                // null-safe measure access: getAs[Long]/getAs[Double]
                // unbox SQL NULL to 0/0.0, so a scaled result nulling
                // out a zero-valued measure (or vice versa) would pass
                // silently (ADVICE r12) — compare boxed values and
                // treat null↔non-null as a law break; null↔null is
                // scale-invariant by definition
                def nullMismatch(b: org.apache.spark.sql.Row,
                                 s: org.apache.spark.sql.Row, c: String) =
                  (b.getAs[Any](c) == null) != (s.getAs[Any](c) == null)
                def bothNull(b: org.apache.spark.sql.Row,
                             s: org.apache.spark.sql.Row, c: String) =
                  b.getAs[Any](c) == null && s.getAs[Any](c) == null
                val bad = baseRows.iterator.flatMap { case (k, b) =>
                  val s = scaledRows(k)
                  val longBad = longCols.exists(c =>
                    nullMismatch(b, s, c) || (!bothNull(b, s, c) &&
                      s.getAs[Long](c) != copies * b.getAs[Long](c)))
                  val dblBad = dblCols.exists { c =>
                    nullMismatch(b, s, c) || (!bothNull(b, s, c) && {
                      val exp = copies * b.getAs[Double](c)
                      val got = s.getAs[Double](c)
                      math.abs(got - exp) >
                        1e-9 * math.max(math.abs(exp), math.abs(got))
                    })
                  }
                  val invBad = invCols.exists(c =>
                    String.valueOf(s.getAs[Any](c)) != String.valueOf(b.getAs[Any](c)))
                  val invDblBad = invDblCols.exists { c =>
                    nullMismatch(b, s, c) || (!bothNull(b, s, c) && {
                      val exp = b.getAs[Double](c)
                      val got = s.getAs[Double](c)
                      math.abs(got - exp) >
                        1e-9 * math.max(math.abs(exp), math.abs(got))
                    })
                  }
                  if (longBad || dblBad || invBad || invDblBad) Some(k) else None
                }.take(3).toSeq
                if (bad.isEmpty)
                  done("pass", s"${baseRows.size} groups scale exactly x$copies")
                else done("fail",
                  s"scaling law broken in ${bad.size}+ groups, e.g. " +
                    bad.head.replace('\u0001', '|'))
              }

            case SqlTwin(sql) =>
              graft.sources.ScaledCorpus.keyCols.keys.foreach { table =>
                // same reader as the corpus builder/engine queries —
                // a plain parquet read would misread or error on
                // legacy-nanos event timestamps (ADVICE r12)
                if (sql.contains(s"so_$table"))
                  graft.sources.Tables
                    .readParquetAutoNanos(spark, s"$scaledDir/$table.parquet")
                    .createOrReplaceTempView(s"so_$table")
              }
              compareTwin(spark, queries, name, scaledDir, copies,
                () => spark.sql(sql), done)

            case t: FnTwin =>
              compareTwin(spark, queries, name, scaledDir, copies,
                () => t.build(spark, scaledDir), done)

            case Excluded(_) => done("excluded", "") // unreachable
          }
        } catch {
          case NonFatal(e) => done("error", Capped.firstLine(e))
        }
    }
  }

  /** Run every registered check for `names` under a budget and the
    * caller's global deadline; a skipped check is REPORTED with its
    * reason (the bench's every-skip-is-visible convention).
    */
  def run(spark: SparkSession,
          queries: Map[String, (SparkSession, String) => DataFrame],
          names: Seq[String], sfDir: String, scaledDir: String, copies: Int,
          budgetSec: Double, deadlineLeft: () => Double,
          perCheckReserveSec: Double = 60.0,
          perCheckCapSec: Int = Int.MaxValue,
          timedOutFlags: Set[String] = Set.empty): Seq[Result] = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    names.map { name =>
      // a check left registered after a query rename must surface as
      // an ERROR, not vanish from the artifact (ADVICE r12 — the
      // every-skip-is-reported convention)
      if (!queries.contains(name))
        Result(name, "error", "check registered but query missing", 0)
      else if (!checks.contains(name)) Result(name, "skip", "no check registered", 0)
      else if (checks(name).isInstanceOf[Excluded])
        verify(spark, queries, name, sfDir, scaledDir, copies)
      // a flagged query that hit the SWEEP's per-query cap would run
      // UNBOUNDED here (Embed runs it at Nx plus two exceptAll
      // passes) and could eat the global deadline the recheck budget
      // protects — skip it with an explicit marker (ADVICE r13)
      else if (timedOutFlags.contains(name))
        Result(name, "skip", "flagged_timeout_uncapped", 0)
      else if (elapsed > budgetSec)
        Result(name, "skip", "budget", 0)
      else if (deadlineLeft() < perCheckReserveSec)
        Result(name, "skip", "deadline", 0)
      else verifyCapped(spark, queries, name, sfDir, scaledDir, copies,
        perCheckCapSec)
    }
  }

  /** verify() under a wall-clock cap ([[Capped]]): a check that exceeds
    * the cap is stopped and reported as an explicit capped skip instead of
    * running unbounded (ADVICE r13 — auto-tier flagged checks are by
    * definition expensive at scale). Int.MaxValue = uncapped (the
    * spec / standalone-main path).
    */
  def verifyCapped(spark: SparkSession,
                   queries: Map[String, (SparkSession, String) => DataFrame],
                   name: String, sfDir: String, scaledDir: String,
                   copies: Int, capSec: Int): Result = {
    if (capSec == Int.MaxValue)
      return verify(spark, queries, name, sfDir, scaledDir, copies)
    Capped.run(spark, s"scale-oracle-$name", capSec)(
        verify(spark, queries, name, sfDir, scaledDir, copies)) match {
      case Capped.Done(r) => r
      case Capped.Failed(e) => Result(name, "error", Capped.firstLine(e), capSec)
      case Capped.CapExceeded =>
        Result(name, "skip", s"cap_exceeded_${capSec}s", capSec)
    }
  }

  /** Standalone runner (the in-bench phase is the driver path; this
    * is the local iteration/audit path):
    * `tools/run.sh graft.ScaleOracle [sfDir] [copies] [scaledDirBase] [names-csv]`.
    * The optional 4th arg narrows to a comma-separated check list
    * (e.g. the flagship tier for an expensive 100× run). Exit 1 on
    * any fail/error.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val base = args.lift(2).getOrElse("target")
    val only = args.lift(3).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.local("graft-scale-oracle",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val scaledDir =
      new java.io.File(s"$base/bench-scaled-x$copies").getAbsolutePath
    graft.sources.ScaledCorpus.build(spark, sfDir, scaledDir, copies)
    val t0 = System.nanoTime()
    val names = checks.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
    val rs = run(spark, SparkEntry.queries, names, sfDir,
      scaledDir, copies, budgetSec = 1e9, deadlineLeft = () => 1e9)
    rs.foreach(r => println(f"${r.status}%-8s ${r.name}%-24s ${r.sec}%7.1fs  ${r.detail}"))
    println(Json.write(section(copies, rs, (System.nanoTime() - t0) / 1e9)))
    spark.stop()
    if (rs.exists(r => r.status == "fail" || r.status == "error"))
      sys.exit(1)
  }

  /** The bench artifact's `scale_oracle` section. */
  def section(copies: Int, results: Seq[Result],
              elapsedSec: Double): ListMap[String, Any] = {
    val n = (s: String) => results.count(_.status == s)
    ListMap("copies" -> copies, "checked" -> results.size,
      "passed" -> n("pass"), "failed" -> n("fail"), "errored" -> n("error"),
      "skipped" -> n("skip"), "excluded" -> n("excluded"),
      "elapsed_sec" -> Json.dec(elapsedSec, 3),
      "results" -> results.map(r => ListMap("name" -> r.name,
        "status" -> r.status, "detail" -> r.detail,
        "sec" -> Json.dec(r.sec, 3))))
  }
}
