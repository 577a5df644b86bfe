package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k (exact, O(nq·n)). Scale path:
  * random-hyperplane LSH bucketing — candidates only within matching
  * buckets, turning the cross join into an equi-join. All arithmetic
  * is promoted to double BEFORE multiplication so results are
  * engine-reproducible (float×float differs from double×double in the
  * last ulp).
  */
object Similarity {

  /** dot(a, b) with per-element double promotion, left-to-right sum —
    * the codegen'd [[graft.plans.VecDot]] expression (bit-compatible
    * with the previous `aggregate(zip_with(...))` HOF formulation,
    * which was CodegenFallback and evaluated interpreted+boxed on
    * every candidate pair). Callers must have `vec_dot` registered
    * (GraftSession does; the DataFrame entry points below
    * self-register).
    */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def l2Norm(a: Column): Column = sqrt(call_function("vec_dot", a, a))

  private def ensureRegistered(df: DataFrame): Unit =
    graft.plans.GraftExtensions.register(df.sparkSession) // idempotent

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Exact brute-force top-k: for each query vector, the k nearest
    * candidates by cosine. Queries are broadcast (the small side);
    * cosine is rounded to 6 dp before ranking so rank order is
    * deterministic cross-engine, with id tiebreak.
    */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    ensureRegistered(candidates)
    // norms are O(n + q), computed below the join — only the dot
    // product is per-pair work
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", l2Norm(col("q_vec"))))
    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", l2Norm(col("c_vec")))
    val scored = c.crossJoin(q)
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos_sim",
        round(dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cos_sim", "rank")
  }

  /** Symmetric int8 quantization: `q_i = round(v_i / s)` with
    * `s = max_i |v_i| / 127`, so every component lands in [-127, 127]
    * and the result is a true `array<tinyint>` — 1 byte/dim at rest
    * vs 4 for float32. At 100 TB that is the difference between an
    * embedding corpus fitting in cluster memory or not: a 64-dim
    * float32 corpus shrinks 4× with cosine ordering almost intact
    * (see quantizedTopK recall spec). The per-vector max-abs scale
    * cancels in cosine, so scoring needs no dequantization.
    *
    * Cross-engine deterministic: double-promoted division and
    * half-away-from-zero rounding are identical in Spark and DuckDB,
    * so the oracle reproduces the quantizer exactly. The `transform`
    * HOFs here are interpreted (CodegenFallback) but run O(corpus)
    * once at index-build time — never in the per-pair scoring loop.
    */
  /** Per-vector quantization scale `max_i |v_i| / 127` — materialize
    * this as its OWN projected column before quantizing: inlined into
    * the per-element lambda the O(d) max-abs pass re-evaluates for
    * every element (O(d²) per vector — invisible at 64 dims, a real
    * cost at production embedding widths).
    */
  def int8Scale(vec: Column): Column = greatest(
    array_max(transform(vec, x => abs(x.cast("double")))) / lit(127.0),
    lit(java.lang.Double.MIN_NORMAL)) // zero-vector guard → all-zero q

  /** Quantize against a precomputed [[int8Scale]] column (the O(d) path). */
  def quantizeInt8(vec: Column, scale: Column): Column =
    transform(vec, x => round(x.cast("double") / scale).cast("tinyint"))

  def quantizeInt8(vec: Column): Column = quantizeInt8(vec, int8Scale(vec))

  /** Brute-force cosine top-k over int8-quantized vectors — the
    * memory-scale variant of [[bruteForceTopK]]. Both sides quantize
    * ONCE (projection below the join), then the per-pair hot loop is
    * the same codegen'd `vec_dot`, now over small-integer-valued
    * arrays: every product ≤ 127² and the 64-term sum ≪ 2^53, so the
    * dot product is EXACT (no float-accumulation-order concerns at
    * all) and the score is bit-reproducible in any engine. Queries
    * broadcast; candidates never shuffle.
    */
  def quantizedTopK(candidates: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int): DataFrame = {
    ensureRegistered(candidates)
    // int8 codes widened back to double for the codegen'd dot; the
    // widening is a per-row projection, not per-pair work. The scale is
    // its own projection so the max-abs pass runs once per row, not once
    // per element (see int8Scale).
    def quantized(df: DataFrame, outId: String, outVec: String, outNorm: String) =
      df.select(col(idCol).as(outId), col(vecCol).as("_v"))
        .withColumn("_s", int8Scale(col("_v")))
        .withColumn(outVec, transform(quantizeInt8(col("_v"), col("_s")), _.cast("double")))
        .withColumn(outNorm, l2Norm(col(outVec)))
        .drop("_v", "_s")
    val q = broadcast(quantized(queries, "query_id", "q_vec", "q_norm"))
    val c = quantized(candidates, "cand_id", "c_vec", "c_norm")
    val scored = c.crossJoin(q)
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos_sim",
        round(dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cos_sim", "rank")
  }

  /** Deterministic pseudo-random hyperplane component for (plane j,
    * dim d): ±1 from one md5-derived hex digit. Reproducible in any
    * engine with md5.
    */
  private def planeSign(j: Int, d: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$j|$d".getBytes("UTF-8"))
    if ((hex(0) & 1) == 0) 1.0 else -1.0
  }

  /** LSH bucket id: sign bits of dots with `numPlanes` ±1 hyperplanes.
    * Vectors in the same bucket are ANN candidates.
    */
  def lshBucket(vec: Column, dim: Int, numPlanes: Int = 8): Column = {
    val bits = (0 until numPlanes).map { j =>
      val planeLit = array((0 until dim).map(d => lit(planeSign(j, d))): _*)
      when(dot(vec, planeLit) >= 0, 1L << j).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Bucketed ANN: exact cosine ranking, but only within the query's
    * LSH bucket — the scale path (equi-join on bucket id instead of a
    * cross join). Recall < 100% by construction; increase planes ↔
    * recall tradeoff.
    */
  def lshTopK(candidates: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, dim: Int, k: Int,
              numPlanes: Int = 8): DataFrame = {
    ensureRegistered(candidates)
    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec"))
      .withColumn("bucket", lshBucket(col("c_vec"), dim, numPlanes))
      .withColumn("c_norm", l2Norm(col("c_vec")))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("bucket", lshBucket(col("q_vec"), dim, numPlanes))
      .withColumn("q_norm", l2Norm(col("q_vec"))))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos_sim",
        round(dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cos_sim", "rank")
  }

  /** Driver-side centroid matrix (id → vector-as-doubles) from a
    * small centroid frame — index-build CONTROL PLANE (k×dim doubles,
    * a few KB), never data. Floats are promoted exactly (float→double
    * is lossless), matching the in-plan `cast("double")` promotion.
    */
  private def collectCentroids(centroids: DataFrame, idCol: String,
                               vecCol: String): Seq[(Long, Array[Double])] =
    centroids.select(col(idCol).cast("long"), col(vecCol)).collect().toSeq
      .map { r =>
        r.getLong(0) -> r.getSeq[Any](1).map {
          case f: Float  => f.toDouble
          case d: Double => d
          case x         => x.toString.toDouble
        }.toArray
      }.sortBy(_._1)

  /** Exact replication of [[l2Norm]] for a driver-side vector: same
    * left-to-right fold, so the double is bit-identical to the plan's.
    */
  private def normOf(v: Array[Double]): Double =
    math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))

  /** Map-only nearest-centroid assignment: the k cosines are built as
    * ONE fenced array and the argmax is
    * `array_position(arr, array_max(arr))` — FIRST max, i.e. the
    * LOWEST centroid id on ties (cents is id-sorted), exactly the
    * window's (cos DESC, id ASC) order. Adds `centroid_id`; NO
    * shuffle of the assigned frame — at 100 TB the corpus is assigned
    * map-side where the original window formulation shuffled every
    * row. The PREVIOUS form here — k cosine columns + a nested
    * when-fold max — doubled the comparison tree per centroid
    * (bc appears in both branches of each when), and at k=8 inside a
    * whole-stage pipeline the generated `processNext()` blew janino's
    * 64 KB method limit: every bench run logged
    * InternalCompilerException("Code grows beyond 64 KB") and the
    * kmeans-assignment stages silently fell back to interpreted
    * evaluation (measured: 3 distinct failing plans per full-registry
    * run — this assignment under prototypePrune / ivfTopK /
    * ivfPqTopK). The no_inline fence stops CollapseProject from
    * substituting the k VecDot cosines into both argmax consumers.
    */
  private def assignNearest(df: DataFrame, vecCol: String, normCol: String,
                            cents: Seq[(Long, Array[Double])]): DataFrame = {
    require(cents.nonEmpty, "no centroids")
    val cos = cents.map { case (_, cvec) =>
      round(dot(col(vecCol), lit(cvec)) / (col(normCol) * lit(normOf(cvec))), 6)
    }
    val ids = cents.map(_._1).toArray
    df.withColumn("_cca", call_function("no_inline", array(cos: _*)))
      .withColumn("centroid_cos", array_max(col("_cca")))
      .withColumn("centroid_id",
        element_at(lit(ids),
          array_position(col("_cca"), col("centroid_cos")).cast("int")))
      .drop("_cca")
  }

  /** Deterministic spherical k-means (Lloyd) for IVF centroids:
    * init = first-k vectors by id (deterministic, no RNG), a FIXED
    * number of iterations, cosine-argmax assignment (matching how IVF
    * probes cells). Per iteration: a MAP-ONLY literal-argmax
    * assignment (centroids live on the driver between rounds — no
    * crossJoin, no window, no shuffle of the corpus) and one
    * (cell, dim) mean agg — O(iters) scans, one shuffle per round,
    * no quadratic work. The k×dim centroid matrix on the driver is
    * index-build control plane (a few KB), not data.
    *
    * Deterministic CROSS-ENGINE, not just cross-run: assignment
    * scores are rounded to 6 dp (centroid-id tiebreak) and cell means
    * go through an exact decimal sum (FP addition is not associative
    * — a parallel double mean is partitioning-dependent), so an
    * engine re-running the same recipe sequentially (the DuckDB
    * oracle does, unrolled) reproduces every centroid bit-for-bit.
    */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int = 5, samplePct: Int = 100): DataFrame = {
    ensureRegistered(df)
    val spark = df.sparkSession
    import spark.implicits._
    require(samplePct >= 1 && samplePct <= 100,
      s"samplePct must be 1..100, got $samplePct")
    // THE scale lever: train on a deterministic hash-sample of the
    // corpus. Lloyd's per-iteration cost — the (cell, dim) mean agg,
    // which shuffles corpus×dim rows via posexplode — drops by the
    // sample rate, while centroid quality is statistically identical
    // (cell means over a 10% uniform sample estimate the same means;
    // see LlmOpsSpec recall-parity test). The hash-bucket sample is
    // partitioning-invariant, so training is still deterministic and
    // the IVF ASSIGNMENT path (map-only, full corpus) is untouched.
    val base = if (samplePct >= 100) df
               else Sampling.sampleByHash(df, idCol, samplePct)
    // persisted: every Lloyd iteration runs two jobs (argmax assign +
    // means) over this frame — uncached, an iters=5 build would
    // re-execute the source scan + cast lineage ~10×. Scan-spread
    // FIRST: the persist freezes the scan's partitioning, and a
    // single-file source would pin every iteration's argmax +
    // posexplode to one task (Tables.spreadScan — no-op at scale).
    val vecs = graft.sources.Tables.spreadScan(
      base.select(col(idCol).as("vid"), col(vecCol).cast("array<double>").as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var centroids: IndexedSeq[Array[Double]] =
      vecs.orderBy(col("vid")).limit(k).collect().toIndexedSeq
        .map(_.getSeq[Double](1).toArray)
    try for (_ <- 1 to iters) {
      // centroids live on the driver between rounds, so assignment is
      // the map-only literal argmax — each round is ONE job with ONE
      // shuffle (the per-(cell, dim) mean agg), no window over a
      // crossJoin
      val cells = assignNearest(vecs.withColumn("_norm", l2Norm(col("v"))),
        "v", "_norm", centroids.zipWithIndex.map { case (v, i) => i.toLong -> v })
      centroids = lloydStep(cells, col("centroid_id"), col("v"), centroids)
    } finally vecs.unpersist(blocking = false)
    centroids.zipWithIndex.map { case (v, i) => i -> v.toSeq }
      .toDF("centroid_id", "centroid_vec")
  }

  /** One Lloyd update, shared by [[kmeansCentroids]] and
    * [[pqCodebooks]]: cell c's new centre is the per-position mean of
    * `vec` over the rows whose `cell` is c — one (cell, pos) aggregate
    * through an exact decimal sum (partitioning-invariant, so the
    * DuckDB oracle's unrolled CTEs reproduce it bit-for-bit),
    * collected and regrouped by cell on the driver. A cell no row
    * lands in keeps its old centre. `cell` indexes `old`.
    */
  private def lloydStep(members: DataFrame, cell: Column, vec: Column,
                        old: IndexedSeq[Array[Double]]): IndexedSeq[Array[Double]] = {
    val means = members
      .select(cell.cast("int").as("_cell"), posexplode(vec).as(Seq("_pos", "_x")))
      .groupBy("_cell", "_pos")
      .agg((sum(col("_x").cast("decimal(38,12)")).cast("double") /
        count(lit(1))).as("_m"))
      .collect()
    val byCell = means.groupBy(_.getInt(0)).map { case (c, rows) =>
      c -> rows.sortBy(_.getInt(1)).map(_.getDouble(2))
    }
    old.indices.map(c => byCell.getOrElse(c, old(c)))
  }

  /** IVF (inverted-file) ANN: candidates are assigned to their
    * nearest centroid once (the "index build" — one MAP-ONLY pass:
    * literal argmax against driver-side centroids, the corpus never
    * shuffles), queries probe only their own cell. Default centroids
    * are the deterministic first-k vectors (oracle-expressible); pass
    * `centroids = Some(kmeansCentroids(...))` for data-adaptive cells
    * — the plan shape is identical either way. Versus LSH: cells
    * adapt to the data distribution, and probing more cells
    * (`nprobe`) trades recall for cost without rebuilding.
    */
  def ivfTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, numCentroids: Int = 8,
              nprobe: Int = 1,
              centroidsOverride: Option[DataFrame] = None): DataFrame = {
    ensureRegistered(candidates)
    // centroid matrix to the driver once (control plane): candidate
    // assignment becomes a map-only literal argmax — the corpus is
    // NEVER shuffled or crossJoined during the index build
    val cents = collectCentroids(
      centroidsOverride.getOrElse(
        candidates.orderBy(col(idCol)).limit(numCentroids)
          .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid_vec"))),
      "centroid_id", "centroid_vec")

    // probe side (the small query set) may need topN > 1 cells: rank
    // the per-centroid cosine columns with a window — fine to shuffle
    // a query table, never the corpus
    def assignTopN(df: DataFrame, id: String, vec: String, topN: Int): DataFrame = {
      val scored = cents.foldLeft(df.withColumn("_norm", l2Norm(col(vec)))) {
        case (acc, (cid, cvec)) =>
          acc.withColumn(s"_cc_$cid",
            round(dot(col(vec), lit(cvec)) / (col("_norm") * lit(normOf(cvec))), 6))
      }
      val unpivoted = scored.select(
        col(id), col(vec), col("_norm"),
        explode(array(cents.map { case (cid, _) =>
          struct(lit(cid).as("centroid_id"), col(s"_cc_$cid").as("_c_cos"))
        }: _*)).as("_ca"))
        .select(col(id), col(vec), col("_norm"),
          col("_ca.centroid_id").as("centroid_id"), col("_ca._c_cos").as("_c_cos"))
      val w = Window.partitionBy(col(id))
        .orderBy(col("_c_cos").desc, col("centroid_id").asc)
      unpivoted.withColumn("_crank", row_number().over(w))
        .filter(col("_crank") <= topN)
        .drop("_c_cos", "_crank")
    }

    val cells = assignNearest(
      candidates.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec"))
        .withColumn("_norm", l2Norm(col("c_vec"))),
      "c_vec", "_norm", cents)
      .withColumnRenamed("_norm", "c_norm")
    val probes = assignTopN(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
      "query_id", "q_vec", topN = nprobe)
      .withColumnRenamed("_norm", "q_norm")

    val scored = cells.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos_sim",
        round(dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cos_sim", "rank")
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, blocked
    * by LSH bucket (exact within bucket).
    */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, threshold: Double,
                        numPlanes: Int = 8): DataFrame = {
    ensureRegistered(df)
    // shuffle-hash on the bucket key, repartitioned by explicit num —
    // same pair-explosion rationale as Mdm.candidatePairs (AQE only
    // sees the small input; output is quadratic per bucket)
    val n = graft.functions.Functions.numShufflePartitions(df.sparkSession)
    val v = df.select(col(idCol), col(vecCol))
      .withColumn("bucket", lshBucket(col(vecCol), dim, numPlanes))
      .withColumn("_norm", l2Norm(col(vecCol)))
      .repartition(n, col("bucket"))
    val a = v.select(col("bucket"), col(idCol).as("id_1"),
      col(vecCol).as("v_1"), col("_norm").as("n_1")).hint("shuffle_hash")
    val b = v.select(col("bucket"), col(idCol).as("id_2"),
      col(vecCol).as("v_2"), col("_norm").as("n_2")).hint("shuffle_hash")
    a.join(b, Seq("bucket"))
      .filter(col("id_1") < col("id_2"))
      .withColumn("cos_sim",
        round(dot(col("v_1"), col("v_2")) / (col("n_1") * col("n_2")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("id_1", "id_2", "cos_sim")
  }

  /** Full-corpus cell assignment against a deterministic k-means
    * codebook: train via [[kmeansCentroids]] (on a hash sample when
    * `samplePct < 100`), then one MAP-ONLY literal-argmax pass over
    * the corpus — the corpus never shuffles for the assignment.
    * Output: one row per vector — `(vec_id, cell_id, centroid_cos)`
    * plus the double-cast vector/norm (`_v`, `_norm`) for downstream
    * within-cell comparisons. Shared base of [[semDedup]] and
    * [[prototypePrune]].
    */
  private def corpusCells(df: DataFrame, idCol: String, vecCol: String,
                          k: Int, iters: Int, samplePct: Int): DataFrame = {
    val cents = collectCentroids(
      kmeansCentroids(df, idCol, vecCol, k, iters, samplePct),
      "centroid_id", "centroid_vec")
    // scan-spread before the map-only argmax: the per-row nearest-
    // centroid scoring is k·dim flops per vector and a single-file
    // scan would run the whole corpus on one task
    val v = graft.sources.Tables.spreadScan(
      df.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("_v")))
      .withColumn("_norm", l2Norm(col("_v")))
    assignNearest(v, "_v", "_norm", cents)
      .withColumn("cell_id", col("centroid_id").cast("int"))
  }

  /** SemDeDup — semantic near-duplicate pruning in embedding space
    * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * cluster the corpus with deterministic spherical k-means, then
    * compare pairs ONLY within a cell; a vector is pruned when a
    * LOWER-id vector in its cell has cosine ≥ `threshold`. The
    * lowest-id-wins rule is the deterministic, order-free form of the
    * paper's keep-one-per-group rule — monotone in id, so the result
    * is partitioning-invariant and a sequential engine (the DuckDB
    * twin) reproduces it exactly.
    *
    * Scale shape: the quadratic work is Σ|cell|², NOT |corpus|² —
    * that is the paper's whole point. `k` is the scale lever (grow it
    * with the corpus so cells stay O(corpus/k)); training cost is
    * bounded separately by `samplePct`. The within-cell join is the
    * same bucketed shuffle-hash self-join as [[embeddingDupPairs]]
    * (explicit repartition on the cell key — AQE only sees the small
    * input of a pair-exploding join), and the corpus-side assignment
    * is map-only.
    *
    * Output: one row per input vector — `(vec_id, cell_id, keep)`.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int, threshold: Double,
               samplePct: Int = 100): DataFrame = {
    ensureRegistered(df)
    val n = graft.functions.Functions.numShufflePartitions(df.sparkSession)
    val cells = corpusCells(df, idCol, vecCol, k, iters, samplePct)
    val byCell = cells.repartition(n, col("cell_id"))
    val a = byCell.select(col("cell_id"), col("vec_id").as("id_1"),
      col("_v").as("v_1"), col("_norm").as("n_1")).hint("shuffle_hash")
    val b = byCell.select(col("cell_id"), col("vec_id").as("id_2"),
      col("_v").as("v_2"), col("_norm").as("n_2")).hint("shuffle_hash")
    val pruned = a.join(b, Seq("cell_id"))
      .filter(col("id_1") < col("id_2"))
      .filter(round(dot(col("v_1"), col("v_2")) / (col("n_1") * col("n_2")), 6)
        >= threshold)
      .select(col("id_2").as("vec_id")).distinct()
    cells.select("vec_id", "cell_id")
      .join(pruned.withColumn("_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"), col("_dup").isNull.as("keep"))
  }

  /** Scale path of [[semDedup]]: pairs are compared only within
    * (cell, LSH-bucket) — the random-hyperplane sub-blocking cuts the
    * within-cell pair space ~2^numPlanes× when the corpus outgrows a
    * fixed codebook (the 30× sweep measured the plain form at ratio
    * 2.06 with k pinned by its oracle). Identical vectors share every
    * bucket, so EXACT duplicates are never lost; near-dups below
    * cos=1 can split across buckets — the standard LSH recall trade,
    * tuned down by numPlanes. Same lowest-id-wins rule, same output
    * shape. Keep [[semDedup]] as the exact-within-cell parity form;
    * route corpus scale here (the dd_minhash_pairs ↔ dd_ngram_* split,
    * in embedding space).
    */
  def semDedupBucketed(df: DataFrame, idCol: String, vecCol: String,
                       dim: Int, k: Int, iters: Int, threshold: Double,
                       numPlanes: Int = 4, samplePct: Int = 100): DataFrame = {
    ensureRegistered(df)
    val n = graft.functions.Functions.numShufflePartitions(df.sparkSession)
    val cells = corpusCells(df, idCol, vecCol, k, iters, samplePct)
      .withColumn("_bucket", lshBucket(col("_v"), dim, numPlanes))
    val byCell = cells.repartition(n, col("cell_id"), col("_bucket"))
    val a = byCell.select(col("cell_id"), col("_bucket"), col("vec_id").as("id_1"),
      col("_v").as("v_1"), col("_norm").as("n_1")).hint("shuffle_hash")
    val b = byCell.select(col("cell_id"), col("_bucket"), col("vec_id").as("id_2"),
      col("_v").as("v_2"), col("_norm").as("n_2")).hint("shuffle_hash")
    val pruned = a.join(b, Seq("cell_id", "_bucket"))
      .filter(col("id_1") < col("id_2"))
      .filter(round(dot(col("v_1"), col("v_2")) / (col("n_1") * col("n_2")), 6)
        >= threshold)
      .select(col("id_2").as("vec_id")).distinct()
    cells.select("vec_id", "cell_id")
      .join(pruned.withColumn("_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"), col("_dup").isNull.as("keep"))
  }

  /** Prototype pruning (Sorscher et al. 2022, "Beyond neural scaling
    * laws: beating power law scaling via data pruning",
    * arXiv:2206.14486): within each k-means cell rank vectors by
    * cosine to their OWN centroid; the most prototypical (closest)
    * examples carry the least training signal at large data scale, so
    * drop the top `prunePct` percent per cell (floor, so small cells
    * under-prune rather than empty out). Ranking is deterministic
    * cross-engine via the 6 dp-rounded cosine with id tiebreak.
    *
    * Scale shape (the de-cliffed form — semantics unchanged): a naive
    * per-cell `row_number` window sorts each of the k cells in ONE
    * task, so with k fixed the hot partition grows linearly with the
    * corpus (30× sweep measured ratio 2.07). Instead the rank
    * threshold is derived from the per-(cell, cos) HISTOGRAM — ≤
    * 2,000,001 rows per cell by the 6 dp rounding, a hard bound
    * INDEPENDENT of corpus size — so the only windows are (a) a
    * running sum over that bounded histogram and (b) an id rank
    * inside (cell, cos) tie-groups, whose partitions are tie-sized,
    * never cell-sized. The corpus itself is shuffled exactly once (on
    * the (cell, cos) key the verdict join and the tie-rank window
    * share).
    *
    * Output: one row per input vector —
    * `(vec_id, cell_id, centroid_cos, keep)`.
    */
  def prototypePrune(df: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int, prunePct: Int,
                     samplePct: Int = 100): DataFrame = {
    require(prunePct >= 0 && prunePct <= 100,
      s"prunePct must be 0..100, got $prunePct")
    ensureRegistered(df)
    val cells = corpusCells(df, idCol, vecCol, k, iters, samplePct)
      .select("vec_id", "cell_id", "centroid_cos")
    // one row per distinct (cell, cos) — map-side combined, bounded
    val hist = cells.groupBy("cell_id", "centroid_cos")
      .agg(count(lit(1)).as("_c"))
    val hw = Window.partitionBy("cell_id").orderBy(col("centroid_cos").desc)
    val cw = Window.partitionBy("cell_id")
    // per cos-group verdict: 1 = keep all, 0 = drop all, 2 = boundary
    // (the ncut rank falls inside this group; `_bdrops` of its rows —
    // the smallest ids — are dropped)
    val verdicts = hist
      .withColumn("_cum", sum("_c").over(hw))
      .withColumn("_ncut", floor(sum("_c").over(cw) * lit(prunePct) / lit(100)))
      .withColumn("_above", col("_cum") - col("_c"))
      .select(col("cell_id"), col("centroid_cos"),
        when(col("_cum") <= col("_ncut"), lit(0))
          .when(col("_above") >= col("_ncut"), lit(1))
          .otherwise(lit(2)).as("_verdict"),
        (col("_ncut") - col("_above")).as("_bdrops"))
    val bw = Window.partitionBy("cell_id", "centroid_cos")
      .orderBy(col("vec_id").asc)
    // shuffled-hash BY CONTRACT: the histogram is bounded per cell but
    // k·2M rows in the worst case — past any broadcast budget — and a
    // statistics-driven broadcast at small SF can even pick the CORPUS
    // side as build (observed: BuildLeft on `cells`). The shuffle key
    // (cell, cos) is the tie-rank window's partition key, so the
    // corpus pays this one exchange for both.
    cells.join(verdicts.hint("shuffle_hash"), Seq("cell_id", "centroid_cos"))
      .withColumn("_brn", row_number().over(bw))
      .select(col("vec_id"), col("cell_id"), col("centroid_cos"),
        when(col("_verdict") === 1, lit(true))
          .when(col("_verdict") === 0, lit(false))
          .otherwise(col("_brn") > col("_bdrops")).as("keep"))
  }

  /** Deterministic ±1 entry of the random-projection matrix:
    * reproducible in any engine with md5 (first byte parity).
    */
  private def mdSign(key: String): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
    if ((h(0) & 1) == 0) 1.0 else -1.0
  }

  /** Johnson–Lindenstrauss random projection with a database-friendly
    * ±1 matrix (Achlioptas 2003, "Database-friendly random
    * projections"): `proj_j = ⟨x, r_j⟩ / √outDim` with
    * `r_j ∈ {±1}^inDim` derived deterministically from md5 — the
    * standard cheap dimensionality reduction in front of ANN /
    * clustering when 64-d (or 768-d) embeddings are 4× more than the
    * recall target needs. E‖Rx/√k‖² = ‖x‖², so distances are
    * preserved in expectation and every downstream cosine stage works
    * unchanged on the narrower vectors.
    *
    * Scale shape: a pure scan-side projection — outDim codegen'd
    * `vec_dot`s per row against plan-literal sign vectors, ZERO
    * shuffles, and the output rows are outDim/inDim the width of the
    * input: the 100 TB win is every later shuffle/cache/index stage
    * moving 4× fewer bytes. Components are 6 dp-rounded so any
    * engine re-deriving the fixed-order fold agrees bit-for-bit;
    * emitted as flat `proj_j` columns (parquet-friendly and directly
    * indexable by downstream ANN stages).
    */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
                       inDim: Int = 64, outDim: Int = 16,
                       seed: String = "rp"): DataFrame = {
    require(outDim >= 1 && outDim <= inDim,
      s"outDim must be in 1..$inDim, got $outDim")
    ensureRegistered(df)
    val scale = math.sqrt(outDim.toDouble)
    val comps = (0 until outDim).map { j =>
      val rLit = array((0 until inDim).map(i =>
        lit(mdSign(s"$seed|$j|$i"))): _*)
      round(dot(col(vecCol), rLit) / scale, 6).as(s"proj_$j")
    }
    df.select(col(idCol) +: comps: _*)
  }

  // ─────────────── product quantization (PQ) ANN ───────────────

  /** Exact replication of the plan-side left-to-right squared-norm
    * fold for a driver-side vector (sibling of [[normOf]], without
    * the sqrt) — PQ's reduced-distance constant ‖c‖² must be the
    * same double the oracle's `list_aggregate('sum')` produces.
    */
  private def sqNormOf(v: Array[Double]): Double =
    v.foldLeft(0.0)((a, x) => a + x * x)

  /** Add `_code_j` = the id of the subspace-`j` codeword nearest (in
    * L2) to the vector's j-th subvector. Distance is REDUCED —
    * `round(‖c‖² − 2·x·c, 6)` — because ‖x‖² is constant across the
    * argmin; `array_position(ds, array_min(ds))` takes the FIRST
    * minimum, so ties resolve (dist ASC, codeword ASC), engine-exact.
    * The distance array sits behind a [[graft.plans.NoInline]] fence:
    * [[assignNearest]]'s nested when-fold duplicates the whole prior
    * tree at each level — fine at k=8, a 2^16 expression blow-up
    * (measured 62 MB task binaries) at PQ's k=16. Map-only:
    * codewords are plan literals, the corpus never shuffles to get
    * encoded.
    */
  private def assignSubCode(df: DataFrame, vecCol: String, j: Int, dsub: Int,
                            book: Seq[Array[Double]]): DataFrame = {
    val spark = df.sparkSession
    graft.plans.GraftExtensions.register(spark)
    val sub = slice(col(vecCol), j * dsub + 1, dsub)
    val ds = array(book.map(cv =>
      round(lit(sqNormOf(cv)) - lit(2.0) * dot(sub, lit(cv)), 6)): _*)
    df.withColumn(s"_pqds_$j", graft.plans.NoInline(spark, ds))
      .withColumn(s"_code_$j",
        (array_position(col(s"_pqds_$j"), array_min(col(s"_pqds_$j"))) - 1)
          .cast("int"))
      .drop(s"_pqds_$j")
  }

  /** Deterministic per-subspace L2 k-means codebooks for product
    * quantization (Jégou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search"): the vector is split into `m`
    * subvectors of `dim/m` dims; each subspace gets its own
    * `codebookK`-codeword Lloyd codebook. Same determinism recipe as
    * [[kmeansCentroids]]: init = first-k vectors' subvectors by id,
    * fixed iteration count, 6 dp-rounded reduced-L2 argmin with
    * codeword-id tiebreak, cell means through exact decimal sums —
    * so an engine unrolling the same recipe sequentially (the DuckDB
    * oracle) reproduces every codeword bit-for-bit.
    *
    * Scale shape: per iteration, ONE map-only pass assigns all `m`
    * subspaces (literal argmin — no shuffle of the corpus) and one
    * (subspace, codeword, dim) mean agg shuffles m×corpus narrow
    * rows; the m×k×dsub codebook matrix on the driver is index-build
    * control plane (a few KB).
    */
  def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
                  dim: Int = 64, m: Int = 4, codebookK: Int = 16,
                  iters: Int = 2): Seq[Seq[Array[Double]]] = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    ensureRegistered(df)
    val dsub = dim / m
    // NOT scan-spread (unlike kmeansCentroids): each PQ iteration
    // fans into m=4 posexplode subtrees over this frame, so a spread
    // to session parallelism yields m×parallelism near-empty tasks per
    // iteration — measured 2× SLOWER at sf0.1 than the single-split
    // scan; the per-subvector compute is too small to pay for it
    val vecs = df.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seed = vecs.orderBy(col("vid")).limit(codebookK).collect()
      .map(_.getSeq[Double](1).toArray)
    // the m codebooks as ONE flat cell space, subspace j's codeword c
    // at cell j·k + c, so one Lloyd step updates every subspace
    val k = seed.length
    var books: IndexedSeq[Array[Double]] = (0 until m).flatMap(j =>
      seed.toIndexedSeq.map(v => v.slice(j * dsub, (j + 1) * dsub)))
    def book(j: Int) = books.slice(j * k, (j + 1) * k)
    try for (_ <- 1 to iters) {
      val coded = (0 until m).foldLeft(vecs) { (acc, j) =>
        assignSubCode(acc, "v", j, dsub, book(j))
      }
      val perSub = (0 until m).map(j =>
        coded.select((col(s"_code_$j") + j * k).as("cell"),
          slice(col("v"), j * dsub + 1, dsub).as("sv")))
      books = lloydStep(perSub.reduce(_ unionAll _), col("cell"), col("sv"), books)
    } finally vecs.unpersist(blocking = false)
    (0 until m).map(book)
  }

  /** PQ-encode: `m` byte-sized code columns per vector, one map-only
    * projection. THE memory lever at 100 TB: a 64-dim float vector is
    * 256 bytes; its PQ code is `m` bytes — a 64× compression of the
    * candidate side, so a billion-vector index fits in a few GB of
    * executor memory where raw vectors would spill.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               books: Seq[Seq[Array[Double]]], dim: Int = 64): DataFrame = {
    val m = books.size
    val dsub = dim / m
    val prepped = df.withColumn("_pv", col(vecCol).cast("array<double>"))
    val coded = (0 until m).foldLeft(prepped) { (acc, j) =>
      assignSubCode(acc, "_pv", j, dsub, books(j))
    }
    coded.drop("_pv", vecCol)
  }

  /** PQ ANN with asymmetric distance computation (ADC): codebooks are
    * trained on the candidate corpus, candidates are PQ-encoded
    * (map-only), and each query precomputes its m×k distance table
    * against the codebooks — per-pair work is then `m` table lookups
    * + a fixed-order sum of m doubles instead of a dim-length dot
    * product (16× less arithmetic at dim=64/m=4, on 64× smaller
    * operands). Approximate by construction: the reduced distance
    * `Σ_j (‖c_j‖² − 2·q_j·c_j)` ranks exactly like true L2 against
    * the RECONSTRUCTED (quantized) candidates — quantization error is
    * the recall trade, tunable via m/codebookK without touching the
    * plan shape.
    *
    * Shape: queries (few) broadcast with their distance-table arrays;
    * candidates never shuffle (codes are a scan-side projection); the
    * per-query top-k window runs over q×N narrow rows.
    */
  def pqTopK(candidates: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int,
             dim: Int = 64, m: Int = 4, codebookK: Int = 16,
             iters: Int = 2): DataFrame = {
    val dsub = dim / m
    val books = pqCodebooks(candidates, idCol, vecCol, dim, m, codebookK, iters)
    val coded = pqEncode(candidates, idCol, vecCol, books, dim)
      .withColumnRenamed(idCol, "cand_id")
    // per-query distance table: one m×codebookK literal-dot projection
    val qPrep0 = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv"))
    val qPrep = (0 until m).foldLeft(qPrep0) { (acc, j) =>
      val sub = slice(col("_qv"), j * dsub + 1, dsub)
      acc.withColumn(s"_dt_$j", array(books(j).zipWithIndex.map {
        case (cv, _) => round(lit(sqNormOf(cv)) - lit(2.0) * dot(sub, lit(cv)), 6)
      }: _*))
    }.drop("_qv")
    val approx = (1 until m).foldLeft(
      element_at(col("_dt_0"), col("_code_0") + 1)) { (acc, j) =>
      acc + element_at(col(s"_dt_$j"), col(s"_code_$j") + 1)
    }
    val scored = coded.crossJoin(broadcast(qPrep))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("approx_dist", round(approx, 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist").asc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "approx_dist", "rank")
  }

  /** IVF-PQ — the industry-standard billion-vector index shape
    * (Jégou et al. 2011 §IV; the FAISS `IVFx,PQy` default): a coarse
    * quantizer routes every vector to a cell, PQ codebooks are
    * trained on the RESIDUALS (vector − its cell centroid — residual
    * energy is far lower than raw, so the same 4-byte code carries
    * more precision), and a query does ADC against only its own
    * cell's candidates (nprobe=1 here; probing more cells re-runs the
    * same plan per cell).
    *
    * Why this is THE 100 TB ANN shape: the coarse route is map-only
    * (literal argmin), codes are 4 bytes (64× compression), and the
    * per-query candidate set shrinks by the cell fan-out — memory,
    * shuffle, and per-pair arithmetic all drop together, each factor
    * tunable (coarseK, m, codebookK) without changing the plan.
    *
    * Coarse centroids are the deterministic first-`coarseK` candidate
    * vectors by id (oracle-expressible; swap in [[kmeansCentroids]]
    * output for data-adaptive cells — the plan shape is identical).
    */
  def ivfPqTopK(candidates: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int,
                coarseK: Int = 8, dim: Int = 64, m: Int = 4,
                codebookK: Int = 16, iters: Int = 2): DataFrame = {
    ensureRegistered(candidates)
    val dsub = dim / m
    val cands = candidates.select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("_v"))
    val coarse: Seq[Array[Double]] = cands.orderBy(col("cand_id"))
      .limit(coarseK).collect().map(_.getSeq[Double](1).toArray).toSeq
    val centArr = array(coarse.map(cv => lit(cv)): _*)
    // coarse route + residual: one map-only projection (the whole
    // vector is "subspace 0" of width dim for the argmin)
    def withCellAndResidual(df: DataFrame): DataFrame =
      assignSubCode(df, "_v", 0, dim, coarse)
        .withColumnRenamed("_code_0", "cell")
        .withColumn("_rv",
          zip_with(col("_v"), element_at(centArr, col("cell") + 1),
            (a, b) => a - b))

    val candRes = withCellAndResidual(cands).select("cand_id", "cell", "_rv")
    val books = pqCodebooks(candRes, "cand_id", "_rv", dim, m, codebookK, iters)
    val coded = pqEncode(candRes, "cand_id", "_rv", books, dim)

    val qRes = withCellAndResidual(
      queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("_v")))
      .select(col("query_id"), col("cell").as("q_cell"), col("_rv"))
    val qPrep = (0 until m).foldLeft(qRes) { (acc, j) =>
      val sub = slice(col("_rv"), j * dsub + 1, dsub)
      acc.withColumn(s"_dt_$j", array(books(j).map(cv =>
        round(lit(sqNormOf(cv)) - lit(2.0) * dot(sub, lit(cv)), 6)): _*))
    }.drop("_rv")
    val approx = (1 until m).foldLeft(
      element_at(col("_dt_0"), col("_code_0") + 1)) { (acc, j) =>
      acc + element_at(col(s"_dt_$j"), col(s"_code_$j") + 1)
    }
    // equi-join on the cell: candidates outside the probed cell are
    // never scored (the fan-out cut IVF exists for)
    val scored = coded.join(broadcast(qPrep), col("cell") === col("q_cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("approx_dist", round(approx, 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist").asc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cell", "approx_dist", "rank")
  }

  /** Two-stage retrieval refine — the FAISS `IndexRefineFlat`
    * pattern, the standard production ANN shape: a cheap approximate
    * stage (IVF-PQ / LSH / any `ann_*` variant) over-fetches a
    * candidate pool, then ONLY those pool pairs are re-scored with
    * exact full-vector cosine and cut to the final top `k`.
    * Quantization error affects candidate SELECTION but never the
    * reported scores or the final order among survivors — the recall
    * knob is the pool size, the precision of what's returned is
    * exact.
    *
    * Scale shape: the pool (q × poolK rows, bounded by config)
    * broadcasts INTO the candidate scan — the corpus is filtered to
    * pool members map-side and never shuffles; queries broadcast
    * with their vectors; the final top-k window runs over q × poolK
    * narrow rows. Exact-vector arithmetic touches only the pool, so
    * the refine cost is independent of corpus size.
    */
  def refineTopK(pool: DataFrame, candidates: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int): DataFrame = {
    ensureRegistered(candidates)
    val c = candidates.select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("_cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv"))
    val scored = c.join(broadcast(pool.select("query_id", "cand_id")),
        Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos_sim", round(dot(col("_cv"), col("_qv")) /
        (l2Norm(col("_cv")) * l2Norm(col("_qv"))), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cos_sim", "rank")
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998): from a per-query candidate pool, greedily pick `outK`
    * results maximizing `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c,s)`
    * — relevance WITH diversity, the re-rank step that stops a RAG
    * retriever returning `outK` near-copies of the same passage.
    *
    * Scale shape: the pool is [[bruteForceTopK]]'s output (swap in
    * any `ann_*` variant at scale) joined back to its vectors, then
    * COLLAPSED to one row per query (poolK·dim doubles — bounded by
    * config, not data), so the greedy loop is per-row array algebra:
    * `outK` statically-unrolled steps, each a filter of un-picked
    * candidates, an MMR score per candidate (max-similarity via a
    * fixed-order zip_with/aggregate dot over UNIT vectors — the
    * oracle replicates the exact fold order), and an argmax via
    * `array_max` on a (mmr, −cand_id) struct (deterministic
    * tie-break). Each step's state lands behind a
    * [[graft.plans.NoInline]] fence — unfenced, every step re-inlines
    * the whole previous step's expression tree (the documented
    * 2^k blow-up). No shuffle after the pool collapse; the loop
    * parallelizes per query.
    *
    * λ is integer percent so the literal reaching both engines is an
    * exact IEEE double; scores round 6 dp before every comparison.
    */
  def mmrRerank(candidates: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, poolK: Int, outK: Int,
                lambdaPct: Int = 50): DataFrame = {
    require(outK >= 1 && poolK >= outK, s"need poolK >= outK >= 1; got $poolK, $outK")
    require(lambdaPct >= 0 && lambdaPct <= 100, s"lambdaPct 0..100, got $lambdaPct")
    ensureRegistered(candidates)
    val spark = candidates.sparkSession
    val lam = lambdaPct / 100.0
    val pool = bruteForceTopK(candidates, queries, idCol, vecCol, poolK)
    val withVecs = candidates
      .select(col(idCol).as("cand_id"), col(vecCol).as("_cv"))
      .join(broadcast(pool), Seq("cand_id"))
      .withColumn("_n", l2Norm(col("_cv")))
      .withColumn("_u", transform(col("_cv"), x => x.cast("double") / col("_n")))
    val dotU = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    var df = withVecs.groupBy("query_id").agg(
      sort_array(collect_list(struct(
        col("rank"), col("cand_id"), col("cos_sim").as("rel"), col("_u"))))
        .as("_c"))
      .select(col("query_id"), col("_c"),
        array().cast("array<bigint>").as("_picked"),
        array().cast("array<array<double>>").as("_selv"),
        array().cast("array<struct<pos:int,cand_id:bigint,rel:double,mmr:double>>")
          .as("_out"))
    (1 to outK).foreach { step =>
      val rem = filter(col("_c"),
        c => !array_contains(col("_picked"), c.getField("cand_id")))
      val scored = transform(rem, c => {
        val maxSim =
          if (step == 1) lit(0.0)
          else round(array_max(transform(col("_selv"),
            sv => dotU(c.getField("_u"), sv))), 6)
        struct(
          round(lit(lam) * c.getField("rel") - lit(1.0 - lam) * maxSim, 6)
            .as("mmr"),
          (-c.getField("cand_id")).as("_negid"),
          c.getField("cand_id").as("cand_id"),
          c.getField("rel").as("rel"),
          c.getField("_u").as("_u"))
      })
      // the argmax is evaluated EXACTLY ONCE per row into its own
      // fenced column, and the state updates read the materialized
      // struct. This is a CORRECTNESS constraint, not a perf nicety:
      // referencing `array_max(scored)` from several projection
      // columns plants copies of one higher-order-function tree that
      // SHARE NamedLambdaVariable instances — measured here returning
      // DIFFERENT picks for two copies in the same projection (the
      // filter's lambda state cross-contaminated between copies).
      // One copy per step also cuts the per-row cost 5×.
      df = df
        .select(col("query_id"), col("_c"), col("_picked"), col("_selv"),
          col("_out"),
          graft.plans.NoInline(spark, array_max(scored)).as("_best"))
        .select(col("query_id"), col("_c"),
          concat(col("_picked"), array(col("_best.cand_id"))).as("_picked"),
          concat(col("_selv"), array(col("_best._u"))).as("_selv"),
          concat(col("_out"), array(struct(
            lit(step).as("pos"),
            col("_best.cand_id").as("cand_id"),
            col("_best.rel").as("rel"),
            col("_best.mmr").as("mmr")))).as("_out"))
    }
    df.select(col("query_id"), explode(col("_out")).as("_o"))
      .select(col("query_id"), col("_o.pos"), col("_o.cand_id"),
        col("_o.rel"), col("_o.mmr"))
  }

  /** Exact d×d gram matrix Σ x·xᵀ over an embedding column in ONE
    * pass — the sufficient statistic for PCA/whitening/linear probes
    * (X = corpus matrix; covariance and principal axes derive from
    * XᵀX without ever revisiting the data). Output: upper triangle
    * as (i, j, g) rows, 1-based, d(d+1)/2 of them.
    *
    * Engine-exact by quantization: components quantize to
    * `round(x·quantScale)` BIGINTs at the scan, so every product and
    * the cross-row sum are integer arithmetic — bit-identical in any
    * engine (double accumulation would drift with partitioning).
    * Headroom: |q| ≤ quantScale·max|x| ⇒ with unit-norm embeddings at
    * the default scale each product ≤ 1e8, overflowing BIGINT only
    * past ~9×10¹⁰ rows; pick a smaller quantScale for more rows.
    *
    * Scale shape: the per-row cost is the inherent O(d²) of the outer
    * product, emitted scan-side via nested HOF lambdas over the ONE
    * fenced quantized array (no_inline — project-collapse would
    * substitute the transform into every element_at, recomputing the
    * quantization per access). The aggregation keys on (i, j) — at
    * most d(d+1)/2 groups — so partial aggregation collapses each
    * mapper's slice to ≤2080 rows (d=64) before the exchange: shuffle
    * volume is partitions × d²/2 × 24 bytes, independent of corpus
    * size, and the corpus itself never shuffles.
    */
  def gramMatrix(df: DataFrame, vecCol: String, dim: Int,
                 quantScale: Int = 10000): DataFrame = {
    ensureRegistered(df)
    val spark = df.sparkSession
    val q = df.select(graft.plans.NoInline(spark,
      transform(col(vecCol).cast("array<double>"),
        x => round(x * quantScale).cast("long"))).as("_q"))
    q.select(explode(expr(
      s"""flatten(transform(sequence(1, $dim), i ->
         |  transform(sequence(i, $dim), j ->
         |    named_struct('i', i, 'j', j,
         |      'p', element_at(_q, i) * element_at(_q, j)))))""".stripMargin))
        .as("_t"))
      .groupBy(col("_t.i").as("i"), col("_t.j").as("j"))
      .agg(sum(col("_t.p")).as("g"))
  }

  /** Leading principal component from a collected gram matrix
    * (driver-side power iteration — the gram is d×d CONTROL PLANE, a
    * few KB; the data plane stays distributed in [[gramMatrix]] /
    * [[pcaProject]]). Deterministic: fixed start vector e₁ + fixed
    * iteration count, no randomness. Returns the unit eigenvector.
    */
  def pcaTopComponent(gram: DataFrame, dim: Int,
                      iters: Int = 100): Array[Double] = {
    val g = Array.ofDim[Double](dim, dim)
    gram.select(col("i"), col("j"), col("g").cast("double")).collect()
      .foreach { r =>
        val (i, j, v) = (r.getInt(0) - 1, r.getInt(1) - 1, r.getDouble(2))
        g(i)(j) = v; g(j)(i) = v
      }
    var v = Array.tabulate(dim)(i => if (i == 0) 1.0 else 0.0)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).foldLeft(0.0)((acc, j) => acc + g(i)(j) * v(j)))
      val n = math.sqrt(w.foldLeft(0.0)((a, x) => a + x * x))
      require(n > 0, "gram matrix has no positive direction")
      v = w.map(_ / n)
    }
    // sign convention: first nonzero coordinate positive, so the
    // component is unique (±v are the same axis)
    val lead = v.find(math.abs(_) > 1e-12).getOrElse(1.0)
    if (lead < 0) v.map(-_) else v
  }

  /** Project every embedding onto a fixed component (broadcast as a
    * literal array — map-only, zero shuffles): the PCA feature /
    * whitening step. */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String,
                 component: Array[Double]): DataFrame = {
    ensureRegistered(df)
    val comp = array(component.map(lit): _*)
    df.select(col(idCol),
      round(dot(col(vecCol).cast("array<double>"), comp), 6).as("pc1"))
  }
}
