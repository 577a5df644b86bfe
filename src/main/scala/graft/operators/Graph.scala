package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph algorithms over edge-list DataFrames — the iterative tier
  * next to [[TextDedup.dupClusters]]'s connected components. The
  * near-dup pair lists the dedup stack produces ARE graphs (docs =
  * vertices, candidate pairs = edges), and ranking their vertices
  * surfaces the template hubs / boilerplate centers a curation
  * pipeline wants to inspect first.
  *
  * Every iteration is bounded Spark algebra: one shuffled-hash join
  * (contributions to neighbors) + one map-side-combined aggregate
  * per power iteration — never a driver-side adjacency structure.
  * Iterations are FIXED-COUNT (power iterations, not
  * convergence-probed): deterministic plan depth, and the oracle can
  * unroll the same k steps as a CTE chain.
  */
object Graph {

  /** DISK_ONLY, deliberately NOT the MEMORY_AND_DISK_SER the CC code
    * uses: a memory-first level UNROLLS each block in heap before
    * deciding to spill, and on an all-duplicates corpus the pair
    * graph's edge list is output-quadratic (30 exact copies → ~900×
    * the edges) — 32 concurrent ~450 MB unrolls OOM'd an 8 GB box at
    * the 30× sweep. DISK_ONLY serializes straight to disk with no
    * unroll; the three iteration joins then stream the edge blocks
    * back, which costs sequential reads and survives ANY edge-list
    * size the disk holds. Broadcast-bait is not a concern here (the
    * prefix-join scaladoc's DISK_ONLY caveat): every consumer join is
    * hinted shuffle-hash.
    */
  private val CkptLevel =
    org.apache.spark.storage.StorageLevel.DISK_ONLY

  /** Distinct (src, dst) edges in both directions of an undirected
    * pair list, from ONE scan of the (possibly expensive) pair plan —
    * a unionByName with itself would execute it twice.
    */
  private def symmetric(pairs: DataFrame, idA: String, idB: String): DataFrame =
    pairs.select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()

  /** Fixed-point unit: ranks are maintained as BIGINT multiples of
    * 1e-12. 1e12 · n fits a long for any realistic vertex count the
    * per-group sums see (sums stay ≤ 1e12 total mass by
    * construction).
    */
  val FpUnit: Long = 1000000000000L

  /** PageRank (Page et al. 1999) over an UNDIRECTED pair list, k
    * fixed power iterations with damping d = num/100:
    * `r'(v) = (1−d)/n + d·Σ_{u∼v} r(u)/deg(u)`.
    *
    * Engine- and partitioning-invariant by FIXED-POINT construction —
    * a stronger recipe than the exact-moments queries need: ranks are
    * BIGINT multiples of 1e-12 and every update is integer floor
    * division (`div` / DuckDB `//`), so there is NO floating-point
    * rounding function anywhere whose half-way behavior engines could
    * disagree on (a 9 dp `round` formulation measured 2/1000 rows off
    * by one ulp in the 9th digit — double-rounding boundaries are
    * real at this op count). The only double op is the single final
    * unit conversion, one correctly-rounded IEEE division on exactly
    * representable operands. Floor truncation loses < deg·1e-12 mass
    * per vertex per step — numerically irrelevant, semantically
    * pinned.
    *
    * Scale shape: the symmetrized degree-annotated edge list builds
    * ONCE and is checkpointed serialized (the upstream plan — LSH
    * banding, typically — would otherwise re-execute every
    * iteration); each iteration is one shuffled-hash join of edges
    * against the (node, rank) frame plus one map-side-combined sum —
    * 2 bounded shuffles × k. Symmetrized edges mean every vertex has
    * deg ≥ 1: no dangling-mass redistribution term is needed.
    *
    * @param dampingPct damping factor as an integer percentage
    *                   (85 = the canonical 0.85) so the teleport and
    *                   damping terms stay in integer arithmetic
    */
  def pageRank(pairs: DataFrame, idA: String, idB: String,
               iters: Int, dampingPct: Int = 85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampingPct > 0 && dampingPct < 100,
      s"dampingPct must be in 1..99, got $dampingPct")
    val sym = symmetric(pairs, idA, idB)
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // checkpointed through the iteration runner: the returned frame's
    // lineage reads it, so it lives as long as the caller holds that
    val edges = Iterate.checkpoint(
      sym.join(deg.hint("shuffle_hash"), Seq("src")), CkptLevel)
    val nFrame = edges.select(col("src")).distinct()
      .agg(count(lit(1)).as("n"))
    val teleport = (100 - dampingPct) * FpUnit // < 1e14 — fits long
    var ranks = edges.select(col("src").as("node")).distinct()
      .crossJoin(broadcast(nFrame))
      .select(col("node"), expr(s"${FpUnit}L div n").as("_r"))
    (1 to iters).foreach { _ =>
      val contrib = edges
        .join(ranks.select(col("node").as("src"), col("_r")).hint("shuffle_hash"),
          Seq("src"))
        .select(col("dst").as("node"), expr("_r div deg").as("_c"))
      ranks = contrib.groupBy(col("node"))
        .agg(sum(col("_c")).as("_s")) // Σ_c ≤ total mass ≤ 1e12
        .crossJoin(broadcast(nFrame))
        .select(col("node"),
          expr(s"(${teleport}L div (100L * n)) + (($dampingPct * _s) div 100L)")
            .as("_r"))
    }
    // single exact→IEEE conversion: _r < 2^53, one correctly-rounded
    // division — identical in any engine
    ranks.select(col("node"),
      (col("_r").cast("double") / lit(FpUnit.toDouble)).as("rank"))
  }

  /** Bucket cap for pair lists feeding the triangle CENSUS: an LSH
    * bucket of b docs is a b-clique in the candidate graph, and a
    * clique's census work is CUBIC (C(b,3) triangles materialize
    * before the per-node rollup) — degree-ordering bounds wedge
    * fan-out per node, not the clique's triangle count. A bucket that
    * hot is a degenerate near-dup cluster (crawl boilerplate; or, on
    * the synthetic corpus, a common-shingle minhash draw — r14
    * measured top buckets of 1883/1192/917 docs at 30×, ~1.1e9
    * triangles from the first alone), and production graph mining
    * collapses or drops super-clusters before counting: their
    * structure is already known (they are one near-dup cluster — the
    * dedup path's job), and a census over them is b³ work for zero
    * insight. 300 is far above every correctness-SF bucket (max 116
    * at sf0.1, smaller at sf0.01 — the 1× oracle result is
    * unchanged) and caps one bucket's census contribution at
    * C(300,3) ≈ 4.5M triangles.
    */
  val CensusMaxBucketSize: Int = 300

  /** Per-node triangle statistics over an UNDIRECTED pair list:
    * undirected degree, number of triangles through the node, and the
    * local clustering coefficient `2·tri / (deg·(deg−1))`.
    *
    * The triangle join is DEGREE-ORDERED (Chiba–Nishizeki / Latapy's
    * compact-forward): every undirected edge is oriented from its
    * lower-(deg, id) endpoint to its higher one, wedges are built
    * around the LOW endpoint, and a wedge closes iff its oriented
    * (mid → far) edge exists. Orienting by the (deg, id) total order
    * bounds every node's out-degree by O(√m), so the wedge set — the
    * whole cost of the algorithm — is O(m^{3/2}) REGARDLESS of hub
    * skew; orienting by raw id instead would give a low-id hub of
    * degree d a C(d,2) wedge fan-out. Both joins are hinted
    * shuffle-hash (the oriented edge list is output-sized; 0-byte
    * checkpoint stats would otherwise bait a broadcast).
    *
    * Cross-engine determinism: counts are integers; the coefficient
    * is ONE IEEE division of exactly-representable integers
    * (`2·tri < 2^53`, `deg·(deg−1) < 2^53`) — correctly rounded,
    * identical in any engine. Nodes in no triangle keep their degree
    * row with `tri = 0`, `lcc = 0.0` (deg 1 nodes: denominator 0 →
    * pinned 0.0, not NULL/NaN).
    *
    * Scale shape: one pass builds+checkpoints the oriented edge list
    * (the upstream pair plan — LSH banding — executes ONCE); the
    * wedge self-join and the closing semi-probe are the only
    * shuffles after that. DISK_ONLY checkpoint for the same
    * all-duplicates-corpus OOM reason [[pageRank]] documents.
    */
  def triangleStats(pairs: DataFrame, idA: String, idB: String): DataFrame = {
    // stage 1: the upstream pair plan (LSH banding, typically the
    // expensive part) executes EXACTLY ONCE into a serialized
    // checkpoint — the degree aggregate and the orientation join
    // both read it, and without the cut the band pipeline would run
    // once per consumer
    val sym = Iterate.checkpoint(symmetric(pairs, idA, idB), CkptLevel)
    val deg0 = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    // orient src→dst iff (deg(src), src) < (deg(dst), dst): each
    // undirected edge survives exactly once, pointing "up" the total
    // order. Both endpoint-degree lookups are one shuffled-hash join
    // each against the O(n) degree frame.
    val oriented = Iterate.checkpoint(sym
      .join(deg0.select(col("node").as("src"), col("deg").as("dsrc"))
        .hint("shuffle_hash"), Seq("src"))
      .join(deg0.select(col("node").as("dst"), col("deg").as("ddst"))
        .hint("shuffle_hash"), Seq("dst"))
      .filter(col("dsrc") < col("ddst") ||
        (col("dsrc") === col("ddst") && col("src") < col("dst")))
      .select(col("src").as("lo"), col("dst").as("hi")), CkptLevel)
    // oriented is materialized (eager checkpoint): the symmetric
    // frame has no remaining consumer — undirected degree re-derives
    // from oriented as out+in (each undirected edge appears exactly
    // once) — so its blocks can go now. oriented itself backs the
    // returned frame and lives as long as the caller holds it.
    Iterate.release(sym)
    val deg = oriented
      .select(explode(array(col("lo"), col("hi"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // wedges around the LOW node: (lo→b, lo→c) with b before c in
    // the SAME orientation order — realized as the oriented edge
    // (b→c) existing, so the closing probe needs no degree re-lookup
    val wedges = oriented.select(col("lo"), col("hi").as("mid"))
      .join(oriented.select(col("lo"), col("hi").as("far")).hint("shuffle_hash"),
        Seq("lo"))
      .filter(col("mid") =!= col("far"))
    val triangles = wedges
      .join(oriented.select(col("lo").as("mid"), col("hi").as("far"))
        .hint("shuffle_hash"),
        Seq("mid", "far"), "left_semi")
    val perNode = triangles
      .select(explode(array(col("lo"), col("mid"), col("far"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    deg.join(perNode.hint("shuffle_hash"), Seq("node"), "left_outer")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") < 2, lit(0.0)).otherwise(
          (coalesce(col("tri"), lit(0L)) * 2).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double")).as("lcc"))
  }
}
