package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Checkpoints.LineageCut

/** Graph analytics over the co-order product graph.
  *
  * The reference has no graph operators (its single pipeline is
  * `/root/reference/etl_process.py`); these are north-star extensions a
  * large-scale corpus/feature pipeline needs — affinity mining over
  * co-occurrence graphs is the standard precursor to recommendation
  * features and spam-cluster detection over near-dup graphs.
  *
  * Graph construction: two parts are connected when they appear in the
  * SAME order at least [[MinSupport]] times. The support threshold is
  * the classic defense against co-occurrence blow-up: a single hub
  * order with k items yields C(k,2) pairs, but pairs that never repeat
  * carry no signal and would dominate the edge list (115k raw pairs vs
  * 3.6k support-2 edges at sf0.01). At 100 TB additionally cap per-key
  * fan-out before pairing (drop baskets with k above a percentile) —
  * the pair generator is quadratic in basket size.
  */
object GraphQueries {

  /** Minimum co-occurrence count for an edge to enter the graph. */
  val MinSupport = 2

  /** Hub cap for the Jaccard wedge join: shared-neighbor MIDDLES with
    * degree above this are dropped before pair generation (the wedge
    * fan-out is h·(h−1)/2 in middle degree h — the scale-killer on
    * power-law graphs; hub middles also carry the least similarity
    * signal, exactly the shared-passage df-cap argument). 1024 is far
    * above any support-filtered co-purchase degree at the verified
    * fixtures (max observed < 40), so the registered query's output is
    * IDENTICAL to the exact form there — the oracle keeps the uncapped
    * formulation; the capped path is exercised on a synthetic hub graph
    * in GraphQueriesSpec. On power-law data derive the cap from
    * [[graphDegreeHist]] (e.g. the p99.9 degree). */
  val JaccardMiddleDegreeCap = 1024

  /** PageRank convergence loop: stop when max|Δrank| < [[PrRelTol]]/N
    * (relative to the uniform rank 1/N — scale-free across corpus
    * sizes; 5% of uniform mass) or after [[PrMaxRounds]] rounds. */
  val PrRelTol = 0.05
  val PrMaxRounds = 45

  /** K-core parameters: the k of the peel and the round cap (= the
    * oracle's fixed unroll depth — layers past the true fixpoint are
    * no-ops on both sides). Peeling converges in O(diameter)-ish rounds
    * on support-filtered graphs; the fixtures need < 6. */
  val KCoreK = 3
  val KCoreMaxRounds = 16
  /** Round cap for the SCC reachability closures (graph diameter bound;
    * the sf fixtures converge in ≤ 8). */
  val SccMaxRounds = 32

  /** Row cap under which an iteration-invariant join side (adjacency,
    * residual vertex set) is broadcast inside a convergence loop. The
    * loops track these counts exactly (their fixpoint probes), so the
    * guard is free and exact where plan-stat guards estimate: ≤ 4M rows
    * of 2-3 long columns ≈ 64-96 MB per executor — comfortably inside a
    * production executor's broadcast budget, and the win is structural:
    * a broadcast-hash join has NO shuffle stage, so each loop round
    * drops its AQE stage-materialization barriers (measured: these
    * loops are driver-barrier-bound at every SF, not data-bound). Above
    * the cap the shuffled form runs unchanged at any scale. */
  val IterBroadcastMaxRows = 4 * 1000 * 1000

  /** Why AQE goes off inside loops (round-8, thread-sampled): the
    * convergence loops' wall time
    * sits inside `AdaptiveSparkPlanExec.withFinalPlanUpdate` — AQE
    * materializes every exchange of every tiny round-statement as its
    * own sequential query-stage job, so a 2-shuffle round pays 3-4
    * scheduler barriers instead of 1. AQE's value is re-planning
    * UNKNOWN-sized shuffles; a round plan here is fully known
    * (checkpointed inputs with exact tracked counts, size-guarded
    * broadcasts picked by hand), so adaptivity only adds latency —
    * scoping it off inside the loop is the same call Pregel-style
    * engines make for their supersteps. Queries RETURNED to callers
    * still plan adaptively: the scope only covers loop-internal
    * materializations. */
  /** AQE-off + STATE-SIZED shuffle width: a convergence
    * round's shuffles carry the loop state (frontier/residual/label
    * frames), whose row count the loop tracks exactly — so size the
    * stage to the state (1 partition per ~2M state rows, floor 4)
    * instead of the session width. At fixture scale that turns a
    * 32+32-task round stage (per-task dispatch ≈ 2-3 ms dominates KB
    * of data) into a 4-task one; at 100 TB a billion-row state still
    * gets hundreds of partitions, and anything above the session
    * width keeps the session width. stateRows < 0 skips the resize.
    *
    * Each loop has this one DataFrame implementation at every scale and
    * core count: an RDD-kernel lane for small states gave the same
    * answers on all 11 loop queries but took 76.2 s against 28.2 s in
    * total (sf0.01, local[4], warm), winning only two queries, by under
    * 0.7 s each. */
  private[graft] def withLoopExec[T](s: SparkSession, stateRows: Long)(body: => T): T = {
    val aqeKey = "spark.sql.adaptive.enabled"
    val shKey = "spark.sql.shuffle.partitions"
    // Save-at-entry / restore-at-exit: callers legitimately change these
    // confs (DeterminismSpec's 2-vs-9 partition experiment; a memoized
    // "session original" would clobber them on scope exit). A key that
    // was unset at entry is unset again at exit, so the session keeps
    // following the default. The one concurrent context — Bench's
    // parallel compile pass — can interleave saves and leave a scope's
    // temporary stuck; Bench re-pins both confs after that pass,
    // bounding the race to the sf0.001 warmup where neither flag
    // affects anything measured.
    val entry = s.conf.getAll
    val width = s.conf.get(shKey).toLong
    s.conf.set(aqeKey, "false")
    if (stateRows >= 0) {
      val sized = math.max(4L, stateRows / (2L * 1000 * 1000))
      s.conf.set(shKey, math.min(width, sized).toString)
    }
    try body finally Seq(aqeKey, shKey).foreach { k =>
      entry.get(k).fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }

  /** BFS frontier-exhaustion cap — also the unroll depth of the layered
    * DuckDB oracle, so engine and oracle label EXACTLY the same depth
    * range by construction (depths beyond it are `-1` on both sides).
    * Verified fixture eccentricity from the seed set is 10 (sf0.1). */
  val BfsMaxDepth = 16

  /** Canonical (u < v) support-filtered edge list, persisted for the
    * round of self-joins that consumes it (triangle closure reads it
    * three times; recomputing means re-running the quadratic pair
    * generator per read).
    *
    * Pair generation is basket-local: ONE exchange groups line items
    * into their order's basket, and the i<j pair expansion runs inside
    * the partition (sorted array + nested transform, equal values
    * skipped to match the strict `<`) — vs the textbook self-join form
    * (li ⋈ li on orderkey), which scans the fact table twice and pays
    * two join exchanges before the same aggregation. Identical pair
    * multiset (the DuckDB oracles keep the self-join formulation — a
    * different construction that must agree). Basket width is bounded
    * (TPC-H ≤ 7 items); on a power-law dataset cap the basket before
    * expanding — the explode is quadratic in basket size. */
  private def supportEdges(s: SparkSession, d: String): DataFrame =
    PipelineCache.getOrPersist(s"graph_support_edges:$d") {
      val basket = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .groupBy("o").agg(sort_array(collect_list(col("p"))).as("ps"))
      basket
        .select(explode(expr(
          """flatten(transform(ps, (x, i) ->
            |  filter(transform(slice(ps, i + 2, size(ps)),
            |                   y -> struct(x AS u, y AS v)),
            |         s -> s.v > s.u)))""".stripMargin)).as("e"))
        .select(col("e.u"), col("e.v"))
        .groupBy("u", "v").agg(count(lit(1)).as("w"))
        .filter(col("w") >= MinSupport)
        .select("u", "v")
    }

  /** Symmetric (src, dst) adjacency over [[supportEdges]], persisted:
    * every graph query derives degrees/wedges/frontiers from this one
    * materialization instead of re-deriving (and under AQE racing) the
    * basket expansion per branch. */
  private def supportDir(s: SparkSession, d: String): DataFrame =
    PipelineCache.getOrPersist(s"graph_dir_edges:$d") {
      val edges = supportEdges(s, d)
      edges.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
    }

  /** Distinct vertex set of the support graph, persisted (shared by the
    * BFS variants and the PageRank loop's size/seed computations). */
  private def supportVerts(s: SparkSession, d: String): DataFrame =
    PipelineCache.getOrPersist(s"graph_verts:$d")(
      supportDir(s, d).select(col("src").as("x")).distinct())

  /** Triangle participation counts — top-20 parts by the number of
    * co-purchase triangles they close.
    *
    * Algorithm: degree-ordered triangle enumeration. Each undirected
    * edge is oriented from the lower-(degree, id) endpoint to the
    * higher; wedges are enumerated only at each triangle's LOWEST-rank
    * vertex and closed with one join on the oriented (b, c) edge. The
    * orientation bounds every vertex's wedge fan-out by its oriented
    * out-degree ≤ O(√m), giving the standard O(m^1.5) wedge total —
    * WITHOUT it a single hub vertex of degree h enumerates h²/2 wedges,
    * which is the scale-killer on power-law graphs. Every triangle is
    * produced exactly once (its vertices are totally ordered by rank).
    *
    * The DuckDB oracle enumerates with the simpler id-order (a<b<c)
    * orientation — a different traversal of the SAME triangle set, so
    * the per-vertex counts agree exactly.
    */
  def graphTriangleCount(s: SparkSession, d: String): DataFrame = {
    val (_, perVertex) = trianglePerVertex(s, d)
    perVertex.select(col("x").as("l_partkey"), col("n_tri"))
      .orderBy(col("n_tri").desc, col("l_partkey"))
      .limit(20)
  }

  /** Shared degree frame + PER-VERTEX TRIANGLE COUNTS for the triangle/
    * clustering family (r8 advice: three queries carried the ~25-line
    * orientation/wedge/close construction verbatim). The algorithm and
    * its O(m^1.5) wedge bound are documented at [[graphTriangleCount]];
    * both the oriented edge list and the closed-wedge per-vertex rollup
    * persist via [[PipelineCache]], so the wedge-closing join is paid
    * ONCE per session across [[graphTriangleCount]],
    * [[graphClusteringCoeff]] and [[graphLocalClusteringTopk]]. */
  private def trianglePerVertex(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val edges = supportEdges(s, d)
    val deg = edges.select(col("u").as("x"))
      .unionAll(edges.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("deg"))
    val perVertex = PipelineCache.getOrPersist(s"graph_tri_pervertex:$d") {
      val withDeg = edges
        .join(deg.select(col("x").as("u"), col("deg").as("udeg")), Seq("u"))
        .join(deg.select(col("x").as("v"), col("deg").as("vdeg")), Seq("v"))
      val uFirst = col("udeg") < col("vdeg") ||
        (col("udeg") === col("vdeg") && col("u") < col("v"))
      val oriented = PipelineCache.getOrPersist(s"graph_oriented_edges:$d") {
        withDeg.select(
          when(uFirst, col("u")).otherwise(col("v")).as("src"),
          when(uFirst, col("v")).otherwise(col("u")).as("dst"),
          when(uFirst, col("vdeg")).otherwise(col("udeg")).as("ddeg"))
      }
      val o1 = oriented.select(col("src"), col("dst").as("b"), col("ddeg").as("bdeg"))
      val o2 = oriented.select(col("src"), col("dst").as("c"), col("ddeg").as("cdeg"))
      val wedges = o1.join(o2, Seq("src"))
        .filter(col("bdeg") < col("cdeg") ||
          (col("bdeg") === col("cdeg") && col("b") < col("c")))
      val closing = oriented.select(col("src").as("b"), col("dst").as("c"))
      wedges.join(closing, Seq("b", "c"))
        .select(explode(array(col("src"), col("b"), col("c"))).as("x"))
        .groupBy("x").agg(count(lit(1)).as("n_tri"))
    }
    (deg, perVertex)
  }

  /** One damped PageRank power-iteration over the co-purchase graph
    * (d = 0.85, uniform 1/N start): rank(v) = 0.15/N + 0.85·Σ over
    * in-neighbors u of rank(u)/outdeg(u). The undirected support graph
    * has no dangling vertices (every vertex owns an edge), so no
    * dangling-mass correction term is needed.
    *
    * Posture: one shuffle for out-degrees, one shuffle of contributions
    * on dst; N arrives as a broadcast single-row frame (no driver-side
    * scalar read). Full PageRank is this plan iterated —
    * [[graphPagerankConverged]].
    *
    * The contribution sum is the PRODUCTION form: a plain
    * partial-aggregated `sum` (map-side combine, constant-width rows —
    * a hub vertex costs nothing extra). Cross-engine float agreement is
    * handled by rounding the final score to 12 decimals on both sides:
    * the sum-order drift between engines is ~1e−16 relative while the
    * rounding granularity is 5e−13 — verified at all three fixture
    * scales. The bit-stable ordered-fold formulation (in-neighbor lists
    * collected and folded in id order — hub-wide rows, NOT a 100 TB
    * plan) survives as [[graphPagerankIterFold]] purely as the
    * differential-spec bridge. */
  def graphPagerankIter(s: SparkSession, d: String): DataFrame = {
    val dir = supportDir(s, d)
    val outdeg = dir.groupBy("src").agg(count(lit(1)).as("deg"))
    val nV = outdeg.agg(count(lit(1)).as("n_vertices"))
    dir.join(outdeg, "src")
      .crossJoin(broadcast(nV))
      .select(col("dst"), col("n_vertices"),
        (lit(1.0) / col("n_vertices") / col("deg")).as("c"))
      .groupBy("dst", "n_vertices")
      .agg(count(lit(1)).as("deg"), sum(col("c")).as("sc"))
      .select(col("dst").as("l_partkey"), col("deg"),
        round(lit(0.15) / col("n_vertices") + lit(0.85) * col("sc"), 12)
          .as("pr"))
      .orderBy("l_partkey")
  }

  /** Ordered-fold (bit-stable) formulation of [[graphPagerankIter]],
    * UNREGISTERED: collect_list materializes per-vertex in-neighbor
    * lists, which a hub makes arbitrarily wide — kept only as the
    * deterministic reference the differential spec compares the
    * production `sum` against (agreement within ulps). */
  private[graft] def graphPagerankIterFold(s: SparkSession, d: String): DataFrame = {
    val dir = supportDir(s, d)
    val outdeg = dir.groupBy("src").agg(count(lit(1)).as("deg"))
    val nV = outdeg.agg(count(lit(1)).as("n_vertices"))
    dir.join(outdeg, "src")
      .crossJoin(broadcast(nV))
      .select(col("dst"), col("src"), col("n_vertices"),
        (lit(1.0) / col("n_vertices") / col("deg")).as("c"))
      .groupBy("dst", "n_vertices")
      .agg(count(lit(1)).as("deg"),
        collect_list(struct(col("src"), col("c"))).as("cs"))
      .select(col("dst").as("l_partkey"), col("deg"),
        (lit(0.15) / col("n_vertices") +
          lit(0.85) * aggregate(array_sort(col("cs")), lit(0.0),
            (acc, x) => acc + x.getField("c"))).as("pr"))
      .orderBy("l_partkey")
  }

  /** PageRank iterated TO CONVERGENCE (damping 0.85, degree-proportional
    * warm start — see [[pagerankConvergedOnAdjacency]]):
    * loop the one-step plan until max|Δrank| < relTol/N or the round
    * cap trips (loud stderr warning, the CC-loop discipline). Output:
    * (l_partkey, pr rounded to 9 decimals, n_rounds actually run).
    *
    * Loop mechanics — the hard-won iterative-DataFrame rules from the
    * CC/BFS loops apply verbatim:
    *   - every round's result is lineage-cut ([[Checkpoints]]): each
    *     round references its predecessor twice (contribution join +
    *     delta join), so without lineage truncation the plan doubles
    *     per round and the basket pair generator re-executes per
    *     occurrence (measured 248 s → ~4 s on the BFS loop).
    *     Production multi-executor runs set the checkpoint-dir gate
    *     and every cut becomes a reliable `checkpoint()` (r13 #4).
    *   - the convergence test reads ONE scalar (max|Δ|) per round on
    *     the driver — loop control, not data movement.
    *   - per-round work is one contribution shuffle (partial-aggregated
    *     `sum` keyed on dst) + one join with the previous ranks; the
    *     adjacency-with-degree frame is persisted once. Rank rows are
    *     constant-width — no per-vertex lists anywhere.
    *
    * The DuckDB oracle is a recursive CTE implementing the IDENTICAL
    * dynamic stopping rule (DuckDB evaluates the recursive term against
    * the previous iteration's working table, so `max(delta)` gates each
    * round exactly like the driver-side check); both sides round to 9
    * decimals — the cross-engine drift after ~30 contraction-mapping
    * rounds is ~1e−15, six orders under the rounding granularity.
    * Convergence at the fixtures with the warm start: 9 rounds at
    * sf0.01 and 17 at sf0.1 (vs 27/39 from uniform), all well under
    * the cap; the early-exit and cap paths are additionally
    * spec-exercised on synthetic graphs. */
  def graphPagerankConverged(s: SparkSession, d: String): DataFrame = {
    val adj = PipelineCache.getOrPersist(s"graph_adj_deg:$d") {
      val dir = supportDir(s, d)
      dir.join(dir.groupBy("src").agg(count(lit(1)).as("deg")), "src")
    }
    val ranks = pagerankConvergedOnAdjacency(adj, supportVerts(s, d), PrRelTol, PrMaxRounds)
    PipelineCache.register(s"graph_pagerank_ranks:$d", ranks)
    ranks.select(col("x").as("l_partkey"), col("pr"), col("n_rounds"))
      .orderBy("l_partkey")
  }

  /** Core convergence loop over an explicit adjacency — factored out so
    * the spec can drive it with synthetic graphs (uniform graph → early
    * exit round 1; tiny cap → cap-trip warning). Each round's ranks are
    * released once the next round has materialized; the returned frame
    * reads the last round's, which the caller registers with
    * [[PipelineCache]] (or leaves to the garbage collector).
    *
    * @param adj   symmetric adjacency with out-degree: (src, dst, deg)
    * @param verts distinct vertex frame: (x)
    */
  private[graft] def pagerankConvergedOnAdjacency(adj: DataFrame,
      verts: DataFrame, relTol: Double, maxRounds: Int): DataFrame = {
    // base snapshot — per-round plans reference adj dozens of times
    // across the loop; a LogicalRDD keeps each round's analysis cost
    // independent of the adjacency's own (windowed-scan) plan size —
    // plus the guarded broadcast (see IterBroadcastMaxRows)
    val adjC = adj.cutLineage()
    val nAdj = adjC.count()
    val n = verts.count()
    val adjS = if (nAdj <= IterBroadcastMaxRows) broadcast(adjC) else adjC
    withLoopExec(s = adjC.sparkSession, stateRows = math.max(n, nAdj)) {
    val tol = relTol / n
    // Warm start from the DEGREE-PROPORTIONAL distribution: for an
    // undirected graph the undamped random walk's stationary vector IS
    // deg/2m, so with damping 0.85 the start already sits near the
    // unique fixed point and the contraction (factor 0.85/round) needs
    // far fewer rounds than from uniform (measured at sf0.1: 39 → 17).
    // The fixed point is start-independent, so the converged ranks are
    // unchanged; the oracle CTE seeds identically. Isolated vertices
    // (possible only in spec-synthetic graphs) start at their exact
    // fixed point 0.15/n. degSum is exact integer → the division is
    // bit-identical cross-engine.
    val degs = adjS.select(col("src").as("x"), col("deg")).distinct()
    val degSum = degs.agg(sum("deg")).head.getLong(0).toDouble
    var ranks = verts.join(degs, Seq("x"), "left_outer")
      .select(col("x"),
        coalesce(col("deg").cast("double") / lit(degSum), lit(0.15 / n)).as("pr"))
      .cutLineage()
    var rounds = 0
    var delta = Double.MaxValue
    while (delta >= tol && rounds < maxRounds) {
      rounds += 1
      val sums = ranks.join(adjS, col("x") === col("src"))
        .select(col("dst"), (col("pr") / col("deg")).as("c"))
        .groupBy("dst").agg(sum("c").as("sc"))
      val next = ranks.select(col("x"), col("pr").as("prev"))
        .join(sums.select(col("dst").as("x"), col("sc")), Seq("x"), "left_outer")
        .select(col("x"),
          (lit(0.15 / n) + lit(0.85) * coalesce(col("sc"), lit(0.0))).as("pr"),
          col("prev"))
        // lazy: the delta agg below is the materializing action — one
        // driver barrier per round instead of two (see sccLabels note)
        .cutLineage(eager = false)
      delta = next.agg(max(abs(col("pr") - col("prev")))).head.getDouble(0)
      ranks.releaseCut()
      ranks = next.select("x", "pr")
    }
    adjC.releaseCut()
    if (delta >= tol)
      // scale-debug visibility, the ccConverged discipline: a silent cap
      // would report a non-converged ranking as final
      System.err.println(s"[graft] pagerank: round cap $maxRounds reached " +
        s"before convergence (max delta $delta >= tol $tol)")
    ranks.select(col("x"), round(col("pr"), 9).as("pr"),
      lit(rounds).as("n_rounds"))
    }
  }

  /** Degree DISTRIBUTION of the co-purchase graph — the first health
    * metric a graph pipeline reads (hub detection, power-law check,
    * and the input to the skew defenses the triangle/pagerank queries
    * deploy). Two partial-aggregated shuffles over the shared
    * support-edge base: vertex degrees, then the degree histogram. */
  def graphDegreeHist(s: SparkSession, d: String): DataFrame =
    supportDir(s, d)
      .groupBy(col("src").as("x")).agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n_vertices"))
      .orderBy("deg")

  /** LOCAL CLUSTERING COEFFICIENT by degree class — for each vertex,
    * the fraction of its neighbor pairs that are themselves connected
    * (2·triangles / deg·(deg−1)), averaged over every vertex of the
    * same degree. The curve a graph owner reads next to the degree
    * histogram: real co-occurrence graphs show falling coefficient with
    * degree (hubs bridge communities); a flat-high curve means cliquey
    * duplication, flat-low means noise.
    *
    * Determinism: triangle counts and degrees are exact integers, and
    * because the degree is CONSTANT within each output group the group
    * mean collapses to 2·ΣT / (deg·(deg−1)·n) — one double division per
    * row, no order-sensitive double sum anywhere (round 9).
    *
    * Scale posture: reuses the degree-oriented triangle enumeration
    * (O(m^1.5) wedge bound, see [[graphTriangleCount]]) and the shared
    * persisted adjacency; adds one left join and a rollup over the
    * degree domain. The DuckDB oracle enumerates triangles with the
    * simpler id-order orientation — a different traversal of the same
    * triangle set that must agree exactly. */
  def graphClusteringCoeff(s: SparkSession, d: String): DataFrame = {
    val (deg, perVertex) = trianglePerVertex(s, d)
    deg.filter(col("deg") >= 2)
      .join(perVertex, Seq("x"), "left")
      .select(col("deg"), coalesce(col("n_tri"), lit(0L)).as("t"))
      .groupBy("deg")
      .agg(count(lit(1)).as("n_vertices"), sum(col("t")).as("sum_triangles"))
      .select(col("deg"), col("n_vertices"), col("sum_triangles"),
        round(lit(2.0) * col("sum_triangles").cast("double") /
          (col("deg") * (col("deg") - 1L) * col("n_vertices")).cast("double"),
          9).as("avg_clustering"))
      .orderBy("deg")
  }

  /** TOP-20 VERTICES BY LOCAL CLUSTERING COEFFICIENT — the per-vertex
    * view behind [[graphClusteringCoeff]]'s per-degree curve:
    * c(v) = 2·t(v)/(deg(v)·(deg(v)−1)) for deg ≥ 2, ranked
    * (c DESC, part ASC). These are the tightest ego-neighborhoods —
    * the "always bought as a clique" parts a bundling review reads
    * first. Reuses the persisted degree-ordered orientation, so the
    * O(m^1.5) wedge enumeration is paid once across both queries.
    *
    * Determinism: triangle counts and degrees are integers; c is ONE
    * division, round 9; rank ties break on the vertex id.
    *
    * Scale posture: identical to the shared triangle base —
    * orientation bounds wedge fan-out by the max LOW-degree, hubs
    * never enumerate their own neighborhoods. */
  def graphLocalClusteringTopk(s: SparkSession, d: String): DataFrame = {
    val (deg, perVertex) = trianglePerVertex(s, d)
    deg.filter(col("deg") >= 2)
      .join(perVertex, Seq("x"), "left")
      .select(col("x").as("part"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"))
      .withColumn("local_cc",
        round(lit(2.0) * col("n_triangles").cast("double") /
          (col("deg") * (col("deg") - 1L)).cast("double"), 9))
      .orderBy(col("local_cc").desc, col("part"))
      .limit(20)
  }

  /** Multi-source BFS reachability profile — depth-of-reach histogram
    * from a deterministic seed set (every 20th part id), 3 rounds deep:
    * how much of the co-purchase graph is within k hops of the seeds,
    * plus the unreachable remainder (depth −1). The fleet-health shape
    * behind "is the graph one giant component or many islands?" that a
    * label-propagation consumer asks before paying for full CC.
    *
    * Algorithm: min-depth propagation — each round joins the previous
    * FRONTIER (exactly the vertices first labeled last round) to the
    * adjacency and folds with `min(depth)`, so a vertex keeps the round
    * number of its FIRST discovery (textbook layered BFS, expressed
    * relationally).
    *
    * Each round's result is `localCheckpoint`ed — load-bearing, exactly
    * as in [[DedupQueries.ccConvergedWithStats]]: every round references
    * its predecessor TWICE (frontier filter + union branch), so without
    * lineage truncation the plan doubles per round and the adjacency's
    * quadratic pair generator is re-planned and RE-EXECUTED at every
    * occurrence (measured at sf0.1: 248 s untruncated vs ~1 s
    * truncated — the recompute, not the BFS, was the cost). Production
    * multi-executor runs swap in reliable `checkpoint()`.
    *
    * Scale posture: each round shuffles only the frontier×adjacency join
    * (partial-aggregated min), never the full depth map re-keyed; the
    * final histogram is two tiny rollups. The oracle reaches the same
    * layers by set algebra (neighbors EXCEPT already-seen) — a different
    * construction that must agree exactly. */
  def graphBfsReach(s: SparkSession, d: String): DataFrame = {
    val dir = supportDir(s, d)
    val verts = supportVerts(s, d)
    var depth = verts.filter(col("x") % 20 === 0)
      .select(col("x"), lit(0).as("depth"))
      .cutLineage()
    for (r <- 1 to 3) {
      val frontier = depth.filter(col("depth") === r - 1)
      val nbrs = frontier.join(dir, col("x") === col("src"))
        .select(col("dst").as("x"), lit(r).as("depth"))
      depth = depth.union(nbrs).groupBy("x").agg(min("depth").as("depth"))
        .cutLineage()
    }
    verts.join(depth, Seq("x"), "left_outer")
      .select(coalesce(col("depth"), lit(-1)).as("depth"))
      .groupBy("depth").agg(count(lit(1)).as("n_vertices"))
      .orderBy("depth")
  }

  /** [[graphBfsReach]] run to FRONTIER EXHAUSTION — the converged form:
    * loop while the last round discovered at least one new vertex, cap
    * [[BfsMaxDepth]] (loud warning if tripped). The convergence test
    * reads one scalar (new-frontier count) per round; everything else
    * is identical to the 3-round profile, per-round `localCheckpoint`
    * included. The cap doubles as the oracle's unroll depth, so both
    * sides label exactly depths 0..[[BfsMaxDepth]] and leave anything
    * deeper at −1 — semantics aligned by construction, with the
    * fixture eccentricity (10 at sf0.1) comfortably inside. */
  def graphBfsConverged(s: SparkSession, d: String): DataFrame = {
    // base snapshot — see sccLabels: keeps per-round plan analysis
    // independent of the adjacency's own plan size
    val dirS = supportDir(s, d).cutLineage()
    // guarded broadcast (see IterBroadcastMaxRows): count on the
    // checkpointed blocks is one cheap job, paid once per query
    val nDir = dirS.count()
    val verts = supportVerts(s, d)
    val dir = if (nDir <= IterBroadcastMaxRows) broadcast(dirS) else dirS
    withLoopExec(s, stateRows = nDir) {
    var depth = verts.filter(col("x") % 20 === 0)
      .select(col("x"), lit(0).as("depth"))
      .cutLineage(eager = false)
    var newly = depth.count()
    var r = 0
    while (newly > 0 && r < BfsMaxDepth) {
      r += 1
      val frontier = depth.filter(col("depth") === r - 1)
      val nbrs = frontier.join(dir, col("x") === col("src"))
        .select(col("dst").as("x"), lit(r).as("depth"))
      // lazy: the frontier-count probe below materializes this round's
      // blocks — one driver barrier per round instead of two
      val next = depth.union(nbrs).groupBy("x").agg(min("depth").as("depth"))
        .cutLineage(eager = false)
      newly = next.filter(col("depth") === r).count()
      depth.releaseCut()
      depth = next
    }
    if (newly > 0)
      System.err.println(s"[graft] bfs: depth cap $BfsMaxDepth reached with " +
        s"a non-empty frontier ($newly vertices) — deeper layers report -1")
    dirS.releaseCut()
    PipelineCache.register(s"graph_bfs_depth:$d", depth)
    verts.join(depth, Seq("x"), "left_outer")
      .select(coalesce(col("depth"), lit(-1)).as("depth"))
      .groupBy("depth").agg(count(lit(1)).as("n_vertices"))
      .orderBy("depth")
    }
  }

  /** K-core decomposition (k = [[KCoreK]]) by iterative peeling: drop
    * every vertex whose degree WITHIN THE SURVIVING SUBGRAPH is < k,
    * recompute degrees, repeat to fixpoint — the standard dense-region
    * extractor (community seeds, spam-farm detection, the "is this
    * cluster load-bearing" filter over the co-purchase graph). Output:
    * every 3-core vertex with its within-core degree + rounds to
    * converge.
    *
    * Loop mechanics — the CC/BFS/PageRank discipline verbatim:
    * per-round `localCheckpoint` (each round references its predecessor
    * twice — the src- and dst-side semi filters), one driver scalar
    * (surviving count) per round for convergence, cap
    * [[KCoreMaxRounds]] with a loud warning. Since each round's
    * survivor set is a subset of the previous one, count equality IS
    * set equality — the cheapest possible fixpoint test.
    *
    * Scale posture: per round, two semi-join filters of the adjacency
    * against the (shrinking) survivor set + one partial-aggregated
    * degree count — all keyed shuffles, no pair blowup anywhere; the
    * survivor set only shrinks, so rounds get cheaper. The oracle peels
    * the same layers by fixed unroll (MATERIALIZED, the BFS lesson) and
    * derives n_rounds as the first round whose survivor count repeats. */
  def graphKcore(s: SparkSession, d: String): DataFrame = {
    // base snapshot — see sccLabels
    val dir = supportDir(s, d).cutLineage()
    var active = supportVerts(s, d).cutLineage(eager = false)
    var nActive = active.count()
    withLoopExec(s, stateRows = nActive) {
    var rounds = 0
    var converged = false
    while (!converged && rounds < KCoreMaxRounds) {
      rounds += 1
      // lazy: the survivor count is the materializing action — one
      // driver barrier per peel round instead of two
      val keep = dir
        .join(active.select(col("x").as("src")), "src")
        .join(active.select(col("x").as("dst")), "dst")
        .groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= KCoreK)
        .select(col("src").as("x"))
        .cutLineage(eager = false)
      val n = keep.count()
      converged = n == nActive
      nActive = n
      active.releaseCut()
      active = keep
    }
    if (!converged)
      System.err.println(s"[graft] kcore: round cap $KCoreMaxRounds reached " +
        s"before fixpoint ($nActive vertices still active)")
    PipelineCache.register(s"graph_kcore_edges:$d", dir)
    PipelineCache.register(s"graph_kcore_core:$d", active)
    dir
      .join(active.select(col("x").as("src")), "src")
      .join(active.select(col("x").as("dst")), "dst")
      .groupBy(col("src").as("l_partkey")).agg(count(lit(1)).as("core_deg"))
      .select(col("l_partkey"), col("core_deg"), lit(rounds).as("n_rounds"))
      .orderBy("l_partkey")
    }
  }

  /** Common-neighbor Jaccard similarity — the classic link-prediction /
    * node-similarity score: for every co-purchase pair sharing at least
    * one neighbor, |N(u)∩N(v)| / |N(u)∪N(v)|, top-20. Two shuffles over
    * the shared edge base: the wedge self-join on the shared neighbor
    * (partial-aggregated pair counts) and the degree rollup; the union
    * size is degree arithmetic, not a second set operation.
    *
    * Scale hazard — the wedge join is quadratic in hub degree: a shared
    * neighbor of degree h emits h·(h−1)/2 pairs. Defense (APPLIED, not
    * just documented): middles with degree > [[JaccardMiddleDegreeCap]]
    * are dropped before the wedge join — hub middles dominate cost and
    * carry the least similarity signal (the shared-passage df-cap
    * argument; Jaccard weights every common neighbor equally, so the
    * highest-degree middles are the natural sacrifice). The cap is a
    * no-op on the support-filtered fixtures (max degree < 40 ≪ 1024) —
    * the registered output equals the exact form and the oracle keeps
    * the uncapped formulation; the cap path is spec-exercised on a
    * synthetic hub graph. Full degrees (du, dv) are computed BEFORE the
    * cap, so reported degrees stay exact. */
  def graphJaccardNeighbors(s: SparkSession, d: String): DataFrame =
    jaccardOnAdjacency(supportDir(s, d), JaccardMiddleDegreeCap)

  /** Core wedge-join Jaccard over an explicit symmetric adjacency —
    * factored so the spec can drive the middle-degree cap with a
    * synthetic hub graph. */
  private[graft] def jaccardOnAdjacency(dir: DataFrame,
      middleCap: Int): DataFrame = {
    val deg = dir.groupBy("src").agg(count(lit(1)).as("deg"))
    // semi-filter the wedge base to capped middles: (src, dst) edges
    // whose DST (the shared-neighbor position in the self-join) is a
    // sub-hub vertex. One extra shuffle of the small degree frame; the
    // wedge join needed the dst partitioning anyway.
    val okMiddles = deg.filter(col("deg") <= middleCap)
      .select(col("src").as("dst"))
    val wedgeBase = dir.join(okMiddles, "dst")
    val common = wedgeBase.as("a").join(wedgeBase.as("b"),
        col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("u"), col("b.src").as("v"))
      .agg(count(lit(1)).as("common"))
    common
      .join(deg.select(col("src").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("src").as("v"), col("deg").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("common"), col("du"), col("dv"),
        (col("common").cast("double") /
          (col("du") + col("dv") - col("common")).cast("double")).as("jaccard"))
      .orderBy(col("jaccard").desc, col("u"), col("v"))
      .limit(20)
  }

  /** LABEL PROPAGATION communities (2 synchronous rounds) — the
    * near-linear community detector (Raghavan et al. '07) that answers
    * a DIFFERENT question than [[DedupQueries]]' connected components:
    * CC finds "reachable at all", LPA finds "densely attached" — a
    * vertex adopts the label that the MOST neighbors hold (ties → the
    * smallest label, making the sync update fully deterministic, which
    * asynchronous LPA famously is not). Two rounds are registered —
    * enough for dense cores to collapse while staying an unrollable
    * oracle; production iterates the same `step` under the CC loop
    * discipline (localCheckpoint + cap) to convergence.
    *
    * Scale posture: each round is one adjacency join shuffling
    * (vertex, label) pairs plus two partial-aggregated groupBys — the
    * same per-round cost envelope as the PageRank loop, O(m) rows per
    * round, never materializing neighbor LISTS (the count→argmin fold
    * keeps rows constant-width; `min(struct(-cnt, lbl))` is the
    * max-count-min-label rule as a single partial-aggregable min). */
  /** The 2-round sync-LPA labeling, persisted: shared by the declared
    * LPA query and [[graphModularity]]'s quality audit of it. */
  private def lpaLabels2(s: SparkSession, d: String): DataFrame =
    PipelineCache.getOrPersist(s"graph_lpa2:$d") {
      val dir = supportDir(s, d)
      def step(lbl: DataFrame): DataFrame =
        dir.join(lbl.select(col("x").as("dst"), col("lbl")), "dst")
          .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("cnt"))
          .groupBy("src")
          .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("m"))
          .select(col("src").as("x"), col("m.l").as("lbl"))
      val init = supportVerts(s, d).select(col("x"), col("x").as("lbl"))
      step(step(init))
    }

  def graphLabelPropagation(s: SparkSession, d: String): DataFrame =
    lpaLabels2(s, d)
      .select(col("x").as("l_partkey"), col("lbl").as("community"))
      .orderBy("l_partkey")

  /** NEWMAN MODULARITY of the 2-round LPA communities — the quality
    * number for a community structure: Q = intra/m − Σ_c d_c²/(4m²),
    * the intra-community edge fraction minus what a degree-preserving
    * random rewire would give. Q near 0 means the "communities" are
    * noise; this is the acceptance gate a clustering step needs before
    * anything downstream trusts its labels (the graph sibling of
    * [[SimilarityQueries]]' silhouette).
    *
    * Determinism: the collapsed form needs NO per-community fold —
    * Σe_c (intra edges) and Σd_c² are plain BIGINT sums, so Q is one
    * fixed double tree with two divisions; round 9.
    *
    * Scale posture: two broadcast-or-shuffle equi-joins of the edge
    * list against the constant-width label frame + one keyed degree
    * rollup; nothing wider than the adjacency itself, and no
    * unbounded collect (the naive per-community Σ formulation would
    * need one — the algebraic collapse is the scale fix). */
  def graphModularity(s: SparkSession, d: String): DataFrame = {
    val dir = supportDir(s, d)
    val labels = lpaLabels2(s, d)
    val edges = dir.filter(col("src") < col("dst"))
    val lu = labels.select(col("x").as("src"), col("lbl").as("lu"))
    val lv = labels.select(col("x").as("dst"), col("lbl").as("lv"))
    val eAgg = edges.join(lu, Seq("src")).join(lv, Seq("dst"))
      .agg(count(lit(1)).as("m"),
        sum(when(col("lu") === col("lv"), 1L).otherwise(0L)).as("intra"))
    val degSum = dir.groupBy("src").agg(count(lit(1)).as("deg"))
      .join(labels.select(col("x").as("src"), col("lbl")), Seq("src"))
      .groupBy("lbl").agg(sum(col("deg")).as("dc"))
    val cAgg = degSum.agg(count(lit(1)).as("n_communities"),
      sum(col("dc") * col("dc")).as("sd2"))
    val md = col("m").cast("double")
    eAgg.crossJoin(broadcast(cAgg))
      .select(col("m").as("n_edges"), col("intra").as("intra_edges"),
        col("n_communities"),
        round(col("intra").cast("double") / md -
          col("sd2").cast("double") / (lit(4.0) * md * md), 9)
          .as("modularity"))
  }

  /** LPA round cap — also the oracle's fixed unroll depth, the
    * kcore/BFS alignment trick: layers past the true fixpoint are
    * no-ops on both sides (the sync step is deterministic, so
    * L_i == L_{i-1} implies every later layer is identical), and if the
    * cap trips before convergence both sides still output exactly layer
    * [[LpaMaxRounds]]. Sync LPA is NOT monotone (it can 2-cycle on
    * bipartite-ish structure), so unlike kcore the fixpoint test must
    * compare LABELINGS, not sizes; with the self-vote damping the
    * verified fixtures converge in ≤ 5 rounds (sf0.1: 5). */
  val LpaMaxRounds = 12

  /** LABEL PROPAGATION to CONVERGENCE — [[graphLabelPropagation]]'s
    * step iterated under the CC/PageRank/k-core loop discipline until
    * no vertex changes label: per-round `localCheckpoint` (lineage
    * truncation), ONE driver scalar per round (the changed-vertex
    * count — a keyed join of two constant-width label frames, not a
    * collect), round cap with a loud warning. Output adds `n_rounds` =
    * the first round whose labeling repeated, so the convergence claim
    * is itself oracle-checked.
    *
    * The vote includes the vertex's OWN current label once (self-vote
    * inertia): pure synchronous LPA famously 2-cycles — measured here,
    * 1,587 of 1,892 labels still flipping at round 12 on the sf0.01
    * co-purchase graph — while the self-vote damps the bipartite flip
    * (a vertex abandons its label only when some neighbor label
    * OUTVOTES it under the (−cnt, lbl) order) and the same fixture then
    * fixpoints in a handful of rounds. Deterministic, unlike the
    * asynchronous remedy in Raghavan et al. '07.
    *
    * Scale posture: identical per-round envelope to the fixed-round
    * form — one adjacency join shuffling (vertex, label) pairs + two
    * partial-aggregated groupBys + one label-compare join; rows per
    * round are O(m), never neighbor lists. The changed-count test adds
    * one exchange of the two O(n) label frames per round — the same
    * cost class as pagerank's max|Δ| scalar. */
  def graphLpaConverged(s: SparkSession, d: String): DataFrame = {
    val labels = lpaConvergedOnAdjacency(supportDir(s, d), supportVerts(s, d),
      LpaMaxRounds)
    PipelineCache.register(s"graph_lpa_labels:$d", labels)
    labels.select(col("x").as("l_partkey"), col("lbl").as("community"),
        col("n_rounds"))
      .orderBy("l_partkey")
  }

  /** Core self-vote LPA loop over an explicit symmetric adjacency —
    * factored so the spec can drive it with synthetic graphs (a
    * bipartite flip-prone 4-cycle; two cliques joined by a bridge).
    * Each round's labels are released once the next round has
    * materialized; the returned frame reads the last round's, which the
    * caller registers with [[PipelineCache]] (or leaves to the garbage
    * collector). */
  private[graft] def lpaConvergedOnAdjacency(dir: DataFrame,
      verts: DataFrame, maxRounds: Int): DataFrame = {
    // base snapshot — see sccLabels
    val dirS = dir.cutLineage()
    val nDir = dirS.count()
    val sess = dirS.sparkSession
    withLoopExec(sess, stateRows = nDir) {
    def step(lbl: DataFrame): DataFrame =
      dirS.join(lbl.select(col("x").as("dst"), col("lbl")), "dst")
        .select(col("src"), col("lbl"))
        .unionAll(lbl.select(col("x").as("src"), col("lbl")))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy("src")
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("src").as("x"), col("m.l").as("lbl"))
    var cur = verts.select(col("x"), col("x").as("lbl")).cutLineage()
    var rounds = 0
    var changed = Long.MaxValue
    while (changed > 0 && rounds < maxRounds) {
      rounds += 1
      // lazy: the changed-label probe below materializes this round's
      // blocks — one driver barrier per round instead of two
      val next = step(cur).cutLineage(eager = false)
      changed = next.join(cur.select(col("x"), col("lbl").as("prev")), Seq("x"))
        .filter(col("lbl") =!= col("prev")).count()
      cur.releaseCut()
      cur = next
    }
    if (changed > 0)
      System.err.println(s"[graft] lpa: round cap $maxRounds reached " +
        s"before fixpoint ($changed labels still changing)")
    dirS.releaseCut()
    cur.select(col("x"), col("lbl"), lit(rounds).as("n_rounds"))
    }
  }

  /** HIERARCHY FLATTEN by POINTER JUMPING — the BOM-explosion /
    * org-chart primitive: every node of a parent-pointer forest gets
    * its (root, depth) in O(log depth) rounds, not O(depth). The
    * synthetic forest is deterministic over part keys (parent =
    * k DIV 4; keys < 4 are their own roots), giving chains ~log₄|part|
    * deep. Each round composes ancestor pointers with themselves
    * (anc' = anc∘anc, d' = d + d∘anc) — the classic doubling trick, so
    * 6 rounds flatten any hierarchy up to depth 64 where naive
    * per-level climbing would need 64 joins. Roots carry d = 0 and
    * self-pointers, which makes composition idempotent at the fixpoint;
    * the round count is a static bound, no convergence check needed
    * (doubling PROVABLY reaches any depth ≤ 2^rounds).
    *
    * Scale posture: each round is ONE self-join of the constant-width
    * pointer table on its ancestor key + localCheckpoint (lineage
    * discipline of the CC loop); rows never grow — |nodes| forever.
    * This is how a 100 TB parts hierarchy flattens in 6 shuffles. */
  def graphHierarchyFlatten(s: SparkSession, d: String): DataFrame = {
    val rounds = 6
    val pp = Tables.part(s, d).select(col("p_partkey").as("k"),
      when(col("p_partkey") < 4, col("p_partkey"))
        .otherwise(expr("p_partkey DIV 4")).as("par"))
    var f = pp.select(col("k"), col("par").as("anc"),
      when(col("par") === col("k"), lit(0L)).otherwise(lit(1L)).as("d"))
      .cutLineage()
    for (_ <- 1 to rounds) {
      val g = f.select(col("k").as("g_k"), col("anc").as("g_anc"),
        col("d").as("g_d"))
      // LEFT join + freeze (round 9, sf1 answer check): the arithmetic
      // parent of a key need not itself be a key once the corpus is
      // replicated into disjoint key ranges (sf1) — a dangling ancestor
      // pointer is an ABSORBING state (anc and d stop advancing),
      // matching the per-node oracle walk, which ends when cur has no
      // row. The old inner join silently DROPPED every key whose chain
      // left the key set (9/10 of the sf1 tree). Dense fixtures have no
      // dangling parents, so small-sf results are bit-identical.
      f = f.join(g, col("anc") === col("g_k"), "left")
        .select(col("k"), coalesce(col("g_anc"), col("anc")).as("anc"),
          (col("d") + coalesce(col("g_d"), lit(0L))).as("d"))
        .cutLineage()
    }
    f.select(col("k").as("p_partkey"), col("anc").as("root"),
        col("d").as("depth"))
      .orderBy("p_partkey")
  }

  /** Directed part→part "added next" edges: within each order the line
    * items sorted by (linenumber, partkey) contribute an edge from each
    * part to its successor — the sequential add-to-cart graph, the one
    * genuinely DIRECTED relation in the corpus (the co-purchase support
    * graph is symmetric by construction). Distinct edges, self-loops
    * dropped; persisted for the two reachability loops that consume it. */
  private def seqEdges(s: SparkSession, d: String): DataFrame =
    PipelineCache.getOrPersist(s"graph_seq_edges:$d") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o").orderBy("ln", "src")
      Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_linenumber").as("ln"),
          col("l_partkey").as("src"))
        .withColumn("dst", lead(col("src"), 1).over(w))
        .filter(col("dst").isNotNull && col("dst") =!= col("src"))
        .select("src", "dst").distinct()
    }

  /** Strongly connected component of a PIVOT vertex on the directed
    * add-next graph — the forward-backward primitive at the heart of
    * every distributed SCC algorithm (FW-BW, ColorSCC): SCC(p) =
    * forward-reachable(p) ∩ backward-reachable(p). Pivot = the max-
    * out-degree vertex (min id tiebreak), the standard FW-BW pivot
    * heuristic. Both reachability closures run the [[graphBfsConverged]]
    * loop discipline — frontier ⋈ edges per round, per-round
    * `localCheckpoint`, one driver scalar for the fixpoint test, capped
    * rounds with a loud warning; the backward pass is the SAME loop on
    * the reversed edges (no second implementation).
    *
    * Scale posture: each round shuffles only frontier×edges, visited
    * sets carry a single long column, and the intersection is one
    * partial-aggregated semi-join — the full FW-BW recursion at scale
    * repeats this operator on the residual graph, which is driver
    * orchestration of the same plan, not a new plan shape. */
  def graphSccPivot(s: SparkSession, d: String): DataFrame = {
    // base snapshot — see sccLabels; guarded broadcast of the adjacency
    // inside fwbwDepth — see IterBroadcastMaxRows
    val edges = seqEdges(s, d).cutLineage()
    val nEdges = edges.count()
    withLoopExec(s, stateRows = nEdges) {
    val pivot = edges.groupBy("src").agg(count(lit(1)).as("odeg"))
      .orderBy(col("odeg").desc, col("src")).limit(1)
      .select(col("src").as("x"), col("src").as("pid"))
    // round-10 shave: both closures run in the ONE tagged-direction
    // min-round BFS the full decomposition already uses (fwbwDepth) —
    // max(fwdDepth, bwdDepth) rounds instead of their sum, and the
    // depth-map fold instead of join+distinct+anti-join per round
    // (these loops are driver-barrier-bound, so rounds ≈ wall time).
    // Reached set per direction is identical to the two-loop form, so
    // the intersection — and the oracle hash — is unchanged.
    val depth = fwbwDepth(s, edges, pivot, nEdges, "scc")
    edges.releaseCut()
    PipelineCache.register(s"graph_scc_pivot_depth:$d", depth)
    // group by (x, pid) like the sccLabels site, even though `pivot`
    // is limit(1) here: the intersection must stay per-pivot if the
    // frame ever carries more than one, or forward reach from one
    // pivot and backward reach from another would merge into a false
    // SCC member. With one pivot the plan and answer are unchanged.
    depth.groupBy("x", "pid").agg(count_distinct(col("dir")).as("nd"))
      .filter(col("nd") === 2)
      .select(col("x").as("member")).orderBy("member")
    }
  }

  /** Tagged forward+backward reachability closure — the FW-BW primitive
    * shared by [[graphSccPivot]] and [[sccLabels]]'s extraction loop.
    * A row (x, pid, dir) of the returned frame means "x is
    * dir-reachable from pivot pid" (dir 0 = forward, 1 = backward).
    *
    * Loop discipline (rounds 7-10 accumulated; details at each site
    * below): both directions in ONE loop (max of the two depths, not
    * their sum); min-round depth-map fold per round instead of
    * join+distinct+anti-join; size-guarded adjacency strategy —
    * per-round broadcast for KB-sized residual graphs, co-partitioned
    * once for large ones. `e` must be checkpointed and counted by the
    * caller (nE). Superseded depth maps and the tagged adjacency are
    * released inside; the returned (materialized) depth map is the
    * caller's to release. */
  private def fwbwDepth(s: SparkSession, e: DataFrame, pivots: DataFrame,
      nE: Long, tag: String): DataFrame = {
    // Adjacency strategy, size-guarded on the exact tracked count
    // (round 10, both branches measured at sf0.1):
    //  - SMALL residual graphs (the sccLabels extraction loop: a few
    //    thousand edges): per-round broadcast of the tagged adjacency —
    //    rebuilding a KB-sized broadcast is cheaper than the upfront
    //    exchange + eager checkpoint of the co-partitioned form.
    //  - LARGE graphs (graphSccPivot's full edge list): CO-PARTITION
    //    the adjacency on the probe key ONCE and checkpoint eagerly —
    //    LogicalRDD keeps the partitioning, so every round's frontier
    //    join needs no adjacency-side exchange and no broadcast
    //    rebuild (a fresh plan re-broadcasts ALL 2·|E| rows EVERY
    //    round; at 500k+ edges that dominated the loop — measured
    //    scc_pivot 3.8 s broadcast vs 2.3 s co-partitioned). The
    //    shuffle_hash hint rides the FRONTIER (small, changes per
    //    round): Spark hashes the frontier and STREAMS the in-memory
    //    adjacency blocks — no per-round sort.
    val adj2base = e.select(col("src").as("x"), col("dst").as("y"), lit(0).as("dir"))
      .unionAll(e.select(col("dst").as("x"), col("src").as("y"), lit(1).as("dir")))
    val small = 2 * nE <= FwbwBroadcastMaxRows
    val adj2 =
      if (small) broadcast(adj2base.cutLineage(eager = false))
      else {
        val k = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
        adj2base.repartition(k, col("x"), col("dir")).cutLineage()
      }
    // MIN-ROUND DEPTH MAP instead of visited/next anti-join bookkeeping
    // (round 8): depth(x, pid, dir, r) keeps the first round each
    // (vertex, pivot, direction) was reached — one union +
    // partial-aggregated min per round replaces join+distinct+anti-join.
    // The reached SET is identical: rows of depth ARE the visited set.
    var depth = pivots.crossJoin(
        broadcast(s.range(2).select(col("id").cast("int").as("dir"))))
      .withColumn("r", lit(0))
      .cutLineage()
    var frontier = depth
    var r = 0
    var grew = true
    while (grew && r < SccMaxRounds) {
      r += 1
      val joined =
        if (small) frontier.join(adj2, Seq("x", "dir"))
        else frontier.hint("shuffle_hash").join(adj2, Seq("x", "dir"))
      val cand = joined
        .select(col("y").as("x"), col("pid"), col("dir"), lit(r).as("r"))
      // lazy + immediate probe: ONE driver barrier per round
      val next = depth.unionAll(cand)
        .groupBy("x", "pid", "dir").agg(min(col("r")).as("r"))
        .cutLineage(eager = false)
      val nNew = next.filter(col("r") === r).count()
      depth.releaseCut()
      depth = next
      if (nNew == 0) grew = false
      else frontier = depth.filter(col("r") === r)
    }
    if (grew)
      System.err.println(s"[graft] $tag: round cap $SccMaxRounds " +
        "reached — closure may be incomplete")
    adj2.releaseCut()
    depth
  }

  /** Caps for the FULL SCC decomposition: component-extraction count
    * and total trim rounds. The fixture graphs need ≤ 3 extractions and
    * ≤ 8 trims; the caps are headroom, with the loud-warning discipline
    * of every other convergence loop here. */
  val SccMaxComponents = 12
  val SccTrimMaxRounds = 24
  /** Pivots extracted per FW-BW round of [[graphSccFull]] — bounds the
    * serial depth at ⌈#nontrivial-SCCs / pivots⌉ rounds (production
    * batches thousands). 8 → 32 in round 8: the per-pivot cost is one
    * extra label column value in the shared direction-tagged BFS
    * (data-parallel, fan-out bounded), while each SAVED extraction
    * round saves a whole trim+BFS loop of driver barriers — at the
    * fixture scales 32 collapses the decomposition to 1-2 extraction
    * rounds (20 components at sf1). */
  val SccPivotsPerRound = 32

  /** Tagged-adjacency rows under which [[fwbwDepth]] re-broadcasts per
    * round instead of co-partitioning once — a KB-scale broadcast
    * rebuild is cheaper than the co-partition setup; above it the
    * per-round rebuild of a fresh plan's broadcast dominates. */
  val FwbwBroadcastMaxRows = 65536L

  /** Round cap for [[graphTopologicalLayers]] — the sf0.001 fixture's
    * deepest longest path is 40 (densest corpus relative to its part
    * count; 11 at sf0.01, 6 at sf0.1). */
  val TopoMaxRounds = 48

  /** Longest-path LAYERING of the id-oriented co-purchase DAG — the
    * "schedule in dependency waves" primitive (build systems, DAG
    * schedulers, feature-dependency planning): orient each support
    * edge u→v by id (u < v by construction of [[supportEdges]], so the
    * graph is acyclic BY CONSTRUCTION — the add-next graph is cyclic at
    * some SFs, probed), then layer(v) = length of the longest incoming
    * path = one synchronous Bellman relaxation per round:
    * layer ← max(layer, 1 + layer of in-neighbors), to fixpoint.
    *
    * Convergence test is the CC label-SUM trick in reverse: Σ layer is
    * monotone NON-DECREASING under relaxation and stationary exactly at
    * the fixpoint, so one cheap scalar agg per round decides, no diff
    * join. Oracle: the same relaxation unrolled to [[TopoMaxRounds]]
    * materialized layers (over-unrolling is a no-op at the fixpoint).
    *
    * Scale posture: each round is one equi-join of the |V|-row layer
    * frame with the edge list + a partial-aggregated max — rounds =
    * DAG depth, frames never exceed |V| rows, per-round
    * `localCheckpoint` truncates lineage. */
  def graphTopologicalLayers(s: SparkSession, d: String): DataFrame = {
    // base snapshot — see sccLabels
    val edges = supportEdges(s, d).cutLineage()
    val verts = supportVerts(s, d)
    val nE = edges.count()
    withLoopExec(s, stateRows = nE) {
    var layers = verts.withColumn("l", lit(0L)).cutLineage(eager = false)
    var prevSum = -1L
    var r = 0
    var converged = false
    while (!converged && r < TopoMaxRounds) {
      r += 1
      val cand = layers.join(edges, layers("x") === edges("u"))
        .select(col("v").as("x"), (col("l") + 1L).as("lv"))
      // lazy: the layer-sum convergence probe below materializes the
      // round — one driver barrier per round instead of two
      val next = layers.select(col("x"), col("l").as("lv")).unionAll(cand)
        .groupBy("x").agg(max(col("lv")).as("l"))
        .cutLineage(eager = false)
      val sumL = next.agg(sum(col("l"))).collect()(0).getLong(0)
      layers.releaseCut()
      layers = next
      if (sumL == prevSum) converged = true else prevSum = sumL
    }
    if (!converged)
      System.err.println(s"[graft] topo_layers: round cap $TopoMaxRounds " +
        "reached — layering may be incomplete")
    edges.releaseCut()
    PipelineCache.register(s"graph_topo_layers:$d", layers)
    layers.select(col("x").as("l_partkey"), col("l").as("layer"))
      .orderBy("l_partkey")
    }
  }

  /** Bellman-relaxation oracle for [[graphTopologicalLayers]], unrolled
    * to the round cap (monotone + idempotent at the fixpoint, so extra
    * rounds are no-ops); every layer MATERIALIZED (the BFS fd-exhaustion
    * lesson). */
  private def topoLayeredSql(maxRounds: Int): String = {
    val layers = (1 to maxRounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT x, MAX(lv) AS l FROM (
         |    SELECT x, l AS lv FROM l${i - 1}
         |    UNION ALL
         |    SELECT e.v AS x, p.l + 1 AS lv
         |    FROM edges e JOIN l${i - 1} p ON p.x = e.u)
         |  GROUP BY x)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |edges AS MATERIALIZED (
       |  SELECT u, v FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |l0 AS MATERIALIZED (
       |  SELECT x, CAST(0 AS BIGINT) AS l FROM (
       |    SELECT u AS x FROM edges UNION SELECT v FROM edges)),
       |$layers
       |SELECT x AS l_partkey, l AS layer FROM l$maxRounds
       |ORDER BY l_partkey""".stripMargin
  }

  /** Same-brand add-next edges over a two-brand slice of the corpus
    * (parts of Brand#11/Brand#23; edge src→dst when dst was added
    * directly after src within one order, both parts the same brand).
    * Restricting to within-brand transitions is what gives the graph a
    * REAL condensation: several cycle cores connected by one-way chains
    * (3 nontrivial SCCs at sf0.001, 2 at sf0.01, plus dozens of
    * singletons), where the raw add-next graph is one giant SCC and a
    * "full decomposition" would degenerate to a single extraction. */
  private def brandSeqEdges(s: SparkSession, d: String): DataFrame =
    PipelineCache.getOrPersist(s"graph_brand_seq_edges:$d") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o", "b").orderBy("ln", "src")
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .filter(col("p_brand").isin("Brand#11", "Brand#23"))
          .select(col("p_partkey"), col("p_brand").as("b"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("o"), col("l_linenumber").as("ln"),
          col("l_partkey").as("src"), col("b"))
        .withColumn("dst", lead(col("src"), 1).over(w))
        .filter(col("dst").isNotNull && col("dst") =!= col("src"))
        .select("src", "dst").distinct()
    }

  /** FULL SCC decomposition — [[graphSccPivot]]'s documented recursion
    * on residual graphs, implemented (round-6 verdict #5): every vertex
    * of [[brandSeqEdges]] labeled with its strongly-connected component
    * (scc_id = min member), via the standard trim + iterated FW-BW:
    *
    *   1. TRIM to fixpoint: a residual vertex with no residual in-edge
    *      or no residual out-edge lies on no cycle → singleton SCC
    *      (members of nontrivial SCCs are never trimmed: their cycle
    *      edges stay until the whole SCC is extracted, so trimming
    *      cannot bite into one).
    *   2. MULTI-pivot FW-BW on the residual: up to
    *      [[SccPivotsPerRound]] top-out-degree pivots run their
    *      forward AND backward closures simultaneously in ONE
    *      direction-tagged label-carrying BFS ((x, pid, dir) frontiers
    *      over the dir-tagged adjacency — max(fwdDepth, bwdDepth)
    *      rounds, not their sum; the [[graphBfsConverged]] loop
    *      discipline); SCC(pid) = {x reached under BOTH dirs of pid};
    *      extract all of them, re-trim the newly exposed chains,
    *      repeat.
    *
    * Both loops carry caps ([[SccMaxComponents]] extraction rounds /
    * [[SccTrimMaxRounds]]) with loud warnings. Oracle =
    * reachability-closure labeling (scc_id(v) = min u with u⇝v and
    * v⇝u) — a different algorithm that must reach the same fixpoint,
    * the CC-oracle pattern.
    *
    * Scale posture: per trim round, two distinct-projections of the
    * residual edge list and two semi-joins; per BFS round, frontier ⋈
    * edges with a pid label column (fan-out bounded by pivots/round);
    * per-round `localCheckpoint` truncates lineage. Pivot batching is
    * what bounds the serial depth: ⌈#SCCs/pivots⌉ rounds instead of
    * #SCCs — measured 64 s → 16 s at the generated sf1 (20 components:
    * the serial form capped out with 4,720 vertices unlabeled).
    * Production FW-BW additionally recurses the three-way split
    * (FWD∖S, BWD∖S, rest) in parallel — driver orchestration of this
    * same plan over disjoint vertex sets, not a new plan shape. */
  def graphSccFull(s: SparkSession, d: String): DataFrame = {
    val byScc = org.apache.spark.sql.expressions.Window.partitionBy("scc_id")
    sccLabels(s, d)
      .withColumn("scc_size", count(lit(1)).over(byScc))
      .orderBy("member")
  }

  /** The (member, scc_id) labeling [[graphSccFull]] emits, persisted so
    * the decomposition and its condensation consumer
    * ([[graphCondensationDag]]) pay the trim/FW-BW loops once per
    * session. */
  private def sccLabels(s: SparkSession, d: String): DataFrame =
    PipelineCache.getOrPersist(s"graph_scc_labels:$d") {
    // Base snapshot (round-8): per-round plan BUILD, not job time, was
    // the measured cost of this loop (trim-round build 0.3 s vs probe
    // job 0.05 s at sf0.1 AND sf0.001 — scale-independent driver CPU):
    // every round's new plan referenced the persisted edge base through
    // its FULL logical plan (lineitem scan + window), which analysis +
    // optimization re-traverse per round. One localCheckpoint collapses
    // the base to a LogicalRDD so each round analyzes a constant-size
    // plan — the driver-side analogue of checkpointing iteration state.
    val edges = brandSeqEdges(s, d).cutLineage()
    val nE2 = 2 * edges.count()
    withLoopExec(s, stateRows = nE2) {
    val verts = edges.select(col("src").as("x"))
      .unionAll(edges.select(col("dst").as("x"))).distinct()
    // Lazy-checkpoint discipline (round-8, the driver-barrier cut): a
    // LAZY localCheckpoint still truncates the logical plan immediately,
    // but defers block materialization to the NEXT action whose lineage
    // includes it — so each round's "materialize + read one scalar"
    // pair collapses into ONE scheduler round-trip instead of two. The
    // loops here are driver-latency-bound, not data-bound (measured:
    // condensation 9.3 s at sf0.001 where data ≈ 0), so halving the
    // barrier count halves the wall time at every scale. Frames that a
    // later plan references TWICE before any action would race-compute
    // under lazy blocks, so those (and one-shot round frames with no
    // scalar probe, e.g. graphBfsReach/hierarchyFlatten) stay eager.
    var residual = verts.cutLineage(eager = false)
    var nResidual = residual.count()
    val labeled = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // cut frames the labeled rounds read (residual sets, extractions):
    // released once the final union below has materialized
    val held = scala.collection.mutable.ArrayBuffer(residual)
    var trims = 0
    var trimCapWarned = false
    // SIZE-GUARDED broadcast of the residual vertex set: nResidual is
    // tracked exactly (each round's fixpoint probe), so the guard costs
    // nothing — under [[IterBroadcastMaxRows]] the semi-joins become
    // broadcast-hash (no shuffle stage, no AQE stage barrier), above it
    // the shuffled form survives any scale. The dedup incremental-batch
    // guard pattern, driven by a known count instead of plan stats.
    def resB(): DataFrame =
      if (nResidual <= IterBroadcastMaxRows) broadcast(residual) else residual
    // residual-restricted edge list, refreshed after every residual change
    def resEdges(): DataFrame = edges
      .join(resB().select(col("x").as("src")), Seq("src"), "left_semi")
      .join(resB().select(col("x").as("dst")), Seq("dst"), "left_semi")
    def trimToFixpoint(): Unit = {
      var again = nResidual > 0
      while (again && trims < SccTrimMaxRounds) {
        // e is inlined (not checkpointed): both endpoint projections
        // below re-derive it from the CACHED edge base within keep's
        // single materializing job. keep = residual vertices carrying
        // BOTH an in- and an out-edge of e, computed as ONE partial-
        // aggregated shuffle over e's endpoint roles (round 8) — the
        // previous two distinct-projections + two semi-joins formulation
        // was 4 extra AQE stage barriers per trim round for the same set
        // (e's endpoints lie in residual by construction, so the degree
        // aggregate needs no re-join against residual).
        val e = resEdges()
        val keep = e.select(col("src").as("x"), lit(1).as("o"), lit(0).as("i"))
          .unionAll(e.select(col("dst").as("x"), lit(0).as("o"), lit(1).as("i")))
          .groupBy("x").agg(max(col("o")).as("o"), max(col("i")).as("i"))
          .filter(col("o") === 1 && col("i") === 1)
          .select("x")
          .cutLineage(eager = false)
        val nKeep = keep.count()
        if (nKeep == nResidual) {
          keep.releaseCut()
          again = false
        } else {
          // only PRODUCTIVE rounds consume the shared budget — a probe
          // that just confirms the fixpoint is free, otherwise each of
          // the up-to-12 extraction rounds' confirming call would eat a
          // round and trimming could silently disable mid-decomposition
          trims += 1
          // shallow lineage over two checkpointed frames — no checkpoint
          // needed; the final union consume computes it once
          labeled += residual.join(keep, Seq("x"), "left_anti")
            .select(col("x").as("member"), col("x").as("scc_id"))
          residual = keep
          held += keep
          nResidual = nKeep
          again = nResidual > 0
        }
      }
      // warn once, only when the cap genuinely cut a still-shrinking
      // trim off (not on later calls that never got to probe)
      if (again && trims >= SccTrimMaxRounds && !trimCapWarned) {
        trimCapWarned = true
        System.err.println(s"[graft] scc_full: trim cap $SccTrimMaxRounds " +
          "reached — decomposition may be incomplete")
      }
    }
    trimToFixpoint()
    var rounds = 0
    while (nResidual > 0 && rounds < SccMaxComponents) {
      rounds += 1
      // LAZY + immediate count (round 9, one barrier instead of two):
      // the count below is the materializing action, and it runs BEFORE
      // any plan references e twice — pivots and adj2 then read cached
      // blocks, so the round-8 race-compute hazard never arises
      val e = resEdges().cutLineage(eager = false)
      // MULTI-pivot extraction (round-7 upgrade, measured necessary):
      // one pivot per round made the loop depth equal the nontrivial-
      // SCC count — at the generated sf1 (10 disjoint replicas × 2
      // cores = 20 components) the serial form hit its cap with 4,720
      // vertices unlabeled and cost 64 s. Up to [[SccPivotsPerRound]]
      // pivots (top out-degree, min-id tiebreak — identical replica
      // structures tie on degree, so the id tiebreak spreads pivots
      // across replicas) run their FW/BW closures SIMULTANEOUSLY in one
      // label-carrying BFS: frontiers are (x, pid) pairs, and
      // SCC(pid) = {x : (x,pid) ∈ fwd ∩ bwd}. Two pivots landing in
      // the same SCC extract the same member set under both pids and
      // the min-member scc_id collapses them (distinct). This is the
      // parallel residual recursion production FW-BW runs, expressed as
      // pivot batching over one plan.
      val pivots = e.groupBy("src").agg(count(lit(1)).as("odeg"))
        .orderBy(col("odeg").desc, col("src")).limit(SccPivotsPerRound)
        .select(col("src").as("x"), col("src").as("pid"))
        .cutLineage(eager = false)
      // BOTH closures in ONE loop: the forward and backward adjacencies
      // carry a direction tag and every frontier row is (x, pid, dir) —
      // the loop runs max(fwdDepth, bwdDepth) rounds instead of their
      // SUM (measured ~2× on the driver-round-dominated cost: the two
      // closures spend wall time on scheduler round-trips, not data).
      val nE = e.count()
      val depth = fwbwDepth(s, e, pivots, nE, "scc_full")
      val wp = org.apache.spark.sql.expressions.Window.partitionBy("pid")
      // lazy: residual's count below materializes extracted's blocks in
      // the same job; the labeled-union consume then reads them cached
      val extracted = depth.groupBy("x", "pid")
        .agg(count_distinct(col("dir")).as("nd"))
        .filter(col("nd") === 2)
        .withColumn("scc_id", min(col("x")).over(wp))
        .select(col("x").as("member"), col("scc_id")).distinct()
        .cutLineage(eager = false)
      labeled += extracted
      residual = residual
        .join(extracted.select(col("member").as("x")), Seq("x"), "left_anti")
        .cutLineage(eager = false)
      nResidual = residual.count()
      held ++= Seq(extracted, residual)
      Seq(e, pivots, depth).foreach(_.releaseCut())
      trimToFixpoint()
    }
    if (nResidual > 0)
      System.err.println(s"[graft] scc_full: extraction-round cap " +
        s"$SccMaxComponents reached with $nResidual vertices unlabeled")
    val labels = labeled.reduceOption(_ unionAll _)
      .getOrElse(verts.select(col("x").as("member"), col("x").as("scc_id")))
      // snapshot the union-of-rounds plan too: consumers (full listing,
      // condensation, their window/join plans) otherwise re-analyze the
      // whole loop history every time they build on the labeling
      .cutLineage()
    (held :+ edges).foreach(_.releaseCut())
    labels
    }
  }

  /** CONDENSATION of the SCC decomposition — the quotient DAG every
    * SCC consumer actually wants (cycle-free dependency structure over
    * the components): contract [[brandSeqEdges]] by the [[sccLabels]]
    * labeling, drop intra-component edges, and report per component its
    * size and condensed in/out degrees. The condensation is acyclic by
    * construction (Tarjan), so this is the bridge from the cyclic raw
    * graph to everything the DAG family ([[graphTopologicalLayers]])
    * can do.
    *
    * Scale posture: two broadcast-or-hash joins of the edge list
    * against the (member→scc) map, one distinct on component pairs
    * (bounded by the condensation size, ≪ |E|), partial-aggregated
    * degree rollups; the decomposition itself is read from the shared
    * persisted labeling. */
  def graphCondensationDag(s: SparkSession, d: String): DataFrame = {
    val labels = sccLabels(s, d)
    val edges = brandSeqEdges(s, d)
    val condensed = edges
      .join(labels.select(col("member").as("src"), col("scc_id").as("s_scc")),
        Seq("src"))
      .join(labels.select(col("member").as("dst"), col("scc_id").as("d_scc")),
        Seq("dst"))
      .filter(col("s_scc") =!= col("d_scc"))
      .select(col("s_scc"), col("d_scc")).distinct()
    val sizes = labels.groupBy("scc_id").agg(count(lit(1)).as("scc_size"))
    val outd = condensed.groupBy(col("s_scc").as("scc_id"))
      .agg(count(lit(1)).as("cond_out_deg"))
    val ind = condensed.groupBy(col("d_scc").as("scc_id"))
      .agg(count(lit(1)).as("cond_in_deg"))
    sizes.join(outd, Seq("scc_id"), "left").join(ind, Seq("scc_id"), "left")
      .select(col("scc_id"), col("scc_size"),
        coalesce(col("cond_out_deg"), lit(0L)).as("cond_out_deg"),
        coalesce(col("cond_in_deg"), lit(0L)).as("cond_in_deg"))
      .orderBy("scc_id")
  }

  /** 2-HOP NEIGHBORHOOD CARDINALITY per vertex of the support graph —
    * the "how fast does influence spread from here" profile (friend-of-
    * friend reach, blast-radius estimation) and the cost model input
    * for any 2-hop join an ANN/graph feature would run.
    *
    * Scale posture: the 2-hop expansion is one self-equi-join of the
    * persisted adjacency (fan-out Σdeg², the standard wedge budget the
    * triangle/jaccard queries already carry) + distinct + rollup — all
    * keyed shuffles. Determinism: pure set arithmetic. */
  def graph2HopCard(s: SparkSession, d: String): DataFrame = {
    val one = supportDir(s, d).select(col("src").as("x"), col("dst").as("y"))
    val n1 = one.groupBy("x").agg(count(lit(1)).as("n_1hop"))
    val two = one.join(one.select(col("x").as("y"), col("y").as("z")), Seq("y"))
      .select(col("x"), col("z").as("y"))
      .filter(col("y") =!= col("x"))
    val n2 = one.unionAll(two).distinct()
      .groupBy("x").agg(count(lit(1)).as("n_2hop"))
    n1.join(n2, Seq("x"))
      .select(col("x").as("l_partkey"), col("n_1hop"), col("n_2hop"))
      .orderBy("l_partkey")
  }

  /** 2-HOP CARDINALITY SKETCH — the skew-proof scale path for
    * [[graph2HopCard]] (r8 verdict #2): the exact form's wedge
    * self-join materializes Σ deg² pairs before its distinct, and on a
    * power-law graph at 100× one hub vertex of degree h owns h² of
    * that budget — the exact form stays in the registry as the small-sf
    * QA oracle, this sketch is what runs at scale. No wedge is ever
    * materialized: each vertex builds a 1-hop HLL sketch (one
    * partial-aggregated pass over E), and x's 2-hop estimate is the
    * UNION of its neighbors' sketches merged with its own — HLL merges
    * are associative, commutative and constant-width (lgK=12 → 2 KB),
    * so a hub's deg-many merges combine map-side like any sum. Total
    * cost: two mergeable rollups + one edge-keyed join shipping
    * fixed-size buffers — every step linear in E, no deg² term
    * anywhere.
    *
    * Estimate semantics: the neighbor-union includes x itself (the
    * support graph is symmetric, so x ∈ N(y) for every y ∈ N(x)) —
    * the estimated set is {x} ∪ N(x) ∪ N²(x), i.e. exact n_2hop + 1;
    * [[graft.GraphQueriesSpec]] pins the HLL error bound against the
    * exact form. Engine-internal sketch → no DuckDB oracle (rows-only
    * driver check, the declared approx_distinct_hll pattern), and the
    * estimate carries the in-engine exact-QA columns at dump scale. */
  def graph2HopCardSketch(s: SparkSession, d: String): DataFrame = {
    val one = supportDir(s, d).select(col("src").as("x"), col("dst").as("y"))
    val sk1 = one.groupBy("x").agg(hll_sketch_agg(col("y"), 12).as("sk"))
    val fromNeighbors = one
      .join(sk1.select(col("x").as("y"), col("sk")), Seq("y"))
      .select(col("x"), col("sk"))
    sk1.unionAll(fromNeighbors)
      .groupBy("x")
      // estimate surfaces as BIGINT (the engine rounds the HLL
      // estimator) — integer output, no float repr drift to manage
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_2hop_est"))
      .select(col("x").as("l_partkey"), col("n_2hop_est"))
      .orderBy("l_partkey")
  }

  /** DEGREE ASSORTATIVITY of the support graph — Newman's r: the
    * Pearson correlation of endpoint degrees over every directed edge
    * (r > 0: hubs attach to hubs — social-network shape; r < 0: hubs
    * attach to leaves — star/infrastructure shape). The one-scalar
    * topology fingerprint read before choosing skew defenses.
    *
    * Determinism: degrees and all five moments are exact BIGINT sums
    * over the symmetric edge list; r is one fixed double tree, round 9.
    * Scale posture: a degree rollup + two broadcast-or-hash joins of
    * the edge list against it + one global partial-agg. */
  def graphAssortativity(s: SparkSession, d: String): DataFrame = {
    val dir = supportDir(s, d)
    val degs = dir.groupBy(col("src").as("x")).agg(count(lit(1)).as("deg"))
    val edges = dir
      .join(degs.select(col("x").as("src"), col("deg").as("dx")), "src")
      .join(degs.select(col("x").as("dst"), col("deg").as("dy")), "dst")
    val m = edges.agg(count(lit(1)).as("n"),
      sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
      sum(col("dx") * col("dy")).as("sxy"),
      sum(col("dx") * col("dx")).as("sxx"),
      sum(col("dy") * col("dy")).as("syy"))
    val nD = col("n").cast("double")
    def dc(c: String) = col(c).cast("double")
    m.select(col("n").as("n_directed_edges"),
      round((nD * dc("sxy") - dc("sx") * dc("sy")) /
        (sqrt(nD * dc("sxx") - dc("sx") * dc("sx")) *
          sqrt(nD * dc("syy") - dc("sy") * dc("sy"))), 9).as("assortativity"))
  }

  /** The shared symmetric adjacency, exposed to sibling ops modules
    * (graph-topology audits like [[FrontierQueriesC.graphRichClub]])
    * so they reuse the one persisted materialization instead of
    * re-deriving the basket expansion. */
  private[ops] def sharedAdjacency(s: SparkSession, d: String): DataFrame =
    supportDir(s, d)

  /** The oracle edge-list prelude, shared with sibling modules for the
    * same reason (one textbook self-join construction to agree with). */
  private[ops] def sharedEdgesCte: String = edgesCte

  /** AVERAGE-NEIGHBOR-DEGREE CURVE k_nn(k) (Pastor-Satorras '01) —
    * the degree-correlation profile behind [[graphAssortativity]]'s
    * scalar: for each degree class k, the mean degree of the
    * neighbors of degree-k vertices. A falling curve
    * (disassortative) says hubs attach to leaves — the hub-and-spoke
    * catalog shape; a rising one says a rich-club core
    * ([[FrontierQueriesC.graphRichClub]] measures its density). The
    * curve DIAGNOSES what the scalar only summarizes.
    *
    * Determinism: Σ deg(v) over edges from degree-k vertices and the
    * class sizes are plain BIGINT sums; one division per class,
    * round 9.
    *
    * Scale posture: one degree rollup + two equi-joins of the
    * adjacency against the constant-width degree frame + a per-class
    * rollup — never wider than the adjacency. */
  def graphKnnDegreeCurve(s: SparkSession, d: String): DataFrame = {
    val dir = supportDir(s, d)
    val deg = dir.groupBy("src").agg(count(lit(1)).as("deg"))
    val du = deg.select(col("src"), col("deg").as("du"))
    val dv = deg.select(col("src").as("dst"), col("deg").as("dv"))
    val nk = deg.groupBy(col("deg").as("k"))
      .agg(count(lit(1)).as("n_vertices"))
    dir.join(du, Seq("src")).join(dv, Seq("dst"))
      .groupBy(col("du").as("k"))
      .agg(sum(col("dv")).as("snd"), count(lit(1)).as("n_ends"))
      .join(nk, Seq("k"))
      .select(col("k"), col("n_vertices"),
        round(col("snd").cast("double") / col("n_ends").cast("double"), 9)
          .as("knn_mean"))
      .orderBy("k")
  }

  /** RESOURCE-ALLOCATION LINK PREDICTION — the top-30 NON-adjacent part
    * pairs most likely to co-purchase next, scored by the RA index
    * (Zhou/Lü/Zhang '09): Σ over common neighbors z of 1/deg(z). Each
    * shared neighbor votes with weight inversely proportional to its
    * degree — a hub co-neighbor says almost nothing, a degree-2 bridge
    * says a lot — which is why RA beats raw common-neighbor counts on
    * product graphs. No logarithm (the Adamic–Adar sibling needs ln;
    * RA is its log-free refinement and the cross-engine-stable choice).
    *
    * Algorithm: the [[graphJaccardNeighbors]] wedge join (middles
    * capped by [[JaccardMiddleDegreeCap]] — same hub defense, same
    * no-op-on-fixture argument) produces (u, v, z) wedges; an anti-join
    * against the canonical u<v edge list keeps only NON-edges (link
    * prediction scores absent links — the anti-join is what makes this
    * a different operator from Jaccard similarity); per-pair RA is an
    * ordered fold over z (each term one IEEE division of deg, the
    * m-ordered double-sum recipe), round 9.
    *
    * Scale posture: wedge fan-out bounded by the middle cap; the
    * anti-join broadcasts nothing data-sized (edges ⋈ wedges on the
    * pair key); the per-pair collect is bounded by min-degree. */
  def graphLinkPredictionRa(s: SparkSession, d: String): DataFrame = {
    val dir = supportDir(s, d)
    val deg = dir.groupBy("src").agg(count(lit(1)).as("deg"))
    val okMiddles = deg.filter(col("deg") <= JaccardMiddleDegreeCap)
      .select(col("src").as("dst"), col("deg").as("zdeg"))
    val wedgeBase = dir.join(okMiddles, "dst")
    val wedges = wedgeBase.as("a").join(wedgeBase.as("b"),
        col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
      .select(col("a.src").as("u"), col("b.src").as("v"),
        col("a.dst").as("z"), col("a.zdeg").as("zdeg"))
    val edges = dir.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    val nonEdge = wedges.join(edges, Seq("u", "v"), "left_anti")
    nonEdge.groupBy("u", "v")
      .agg(count(lit(1)).as("common"),
        aggregate(
          transform(
            sort_array(collect_list(struct(col("z"), col("zdeg")))),
            p => lit(1.0) / p("zdeg").cast("double")),
          lit(0.0), (acc, x) => acc + x).as("ra_raw"))
      .select(col("u"), col("v"), col("common"),
        round(col("ra_raw"), 9).as("ra_score"))
      .orderBy(col("ra_score").desc, col("u"), col("v"))
      .limit(30)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_modularity"         -> graphModularity _,
    "graph_knn_degree_curve"   -> graphKnnDegreeCurve _,
    "graph_local_clustering_topk" -> graphLocalClusteringTopk _,
    "graph_link_prediction_ra" -> graphLinkPredictionRa _,
    "graph_assortativity"      -> graphAssortativity _,
    "graph_2hop_card"          -> graph2HopCard _,
    "graph_2hop_card_sketch"   -> graph2HopCardSketch _,
    "graph_scc_full"          -> graphSccFull _,
    "graph_condensation_dag"  -> graphCondensationDag _,
    "graph_topo_layers"       -> graphTopologicalLayers _,
    "graph_scc_pivot"         -> graphSccPivot _,
    "graph_hierarchy_flatten"   -> graphHierarchyFlatten _,
    "graph_label_propagation"   -> graphLabelPropagation _,
    "graph_lpa_converged"       -> graphLpaConverged _,
    "graph_triangle_count"      -> graphTriangleCount _,
    "graph_pagerank_iter"       -> graphPagerankIter _,
    "graph_pagerank_converged"  -> graphPagerankConverged _,
    "graph_degree_hist"         -> graphDegreeHist _,
    "graph_clustering_coeff"    -> graphClusteringCoeff _,
    "graph_bfs_reach"           -> graphBfsReach _,
    "graph_bfs_converged"       -> graphBfsConverged _,
    "graph_kcore"               -> graphKcore _,
    "graph_jaccard_neighbors"   -> graphJaccardNeighbors _
  )

  /** Unrolled peel oracle for [[graphKcore]]: a_i = vertices of a_{i-1}
    * with ≥ k neighbors inside a_{i-1}; since a_i ⊆ a_{i-1}, the first
    * repeated layer SIZE marks the fixpoint round — the engine's count
    * test, recomputed independently from the layer chain. MATERIALIZED
    * throughout (the BFS fd-exhaustion lesson). */
  private def kcoreLayeredSql(k: Int, maxRounds: Int): String = {
    val layers = (1 to maxRounds).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT d.src AS x FROM dir d
         |  JOIN a${i - 1} p ON d.src = p.x
         |  JOIN a${i - 1} q ON d.dst = q.x
         |  GROUP BY d.src HAVING COUNT(*) >= $k)""".stripMargin
    }.mkString(",\n")
    val sizes = (0 to maxRounds)
      .map(i => s"SELECT $i AS i, COUNT(*) AS c FROM a$i")
      .mkString("\n  UNION ALL ")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |edges AS MATERIALIZED (
       |  SELECT u, v FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |dir AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges
       |        UNION ALL SELECT v AS src, u AS dst FROM edges),
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS x FROM dir),
       |$layers,
       |sizes AS ($sizes),
       |nr AS (SELECT MIN(s1.i) AS n_rounds FROM sizes s1
       |       JOIN sizes s0 ON s0.i = s1.i - 1 AND s0.c = s1.c),
       |core AS (
       |  SELECT d.src AS l_partkey, COUNT(*) AS core_deg FROM dir d
       |  JOIN a$maxRounds p ON d.src = p.x
       |  JOIN a$maxRounds q ON d.dst = q.x
       |  GROUP BY d.src)
       |SELECT core.l_partkey, core.core_deg,
       |  CAST(nr.n_rounds AS INTEGER) AS n_rounds
       |FROM core CROSS JOIN nr ORDER BY core.l_partkey""".stripMargin
  }

  /** Layered LPA oracle to a fixed unroll depth — the kcore trick
    * adapted to a NON-monotone fixpoint: every layer is materialized
    * (DuckDB would otherwise inline the label chain exponentially, the
    * BFS lesson), per-round diffs count label CHANGES (size equality
    * proves nothing for LPA), n_rounds = first zero-diff round
    * (COALESCE to the cap when never converged — exactly the engine's
    * cap path), and the output labeling is layer maxRounds, which
    * equals the engine's stop-round labeling because a converged
    * labeling is a fixed point of the deterministic sync step. */
  private def lpaLayeredSql(maxRounds: Int): String = {
    val layers = (1 to maxRounds).map { i =>
      s"""c$i AS MATERIALIZED (SELECT src, lbl, COUNT(*) AS cnt FROM (
         |    SELECT d.src, l.lbl FROM dir d JOIN l${i - 1} l ON d.dst = l.x
         |    UNION ALL SELECT x AS src, lbl FROM l${i - 1})
         |  GROUP BY src, lbl),
         |l$i AS MATERIALIZED (SELECT src AS x, lbl FROM (
         |    SELECT src, lbl, ROW_NUMBER() OVER (PARTITION BY src
         |      ORDER BY cnt DESC, lbl) AS rk FROM c$i) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val diffs = (1 to maxRounds)
      .map(i => s"SELECT $i AS i, COUNT(*) AS c FROM l$i a " +
        s"JOIN l${i - 1} b ON a.x = b.x AND a.lbl <> b.lbl")
      .mkString("\n  UNION ALL ")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |edges AS MATERIALIZED (
       |  SELECT u, v FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |dir AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges
       |        UNION ALL SELECT v AS src, u AS dst FROM edges),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS x, src AS lbl FROM dir),
       |$layers,
       |diffs AS ($diffs),
       |nr AS (SELECT COALESCE(MIN(i), $maxRounds) AS n_rounds
       |       FROM diffs WHERE c = 0)
       |SELECT l.x AS l_partkey, l.lbl AS community,
       |  CAST(nr.n_rounds AS INTEGER) AS n_rounds
       |FROM l$maxRounds l CROSS JOIN nr ORDER BY l_partkey""".stripMargin
  }

  /** Shared oracle prelude: support edges + symmetric adjacency from
    * the textbook lineitem self-join (the INDEPENDENT construction the
    * engine's basket-local pair generator must agree with). */
  private val edgesCte =
    """pairs AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |edges AS (SELECT u, v FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |dir AS (SELECT u AS src, v AS dst FROM edges
      |        UNION ALL SELECT v AS src, u AS dst FROM edges)""".stripMargin

  /** Layered BFS oracle to a fixed unroll depth: d_i = neighbors of
    * d_{i-1} minus everything already seen, with a cumulative `seen_i`
    * chain (linear SQL size in depth). Layers past the true
    * eccentricity are empty and harmless, which is what aligns the
    * fixed unroll with the engine's frontier-exhaustion loop.
    *
    * Every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and the
    * seen_i chain re-expands seen_{i-1} ∪ d_i recursively — d_16
    * inlines to an exponentially-sized tree whose leaf scans exhausted
    * the process fd limit ("Too many open files" re-opening
    * lineitem.parquet). Materialization makes the chain linear. */
  private def bfsLayeredSql(maxDepth: Int): String = {
    val layers = (1 to maxDepth).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT DISTINCT dst AS x FROM dir JOIN d${i - 1} ON src = d${i - 1}.x
         |  EXCEPT SELECT x FROM seen${i - 1}),
         |seen$i AS MATERIALIZED (
         |  SELECT x FROM seen${i - 1} UNION SELECT x FROM d$i)""".stripMargin
    }.mkString(",\n")
    val lab = (0 to maxDepth)
      .map(i => s"SELECT x, $i AS depth FROM d$i")
      .mkString("\n  UNION ALL ")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |edges AS MATERIALIZED (
       |  SELECT u, v FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |dir AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges
       |        UNION ALL SELECT v AS src, u AS dst FROM edges),
       |verts AS MATERIALIZED (SELECT DISTINCT src AS x FROM dir),
       |d0 AS MATERIALIZED (SELECT x FROM verts WHERE x % 20 = 0),
       |seen0 AS MATERIALIZED (SELECT x FROM d0),
       |$layers,
       |lab AS ($lab)
       |SELECT CAST(COALESCE(lab.depth, -1) AS INTEGER) AS depth,
       |  COUNT(*) AS n_vertices
       |FROM verts LEFT JOIN lab ON verts.x = lab.x
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "graph_assortativity" ->
      s"""WITH $edgesCte,
         |degs AS (SELECT src AS x, COUNT(*) AS deg FROM dir GROUP BY src),
         |e AS (SELECT a.deg AS dx, b.deg AS dy
         |  FROM dir JOIN degs a ON dir.src = a.x JOIN degs b ON dir.dst = b.x),
         |m AS (SELECT COUNT(*) AS n,
         |    CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
         |    CAST(SUM(dx * dy) AS BIGINT) AS sxy,
         |    CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         |    CAST(SUM(dy * dy) AS BIGINT) AS syy
         |  FROM e)
         |SELECT n AS n_directed_edges,
         |  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
         |         CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
         |          CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
         |     sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
         |          CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
         |    AS assortativity
         |FROM m""".stripMargin,
    "graph_2hop_card" ->
      s"""WITH $edgesCte,
         |one AS (SELECT src AS x, dst AS y FROM dir),
         |n1 AS (SELECT x, COUNT(*) AS n_1hop FROM one GROUP BY x),
         |two AS (SELECT a.x, b.y FROM one a JOIN one b ON a.y = b.x
         |        WHERE b.y <> a.x),
         |reach AS (SELECT DISTINCT x, y FROM
         |  (SELECT x, y FROM one UNION ALL SELECT x, y FROM two)),
         |n2 AS (SELECT x, COUNT(*) AS n_2hop FROM reach GROUP BY x)
         |SELECT n1.x AS l_partkey, n_1hop, n_2hop
         |FROM n1 JOIN n2 ON n1.x = n2.x ORDER BY l_partkey""".stripMargin,
    "graph_topo_layers" -> topoLayeredSql(TopoMaxRounds),
    // Reachability-closure labeling: scc_id(v) = MIN u with u⇝v AND
    // v⇝u (closure seeded with (v,v) so singletons label themselves) —
    // a different algorithm than the engine's trim + iterated FW-BW
    // that must reach the same fixpoint. Closure size is quadratic only
    // within SCCs — fine at oracle scale, never the engine's plan.
    // labels from the same reachability closure as graph_scc_full's
    // oracle, then the quotient-graph contraction stated directly
    "graph_condensation_dag" ->
      """WITH RECURSIVE
        |li AS (SELECT l.l_orderkey o, l.l_linenumber ln,
        |         l.l_partkey src, p.p_brand b
        |       FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |       WHERE p.p_brand IN ('Brand#11','Brand#23')),
        |w AS (SELECT o, b, src,
        |        LEAD(src) OVER (PARTITION BY o, b ORDER BY ln, src) AS dst
        |      FROM li),
        |edges AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM w
        |  WHERE dst IS NOT NULL AND dst <> src),
        |verts AS MATERIALIZED (
        |  SELECT src AS x FROM edges UNION SELECT dst FROM edges),
        |r AS (SELECT x AS a, x AS b FROM verts
        |      UNION
        |      SELECT r.a, e.dst FROM r JOIN edges e ON e.src = r.b),
        |mutual AS (SELECT r1.a AS u, r1.b AS v FROM r r1
        |           JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a),
        |lab AS MATERIALIZED (
        |  SELECT v AS member, MIN(u) AS scc_id FROM mutual GROUP BY v),
        |cond AS MATERIALIZED (
        |  SELECT DISTINCT ls.scc_id AS s_scc, ld.scc_id AS d_scc
        |  FROM edges e
        |  JOIN lab ls ON ls.member = e.src
        |  JOIN lab ld ON ld.member = e.dst
        |  WHERE ls.scc_id <> ld.scc_id),
        |sizes AS (SELECT scc_id, COUNT(*) AS scc_size FROM lab GROUP BY 1),
        |od AS (SELECT s_scc AS scc_id, COUNT(*) AS cond_out_deg
        |  FROM cond GROUP BY 1),
        |id_ AS (SELECT d_scc AS scc_id, COUNT(*) AS cond_in_deg
        |  FROM cond GROUP BY 1)
        |SELECT sizes.scc_id, CAST(sizes.scc_size AS BIGINT) AS scc_size,
        |  CAST(COALESCE(od.cond_out_deg, 0) AS BIGINT) AS cond_out_deg,
        |  CAST(COALESCE(id_.cond_in_deg, 0) AS BIGINT) AS cond_in_deg
        |FROM sizes
        |LEFT JOIN od ON od.scc_id = sizes.scc_id
        |LEFT JOIN id_ ON id_.scc_id = sizes.scc_id
        |ORDER BY sizes.scc_id""".stripMargin,
    "graph_scc_full" ->
      """WITH RECURSIVE
        |li AS (SELECT l.l_orderkey o, l.l_linenumber ln,
        |         l.l_partkey src, p.p_brand b
        |       FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |       WHERE p.p_brand IN ('Brand#11','Brand#23')),
        |w AS (SELECT o, b, src,
        |        LEAD(src) OVER (PARTITION BY o, b ORDER BY ln, src) AS dst
        |      FROM li),
        |edges AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM w
        |  WHERE dst IS NOT NULL AND dst <> src),
        |verts AS MATERIALIZED (
        |  SELECT src AS x FROM edges UNION SELECT dst FROM edges),
        |r AS (SELECT x AS a, x AS b FROM verts
        |      UNION
        |      SELECT r.a, e.dst FROM r JOIN edges e ON e.src = r.b),
        |mutual AS (SELECT r1.a AS u, r1.b AS v FROM r r1
        |           JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a),
        |lab AS (SELECT v AS member, MIN(u) AS scc_id FROM mutual GROUP BY v)
        |SELECT member, scc_id,
        |  CAST(COUNT(*) OVER (PARTITION BY scc_id) AS BIGINT) AS scc_size
        |FROM lab ORDER BY member""".stripMargin,
    "graph_scc_pivot" ->
      """WITH RECURSIVE edges AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT l_partkey AS src,
        |      LEAD(l_partkey) OVER (PARTITION BY l_orderkey
        |        ORDER BY l_linenumber, l_partkey) AS dst
        |    FROM lineitem)
        |  WHERE dst IS NOT NULL AND dst <> src),
        |pv AS (
        |  SELECT src AS p FROM edges GROUP BY src
        |  ORDER BY COUNT(*) DESC, src LIMIT 1),
        |fwd(x) AS (
        |  SELECT p FROM pv
        |  UNION
        |  SELECT e.dst FROM fwd JOIN edges e ON e.src = fwd.x),
        |bwd(x) AS (
        |  SELECT p FROM pv
        |  UNION
        |  SELECT e.src FROM bwd JOIN edges e ON e.dst = bwd.x)
        |SELECT member FROM (
        |  SELECT x AS member FROM fwd
        |  INTERSECT
        |  SELECT x AS member FROM bwd)
        |ORDER BY member""".stripMargin,
    "graph_hierarchy_flatten" ->
      // per-node recursive climb to the root — a different algorithm
      // (O(depth) per node) that must agree with the engine's doubling
      """WITH RECURSIVE pp AS (SELECT p_partkey AS k,
        |    CASE WHEN p_partkey < 4 THEN p_partkey
        |      ELSE p_partkey // 4 END AS par
        |  FROM part),
        |walk AS (
        |  SELECT k, k AS cur, CAST(0 AS BIGINT) AS d FROM pp
        |  UNION ALL
        |  SELECT w.k, p.par, w.d + 1
        |  FROM walk w JOIN pp p ON p.k = w.cur WHERE p.par <> w.cur)
        |SELECT k AS p_partkey, cur AS root, d AS depth FROM (
        |  SELECT k, cur, d, ROW_NUMBER() OVER (PARTITION BY k
        |    ORDER BY d DESC) AS rk FROM walk) WHERE rk = 1
        |ORDER BY p_partkey""".stripMargin,
    "graph_label_propagation" ->
      // two unrolled sync rounds; ROW_NUMBER (cnt DESC, lbl) = the
      // engine's min(struct(-cnt, lbl)) max-count-min-label rule
      s"""WITH $edgesCte,
         |verts AS (SELECT DISTINCT src AS x FROM dir),
         |l0 AS (SELECT x, x AS lbl FROM verts),
         |c1 AS (SELECT d.src, l.lbl, COUNT(*) AS cnt
         |  FROM dir d JOIN l0 l ON d.dst = l.x GROUP BY d.src, l.lbl),
         |l1 AS (SELECT src AS x, lbl FROM (
         |    SELECT src, lbl, ROW_NUMBER() OVER (PARTITION BY src
         |      ORDER BY cnt DESC, lbl) AS rk FROM c1) WHERE rk = 1),
         |c2 AS (SELECT d.src, l.lbl, COUNT(*) AS cnt
         |  FROM dir d JOIN l1 l ON d.dst = l.x GROUP BY d.src, l.lbl),
         |l2 AS (SELECT src AS x, lbl FROM (
         |    SELECT src, lbl, ROW_NUMBER() OVER (PARTITION BY src
         |      ORDER BY cnt DESC, lbl) AS rk FROM c2) WHERE rk = 1)
         |SELECT x AS l_partkey, lbl AS community FROM l2
         |ORDER BY l_partkey""".stripMargin,
    "graph_modularity" ->
      // same 2-round unrolled labeling; Q from the collapsed integer
      // sums (intra, sum of squared community degrees)
      s"""WITH $edgesCte,
         |verts AS (SELECT DISTINCT src AS x FROM dir),
         |l0 AS (SELECT x, x AS lbl FROM verts),
         |c1 AS (SELECT d.src, l.lbl, COUNT(*) AS cnt
         |  FROM dir d JOIN l0 l ON d.dst = l.x GROUP BY d.src, l.lbl),
         |l1 AS (SELECT src AS x, lbl FROM (
         |    SELECT src, lbl, ROW_NUMBER() OVER (PARTITION BY src
         |      ORDER BY cnt DESC, lbl) AS rk FROM c1) WHERE rk = 1),
         |c2 AS (SELECT d.src, l.lbl, COUNT(*) AS cnt
         |  FROM dir d JOIN l1 l ON d.dst = l.x GROUP BY d.src, l.lbl),
         |l2 AS (SELECT src AS x, lbl FROM (
         |    SELECT src, lbl, ROW_NUMBER() OVER (PARTITION BY src
         |      ORDER BY cnt DESC, lbl) AS rk FROM c2) WHERE rk = 1),
         |ea AS (
         |  SELECT COUNT(*) AS m,
         |    CAST(SUM(CASE WHEN a.lbl = b.lbl THEN 1 ELSE 0 END) AS BIGINT)
         |      AS intra
         |  FROM edges e JOIN l2 a ON e.u = a.x JOIN l2 b ON e.v = b.x),
         |ds AS (
         |  SELECT l.lbl, CAST(SUM(g.deg) AS BIGINT) AS dc
         |  FROM (SELECT src, COUNT(*) AS deg FROM dir GROUP BY src) g
         |  JOIN l2 l ON g.src = l.x GROUP BY l.lbl),
         |ca AS (SELECT COUNT(*) AS n_communities,
         |  CAST(SUM(dc * dc) AS BIGINT) AS sd2 FROM ds)
         |SELECT m AS n_edges, intra AS intra_edges, n_communities,
         |  ROUND(CAST(intra AS DOUBLE) / CAST(m AS DOUBLE) -
         |    CAST(sd2 AS DOUBLE) /
         |    (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 9) AS modularity
         |FROM ea CROSS JOIN ca""".stripMargin,
    "graph_degree_hist" ->
      s"""WITH $edgesCte,
         |verts AS (SELECT src AS x FROM dir),
         |degs AS (SELECT x, COUNT(*) AS deg FROM verts GROUP BY x)
         |SELECT deg, COUNT(*) AS n_vertices FROM degs GROUP BY deg
         |ORDER BY deg""".stripMargin,
    "graph_clustering_coeff" ->
      s"""WITH $edgesCte,
         |tris AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM edges e1 JOIN edges e2 ON e1.v = e2.u
         |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
         |tverts AS (
         |  SELECT a AS v FROM tris UNION ALL SELECT b FROM tris
         |  UNION ALL SELECT c FROM tris),
         |tcnt AS (SELECT v AS x, COUNT(*) AS n_tri FROM tverts GROUP BY 1),
         |degs AS (SELECT src AS x, COUNT(*) AS deg FROM dir GROUP BY 1),
         |cc AS (
         |  SELECT degs.deg, COALESCE(tcnt.n_tri, 0) AS t
         |  FROM degs LEFT JOIN tcnt ON degs.x = tcnt.x
         |  WHERE degs.deg >= 2)
         |SELECT deg, COUNT(*) AS n_vertices,
         |  CAST(SUM(t) AS BIGINT) AS sum_triangles,
         |  ROUND(2.0 * CAST(SUM(t) AS DOUBLE) /
         |    CAST(deg * (deg - 1) * COUNT(*) AS DOUBLE), 9) AS avg_clustering
         |FROM cc GROUP BY deg ORDER BY deg""".stripMargin,
    "graph_triangle_count" ->
      s"""WITH $edgesCte,
         |tris AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM edges e1 JOIN edges e2 ON e1.v = e2.u
         |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
         |tverts AS (
         |  SELECT a AS v FROM tris UNION ALL SELECT b FROM tris
         |  UNION ALL SELECT c FROM tris)
         |SELECT v AS l_partkey, COUNT(*) AS n_tri FROM tverts GROUP BY 1
         |ORDER BY n_tri DESC, l_partkey LIMIT 20""".stripMargin,
    "graph_bfs_reach" ->
      s"""WITH $edgesCte,
         |verts AS (SELECT DISTINCT src AS x FROM dir),
         |d0 AS (SELECT x FROM verts WHERE x % 20 = 0),
         |d1 AS (SELECT DISTINCT dst AS x FROM dir JOIN d0 ON src = d0.x
         |       EXCEPT SELECT x FROM d0),
         |d2 AS (SELECT DISTINCT dst AS x FROM dir JOIN d1 ON src = d1.x
         |       EXCEPT (SELECT x FROM d0 UNION SELECT x FROM d1)),
         |d3 AS (SELECT DISTINCT dst AS x FROM dir JOIN d2 ON src = d2.x
         |       EXCEPT (SELECT x FROM d0 UNION SELECT x FROM d1
         |               UNION SELECT x FROM d2)),
         |lab AS (SELECT x, 0 AS depth FROM d0
         |  UNION ALL SELECT x, 1 FROM d1
         |  UNION ALL SELECT x, 2 FROM d2
         |  UNION ALL SELECT x, 3 FROM d3)
         |SELECT CAST(COALESCE(lab.depth, -1) AS INTEGER) AS depth,
         |  COUNT(*) AS n_vertices
         |FROM verts LEFT JOIN lab ON verts.x = lab.x
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "graph_bfs_converged" -> bfsLayeredSql(BfsMaxDepth),
    "graph_kcore" -> kcoreLayeredSql(KCoreK, KCoreMaxRounds),
    "graph_lpa_converged" -> lpaLayeredSql(LpaMaxRounds),
    "graph_jaccard_neighbors" ->
      s"""WITH $edgesCte,
         |degs AS (SELECT src, COUNT(*) AS deg FROM dir GROUP BY src),
         |common AS (
         |  SELECT a.src AS u, b.src AS v, COUNT(*) AS common
         |  FROM dir a JOIN dir b ON a.dst = b.dst AND a.src < b.src
         |  GROUP BY 1, 2)
         |SELECT c.u, c.v, c.common, du.deg AS du, dv.deg AS dv,
         |  CAST(c.common AS DOUBLE) /
         |    CAST(du.deg + dv.deg - c.common AS DOUBLE) AS jaccard
         |FROM common c
         |JOIN degs du ON c.u = du.src
         |JOIN degs dv ON c.v = dv.src
         |ORDER BY jaccard DESC, c.u, c.v LIMIT 20""".stripMargin,
    "graph_local_clustering_topk" ->
      s"""WITH $edgesCte,
         |tris AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM edges e1 JOIN edges e2 ON e1.v = e2.u
         |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
         |tverts AS (
         |  SELECT a AS v FROM tris UNION ALL SELECT b FROM tris
         |  UNION ALL SELECT c FROM tris),
         |tcnt AS (SELECT v AS x, COUNT(*) AS n_tri FROM tverts GROUP BY 1),
         |degs AS (SELECT src AS x, COUNT(*) AS deg FROM dir GROUP BY 1)
         |SELECT degs.x AS part, degs.deg,
         |  COALESCE(tcnt.n_tri, 0) AS n_triangles,
         |  ROUND(2.0 * CAST(COALESCE(tcnt.n_tri, 0) AS DOUBLE) /
         |    CAST(degs.deg * (degs.deg - 1) AS DOUBLE), 9) AS local_cc
         |FROM degs LEFT JOIN tcnt ON degs.x = tcnt.x
         |WHERE degs.deg >= 2
         |ORDER BY local_cc DESC, part LIMIT 20""".stripMargin,
    "graph_knn_degree_curve" ->
      s"""WITH $edgesCte,
         |degs AS (SELECT src, COUNT(*) AS deg FROM dir GROUP BY src),
         |nk AS (SELECT deg AS k, COUNT(*) AS n_vertices
         |  FROM degs GROUP BY 1),
         |ends AS (
         |  SELECT du.deg AS k, CAST(SUM(dv.deg) AS BIGINT) AS snd,
         |    COUNT(*) AS n_ends
         |  FROM dir d JOIN degs du ON d.src = du.src
         |  JOIN degs dv ON d.dst = dv.src
         |  GROUP BY 1)
         |SELECT e.k, nk.n_vertices,
         |  ROUND(CAST(e.snd AS DOUBLE) / CAST(e.n_ends AS DOUBLE), 9)
         |    AS knn_mean
         |FROM ends e JOIN nk ON e.k = nk.k
         |ORDER BY e.k""".stripMargin,
    "graph_link_prediction_ra" ->
      // ordered 1/deg fold per pair (the list_reduce recipe); NOT
      // EXISTS keeps only absent links — the canonical u<v edge set is
      // re-derived from the textbook self-join prelude
      s"""WITH $edgesCte,
         |degs AS (SELECT src, COUNT(*) AS deg FROM dir GROUP BY src),
         |wedges AS (
         |  SELECT a.src AS u, b.src AS v, a.dst AS z, dz.deg AS zdeg
         |  FROM dir a JOIN dir b ON a.dst = b.dst AND a.src < b.src
         |  JOIN degs dz ON a.dst = dz.src),
         |ne AS (
         |  SELECT u, v, z, zdeg FROM wedges w
         |  WHERE NOT EXISTS (SELECT 1 FROM edges e
         |    WHERE e.u = w.u AND e.v = w.v))
         |SELECT u, v, COUNT(*) AS common,
         |  ROUND(list_reduce(list_prepend(0.0,
         |    list(1.0 / CAST(zdeg AS DOUBLE) ORDER BY z)),
         |    (a, x) -> a + x), 9) AS ra_score
         |FROM ne GROUP BY u, v
         |ORDER BY ra_score DESC, u, v LIMIT 30""".stripMargin,
    "graph_pagerank_iter" ->
      // production sum on both sides; round(12) absorbs the sum-order
      // ulp drift between engines (see graphPagerankIter scaladoc)
      s"""WITH $edgesCte,
         |outdeg AS (SELECT src, COUNT(*) AS deg FROM dir GROUP BY 1),
         |nv AS (SELECT COUNT(*) AS n FROM outdeg),
         |contrib AS (SELECT d.dst, d.src,
         |    CAST(1.0 AS DOUBLE) / nv.n / od.deg AS c
         |  FROM dir d JOIN outdeg od ON d.src = od.src CROSS JOIN nv)
         |SELECT dst AS l_partkey, COUNT(*) AS deg,
         |  round(CAST(0.15 AS DOUBLE) / (SELECT n FROM nv)
         |    + CAST(0.85 AS DOUBLE) * SUM(c), 12) AS pr
         |FROM contrib GROUP BY dst ORDER BY l_partkey""".stripMargin,
    "graph_pagerank_converged" ->
      // recursive CTE with the engine's EXACT stopping rule: DuckDB's
      // recursive term sees the previous iteration's working table, so
      // (SELECT max(delta) FROM t) >= tol gates round r+1 on round r's
      // max|Δ| — precisely the driver-side while-condition; r < cap is
      // the round cap. Base round r=0 carries delta=1 so round 1 always
      // runs. Output rounds to 9 decimals on both sides.
      // Edge/degree CTEs MATERIALIZED (the bfsLayeredSql lesson, hit
      // again at sf10): a plain CTE referenced from the RECURSIVE term
      // is re-planned EVERY iteration, so each of up to PrMaxRounds
      // rounds re-ran the lineitem co-purchase self-join — at sf10
      // that spilled >78 GB of DuckDB temp and died of disk, while the
      // materialized form computes edges/degrees once.
      s"""WITH RECURSIVE ${edgesCte.replace(" AS (", " AS MATERIALIZED (")},
         |od AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM dir GROUP BY 1),
         |nv AS MATERIALIZED (SELECT COUNT(*) AS n FROM od),
         |t AS (
         |  SELECT 0 AS r, src AS x,
         |         CAST(deg AS DOUBLE) /
         |           (SELECT CAST(SUM(deg) AS DOUBLE) FROM od) AS pr,
         |         CAST(1.0 AS DOUBLE) AS delta
         |  FROM od
         |  UNION ALL
         |  SELECT nr.r, nr.x, nr.pr, abs(nr.pr - prev.pr) AS delta
         |  FROM (
         |    SELECT a.r + 1 AS r, d.dst AS x,
         |           CAST(0.15 AS DOUBLE) / (SELECT n FROM nv)
         |             + CAST(0.85 AS DOUBLE) * sum(a.pr / od.deg) AS pr
         |    FROM t a JOIN dir d ON a.x = d.src JOIN od ON a.x = od.src
         |    WHERE a.r < $PrMaxRounds
         |      AND (SELECT max(delta) FROM t) >=
         |          CAST($PrRelTol AS DOUBLE) / (SELECT n FROM nv)
         |    GROUP BY a.r, d.dst
         |  ) nr JOIN t prev ON prev.x = nr.x
         |)
         |SELECT x AS l_partkey, round(pr, 9) AS pr,
         |       CAST((SELECT max(r) FROM t) AS INTEGER) AS n_rounds
         |FROM t WHERE r = (SELECT max(r) FROM t) ORDER BY l_partkey""".stripMargin
  )
}
