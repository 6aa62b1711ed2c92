package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Eager, QueryModule, Tables}

/** Iterative graph analytics over an interaction graph (q77) — the
  * domain-authority stage of a crawl/curation pipeline: PageRank-style
  * scores weight documents by the authority of their origin before
  * training-mix decisions (the reference pipeline has no graph stage at
  * all — this is a north-star extension like q70's k-means).
  *
  * The graph is derived deterministically from `events` (the corpus has no
  * explicit edge table): src = user_id, dst = event_id mod [[NodeMod]],
  * distinct-ified — a bipartite interaction graph folded into one id space,
  * ~|users|+[[NodeMod]] nodes. Production callers substitute their real
  * (src, dst) edge table; everything downstream of `edges` is the operator.
  *
  * CROSS-ENGINE DETERMINISM (same discipline as q70's k-means): ranks are
  * integers scaled by 10⁶.
  *  - init r₀ = 10⁶ for every node.
  *  - contribution per edge = r_src div outdeg(src) — exact integer
  *    division (both operands positive, Spark's `div` and DuckDB's `//`
  *    both floor).
  *  - new rank = 150000 + floor(0.85 · Σ contrib): the Σ is an exact
  *    BIGINT, one IEEE multiply + floor is bit-identical in both engines.
  *  - dangling-node mass is NOT redistributed (the standard simplification;
  *    documented, identical on both sides).
  *
  * SCALE SHAPE: every iteration is two skinny shuffles — join ranks⋈edges
  * hash-partitioned on src, then groupBy(dst) with map-side partial sums —
  * and every shuffled row is (long, long). The edge set and out-degrees are
  * computed once and cached (on a cluster: bucketed by src so the per-round
  * join is exchange-free on the edge side); ranks are localCheckpoint-ed
  * per round to truncate the growing lineage exactly like q38's
  * connected-components loop. Driver traffic is zero — no collect anywhere
  * in the loop (unlike q70, whose model is bounded; a rank vector is not).
  */
object GraphOps extends QueryModule {

  /** Folds event_id into a bounded dst-node space so the graph has real
    * in-degree structure (many events per dst node) at every SF. */
  val NodeMod = 997L

  val Iters     = 3
  val RankScale = 1000000L
  /** floor((1−d)·RankScale) for d = 0.85, precomputed exactly. */
  val Teleport = 150000L

  /** Distinct (src, dst) edges of the folded interaction graph. */
  def edges(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(col("user_id").as("src"), (col("event_id") % NodeMod).as("dst"))
      .distinct()

  /** q77: [[Iters]] PageRank power iterations over [[edges]], returning
    * (node, rank, out_degree, in_degree) for every node. */
  def pageRank(s: SparkSession, dir: String): DataFrame =
    pageRankOver(edges(s, dir))

  /** The operator proper, over any (src, dst) edge set — fixture-testable
    * and the entry point for callers with a real edge table. */
  def pageRankOver(edgeDf: DataFrame): DataFrame = {
    // One pass builds the reusable graph artifacts; cache both — every
    // iteration re-reads them (cluster analog: a bucketed edge table).
    val e = edgeDf.cache()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).cache()
    val indeg  = e.groupBy("dst").agg(count(lit(1)).as("indeg"))
    val nodes = e
      .select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .cache()

    try {
      var ranks = nodes.withColumn("rank", lit(RankScale))
      for (_ <- 1 to Iters) {
        val contribs = e
          .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
          .join(outdeg, Seq("src"))
          .select(col("dst"), call_function("div", col("rank"), col("outdeg")).as("contrib"))
          .groupBy("dst")
          .agg(sum(col("contrib")).as("mass"))
        ranks = nodes
          .join(contribs.withColumnRenamed("dst", "node"), Seq("node"), "left")
          .select(
            col("node"),
            (lit(Teleport) +
              floor(lit(0.85) * coalesce(col("mass"), lit(0L)).cast(DoubleType)).cast(LongType))
              .as("rank")
          )
          .transform(Eager.materialize(_, "graphOps.pageRank.round")) // truncate the per-round lineage (q38's pattern)
      }
      ranks
        .join(outdeg.withColumnRenamed("src", "node"), Seq("node"), "left")
        .join(indeg.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(
          col("node"),
          col("rank"),
          coalesce(col("outdeg"), lit(0L)).as("out_degree"),
          coalesce(col("indeg"), lit(0L)).as("in_degree")
        )
        // materialize the (nodes-sized) result before the finally releases
        // the caches it was built from
        .transform(Eager.materialize(_, "graphOps.pageRank.result"))
    } finally {
      // release the loop's caches on EVERY path — an exception mid-iteration
      // would otherwise leak three cached DataFrames for the session lifetime
      e.unpersist()
      outdeg.unpersist()
      nodes.unpersist()
    }
  }

  /** q134: exact triangle counting + local clustering coefficient via
    * DEGREE-ORDERED ORIENTATION — the standard shuffle-bounded algorithm
    * (Suri & Vassilvitskii's MR triangle counting; the cover graph trick).
    *
    * A naive wedge enumeration joins every node's full neighbor list with
    * itself: a single hub with degree h contributes h² wedge rows, and real
    * interaction graphs are exactly the graphs with such hubs. Orienting
    * every undirected edge from its lower-(degree, id) endpoint to the
    * higher one makes each triangle countable exactly once at its LOWEST
    * endpoint, and bounds every oriented out-degree by O(√m) — the wedge
    * exchange shrinks from Σdeg² (quadratic in the hub) to Σoutdeg² ≤
    * O(m^1.5) worst-case, in practice near-linear. Every shuffled row is 2–4
    * longs; no adjacency list is ever materialized per-node.
    *
    * Determinism: counts and degrees are exact integers; the local
    * clustering coefficient ships as ppm via exact integer floor-division
    * (2·10⁶·T div d·(d−1)) — no IEEE anywhere.
    */
  def triangleStats(s: SparkSession, dir: String): DataFrame =
    triangleStatsOver(edges(s, dir))

  /** Orientation of [[undirected]] edges, lower→higher in (deg, id) order,
    * each row carrying the head's degree so the wedge self-join can order
    * its two heads WITHOUT another degree lookup. Returned alongside the
    * degree table. The oriented table is REPARTITIONED across the session's
    * cores: it is tiny (one row per edge, three longs) so AQE coalesces it
    * to few partitions, but it feeds an EXPANDING self-join — without the
    * fan-out the Σoutdeg² wedge stream would run on one task (a dense fold
    * at 10× showed exactly that: wall ≈ cpu). The repartition moves edge
    * rows, never wedges. */
  /** NOT checkpointed inside (measured r18): materializing deg+oriented
    * halves q134/q138 task cpu (wedge self-join reads `oriented` 3×, q138's
    * sim join reads `deg` twice more) but the three extra job barriers cost
    * +0.5 s wall per row at gate scale — the recompute from a checkpointed
    * `und` is cheap joins that 32 cores absorb. Callers checkpoint `und`
    * (the events→distinct-edges subtree) instead; at cluster scale the
    * cluster analog for the oriented set is a bucketed edge table, not a
    * per-query checkpoint. */
  private def orientedOf(und: DataFrame): (DataFrame, DataFrame) = {
    val deg = und
      .select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node")
      .agg(count(lit(1)).as("deg"))
    val aFirst = col("deg_a") < col("deg_b") ||
      (col("deg_a") === col("deg_b") && col("a") < col("b"))
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"),
        when(aFirst, col("deg_b")).otherwise(col("deg_a")).as("vdeg")
      )
      .repartition(und.sparkSession.sparkContext.defaultParallelism)
    (oriented, deg)
  }

  /** Oriented triangle enumeration: one row per triangle (u, x, y), each
    * counted once at its lowest-(deg, id) corner. */
  private def trianglesOf(oriented: DataFrame): DataFrame = {
    // Wedges at u, heads ordered by (deg, id) — each unordered head pair
    // emitted once, halving the stream vs the x =!= y formulation.
    val headOrder = col("xdeg") < col("ydeg") ||
      (col("xdeg") === col("ydeg") && col("x") < col("y"))
    oriented
      .select(col("u"), col("v").as("x"), col("vdeg").as("xdeg"))
      .join(oriented.select(col("u"), col("v").as("y"), col("vdeg").as("ydeg")), Seq("u"))
      .filter(headOrder)
      // a wedge closes iff the oriented edge x→y exists (x before y in the
      // orientation order by construction, so only one probe direction)
      .join(oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select("u", "x", "y")
  }

  /** The operator proper over any (src, dst) edge set. */
  def triangleStatsOver(edgeDf: DataFrame): DataFrame = {
    // und feeds deg's union (2 evals) + the orientation join (1) — one
    // skinny checkpoint instead of three events→distinct-edges passes;
    // deg/oriented materialized for the wedge self-join's triple read
    val (oriented, deg) = orientedOf(Eager.materialize(undirected(edgeDf), "graphOps.edges"))
    val tri = trianglesOf(oriented)
    // one explode pass charges all three corners — a 3-way union would
    // recompute the wedge join three times
    val perNode = tri
      .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("triangles"))
    deg
      .join(perNode, Seq("node"), "left")
      .select(
        col("node"),
        col("deg").as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(
          col("deg") >= 2,
          call_function(
            "div",
            lit(2000000L) * coalesce(col("triangles"), lit(0L)),
            col("deg") * (col("deg") - lit(1L))
          )
        ).otherwise(lit(0L)).as("cc_ppm")
      )
  }

  /** Delta fraction selector for [[triangleDelta]] — undirected edges whose
    * fp8 lands on this residue (≈10%) arrive as the "new" batch. */
  val EdgeDeltaMod = 10L

  /** Canonical undirected distinct edge set of any (src, dst) edge list. */
  private def undirected(edgeDf: DataFrame): DataFrame =
    edgeDf
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** q137: INCREMENTAL triangle maintenance — q125's O(delta) refresh
    * discipline applied to q134's triangle count. A standing graph metric
    * (fraud rings, link-farm density, community cohesion) cannot recount
    * the whole graph per edge batch; the arriving batch must pay only for
    * what it touches. Each NEW triangle contains ≥ 1 delta edge; counting
    * it exactly once without inclusion-exclusion uses the closing-edge
    * attribution: order delta edges lexicographically (base edges rank
    * below all deltas), and charge each new triangle to its HIGHEST delta
    * edge. An edge (a, b) then closes the triangles {a, b, c} where both
    * side edges (a, c), (b, c) are base-or-earlier-delta — two
    * delta×adjacency joins, cost O(|Δ| · d̄), independent of |G|'s
    * triangle count. The all-three-edges-new triangle is counted once (by
    * its lexicographic max), which is exactly the case naive per-edge
    * common-neighbor counting triple-counts.
    *
    * The oracle proves the increment against a DIFFERENT algorithm: two
    * scratch q134-style counts (base, base∪delta) diffed — the same
    * rebuild-equivalence contract q125 pins for rollups. touched_nodes
    * (nodes whose local count changed) comes from the per-node diff on the
    * oracle side vs the distinct corners of closed triangles on the
    * engine side. */
  def triangleDelta(s: SparkSession, dir: String): DataFrame = {
    // The canonical edge set is checkpointed ONCE with its delta flag as a
    // column: base and delta are filters of it, so neither re-derives the
    // events→distinct-edges pipeline and no read re-hashes an edge.
    val part = graft.functions.Fingerprints
      .fp8(concat(col("a").cast(StringType), lit(":"), col("b").cast(StringType))) % EdgeDeltaMod
    val und = Eager.materialize(
      undirected(edges(s, dir)).withColumn("is_delta", part === EdgeDeltaMod - 1),
      "graphOps.edges")
    triangleDeltaOver(und.filter(!col("is_delta")).select("a", "b"), und.filter(col("is_delta")).select("a", "b"))
  }

  /** The operator proper over canonical (a, b) base and delta edge sets
    * (disjoint, a < b, distinct).
    *
    * Plan shape (the part that makes it O(delta) in practice, not just on
    * paper): the DELTA side broadcasts — it is small by the incremental
    * premise — so candidate enumeration STREAMS the adjacency through the
    * broadcast hash in one codegen pass; the side-edge verification then
    * probes the adjacency again as a build pre-shrunk to edges leaving a
    * delta endpoint (a no-op on the saturated test fold, a huge cut on a
    * real sparse graph; the 100 TB analog is q106's bucketed index probe).
    * Candidates never hit an exchange, and both output aggregates fold in
    * ONE pass over the closed-triangle corners.
    *
    * That verify-side build broadcasts only under a measured size guard:
    * it scales with the hub degrees of delta db-endpoints, not |Δ|, so an
    * unconditional hint can exceed the driver's broadcast limit on a
    * hub-heavy batch. One count of the build decides against
    * [[Adj2BroadcastRows]]; above it the planner/AQE picks the join.
    * Measured at the 10× fold: the hint takes the verify join from a
    * sorted exchange of the 108M-row candidate stream to a stationary
    * broadcast probe. */
  def triangleDeltaOver(base: DataFrame, delta: DataFrame): DataFrame = {
    // Adjacency of base ∪ delta in both directions, each row carrying its
    // canonical (lo, hi) pair + delta flag so the "allowed before (da, db)"
    // predicate is a pure column comparison — no rank materialization.
    val tagged = base
      .withColumn("is_delta", lit(false))
      .unionByName(delta.withColumn("is_delta", lit(true)))
    val adj = tagged
      .select(col("a").as("x"), col("b").as("y"), col("a").as("lo"), col("b").as("hi"), col("is_delta"))
      .unionByName(
        tagged.select(col("b").as("x"), col("a").as("y"), col("a").as("lo"), col("b").as("hi"), col("is_delta"))
      )
    val d = delta.select(col("a").as("da"), col("b").as("db"))
    def allowedBefore(lo: Column, hi: Column, del: Column) =
      !del || (lo < col("da")) || (lo === col("da") && hi < col("db"))
    // Candidates c adjacent to da: adjacency streams, delta broadcasts.
    val viaA = adj
      .join(
        broadcast(d),
        col("x") === col("da") && col("y") =!= col("db") &&
          allowedBefore(col("lo"), col("hi"), col("is_delta"))
      )
      .select(col("da"), col("db"), col("y").as("c"))
    // Verify the (db, c) side edge. Build side: adjacency restricted to
    // edges leaving a delta endpoint — on a real graph this is the
    // bucketed-index probe (q106). Its rows number Σ deg over the distinct
    // db endpoints, hub degrees included, hence the counted guard.
    val adj2base = adj
      .join(broadcast(d.select(col("db")).distinct()), col("x") === col("db"), "leftsemi")
      .select(col("x").as("x2"), col("y").as("y2"), col("lo").as("lo2"), col("hi").as("hi2"), col("is_delta").as("del2"))
    val adj2 =
      if (Eager.count(adj2base, "graphOps.triangleDelta.adj2") < Adj2BroadcastRows) broadcast(adj2base)
      else adj2base
    val closed = viaA
      .join(
        adj2,
        col("x2") === col("db") && col("y2") === col("c") &&
          allowedBefore(col("lo2"), col("hi2"), col("del2"))
      )
      .select(col("da"), col("db"), col("c"))
    // One pass over the corners yields both outputs: 3 rows per triangle,
    // so tri_added = corners/3 exactly; touched = distinct corner nodes.
    val corners = closed.select(explode(array(col("da"), col("db"), col("c"))).as("node"))
    corners
      .agg(
        call_function("div", count(lit(1)), lit(3L)).as("tri_added"),
        countDistinct(col("node")).as("touched_nodes")
      )
      .crossJoin(delta.agg(count(lit(1)).as("n_delta_edges")))
      .select("n_delta_edges", "tri_added", "touched_nodes")
  }

  /** Row ceiling under which [[triangleDeltaOver]] forces the verify-side
    * broadcast — ~2M five-long rows ≈ 80 MB, comfortably under
    * driver/executor broadcast budgets on a real cluster; above it the
    * planner keeps its choice (AQE broadcasts smaller folds on its own). */
  val Adj2BroadcastRows = 2000000L

  /** Edges reported by [[edgeSimilarity]]. */
  val EdgeSimTopK = 50

  /** q138: structural edge similarity (shared-neighbor / SNN strength) —
    * the edge-weighting step in front of community detection and
    * link-farm screens: for each edge {a, b}, Jaccard overlap of the two
    * endpoints' neighborhoods, |N(a)∩N(b)| / |N(a)∪N(b)∖{a,b}|. A strong
    * edge lives inside a dense cluster; a zero-similarity edge is a
    * bridge (or spam link) no triangle supports. SCAN-family clustering
    * and edge-pruning pipelines consume exactly this table.
    *
    * |N(a)∩N(b)| per edge is the edge's TRIANGLE count — q134's oriented
    * wedge machinery re-keyed by edge: each closed triangle charges its
    * three canonical edges (one narrow 3-way projection, partial-agg'd),
    * so the whole computation inherits orientation's Σoutdeg² bound; the
    * union size is pure degree arithmetic (deg(a)+deg(b)−2−t). sim ships
    * as exact integer ppm via floor division — no IEEE anywhere; ranking
    * is the bounded-heap top-[[EdgeSimTopK]] on (sim DESC, a, b). */
  def edgeSimilarity(s: SparkSession, dir: String): DataFrame =
    edgeSimilarityOver(edges(s, dir))

  /** The operator proper over any (src, dst) edge set. */
  def edgeSimilarityOver(edgeDf: DataFrame): DataFrame = {
    // und feeds deg (2 evals), the orientation join (1) AND the final sim
    // join (1); deg is read twice more by sim — same checkpoint discipline
    // as triangleStatsOver (r18)
    val und             = Eager.materialize(undirected(edgeDf), "graphOps.edges")
    val (oriented, deg) = orientedOf(und)
    val tri             = trianglesOf(oriented)
    // each triangle supports its three edges: ONE explode pass (a 3-way
    // union would recompute the wedge join three times), canonical pairs,
    // map-side partial count before the (a, b) exchange
    def edgeOf(p: Column, q: Column) = struct(least(p, q).as("a"), greatest(p, q).as("b"))
    val perEdge = tri
      .select(
        explode(
          array(
            edgeOf(col("u"), col("x")),
            edgeOf(col("u"), col("y")),
            edgeOf(col("x"), col("y"))
          )
        ).as("e")
      )
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("common"))
    val denom = col("deg_a") + col("deg_b") - lit(2L) - col("common")
    val sim = und
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), Seq("b"))
      .join(perEdge, Seq("a", "b"), "left")
      .withColumn("common", coalesce(col("common"), lit(0L)))
      .withColumn(
        "sim_ppm",
        when(denom > 0, call_function("div", col("common") * lit(1000000L), denom)).otherwise(lit(0L))
      )
    sim
      .agg(
        graft.plans.TopKAggregate
          .topK(
            struct(col("sim_ppm"), col("a"), col("b"), col("common"), col("deg_a"), col("deg_b")),
            EdgeSimTopK,
            reversed = Seq(false, true, true) // sim DESC, a ASC, b ASC
          )
          .as("top")
      )
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        (col("pos") + 1).cast(LongType).as("rnk"),
        col("t.a").as("a"),
        col("t.b").as("b"),
        col("t.common").as("common"),
        col("t.deg_a").as("deg_a"),
        col("t.deg_b").as("deg_b"),
        col("t.sim_ppm").as("sim_ppm")
      )
  }

  /** Core threshold and peel rounds for [[kCore]]. */
  val CoreK      = 8
  val CoreRounds = 8

  /** q139: bounded-round k-core peel — the density-core extractor behind
    * link-farm detection and community seeding: iteratively remove nodes
    * with degree < k until the remainder is the k-core. Stopping after at
    * most [[CoreRounds]] rounds makes the semantics deterministic and
    * cross-engine exact (the oracle unrolls the same rounds as CTEs —
    * q77's pattern); the bounded result is a sound OVER-approximation of
    * the true core (peeling only shrinks), and production runs the same
    * per-round plan to fixpoint. Per round: one survivors⋈edges semi-join
    * pair + one degree aggregate, every shuffled row (long, long);
    * survivor sets localCheckpoint-ed to truncate lineage (q38/q77's
    * loop discipline). */
  def kCore(s: SparkSession, dir: String): DataFrame =
    kCoreRuns(edges(s, dir))._1

  /** The operator proper, with the number of peel rounds it ran; `k` and
    * `rounds` parametrized for fixtures and production fixpoint callers.
    *
    * The peel stops early at a fixpoint: survivor sets shrink
    * MONOTONICALLY, so an unchanged survivor COUNT means an unchanged set,
    * which every later round reproduces. The output is therefore
    * bit-identical to running all `rounds`; the probe is one count on the
    * checkpointed skinny survivor table. */
  def kCoreRuns(edgeDf: DataFrame, k: Int = CoreK, rounds: Int = CoreRounds): (DataFrame, Int) = {
    val und = undirected(edgeDf).cache()
    try {
      val fullDeg = und
        .select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node")
        .agg(count(lit(1)).as("deg"))
      var surv      = Eager.materialize(fullDeg.select("node"), "graphOps.kCore.round")
      var prevCount = Eager.count(surv, "graphOps.kCore.round")
      var it = 0
      var stable = false
      while (it < rounds && !stable) {
        val e = und
          .join(surv.withColumnRenamed("node", "a"), Seq("a"), "leftsemi")
          .join(surv.withColumnRenamed("node", "b"), Seq("b"), "leftsemi")
        surv = e
          .select(explode(array(col("a"), col("b"))).as("node"))
          .groupBy("node")
          .agg(count(lit(1)).as("d"))
          .filter(col("d") >= k)
          .select("node")
          .transform(Eager.materialize(_, "graphOps.kCore.round"))
        val c = Eager.count(surv, "graphOps.kCore.round")
        stable = c == prevCount
        prevCount = c
        it += 1
      }
      val out = fullDeg
        .join(surv.withColumn("c", lit(1L)), Seq("node"), "left")
        .select(col("node"), col("deg").as("degree"), coalesce(col("c"), lit(0L)).as("in_core"))
        .transform(Eager.materialize(_, "graphOps.kCore.result"))
      (out, it)
    } finally und.unpersist()
  }

  /** q142: degree assortativity (Newman's r) — does the graph wire
    * high-degree nodes to each other (social cores, r > 0) or to leaves
    * (hub-and-spoke crawl frontiers and link farms, r < 0)? A one-number
    * health metric for the interaction graph, read next to q134's
    * clustering coefficients when deciding whether graph-derived
    * authority (q77) is trustworthy.
    *
    * r = Pearson correlation of the endpoint-degree pairs over every edge
    * counted in both directions. All five moment sums are EXACT BIGINTs
    * (one skinny aggregate); the final ratio is computed in doubles —
    * each operand is a deterministic BIGINT→DOUBLE rounding and the chain
    * is one multiply/subtract/sqrt/divide sequence of IEEE ops, so both
    * engines agree bit-for-bit, shipped floor-microed. Degree-regular
    * graphs have zero variance: r is undefined → reported 0 (documented
    * convention, matched in the oracle). */
  def assortativity(s: SparkSession, dir: String): DataFrame =
    assortativityOver(edges(s, dir))

  /** The operator proper over any (src, dst) edge set. */
  def assortativityOver(edgeDf: DataFrame): DataFrame = {
    val und = undirected(edgeDf)
    val deg = und
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("deg"))
    val e2 = und
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), Seq("b"))
    val pairs = e2
      .select(col("deg_a").as("x"), col("deg_b").as("y"))
      .unionByName(e2.select(col("deg_b").as("x"), col("deg_a").as("y")))
    val m = pairs.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"),
      sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy")
    )
    // moment magnitudes: deg ≤ √(2m), n = 2m → every product below stays
    // well inside BIGINT at any SF this engine targets (n·sxy ≲ 10¹⁸ at
    // the 10× replica's saturated fold)
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = sqrt(
      (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
        (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType)
    )
    m.select(
      call_function("div", col("n"), lit(2L)).as("n_edges"),
      col("n").as("n_endpoint_pairs"),
      when(den > 0, floor(num.cast(DoubleType) / den * lit(1000000.0)).cast(LongType))
        .otherwise(lit(0L))
        .as("assortativity_micros")
    )
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q142_assortativity"  -> (assortativity _),
    "q77_pagerank"        -> ((s, d) => pageRank(s, d)),
    "q134_triangle_count" -> (triangleStats _),
    "q137_triangle_delta" -> (triangleDelta _),
    "q138_edge_similarity" -> (edgeSimilarity _),
    "q139_kcore"          -> (kCore _)
  )

  /** The oracle unrolls the same integer iterations as CTEs (q70's
    * pattern): r0 → r1 → r2 → r3, each step = teleport + damped exact
    * contribution sum, `//` = Spark's `div` on positive BIGINTs. */
  private def stepSql(prev: String): String =
    s"""SELECT n.node,
       |  CAST(${Teleport} + floor(0.85 * CAST(COALESCE(m.mass, 0) AS DOUBLE)) AS BIGINT) AS rank
       |FROM nodes n LEFT JOIN (
       |  SELECT e.dst AS node, SUM(r.rank // o.outdeg) AS mass
       |  FROM edges e JOIN $prev r ON e.src = r.node JOIN outdeg o ON e.src = o.src
       |  GROUP BY e.dst
       |) m ON n.node = m.node""".stripMargin

  /** q134's orientation/wedge CTE chain over an arbitrary (a, b) edge CTE,
    * name-prefixed so q137's oracle can instantiate it twice (base, full)
    * in one statement. */
  private def triCtes(edgeSrc: String, p: String): String =
    s"""${p}deg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS deg
       |  FROM (SELECT a AS node FROM $edgeSrc UNION ALL SELECT b FROM $edgeSrc) GROUP BY 1
       |),
       |${p}ori AS (
       |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
       |              THEN u.a ELSE u.b END AS u,
       |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
       |              THEN u.b ELSE u.a END AS v,
       |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
       |              THEN db.deg ELSE da.deg END AS vdeg
       |  FROM $edgeSrc u
       |  JOIN ${p}deg da ON u.a = da.node
       |  JOIN ${p}deg db ON u.b = db.node
       |),
       |${p}tri AS (
       |  SELECT w1.u AS u, w1.v AS x, w2.v AS y
       |  FROM ${p}ori w1
       |  JOIN ${p}ori w2 ON w1.u = w2.u
       |   AND (w1.vdeg < w2.vdeg OR (w1.vdeg = w2.vdeg AND w1.v < w2.v))
       |  JOIN ${p}ori e ON e.u = w1.v AND e.v = w2.v
       |),
       |${p}pn AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS triangles
       |  FROM (SELECT u AS node FROM ${p}tri
       |        UNION ALL SELECT x FROM ${p}tri
       |        UNION ALL SELECT y FROM ${p}tri) GROUP BY 1
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q142_assortativity" ->
      s"""WITH und AS (
         |  SELECT DISTINCT least(user_id, event_id % $NodeMod) AS a,
         |                  greatest(user_id, event_id % $NodeMod) AS b
         |  FROM events WHERE user_id <> event_id % $NodeMod
         |),
         |deg AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS deg
         |  FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY 1
         |),
         |e2 AS (
         |  SELECT da.deg AS deg_a, db.deg AS deg_b
         |  FROM und u JOIN deg da ON u.a = da.node JOIN deg db ON u.b = db.node
         |),
         |pairs AS (
         |  SELECT deg_a AS x, deg_b AS y FROM e2
         |  UNION ALL SELECT deg_b, deg_a FROM e2
         |),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(y * y) AS BIGINT) AS syy
         |  FROM pairs
         |)
         |SELECT n // 2 AS n_edges, n AS n_endpoint_pairs,
         |  CASE WHEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) > 0
         |       THEN CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
         |            / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
         |            * 1000000.0) AS BIGINT)
         |       ELSE 0 END AS assortativity_micros
         |FROM m""".stripMargin,
    "q139_kcore" -> {
      // every survivor CTE is referenced twice by the next round's edge
      // filter — without MATERIALIZED, CTE inlining makes the unrolled
      // plan EXPONENTIAL in rounds (2⁸ copies of the whole scan chain;
      // observed as fd exhaustion on the parquet file)
      val rounds = (1 to CoreRounds).map { r =>
        s"""e$r AS MATERIALIZED (SELECT u.a, u.b FROM und u
           |  JOIN s${r - 1} x ON u.a = x.node JOIN s${r - 1} y ON u.b = y.node),
           |d$r AS (SELECT node, count(*) AS d
           |  FROM (SELECT a AS node FROM e$r UNION ALL SELECT b FROM e$r) GROUP BY 1),
           |s$r AS MATERIALIZED (SELECT node FROM d$r WHERE d >= $CoreK)""".stripMargin
      }.mkString(",\n")
      s"""WITH und AS MATERIALIZED (
         |  SELECT DISTINCT least(user_id, event_id % $NodeMod) AS a,
         |                  greatest(user_id, event_id % $NodeMod) AS b
         |  FROM events WHERE user_id <> event_id % $NodeMod
         |),
         |deg0 AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS deg
         |  FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY 1
         |),
         |s0 AS (SELECT node FROM deg0),
         |$rounds
         |SELECT g.node, g.deg AS degree,
         |  CAST(CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_core
         |FROM deg0 g LEFT JOIN s$CoreRounds s ON g.node = s.node""".stripMargin
    },
    "q138_edge_similarity" ->
      s"""WITH und AS (
         |  SELECT DISTINCT least(user_id, event_id % $NodeMod) AS a,
         |                  greatest(user_id, event_id % $NodeMod) AS b
         |  FROM events WHERE user_id <> event_id % $NodeMod
         |),
         |${triCtes("und", "g")},
         |pe AS (
         |  SELECT a, b, CAST(count(*) AS BIGINT) AS common FROM (
         |    SELECT least(u, x) AS a, greatest(u, x) AS b FROM gtri
         |    UNION ALL SELECT least(u, y), greatest(u, y) FROM gtri
         |    UNION ALL SELECT least(x, y), greatest(x, y) FROM gtri
         |  ) GROUP BY 1, 2
         |),
         |sim AS (
         |  SELECT u.a, u.b, COALESCE(pe.common, 0) AS common,
         |    da.deg AS deg_a, db.deg AS deg_b,
         |    CASE WHEN da.deg + db.deg - 2 - COALESCE(pe.common, 0) > 0
         |         THEN (COALESCE(pe.common, 0) * 1000000)
         |              // (da.deg + db.deg - 2 - COALESCE(pe.common, 0))
         |         ELSE 0 END AS sim_ppm
         |  FROM und u
         |  JOIN gdeg da ON u.a = da.node
         |  JOIN gdeg db ON u.b = db.node
         |  LEFT JOIN pe ON u.a = pe.a AND u.b = pe.b
         |)
         |SELECT rnk, a, b, common, deg_a, deg_b, sim_ppm FROM (
         |  SELECT a, b, common, deg_a, deg_b, sim_ppm,
         |    CAST(row_number() OVER (ORDER BY sim_ppm DESC, a, b) AS BIGINT) AS rnk
         |  FROM sim
         |) WHERE rnk <= $EdgeSimTopK""".stripMargin,
    "q137_triangle_delta" -> {
      val hashPart = graft.functions.Fingerprints
        .fp8Sql("CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)") + s" % $EdgeDeltaMod"
      s"""WITH und AS (
         |  SELECT DISTINCT least(user_id, event_id % $NodeMod) AS a,
         |                  greatest(user_id, event_id % $NodeMod) AS b
         |  FROM events WHERE user_id <> event_id % $NodeMod
         |),
         |tag AS (SELECT a, b, $hashPart AS part FROM und),
         |base AS (SELECT a, b FROM tag WHERE part < ${EdgeDeltaMod - 1}),
         |${triCtes("base", "b")},
         |${triCtes("und", "f")}
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM tag WHERE part = ${EdgeDeltaMod - 1}) AS n_delta_edges,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ftri)
         |    - (SELECT CAST(count(*) AS BIGINT) FROM btri) AS tri_added,
         |  (SELECT CAST(count(*) AS BIGINT)
         |   FROM fpn f LEFT JOIN bpn bb ON f.node = bb.node
         |   WHERE COALESCE(bb.triangles, 0) <> f.triangles) AS touched_nodes""".stripMargin
    },
    "q134_triangle_count" ->
      s"""WITH und AS (
         |  SELECT DISTINCT least(user_id, event_id % $NodeMod) AS a,
         |                  greatest(user_id, event_id % $NodeMod) AS b
         |  FROM events WHERE user_id <> event_id % $NodeMod
         |),
         |deg AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS deg
         |  FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY 1
         |),
         |ori AS (
         |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
         |              THEN u.a ELSE u.b END AS u,
         |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
         |              THEN u.b ELSE u.a END AS v,
         |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
         |              THEN db.deg ELSE da.deg END AS vdeg
         |  FROM und u
         |  JOIN deg da ON u.a = da.node
         |  JOIN deg db ON u.b = db.node
         |),
         |tri AS (
         |  SELECT w1.u AS u, w1.v AS x, w2.v AS y
         |  FROM ori w1
         |  JOIN ori w2 ON w1.u = w2.u
         |   AND (w1.vdeg < w2.vdeg OR (w1.vdeg = w2.vdeg AND w1.v < w2.v))
         |  JOIN ori e ON e.u = w1.v AND e.v = w2.v
         |),
         |pn AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS triangles
         |  FROM (SELECT u AS node FROM tri
         |        UNION ALL SELECT x FROM tri
         |        UNION ALL SELECT y FROM tri) GROUP BY 1
         |)
         |SELECT d.node, d.deg AS degree,
         |  COALESCE(p.triangles, 0) AS triangles,
         |  CASE WHEN d.deg >= 2
         |       THEN (2000000 * COALESCE(p.triangles, 0)) // (d.deg * (d.deg - 1))
         |       ELSE 0 END AS cc_ppm
         |FROM deg d LEFT JOIN pn p ON d.node = p.node""".stripMargin,
    "q77_pagerank" ->
      s"""WITH edges AS (
         |  SELECT DISTINCT user_id AS src, event_id % $NodeMod AS dst FROM events
         |),
         |nodes AS (
         |  SELECT src AS node FROM edges UNION SELECT dst FROM edges
         |),
         |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
         |indeg  AS (SELECT dst, count(*) AS indeg  FROM edges GROUP BY 1),
         |r0 AS (SELECT node, CAST($RankScale AS BIGINT) AS rank FROM nodes),
         |r1 AS (${stepSql("r0")}),
         |r2 AS (${stepSql("r1")}),
         |r3 AS (${stepSql("r2")})
         |SELECT r3.node AS node, r3.rank AS rank,
         |  COALESCE(o.outdeg, 0) AS out_degree,
         |  COALESCE(i.indeg, 0) AS in_degree
         |FROM r3
         |LEFT JOIN outdeg o ON r3.node = o.src
         |LEFT JOIN indeg  i ON r3.node = i.dst""".stripMargin
  )
}
