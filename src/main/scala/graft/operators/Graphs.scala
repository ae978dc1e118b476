package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative link-graph analysis over DataFrames — the operator class
  * BEYOND one-shot connected components ([[Dedup.duplicateClusters]]):
  * fixed-iteration Pregel-style message rounds expressed as join +
  * aggregate, the shape Spark executes well at graph scale.
  *
  * [[pageRankInt]] is FIXED-POINT INTEGER PageRank: ranks are scaled
  * longs, per-edge contributions use integer division, and the damping
  * step is integer arithmetic — so every round is EXACT and order-
  * independent (integer sums cannot reorder), which makes a 5-iteration
  * run reproducible bit-for-bit on any engine, any partitioning, any
  * retry. The float formulation would differ in the last ulp per
  * aggregation order; the integer one is the oracle-gateable face and
  * is accurate to ~1/scale per round, far below any ranking decision
  * anyone makes with PageRank. Use it for the web-curation authority
  * signal (host/domain rank as a quality weight) where reproducibility
  * is part of the data contract.
  */
object Graphs {

  /** `iters` rounds of damped PageRank over `edges` (srcCol → dstCol)
    * for every node in `nodes` (idCol), at fixed-point `scale`:
    *
    *   r₀(i)    = scale
    *   r₊(i)    = (15·scale)/100 + (85·Σ_{j→i} r(j) div outdeg(j))/100
    *
    * (integer division throughout; damping hard-wired to the canonical
    * 0.85). Dangling nodes (outdeg 0) leak their mass — the standard
    * simplification; nodes with no in-links settle at (15·scale)/100.
    *
    * Scale shape: `edges`+outdeg are computed once and pinned so each
    * round pays ONE join (rank → src) and ONE aggregate (sum by dst),
    * the minimal two exchanges a message round needs; ranks are a
    * 2-column frame, the narrowest possible shuffle payload. (The pin is
    * load-bearing: the rounds reference the prep frame `iters` times and
    * exchange reuse does NOT collapse them — 0 ReusedExchange nodes in
    * the unpinned 5-round plan, i.e. the edges+outdeg join would
    * recompute per round.) Rounds are lazy plans; every
    * [[RankCutEvery]]th round except the last takes an [[Iterate.cut]],
    * so a run of up to that many rounds stays fully lazy and a longer
    * one keeps its plan bounded at that many rounds' joins.
    *
    * Pin lifetime: the returned frame references the pinned prep table
    * LAZILY, so this operator cannot release it before returning
    * (unlike [[Packing.writeEpochShards]], which consumes its own
    * frames). Call it under [[Caches.inScope]] and release that scope
    * after fully consuming the result — the pattern for long-lived
    * sessions that rank repeatedly; otherwise the pin lands in the
    * calling thread's active scope and lives until [[Caches.release]]
    * drains it.
    */
  def pageRankInt(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      nodes: DataFrame,
      idCol: String,
      iters: Int,
      scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, "pageRankInt needs at least one iteration")
    require(scale >= 1000L, "scale under 1000 makes integer damping too lossy")
    val e = Caches.pin(edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .join(
        edges.groupBy(col(srcCol).as("__osrc")).agg(count(lit(1)).as("__outdeg")),
        col("__src") === col("__osrc"))
      .select("__src", "__dst", "__outdeg"))
    // pinned like `e`: every round's rebase join references the node list,
    // and without the pin each round re-plans and re-scans the nodes
    // source (iters + 1 scans)
    val ids = Caches.pin(nodes.select(col(idCol).as("__id")))
    var rank = ids.select(col("__id"), lit(scale).as("__rank"))
    for (round <- 1 to iters) {
      // `div`, not `/`: Column./ is DOUBLE division, which stops being
      // exact past 2^53 — integral div keeps every round exact at any
      // graph size, which is the whole point of the fixed-point face.
      val inbox = e
        .join(rank, col("__src") === col("__id"))
        .select(col("__dst"), expr("__rank div __outdeg").as("__contrib"))
        .groupBy(col("__dst"))
        .agg(sum("__contrib").as("__agg"))
      rank = ids
        .join(inbox, col("__id") === col("__dst"), "left")
        .select(
          col("__id"),
          (lit(15L * scale / 100L) +
            expr(s"(85 * coalesce(__agg, 0L)) div 100")).as("__rank"))
      if (round % RankCutEvery == 0 && round < iters) rank = Iterate.cut(rank)
    }
    rank.select(col("__id").as(idCol), col("__rank").as("rank"))
  }

  /** Rounds between [[pageRankInt]]'s lineage cuts. */
  private val RankCutEvery = 10

  /** Connected components over a DataFrame edge list by alternating
    * LARGE-STAR / SMALL-STAR rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014) — the DataFrame-
    * native face of [[Dedup.duplicateClusters]]'s GraphX path. Output:
    * one row `(id, component)` per node INCIDENT TO AT LEAST ONE EDGE
    * (isolated nodes never enter an edge list; callers union them back,
    * as [[Dedup.dedupByClusters]] does), where `component` is the
    * smallest id in the node's component.
    *
    * Why not GraphX: RDD-based, so no AQE, no whole-stage codegen, no
    * Tungsten row format — and its Pregel CC shuffles full vertex
    * attributes every superstep. Here each round is two join+aggregate
    * passes over a 2-column LONG edge frame (the narrowest possible
    * shuffle payload), the edge set only SHRINKS toward the star forest,
    * and AQE coalesces the final tiny rounds' partitions.
    *
    * Round shape: large-star points every neighbor LARGER than the
    * center at the center's minimum (kills long chains in O(log n)
    * doublings); small-star re-points every smaller neighbor at the
    * minimum (flattens local trees). The fixpoint — provably reached in
    * O(log² n) rounds, 3–6 in practice on dedup graphs — is a star
    * forest whose roots are component minima. Convergence is detected
    * EXACTLY, not by signature: the relation is a proper star forest iff
    * every child has one parent and no parent also appears as a child
    * (ONE fused aggregation probe on the pinned round result — see the
    * loop body for why the no-chain probe alone is one round too eager).
    *
    * Iteration state: every round ends in an [[Iterate.cut]] (a star
    * round reads its input ~12 times — symmetric union, min-aggregate,
    * re-point join), at most `maxIters` 2-column frames, each at most
    * edge-sized. The result therefore needs NO cache-manager pin and
    * survives a global [[Caches.release]]. Throws if `maxIters` rounds
    * pass without convergence ([[Iterate.fixpoint]]) — a silently-
    * partial clustering would merge nothing visibly wrong and dedup
    * would quietly keep duplicates.
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIters: Int = 30): DataFrame = {
    require(maxIters >= 1, "connectedComponents needs at least one round")

    // large-star: symmetric neighborhoods; for center u with minimum
    // m = min(N(u) ∪ {u}), re-point every LARGER neighbor v > u at m.
    // NO distinct here (r20, §2.4): duplicates are bounded by the 2|E|
    // neighbor rows and the following small-star absorbs them — its min
    // aggregate is duplicate-insensitive and the round ends in its own
    // distinct — so the extra exchange bought nothing but the collapse.
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.union(e.select(col("__v").as("__u"), col("__u").as("__v")))
      val mins = nbrs.groupBy("__u")
        .agg(least(min("__v"), col("__u")).as("__m"))
      nbrs.join(mins, "__u")
        .where(col("__v") > col("__u"))
        .select(col("__v").as("__u"), col("__m").as("__v"))
    }

    // small-star: orient every edge toward its smaller endpoint; for
    // center u (the larger end), re-point all smaller neighbors AND u
    // itself at m = min(N(u) ∪ {u}) = min of the oriented targets.
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
        greatest(col("__u"), col("__v")).as("__u"),
        least(col("__u"), col("__v")).as("__v"))
      val mins = oriented.groupBy("__u").agg(min("__v").as("__m"))
      oriented.join(mins, "__u")
        .select(col("__v").as("__u"), col("__m").as("__v"))
        .union(mins.select(col("__u"), col("__m").as("__v")))
        .where(col("__u") =!= col("__v"))
        .distinct()
    }

    val start = edges
      .select(col(srcCol).cast("long").as("__u"), col(dstCol).cast("long").as("__v"))
      .where(col("__u").isNotNull && col("__v").isNotNull && col("__u") =!= col("__v"))
      .distinct()
    val e = Iterate.fixpoint(start, maxIters,
      s"connectedComponents did not converge in $maxIters rounds " +
        "(bound is O(log² n); raise maxIters only after checking the input)") { prev =>
      val next = Iterate.cut(smallStar(largeStar(prev)))
      // Fixpoint ⇔ the relation is a PROPER star forest — two conditions,
      // probed in ONE aggregation job over the freshly cut 2-col frame (a
      // map-side-combinable groupBy over 2|E| role rows, not an |E|×|E|
      // self-join):
      //   1. every child has ONE parent — a node still listed under two
      //      roots ({(v,r1),(v,r2)}) has no chain yet is mid-merge, so
      //      the no-chain probe alone would declare victory one round
      //      early and emit an AMBIGUOUS component for v. Surfaces as
      //      min(parent) ≠ max(parent) for some child;
      //   2. no parent (__v) is anybody's child (__u) — chains and
      //      non-root parents both surface as a __v re-appearing as __u.
      //      Surfaces as a node with both child rows (non-null __p) and
      //      parent rows (null __p) in the role union.
      val roles = next
        .select(col("__u").as("__n"), col("__v").as("__p"))
        .union(next.select(col("__v").as("__n"), lit(null).cast("long").as("__p")))
      val converged = roles.groupBy("__n")
        .agg(min("__p").as("__p1"), max("__p").as("__p2"),
          count(col("__p")).as("__asChild"), count(lit(1)).as("__rows"))
        .where(col("__p1") =!= col("__p2") ||
          (col("__asChild") > 0L && col("__rows") > col("__asChild")))
        .isEmpty
      (next, converged)
    }
    // the star forest lists every non-root once; roots re-enter as their
    // own component so the output covers every incident node
    e.select(col("__u").as("id"), col("__v").as("component"))
      .union(e.select(col("__v"), col("__v")).distinct())
  }

  /** The k-CORE of the undirected simple graph induced by `edges`: the
    * maximal subgraph in which every vertex keeps degree ≥ k, found by
    * the standard peeling fixpoint (drop all sub-k vertices, recompute
    * degrees, repeat). Output: `(id, core_degree)` for every core
    * vertex — the degree WITHIN the core, the coreness-style robustness
    * signal (a link farm's mutual-citation cluster survives high-k
    * peels that organic link neighborhoods do not).
    *
    * Convergence is exact (edge count reaches a fixpoint) and
    * non-convergence within `maxRounds` throws rather than returning a
    * half-peeled subgraph. Peeling is IDEMPOTENT past the fixpoint —
    * extra rounds are no-ops — which is what lets an external engine
    * replay it as a FIXED unroll (q149) while this face stops early.
    *
    * Scale contract: each round is one degree aggregation + two
    * semi-joins on the shrinking edge set, ending in an [[Iterate.cut]];
    * rounds needed equal the longest peel chain, typically a handful on
    * web graphs.
    */
  def kCore(
      edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, maxRounds: Int = 20): DataFrame = {
    require(k >= 1, "k must be positive")
    require(maxRounds >= 1, "maxRounds must be positive")
    val start = Iterate.cut(edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct())
    val (e, _) = Iterate.fixpoint((start, start.count()), maxRounds,
      s"kCore(k=$k) still peeling after $maxRounds rounds — raise maxRounds") {
      case (prev, edgeCount) =>
        val deg = prev.select(explode(array(col("a"), col("b"))).as("id"))
          .groupBy("id").agg(count(lit(1)).as("deg"))
        val keep = deg.filter(col("deg") >= k).select("id")
        val next = Iterate.cut(prev
          .join(keep.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
          .select("a", "b"))
        val n = next.count()
        ((next, n), n == edgeCount)
    }
    e.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("core_degree"))
  }

  /** EXACT per-vertex triangle counts over the undirected simple graph
    * induced by `edges` — the local clustering signal link-farm and
    * community detection lean on (a farm's vertices close triangles at
    * rates organic pages never reach). Self-loops drop, direction and
    * duplicate edges collapse to one canonical (min, max) edge. Output:
    * `(id, triangles)` for every vertex in at least one triangle; the
    * global count is `sum(triangles) / 3` (each triangle appears at all
    * three corners).
    *
    * Scale contract (Suri & Vassilvitskii 2011, "Counting triangles and
    * the curse of the last reducer" — public algorithm): each edge
    * ORIENTS from its (degree, id)-smaller endpoint to the larger, so
    * wedges enumerate only at an edge's LOW-degree end and the
    * per-vertex wedge fan-out is O(√m)-bounded on real graphs instead
    * of O(max-degree²) — a celebrity node with 10⁸ followers generates
    * ZERO wedges at itself. Three hash joins (degree attach ×2, wedge
    * close), one exchange each, integer arithmetic throughout — an ANSI
    * engine reproduces every count exactly (q147).
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("id").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("degb")), "b")
    val oriented = withDeg.select(
      when(
        struct(col("dega").as("d"), col("a").as("i")) <
          struct(col("degb").as("d"), col("b").as("i")),
        struct(col("a").as("x"), col("b").as("y")))
        .otherwise(struct(col("b").as("x"), col("a").as("y"))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
    val o2 = oriented.select(col("x").as("x2"), col("y").as("y2"))
    // wedges open at the LOW endpoint; (y < y2) pairs each spoke set once,
    // and the closing edge lookup is against the canonical (min, max) form
    // — which IS (y, y2) under that inequality
    val wedges = oriented
      .join(o2, col("x") === col("x2") && col("y") < col("y2"))
      .select(col("x"), col("y"), col("y2"))
    val triangles = wedges
      .join(und, col("y") === col("a") && col("y2") === col("b"))
      .select(col("x"), col("y"), col("y2"))
    triangles
      .select(explode(array(col("x"), col("y"), col("y2"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
  }

  /** FIXED-POINT INTEGER HITS (Kleinberg hubs & authorities): `iters`
    * rounds of
    *
    *   a₊(v) = (Σ_{u→v} h(u)) · scale div max-over-nodes
    *   h₊(u) = (Σ_{u→v} a₊(v)) · scale div max-over-nodes
    *
    * — the link-farm complement to [[pageRankInt]]: PageRank scores
    * endorsement mass, HITS separates DIRECTORY pages (high hub: they
    * point at good content) from CONTENT pages (high authority: good
    * pages point at them), the split a crawl-curation policy acts on.
    * Normalization is by the MAX (exact integer division) instead of
    * the L2 norm the float formulation uses — max and integer sums are
    * both aggregation-order-independent, so every round is bit-exact
    * on any engine/partitioning/retry and an external oracle can
    * replay the whole run. Scores land in [0, scale], the top
    * hub/authority pinned at exactly `scale`.
    *
    * Overflow contract: a round computes Σh·scale ≤ n·scale², so the
    * caller must keep n·scale² < 2⁶³ (n ≤ ~9·10⁶ at the default
    * scale; drop scale to 10⁴ for billion-node graphs — ranking
    * resolution degrades gracefully).
    *
    * Scale shape: each half-round is ONE join (scores → edge endpoint)
    * + ONE aggregate (sum by the other endpoint) + an
    * [[Iterate.maxNormalize]] over the 2-column score frame, so the
    * operator is NOT lazy. Edges and the node list are pinned once
    * ([[Caches.pin]]), with [[pageRankInt]]'s pin lifetime.
    */
  def hitsInt(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      nodes: DataFrame,
      idCol: String,
      iters: Int,
      scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, "hitsInt needs at least one iteration")
    require(scale >= 1000L, "scale under 1000 makes integer normalization too lossy")
    val e = Caches.pin(edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst")))
    // pinned like `e`: every half-round re-bases against the node list
    // (2·iters references)
    val ids = Caches.pin(nodes.select(col(idCol).as("__id")))
    var hub = ids.select(col("__id"), lit(scale).as("__s"))
    var auth: DataFrame = hub
    // one half-round: sum the counterpart score over `joinOn` edges,
    // grouped by `emitFrom`, then max-normalize back to [0, scale]
    def halfRound(scores: DataFrame, joinOn: String, emitFrom: String): DataFrame = {
      val summed = e
        .join(scores, col(joinOn) === col("__id"))
        .select(col(emitFrom).as("__node"), col("__s"))
        .groupBy(col("__node"))
        .agg(sum(col("__s")).as("__sum"))
      Iterate.maxNormalize(
        ids
          .join(summed, col("__id") === col("__node"), "left")
          .select(col("__id"), coalesce(col("__sum"), lit(0L)).as("__raw")),
        scale)
    }
    for (_ <- 1 to iters) {
      auth = halfRound(hub, joinOn = "__src", emitFrom = "__dst")
      hub = halfRound(auth, joinOn = "__dst", emitFrom = "__src")
    }
    hub.select(col("__id"), col("__s").as("hub"))
      .join(auth.select(col("__id"), col("__s").as("authority")), Seq("__id"))
      .select(col("__id").as(idCol), col("hub"), col("authority"))
  }
}
