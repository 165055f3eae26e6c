package graft.operators

import graft.plans.Lineage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality for corpus quality weighting. Web-scale
  * pipelines weight documents by the link structure of their hosts
  * (harmonic/PageRank centrality is a standard crawl-quality signal);
  * this is the iterative Pregel-style shape — each round is one join
  * shuffle plus one aggregation — complementing the label-propagation
  * connected components in [[Dedup.duplicateClusters]].
  */
object LinkGraph {

  /** Fixed-point PageRank, simple-drop convention: every node gets the
    * starting mass and the teleport (w ≡ 1 in [[fixedPoint]]); dangling
    * nodes (no out-edges) keep their teleport share but their mass is NOT
    * redistributed, so ranks sum to < 1 (callers who need the
    * stochastic-matrix variant use [[pageRankStochastic]]).
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 10,
      dampMilli: Long = 850L
  ): DataFrame =
    fixedPoint(edges, srcCol, dstCol, _.withColumn("w", lit(1)), "pageRank needs at least one edge",
      iterations, dampMilli, redistribute = false, convergeNano = None)

  /** [[pageRank]]'s STOCHASTIC-MATRIX variant: dangling-node mass is
    * REDISTRIBUTED uniformly each round instead of dropped — ranks keep
    * summing to ~10⁹ nano (a true probability distribution, modulo integer
    * truncation), which matters exactly when the graph has real sinks
    * (crawl frontiers, PDF leaves, robots-blocked hosts — a large fraction
    * of any web snapshot).
    *
    * `convergeNano = Some(tol)` adds an early stop: iteration ends when
    * max |Δrank_nano| ≤ tol (one extra self-join + max aggregate per
    * round, integer-exact, so the stop round — and therefore the result —
    * is deterministic and engine-independent). With None the round count
    * is fixed at `iterations`, the oracle-replayable form.
    */
  def pageRankStochastic(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 10,
      dampMilli: Long = 850L,
      convergeNano: Option[Long] = None
  ): DataFrame =
    fixedPoint(edges, srcCol, dstCol, _.withColumn("w", lit(1)), "pageRankStochastic needs at least one edge",
      iterations, dampMilli, redistribute = true, convergeNano)

  /** PERSONALIZED PageRank (TrustRank when the seeds are trusted hosts):
    * the teleport vector concentrates on a SEED SET instead of spreading
    * uniformly — rank measures proximity to the seeds, the standard
    * crawl-quality / spam-demotion signal (Gyöngyi et al., VLDB'04) and
    * the seed-expansion primitive for topic-focused corpus selection.
    * Only seeds have w = 1: the starting mass, the teleport and each
    * round's dangling mass all go to the seeds — the personalized
    * stochastic-matrix convention (mass that would leak out of the walk
    * restarts at the seeds, like the teleport itself).
    *
    * Seeds arrive as a DataFrame (seed sets at web scale are tables, not
    * literals) and are intersected with the graph's nodes; seeds outside
    * the graph carry no mass by construction.
    */
  def pageRankPersonalized(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iterations: Int = 10,
      dampMilli: Long = 850L
  ): DataFrame =
    fixedPoint(edges, srcCol, dstCol,
      _.join(seeds.select(col(seedCol).cast("long").as("node")).distinct().withColumn("w", lit(1)),
        Seq("node"), "left").select(col("node"), coalesce(col("w"), lit(0)).as("w")),
      "pageRankPersonalized: no seed is a node of the graph",
      iterations, dampMilli, redistribute = true, convergeNano = None)

  /** The PageRank iteration kernel. Ranks live in NANO units (10⁹ =
    * probability mass 1) and every step is INTEGER arithmetic, so the
    * result is bit-identical on any engine (a float formulation would
    * drift with summation order at every iteration). `weights` gives every
    * node a weight w ∈ {0, 1}; with k = Σw:
    *   - initial rank w · (10⁹ div k);
    *   - per-edge share (rank · dampMilli) div (1000 · outdeg);
    *   - teleport w · (((1000 − dampMilli) · 10⁹) div (1000 · k));
    *   - with `redistribute`, the round's dangling mass D (rank held by
    *     nodes with no out-edges, an exact order-free integer sum) adds
    *     w · ((D · dampMilli) div (1000 · k)).
    * Truncation leaks at most outdeg − 1 nano per node per round: ~10⁻⁷
    * of total mass on a million-node graph, a price worth exact
    * reproducibility. Every distinct (src, dst) edge counts once; nodes
    * are everything appearing as src or dst.
    *
    * Scale shape: `iterations` rounds of (edges ⋈ ranks on src) → one
    * map-side-combinable sum per dst, plus with `redistribute` one
    * anti-join aggregate collapsing D to a single driver long. Ranks
    * re-materialize each round ([[Lineage.truncate]]) so the plan stays
    * flat instead of growing an `iterations`-deep lineage. The round count
    * is explicit, not adaptive (10–20 rounds settle a ranking), so the
    * cost is predictable and the result engine-replayable.
    */
  private def fixedPoint(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weights: DataFrame => DataFrame,
      noMass: String,
      iterations: Int,
      dampMilli: Long,
      redistribute: Boolean,
      convergeNano: Option[Long]
  ): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    require(dampMilli >= 0 && dampMilli <= 1000, "dampMilli is a per-mille damping factor")
    val (e, relE) = Lineage.truncateReleasable(
      edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst")).distinct())
    val (outdeg, relOut) = Lineage.truncateReleasable(e.groupBy("src").agg(count(lit(1)).as("outdeg")))
    val (weighted, relW) = Lineage.truncateReleasable(weights(
      e.select(col("src").as("node")).unionByName(e.select(col("dst").as("node"))).distinct()))
    val k = weighted.where(col("w") === 1).count()
    require(k > 0, noMass)
    val teleport = ((1000L - dampMilli) * 1000000000L) / (1000L * k)
    // Each round's checkpoint is released once the next is materialized
    // (and the inputs once the loop ends) — an unreleased checkpoint is
    // pinned storage, and iterative operators that leak one per round
    // strangle execution memory (see Lineage.truncateReleasable).
    var (ranks, relRanks) = Lineage.truncateReleasable(
      weighted.select(col("node"), (col("w") * (1000000000L / k)).as("rank_nano")))
    var it = 0
    var converged = false
    while (it < iterations && !converged) {
      val dangling = if (!redistribute) 0L else ranks
        .join(outdeg, ranks("node") === outdeg("src"), "left_anti")
        .agg(coalesce(sum("rank_nano"), lit(0L))).head.getLong(0)
      val shares = e
        .join(ranks, e("src") === ranks("node"))
        .join(outdeg, "src")
        .select(col("dst"), expr(s"(rank_nano * $dampMilli) div (1000 * outdeg)").as("share"))
        .groupBy("dst")
        .agg(sum("share").as("in_share"))
      val mass = teleport + (dangling * dampMilli) / (1000L * k)
      val (next, relNext) = Lineage.truncateReleasable(
        weighted.join(shares, weighted("node") === shares("dst"), "left")
          .select(col("node"), (col("w") * mass + coalesce(col("in_share"), lit(0L))).as("rank_nano")))
      converged = convergeNano.exists { tol =>
        next.toDF("node", "next_nano").join(ranks, "node")
          .agg(max(abs(col("next_nano") - col("rank_nano")))).head.getLong(0) <= tol
      }
      relRanks(); ranks = next; relRanks = relNext
      it += 1
    }
    relE(); relOut(); relW()
    ranks
  }

  /** Distributed triangle counting (compact-forward / node-iterator with
    * DEGREE ORIENTATION): every undirected edge is oriented from its
    * lower-(degree, id) endpoint to the higher one, wedges are built by
    * self-joining oriented edges on their midpoint, and a wedge closes
    * into a triangle iff its outer pair is itself an oriented edge.
    *
    * The orientation is the load-bearing scale idea (Schank/Wagner;
    * Suri–Vassilvitskii's MR formulation): un-oriented wedge-building
    * explodes on hubs (a degree-d node contributes d² wedges — a
    * 10⁶-degree hub alone is 10¹² wedges), while orientation bounds every
    * node's out-degree by O(√|E|) on any graph, so the wedge join carries
    * at most Σ outdeg² = O(|E|^{3/2}) rows — the best known bound for
    * exact counting. Plan: degree aggregate + two equi-joins, each a
    * hash-partitioned shuffle; each triangle is counted EXACTLY once (its
    * orientation-minimal vertex builds the wedge).
    *
    * Ties in degree break by node id, so the orientation — and the count
    * path, not just the count — is deterministic and oracle-replayable.
    *
    * @param edges frame with two LONG-castable columns `src`, `dst`
    *              (direction ignored; self-loops and duplicates collapse)
    * @return one row: `n_triangles` (LONG)
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    // Canonical undirected edge set (u < v by id) — the dedup point AND
    // the closure-probe side, so it materializes once.
    val sym = Lineage.truncate(
      edges
        .select(col("src").cast("long").as("a"), col("dst").cast("long").as("b"))
        .where(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
        .distinct())
    val deg = sym.select(col("u").as("n")).unionAll(sym.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // Orient u—v from the (degree, id)-smaller endpoint to the larger.
    val oriented = Lineage.truncate(
      sym
        .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
        .select(
          when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")), col("u"))
            .otherwise(col("v")).as("lo"),
          when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")), col("v"))
            .otherwise(col("u")).as("hi")))
    // Path wedges A→M→C; the triangle's unique acyclic orientation has
    // exactly one such path, so each triangle counts once. The closure
    // probe re-canonicalizes (A, C) to id order and equi-joins `sym` —
    // a conjunction of equalities, never an OR-condition nested loop.
    val wedges = oriented.select(col("lo").as("w_a"), col("hi").as("w_mid"))
      .join(oriented.select(col("lo").as("w_mid"), col("hi").as("w_c")), "w_mid")
      .where(col("w_a") =!= col("w_c"))
    wedges
      .select(least(col("w_a"), col("w_c")).as("u"), greatest(col("w_a"), col("w_c")).as("v"))
      .join(sym, Seq("u", "v"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Multi-source BFS levels: each reachable node's hop distance from the
    * nearest source, up to `maxDepth` hops — the crawl-frontier / link-
    * distance primitive (seed-set proximity is the other standard
    * link-quality signal beside centrality: distance from a trusted seed
    * set IS TrustRank's core input).
    *
    * Frontier-parallel BSP shape, one round per level: frontier ⋈ edges
    * on src (one shuffle) → candidate dsts → anti-join the visited set
    * (second shuffle) → next frontier. Per-round cost is proportional to
    * the EDGES TOUCHED BY THE FRONTIER, not the graph — the property that
    * makes BFS from a small seed set cheap even on a web-scale graph. The
    * visited set and frontier re-materialize each round
    * ([[Lineage.truncate]]) so the plan stays flat instead of nesting
    * `maxDepth` joins, and the frontier dedups per round (a node reached
    * along two paths in the same round enters `visited` once).
    *
    * `maxDepth` is an explicit knob (predictable cost, engine-replayable
    * result — the DuckDB oracle unrolls the same bound); nodes further
    * than `maxDepth` (or unreachable) are absent from the result. The
    * whole-frontier loop stops early when a round adds no new nodes.
    *
    * @return (node LONG, level LONG) — level 0 = the sources themselves.
    */
  def bfsLevels(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      sources: Seq[Long],
      maxDepth: Int
  ): DataFrame = {
    require(sources.nonEmpty, "bfsLevels needs at least one source node")
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
    var visited  = sources.distinct.map(n => (n, 0L)).toDF("node", "level")
    var frontier = visited.select("node")
    var relVisited: () => Unit = () => ()
    var relFrontier: () => Unit = () => ()
    var depth    = 0L
    while (depth < maxDepth && !frontier.isEmpty) {
      depth += 1
      val (next, relNext) = Lineage.truncateReleasable(
        e.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti"))
      val (nv, relNv) = Lineage.truncateReleasable(
        visited.unionByName(next.withColumn("level", lit(depth))))
      // The new visited checkpoint copies everything it needs; the old
      // round's frames become releasable pinned storage.
      relVisited(); relFrontier()
      visited = nv; relVisited = relNv
      frontier = next; relFrontier = relNext
    }
    relFrontier()
    visited
  }

  /** General connected components over an edge list: (node, component)
    * for every node appearing as an endpoint, component = the component's
    * minimum node id (undirected closure — edge direction is ignored, as
    * CC semantics require). Thin façade over the dedup clustering engine
    * ([[Dedup.duplicateClusters]]): driver union-find below the edge cap,
    * alternating large-star/small-star contraction above it — O(log² n)
    * driver-synchronized rounds, two keyed shuffles per round, no
    * per-node driver state. The dedup pipeline uses this for duplicate
    * clusters; link graphs use it for mirror-site/host grouping — one
    * engine, spec-pinned identical results on both paths.
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      mode: Dedup.ClusterMode = Dedup.ClusterMode.Auto()
  ): DataFrame =
    Dedup.duplicateClusters(edges, srcCol, dstCol, mode).toDF("node", "component")
}
