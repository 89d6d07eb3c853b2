package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Iterative graph scoring over edge-list DataFrames — the link-authority
  * side of corpus curation (Common Crawl publishes exactly this: per-host
  * PageRank/harmonic-centrality rankings used to weight crawl frontiers
  * and filter low-authority domains). Complements the connected-component
  * machinery in [[Dedup]]: CC groups, PageRank scores.
  */
object GraphOps {

  /** Fixed-iteration damped PageRank over a directed edge list, with the
    * standard dangling-node treatment: each iteration the rank mass
    * sitting on sink nodes (no out-edges) is redistributed uniformly, so
    * total mass stays 1 on ANY graph — without it, scores decay below 1
    * and are wrong on every real web/host graph, where sinks are
    * everywhere (the Common Crawl host graph is the motivating input).
    *
    * Engine-portable determinism (the gate runs the identical arithmetic
    * in DuckDB): per-edge contributions `rank/outdeg` are IEEE doubles
    * rounded at `roundContrib` digits, summed EXACTLY as decimal(38,18)
    * (order-independent — double sums are not); the dangling mass is the
    * decimal-exact sum of sink ranks, its per-node share rounded at the
    * same `roundContrib`; the damping update stays in IEEE double. Fixed
    * iteration count, not convergence-tested: a deterministic gate cannot
    * hinge on a float threshold.
    *
    * Scale shape: one src-keyed equi-join plus one dst-keyed aggregate
    * per iteration — both shuffle (node, contribution) pairs only, never
    * adjacency payloads — plus one 1-row sink-mass aggregate broadcast
    * into the update (the static out-degree rides ON the rank rows, so
    * sinks are a narrow `deg IS NULL` filter of the small rank frame —
    * no per-iteration degree join, no anti-join). The node count is
    * the op's single bounded driver exchange (one long). Ranks are
    * lineage-truncated every round by [[Checkpointer.rounds]], so the
    * cached edge and node/degree frames are unpersisted before returning.
    * Fault tolerance: the default localCheckpoint mode dies with a lost
    * executor; set `spark.graft.checkpoint.dir` for the durable-checkpoint
    * mode a real cluster run needs (contract in [[Checkpointer]]). */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85,
      roundContrib: Int = 12): DataFrame =
    ranked("pageRank", edges, srcCol, dstCol, None,
      iterations, damping, roundContrib)

  /** WEIGHTED PageRank: rank splits over out-edges in proportion to a
    * positive edge weight (contribution `rank·w/Σw`) instead of
    * uniformly — host graphs are weighted by link counts, and uniform
    * splitting over-credits hosts linked once from everywhere. Same
    * dangling-mass redistribution, determinism contract and
    * per-iteration plan shape as [[pageRank]] (which IS this operator
    * at weight 1.0 — multiplying by 1.0 is IEEE-exact). Weights must be
    * positive; a non-positive weight corrupts the split silently, so
    * validate upstream. */
  def pageRankWeighted(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      iterations: Int, damping: Double = 0.85,
      roundContrib: Int = 12): DataFrame =
    ranked("pageRankWeighted", edges, srcCol, dstCol, Some(weightCol),
      iterations, damping, roundContrib)

  private def ranked(
      op: String, edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String], iterations: Int, damping: Double,
      roundContrib: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0.0 && damping < 1.0, s"damping in (0,1), got $damping")
    val g = prepare(edges, srcCol, dstCol, weightCol)
    val ranks = Checkpointer.rounds(op,
        g.nd.withColumn("rank", lit(1.0 / g.n)), iterations) { (r, _) =>
      iterate(g, r, damping, roundContrib)
    }
    g.e.unpersist(); g.nd.unpersist()
    ranks.select(col("node"), col("rank"))
  }

  /** PERSONALIZED (topic-sensitive) PageRank: teleportation lands
    * uniformly on a seed set instead of the whole graph — rank measures
    * authority AS SEEN FROM the seeds (Haveliwala 2002), the standard
    * tool for domain-focused crawl weighting (seed the hosts you trust,
    * rank the web relative to them). Differences from [[pageRank]]: the
    * initial mass, the (1-damping) base term and the dangling mass all
    * flow to seed nodes only; non-seed nodes receive rank exclusively
    * through edges. Same determinism contract (rounded contributions,
    * decimal-exact sums) and the same per-iteration plan shape plus one
    * broadcast semi-join flag; seeds not present in the graph are
    * ignored (their teleport share is not minted). */
  def pageRankPersonalized(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      iterations: Int, damping: Double = 0.85,
      roundContrib: Int = 12): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0.0 && damping < 1.0, s"damping in (0,1), got $damping")
    val g = prepare(edges, srcCol, dstCol)
    val seedSet = g.nd.select(col("node"))
      .join(broadcast(seeds.select(col(seedCol).as("node")).distinct()),
        Seq("node"), "left_semi")
      .persist(MEMORY_AND_DISK)
    val nt = seedSet.count() // bounded driver exchange: one long
    require(nt > 0, "no seed node is present in the graph")
    val flagged = Checkpointer.truncate(g.nd.join(
      seedSet.withColumn("__t", lit(1)), Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("__t"), lit(0)).as("__t")))
    val init = flagged.select(col("node"), col("deg"),
      (col("__t") * lit(1.0 / nt)).as("rank"))
    val ranks = Checkpointer.rounds("pageRankPersonalized", init,
        iterations) { (prev, _) =>
      val contribs = g.e
        .join(prev, g.e("src") === prev("node"))
        .select(col("dst").as("node"),
          round(col("rank") / col("deg"), roundContrib).as("contrib"))
      val sinkMass = prev.filter(col("deg").isNull)
        .agg(exactSum(col("rank")).as("dm"))
      flagged
        .join(contribs, Seq("node"), "left")
        .groupBy(col("node"), col("__t"))
        .agg(first(col("deg")).as("deg"), exactSum(col("contrib")).as("csum"))
        .crossJoin(broadcast(sinkMass))
        .select(col("node"), col("deg"),
          (col("__t") * lit((1.0 - damping) / nt) +
            lit(damping) *
              (col("csum") +
                col("__t") * round(col("dm") / nt, roundContrib))).as("rank"))
    }
    g.e.unpersist(); g.nd.unpersist(); seedSet.unpersist()
    ranks.select(col("node"), col("rank"))
  }

  /** HyperBall harmonic centrality (Boldi & Vigna, "In-Core Computation
    * of Geometric Centralities with HyperBall", 2013 — the algorithm
    * behind Common Crawl's published harmonic-centrality host ranks,
    * which ship alongside the PageRank ranks [[pageRank]] mirrors).
    *
    * Each node carries a [[graft.functions.expr.DistinctSketchAgg]]
    * state (its "ball") seeded with itself; round t replaces every ball
    * with the union of its out-neighbors' balls and itself, so after
    * round t the ball estimates `|B_t(v)|` = nodes within out-distance
    * <= t. The harmonic sum accumulates `(|B_t| - |B_(t-1)|) / t` per
    * round — exactly Σ 1/d(v,u) over nodes reached within `maxDepth`
    * along the EDGE DIRECTION GIVEN. Pass reversed edges for the
    * standard incoming-distance harmonic centrality (the gate does).
    *
    * Exactness contract: below the sketch's exact tier cap the ball
    * counts are exact (64-bit-hash set), which is what lets a DuckDB
    * recursive-CTE BFS oracle gate the operator at test scale; at web
    * scale callers drop `exactCap`/`lgK` so per-node state is bounded at
    * 2^lgK bytes — approximate counts, the published algorithm's actual
    * operating mode.
    *
    * Scale shape: per round one dst-keyed equi-join over the
    * pre-partitioned persisted edge frame (balls of neighbors flow to
    * their source) and ONE node-keyed union aggregate — the previous
    * round's (est, h) rides the same union (neighbor rows carry nulls,
    * `max` folds out the one non-null per node), so there is no second
    * per-depth join back to the previous frame. Only (node, ball) pairs
    * ever shuffle, balls bounded by the tier caps. */
  def harmonicCentrality(
      edges: DataFrame, srcCol: String, dstCol: String, maxDepth: Int,
      exactCap: Int = graft.functions.expr.DistinctSketchAgg.DefaultExactCap,
      lgK: Int = graft.functions.expr.DistinctSketchAgg.DefaultLgK): DataFrame = {
    import graft.functions.expr.{DistinctSketchEstimate, DistinctSketchSingleton, SketchUnionAgg}
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("dst")).persist(MEMORY_AND_DISK)
    val nodes = nodesOf(e).persist(MEMORY_AND_DISK)
    val init = nodes.select(col("node"),
        DistinctSketchSingleton(xxhash64(col("node")), exactCap, lgK).as("ball"),
        lit(1L).as("est"), lit(0.0).as("h"))
      .transform(Checkpointer.truncate)
    val balls = Checkpointer.rounds("harmonicCentrality", init,
        maxDepth) { (cur, t) =>
      // previous round's (est, h) rides the union as extra columns:
      // neighbor rows carry nulls, every node has exactly one own row,
      // so max() recovers (prev, h) inside the ONE node-keyed aggregate
      // — no second per-depth join back to the previous frame
      val neigh = e
        .join(cur.select(col("node"), col("ball")), e("dst") === cur("node"))
        .select(e("src").as("node"), col("ball"),
          lit(null).cast("long").as("prev"), lit(null).cast("double").as("h"))
      neigh
        .unionByName(cur.select(col("node"), col("ball"),
          col("est").as("prev"), col("h")))
        .groupBy(col("node"))
        .agg(SketchUnionAgg(col("ball"), exactCap, lgK).as("ball"),
          max(col("prev")).as("prev"), max(col("h")).as("h"))
        .withColumn("est", DistinctSketchEstimate(col("ball"), exactCap, lgK))
        .select(col("node"), col("ball"), col("est"),
          (col("h") +
            (col("est") - col("prev")).cast("double") / lit(t.toDouble)).as("h"))
    }
    e.unpersist(); nodes.unpersist()
    balls.select(col("node"), col("est"), col("h"))
  }

  /** Strongly connected components of a DIRECTED graph — the coloring /
    * forward-backward family (Orzan 2004; Hong et al. FW-BW-Trim): the
    * missing classic next to the undirected components
    * ([[graft.pipeline.Dedup.connectedComponents]]). On crawl graphs
    * this is the bow-tie decomposition (Broder et al. 2000): the giant
    * SCC vs the IN/OUT tendrils is a standard link-graph curation
    * readout.
    *
    * Per outer round: `F(v)` = min id in {v} ∪ {u : u ⇝ v} via a
    * min-label FORWARD fixpoint (labels flow along edge direction), and
    * `B(v)` = the same over the reversed edges. `F(v) = B(v) = m` means
    * m reaches v and v reaches m, so v ∈ SCC(m) — and every member of
    * that SCC matches in the same round (reachability into/out of an
    * SCC is member-independent), so whole components retire together
    * with `scc_id = m` = the component's global min id (deterministic,
    * independent of round structure). Retired nodes and their edges
    * drop out; at least the global-min node's SCC retires every round,
    * so the loop terminates.
    *
    * Scale shape: both fixpoints are [[minLabels]] over the persisted
    * remaining-edge frame — (node, label) longs on the wire, never
    * adjacency lists, one label join + min aggregate and one scalar
    * convergence action per round. Round count is the
    * remaining graph's diameter per fixpoint × the SCC "peeling depth"
    * — shallow on web-shaped graphs, O(n) on a pathological directed
    * path (the documented worst case of the whole FW-BW family);
    * `maxIter` bounds both loops LOUDLY rather than converging wrong.
    *
    * Output: (node, scc_id) for every node incident to an edge. */
  def stronglyConnected(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50): DataFrame = {
    var e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist(MEMORY_AND_DISK)
    var nodes = nodesOf(e).transform(Checkpointer.truncate)
    val retired = scala.collection.mutable.ArrayBuffer[DataFrame]()
    try {
      while (!nodes.isEmpty) {
        require(retired.length < maxIter,
          s"stronglyConnected: peeling did not finish in $maxIter rounds")
        val f = minLabels("stronglyConnected", nodes, e, "src", "dst", maxIter)
        // the label frames are dead once `done` is materialized
        val done = try {
          val b = minLabels("stronglyConnected", nodes, e, "dst", "src", maxIter)
          try f.withColumnRenamed("lab", "flab")
            .join(b.withColumnRenamed("lab", "blab"), "node")
            .filter(col("flab") === col("blab"))
            .select(col("node"), col("flab").as("scc_id"))
            .transform(Checkpointer.truncate)
          finally Checkpointer.free(b)
        } finally Checkpointer.free(f)
        retired += done
        nodes = Checkpointer.replace(nodes)(
          _.join(done.select("node"), Seq("node"), "left_anti"))
        val e2 = e
          .join(done.select(col("node").as("src")), Seq("src"), "left_anti")
          .join(done.select(col("node").as("dst")), Seq("dst"), "left_anti")
          .persist(MEMORY_AND_DISK)
        e2.count() // materialize before dropping the parent
        e.unpersist()
        e = e2
      }
    } catch { case t: Throwable =>
      (nodes +: retired).foreach(Checkpointer.free)
      throw t
    } finally e.unpersist()
    retired.reduceOption(_ unionByName _).getOrElse(
      edges.sparkSession.range(0)
        .select(col("id").as("node"), col("id").as("scc_id")))
  }

  /** Min-label propagation, the fixpoint under [[stronglyConnected]] and
    * [[Dedup.connectedComponents]]: every node of `nodes` starts labeled
    * with itself, and each round takes the min of its own label and the
    * labels flowing along `ed` from `fromCol` to `toCol` — one join and
    * one min aggregate, the node's own row in the union standing in for a
    * second keep-own-label join. Labels only decrease, so an unchanged
    * label sum (decimal, so no id magnitude overflows) is the fixed point:
    * one scalar action per round, no diff join. Output: (node, lab). */
  private[pipeline] def minLabels(op: String, nodes: DataFrame,
      ed: DataFrame, fromCol: String, toCol: String, maxIter: Int): DataFrame = {
    // an empty frame sums to null
    def labelSum(df: DataFrame): BigDecimal =
      Option(df.agg(sum(col("lab").cast("decimal(38,0)"))).head().getDecimal(0))
        .map(BigDecimal(_)).getOrElse(BigDecimal(0))
    val init = nodes.select(col("node"), col("node").as("lab"))
      .transform(Checkpointer.truncate)
    Checkpointer.fixpoint(op, init, maxIter) { (lab, _) =>
      ed.join(lab.select(col("node").as(fromCol), col("lab")), fromCol)
        .select(col(toCol).as("node"), col("lab"))
        .unionByName(lab)
        .groupBy(col("node"))
        .agg(min(col("lab")).as("lab"))
    }(labelSum)
  }

  /** Per-node triangle counts via DEGREE-ORDERED orientation — the
    * local-clustering building block (spam/bot host detection, community
    * cohesion scoring on the same crawl graphs [[pageRank]] ranks).
    *
    * The naive formulation joins the edge list to itself twice and
    * explodes on hubs (a degree-d node contributes d² wedges). Orienting
    * every undirected edge from its lower-(degree, id) endpoint to the
    * higher one turns the graph into a DAG whose max out-degree is
    * O(√m), so the wedge set — out-neighbor pairs per node — is bounded
    * by Σ outdeg² ≤ m^1.5 REGARDLESS of hub skew (the classic
    * Schank/Wagner bound; id-ordering alone leaves a celebrity hub with
    * its full degree and dies at scale). Each triangle then appears
    * exactly once: as the wedge at its lowest-ranked corner closed by
    * the oriented edge between the other two.
    *
    * Shape: canonical-undirected distinct (one exchange), degree count
    * (one), two node-keyed orientation joins, the x-keyed wedge
    * self-join, and one (p, q)-keyed closing join — edges and wedges
    * shuffle as id pairs only. The oriented frame feeds three
    * consumers through ONE repartition exchange that Spark's
    * exchange-reuse serves to all of them (no persist, no cache leak —
    * the plan is a DAG, not a loop). Output: (node, n_tri) for every
    * node incident to at least one triangle (others are zero by
    * absence). */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
    // rank = (degree, id): total order, comparable as an ordered struct
    val o = und
      .join(deg.select(col("node").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("dg").as("dv")), Seq("v"))
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("x"), col("v").as("y"),
            struct(col("dv").as("rd"), col("v").as("rn")).as("ry")))
          .otherwise(struct(col("v").as("x"), col("u").as("y"),
            struct(col("du").as("rd"), col("u").as("rn")).as("ry"))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"), col("e.ry").as("ry"))
      .repartition(col("x"))
    val e1 = o.select(col("x"), col("y").as("y1"), col("ry").as("r1"))
    val e2 = o.select(col("x"), col("y").as("y2"), col("ry").as("r2"))
    // out-neighbor pairs at the wedge apex, canonicalized by rank so the
    // closing edge's own orientation matches
    val wedges = e1.join(e2, Seq("x"))
      .filter(col("r1") < col("r2"))
      .select(col("x"), col("y1").as("p"), col("y2").as("q"))
    val closing = o.select(col("x").as("p"), col("y").as("q"))
    val tri = wedges.join(closing, Seq("p", "q"))
    tri.select(col("x").as("node"))
      .unionAll(tri.select(col("p").as("node")))
      .unionAll(tri.select(col("q").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a directed edge list —
    * the query-dependent companion of [[pageRank]] in link analysis: a
    * good HUB points at good authorities, a good AUTHORITY is pointed at
    * by good hubs. In corpus curation the two scores separate directory/
    * aggregator hosts (hubs) from content hosts (authorities), which a
    * single PageRank score conflates.
    *
    * Fixed-iteration mutual recursion with L1 normalization each half-step
    * (scores sum to 1, the NetworkX convention — same ranking as the
    * L2-normalized original, and L1 sums are exactly mirrorable): per
    * iteration `auth := normalize(Σ_{j→i} hub_j)` then
    * `hub := normalize(Σ_{i→j} auth_j)`. Determinism contract matches
    * [[pageRank]]: contributions rounded at `roundContrib` are summed as
    * exact decimal(38,18) (order-independent), the L1 total is the decimal
    * sum of the per-node doubles, and each normalized score is one IEEE
    * division rounded at `roundContrib`. Parallel edges count multiply —
    * dedup upstream if that's not the intent.
    *
    * Scale shape: per iteration two score-keyed equi-joins over the ONE
    * pre-partitioned persisted edge frame and two node-keyed aggregates —
    * only (node, score) pairs shuffle; each L1 total is a 1-row broadcast.
    * Nodes with no in-edges hold authority 0 (resp. no out-edges, hub 0).
    * Output: (node, hub, auth). */
  def hits(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, roundContrib: Int = 12): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src")).persist(MEMORY_AND_DISK)
    val nodes = nodesOf(e).persist(MEMORY_AND_DISK)
    val init = nodes.select(col("node"), lit(1.0).as("hub"), lit(1.0).as("auth"))
    // one round per HALF-step, so the (node, auth) frame is checkpointed:
    // it feeds both the hub half-step and the join, and left live its
    // subtree would be computed twice and the plan would grow superlinearly
    val cur = Checkpointer.rounds("hits", init, 2 * iterations) { (prev, i) =>
      if (i % 2 == 1)
        hitsHalfStep(e, nodes, prev, "hub", "src", "dst", "auth", roundContrib)
      else
        hitsHalfStep(e, nodes, prev, "auth", "dst", "src", "hub", roundContrib)
          .join(prev, Seq("node"))
    }
    e.unpersist(); nodes.unpersist()
    cur.select(col("node"), col("hub"), col("auth"))
  }

  /** One HITS half-step: flow `scoreCol` along the edge from `from` to
    * `to`, L1-normalize the landed mass over ALL nodes (absent nodes get
    * 0). `e` must be the persisted src-partitioned edge frame and
    * `nodes` the persisted node table — PlanSpec pins this plan (no live
    * src exchange, L1 total on a broadcast). */
  private[graft] def hitsHalfStep(
      e: DataFrame, nodes: DataFrame, scores: DataFrame, scoreCol: String,
      from: String, to: String, outCol: String, roundContrib: Int): DataFrame = {
    val raw = e
      .join(scores.select(col("node"), col(scoreCol)), e(from) === col("node"))
      .groupBy(e(to).as("node"))
      .agg(exactSum(round(col(scoreCol), roundContrib)).as("raw"))
    val total = raw.agg(exactSum(col("raw")).as("s"))
    nodes
      .join(raw, Seq("node"), "left")
      .crossJoin(broadcast(total))
      .select(col("node"),
        round(coalesce(col("raw"), lit(0.0)) / col("s"), roundContrib)
          .as(outCol))
  }

  /** Synchronous label propagation (Raghavan et al. 2007, deterministic
    * variant) — community detection over an UNDIRECTED graph: every node
    * starts labeled with itself; each round it adopts the most frequent
    * label among its neighbors, ties broken by the SMALLEST label. The
    * asynchronous original is run-order-dependent; the synchronous
    * min-tie-break variant is a pure function of the graph, which is what
    * lets a fixed-round unrolled SQL oracle gate it bit-for-bit (all
    * arithmetic is integer counts + label comparisons — no floats at
    * all). Fixed `rounds`, not convergence-tested, same stance as
    * [[pageRank]]; synchronous LPA can 2-cycle on bipartite structures,
    * so callers pick the round count, they don't get a convergence
    * promise. In curation this clusters the host graph into communities
    * (mirror networks, link farms, topical hubs) for per-community caps.
    *
    * Scale shape: edges are symmetrized + dedup'd once (one exchange),
    * pre-partitioned by src and persisted; per round one label-keyed
    * equi-join (labels flow to neighbors), one (node, label) count with
    * map-side combine, and one per-node argmax via `min(struct(-count,
    * label))` — an ordinary reducible aggregate, no window. Only (node,
    * label) pairs ever shuffle. Every node of the symmetrized edge list
    * has >= 1 neighbor, so each round relabels every node. */
  def labelPropagation(
      edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val sym = symmetric(edges, srcCol, dstCol)
      .repartition(col("src")).persist(MEMORY_AND_DISK)
    val init = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    val lab = Checkpointer.rounds("labelPropagation", init, rounds) {
      (prev, _) => lpaRound(sym, prev)
    }
    sym.unpersist()
    lab
  }

  /** One synchronous LPA round over the persisted symmetrized edge frame:
    * labels flow to neighbors, (node, label) counts combine map-side, and
    * the per-node argmax is the reducible `min(struct(-count, label))`
    * aggregate — no window. PlanSpec pins this plan. */
  private[graft] def lpaRound(sym: DataFrame, lab: DataFrame): DataFrame =
    sym
      .join(lab, sym("dst") === lab("node"))
      .groupBy(sym("src").as("node"), col("label"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("node"))
      .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
      .select(col("node"), col("m.l").as("label"))

  /** Local clustering coefficient per node: `2·T_v / (d_v·(d_v−1))` —
    * the fraction of a node's neighbor pairs that are themselves
    * connected. The standard cohesion signal next to [[triangleCounts]]
    * (which supplies T_v): organic communities cluster, link farms and
    * bot follow-graphs don't — near-zero coefficients at high degree are
    * the classic spam shape. Degree-1 nodes have no neighbor pairs and
    * emit coefficient 0 by convention.
    *
    * Scale shape: [[triangleCounts]]'s oriented-wedge machinery does the
    * heavy lifting; this adds one degree aggregate over the canonical
    * undirected edge set and a node-keyed left join — counts only on the
    * wire. Determinism: integer counts, one IEEE division rounded at 9. */
  def clusteringCoefficients(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val tri = triangleCounts(edges, srcCol, dstCol)
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
            (col("deg") * (col("deg") - lit(1))), 9))
          .otherwise(lit(0.0)).as("cc"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over every directed instance of the symmetrized
    * edge set — positive on social-style graphs (hubs link hubs),
    * negative on web/infrastructure-style graphs (hubs link leaves), a
    * one-number fingerprint of graph mixing used to sanity-check crawl
    * snapshots. Degrees are integers, so all five moment sums are EXACT
    * decimal sums (order-independent); the final correlation is one IEEE
    * expression rounded at 9, NULL when either marginal has zero
    * variance (regular graphs — the [[graft.operators.Spearman]]
    * convention, not a divide-by-zero).
    *
    * Scale shape: one degree aggregate, two node-keyed joins to put
    * (deg_u, deg_v) on each edge instance, one 1-row moment aggregate —
    * integer pairs on the wire, nothing quadratic. Output:
    * (n_edges, assortativity). */
  def assortativity(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val sym = und.select(col("u").as("src"), col("v").as("dst"))
      .union(und.select(col("v").as("src"), col("u").as("dst")))
    val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("dg"))
    def dsum(c: Column): Column = sum(c.cast("decimal(38,0)")).cast("double")
    val m = sym
      .join(deg.select(col("node").as("src"), col("dg").as("dx")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("dg").as("dy")), Seq("dst"))
      .agg(count(lit(1)).as("n"),
        dsum(col("dx")).as("sx"), dsum(col("dy")).as("sy"),
        dsum(col("dx") * col("dx")).as("sxx"),
        dsum(col("dy") * col("dy")).as("syy"),
        dsum(col("dx") * col("dy")).as("sxy"))
    val n = col("n").cast("double")
    val varx = n * col("sxx") - col("sx") * col("sx")
    val vary = n * col("syy") - col("sy") * col("sy")
    m.select(col("n").as("n_edges"),
      when(varx > 0.0 && vary > 0.0,
        round((n * col("sxy") - col("sx") * col("sy")) /
          sqrt(varx * vary), 9)).as("assortativity"))
  }

  /** k-core peeling (Seidman 1983) over an UNDIRECTED graph: repeatedly
    * delete nodes with degree < k; what survives is the k-core — the
    * standard cohesion filter on crawl/host graphs (link farms and
    * isolated tendrils peel away, densely-linked cores remain) and the
    * usual preprocessing cut before community detection. `rounds` is the
    * peeling-round budget, the same fixed-iteration stance as
    * [[pageRank]]: after `rounds` rounds the result is the exact k-core
    * iff peeling has converged (each extra round is then a no-op);
    * callers size `rounds` to the peel depth they expect (chains peel
    * one layer per round). All-integer arithmetic — degrees and set
    * membership — so the unrolled SQL oracle is bit-exact.
    *
    * Scale shape: edges symmetrized + dedup'd once; per round one
    * src-keyed degree aggregate with map-side combine and two semi-joins
    * of the edge frame against the surviving-node set — (node, degree)
    * pairs and id-pair edges are all that shuffle. Output: (node, deg) of
    * survivors, deg = degree INSIDE the surviving subgraph. */
  def kCore(
      edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val init = symmetric(edges, srcCol, dstCol)
      .transform(Checkpointer.truncate)
    val e = Checkpointer.rounds("kCore", init, rounds) { (prev, _) =>
      val keep = prev.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("node"))
      prev
        .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** The persisted graph state one rank iteration reads: edges
    * pre-partitioned by src, and the node table with each node's
    * out-degree inlined (`deg` NULL marks a sink). Carrying the static
    * degree ON the rank rows is what lets every iteration skip both the
    * degree join (contributions divide by the rank row's own column) and
    * the dangling-node anti-join (sinks are a narrow `deg IS NULL`
    * filter-aggregate over the small rank frame). */
  private[graft] final case class PrGraph(e: DataFrame, nd: DataFrame, n: Long)

  /** The classic Pregel layout: edges hash-partitioned by src ONCE and
    * persisted — every iteration's rank join then reuses the cached
    * partitioning and only the (tiny) rank table moves; the node/degree
    * table is persisted on the node key it joins and aggregates on.
    * Without the persists the upstream distinct would recompute per
    * iteration; without the pre-partitioning every iteration would
    * re-shuffle the full edge set. `weightCol = None` carries weight 1.0
    * per edge, and `deg` becomes the plain out-degree; multiplying a rank
    * by 1.0 is IEEE-exact, so the unweighted arithmetic is bit-identical
    * to a weightless formulation. Weights must be positive — a
    * zero-total-weight source would divide by zero. */
  private[graft] def prepare(
      edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String] = None): PrGraph = {
    val w = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        w.as("w"))
      .repartition(col("src")).persist(MEMORY_AND_DISK)
    // rename BEFORE grouping so every node-keyed exchange in this frame's
    // plan prints on `node` — PlanSpec's no-live-src-exchange pin reads
    // the plan text, cached relations included
    val deg = e.select(col("src").as("node"), col("w")).groupBy(col("node"))
      .agg(sum(col("w")).as("deg"))
    val nd = nodesOf(e)
      .join(deg, Seq("node"), "left")
      .persist(MEMORY_AND_DISK)
    val n = nd.count() // bounded driver exchange: one long
    PrGraph(e, nd, n)
  }

  /** One damped update over a (node, deg, rank) frame. PlanSpec pins this
    * plan: the cached edge frame is never re-shuffled (no live exchange
    * on src), only rank-width frames move, the sink mass is a narrow
    * filter-aggregate riding a broadcast. */
  private[graft] def iterate(
      g: PrGraph, ranks: DataFrame,
      damping: Double, roundContrib: Int): DataFrame = {
    val base = lit((1.0 - damping) / g.n)
    // only rows with out-edges match the join, so `deg` is non-null on
    // every contribution; rank splits over out-edges in proportion to
    // edge weight (w = 1.0 and deg = out-degree in the unweighted case —
    // multiplying by 1.0 is IEEE-exact, so the arithmetic is identical)
    val contribs = g.e
      .join(ranks, g.e("src") === ranks("node"))
      .select(col("dst").as("node"),
        round(col("rank") * col("w") / col("deg"), roundContrib).as("contrib"))
    // dangling mass: total rank held by sink nodes — deg IS NULL on the
    // rank frame itself; one narrow filter + 1-row aggregate, broadcast
    // into the update. Its uniform per-node share joins the edge
    // contributions inside the damping term (textbook formulation).
    val sinkMass = ranks.filter(col("deg").isNull)
      .agg(exactSum(col("rank")).as("dm"))
    g.nd
      .join(contribs, Seq("node"), "left")
      .groupBy(col("node"))
      .agg(first(col("deg")).as("deg"), exactSum(col("contrib")).as("csum"))
      .crossJoin(broadcast(sinkMass))
      .select(col("node"), col("deg"),
        (base + lit(damping) *
          (col("csum") + round(col("dm") / g.n, roundContrib))).as("rank"))
  }

  /** The canonical undirected edge set: one (u, v) row per unordered
    * pair, u < v, self-loops dropped. */
  private def undirected(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /** Both directions of every non-self-loop edge, once each: (src, dst). */
  private def symmetric(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
    und.union(und.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** The distinct endpoints of a (src, dst) edge frame, as `node`. */
  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
      .distinct()

  /** Exact sum of doubles: summed as decimal(38,18), so the result does
    * not depend on summation order; 0.0 over no rows. */
  private def exactSum(c: Column): Column =
    coalesce(sum(c.cast("decimal(38,18)")).cast("double"), lit(0.0))

  /** Newman modularity Q of a LABELED partition over an undirected
    * simple graph: Q = Σ_c (e_c/m − (D_c/2m)²) — "how much denser are
    * the communities than a degree-preserving random rewiring?" (Q > ~0.3
    * is real structure; Q ≈ 0 means the labels don't bind). This is the
    * READOUT side: labels come from the caller (an attribute partition,
    * [[Dedup.connectedComponents]], an LPA run) — keeping it separate
    * from any particular community finder makes it gateable even where
    * the finder itself is iteration-dependent.
    *
    * INTEGER-EXACT throughout: edges normalize to distinct least<greatest
    * pairs, e_c / D_c / m are exact longs, and Q folds to ONE division
    * (4m·Σe_c − ΣD_c²)/(4m²), round@9 — no per-community float sum
    * exists to order. Edges with an UNLABELED endpoint drop from the
    * graph entirely (m included — documented contract: Q is the
    * modularity of the labeled subgraph). Scale shape: one distinct
    * normalize, two label equi-joins, a node-keyed degree aggregate and
    * a #communities rollup; ids and labels only on the wire.
    * Output: one row per community (label, n_nodes, e_in, d_tot) with
    * the global m and q on every row. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String, labelCol: String): DataFrame = {
    // conflicting labels for one node resolve DETERMINISTICALLY to the
    // minimum (a bare distinct would keep both rows and silently
    // double-count every incident edge in m, e_in and the degrees)
    val lab = labels.select(col(nodeCol).as("__node"),
      col(labelCol).as("__lab"))
      .groupBy(col("__node")).agg(min(col("__lab")).as("__lab"))
    val und = undirected(edges, srcCol, dstCol)
      .join(lab.select(col("__node").as("u"), col("__lab").as("lu")), Seq("u"))
      .join(lab.select(col("__node").as("v"), col("__lab").as("lv")), Seq("v"))
    val mTot = und.agg(count(lit(1)).as("m"))
    val ein = und.filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("__lab")).agg(count(lit(1)).as("e_in"))
    val deg = und.select(col("u").as("__node"), col("lu").as("__lab"))
      .union(und.select(col("v"), col("lv")))
      .groupBy(col("__node"), col("__lab")).agg(count(lit(1)).as("d"))
    val comm = deg.groupBy(col("__lab"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("d_tot"))
      .join(ein, Seq("__lab"), "left")
      .select(col("__lab"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_tot"))
    val parts = comm.agg(sum(col("e_in")).as("se"),
      sum(col("d_tot").cast("decimal(38,0)") * col("d_tot")).as("sd2"))
    // 4m² wraps a long past m ≈ 1.5e9 edges — entirely reachable at
    // 100 TB, so the fold runs in decimal(38,0)/HUGEINT (exact in both
    // engines, correctly rounded on the one cast to double)
    val four = lit(4L).cast("decimal(38,0)")
    val q = (four * col("m") * col("se") - col("sd2")).cast("double") /
      (four * col("m") * col("m")).cast("double")
    comm.crossJoin(broadcast(mTot)).crossJoin(broadcast(parts))
      .select(col("__lab").as("label"), col("n_nodes"), col("e_in"),
        col("d_tot"), col("m"), round(q, 9).as("q"))
  }

  /** Link-prediction scores over a BIPARTITE incidence (node, via) — the
    * classical candidate-generation battery for "which nodes are about
    * to be connected" (Liben-Nowell & Kleinberg 2003): per node pair
    * sharing at least `minShared` vias,
    *
    *   - `cn`             common-neighbor count |Γ(a)∩Γ(b)| (exact long),
    *   - `adamic_adar`    Σ 1/ln(deg(via)) — rare shared vias weigh more,
    *   - `resource_alloc` Σ 1/deg(via) — the harsher hub discount,
    *   - `jaccard`        |Γ(a)∩Γ(b)| / |Γ(a)∪Γ(b)|.
    *
    * Candidate generation is the via-keyed self-join, so a HOT via (a
    * supplier selling every part, a user touching every item) emits
    * deg²/2 pairs from one group — `maxDeg` is the df-cap scale lever
    * (the [[Dedup.jaccardPairsCapped]] machinery): only vias with
    * deg ≤ maxDeg GENERATE candidates, while every score is re-verified
    * EXACTLY over ALL shared vias of the surviving pairs (the hub still
    * counts in cn/aa/ra — capping trades candidate recall only, never
    * score fidelity). A shared via has deg ≥ 2 by construction, so
    * 1/ln(deg) is always finite. Per-wedge float terms round@9 to longs
    * and sum exactly (oracle-identical); the divisions happen once per
    * pair, round@9 — the scaled-long quotients carry EXACTLY 9 decimals,
    * so a @6 rounding would sit on a tie whenever the sum ends in 500
    * (caught by the gate on resource_alloc's first run), while @9 can
    * never tie: a terminating quotient k/1e9 IS a 9-decimal value, and a
    * half-tie at the 10th place needs a 2^10 factor in the denominator —
    * impossible at bounded degree.
    *
    * Scale shape: one distinct pass, one via-keyed degree aggregate
    * (broadcast back), the capped self-join, then the candidate-bounded
    * re-verify join — ids only on the wire throughout; the node-degree
    * frame joins by key (never broadcast-dependent on node count). */
  def adamicAdar(edges: DataFrame, nodeCol: String, viaCol: String,
      maxDeg: Long, minShared: Long = 2L): DataFrame = {
    require(maxDeg >= 2, s"maxDeg must be >= 2, got $maxDeg")
    val inc = edges.select(col(nodeCol).as("__n"), col(viaCol).as("__via"))
      .distinct()
    val vdeg = inc.groupBy(col("__via")).agg(count(lit(1)).as("d"))
    val ndeg = inc.groupBy(col("__n")).agg(count(lit(1)).as("dn"))
    val keep = inc.join(vdeg.filter(col("d") <= maxDeg), Seq("__via"))
    val cand = keep.select(col("__via"), col("__n").as("pa"))
      .join(keep.select(col("__via"), col("__n").as("pb")), Seq("__via"))
      .filter(col("pa") < col("pb"))
      .select(col("pa"), col("pb")).distinct()
    val shared = cand
      .join(inc.select(col("__n").as("pa"), col("__via")), Seq("pa"))
      .join(inc.select(col("__n").as("pb"), col("__via")), Seq("pb", "__via"))
      .join(vdeg, Seq("__via"))
    val aa9 = round(lit(1.0) / log(col("d").cast("double")) * 1e9, 0)
      .cast("long")
    val ra9 = round(lit(1.0) / col("d").cast("double") * 1e9, 0).cast("long")
    val sc = shared.groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("cn"), sum(aa9).as("aa9"), sum(ra9).as("ra9"))
      .filter(col("cn") >= minShared)
    sc.join(ndeg.select(col("__n").as("pa"), col("dn").as("deg_a")), Seq("pa"))
      .join(ndeg.select(col("__n").as("pb"), col("dn").as("deg_b")), Seq("pb"))
      .select(col("pa"), col("pb"), col("cn"), col("deg_a"), col("deg_b"),
        round(col("aa9").cast("double") / 1e9, 9).as("adamic_adar"),
        round(col("ra9").cast("double") / 1e9, 9).as("resource_alloc"),
        round(col("cn").cast("double") /
          (col("deg_a") + col("deg_b") - col("cn")).cast("double"), 9)
          .as("jaccard"))
  }
}
