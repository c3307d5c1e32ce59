package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.Q graph analytics over event-derived graphs.
  *
  * The scale discipline for iterative graph algorithms on Spark: CONTRACT
  * FIRST, ITERATE SMALL. The corpus-sized work is a single two-phase
  * aggregation that collapses 100 TB of events into a graph whose size is
  * bounded by the DOMAIN (k event types → k² edges), and every power
  * iteration then runs on that contracted table — broadcast-joinable,
  * shuffle-free, independent of corpus size. Iterating over the raw
  * edge-per-event stream (the naive Pregel shape) would shuffle the corpus
  * once per iteration; contracting first shuffles it once, total. The
  * contraction is `localCheckpoint`ed so the 5-iteration loop's lineage
  * does not replay the scan per iteration (the
  * [[graft.ops.TextSim]] union-find precedent).
  */
object GraphQueries {
  type Q = (SparkSession, String) => DataFrame

  /** q_graph_pagerank — PageRank over the event-type transition graph:
    * nodes are the distinct event types, edge weights the consecutive
    * (from → to) transition counts within each user's timeline
    * (q_evt_markov's matrix re-read as a weighted digraph), and 5
    * damped power iterations (d = 0.85, uniform 1/N init) score each
    * type by how central it is in user journeys — the "which state do
    * journeys orbit" complement of the funnel's fixed hypothesis.
    * Semantics pinned for engine parity: dangling mass is NOT
    * redistributed (a sink node's rank leaks, identically on both
    * engines), iteration count is fixed (no float-convergence test in
    * the control path), and only the final ranks round to 4 dp — the
    * per-iteration sums are ≤ k ≈ 5 doubles whose order drift is
    * ~1e-16, far under the rounding grid. Each iteration is a
    * broadcast join + k-row aggregate on the contracted graph; the
    * driver never touches per-event data. */
  private val graphPagerank: Q = (s, dir) =>
    pagerankFromEvents(s, Tables.load(s, dir, "events"))

  /** The event-type transition graph that q_graph_pagerank and
    * q_graph_hits iterate on the driver: the k²-row grid of
    * (from_type, to_type, n) over each user's consecutive events, and
    * the node set. Corpus work is one window + two-phase aggregate.
    * Both come back SORTED: collect order is partition-layout-
    * dependent, and the driver-local float folds must see one
    * canonical order (§7.5). The node set is its own (tiny) distinct,
    * exactly the oracle's `nodes` CTE: a type can appear with no
    * transitions at all. */
  private def transitionGraph(s: SparkSession, events: DataFrame)
      : (Array[(String, String, Long)], Array[String]) = {
    import s.implicits._
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val grid = events
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect()
      .sortBy(t => (t._1, t._2))
    val nodes = events.select(col("event_type").as("node"))
      .distinct().as[String].collect().sorted
    (grid, nodes)
  }

  /** Core of q_graph_pagerank, split from the registration so
    * LayoutInvarianceSpec can drive it over pathological partition
    * layouts (same contract as [[hitsFromEvents]]). r19: the 5
    * iterations used to run as 5 chained distributed join/agg layers
    * over the CHECKPOINTED k²-row grid — ~15 jobs of pure metadata
    * scheduling. The grid is k² ≤ a few hundred rows by construction,
    * so the power iteration moves to the driver (the r18 HITS device):
    * corpus work stays one window + two-phase aggregate; the collected
    * grid is SORTED before any float fold (§7.5 layout discipline),
    * per-target contributions fold in ascending from_type order, and
    * out-degree totals are exact integer sums. */
  private[graft] def pagerankFromEvents(s: SparkSession,
                                        events: DataFrame): DataFrame = {
    import s.implicits._
    val (grid, nodes) = transitionGraph(s, events)
    // p(from→to) = n / Σ_to n — integer-exact totals, one double
    // division per edge (identical to the former window-sum form)
    val outTot = grid.groupBy(_._1)
      .map { case (f, es) => f -> es.map(_._3).sum }
    val probs = grid.map { case (f, t, n) => (f, t, n.toDouble / outTot(f)) }
    var rank = nodes.map(n => n -> 1.0 / nodes.length).toMap
    for (_ <- 1 to 5) {
      // groupBy preserves the sorted encounter order inside each group
      // — contributions fold in ascending from_type order every run
      val contrib = probs.groupBy(_._2).map { case (t, es) =>
        t -> es.map(e => rank(e._1) * e._3).sum }
      rank = nodes.map(n => n ->
        (0.15 / nodes.length + 0.85 * contrib.getOrElse(n, 0.0))).toMap
    }
    nodes.toSeq.map(n => (n, rank(n))).toDF("node", "rank")
      .select(col("node").as("event_type"), round(col("rank"), 4).as("rank"))
      .orderBy("event_type")
  }

  /** q_graph_degree — degree distribution of the co-order part graph
    * (parts are adjacent when some order contains both): the first
    * profile run on ANY graph before choosing an algorithm — a heavy
    * tail decides salting, orientation, and whether triangle counting
    * is feasible at all. Graph build is the only corpus-sized work:
    * one distinct + one per-order self-join (pairs per order are
    * C(items,2) with items ≈ 4 — bounded fan-out, never quadratic in
    * the corpus); degrees and the distribution are two further
    * contractions, each orders of magnitude smaller. */
  private val graphDegree: Q = (s, dir) => {
    // shared cached contraction — in-row pair build, one per session
    // (see graft.ops.CoOrderGraph for the shape and cache contract)
    val e0 = graft.ops.CoOrderGraph.fullEdges(s, dir)
    val deg = graft.ops.CoOrderGraph.degrees(e0, "degree")
    deg.groupBy("degree")
      .agg(count(lit(1)).as("n_parts"),
        min("p").as("min_part"), max("p").as("max_part"))
      .select(col("degree").cast("long").as("degree"), col("n_parts"),
        col("min_part"), col("max_part"))
      .orderBy("degree")
  }

  /** Shared contraction for the triangle-family demo graph
    * (q_graph_triangles, q_graph_clustering): the co-order part
    * sub-graph restricted to `l_partkey % m = 0`, where the modulus
    * `m = 4 · max(1, (max(l_partkey)+1) DIV 2000)` is computed FROM
    * THE DATA, identically in the DuckDB oracle. That holds the
    * selected node population at ~500 parts at every SF (sf0.01: m=4;
    * sf0.1: m=40; sf1: m=400), so the benched demo prices the SHAPE —
    * one corpus scan + the bounded per-order pair build — not an
    * artifact graph that densifies super-linearly with SF (the round-12
    * 13.4× slope: fixed %4 kept 1/4 of a 10×-larger part population,
    * and wedge work grew with the square of density). At 100 TB a real
    * caller pins the graph they want; the demo pins a constant one.
    * Returns (e0 undirected edges — `localCheckpoint`ed, every readout
    * reuses it — and the degree table, cheap enough to recompute from
    * the checkpointed edge list that its own checkpoint was a net
    * loss). */
  private def coOrderDemoGraph(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    // shared cached contraction (graft.ops.CoOrderGraph "demo"
    // variant — the data-derived modulus contract lives there now)
    val e0 = graft.ops.CoOrderGraph.demoEdges(s, dir)
    val deg = graft.ops.CoOrderGraph.degrees(e0, "dg")
    (e0, deg)
  }

  /** Degree-orientation of the demo graph's edge list: each edge
    * points from its lower-(degree, key) endpoint to its higher one,
    * so every triangle is generated exactly once and per-node wedge
    * fan-out is bounded by oriented out-degree ≤ O(√E).
    * `localCheckpoint`ed — the 3-alias triangle self-join reads it
    * three times. */
  private def orientedEdges(e0: DataFrame, deg: DataFrame): DataFrame = {
    val du = deg.select(col("p").as("up"), col("dg").as("udg"))
    val dv = deg.select(col("p").as("vp"), col("dg").as("vdg"))
    val fwd = (col("udg") < col("vdg")) ||
      (col("udg") === col("vdg") && col("u") < col("v"))
    e0.join(broadcast(du), col("u") === col("up"))
      .join(broadcast(dv), col("v") === col("vp"))
      .select(when(fwd, col("u")).otherwise(col("v")).as("u"),
        when(fwd, col("v")).otherwise(col("u")).as("v"))
      .localCheckpoint()
  }

  /** q_graph_triangles — triangle census (nodes, edges, wedges,
    * triangles) on the SF-held co-order demo graph (see
    * [[coOrderDemoGraph]] for the modulus contract). The algorithm is
    * the 100 TB story: degree-oriented edges make the wedge join
    * near-linear where the naive u<v<w enumeration explodes
    * quadratically on hubs; the DuckDB oracle enumerates the same
    * restricted graph the simple u<v<w way — identical count,
    * different join order. */
  private val graphTriangles: Q = (s, dir) => {
    val (e0, deg) = coOrderDemoGraph(s, dir)
    val e = orientedEdges(e0, deg)
    val e1 = e.as("e1"); val e2 = e.as("e2"); val e3 = e.as("e3")
    val tri = e1.join(e2, col("e2.u") === col("e1.v"))
      .join(e3, col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val edges = e0.agg(count(lit(1)).as("n_edges"))
    // dg·(dg−1) is always even, so DIV keeps the sum integer-exact
    val wedges = deg.agg(expr("sum((dg * (dg - 1)) DIV 2)").as("n_wedges"))
    nodes.crossJoin(edges).crossJoin(wedges).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"))
  }

  /** q_graph_clustering — local clustering coefficients on the
    * q_graph_triangles graph (the SF-held [[coOrderDemoGraph]]):
    * per node c = 2·tri(v) / (deg·(deg−1)) over deg ≥ 2 nodes,
    * summarized as the AVERAGE local coefficient (Watts–Strogatz),
    * the global transitivity 3·triangles/wedges, the max, and the
    * closed-node count — the "how cliquish is this graph" readout
    * that decides between community detection (high clustering) and
    * spectral/flow methods (low). The two summary numbers genuinely
    * differ (avg-local weights every node equally; transitivity
    * weights by wedge count — hubs dominate it), which is why both
    * are reported. Shape: the SAME oriented-edge triangle enumeration
    * as the census (per-triangle fan-out bounded by oriented
    * out-degree), with each triangle credited to its THREE corners via
    * a 3-way union of the (u,v,w) rows — node-level counts fall out of
    * one groupBy on triangle rows, orders of magnitude below the edge
    * list. Float parity: tri and deg are integers; each node's c is
    * ONE division rounded to an 8-dp decimal before the node-fold (the
    * logloss rule), so the average is partition-order-free; the oracle
    * enumerates the same graph the naive u<v<w way. */
  private val graphClustering: Q = (s, dir) => {
    val (e0, deg) = coOrderDemoGraph(s, dir)
    val e = orientedEdges(e0, deg)
    val e1 = e.as("e1"); val e2 = e.as("e2"); val e3 = e.as("e3")
    val tris = e1.join(e2, col("e2.u") === col("e1.v"))
      .join(e3, col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
      .localCheckpoint()
    val triPerNode = tris.select(col("x").as("p"))
      .unionAll(tris.select(col("y").as("p")))
      .unionAll(tris.select(col("z").as("p")))
      .groupBy("p").agg(count(lit(1)).as("tri"))
    val nodes = deg.filter(col("dg") >= 2)
      .join(triPerNode, Seq("p"), "left")
      .withColumn("t", coalesce(col("tri"), lit(0L)))
      .withColumn("c", round(lit(2.0) * col("t") /
        (col("dg") * (col("dg") - lit(1))), 8).cast("decimal(20,8)"))
    val summary = nodes.agg(count(lit(1)).as("n_nodes"),
      sum("t").as("t3"), sum("c").as("sc"), max("c").as("max_c"),
      count(when(col("c") === lit(1.0).cast("decimal(20,8)"), 1))
        .as("n_closed"))
    val wedges = deg.agg(expr("sum((dg * (dg - 1)) DIV 2)").as("n_wedges"))
    summary.crossJoin(wedges)
      .select(col("n_nodes"),
        expr("t3 DIV 3").as("n_triangles"),
        round(col("sc").cast("double") / col("n_nodes"), 6).as("avg_cc"),
        round(col("t3").cast("double") / col("n_wedges"), 6)
          .as("transitivity"),
        col("max_c").cast("double").as("max_cc"), col("n_closed"))
  }

  /** The link-prediction trio's wedge input (q_graph_common_neighbors,
    * q_graph_adamic_adar, q_graph_jaccard) on the %8 co-order graph:
    * its checkpointed degree table `deg` (p, dg) and the undirected
    * incidence (w, x, dg), w being the shared-neighbor pivot with
    * degree dg, kept where `pivots` holds (the dg ≤ 64 hub cap). */
  private def pivotIncidence(s: SparkSession, dir: String,
                             pivots: Column): (DataFrame, DataFrame) = {
    val e0 = graft.ops.CoOrderGraph.mod8Edges(s, dir)
    val deg = graft.ops.CoOrderGraph.degrees(e0, "dg")
      .localCheckpoint()
    (deg, e0.select(col("u").as("w"), col("v").as("x"))
      .unionAll(e0.select(col("v").as("w"), col("u").as("x")))
      .join(broadcast(deg.select(col("p").as("w"), col("dg"))), "w")
      .filter(pivots))
  }

  /** q_graph_common_neighbors — link-prediction scores on the co-order
    * part sub-graph (`p_partkey % 8 = 0`; the q_graph_triangles graph
    * halved again, because pair-level output is Σ deg(w)²/2 wedges —
    * ~4.8 M at the %4 size vs ~1.2 M here, and the demo prices the
    * SHAPE, not the volume): for every node pair sharing ≥ 2 neighbors, the
    * common-neighbor count and Jaccard = cn / (deg_u + deg_v − cn) —
    * the classic "who should be connected" similarity under
    * recommenders and graph cleaning; top-50 by (jaccard, pair). The
    * scale honesty: pair generation is the WEDGE join (both wedge
    * endpoints per shared neighbor), whose fan-out is Σ deg(w)² — a
    * hub node quadratically floods it, and unlike the triangle census
    * orientation cannot help because BOTH wedge sides are wanted. The
    * standard mitigation is applied in-plan: nodes with degree > 64
    * are excluded from SERVING as the shared pivot (hubs carry no
    * similarity signal — everyone co-occurs with them; their PAIR
    * MEMBERSHIP survives via their other neighbors). The cap is a
    * visible, documented semantic both engines share, turning the
    * worst case into cap²·|pivots|. Edge/degree tables reuse the
    * triangle census discipline (`localCheckpoint`, broadcast degree
    * dim). */
  private val graphCommonNeighbors: Q = (s, dir) => {
    val (deg, inc0) = pivotIncidence(s, dir, col("dg") <= 64)
    // Checkpointed — BOTH sides of the wedge self-join read it, and
    // without materialization each side replays the union + broadcast
    // join over the edge list.
    val inc = inc0.select("w", "x").localCheckpoint()
    val i1 = inc.as("i1"); val i2 = inc.as("i2")
    val pairs = i1.join(i2, col("i1.w") === col("i2.w")
        && col("i1.x") < col("i2.x"))
      .groupBy(col("i1.x").as("u"), col("i2.x").as("v"))
      .agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= 2)
    pairs
      .join(broadcast(deg.select(col("p").as("u"), col("dg").as("du"))), "u")
      .join(broadcast(deg.select(col("p").as("v"), col("dg").as("dv"))), "v")
      .select(col("u"), col("v"), col("cn"),
        round(col("cn").cast("double") /
          (col("du") + col("dv") - col("cn")), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("u"), col("v"))
      .limit(50)
  }

  /** q_graph_modularity — Newman modularity of the BRAND partition
    * over the SF-held co-order demo graph ([[coOrderDemoGraph]]):
    * Q = Σ_c (e_c/m − (k_c/2m)²) — "is co-purchase brand-segregated"
    * as one number (Q ≈ 0: brands don't structure the graph; Q ≳ 0.3:
    * strong brand communities — the quality readout any community
    * assignment, LPA/Louvain included, is scored by; here the
    * partition under test is the catalog's own brand labels).
    * Exactness trick: the community sum COLLAPSES algebraically —
    * Q = E_in/m − (Σk_c²)/(4m²) with E_in and Σk_c² integers, so the
    * readout is TWO divisions of exact counts, not a float fold over
    * communities (merge-order-safe by construction). Scale: brand is
    * a broadcast dim onto the checkpointed edge list; everything
    * after is community-sized. */
  private val graphModularity: Q = (s, dir) => {
    val (e0, deg) = coOrderDemoGraph(s, dir)
    val brand = Tables.load(s, dir, "part")
      .select(col("p_partkey").as("p"), col("p_brand").as("c"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val kc = deg.join(broadcast(brand), "p")
      .groupBy("c").agg(sum("dg").cast("decimal(18,0)").as("k_c"))
    val k2t = kc.agg(count(lit(1)).as("n_comms"),
      sum(col("k_c") * col("k_c")).as("k2"))
    val eIn = e0
      .join(broadcast(brand.select(col("p").as("u"), col("c").as("cu"))),
        "u")
      .join(broadcast(brand.select(col("p").as("v"), col("c").as("cv"))),
        "v")
      .agg(count(lit(1)).as("m_edges"),
        sum(when(col("cu") === col("cv"), 1L).otherwise(0L)).as("e_in"))
    eIn.crossJoin(broadcast(k2t)).crossJoin(broadcast(nNodes))
      .select(col("n_nodes").cast("long").as("n_nodes"),
        col("m_edges").cast("long").as("m_edges"),
        col("n_comms").cast("long").as("n_comms"),
        col("e_in").cast("long").as("e_in"),
        round(col("e_in").cast("double") / col("m_edges"), 4)
          .as("intra_share"),
        round(col("e_in").cast("double") / col("m_edges") -
          col("k2").cast("double") /
            (lit(4.0) * col("m_edges") * col("m_edges")), 4)
          .as("modularity"))
  }

  /** q_graph_components — connected components of the same-brand
    * co-order part graph (sparse by construction: an order's parts
    * rarely share a brand), labeling every part with the minimum
    * partkey reachable from it; isolated parts label themselves.
    *
    * The edge predicate makes components BRAND-CLOSED (no edge crosses
    * brands), and that is the scale design: instead of iterating
    * min-label propagation over the whole graph (rounds ∝ component
    * diameter — ~10 Spark jobs at sf0.1, each mostly scheduler
    * latency), ONE `groupByKey(brand)` shuffle routes each brand's
    * edge list to a task that runs an in-memory union-find with
    * path-halving — exact components, single pass, zero iterations.
    * Per-group memory is O(nodes in the brand), bounded by the
    * partition key's fan-in, NOT the corpus; when no component-closed
    * key exists (or a group outgrows a task), the iterative
    * propagation loop — demonstrated at [[graft.ops.TextSim]]'s
    * q_vec_dedup_groups — is the fallback. Min-key canonical labels
    * make the result partition-order independent. The edge list rides
    * the family's shared in-row pair device
    * ([[graft.ops.CoOrderGraph.brandEdges]]) — one (order, brand)
    * grouped aggregate + local pair explode instead of the fact-table
    * self-join this op paid through r17 (one avoidable corpus shuffle,
    * the r17 verdict's task #3). */
  private val graphComponents: Q = (s, dir) => {
    import s.implicits._
    val e0 = graft.ops.CoOrderGraph.brandEdges(s, dir)
    val comps = e0.as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, rows) =>
        graft.ops.GraphLocal.components(
          rows.map { case (_, u, v) => (u, v) }).iterator
      }
      .toDF("node", "component")
    Tables.load(s, dir, "part").select(col("p_partkey"))
      .join(comps, col("p_partkey") === col("node"), "left")
      .select(col("p_partkey"),
        coalesce(col("component"), col("p_partkey")).as("component"))
      .orderBy("p_partkey")
  }

  /** q_graph_bipartite — bipartite projection of the user×event-type
    * engagement graph onto event types: for every type pair, the
    * shared-user count and the Jaccard of their user sets — the
    * co-engagement matrix behind "users who do X also do Y"
    * (recommendation candidates, feature bundling, cannibalization
    * checks). The projection is THE bipartite-scale trap: joining the
    * edge list with itself on user explodes on power users, so the op
    * contracts to per-user sorted TYPE SETS first (one shuffle) and
    * pairs IN-ROW — a user touches ≤ |types| types, so the local
    * product is bounded (the q_agg_basket shape on the user axis).
    * Per-type user counts broadcast back; all counts integers,
    * Jaccard n_ab/(n_a+n_b−n_ab) one shared division. */
  private val graphBipartite: Q = (s, dir) => {
    val sets = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"))
      .distinct()
      .groupBy("user_id")
      .agg(sort_array(collect_set("event_type")).as("types"))
    val tcount = sets
      .select(explode(col("types")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n_users"))
    val pairs = sets
      .select(explode(expr(
        """flatten(transform(types, (x, i) -> transform(
             slice(types, i + 2, size(types)),
             y -> struct(x AS t_a, y AS t_b))))""")).as("p"))
      .groupBy(col("p.t_a").as("t_a"), col("p.t_b").as("t_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(tcount.select(col("t").as("t_a"),
        col("n_users").as("n_a"))), "t_a")
      .join(broadcast(tcount.select(col("t").as("t_b"),
        col("n_users").as("n_b"))), "t_b")
      .select(col("t_a"), col("t_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")), 4).as("jaccard"))
      .orderBy("t_a", "t_b")
  }

  /** q_graph_assortativity — degree assortativity of the part
    * co-order graph: Pearson r of (deg u, deg v) over DIRECTED edge
    * ends (each undirected edge counted both ways — Newman's
    * definition) — the one-number answer to "do hubs link to hubs?"
    * (positive: social-style core; negative: hub-and-spoke
    * catalog — it determines whether removing hubs fragments the
    * graph, i.e. how co-purchase recommendations degrade). Shape:
    * the q_graph_degree edge contraction (bounded per-order
    * fan-out), degrees broadcast back onto the doubled edge list,
    * one co-moment aggregate. Exactness: degrees are integers, the
    * five sums are DECIMAL(18,0) products (width-safe both
    * engines), r is one shared closed-form double. */
  private val graphAssortativity: Q = (s, dir) => {
    val e0 = graft.ops.CoOrderGraph.fullEdges(s, dir)
    val deg = graft.ops.CoOrderGraph.degrees(e0, "degree")
    val dir2 = e0.select(col("u"), col("v"))
      .unionAll(e0.select(col("v").as("u"), col("u").as("v")))
    dir2
      .join(broadcast(deg.select(col("p").as("u"),
        col("degree").cast("decimal(18,0)").as("dx"))), "u")
      .join(broadcast(deg.select(col("p").as("v"),
        col("degree").cast("decimal(18,0)").as("dy"))), "v")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("dx").as("sx"), sum("dy").as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(col("n").cast("long").as("n_dir_edges"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double")) *
            sqrt((col("n") * col("syy") - col("sy") * col("sy"))
              .cast("double"))), 4).as("assortativity"))
  }

  /** q_graph_adamic_adar — Adamic–Adar link prediction on the same
    * %8 co-order graph as q_graph_common_neighbors: candidate pairs
    * score Σ_w 1/ln(deg(w)) over their shared neighbors, so a shared
    * RARE neighbor (degree 2–3) counts far more than a shared hub —
    * the standard fix for raw common-neighbor counts saturating on
    * hubs. Same bucketed wedge machinery (incidence pivot-capped at
    * dg ≤ 64 — no hub fan-out), and the pivot's weight rides the
    * incidence row, so scoring adds ZERO shuffles over the count
    * form. The 1/ln(dg) term follows the logloss rule: rounded to
    * 8-dp decimal per pivot BEFORE summing (libm ln is ±1 ulp; the
    * pre-round makes the fold partition-order-free and
    * engine-identical). dg ≥ 2 for every pivot that forms a pair
    * (one edge can't make a wedge), and the filter pins it, so
    * ln(dg) ≥ ln 2 and the division is ANSI-safe. */
  private val graphAdamicAdar: Q = (s, dir) => {
    val (_, inc0) =
      pivotIncidence(s, dir, col("dg") >= 2 && col("dg") <= 64)
    val inc = inc0
      .select(col("w"), col("x"),
        round(lit(1.0) / log(col("dg").cast("double")), 8)
          .cast("decimal(20,8)").as("aa_term"))
      .localCheckpoint()
    val i1 = inc.as("i1"); val i2 = inc.as("i2")
    i1.join(i2, col("i1.w") === col("i2.w") && col("i1.x") < col("i2.x"))
      .groupBy(col("i1.x").as("u"), col("i2.x").as("v"))
      .agg(count(lit(1)).as("cn"), sum(col("i1.aa_term")).as("aa_d"))
      .filter(col("cn") >= 2)
      .select(col("u"), col("v"), col("cn"),
        round(col("aa_d").cast("double"), 4).as("adamic_adar"))
      .orderBy(col("adamic_adar").desc, col("u"), col("v"))
      .limit(50)
  }

  /** q_graph_jaccard — Jaccard link prediction on the same %8
    * co-order graph as q_graph_common_neighbors / q_graph_adamic_adar:
    * candidate pairs score |Γ(u)∩Γ(v)| / |Γ(u)∪Γ(v)| — the NORMALIZED
    * member of the link-prediction trio (raw counts saturate on hubs;
    * Adamic–Adar reweights shared RARE neighbors; Jaccard normalizes
    * by the union, so a pair sharing most of two small neighborhoods
    * outranks a hub pair sharing crumbs). Same bucketed wedge
    * machinery (incidence pivot-capped at dg ≤ 64 — no hub fan-out);
    * the union needs NO extra set pass: |∪| = deg(u) + deg(v) − cn,
    * with full degrees riding two broadcast dim joins. Integers to
    * one division per surviving pair. */
  private val graphJaccard: Q = (s, dir) => {
    val (deg, inc0) =
      pivotIncidence(s, dir, col("dg") >= 2 && col("dg") <= 64)
    val inc = inc0.select(col("w"), col("x")).localCheckpoint()
    val i1 = inc.as("i1"); val i2 = inc.as("i2")
    i1.join(i2, col("i1.w") === col("i2.w") && col("i1.x") < col("i2.x"))
      .groupBy(col("i1.x").as("u"), col("i2.x").as("v"))
      .agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= 2)
      .join(broadcast(deg.select(col("p").as("u"), col("dg").as("du"))), "u")
      .join(broadcast(deg.select(col("p").as("v"), col("dg").as("dv"))), "v")
      .select(col("u"), col("v"), col("cn").cast("long").as("cn"),
        (col("du") + col("dv") - col("cn")).cast("long").as("union_sz"),
        round(col("cn").cast("double") /
          (col("du") + col("dv") - col("cn")), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("u"), col("v"))
      .limit(50)
  }

  /** q_graph_kcore — k-core decomposition of the SF-held co-order
    * demo graph ([[coOrderDemoGraph]]): per-vertex coreness by a
    * single IN-TASK Matula–Beck bucket-queue peel (see the inline
    * comment below for the algorithm and the measured-and-rejected
    * iterative alternatives), then for each k the core's node/edge
    * census as two descending cumulative histograms. Core membership
    * is the standard "structurally engaged" screen (a high-degree
    * node whose neighbors are all leaves is NOT in the 2-core; degree
    * can't see that). O-bound: the peel is a non-monotone deletion
    * fixpoint with no recursive-CTE oracle, so the oracle anchors the
    * k=1 census exactly (the 1-core of an edge list IS the whole
    * graph) and asserts nestedness + min-degree verdicts; the full
    * per-k census is pinned on a handcrafted graph in
    * AnalyticsOpsSpec. Scale: the modulus contract pins the demo
    * graph to ~500 nodes at every SF, so one task peels it in O(E);
    * on an UNBOUNDED graph the documented fallback is the distributed
    * h-index recurrence (inline comment). */
  private def kcoreParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (e0, _) = coOrderDemoGraph(s, dir)
    // Coreness via exact in-task Matula–Beck peeling — the
    // q_graph_components pattern: the SF-held demo graph fits one
    // task BY DESIGN (the modulus contract pins ~500 nodes at every
    // SF), so one `groupByKey` routes the edge list to a task that
    // peels minimum-degree vertices with a bucket queue in O(E) —
    // exact core numbers, one Spark job, zero iterations. (Iterative
    // alternatives were measured and rejected at this graph size:
    // per-k peel loops and the distributed h-index recurrence
    // [Lü et al. 2016] both spend 5–8 s of pure per-round job
    // overhead at sf0.1. On an UNBOUNDED graph the h-index recurrence
    // — c⁰ = degree, c^{t+1}(v) = H(neighbours' c^t), broadcast +
    // checkpoint every few rounds — is the documented fallback, same
    // trade as components' propagation-loop fallback.)
    import s.implicits._
    val coreness = e0.as[(Long, Long)]
      .groupByKey(_ => 0)
      .flatMapGroups { (_, rows) =>
        import scala.collection.mutable
        val adj = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
        rows.foreach { case (u, v) =>
          adj.getOrElseUpdate(u, mutable.ArrayBuffer.empty) += v
          adj.getOrElseUpdate(v, mutable.ArrayBuffer.empty) += u
        }
        val deg = mutable.Map(adj.map { case (p, ns) =>
          p -> ns.size }.toSeq: _*)
        val maxDeg = if (deg.isEmpty) 0 else deg.values.max
        val buckets = Array.fill(maxDeg + 1)(mutable.Set.empty[Long])
        deg.foreach { case (p, d) => buckets(d) += p }
        val core = mutable.Map.empty[Long, Long]
        val removed = mutable.Set.empty[Long]
        var k = 0L
        var left = deg.size
        var d = 0
        while (left > 0) {
          while (d <= maxDeg && buckets(d).isEmpty) d += 1
          val v = buckets(d).head
          buckets(d) -= v
          k = math.max(k, d.toLong)
          core(v) = k
          removed += v
          left -= 1
          adj(v).foreach { w =>
            if (!removed(w)) {
              val dw = deg(w)
              buckets(dw) -= w
              buckets(dw - 1) += w
              deg(w) = dw - 1
              if (dw - 1 < d) d = dw - 1
            }
          }
        }
        core.iterator.map { case (p, c) => (p, c) }
      }
      .toDF("p", "c")
    val c = coreness.localCheckpoint()
    // census: k-core = induced subgraph on {v : core(v) ≥ k}, so node
    // counts are a descending cumulative over the coreness histogram
    // and edge counts over the per-edge min-endpoint coreness
    val wk = Window.orderBy(col("k").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nodesK = c.groupBy(col("c").as("k"))
      .agg(count(lit(1)).as("nc"))
      .withColumn("n_nodes", sum("nc").over(wk))
    val edgesK = e0
      .join(broadcast(c.select(col("p").as("u"), col("c").as("cu"))), "u")
      .join(broadcast(c.select(col("p").as("v"), col("c").as("cv"))), "v")
      .groupBy(least(col("cu"), col("cv")).as("k"))
      .agg(count(lit(1)).as("ec"))
      .withColumn("n_edges", sum("ec").over(wk))
    // a k level can exist in one histogram but not the other (e.g. no
    // edge has min-coreness exactly k): build the dense 1..kmax spine
    // from the node histogram (coreness ≥ 1 everywhere on an edge list)
    val spine = nodesK.agg(max("k").as("kmax"))
      .select(explode(sequence(lit(1L), col("kmax"))).as("k"))
    val nodeFill = Window.orderBy("k")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val census = spine
      .join(nodesK.select("k", "n_nodes"), Seq("k"), "left")
      .join(edgesK.select("k", "n_edges"), Seq("k"), "left")
      // a missing k means "same census as the next present k above"
      .withColumn("n_nodes",
        first("n_nodes", ignoreNulls = true).over(nodeFill))
      .withColumn("n_edges",
        first("n_edges", ignoreNulls = true).over(nodeFill))
      .select(col("k"), col("n_nodes").cast("long").as("n_nodes"),
        col("n_edges").cast("long").as("n_edges"))
      .orderBy("k")
    (e0, c, census)
  }

  /** Full (k, n_nodes, n_edges) census — AnalyticsOpsSpec pins it
    * against an independent in-memory peel. */
  private[graft] val graphKcoreCensus: Q = (s, dir) =>
    kcoreParts(s, dir)._3

  /** Registered readout — self-certifying BOUND form (the
    * q_agg_approx device): coreness itself needs the peel (non-
    * monotone, so no recursive-CTE oracle exists), but the 1-core of
    * an edge list IS the whole graph (every endpoint has degree ≥ 1),
    * so the k = 1 census row is an exact DuckDB anchor (the demo-graph
    * contraction is SQL-reconstructible — the triangles/degree oracle
    * precedent), and two invariants certify the peel: cores are
    * NESTED (census non-increasing in k) and every node has ≥ core(v)
    * neighbors of coreness ≥ core(v) — the defining property of the
    * core number. Exact per-k values stay pinned in AnalyticsOpsSpec
    * via [[graphKcoreCensus]]. */
  private val graphKcore: Q = (s, dir) => {
    val (e0, c, census) = kcoreParts(s, dir)
    val anchor = census.filter(col("k") === 1)
      .select(col("n_nodes"), col("n_edges"))
    val shifted = census.select((col("k") - 1).as("k"),
      col("n_nodes").as("nn2"), col("n_edges").as("ne2"))
    val nested = census.join(shifted, Seq("k"), "left")
      .agg((sum(when(col("nn2") > col("n_nodes") ||
        col("ne2") > col("n_edges"), 1).otherwise(0)) === 0)
        .as("cores_nested"))
    val nbr = e0
      .join(broadcast(c.select(col("p").as("u"), col("c").as("cu"))), "u")
      .join(broadcast(c.select(col("p").as("v"), col("c").as("cv"))), "v")
    val mindeg = nbr
      .select(col("u").as("p"), col("cu").as("cp"), col("cv").as("cn"))
      .unionAll(nbr
        .select(col("v").as("p"), col("cv").as("cp"), col("cu").as("cn")))
      .groupBy("p", "cp")
      .agg(sum(when(col("cn") >= col("cp"), 1L).otherwise(0L))
        .as("in_core"))
      .agg((sum(when(col("in_core") < col("cp"), 1).otherwise(0)) === 0)
        .as("core_mindeg_ok"))
    anchor.crossJoin(nested).crossJoin(mindeg)
  }

  /** q_graph_hits — HITS hubs & authorities on the weighted
    * type-transition digraph (q_graph_pagerank's edge build): 3
    * mutually-recursive rounds of a ← Aᵀh, h ← A·a, each sum-normalized
    * — the asymmetric-role centrality pagerank can't express (a
    * 'view' that feeds purchases is a HUB; 'purchase' that everything
    * leads to is an AUTHORITY; pagerank mixes the two). Same scale
    * contract as pagerank: the only corpus-sized phase is the edge
    * contraction (one user-partitioned window + one aggregate down to
    * the k²-row type-transition grid, k = event types — single
    * digits). The power iteration itself runs ON THE DRIVER over the
    * collected grid (the q_vec_pca driver-eigensolve precedent):
    * unrolling 3 rounds of joins + aggregates + broadcast totals as
    * Spark jobs cost ~5 s of pure lineage/job overhead on a few dozen
    * rows (the r17 #1 bench row) while the same arithmetic is
    * microseconds locally, and the collect is dimension-bounded (k²),
    * never corpus-sized. Sum-normalization (not L2) keeps every step
    * a closed-form rational of the integer weights — no sqrt chain
    * for the oracle to drift on; outputs round at 4 dp like
    * pagerank's, through the same Spark `round` so HALF_UP semantics
    * stay identical to the distributed form this replaced. */
  private val graphHits: Q = (s, dir) =>
    hitsFromEvents(s, Tables.load(s, dir, "events"))

  /** Core of q_graph_hits, split from the registration so
    * LayoutInvarianceSpec can drive it over pathological partition
    * layouts (the driver-local fold must be a pure function of the
    * grid CONTENT, never of collect order). */
  private[graft] def hitsFromEvents(s: SparkSession,
                                    events: DataFrame): DataFrame = {
    import s.implicits._
    val (counts, nodes) = transitionGraph(s, events)
    val grid = counts.map { case (f, t, n) => (f, t, n.toDouble) }
    var hub = nodes.map(n => n -> 1.0 / nodes.length).toMap
    var auth = Map.empty[String, Double]
    for (_ <- 1 to 3) {
      // groupBy preserves the sorted encounter order inside each
      // group; totals fold in sorted node order for the same reason
      val a0 = grid.groupBy(_._2).map { case (n, es) =>
        n -> es.map(e => hub(e._1) * e._3).sum }
      val aTot = a0.toSeq.sortBy(_._1).map(_._2).sum
      auth = nodes.map(n => n -> a0.getOrElse(n, 0.0) / aTot).toMap
      val h0 = grid.groupBy(_._1).map { case (n, es) =>
        n -> es.map(e => auth(e._2) * e._3).sum }
      val hTot = h0.toSeq.sortBy(_._1).map(_._2).sum
      hub = nodes.map(n => n -> h0.getOrElse(n, 0.0) / hTot).toMap
    }
    // degenerate corpus (no user has 2+ events): the oracle's sum over
    // an empty relation is NULL and every ratio is NULL — mirror that
    // instead of folding 0.0/0.0 = NaN
    val rows =
      if (grid.isEmpty)
        nodes.toSeq.map(n =>
          (n, Option.empty[Double], Option.empty[Double]))
      else nodes.toSeq.map(n => (n, Option(hub(n)), Option(auth(n))))
    rows.toDF("event_type", "h", "a")
      .select(col("event_type"),
        round(col("h"), 4).as("hub"),
        round(col("a"), 4).as("authority"))
      .orderBy("event_type")
  }

  /** Three synchronous label-propagation rounds over the directed
    * neighbor list `nbr` (w, x): every node starts as its own label
    * and adopts its neighbors' most frequent label, ties to the MIN
    * label; returns (node, lab). q_graph_lpa and q_pipe_graph_health
    * (PipeShowcaseSpec pins the two bit-equal). */
  private def lpaLabels(nbr: DataFrame): DataFrame = {
    val init = nbr.select(col("w").as("node")).distinct()
      .withColumn("lab", col("node"))
    val wTop = Window.partitionBy("w")
      .orderBy(col("c").desc, col("lab").asc)
    (1 to 3).foldLeft(init) { (lab, _) =>
      nbr.join(lab.select(col("node").as("x"), col("lab")), "x")
        .groupBy("w", "lab").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") === 1)
        .select(col("w").as("node"), col("lab"))
    }
  }

  /** q_graph_lpa — deterministic synchronous label propagation (3
    * rounds) on the %8 co-order part graph: every node starts as its
    * own label; each round it adopts its neighbors' MOST FREQUENT
    * label, ties broken by MIN label — the classic near-linear
    * community detector (Raghavan et al., PRE'07), made
    * oracle-reproducible by pinning the update to a total order
    * (count DESC, label ASC) and running rounds SYNCHRONOUSLY.
    * Complements the graph shelf's existing structure readouts:
    * components finds CONNECTIVITY (one bridge edge merges two dense
    * clusters), modularity SCORES a given partition; LPA discovers
    * density communities. Readout = the 10 largest communities.
    * Exactness: labels are part keys, votes are integer counts, the
    * per-round winner is a row_number over a pinned total order —
    * nothing floats. Scale: contract-first (the GraphQueries
    * discipline) — the corpus collapses to the distinct edge list
    * once (localCheckpoint pins it across rounds); each round is one
    * neighbor join + count + per-node top-1 window (node-partitioned,
    * Pregel-shaped: cost ∝ edges, rounds fixed at 3); the final
    * top-10 is a TakeOrdered heap cut, no global sort. */
  private val graphLpa: Q = (s, dir) => {
    val e0 = graft.ops.CoOrderGraph.mod8Edges(s, dir)
    val nbr = e0.select(col("u").as("w"), col("v").as("x"))
      .unionAll(e0.select(col("v").as("w"), col("u").as("x")))
      .localCheckpoint()
    lpaLabels(nbr).groupBy("lab").agg(count(lit(1)).as("sz"))
      .orderBy(col("sz").desc, col("lab").asc)
      .limit(10)
      .select(col("lab").cast("long").as("community"),
        col("sz").cast("long").as("n_nodes"))
  }

  /** q_pipe_graph_health — the graph shelf composed as ONE fused
    * health panel over the %8 co-order part graph (the q_pipe_curate
    * discipline, fourth shelf): a single edge contraction
    * (localCheckpointed) feeds every check — size census
    * (nodes/edges), density and average degree (the "is this graph
    * even connected enough to analyze" numbers), max degree (the hub
    * alarm), degree assortativity (q_graph_assortativity's decimal
    * co-moment device on THIS graph: negative = hub-and-spoke,
    * positive = core-periphery), and the q_graph_lpa community pass
    * (3 deterministic rounds) for community count and top-community
    * share (fragmentation vs one-giant-blob). This is the profile a
    * graph pipeline prints before committing to expensive downstream
    * algorithms — every number here changes which algorithm is even
    * appropriate. Exactness: integer censuses; assortativity's
    * decimal sums; community labels from the pinned (count DESC,
    * label ASC) rounds. Scale: ONE edge contraction; degree and LPA
    * rounds are edge-proportional joins; readout is a fixed 8-row
    * grid. PipeShowcaseSpec pins the LPA leg bit-equal to
    * q_graph_lpa. */
  private val pipeGraphHealth: Q = (s, dir) => {
    val e0 = graft.ops.CoOrderGraph.mod8Edges(s, dir)
    val nbr = e0.select(col("u").as("w"), col("v").as("x"))
      .unionAll(e0.select(col("v").as("w"), col("u").as("x")))
      .localCheckpoint()
    val deg = nbr.groupBy(col("w").as("p"))
      .agg(count(lit(1)).as("degree"))
    val sizes = e0.agg(count(lit(1)).as("ne"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("nn"),
        max("degree").as("maxd"))))
    val assort = nbr
      .join(broadcast(deg.select(col("p").as("w"),
        col("degree").cast("decimal(18,0)").as("dx"))), "w")
      .join(broadcast(deg.select(col("p").as("x"),
        col("degree").cast("decimal(18,0)").as("dy"))), "x")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("dx").as("sx"), sum("dy").as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(round(try_divide(
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"),
        sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
          .cast("double")) *
          sqrt((col("n") * col("syy") - col("sy") * col("sy"))
            .cast("double"))), 4).as("assort"))
    val comm = lpaLabels(nbr).groupBy("lab").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("ncomm"), max("sz").as("topsz"))
    val one = sizes.crossJoin(broadcast(assort))
      .crossJoin(broadcast(comm))
    val nnD = col("nn").cast("double")
    val rows = one.select(
      struct(lit("1_nodes").as("check"),
        col("nn").cast("double").as("value")).as("r1"),
      struct(lit("2_edges").as("check"),
        col("ne").cast("double").as("value")).as("r2"),
      struct(lit("3_density").as("check"),
        round(try_divide(lit(2.0) * col("ne"),
          nnD * (nnD - 1)), 6).as("value")).as("r3"),
      struct(lit("4_avg_degree").as("check"),
        round(try_divide(lit(2.0) * col("ne"), nnD), 4).as("value"))
        .as("r4"),
      struct(lit("5_max_degree").as("check"),
        col("maxd").cast("double").as("value")).as("r5"),
      struct(lit("6_assortativity").as("check"),
        col("assort").as("value")).as("r6"),
      struct(lit("7_communities").as("check"),
        col("ncomm").cast("double").as("value")).as("r7"),
      struct(lit("8_top_community_share").as("check"),
        round(try_divide(col("topsz").cast("double"), nnD), 4)
          .as("value")).as("r8"))
    rows.select(explode(array(col("r1"), col("r2"), col("r3"),
        col("r4"), col("r5"), col("r6"), col("r7"), col("r8")))
        .as("r"))
      .select(col("r.check"), col("r.value"))
      .orderBy("check")
  }

  /** q_graph_powerlaw — Hill tail-index estimate of the co-order
    * degree distribution: xmin = the largest degree whose
    * ≥-xmin tail holds at least 50 nodes, α = 1 + k/Σ ln(d/xmin)
    * over that tail — "is this a scale-free hub structure or a
    * homogeneous mesh", the number that decides whether hub-capping
    * strategies (the adamic_adar dg ≤ 64 pivot cap) are load-bearing
    * or cosmetic. q_agg_hill estimates a VALUE tail; this reads the
    * GRAPH's connectivity tail, where the answer changes partitioning
    * strategy. Exactness: the tail threshold comes from a cumulative
    * count over the distinct-DEGREE grid ranked by a DISTRIBUTED
    * PrefixSweep (value-grain, no single-partition window); the ln
    * terms round to 8-dp decimals ×tail-count before the grid fold
    * (grid rule); α is one closed form with try_divide. Scale: one
    * edge contraction → node degrees → the DEGREE-VALUE grid
    * (bounded by max degree, not nodes). */
  private val graphPowerlaw: Q = (s, dir) => {
    // r17 rewrite (the r16 verdict's top ask): the full co-order edge
    // list now comes from the shared in-row pair contraction — the
    // fact-table self-join form measured 4.5–5.1 s quiet at sf0.1,
    // this form ~1.9 s, identical edge set (CoOrderGraph scaladoc)
    val e0 = graft.ops.CoOrderGraph.fullEdges(s, dir)
    val deg = graft.ops.CoOrderGraph.degrees(e0, "degree")
    val grid = deg.groupBy("degree").agg(count(lit(1)).as("cnt"))
    val swept = graft.ops.PrefixSweep.sweep(grid,
        Seq(col("degree").desc), runSums = Seq((col("cnt"), "cum")))
      .localCheckpoint()
    val xm = swept.filter(col("cum") >= 50)
      .agg(max("degree").as("xm"))
    val tail = swept.crossJoin(broadcast(xm))
      .filter(col("degree") >= col("xm"))
      .withColumn("term",
        (round(log(col("degree").cast("double") / col("xm")), 8)
          .cast("decimal(20,8)") * col("cnt")).cast("decimal(28,8)"))
    val nTot = deg.agg(count(lit(1)).as("nn"))
    tail.agg(max("xm").as("xm"), sum("cnt").as("k"),
        sum("term").as("st"))
      .crossJoin(broadcast(nTot))
      .select(col("nn").cast("long").as("n_nodes"),
        col("xm").cast("long").as("xmin"),
        col("k").cast("long").as("k_tail"),
        round(lit(1.0) + try_divide(col("k").cast("double"),
          col("st").cast("double")), 4).as("alpha"),
        when(round(lit(1.0) + try_divide(col("k").cast("double"),
          col("st").cast("double")), 4).between(1.5, 3.5), 1)
          .otherwise(0).as("scale_free_range"))
  }

  /** q_graph_betweenness — exact Brandes betweenness centrality on
    * the SF-held demo graph ([[graft.ops.CoOrderGraph.demoEdges]]):
    * the "which nodes sit on the routes" readout that ranks cut
    * vertices and brokers where degree ranks hubs — the load-bearing
    * number behind cache placement and partition-boundary choices on
    * a real routing graph. One task runs all-sources Brandes
    * ([[graft.ops.GraphLocal.betweenness]], endpoints excluded, each
    * unordered pair once) — exact by the modulus contract that pins
    * the demo graph at ~500 nodes; the distributed fallback for an
    * unbounded graph (per-source BFS fan-out / pivot sampling,
    * Brandes & Pich 2007) is documented at the algorithm. Oracle is
    * the kcore bound-verdict form: the SQL-reconstructed census
    * anchors n_nodes/n_edges exactly; the analytical invariants
    * (non-negativity, leaf-zero, star upper bound) ride as
    * engine-certified booleans; true values are pinned on handcrafted
    * graphs in GraphLocalSpec. */
  private val graphBetweenness: Q = (s, dir) => {
    import s.implicits._
    val e0 = graft.ops.CoOrderGraph.demoEdges(s, dir)
    val deg = graft.ops.CoOrderGraph.degrees(e0, "dg")
    val bc = e0.as[(Long, Long)]
      .groupByKey(_ => 0)
      .flatMapGroups { (_, rows) =>
        graft.ops.GraphLocal.betweenness(rows.toSeq).iterator
      }
      .toDF("p", "bc")
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val edges = e0.agg(count(lit(1)).as("n_edges"))
    bc.join(broadcast(deg), "p")
      .crossJoin(broadcast(nodes))
      .agg(
        max("n_nodes").as("nn"),
        (min("bc") >= -1e-9).as("bc_nonneg"),
        (max(when(col("dg") === 1, abs(col("bc"))))
          .isNull || max(when(col("dg") === 1, abs(col("bc"))))
          < 1e-9).as("leaves_zero"),
        (max("bc") <= (max("n_nodes") - 1) * (max("n_nodes") - 2)
          / lit(2.0) + 1e-6).as("bc_bound_ok"))
      .crossJoin(broadcast(edges))
      .select(col("nn").cast("long").as("n_nodes"),
        col("n_edges").cast("long").as("n_edges"),
        col("bc_nonneg"), col("leaves_zero"), col("bc_bound_ok"))
  }

  /** q_graph_eccentricity — radius / diameter / center / periphery of
    * the demo graph's LARGEST component (exact per-node BFS
    * eccentricities, [[graft.ops.GraphLocal.eccentricity]]): the
    * "how many hops across is this graph" profile that bounds
    * synchronous-round algorithms (a Pregel pass count is a diameter
    * bound) and picks broadcast- vs iterate-style propagation. The
    * DuckDB oracle independently reconstructs ALL-PAIRS shortest
    * paths with a bounded recursive CTE over the same contraction —
    * full value-level verification, not just anchors (its d < 24
    * expansion cap is certified by the under_cap verdict the engine
    * computes from the true diameter). Largest component ties break
    * to the min node label. */
  private val graphEccentricity: Q = (s, dir) => {
    import s.implicits._
    val e0 = graft.ops.CoOrderGraph.demoEdges(s, dir)
    val ecc = e0.as[(Long, Long)]
      .groupByKey(_ => 0)
      .flatMapGroups { (_, rows) =>
        graft.ops.GraphLocal.eccentricity(rows.toSeq).iterator
      }
      .toDF("p", "lbl", "ecc")
      .localCheckpoint()
    val lcc = ecc.groupBy("lbl").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("lbl").asc).limit(1)
    // under_cap certifies the oracle's d < 24 BFS cap over EVERY
    // component (the walk truncates everywhere, not just the LCC),
    // so the max eccentricity is taken BEFORE the LCC filter.
    val gmax = ecc.agg(max("ecc").as("gecc"))
    val rows = ecc.join(broadcast(lcc), "lbl")
    val stats = rows.agg(count(lit(1)).as("lcc_nodes"),
      min("ecc").as("radius"), max("ecc").as("diameter"))
    rows.crossJoin(broadcast(stats)).crossJoin(broadcast(gmax))
      .agg(max("lcc_nodes").as("lcc_nodes"),
        max("radius").as("r"), max("diameter").as("d"),
        max("gecc").as("ge"),
        count(when(col("ecc") === col("radius"), 1)).as("n_center"),
        count(when(col("ecc") === col("diameter"), 1))
          .as("n_periphery"))
      .select(col("lcc_nodes").cast("long").as("lcc_nodes"),
        col("r").cast("long").as("radius"),
        col("d").cast("long").as("diameter"),
        col("n_center"), col("n_periphery"),
        (col("ge") < 24).as("under_cap"))
  }

  /** q_graph_bridges — bridge / articulation-point census of the demo
    * graph (Tarjan low-link DFS,
    * [[graft.ops.GraphLocal.bridgesAndArticulation]]): the
    * single-point-of-failure profile — a bridge is an edge whose loss
    * disconnects, an articulation point a node that does the same;
    * on a dependency or delivery graph these are the rows an SRE
    * wants FIRST. The op SELF-CERTIFIES: for every bridge (and every
    * articulation point) it re-runs union-find on the graph minus
    * that edge (node) and asserts the split really happens — the
    * engine-side proof the oracle's booleans pin, since per-edge
    * removal reachability has no tractable SQL twin. n_components
    * additionally anchors value-exactly against the oracle's
    * recursive-CTE reachability. Counts are pinned on handcrafted
    * graphs in GraphLocalSpec. */
  private val graphBridges: Q = (s, dir) => {
    import s.implicits._
    val e0 = graft.ops.CoOrderGraph.demoEdges(s, dir)
    val verdicts = e0.as[(Long, Long)]
      .groupByKey(_ => 0)
      .mapGroups { (_, rows) =>
        val edges = rows.toSeq
        val (bridges, artic) =
          graft.ops.GraphLocal.bridgesAndArticulation(edges)
        val nComp = graft.ops.GraphLocal.components(edges)
          .values.toSet.size
        // removing a bridge must ADD a component. components() only
        // sees nodes that still carry an edge, so an endpoint the
        // removal isolates (pendant leaf, or both ends of an
        // isolated-K2 edge) vanishes from the remaining-edge count —
        // add those back before comparing, exactly like the
        // articulation branch below.
        val bridgesSplit = bridges.forall { b =>
          val rest = edges.filterNot(_ == b)
          val isolated = Seq(b._1, b._2).distinct.count(n =>
            !rest.exists(e => e._1 == n || e._2 == n))
          graft.ops.GraphLocal.components(rest).values.toSet.size +
            isolated == nComp + 1
        }
        // removing an articulation point must split ITS component:
        // the node's own component contributes ≥ 2 pieces afterwards,
        // so the global count (edge-bearing pieces + nodes the
        // removal isolated) must EXCEED the original
        val articSplit = artic.forall { a =>
          val rest = edges.filterNot(e => e._1 == a || e._2 == a)
          val isolated = graft.ops.GraphLocal.components(edges)
            .count { case (n, _) => n != a &&
              !rest.exists(e => e._1 == n || e._2 == n) }
          graft.ops.GraphLocal.components(rest).values.toSet.size +
            isolated >= nComp + 1
        }
        (nComp.toLong, bridges.size.toLong, artic.size.toLong,
          bridgesSplit, articSplit)
      }
      .toDF("n_components", "n_bridges", "n_artic",
        "bridges_split", "artic_split")
    val nodes = graft.ops.CoOrderGraph.degrees(e0, "dg")
      .agg(count(lit(1)).as("n_nodes"))
    val edges = e0.agg(count(lit(1)).as("n_edges"))
    verdicts
      .crossJoin(broadcast(nodes)).crossJoin(broadcast(edges))
      .select(col("n_nodes").cast("long").as("n_nodes"),
        col("n_edges").cast("long").as("n_edges"),
        col("n_components"), col("bridges_split"), col("artic_split"))
  }

  val all: Map[String, Q] = Map(
    "q_graph_betweenness" -> graphBetweenness,
    "q_graph_eccentricity" -> graphEccentricity,
    "q_graph_bridges" -> graphBridges,
    "q_graph_powerlaw" -> graphPowerlaw,
    "q_pipe_graph_health" -> pipeGraphHealth,
    "q_graph_lpa" -> graphLpa,
    "q_graph_hits" -> graphHits,
    "q_graph_adamic_adar" -> graphAdamicAdar,
    "q_graph_jaccard" -> graphJaccard,
    "q_graph_kcore" -> graphKcore,
    "q_graph_bipartite" -> graphBipartite,
    "q_graph_assortativity" -> graphAssortativity,
    "q_graph_pagerank" -> graphPagerank,
    "q_graph_modularity" -> graphModularity,
    "q_graph_degree" -> graphDegree,
    "q_graph_triangles" -> graphTriangles,
    "q_graph_clustering" -> graphClustering,
    "q_graph_components" -> graphComponents,
    "q_graph_common_neighbors" -> graphCommonNeighbors)
}
