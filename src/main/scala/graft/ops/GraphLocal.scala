package graft.ops

import scala.collection.mutable

/** Exact single-task graph algorithms for the SF-HELD demo graph
  * (see [[CoOrderGraph.demoEdges]]: the data-derived modulus pins the
  * node population at ~500 at every SF, so one task holds the whole
  * graph BY DESIGN — the q_graph_components / q_graph_kcore device).
  * Pure functions over an edge list: unit-testable on handcrafted
  * graphs without a SparkSession, then wrapped in one
  * `groupByKey(_ => 0).flatMapGroups` task by the queries.
  *
  * On an UNBOUNDED graph each has a documented distributed fallback:
  * betweenness → per-source Brandes fan-out (one BFS per task) or
  * pivot sampling (Brandes & Pich 2007); eccentricity → iFUB from a
  * high-degree root; bridges → chain decomposition over a distributed
  * spanning forest. The demo pins exact small-graph semantics; the
  * contraction in front of it is the part that sees the corpus. */
object GraphLocal {

  /** Adjacency map (both directions) from an undirected edge list;
    * neighbor lists sorted for deterministic traversal order. */
  def adjacency(edges: Seq[(Long, Long)])
      : Map[Long, IndexedSeq[Long]] = {
    val adj = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
    edges.foreach { case (u, v) =>
      adj.getOrElseUpdate(u, mutable.ArrayBuffer.empty) += v
      adj.getOrElseUpdate(v, mutable.ArrayBuffer.empty) += u
    }
    adj.iterator.map { case (k, ns) =>
      k -> (ns.distinct.sorted.toIndexedSeq) }.toMap
  }

  /** Exact betweenness centrality (Brandes 2001), unweighted,
    * undirected, endpoints excluded, each unordered pair counted once
    * (the accumulation is halved). Deterministic: the BFS order and
    * the dependency fold are fixed by the sorted adjacency. */
  def betweenness(edges: Seq[(Long, Long)]): Map[Long, Double] = {
    val adj = adjacency(edges)
    val nodes = adj.keys.toArray.sorted
    val bc = mutable.Map(nodes.map(_ -> 0.0).toSeq: _*)
    nodes.foreach { s =>
      val stack = mutable.ArrayBuffer.empty[Long]
      val pred = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
      val sigma = mutable.Map(s -> 1.0).withDefaultValue(0.0)
      val dist = mutable.Map(s -> 0).withDefaultValue(-1)
      val q = mutable.Queue(s)
      while (q.nonEmpty) {
        val v = q.dequeue()
        stack += v
        adj(v).foreach { w =>
          if (dist(w) < 0) { dist(w) = dist(v) + 1; q += w }
          if (dist(w) == dist(v) + 1) {
            sigma(w) = sigma(w) + sigma(v)
            pred.getOrElseUpdate(w, mutable.ArrayBuffer.empty) += v
          }
        }
      }
      val delta = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      stack.reverseIterator.foreach { w =>
        pred.getOrElse(w, Nil).foreach { v =>
          delta(v) = delta(v) +
            sigma(v) / sigma(w) * (1.0 + delta(w))
        }
        if (w != s) bc(w) = bc(w) + delta(w)
      }
    }
    // undirected: each (s, t) pair was visited from both ends
    bc.iterator.map { case (k, v) => k -> v / 2.0 }.toMap
  }

  /** Per-node eccentricity via one BFS per node (exact), restricted
    * to each node's own component: (node, componentLabel (min node
    * id in component), eccentricity). */
  def eccentricity(edges: Seq[(Long, Long)])
      : Seq[(Long, Long, Int)] = {
    val adj = adjacency(edges)
    val nodes = adj.keys.toArray.sorted
    nodes.toIndexedSeq.map { s =>
      val dist = mutable.Map(s -> 0)
      val q = mutable.Queue(s)
      var ecc = 0
      var label = s
      while (q.nonEmpty) {
        val v = q.dequeue()
        if (dist(v) > ecc) ecc = dist(v)
        if (v < label) label = v
        adj(v).foreach { w =>
          if (!dist.contains(w)) { dist(w) = dist(v) + 1; q += w }
        }
      }
      (s, label, ecc)
    }
  }

  /** Bridges and articulation points (Tarjan low-link DFS, iterative
    * — the demo graph is small but a recursive DFS would still be
    * one stack frame per node). Returns (bridges with u < v,
    * articulation points). */
  def bridgesAndArticulation(edges: Seq[(Long, Long)])
      : (Set[(Long, Long)], Set[Long]) = {
    val adj = adjacency(edges)
    val disc = mutable.Map.empty[Long, Int]
    val low = mutable.Map.empty[Long, Int]
    val parent = mutable.Map.empty[Long, Long]
    val bridges = mutable.Set.empty[(Long, Long)]
    val artic = mutable.Set.empty[Long]
    var timer = 0
    adj.keys.toArray.sorted.foreach { root =>
      if (!disc.contains(root)) {
        var rootChildren = 0
        // explicit stack of (node, neighbor cursor)
        val st = mutable.ArrayBuffer((root, 0))
        disc(root) = timer; low(root) = timer; timer += 1
        while (st.nonEmpty) {
          val (v, i) = st.last
          val ns = adj(v)
          if (i < ns.size) {
            st(st.size - 1) = (v, i + 1)
            val w = ns(i)
            if (!disc.contains(w)) {
              parent(w) = v
              if (v == root) rootChildren += 1
              disc(w) = timer; low(w) = timer; timer += 1
              st += ((w, 0))
            } else if (!parent.get(v).contains(w)) {
              low(v) = math.min(low(v), disc(w))
            }
          } else {
            st.remove(st.size - 1)
            parent.get(v).foreach { p =>
              low(p) = math.min(low(p), low(v))
              if (low(v) > disc(p))
                bridges += (if (p < v) (p, v) else (v, p))
              if (p != root && low(v) >= disc(p)) artic += p
            }
          }
        }
        if (rootChildren > 1) artic += root
      }
    }
    (bridges.toSet, artic.toSet)
  }

  /** Connected-component labels (min node id per component) of the
    * nodes that touch an edge: an in-memory union-find with
    * path-halving and union-by-min, so every root is its component's
    * minimum and the labels do not depend on edge order. Takes any
    * single-pass edge source — a task's partition or group iterator
    * streams straight in (q_graph_components' per-brand groups,
    * [[TextSim.dedupGroups]]' per-partition contraction). */
  def components(edges: IterableOnce[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    edges.iterator.foreach { case (u, v) =>
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      val ru = find(u); val rv = find(v)
      if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
    }
    // keys snapshotted: find() path-halves in place and must not race
    // the map's iterator
    parent.keys.toArray.map(x => x -> find(x)).toMap
  }
}
