package graft.procedures

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.core.GraphState
import graft.operators.{Cutover, LocalGraph, Planarity}

/** Driver-local graph toolkit: one captured graph [[G]] plus one copy of
  * each kernel, backing the single-node module mirrors
  *   - [[NxAlgProcs]] / [[NxAlgProcs2]] (`query_modules/nxalg.py`),
  *   - graph_analyzer in [[LegacyModuleProcs]]
  *     (`query_modules/graph_analyzer.py`),
  *   - the enumeration and cut procedures of [[IgraphProcs]]
  *     (`igraphalg.py`).
  * Each reference module converts the WHOLE graph into one in-process
  * graph object per call — single-node by construction; this capture is
  * the same execution model applied under the `spark.graft.local.edges`
  * gate, with the distributed operators as the scale path.
  *
  * No kernel recurses: walks keep explicit stacks, so a long path or
  * chain cannot overflow the driver's stack (the rule
  * [[graft.operators.LocalGraph]] follows too, and its lowlink pass is
  * the biconnectivity kernel here).
  *
  * Determinism: every adjacency is sorted by (neighbor id, edge id), so
  * traversal orders are reproducible; networkx follows storage insertion
  * order instead — order-sensitive yields (bfs/dfs orders, greedy
  * algorithms) are deterministic HERE but may legally differ from a
  * given networkx run.
  */
private[procedures] object NxLocal {

  import GraphState.{DstCol, IdCol, SrcCol}

  /** Captured directed multigraph. `w` maps edge id → weight (1.0 when
    * the property is absent, like networkx's weight fallback). */
  final case class G(
      nodes: Seq[Long],
      edges: Seq[(Long, Long, Long)], // (eid, src, dst)
      w: Map[Long, Double]) {
    val n: Int = nodes.length
    val m: Int = edges.length
    lazy val nodeSet: Set[Long] = nodes.toSet
    /** directed multi out/in adjacency, (neighbor, eid)-sorted */
    lazy val out: Map[Long, Seq[(Long, Long)]] = adj(_._2, _._3)
    lazy val in: Map[Long, Seq[(Long, Long)]] = adj(_._3, _._2)
    /** undirected multi adjacency (both orientations) */
    lazy val und: Map[Long, Seq[(Long, Long)]] = {
      val b = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
      edges.foreach { case (e, s, d) =>
        b.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += ((d, e))
        if (s != d)
          b.getOrElseUpdate(d, mutable.ArrayBuffer.empty) += ((s, e))
      }
      b.view.mapValues(_.sorted.toSeq).toMap
    }
    /** simple undirected neighbor sets (loops dropped) */
    lazy val undSimple: Map[Long, Seq[Long]] =
      und.view.mapValues(_.map(_._1).distinct.filterNot(_ == -1)).toMap
        .map { case (k, vs) => k -> vs.filterNot(_ == k).sorted }
    /** simple undirected edge list, u < v, one representative eid
      * (smallest) per pair */
    lazy val undSimpleEdges: Seq[(Long, Long, Long)] =
      edges.filter(e => e._2 != e._3)
        .map { case (e, s, d) => if (s < d) (s, d, e) else (d, s, e) }
        .groupBy(t => (t._1, t._2))
        .map { case ((u, v), ts) => (ts.map(_._3).min, u, v) }
        .toSeq.sortBy(_._1)
    /** simple directed successor sets */
    lazy val outSimple: Map[Long, Seq[Long]] =
      out.view.mapValues(_.map(_._1).distinct.sorted).toMap
    lazy val inSimple: Map[Long, Seq[Long]] =
      in.view.mapValues(_.map(_._1).distinct.sorted).toMap
    private def adj(
        k: ((Long, Long, Long)) => Long,
        v: ((Long, Long, Long)) => Long): Map[Long, Seq[(Long, Long)]] =
      edges.groupBy(k).view
        .mapValues(es => es.map(e => (v(e), e._1)).sorted).toMap
    def weight(eid: Long): Double = w.getOrElse(eid, 1.0)
    /** degree on the directed multigraph (in+out, loops count twice) */
    lazy val degree: Map[Long, Int] = {
      val d = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
      nodes.foreach(v => d(v) = 0)
      edges.foreach { case (_, s, t) => d(s) += 1; d(t) += 1 }
      d.toMap
    }
  }

  def capture(ctx: ProcContext, weightProp: Option[String] = None): G = {
    val nodes = Cutover.collect(ctx.g.allNodes.select(col(IdCol)))
      .getOrElse(throw new IllegalStateException(
        "graph above spark.graft.local.edges — the reference module " +
          "materializes the whole graph in one process; raise the " +
          "threshold, or use the distributed algo.* procedures"))
      .map(_.getLong(0)).toSeq.sorted
    val e0 = ctx.g.allEdges
    val wCol = weightProp match {
      case Some(p) if e0.columns.contains(p) => col(p).cast("double")
      case _ => lit(null).cast("double")
    }
    val rows = Cutover.collect(
      e0.select(col(IdCol), col(SrcCol), col(DstCol), wCol.as("__w")))
      .getOrElse(throw new IllegalStateException(
        "graph above spark.graft.local.edges"))
    val known = nodes.toSet
    val edges = rows
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(e => known(e._2) && known(e._3))
      .toSeq.sortBy(_._1)
    val w = rows.iterator
      .filter(r => !r.isNullAt(3))
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    G(nodes, edges, w)
  }

  /** Subgraph restricted to the given nodes and (optionally) edges. */
  def subgraph(
      g: G, keepNodes: Set[Long], keepEdges: Option[Set[Long]]): G =
    G(
      g.nodes.filter(keepNodes),
      g.edges.filter(e => keepNodes(e._2) && keepNodes(e._3) &&
        keepEdges.forall(_(e._1))),
      g.w)

  // ------------------------------------------------------------------
  // components

  def tarjanScc(g: G): Seq[Seq[Long]] = {
    val index = mutable.HashMap.empty[Long, Int]
    val low = mutable.HashMap.empty[Long, Int]
    val onStack = mutable.HashSet.empty[Long]
    val st = mutable.ArrayBuffer.empty[Long]
    var counter = 0
    val comps = mutable.ArrayBuffer.empty[Seq[Long]]
    g.nodes.foreach { root =>
      if (!index.contains(root)) {
        val work = mutable.Stack[(Long, Int)]((root, 0))
        index(root) = counter; low(root) = counter; counter += 1
        st += root; onStack += root
        while (work.nonEmpty) {
          val (v, i) = work.pop()
          val succ = g.outSimple.getOrElse(v, Nil)
          if (i < succ.length) {
            work.push((v, i + 1))
            val nx = succ(i)
            if (!index.contains(nx)) {
              index(nx) = counter; low(nx) = counter; counter += 1
              st += nx; onStack += nx
              work.push((nx, 0))
            } else if (onStack(nx)) low(v) = math.min(low(v), index(nx))
          } else {
            if (work.nonEmpty) {
              val p = work.top._1
              low(p) = math.min(low(p), low(v))
            }
            if (low(v) == index(v)) {
              val comp = mutable.ArrayBuffer.empty[Long]
              var done = false
              while (!done) {
                val x = st.remove(st.length - 1)
                onStack -= x
                comp += x
                if (x == v) done = true
              }
              comps += comp.toSeq.sorted
            }
          }
        }
      }
    }
    comps.toSeq.sortBy(_.head)
  }

  /** weakly connected components (sorted members, sorted by head). */
  def wcc(g: G): Seq[Seq[Long]] = {
    val seen = mutable.HashSet.empty[Long]
    val comps = mutable.ArrayBuffer.empty[Seq[Long]]
    g.nodes.foreach { s =>
      if (!seen(s)) {
        val comp = mutable.ArrayBuffer(s)
        seen += s
        val q = mutable.Queue(s)
        while (q.nonEmpty) {
          val v = q.dequeue()
          g.und.getOrElse(v, Nil).foreach { case (nx, _) =>
            if (!seen(nx)) { seen += nx; comp += nx; q += nx }
          }
        }
        comps += comp.toSeq.sorted
      }
    }
    comps.toSeq.sortBy(_.head)
  }

  /** Biconnected components (sorted vertex sets, ordered
    * lexicographically: by head, then by the rest) and bridges
    * (representative edge ids, sorted) of the simple undirected view —
    * one [[LocalGraph.biconnected]] lowlink pass. A vertex in two or more
    * components is an articulation point. */
  def biconnected(g: G): (Seq[Seq[Long]], Seq[Long]) = {
    import scala.math.Ordering.Implicits.seqOrdering
    val ends = g.undSimpleEdges.map(e => e._1 -> e).toMap
    val rows = LocalGraph.biconnected(g.undSimpleEdges.toArray)
    val comps = rows.groupBy(_._3).values
      .map(_.flatMap { r => val e = ends(r._1); Seq(e._2, e._3) }
        .distinct.sorted.toSeq)
      .toSeq.sorted
    (comps, rows.collect { case (e, true, _) => e }.sorted.toSeq)
  }

  /** Two-colourable over the simple undirected view; any self-loop
    * disqualifies. */
  def bipartite(g: G): Boolean = {
    if (g.edges.exists(e => e._2 == e._3)) return false
    val color = mutable.HashMap.empty[Long, Int]
    g.nodes.forall { s =>
      color.contains(s) || {
        color(s) = 0
        val q = mutable.Queue(s)
        var ok = true
        while (q.nonEmpty && ok) {
          val v = q.dequeue()
          g.undSimple.getOrElse(v, Nil).foreach { w =>
            if (!color.contains(w)) { color(w) = 1 - color(v); q += w }
            else if (color(w) == color(v)) ok = false
          }
        }
        ok
      }
    }
  }

  /** (is_eulerian, has_eulerian_path) of the directed multigraph. */
  def eulerParts(g: G): (Boolean, Boolean) = {
    val in = mutable.Map.empty[Long, Int].withDefaultValue(0)
    val out = mutable.Map.empty[Long, Int].withDefaultValue(0)
    g.edges.foreach { case (_, u, v) => out(u) += 1; in(v) += 1 }
    val balanced = g.nodes.forall(v => in(v) == out(v))
    val eulerian = g.n > 0 && balanced && tarjanScc(g).size == 1
    // nx has_eulerian_path (directed): eulerian, OR at most one node
    // out-heavy by 1 and one in-heavy by 1 (rest balanced) and weakly
    // connected over ALL nodes (an isolated node disqualifies)
    val plus = g.nodes.count(v => out(v) - in(v) == 1)
    val minus = g.nodes.count(v => in(v) - out(v) == 1)
    val noBig = g.nodes.forall(v => math.abs(in(v) - out(v)) <= 1)
    val hasPath = eulerian ||
      (g.n > 0 && noBig && plus <= 1 && minus <= 1 && wcc(g).size == 1)
    (eulerian, hasPath)
  }

  /** Kahn topological order of the directed multigraph, smallest id first
    * among the ready nodes (nx yields insertion order). Shorter than
    * `g.n` exactly when the graph has a cycle. */
  def kahnOrder(g: G): Seq[Long] = {
    val indeg = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
    g.nodes.foreach(v => indeg(v) = 0)
    g.edges.foreach { case (_, _, v) => indeg(v) += 1 }
    val avail = mutable.TreeSet.empty[Long] ++ g.nodes.filter(indeg(_) == 0)
    val order = mutable.ArrayBuffer.empty[Long]
    while (avail.nonEmpty) {
      val v = avail.head; avail -= v
      order += v
      g.out.getOrElse(v, Nil).foreach { case (nx, _) =>
        indeg(nx) -= 1
        if (indeg(nx) == 0) avail += nx
      }
    }
    order.toSeq
  }

  def planar(g: G): Boolean = {
    val idx = g.nodes.zipWithIndex.toMap
    Planarity.isPlanar(
      g.n, g.undSimpleEdges.map(e => (idx(e._2), idx(e._3))))
  }

  // ------------------------------------------------------------------
  // distances

  /** unweighted BFS distances from one source over a simple adjacency */
  def bfsDist(adj: Map[Long, Seq[Long]], src: Long): mutable.HashMap[Long, Long] = {
    val dist = mutable.HashMap(src -> 0L)
    val q = mutable.Queue(src)
    while (q.nonEmpty) {
      val v = q.dequeue()
      adj.getOrElse(v, Nil).foreach { nx =>
        if (!dist.contains(nx)) { dist(nx) = dist(v) + 1; q += nx }
      }
    }
    dist
  }

  /** Multi-source Dijkstra over the directed multigraph. Returns
    * (dist, parent) maps; parent chains give one deterministic
    * (smallest-(weight, node)-relaxation) shortest path each. */
  def dijkstra(
      g: G,
      sources: Seq[Long],
      weighted: Boolean,
      cutoff: Option[Double] = None)
    : (mutable.HashMap[Long, Double], mutable.HashMap[Long, Long]) = {
    val dist = mutable.HashMap.empty[Long, Double]
    val parent = mutable.HashMap.empty[Long, Long]
    implicit val ord: Ordering[(Double, Long)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    val pq = mutable.PriorityQueue.empty[(Double, Long)](ord.reverse)
    sources.distinct.foreach { s => dist(s) = 0.0; pq.enqueue((0.0, s)) }
    val settled = mutable.HashSet.empty[Long]
    while (pq.nonEmpty) {
      val (d, v) = pq.dequeue()
      if (!settled(v) && dist(v) == d) {
        settled += v
        g.out.getOrElse(v, Nil).foreach { case (nx, eid) =>
          val nd = d + (if (weighted) g.weight(eid) else 1.0)
          if (cutoff.forall(nd <= _)) dist.get(nx) match {
            case None =>
              dist(nx) = nd; parent(nx) = v; pq.enqueue((nd, nx))
            case Some(old) if nd < old =>
              dist(nx) = nd; parent(nx) = v; pq.enqueue((nd, nx))
            case Some(old) if nd == old && v < parent(nx) =>
              parent(nx) = v // deterministic representative path
            case _ => ()
          }
        }
      }
    }
    (dist, parent)
  }

  def pathTo(
      parent: mutable.HashMap[Long, Long],
      sources: Set[Long],
      t: Long): Seq[Long] = {
    val buf = mutable.ArrayBuffer(t)
    var cur = t
    while (!sources(cur)) { cur = parent(cur); buf.prepend(cur) }
    buf.toSeq
  }

  /** Every simple path s → t over the successor lists, in DFS order
    * (successors as listed), at most `cutoff` edges long; s == t yields
    * the one-node path. */
  def simplePaths(
      succ: Map[Long, Seq[Long]],
      s: Long,
      t: Long,
      cutoff: Int): Seq[Seq[Long]] = {
    if (s == t) return Seq(Seq(s))
    val out = mutable.ArrayBuffer.empty[Seq[Long]]
    val path = mutable.ArrayBuffer(s)
    val onPath = mutable.HashSet(s)
    // one successor iterator per path node
    val its = mutable.ArrayBuffer.empty[Iterator[Long]]
    if (cutoff > 0) its += succ.getOrElse(s, Nil).iterator
    while (its.nonEmpty) {
      val it = its.last
      if (!it.hasNext) {
        its.remove(its.length - 1)
        onPath -= path.remove(path.length - 1)
      } else {
        val nx = it.next()
        if (nx == t) out += (path :+ nx).toSeq
        else if (!onPath(nx) && path.length < cutoff) {
          path += nx; onPath += nx
          its += succ.getOrElse(nx, Nil).iterator
        }
      }
    }
    out.toSeq
  }

  // ------------------------------------------------------------------
  // max-flow (Dinic) for cuts and connectivity numbers

  /** Dinic max flow on an explicit arc list (u, v, cap); node ids are
    * arbitrary longs. Returns the flow value and the source side of the
    * minimal minimum cut: the ids reachable from `s` over positive
    * residual capacity, the same set for every maximum flow. */
  def maxflow(arcs: Seq[(Long, Long, Double)], s: Long, t: Long)
    : (Double, Set[Long]) = {
    val ids = (arcs.flatMap(a => Seq(a._1, a._2)) ++ Seq(s, t)).distinct
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    // arc e and its residual twin e ^ 1
    val to = mutable.ArrayBuffer.empty[Int]
    val nxt = mutable.ArrayBuffer.empty[Int]
    val cap = mutable.ArrayBuffer.empty[Double]
    val first = Array.fill(n)(-1)
    def addArc(u: Int, v: Int, c: Double): Unit = {
      to += v; cap += c; nxt += first(u); first(u) = to.length - 1
      to += u; cap += 0.0; nxt += first(v); first(v) = to.length - 1
    }
    arcs.foreach { case (u, v, c) => addArc(idx(u), idx(v), c) }
    val S = idx(s); val T = idx(t)
    val level = new Array[Int](n)
    val it = new Array[Int](n)
    def open(e: Int, v: Int): Boolean =
      cap(e) > 1e-9 && level(to(e)) == level(v) + 1
    /** BFS levels over positive residuals; true when T is reached */
    def bfs(): Boolean = {
      java.util.Arrays.fill(level, -1)
      level(S) = 0
      val q = mutable.Queue(S)
      while (q.nonEmpty) {
        val v = q.dequeue()
        var e = first(v)
        while (e != -1) {
          if (cap(e) > 1e-9 && level(to(e)) == -1) {
            level(to(e)) = level(v) + 1
            q += to(e)
          }
          e = nxt(e)
        }
      }
      level(T) != -1
    }
    /** One S→T path in the level graph, walked with an explicit arc
      * stack; dead ends advance their parent's current arc. Returns the
      * pushed flow, 0 once the level graph is blocked. */
    def augment(): Double = {
      val path = mutable.ArrayBuffer.empty[Int]
      var v = S
      while (v != T) {
        while (it(v) != -1 && !open(it(v), v)) it(v) = nxt(it(v))
        if (it(v) != -1) { path += it(v); v = to(it(v)) }
        else if (path.isEmpty) return 0.0
        else {
          val back = path.remove(path.length - 1)
          v = to(back ^ 1)
          it(v) = nxt(back)
        }
      }
      val d = path.iterator.map(cap).min
      path.foreach { e => cap(e) -= d; cap(e ^ 1) += d }
      d
    }
    var flow = 0.0
    // the final bfs leaves level(x) != -1 exactly on the source side
    while (bfs() && S != T) {
      Array.copy(first, 0, it, 0, n)
      var f = augment()
      while (f > 0.0) { flow += f; f = augment() }
    }
    (flow, ids.indices.iterator.filter(level(_) != -1).map(ids).toSet)
  }

  /** st vertex connectivity (= max node-independent s→t paths, Menger)
    * on the simple directed graph: split each node x into x_in → x_out
    * with unit capacity (uncapped for s/t), UNIT capacity per simple
    * edge — a direct s→t edge then contributes exactly one path, which
    * reproduces nx.node_connectivity's adjacent-pair answers. */
  def stNodeConnectivity(g: G, s: Long, t: Long): Int = {
    if (s == t) throw new IllegalArgumentException(
      "node connectivity: source == target")
    def inId(x: Long) = 2 * x
    def outId(x: Long) = 2 * x + 1
    val big = g.n + 1.0
    val arcs = mutable.ArrayBuffer.empty[(Long, Long, Double)]
    g.nodes.foreach { x =>
      arcs += ((inId(x), outId(x), if (x == s || x == t) big else 1.0))
    }
    g.nodes.foreach { u =>
      g.outSimple.getOrElse(u, Nil).foreach { v =>
        if (u != v) arcs += ((outId(u), inId(v), 1.0))
      }
    }
    math.round(maxflow(arcs.toSeq, outId(s), inId(t))._1).toInt
  }

  /** Global directed vertex connectivity: min over ordered non-equal
    * pairs (exact; O(n²) unit flows, driver-gated). Complete digraphs
    * return n-1 like networkx. */
  def nodeConnectivity(g: G): Int = {
    if (g.n < 2) throw new IllegalArgumentException(
      "node connectivity: need at least 2 nodes")
    var best = Int.MaxValue
    for (s <- g.nodes; t <- g.nodes if s != t) {
      best = math.min(best, stNodeConnectivity(g, s, t))
      if (best == 0) return 0
    }
    best
  }

  // ------------------------------------------------------------------
  // symmetric eigensolve (Jacobi) for communicability / non_randomness

  /** Eigen-decomposition of a dense symmetric matrix: returns
    * (eigenvalues, eigenvectors as columns). Classic cyclic Jacobi. */
  def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    while (off > 1e-10 && sweep < 100) {
      sweep += 1
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          if (math.abs(a(p)(q)) > 1e-14) rotate(a, v, p, q)
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    s
  }

  private def rotate(
      a: Array[Array[Double]], v: Array[Array[Double]],
      p: Int, q: Int): Unit = {
    val n = a.length
    val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
    // theta == 0 must still rotate (t = 1): signum(0) = 0 would freeze
    // the sweep on zero-diagonal matrices like adjacency matrices
    val t =
      if (theta == 0.0) 1.0
      else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1))
    val c = 1.0 / math.sqrt(t * t + 1)
    val s = t * c
    val app = a(p)(p); val aqq = a(q)(q); val apq = a(p)(q)
    a(p)(p) = c * c * app - 2 * s * c * apq + s * s * aqq
    a(q)(q) = s * s * app + 2 * s * c * apq + c * c * aqq
    a(p)(q) = 0.0; a(q)(p) = 0.0
    var i = 0
    while (i < n) {
      if (i != p && i != q) {
        val aip = a(i)(p); val aiq = a(i)(q)
        a(i)(p) = c * aip - s * aiq; a(p)(i) = a(i)(p)
        a(i)(q) = s * aip + c * aiq; a(q)(i) = a(i)(q)
      }
      val vip = v(i)(p); val viq = v(i)(q)
      v(i)(p) = c * vip - s * viq
      v(i)(q) = s * vip + c * viq
      i += 1
    }
  }

  // ------------------------------------------------------------------
  // exact k-components (Moody–White; reference nxalg.py k_components →
  // networkx.algorithms.connectivity.kcomponents — the EXACT algorithm,
  // not the Torrents–Ferraro approximation). NOTE: exact to the
  // DEFINITION — networkx's own recursion misses some maximal
  // k-connected subsets (see kComponents scaladoc / COVERAGE.md
  // "nxalg.k_components divergence"); on those graphs this code returns
  // the brute-force-verified answer, networkx does not.

  /** st vertex connectivity AND one minimum s-t vertex cut on an
    * UNDIRECTED simple adjacency (Even–Tarjan split nodes over
    * [[maxflow]]; the cut is read off the residual source side: nodes
    * whose in-copy is on it while the out-copy is not). */
  def undStCut(
      adj: Map[Long, Seq[Long]],
      nodes: Seq[Long],
      s: Long,
      t: Long): (Int, Set[Long]) = {
    val idx = nodes.zipWithIndex.toMap
    def inId(x: Long) = 2L * idx(x)
    def outId(x: Long) = 2L * idx(x) + 1
    val big = nodes.length + 1.0
    val split = nodes.map(x =>
      (inId(x), outId(x), if (x == s || x == t) big else 1.0))
    val links = for {
      u <- nodes
      v <- adj.getOrElse(u, Nil) if u != v && idx.contains(v)
    } yield (outId(u), inId(v), 1.0)
    val (flow, side) = maxflow(split ++ links, outId(s), inId(t))
    (math.round(flow).toInt,
      nodes.filter(x => side(inId(x)) && !side(outId(x))).toSet)
  }

  /** Exact global vertex connectivity of an undirected simple adjacency,
    * plus ONE minimum vertex cut achieving it (networkx's pivot
    * reduction: all non-neighbors of a minimum-degree pivot, plus
    * non-adjacent pairs among its neighbors; the pivot's neighborhood is
    * itself a candidate cut). Complete graphs return (n-1, empty). */
  def undConnectivityCut(
      adj: Map[Long, Seq[Long]],
      nodes: Seq[Long]): (Int, Set[Long]) = {
    val n = nodes.length
    if (n < 2) return (0, Set.empty)
    val nbr: Map[Long, Set[Long]] =
      nodes.map(v => v -> adj.getOrElse(v, Nil).filter(_ != v).toSet).toMap
    val v = nodes.minBy(x => nbr(x).size)
    val nonNbrs = nodes.filterNot(x => x == v || nbr(v)(x))
    if (nonNbrs.isEmpty && nbr(v).size == n - 1) {
      // min-degree node adjacent to everything → complete graph
      return (n - 1, Set.empty)
    }
    var bestK = nbr(v).size
    var bestCut = nbr(v)
    nonNbrs.foreach { w =>
      if (bestK > 0) {
        val (k, c) = undStCut(adj, nodes, v, w)
        if (k < bestK) { bestK = k; bestCut = c }
      }
    }
    val nv = nbr(v).toSeq.sorted
    for (i <- nv.indices; j <- (i + 1) until nv.length
         if bestK > 0 && !nbr(nv(i))(nv(j))) {
      val (k, c) = undStCut(adj, nodes, nv(i), nv(j))
      if (k < bestK) { bestK = k; bestCut = c }
    }
    (bestK, bestCut)
  }

  /** Exact Moody–White k-components of the simple undirected view:
    * for each k, the MAXIMAL node sets (size > k) whose induced subgraph
    * is k-connected. Level 1 = connected components; level k recurses
    * into the (k-1)-components, removing one minimum vertex cut at a
    * time — a k-connected subset can never straddle a cut smaller than
    * k, so recursing on (component ∪ cut) is exact w.r.t. the
    * DEFINITION. networkx's kcomponents gates recursion differently
    * (all_node_cuts + this_k > parent_k) and can miss levels this code
    * finds — a known, documented divergence (COVERAGE.md), not a bug
    * here. */
  def kComponents(g: G): Seq[(Int, Seq[Seq[Long]])] = {
    val baseAdj = g.undSimple
    def induced(s: Set[Long]): Map[Long, Seq[Long]] =
      s.iterator.map(v =>
        v -> baseAdj.getOrElse(v, Nil).filter(s)).toMap
    def comps(s: Set[Long]): Seq[Set[Long]] = {
      val adj = induced(s)
      val seen = mutable.HashSet.empty[Long]
      val out = mutable.ArrayBuffer.empty[Set[Long]]
      s.toSeq.sorted.foreach { v =>
        if (!seen(v)) {
          val c = mutable.HashSet(v)
          val q = mutable.Queue(v)
          seen += v
          while (q.nonEmpty)
            adj.getOrElse(q.dequeue(), Nil).foreach { w =>
              if (!seen(w)) { seen += w; c += w; q += w }
            }
          out += c.toSet
        }
      }
      out.toSeq
    }
    def decompose(s: Set[Long], k: Int): Seq[Set[Long]] = {
      if (s.size <= k) return Nil
      val (kappa, cut) = undConnectivityCut(induced(s), s.toSeq.sorted)
      if (kappa >= k) Seq(s)
      else if (cut.isEmpty)
        // κ=0 with no cut: the candidate is disconnected (a cut-branch
        // union can disconnect) — recurse per connected component
        comps(s).filter(_.size > k).filter(_ != s).flatMap(decompose(_, k))
      else
        comps(s -- cut)
          .map(_ ++ cut)
          .filter(_.size > k)
          .filter(_ != s) // guard: a no-progress candidate would loop
          .flatMap(decompose(_, k))
    }
    def maximal(sets: Seq[Set[Long]]): Seq[Set[Long]] = {
      val d = sets.distinct
      d.filterNot(a => d.exists(b => (b ne a) && a != b && a.subsetOf(b)))
    }
    val out = mutable.ArrayBuffer.empty[(Int, Seq[Seq[Long]])]
    var prev = comps(g.nodeSet).filter(_.size > 1)
    if (prev.isEmpty) return out.toSeq
    def render(ss: Seq[Set[Long]]): Seq[Seq[Long]] =
      ss.map(_.toSeq.sorted).sortBy(c => (c.length, c.headOption.getOrElse(0L)))
    out += ((1, render(prev)))
    var k = 2
    var cur = prev
    while (cur.nonEmpty) {
      val next = maximal(
        cur.filter(_.size > k).flatMap(c => {
          // within a disconnected candidate, recurse per component
          comps(c).flatMap(decompose(_, k))
        }))
      if (next.nonEmpty) { out += ((k, render(next))); k += 1 }
      cur = next
    }
    out.toSeq
  }
}
