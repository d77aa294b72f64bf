package graft.procedures

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** nxalg part 2: centrality, clustering, cliques, components,
  * connectivity numbers, spectral measures, census. See [[NxAlgProcs]]
  * for the shared conventions (id yields, sorted determinism, local
  * gate). */
object NxAlgProcs2 {

  import NxAlgProcs.one
  import ProcArgs.{edgeIdOf, idList, nodeIdOf, optInt, optNode, optStr}

  // ------------------------------------------------------------------
  // basics

  def isBipartite(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    one(ctx, "is_bipartite", NxLocal.bipartite(g))
  }

  def nodeBoundary(ctx: ProcContext): DataFrame = {
    val what = "nxalg.node_boundary"
    val g = NxLocal.capture(ctx)
    val n1 = idList(ctx.args.headOption.getOrElse(Nil), what).toSet
    val n2 = ctx.args.lift(1) match {
      case None | Some(null) => None
      case Some(xs) => Some(idList(xs, what).toSet)
    }
    // directed node boundary: successors of n1 outside n1 (∩ n2)
    val b = n1.toSeq.flatMap(v => g.outSimple.getOrElse(v, Nil))
      .filterNot(n1).filter(v => n2.forall(_(v))).distinct.sorted
    one(ctx, "boundary", b)
  }

  def nodeExpansion(ctx: ProcContext): DataFrame = {
    val what = "nxalg.node_expansion"
    val g = NxLocal.capture(ctx)
    val s = idList(ctx.args.headOption.getOrElse(Nil), what).toSet
    val b = s.toSeq.flatMap(v => g.outSimple.getOrElse(v, Nil))
      .filterNot(s).distinct
    one(ctx, "node_expansion", b.size.toDouble / s.size)
  }

  def isolates(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    one(ctx, "isolates", g.nodes.filter(v => g.degree(v) == 0))
  }

  def isIsolate(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val v = nodeIdOf(ctx.args.head, "nxalg.is_isolate")
    one(ctx, "is_isolate", g.degree.getOrElse(v, 0) == 0)
  }

  def reciprocity(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val nodes = ctx.args.headOption match {
      case None | Some(null) => None
      case Some(xs) => Some(idList(xs, "nxalg.reciprocity"))
    }
    val spark = ctx.spark
    import spark.implicits._
    def recip(v: Long): (Long, Long) = {
      val succ = g.outSimple.getOrElse(v, Nil).toSet
      val pred = g.inSimple.getOrElse(v, Nil).toSet
      (2L * (succ & pred).size, (succ | pred).size.toLong)
    }
    nodes match {
      case None =>
        val pairs = g.nodes.map { v =>
          val succ = g.outSimple.getOrElse(v, Nil).toSet
          val pred = g.inSimple.getOrElse(v, Nil).toSet
          ((succ & pred).size.toLong, succ.size.toLong)
        }
        val mutual = pairs.map(_._1).sum
        val total = pairs.map(_._2).sum
        Seq((Option.empty[Long], mutual.toDouble / total))
          .toDF("node", "reciprocity")
      case Some(vs) =>
        vs.map { v =>
          val (m2, t) = recip(v)
          (Option(v), m2.toDouble / t)
        }.toDF("node", "reciprocity")
    }
  }

  def flowHierarchy(ctx: ProcContext): DataFrame = {
    val weight = optStr(ctx.args.headOption)
    val g = NxLocal.capture(ctx, weight)
    val sccOf = NxLocal.tarjanScc(g).zipWithIndex
      .flatMap { case (c, i) => c.map(_ -> i) }.toMap
    def wOf(e: (Long, Long, Long)): Double =
      if (weight.isDefined) g.weight(e._1) else 1.0
    val total = g.edges.map(wOf).sum
    val acyclic = g.edges
      .filter(e => sccOf(e._2) != sccOf(e._3)).map(wOf).sum
    one(ctx, "flow_hierarchy", acyclic / total)
  }

  def isEdgeCover(ctx: ProcContext): DataFrame = {
    val what = "nxalg.is_edge_cover"
    val g = NxLocal.capture(ctx)
    val cover = (ctx.args.headOption match {
      case Some(xs: Seq[_]) => xs
      case _ => Nil
    }).map(edgeIdOf(_, what)).toSet
    val covered = g.edges.filter(e => cover(e._1))
      .flatMap(e => Seq(e._2, e._3)).toSet
    one(ctx, "is_edge_cover", g.nodeSet.subsetOf(covered))
  }

  def isAtFree(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    // asteroidal triple: pairwise non-adjacent x,y,z where every pair
    // stays connected in G - N[third]; component labels per removed
    // closed neighborhood answer all triples
    val comp = g.nodes.map { v =>
      val banned = g.undSimple.getOrElse(v, Nil).toSet + v
      val label = mutable.HashMap.empty[Long, Int]
      var c = 0
      g.nodes.filterNot(banned).foreach { s =>
        if (!label.contains(s)) {
          c += 1
          val q = mutable.Queue(s); label(s) = c
          while (q.nonEmpty) {
            val x = q.dequeue()
            g.undSimple.getOrElse(x, Nil)
              .filterNot(banned).foreach { w =>
                if (!label.contains(w)) { label(w) = c; q += w }
              }
          }
        }
      }
      v -> label
    }.toMap
    def adj(a: Long, b: Long) =
      g.undSimple.getOrElse(a, Nil).contains(b)
    val triple = g.nodes.combinations(3).exists { t =>
      val Seq(x, y, z) = t
      !adj(x, y) && !adj(y, z) && !adj(x, z) &&
        comp(z).get(x) == comp(z).get(y) && comp(z).contains(x) &&
        comp(y).get(x) == comp(y).get(z) && comp(y).contains(x) &&
        comp(x).get(y) == comp(x).get(z) && comp(x).contains(y)
    }
    one(ctx, "is_at_free", !triple)
  }

  def checkPlanarity(ctx: ProcContext): DataFrame =
    one(ctx, "is_planar", NxLocal.planar(NxLocal.capture(ctx)))

  // ------------------------------------------------------------------
  // euler

  def isEulerian(ctx: ProcContext): DataFrame =
    one(ctx, "is_eulerian", NxLocal.eulerParts(NxLocal.capture(ctx))._1)
  def hasEulerianPath(ctx: ProcContext): DataFrame =
    one(ctx, "has_eulerian_path", NxLocal.eulerParts(NxLocal.capture(ctx))._2)
  def isSemieulerian(ctx: ProcContext): DataFrame = {
    val (eu, path) = NxLocal.eulerParts(NxLocal.capture(ctx))
    one(ctx, "is_semieulerian", path && !eu)
  }

  // ------------------------------------------------------------------
  // components / biconnectivity

  def stronglyConnectedComponents(ctx: ProcContext): DataFrame =
    one(ctx, "components", NxLocal.tarjanScc(NxLocal.capture(ctx)))

  def biconnectedComponents(ctx: ProcContext): DataFrame =
    one(ctx, "components", NxLocal.biconnected(NxLocal.capture(ctx))._1)

  def bridgesP(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val root = optNode(ctx.args.headOption, "nxalg.bridges")
    val all = NxLocal.biconnected(g)._2
    val keep = root match {
      case None => all
      case Some(r) =>
        val comp = NxLocal.bfsDist(g.undSimple, r).keySet
        val byId = g.edges.map(e => e._1 -> e).toMap
        all.filter(eid => comp(byId(eid)._2))
    }
    one(ctx, "bridges", keep)
  }

  def chainDecomposition(ctx: ProcContext): DataFrame = {
    // Schmidt's chain decomposition on the simple undirected graph:
    // DFS tree + one chain per back edge (walk tree edges until a
    // visited node). Yields lists of representative edge ids.
    val g = NxLocal.capture(ctx)
    val simple = g.undSimpleEdges
    val eidOf = simple.map(e => (if (e._2 < e._3) (e._2, e._3) else (e._3, e._2)) -> e._1).toMap
    val adjS = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    simple.foreach { case (_, u, v) =>
      adjS.getOrElseUpdate(u, mutable.ArrayBuffer.empty) += v
      adjS.getOrElseUpdate(v, mutable.ArrayBuffer.empty) += u
    }
    adjS.values.foreach(b => b.sortInPlace())
    val disc = mutable.HashMap.empty[Long, Int]
    val parent = mutable.HashMap.empty[Long, Long]
    val order = mutable.ArrayBuffer.empty[Long]
    var timer = 0
    g.nodes.foreach { root =>
      if (!disc.contains(root)) {
        val stack = mutable.Stack[(Long, Int)]((root, 0))
        disc(root) = timer; timer += 1; order += root
        while (stack.nonEmpty) {
          val (v, i) = stack.pop()
          val nbrs = adjS.getOrElse(v, mutable.ArrayBuffer.empty)
          if (i < nbrs.length) {
            stack.push((v, i + 1))
            val w = nbrs(i)
            if (!disc.contains(w)) {
              parent(w) = v
              disc(w) = timer; timer += 1; order += w
              stack.push((w, 0))
            }
          }
        }
      }
    }
    def eid(u: Long, v: Long): Long =
      eidOf(if (u < v) (u, v) else (v, u))
    // Schmidt: visit vertices in DFS order; each back edge (d, u) into
    // the current ancestor u opens a chain that walks d's tree path up
    // until the first already-visited vertex
    val visited = mutable.HashSet.empty[Long]
    val chains = mutable.ArrayBuffer.empty[Seq[Long]]
    order.foreach { u =>
      visited += u
      adjS.getOrElse(u, mutable.ArrayBuffer.empty).foreach { d =>
        if (disc(d) > disc(u) && !parent.get(d).contains(u)) {
          val chain = mutable.ArrayBuffer(eid(u, d))
          var cur = d
          while (!visited(cur)) {
            visited += cur
            val p = parent(cur)
            chain += eid(cur, p)
            cur = p
          }
          chains += chain.toSeq
        }
      }
    }
    one(ctx, "chains", chains.toSeq)
  }

  def kEdgeComponents(ctx: ProcContext): DataFrame = {
    val what = "nxalg.k_edge_components"
    val g = NxLocal.capture(ctx)
    val k = optInt(ctx.args.headOption).getOrElse(
      throw new IllegalArgumentException(s"$what: need k"))
    require(g.n <= 300,
      s"$what: pairwise edge-connectivity partition is O(n² · flow) — " +
        "graph above 300 nodes; use algo.wcc / SCC procedures at scale")
    // equivalence classes of min(λ(u,v), λ(v,u)) ≥ k, refined inside SCCs
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      parent(x) = r
      r
    }
    def edgeFlow(s: Long, t: Long): Double =
      NxLocal.maxflow(
        g.edges.filter(e => e._2 != e._3)
          .map(e => (e._2, e._3, 1.0)), s, t)._1
    NxLocal.tarjanScc(g).foreach { comp =>
      val arr = comp.toArray
      for (i <- arr.indices; j <- (i + 1) until arr.length)
        if (find(arr(i)) != find(arr(j)) &&
          edgeFlow(arr(i), arr(j)) >= k && edgeFlow(arr(j), arr(i)) >= k)
          parent(find(arr(i))) = find(arr(j))
    }
    val comps = g.nodes.groupBy(find).values.toSeq
      .map(_.sorted).sortBy(_.head)
    one(ctx, "components", comps)
  }

  def coreNumber(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    if (g.edges.exists(e => e._2 == e._3))
      throw new IllegalArgumentException(
        "Input graph has self loops which is not permitted; " +
          "Consider using G.remove_edges_from(nx.selfloop_edges(G)).")
    // peel on total degree of the SIMPLE directed graph (nx core_number
    // of a DiGraph uses in+out degree)
    val deg = mutable.HashMap.empty[Long, Int]
    g.nodes.foreach(v => deg(v) =
      g.outSimple.getOrElse(v, Nil).size + g.inSimple.getOrElse(v, Nil).size)
    val core = mutable.HashMap.empty[Long, Int]
    val remaining = mutable.TreeSet.empty[(Int, Long)]
    g.nodes.foreach(v => remaining += ((deg(v), v)))
    val alive = mutable.HashSet(g.nodes: _*)
    var k = 0
    while (remaining.nonEmpty) {
      val (d, v) = remaining.head
      remaining -= ((d, v))
      k = math.max(k, d)
      core(v) = k
      alive -= v
      (g.outSimple.getOrElse(v, Nil) ++ g.inSimple.getOrElse(v, Nil))
        .distinct.filter(alive).foreach { w =>
          remaining -= ((deg(w), w))
          deg(w) -= (if (g.outSimple.getOrElse(v, Nil).contains(w) &&
            g.inSimple.getOrElse(v, Nil).contains(w)) 2 else 1)
          remaining += ((deg(w), w))
        }
    }
    val spark = ctx.spark
    import spark.implicits._
    core.toSeq.sortBy(_._1).toDF("node", "core")
  }

  // ------------------------------------------------------------------
  // cycles

  def findCycle(ctx: ProcContext): DataFrame = {
    val what = "nxalg.find_cycle"
    val g = NxLocal.capture(ctx)
    val sources = ctx.args.headOption match {
      case None | Some(null) => g.nodes
      case Some(xs) => idList(xs, what)
    }
    val orientation = optStr(ctx.args.lift(1))
    val adj: Map[Long, Seq[(Long, Long)]] = orientation match {
      case Some("reverse") => g.in
      case Some("ignore") => g.und
      case None | Some("original") => g.out
      case Some(o) =>
        throw new IllegalArgumentException(s"$what: bad orientation '$o'")
    }
    // DFS from each source; the first back-edge into the ACTIVE path
    // closes the cycle. pathE holds (node, eid entering it),
    // newest-first; 'ignore' must not reuse the incoming edge.
    val color = mutable.HashMap.empty[Long, Int] // 1 active, 2 done
    var found: Option[Seq[Long]] = None
    def sliceCycle(
        pathE: List[(Long, Long)], target: Long, closing: Long)
      : Seq[Long] = {
      val oldestFirst = pathE.reverse
      val idx = oldestFirst.indexWhere(_._1 == target)
      val tailEids =
        if (idx < 0) oldestFirst.map(_._2) // target is the DFS start
        else oldestFirst.drop(idx + 1).map(_._2)
      tailEids :+ closing
    }
    def dfs(v: Long, lastEid: Long, pathE: List[(Long, Long)]): Unit = {
      if (found.isDefined) return
      color(v) = 1
      adj.getOrElse(v, Nil).foreach { case (nx, eid) =>
        if (found.isEmpty &&
          !(orientation.contains("ignore") && eid == lastEid)) {
          if (color.getOrElse(nx, 0) == 1)
            found = Some(sliceCycle(pathE, nx, eid))
          else if (color.getOrElse(nx, 0) == 0)
            dfs(nx, eid, (nx, eid) :: pathE)
        }
      }
      color(v) = 2
    }
    sources.foreach { s =>
      if (found.isEmpty && color.getOrElse(s, 0) == 0) dfs(s, -1L, Nil)
    }
    val spark = ctx.spark
    import spark.implicits._
    Seq(found.map(_.distinct)).toDF("cycle")
  }

  def simpleCycles(ctx: ProcContext): DataFrame = {
    // Johnson's algorithm over the simple directed graph (+ 1-cycles
    // for self loops, like nx)
    val g = NxLocal.capture(ctx)
    val cycles = mutable.ArrayBuffer.empty[Seq[Long]]
    g.edges.filter(e => e._2 == e._3).map(_._2).distinct.sorted
      .foreach(v => cycles += Seq(v))
    val nodes = g.nodes.toArray
    val blocked = mutable.HashSet.empty[Long]
    val blockMap = mutable.HashMap.empty[Long, mutable.HashSet[Long]]
    val stack = mutable.ArrayBuffer.empty[Long]
    def unblock(v: Long): Unit = {
      blocked -= v
      blockMap.remove(v).foreach(_.foreach(w => if (blocked(w)) unblock(w)))
    }
    nodes.foreach { s =>
      val allowed = g.nodeSet.filter(_ >= s)
      blocked.clear(); blockMap.clear(); stack.clear()
      def circuit(v: Long): Boolean = {
        var foundCycle = false
        stack += v
        blocked += v
        g.outSimple.getOrElse(v, Nil)
          .filter(w => allowed(w) && w != v).foreach { w =>
            if (w == s) { cycles += stack.toSeq; foundCycle = true }
            else if (!blocked(w)) if (circuit(w)) foundCycle = true
          }
        if (foundCycle) unblock(v)
        else g.outSimple.getOrElse(v, Nil)
          .filter(w => allowed(w) && w != v)
          .foreach(w =>
            blockMap.getOrElseUpdate(w, mutable.HashSet.empty) += v)
        stack.remove(stack.length - 1)
        foundCycle
      }
      circuit(s)
    }
    one(ctx, "cycles", cycles.toSeq)
  }

  // ------------------------------------------------------------------
  // centrality / clustering / cliques

  def betweennessCentrality(ctx: ProcContext): DataFrame = {
    val what = "nxalg.betweenness_centrality"
    if (optInt(ctx.args.headOption).isDefined)
      throw new UnsupportedOperationException(
        s"$what: the k-sample estimator draws from python's RNG — " +
          "irreproducible here; run the exact form (k = null)")
    val normalized = ctx.args.lift(1) match {
      case Some(b: Boolean) => b
      case _ => true
    }
    val weight = optStr(ctx.args.lift(2))
    val endpoints = ctx.args.lift(3).contains(true)
    val g = NxLocal.capture(ctx, weight)
    // Brandes over the SIMPLE directed graph (nx passes MemgraphDiGraph)
    val bc = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
    g.nodes.foreach { s =>
      // SSSP DAG from s (unit or weighted)
      val sigma = mutable.HashMap(s -> 1.0).withDefaultValue(0.0)
      val dist = mutable.HashMap.empty[Long, Double]
      val preds =
        mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
      val order = mutable.ArrayBuffer.empty[Long]
      if (weight.isEmpty) {
        dist(s) = 0.0
        val q = mutable.Queue(s)
        while (q.nonEmpty) {
          val v = q.dequeue()
          order += v
          g.outSimple.getOrElse(v, Nil).foreach { w =>
            if (!dist.contains(w)) { dist(w) = dist(v) + 1; q += w }
            if (dist(w) == dist(v) + 1) {
              sigma(w) += sigma(v)
              preds.getOrElseUpdate(w, mutable.ArrayBuffer.empty) += v
            }
          }
        }
      } else {
        implicit val ord: Ordering[(Double, Long)] =
          Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
        val pq = mutable.PriorityQueue.empty[(Double, Long)](ord.reverse)
        dist(s) = 0.0
        pq.enqueue((0.0, s))
        val settled = mutable.HashSet.empty[Long]
        while (pq.nonEmpty) {
          val (d, v) = pq.dequeue()
          if (!settled(v) && dist(v) == d) {
            settled += v
            order += v
            // min weight per simple successor
            g.out.getOrElse(v, Nil).groupBy(_._1).foreach {
              case (w, es) =>
                val nd = d + es.map(e => g.weight(e._2)).min
                if (!dist.contains(w) || nd < dist(w) - 1e-12) {
                  dist(w) = nd
                  sigma(w) = sigma(v)
                  preds(w) = mutable.ArrayBuffer(v)
                  pq.enqueue((nd, w))
                } else if (math.abs(nd - dist(w)) <= 1e-12 &&
                  !settled(w)) {
                  sigma(w) += sigma(v)
                  preds.getOrElseUpdate(
                    w, mutable.ArrayBuffer.empty) += v
                }
            }
          }
        }
      }
      val delta = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
      order.reverse.foreach { w =>
        preds.getOrElse(w, Nil).foreach { v =>
          delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
        }
        if (w != s) {
          bc(w) += delta(w)
          if (endpoints) bc(w) += 1.0
        } else if (endpoints && order.length > 1)
          bc(s) += (order.length - 1).toDouble
      }
    }
    val n = g.n
    val scale =
      if (normalized && n > 2)
        1.0 / ((n - 1).toDouble * (n - 2)) // directed normalization
      else 1.0
    val spark = ctx.spark
    import spark.implicits._
    g.nodes.map(v => (v, bc(v) * scale)).toDF("node", "betweenness")
  }

  def clustering(ctx: ProcContext): DataFrame = {
    // directed clustering coefficient (Fagiolo 2007) on the simple
    // digraph: T(u) / (dtot(u)(dtot(u)-1) - 2·d↔(u)); weights raise
    val what = "nxalg.clustering"
    if (optStr(ctx.args.lift(1)).isDefined)
      throw new UnsupportedOperationException(
        s"$what: weighted (geometric-mean) clustering is not implemented" +
          " — call with weight = null")
    val g = NxLocal.capture(ctx)
    val nodes = ctx.args.headOption match {
      case None | Some(null) => g.nodes
      case Some(xs) => idList(xs, what)
    }
    val spark = ctx.spark
    import spark.implicits._
    nodes.map { u =>
      val succ = g.outSimple.getOrElse(u, Nil).toSet - u
      val pred = g.inSimple.getOrElse(u, Nil).toSet - u
      val nbrs = succ | pred
      var t = 0.0
      nbrs.foreach { v =>
        nbrs.foreach { w =>
          if (v != w) {
            // count directed triangles: every combination of edge
            // directions between (u,v), (u,w), (v,w)
            def e(a: Long, b: Long) =
              if (g.outSimple.getOrElse(a, Nil).contains(b)) 1.0 else 0.0
            t += (e(u, v) + e(v, u)) * (e(u, w) + e(w, u)) *
              (e(v, w) + e(w, v)) / 2
          }
        }
      }
      val dtot = succ.size + pred.size
      val dbi = (succ & pred).size
      val denom = (dtot * (dtot - 1) - 2 * dbi).toDouble
      (u, if (denom <= 0) 0.0 else t / denom)
    }.toDF("node", "clustering")
  }

  def greedyColor(ctx: ProcContext): DataFrame = {
    val what = "nxalg.greedy_color"
    val strategy = optStr(ctx.args.headOption).getOrElse("largest_first")
    if (ctx.args.lift(1).contains(true))
      throw new UnsupportedOperationException(
        s"$what: interchange recoloring is not implemented")
    val g = NxLocal.capture(ctx)
    val order: Seq[Long] = strategy match {
      case "largest_first" =>
        g.nodes.sortBy(v => (-g.undSimple.getOrElse(v, Nil).size, v))
      case "smallest_last" =>
        // peel min-degree repeatedly; color in reverse peel order
        val deg = mutable.HashMap.empty[Long, Int]
        g.nodes.foreach(v => deg(v) = g.undSimple.getOrElse(v, Nil).size)
        val alive = mutable.HashSet(g.nodes: _*)
        val peel = mutable.ArrayBuffer.empty[Long]
        while (alive.nonEmpty) {
          val v = alive.toSeq.minBy(x => (deg(x), x))
          peel += v
          alive -= v
          g.undSimple.getOrElse(v, Nil).filter(alive).foreach(deg(_) -= 1)
        }
        peel.toSeq.reverse
      case other => throw new UnsupportedOperationException(
        s"$what: strategy '$other' is not implemented " +
          "(largest_first, smallest_last)")
    }
    val color = mutable.HashMap.empty[Long, Long]
    order.foreach { v =>
      val used = g.undSimple.getOrElse(v, Nil).flatMap(color.get).toSet
      color(v) = Iterator.from(0).map(_.toLong).find(!used(_)).get
    }
    val spark = ctx.spark
    import spark.implicits._
    color.toSeq.sortBy(_._1).toDF("node", "color")
  }

  def findCliques(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    one(ctx, "cliques", bronKerbosch(g))
  }

  private def bronKerbosch(g: NxLocal.G): Seq[Seq[Long]] = {
    val adj = g.undSimple.view.mapValues(_.toSet).toMap
      .withDefaultValue(Set.empty[Long])
    val out = mutable.ArrayBuffer.empty[Seq[Long]]
    def go(r: Set[Long], p0: Set[Long], x0: Set[Long]): Unit = {
      var p = p0; var x = x0
      if (p.isEmpty && x.isEmpty) { out += r.toSeq.sorted; return }
      val pivot = (p ++ x).maxBy(v => adj(v).size)
      (p -- adj(pivot)).toSeq.sorted.foreach { v =>
        go(r + v, p & adj(v), x & adj(v))
        p -= v
        x += v
      }
    }
    go(Set.empty, g.nodeSet, Set.empty)
    out.toSeq.sortBy(_.headOption.getOrElse(Long.MaxValue))
  }

  def kCliqueCommunities(ctx: ProcContext): DataFrame = {
    val what = "nxalg.k_clique_communities"
    val g = NxLocal.capture(ctx)
    val k = optInt(ctx.args.headOption).getOrElse(
      throw new IllegalArgumentException(s"$what: need k"))
    val cliques = (ctx.args.lift(1) match {
      case Some(xs: Seq[_]) =>
        xs.map { case c: Seq[_] => c.map(nodeIdOf(_, what)) }
      case _ => bronKerbosch(g)
    }).filter(_.size >= k).map(_.toSet)
    // percolate: cliques sharing k-1 nodes union
    val parent = Array.tabulate(cliques.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      parent(x) = r
      r
    }
    for (i <- cliques.indices; j <- (i + 1) until cliques.length)
      if (find(i) != find(j) && (cliques(i) & cliques(j)).size >= k - 1)
        parent(find(i)) = find(j)
    val comms = cliques.indices.groupBy(find).values.toSeq
      .map(is => is.flatMap(cliques(_)).distinct.sorted.map(x => x: Long))
      .sortBy(_.headOption.getOrElse(Long.MaxValue))
    one(ctx, "communities", comms.map(_.toSeq))
  }

  def maximalMatching(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val matched = mutable.HashSet.empty[Long]
    val chosen = mutable.ArrayBuffer.empty[Long]
    g.undSimpleEdges.foreach { case (eid, u, v) =>
      if (!matched(u) && !matched(v)) {
        matched += u; matched += v; chosen += eid
      }
    }
    one(ctx, "edges", chosen.toSeq)
  }

  def jaccardCoefficient(ctx: ProcContext): DataFrame = {
    val what = "nxalg.jaccard_coefficient"
    val g = NxLocal.capture(ctx)
    val pairs: Seq[(Long, Long)] = ctx.args.headOption match {
      case None | Some(null) =>
        // nx default: every non-adjacent unordered pair
        g.nodes.combinations(2).map(p => (p(0), p(1)))
          .filterNot { case (u, v) =>
            g.undSimple.getOrElse(u, Nil).contains(v)
          }
          .toSeq
      case Some(xs: Seq[_]) => xs.map {
        case p: Seq[_] if p.length == 2 =>
          (nodeIdOf(p.head, what), nodeIdOf(p(1), what))
        case other => throw new IllegalArgumentException(
          s"$what: ebunch needs [u, v] pairs, got $other")
      }
      case Some(other) => throw new IllegalArgumentException(
        s"$what: ebunch needs [u, v] pairs, got $other")
    }
    val spark = ctx.spark
    import spark.implicits._
    pairs.map { case (u, v) =>
      val nu = g.undSimple.getOrElse(u, Nil).toSet
      val nv = g.undSimple.getOrElse(v, Nil).toSet
      val un = (nu | nv).size
      (u, v, if (un == 0) 0.0 else (nu & nv).size.toDouble / un)
    }.toDF("u", "v", "coef")
  }

  // ------------------------------------------------------------------
  // distance measures

  private def eccentricities(g: NxLocal.G): Map[Long, Long] =
    g.nodes.map { v =>
      val d = NxLocal.bfsDist(g.outSimple, v)
      if (d.size != g.n)
        throw new IllegalArgumentException(
          "Found infinite path length because the digraph is not " +
            "strongly connected")
      v -> d.values.max
    }.toMap

  def center(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val ecc = eccentricities(g)
    val r = ecc.values.min
    one(ctx, "center", ecc.filter(_._2 == r).keys.toSeq.sorted)
  }

  def diameter(ctx: ProcContext): DataFrame =
    one(ctx, "diameter", eccentricities(NxLocal.capture(ctx)).values.max)

  def wienerIndex(ctx: ProcContext): DataFrame = {
    val weight = optStr(ctx.args.headOption)
    val g = NxLocal.capture(ctx, weight)
    var total = 0.0
    var infinite = false
    g.nodes.foreach { s =>
      val (dist, _) = NxLocal.dijkstra(g, Seq(s), weight.isDefined)
      if (dist.size != g.n) infinite = true
      total += dist.values.sum
    }
    one(ctx, "wiener_index",
      if (infinite) Double.PositiveInfinity else total)
  }

  private def efficiencies(g: NxLocal.G): Double = {
    // global efficiency on the simple undirected graph
    if (g.n < 2) return 0.0
    var s = 0.0
    g.nodes.foreach { v =>
      NxLocal.bfsDist(g.undSimple, v).foreach { case (w, d) =>
        if (w != v) s += 1.0 / d
      }
    }
    s / (g.n.toDouble * (g.n - 1))
  }

  def globalEfficiency(ctx: ProcContext): DataFrame =
    one(ctx, "global_efficiency", efficiencies(NxLocal.capture(ctx)))

  def localEfficiency(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val eff = g.nodes.map { v =>
      val nbrs = g.undSimple.getOrElse(v, Nil).toSet
      if (nbrs.size < 2) 0.0
      else efficiencies(NxLocal.subgraph(g, nbrs, None))
    }
    one(ctx, "local_efficiency",
      if (g.n == 0) 0.0 else eff.sum / g.n)
  }

  def voronoiCells(ctx: ProcContext): DataFrame = {
    val what = "nxalg.voronoi_cells"
    val weight = optStr(ctx.args.lift(1)).getOrElse("weight")
    val g = NxLocal.capture(ctx, Some(weight))
    val centers = idList(ctx.args.headOption.getOrElse(Nil), what)
    // multi-source dijkstra; nearest center claims the node (ties →
    // smallest center id; nx breaks them arbitrarily)
    val perCenter = centers.distinct.sorted.map { c =>
      c -> NxLocal.dijkstra(g, Seq(c), weighted = true)._1
    }
    val cells = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    centers.foreach(c => cells(c) = mutable.ArrayBuffer.empty)
    g.nodes.foreach { v =>
      val best = perCenter
        .flatMap { case (c, d) => d.get(v).map(c -> _) }
        .sortBy { case (c, d) => (d, c) }
        .headOption
      best.foreach { case (c, _) => cells(c) += v }
    }
    val spark = ctx.spark
    import spark.implicits._
    cells.toSeq.sortBy(_._1)
      .map { case (c, vs) => (c, vs.toSeq.sorted) }
      .toDF("center", "cell")
  }

  // ------------------------------------------------------------------
  // regularity / spectral / census / connectivity numbers

  def isDistanceRegular(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val ok = g.n > 0 && {
      val degs = g.nodes.map(v => g.undSimple.getOrElse(v, Nil).size)
      degs.distinct.size == 1 && {
        // intersection numbers b_i, c_i must not depend on the pair
        val inter = mutable.HashMap.empty[(Long, Int), (Int, Int)]
        var consistent = true
        g.nodes.takeWhile(_ => consistent).foreach { v =>
          val dist = NxLocal.bfsDist(g.undSimple, v)
          consistent &&= dist.size == g.n
          if (consistent) dist.foreach { case (w, d0) =>
            val d = d0.toInt
            val nb = g.undSimple.getOrElse(w, Nil)
            val b = nb.count(x => dist(x) == d + 1)
            val c = nb.count(x => dist(x) == d - 1)
            inter.get((0L, d)) match {
              case Some((b0, c0)) => consistent &&= b0 == b && c0 == c
              case None => inter((0L, d)) = (b, c)
            }
          }
        }
        consistent
      }
    }
    one(ctx, "is_distance_regular", ok)
  }

  def isStronglyRegular(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val adj = g.undSimple.view.mapValues(_.toSet).toMap
      .withDefaultValue(Set.empty[Long])
    val degs = g.nodes.map(v => adj(v).size).distinct
    val ok = g.n > 0 && degs.size == 1 && {
      val lambdas = mutable.HashSet.empty[Int]
      val mus = mutable.HashSet.empty[Int]
      g.nodes.combinations(2).foreach { p =>
        val (u, v) = (p(0), p(1))
        val common = (adj(u) & adj(v)).size
        if (adj(u)(v)) lambdas += common else mus += common
      }
      lambdas.size <= 1 && mus.size <= 1
    }
    one(ctx, "is_strongly_regular", ok)
  }

  def degreeAssortativity(ctx: ProcContext): DataFrame = {
    val what = "nxalg.degree_assortativity_coefficient"
    val x = optStr(ctx.args.headOption).getOrElse("out")
    val y = optStr(ctx.args.lift(1)).getOrElse("in")
    val weight = optStr(ctx.args.lift(2))
    val nodes = ctx.args.lift(3) match {
      case None | Some(null) => None
      case Some(xs) => Some(idList(xs, what).toSet)
    }
    val g = NxLocal.capture(ctx, weight)
    def deg(v: Long, kind: String): Double = kind match {
      case "out" => g.out.getOrElse(v, Nil)
          .map(e => if (weight.isDefined) g.weight(e._2) else 1.0).sum
      case "in" => g.in.getOrElse(v, Nil)
          .map(e => if (weight.isDefined) g.weight(e._2) else 1.0).sum
      case other => throw new IllegalArgumentException(
        s"$what: degree kind must be in|out, got $other")
    }
    val xy = g.edges
      .filter(e => nodes.forall(ns => ns(e._2) || ns(e._3)))
      .map(e => (deg(e._2, x), deg(e._3, y),
        if (weight.isDefined) g.weight(e._1) else 1.0))
    val wTot = xy.map(_._3).sum
    val mx = xy.map(t => t._1 * t._3).sum / wTot
    val my = xy.map(t => t._2 * t._3).sum / wTot
    val cov = xy.map(t => (t._1 - mx) * (t._2 - my) * t._3).sum
    val sx = math.sqrt(xy.map(t => (t._1 - mx) * (t._1 - mx) * t._3).sum)
    val sy = math.sqrt(xy.map(t => (t._2 - my) * (t._2 - my) * t._3).sum)
    one(ctx, "assortativity", cov / (sx * sy))
  }

  def communicability(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    require(g.n <= 500,
      "nxalg.communicability: dense eigensolve is O(n³) — graph above " +
        "500 nodes")
    val idx = g.nodes.zipWithIndex.toMap
    val a = Array.fill(g.n, g.n)(0.0)
    g.undSimpleEdges.foreach { case (_, u, v) =>
      a(idx(u))(idx(v)) = 1.0; a(idx(v))(idx(u)) = 1.0
    }
    val (vals, vecs) = NxLocal.jacobiEigen(a)
    val spark = ctx.spark
    import spark.implicits._
    val rows = for {
      (u, i) <- g.nodes.zipWithIndex
      (v, j) <- g.nodes.zipWithIndex
    } yield {
      var s = 0.0
      var k = 0
      while (k < g.n) {
        s += vecs(i)(k) * vecs(j)(k) * math.exp(vals(k))
        k += 1
      }
      (u, v, s)
    }
    rows.toDF("node1", "node2", "communicability")
  }

  def nonRandomness(ctx: ProcContext): DataFrame = {
    val what = "nxalg.non_randomness"
    val g = NxLocal.capture(ctx)
    val k = optInt(ctx.args.headOption).getOrElse(
      throw new UnsupportedOperationException(
        s"$what: k = null infers community count via RANDOMIZED label " +
          "propagation in networkx — pass an explicit k here"))
    require(g.n <= 500, s"$what: dense eigensolve — graph above 500 nodes")
    if (g.edges.exists(e => e._2 == e._3))
      throw new IllegalArgumentException(
        s"$what: graph must not contain self-loops")
    val idx = g.nodes.zipWithIndex.toMap
    val a = Array.fill(g.n, g.n)(0.0)
    g.undSimpleEdges.foreach { case (_, u, v) =>
      a(idx(u))(idx(v)) = 1.0; a(idx(v))(idx(u)) = 1.0
    }
    if (NxLocal.wcc(g).size != 1)
      throw new IllegalArgumentException("Non connected graph.")
    val n = g.n.toDouble
    val m = g.undSimpleEdges.size.toDouble
    val p = 2.0 * k * m / (n * (n - k))
    if (k < 1 || k >= g.n || p <= 0 || p >= 1)
      throw new IllegalArgumentException(
        s"invalid number of communities for graph with ${g.n} nodes " +
          s"and ${m.toLong} edges: $k")
    val (vals, _) = NxLocal.jacobiEigen(a)
    // Ying & Wu eq. 4.4/4.5 with the TOP-k adjacency eigenvalues —
    // networkx sums numpy's first k in ARBITRARY return order (a
    // platform-dependent quirk); the paper's definition is implemented
    // here instead, divergence by intent
    val nr = vals.sorted(Ordering.Double.TotalOrdering.reverse)
      .take(k).sum
    val rel =
      (nr - ((n - 2.0 * k) * p + k)) / math.sqrt(2.0 * k * p * (1 - p))
    val spark = ctx.spark
    import spark.implicits._
    Seq((nr, rel)).toDF("non_randomness", "relative_non_randomness")
  }

  def triadicCensus(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    require(g.n <= 500,
      "nxalg.triadic_census: brute-force triads are O(n³) — graph " +
        "above 500 nodes")
    // code → name table generated with networkx 3.6 triadic_census over
    // all 64 3-node digraphs (bit i set = edge i of
    // [(0,1),(1,0),(0,2),(2,0),(1,2),(2,1)])
    val names = Map(0 -> "003", 1 -> "012", 2 -> "012", 3 -> "102",
      4 -> "012", 5 -> "021D", 6 -> "021C", 7 -> "111U", 8 -> "012",
      9 -> "021C", 10 -> "021U", 11 -> "111D", 12 -> "102", 13 -> "111U",
      14 -> "111D", 15 -> "201", 16 -> "012", 17 -> "021C", 18 -> "021D",
      19 -> "111U", 20 -> "021U", 21 -> "030T", 22 -> "030T",
      23 -> "120U", 24 -> "021C", 25 -> "030C", 26 -> "030T",
      27 -> "120C", 28 -> "111D", 29 -> "120C", 30 -> "120D",
      31 -> "210", 32 -> "012", 33 -> "021U", 34 -> "021C", 35 -> "111D",
      36 -> "021C", 37 -> "030T", 38 -> "030C", 39 -> "120C",
      40 -> "021D", 41 -> "030T", 42 -> "030T", 43 -> "120D",
      44 -> "111U", 45 -> "120U", 46 -> "120C", 47 -> "210",
      48 -> "102", 49 -> "111D", 50 -> "111U", 51 -> "201",
      52 -> "111D", 53 -> "120D", 54 -> "120C", 55 -> "210",
      56 -> "111U", 57 -> "120C", 58 -> "120U", 59 -> "210",
      60 -> "201", 61 -> "210", 62 -> "210", 63 -> "300")
    val adj = g.outSimple.view.mapValues(_.toSet).toMap
      .withDefaultValue(Set.empty[Long])
    val counts = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val order =
      Seq("003", "012", "102", "021D", "021U", "021C", "111D", "111U",
        "030T", "030C", "201", "120D", "120U", "120C", "210", "300")
    order.foreach(t => counts(t) = 0L)
    g.nodes.combinations(3).foreach { t =>
      val Seq(a, b, c) = t
      var code = 0
      if (adj(a)(b)) code |= 1
      if (adj(b)(a)) code |= 2
      if (adj(a)(c)) code |= 4
      if (adj(c)(a)) code |= 8
      if (adj(b)(c)) code |= 16
      if (adj(c)(b)) code |= 32
      counts(names(code)) += 1
    }
    val spark = ctx.spark
    import spark.implicits._
    order.map(t => (t, counts(t))).toDF("triad", "count")
  }

  def isChordal(ctx: ProcContext): DataFrame = {
    // maximum-cardinality search + perfect-elimination check
    val g = NxLocal.capture(ctx)
    val adj = g.undSimple.view.mapValues(_.toSet).toMap
      .withDefaultValue(Set.empty[Long])
    val weightMcs =
      mutable.HashMap.empty[Long, Int].withDefaultValue(0)
    val order = mutable.ArrayBuffer.empty[Long]
    val placed = mutable.HashSet.empty[Long]
    while (order.length < g.n) {
      val v = g.nodes.filterNot(placed)
        .maxBy(x => (weightMcs(x), -x))
      order += v
      placed += v
      adj(v).filterNot(placed).foreach(weightMcs(_) += 1)
    }
    val pos = order.zipWithIndex.toMap
    val chordal = order.reverse.forall { v =>
      val earlier = adj(v).filter(w => pos(w) < pos(v))
      earlier.isEmpty || {
        val pvt = earlier.maxBy(pos)
        (earlier - pvt).subsetOf(adj(pvt))
      }
    }
    one(ctx, "is_chordal", chordal)
  }

  def isIsomorphic(ctx: ProcContext): DataFrame = {
    val what = "nxalg.is_isomorphic"
    val g = NxLocal.capture(ctx)
    val n1 = idList(ctx.args.headOption.getOrElse(Nil), what).toSet
    val e1 = (ctx.args.lift(1) match {
      case Some(xs: Seq[_]) => xs
      case _ => Nil
    }).map(edgeIdOf(_, what)).toSet
    val n2 = idList(ctx.args.lift(2).getOrElse(Nil), what).toSet
    val e2 = (ctx.args.lift(3) match {
      case Some(xs: Seq[_]) => xs
      case _ => Nil
    }).map(edgeIdOf(_, what)).toSet
    val g1 = NxLocal.subgraph(g, n1, Some(e1))
    val g2 = NxLocal.subgraph(g, n2, Some(e2))
    require(g1.n <= 12 && g2.n <= 12,
      s"$what: backtracking isomorphism — subgraphs above 12 nodes")
    val iso = g1.n == g2.n && g1.edges.length == g2.edges.length && {
      // directed multigraph iso via backtracking with degree pruning
      def sig(g0: NxLocal.G, v: Long) =
        (g0.out.getOrElse(v, Nil).size, g0.in.getOrElse(v, Nil).size)
      def multOut(g0: NxLocal.G, u: Long, v: Long) =
        g0.out.getOrElse(u, Nil).count(_._1 == v)
      val a = g1.nodes.toArray
      val bBySig = g2.nodes.groupBy(sig(g2, _))
      def bt(i: Int, m: Map[Long, Long], used: Set[Long]): Boolean =
        if (i == a.length) true
        else {
          val v = a(i)
          bBySig.getOrElse(sig(g1, v), Nil).exists { w =>
            !used(w) &&
            m.forall { case (x, y) =>
              multOut(g1, v, x) == multOut(g2, w, y) &&
              multOut(g1, x, v) == multOut(g2, y, w)
            } &&
            multOut(g1, v, v) == multOut(g2, w, w) &&
            bt(i + 1, m + (v -> w), used + w)
          }
        }
      bt(0, Map.empty, Set.empty)
    }
    one(ctx, "is_isomorphic", iso)
  }

  def pagerank(ctx: ProcContext): DataFrame = {
    val what = "nxalg.pagerank"
    val alpha = ctx.args.headOption match {
      case Some(n: java.lang.Number) => n.doubleValue()
      case _ => 0.85
    }
    if (ctx.args.lift(1).exists(_ != null) ||
      ctx.args.lift(4).exists(_ != null) ||
      ctx.args.lift(6).exists(_ != null))
      throw new UnsupportedOperationException(
        s"$what: personalization/nstart/dangling property vectors are " +
          "not implemented — pass null")
    val maxIter = optInt(ctx.args.lift(2)).getOrElse(100)
    val tol = ctx.args.lift(3) match {
      case Some(n: java.lang.Number) => n.doubleValue()
      case _ => 1e-6
    }
    val weightProp = ctx.args.lift(5) match {
      case None => Some("weight")
      case Some(null) => None
      case Some(s) => Some(s.toString)
    }
    val g = NxLocal.capture(ctx, weightProp)
    // nx pagerank on the SIMPLE digraph: parallel edges collapse; the
    // weight of a simple edge = sum over... (DiGraph view keeps ONE
    // edge's properties) — use the smallest-eid representative's weight
    val outW = g.nodes.map { v =>
      val es = g.out.getOrElse(v, Nil).groupBy(_._1).map {
        case (w, bundle) => w -> (
          if (weightProp.isDefined) g.weight(bundle.map(_._2).min)
          else 1.0)
      }
      v -> es
    }.toMap
    val n = g.n
    var pr = g.nodes.map(_ -> 1.0 / n).toMap
    val outSum = g.nodes.map(v => v -> outW(v).values.sum).toMap
    var it = 0
    var delta = Double.MaxValue
    while (it < maxIter && delta > n * tol) {
      it += 1
      val danglingMass =
        pr.filter { case (v, _) => outSum(v) == 0 }.values.sum
      val next = mutable.HashMap.empty[Long, Double]
      g.nodes.foreach(v =>
        next(v) = (1 - alpha) / n + alpha * danglingMass / n)
      g.nodes.foreach { v =>
        if (outSum(v) > 0)
          outW(v).foreach { case (w, wt) =>
            next(w) += alpha * pr(v) * wt / outSum(v)
          }
      }
      delta = g.nodes.map(v => math.abs(next(v) - pr(v))).sum
      pr = next.toMap
    }
    if (delta > n * tol)
      throw new IllegalStateException(
        s"$what: power iteration failed to converge in $maxIter " +
          "iterations.")
    val spark = ctx.spark
    import spark.implicits._
    pr.toSeq.sortBy(_._1).toDF("node", "rank")
  }

  def nodeConnectivityP(ctx: ProcContext): DataFrame = {
    val what = "nxalg.node_connectivity"
    val g = NxLocal.capture(ctx)
    val s = optNode(ctx.args.headOption, what)
    val t = optNode(ctx.args.lift(1), what)
    val k = (s, t) match {
      case (Some(a), Some(b)) => NxLocal.stNodeConnectivity(g, a, b)
      case (None, None) =>
        require(g.n <= 200,
          s"$what: exact global connectivity is O(n²·flow) — graph " +
            "above 200 nodes")
        // TRUE minimum over ordered pairs (networkx's fixed-pivot global
        // can overestimate on asymmetric digraphs — divergence by intent)
        NxLocal.nodeConnectivity(g)
      case _ => throw new IllegalArgumentException(
        s"$what: give both source and target, or neither")
    }
    one(ctx, "connectivity", k.toLong)
  }

  /** nxalg.k_components (nxalg.py:172-180) — one row per k with that
    * level's components. `nx.k_components` resolves to the exact
    * Moody–White algorithm (networkx.algorithms.connectivity.kcomponents
    * — the nxalg.py comment naming the approximation module is
    * misleading; the approximation lives under nx.approximation and is
    * not what the unqualified call dispatches to).
    *
    * KNOWN DIVERGENCE (deliberate): [[NxLocal.kComponents]] computes the
    * Moody–White DEFINITION exactly (every maximal k-connected subgraph,
    * brute-force-verified), while networkx's kcomponents recursion can
    * MISS maximal k-connected subsets that only emerge after removing a
    * cut at a lower level (fuzzing 120 random graphs against networkx
    * 3.6 found 3 such cases, e.g. an embedded K4 missing from its
    * 3-component level). On those inputs this procedure returns the
    * definition-correct superset — definition parity, not
    * output-row-for-row networkx parity. See COVERAGE.md
    * "nxalg.k_components divergence".
    *
    * The reference's `density` parameter would reach the exact
    * function's `flow_func` slot (a number is not callable there), so a
    * non-default value is rejected rather than silently ignored. */
  def kComponentsP(ctx: ProcContext): DataFrame = {
    val what = "nxalg.k_components"
    ctx.args.headOption match {
      case None | Some(null) => ()
      case Some(n: java.lang.Number) if n.doubleValue() == 0.95 => ()
      case Some(other) => throw new UnsupportedOperationException(
        s"$what: a non-default density ($other) selects nothing in the " +
          "exact algorithm the reference dispatches to (it lands in " +
          "nx.k_components' flow_func slot)")
    }
    val g = NxLocal.capture(ctx)
    require(g.n <= 150,
      s"$what: exact Moody-White is cut-recursive flow — graph above " +
        "150 nodes")
    val rows = NxLocal.kComponents(g)
    val spark = ctx.spark
    import spark.implicits._
    rows.map { case (k, cs) => (k.toLong, cs) }
      .toDF("k", "components")
  }

  val registry: Map[String, ProcContext => DataFrame] =
    Map[String, ProcContext => DataFrame](
    "nxalg.k_components" -> kComponentsP,
    "nxalg.is_bipartite" -> isBipartite,
    "nxalg.node_boundary" -> nodeBoundary,
    "nxalg.node_expansion" -> nodeExpansion,
    "nxalg.isolates" -> isolates,
    "nxalg.is_isolate" -> isIsolate,
    "nxalg.reciprocity" -> reciprocity,
    "nxalg.flow_hierarchy" -> flowHierarchy,
    "nxalg.is_edge_cover" -> isEdgeCover,
    "nxalg.is_at_free" -> isAtFree,
    "nxalg.check_planarity" -> checkPlanarity,
    "nxalg.is_eulerian" -> isEulerian,
    "nxalg.is_semieulerian" -> isSemieulerian,
    "nxalg.has_eulerian_path" -> hasEulerianPath,
    "nxalg.strongly_connected_components" -> stronglyConnectedComponents,
    "nxalg.biconnected_components" -> biconnectedComponents,
    "nxalg.bridges" -> bridgesP,
    "nxalg.chain_decomposition" -> chainDecomposition,
    "nxalg.k_edge_components" -> kEdgeComponents,
    "nxalg.core_number" -> coreNumber,
    "nxalg.find_cycle" -> findCycle,
    "nxalg.simple_cycles" -> simpleCycles,
    "nxalg.betweenness_centrality" -> betweennessCentrality,
    "nxalg.clustering" -> clustering,
    "nxalg.greedy_color" -> greedyColor,
    "nxalg.find_cliques" -> findCliques,
    "nxalg.k_clique_communities" -> kCliqueCommunities,
    "nxalg.maximal_matching" -> maximalMatching,
    "nxalg.jaccard_coefficient" -> jaccardCoefficient,
    "nxalg.center" -> center,
    "nxalg.diameter" -> diameter,
    "nxalg.wiener_index" -> wienerIndex,
    "nxalg.global_efficiency" -> globalEfficiency,
    "nxalg.local_efficiency" -> localEfficiency,
    "nxalg.voronoi_cells" -> voronoiCells,
    "nxalg.is_distance_regular" -> isDistanceRegular,
    "nxalg.is_strongly_regular" -> isStronglyRegular,
    "nxalg.degree_assortativity_coefficient" -> degreeAssortativity,
    "nxalg.communicability" -> communicability,
    "nxalg.non_randomness" -> nonRandomness,
    "nxalg.triadic_census" -> triadicCensus,
    "nxalg.is_chordal" -> isChordal,
    "nxalg.is_isomorphic" -> isIsomorphic,
    "nxalg.pagerank" -> pagerank,
    "nxalg.node_connectivity" -> nodeConnectivityP)
}
