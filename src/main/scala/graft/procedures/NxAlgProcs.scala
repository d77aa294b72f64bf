package graft.procedures

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** The reference's `nxalg` module (`query_modules/nxalg.py` — proxied
  * NetworkX algorithms over the whole graph): traversals, paths,
  * components, tree/euler/tournament recognition, dominance, cuts.
  * Part 2 (centrality / clustering / cliques / spectral / misc) lives in
  * [[NxAlgProcs2]]; the registry below merges both.
  *
  * Vertex/edge yields are ID values (the repo's established procedure
  * yield shape, IgraphProcs.scala:220) rather than whole entities.
  * Iteration orders are id-sorted (deterministic), where networkx
  * follows storage insertion order — documented divergence. All
  * procedures run on the driver-local capture ([[NxLocal.capture]]),
  * exactly the reference's own execution model (it builds an in-process
  * networkx graph per call), gated by `spark.graft.local.edges`.
  */
object NxAlgProcs {

  import ProcArgs.{idList, nodeIdOf, optInt, optNode, optStr}

  private[procedures] def one(ctx: ProcContext, name: String, v: Any)
    : DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    v match {
      case b: Boolean => Seq(b).toDF(name)
      case l: Long => Seq(l).toDF(name)
      case i: Int => Seq(i.toLong).toDF(name)
      case d: Double => Seq(d).toDF(name)
      case s: Seq[_] if s.forall(_.isInstanceOf[Long]) =>
        Seq(s.map(_.asInstanceOf[Long])).toDF(name)
      case s: Seq[_] =>
        Seq(s.map(_.asInstanceOf[Seq[Long]])).toDF(name)
      case null => Seq(Option.empty[Seq[Long]]).toDF(name)
      case other => Seq(other.toString).toDF(name)
    }
  }

  // ------------------------------------------------------------------
  // traversal family

  /** deterministic BFS: returns (traversal edges (u,v,eid) in visit
    * order). Neighbors expand id-sorted; parallel edges pick the
    * smallest eid. */
  private def bfsWalk(
      g: NxLocal.G, source: Long, reverse: Boolean,
      depthLimit: Option[Int]): Seq[(Long, Long, Long)] = {
    val adj = if (reverse) g.in else g.out
    val lim = depthLimit.getOrElse(Int.MaxValue)
    val seen = mutable.HashSet(source)
    val order = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = mutable.Queue((source, 0))
    while (q.nonEmpty) {
      val (v, d) = q.dequeue()
      if (d < lim) {
        adj.getOrElse(v, Nil).groupBy(_._1).toSeq.sortBy(_._1).foreach {
          case (nx, es) =>
            if (!seen(nx)) {
              seen += nx
              order += ((v, nx, es.map(_._2).min))
              q += ((nx, d + 1))
            }
        }
      }
    }
    order.toSeq
  }

  private def dfsWalk(
      g: NxLocal.G, source: Long,
      depthLimit: Option[Int]): (Seq[Long], Seq[Long], Seq[(Long, Long)]) = {
    // (preorder, postorder, tree edges (parent, child))
    val lim = depthLimit.getOrElse(Int.MaxValue)
    val seen = mutable.HashSet(source)
    val pre = mutable.ArrayBuffer(source)
    val post = mutable.ArrayBuffer.empty[Long]
    val tree = mutable.ArrayBuffer.empty[(Long, Long)]
    val stack = mutable.Stack[(Long, Iterator[Long], Int)](
      (source, g.outSimple.getOrElse(source, Nil).iterator, 0))
    while (stack.nonEmpty) {
      val (v, it, d) = stack.top
      val advanced = d < lim && it.hasNext
      if (advanced) {
        val nx = it.next()
        if (!seen(nx)) {
          seen += nx
          pre += nx
          tree += ((v, nx))
          stack.push((nx, g.outSimple.getOrElse(nx, Nil).iterator, d + 1))
        }
      } else {
        post += v
        stack.pop()
      }
    }
    (pre.toSeq, post.toSeq, tree.toSeq)
  }

  def bfsEdgesP(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val src = nodeIdOf(ctx.args.head, "nxalg.bfs_edges")
    val reverse = ctx.args.lift(1).exists(_ == true)
    val walk = bfsWalk(g, src, reverse, optInt(ctx.args.lift(2)))
    one(ctx, "edges", walk.map(_._3))
  }

  def bfsTree(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val src = nodeIdOf(ctx.args.head, "nxalg.bfs_tree")
    val reverse = ctx.args.lift(1).exists(_ == true)
    val walk = bfsWalk(g, src, reverse, optInt(ctx.args.lift(2)))
    one(ctx, "tree", src +: walk.map(_._2))
  }

  def bfsPredecessors(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val src = nodeIdOf(ctx.args.head, "nxalg.bfs_predecessors")
    val walk = bfsWalk(g, src, reverse = false, optInt(ctx.args.lift(1)))
    val spark = ctx.spark
    import spark.implicits._
    walk.map(e => (e._2, e._1)).toDF("node", "predecessor")
  }

  def bfsSuccessors(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val src = nodeIdOf(ctx.args.head, "nxalg.bfs_successors")
    val walk = bfsWalk(g, src, reverse = false, optInt(ctx.args.lift(1)))
    val spark = ctx.spark
    import spark.implicits._
    val order = (src +: walk.map(_._2)).zipWithIndex.toMap
    walk.groupBy(_._1).toSeq.sortBy(e => order(e._1))
      .map { case (v, es) => (v, es.map(_._2)) }
      .toDF("node", "successors")
  }

  def dfsTree(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val src = nodeIdOf(ctx.args.head, "nxalg.dfs_tree")
    val (pre, _, _) = dfsWalk(g, src, optInt(ctx.args.lift(1)))
    one(ctx, "tree", pre)
  }

  def dfsPredecessors(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val src = nodeIdOf(ctx.args.head, "nxalg.dfs_predecessors")
    val (_, _, tree) = dfsWalk(g, src, optInt(ctx.args.lift(1)))
    val spark = ctx.spark
    import spark.implicits._
    tree.map(e => (e._2, e._1)).sortBy(_._1).toDF("node", "predecessor")
  }

  def dfsSuccessors(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val src = nodeIdOf(ctx.args.head, "nxalg.dfs_successors")
    val (_, _, tree) = dfsWalk(g, src, optInt(ctx.args.lift(1)))
    val spark = ctx.spark
    import spark.implicits._
    tree.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (v, es) => (v, es.map(_._2)) }
      .toDF("node", "successors")
  }

  def dfsPreorder(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val src = nodeIdOf(ctx.args.head, "nxalg.dfs_preorder_nodes")
    one(ctx, "nodes", dfsWalk(g, src, optInt(ctx.args.lift(1)))._1)
  }

  def dfsPostorder(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val src = nodeIdOf(ctx.args.head, "nxalg.dfs_postorder_nodes")
    one(ctx, "nodes", dfsWalk(g, src, optInt(ctx.args.lift(1)))._2)
  }

  /** edge_bfs / edge_dfs: every EDGE visited once (not every node);
    * orientation None → natural direction; "ignore"/"reverse"
    * supported. */
  private def edgeWalk(
      ctx: ProcContext, what: String, bfs: Boolean): DataFrame = {
    val g = NxLocal.capture(ctx)
    val srcs = optNode(ctx.args.headOption, what)
      .map(Seq(_)).getOrElse(g.nodes)
    val orientation = optStr(ctx.args.lift(1))
    val adj: Map[Long, Seq[(Long, Long)]] = orientation match {
      case Some("reverse") => g.in
      case Some("ignore") => g.und
      case None | Some("original") => g.out
      case Some(o) => throw new IllegalArgumentException(
        s"$what: unknown orientation '$o'")
    }
    val seenE = mutable.LinkedHashSet.empty[Long]
    val seenV = mutable.HashSet.empty[Long]
    srcs.foreach { s =>
      if (!seenV(s)) {
        if (bfs) {
          seenV += s
          val q = mutable.Queue(s)
          while (q.nonEmpty) {
            val v = q.dequeue()
            adj.getOrElse(v, Nil).foreach { case (nx, eid) =>
              if (!seenE.contains(eid)) {
                seenE += eid
                if (!seenV(nx)) { seenV += nx; q += nx }
              }
            }
          }
        } else {
          seenV += s
          val stack =
            mutable.Stack[(Long, Iterator[(Long, Long)])](
              (s, adj.getOrElse(s, Nil).iterator))
          while (stack.nonEmpty) {
            val (_, it) = stack.top
            if (it.hasNext) {
              val (nx, eid) = it.next()
              if (!seenE.contains(eid)) {
                seenE += eid
                seenV += nx
                stack.push((nx, adj.getOrElse(nx, Nil).iterator))
              }
            } else stack.pop()
          }
        }
      }
    }
    one(ctx, "edges", seenE.toSeq)
  }

  def edgeBfs(ctx: ProcContext): DataFrame =
    edgeWalk(ctx, "nxalg.edge_bfs", bfs = true)
  def edgeDfs(ctx: ProcContext): DataFrame =
    edgeWalk(ctx, "nxalg.edge_dfs", bfs = false)

  // ------------------------------------------------------------------
  // shortest paths

  private def weightedArg(ctx: ProcContext, i: Int): Option[String] =
    optStr(ctx.args.lift(i))

  /** nxalg.shortest_path / shortest_path_length: any combination of
    * bound/unbound source and target. */
  private def shortestCommon(ctx: ProcContext, lengths: Boolean)
    : DataFrame = {
    val what =
      if (lengths) "nxalg.shortest_path_length" else "nxalg.shortest_path"
    val weight = weightedArg(ctx, 2)
    val g = NxLocal.capture(ctx, weight)
    val source = optNode(ctx.args.headOption, what)
    val target = optNode(ctx.args.lift(1), what)
    val weighted = weight.isDefined
    def from(s: Long): Seq[(Long, Long, Seq[Long], Double)] = {
      val (dist, parent) = NxLocal.dijkstra(g, Seq(s), weighted)
      dist.toSeq.sortBy(_._1).map { case (t, d) =>
        (s, t, NxLocal.pathTo(parent, Set(s), t), d)
      }
    }
    val rows: Seq[(Long, Long, Seq[Long], Double)] = (source, target) match {
      case (Some(s), Some(t)) =>
        from(s).filter(_._2 == t) match {
          case Nil => throw new IllegalArgumentException(
            s"$what: no path between $s and $t")
          case found => found
        }
      case (Some(s), None) => from(s)
      case (None, Some(t)) =>
        g.nodes.flatMap(s => from(s).filter(_._2 == t))
      case (None, None) => g.nodes.flatMap(from)
    }
    val spark = ctx.spark
    import spark.implicits._
    if (lengths)
      rows.map(r =>
        (r._1, r._2,
          if (weighted) r._4 else r._4)).toDF("source", "target", "length")
    else rows.map(r => (r._1, r._2, r._3)).toDF("source", "target", "path")
  }

  def shortestPath(ctx: ProcContext): DataFrame =
    shortestCommon(ctx, lengths = false)
  def shortestPathLength(ctx: ProcContext): DataFrame =
    shortestCommon(ctx, lengths = true)

  def allShortestPathsP(ctx: ProcContext): DataFrame = {
    val what = "nxalg.all_shortest_paths"
    val weight = weightedArg(ctx, 2)
    val g = NxLocal.capture(ctx, weight)
    val s = nodeIdOf(ctx.args.head, what)
    val t = nodeIdOf(ctx.args.lift(1).getOrElse(
      throw new IllegalArgumentException(s"$what: need target")), what)
    val weighted = weight.isDefined
    val (dist, _) = NxLocal.dijkstra(g, Seq(s), weighted)
    if (!dist.contains(t))
      throw new IllegalArgumentException(s"$what: no path from $s to $t")
    // enumerate by walking predecessors on the shortest-path DAG;
    // parallel edges dedupe by predecessor NODE (nx yields node paths)
    val paths = mutable.ArrayBuffer.empty[Seq[Long]]
    def walkD(v: Long, acc: List[Long]): Unit =
      if (v == s) paths += (s :: acc)
      else
        g.in.getOrElse(v, Nil).map(_._1).distinct.sorted.foreach { p =>
          val ws = g.in(v).filter(_._1 == p)
            .map(e => if (weighted) g.weight(e._2) else 1.0)
          if (dist.contains(p) &&
            ws.exists(w => math.abs(dist(p) + w - dist(v)) < 1e-9))
            walkD(p, v :: acc)
        }
    walkD(t, Nil)
    one(ctx, "paths", paths.toSeq)
  }

  def hasPath(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val s = nodeIdOf(ctx.args.head, "nxalg.has_path")
    val t = nodeIdOf(ctx.args.lift(1).getOrElse(
      throw new IllegalArgumentException("nxalg.has_path: need target")),
      "nxalg.has_path")
    one(ctx, "has_path", NxLocal.bfsDist(g.outSimple, s).contains(t))
  }

  def multiSourceDijkstraPath(ctx: ProcContext): DataFrame = {
    val what = "nxalg.multi_source_dijkstra_path"
    val weight = optStr(ctx.args.lift(2)).getOrElse("weight")
    val g = NxLocal.capture(ctx, Some(weight))
    val sources = idList(ctx.args.headOption.getOrElse(Nil), what)
    val cutoff = optInt(ctx.args.lift(1)).map(_.toDouble)
    val (dist, parent) =
      NxLocal.dijkstra(g, sources, weighted = true, cutoff)
    val spark = ctx.spark
    import spark.implicits._
    dist.toSeq.sortBy(_._1)
      .map { case (t, _) =>
        (t, NxLocal.pathTo(parent, sources.toSet, t))
      }
      .toDF("target", "path")
  }

  def multiSourceDijkstraPathLength(ctx: ProcContext): DataFrame = {
    val what = "nxalg.multi_source_dijkstra_path_length"
    val weight = optStr(ctx.args.lift(2)).getOrElse("weight")
    val g = NxLocal.capture(ctx, Some(weight))
    val sources = idList(ctx.args.headOption.getOrElse(Nil), what)
    val cutoff = optInt(ctx.args.lift(1)).map(_.toDouble)
    val (dist, _) = NxLocal.dijkstra(g, sources, weighted = true, cutoff)
    val spark = ctx.spark
    import spark.implicits._
    dist.toSeq.sortBy(_._1).toDF("target", "length")
  }

  def isSimplePath(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val nodes = idList(ctx.args.headOption.getOrElse(Nil),
      "nxalg.is_simple_path")
    val ok = nodes.nonEmpty && nodes.distinct.size == nodes.size &&
      nodes.forall(g.nodeSet) &&
      nodes.zip(nodes.drop(1)).forall { case (u, v) =>
        g.outSimple.getOrElse(u, Nil).contains(v)
      }
    one(ctx, "is_simple_path", ok)
  }

  def allSimplePathsP(ctx: ProcContext): DataFrame = {
    val what = "nxalg.all_simple_paths"
    val g = NxLocal.capture(ctx)
    val s = nodeIdOf(ctx.args.head, what)
    val t = nodeIdOf(ctx.args.lift(1).getOrElse(
      throw new IllegalArgumentException(s"$what: need target")), what)
    val cutoff = optInt(ctx.args.lift(2)).getOrElse(g.n - 1)
    one(ctx, "paths", NxLocal.simplePaths(g.outSimple, s, t, cutoff))
  }

  // ------------------------------------------------------------------
  // DAG / dominance / trees

  def topologicalSortP(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val order = NxLocal.kahnOrder(g)
    if (order.length != g.n)
      throw new IllegalArgumentException(
        "Graph contains a cycle or graph changed during iteration")
    one(ctx, "nodes", order)
  }

  def ancestorsP(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val src = nodeIdOf(ctx.args.head, "nxalg.ancestors")
    val r = NxLocal.bfsDist(g.inSimple, src).keySet - src
    one(ctx, "ancestors", r.toSeq.sorted)
  }

  def descendantsP(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val src = nodeIdOf(ctx.args.head, "nxalg.descendants")
    val r = NxLocal.bfsDist(g.outSimple, src).keySet - src
    one(ctx, "descendants", r.toSeq.sorted)
  }

  def lowestCommonAncestor(ctx: ProcContext): DataFrame = {
    val what = "nxalg.lowest_common_ancestor"
    val g = NxLocal.capture(ctx)
    val a = nodeIdOf(ctx.args.head, what)
    val b = nodeIdOf(ctx.args.lift(1).getOrElse(
      throw new IllegalArgumentException(s"$what: need node2")), what)
    val ancA = NxLocal.bfsDist(g.inSimple, a).keySet
    val ancB = NxLocal.bfsDist(g.inSimple, b).keySet
    val common = ancA & ancB
    // lowest = no other common ancestor is its descendant; smallest id
    // among the lowest (nx picks an arbitrary one)
    val lowest = common.filter(c =>
      (NxLocal.bfsDist(g.outSimple, c).keySet & common) == Set(c))
    val spark = ctx.spark
    import spark.implicits._
    Seq(lowest.toSeq.sorted.headOption).toDF("ancestor")
  }

  /** Cooper–Harvey–Kennedy iterative dominators from `start`. */
  private def idoms(g: NxLocal.G, start: Long): Map[Long, Long] = {
    val rpo = {
      // DFS postorder from start over outSimple, reversed
      val seen = mutable.HashSet(start)
      val post = mutable.ArrayBuffer.empty[Long]
      val stack = mutable.Stack[(Long, Iterator[Long])](
        (start, g.outSimple.getOrElse(start, Nil).iterator))
      while (stack.nonEmpty) {
        val (v, it) = stack.top
        if (it.hasNext) {
          val nx = it.next()
          if (!seen(nx)) {
            seen += nx
            stack.push((nx, g.outSimple.getOrElse(nx, Nil).iterator))
          }
        } else { post += v; stack.pop() }
      }
      post.toSeq.reverse
    }
    val order = rpo.zipWithIndex.toMap
    val idom = mutable.HashMap(start -> start)
    def intersect(a0: Long, b0: Long): Long = {
      var a = a0; var b = b0
      while (a != b) {
        while (order(a) > order(b)) a = idom(a)
        while (order(b) > order(a)) b = idom(b)
      }
      a
    }
    var changed = true
    while (changed) {
      changed = false
      rpo.filterNot(_ == start).foreach { v =>
        val preds = g.inSimple.getOrElse(v, Nil)
          .filter(p => order.contains(p) && idom.contains(p))
        if (preds.nonEmpty) {
          val nd = preds.reduce(intersect)
          if (!idom.get(v).contains(nd)) { idom(v) = nd; changed = true }
        }
      }
    }
    idom.toMap
  }

  def immediateDominators(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val start = nodeIdOf(ctx.args.head, "nxalg.immediate_dominators")
    val spark = ctx.spark
    import spark.implicits._
    idoms(g, start).toSeq.sortBy(_._1).toDF("node", "dominator")
  }

  def dominanceFrontiers(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val start = nodeIdOf(ctx.args.head, "nxalg.dominance_frontiers")
    val idom = idoms(g, start)
    val df = mutable.HashMap.empty[Long, mutable.TreeSet[Long]]
    idom.keys.foreach(v => df(v) = mutable.TreeSet.empty)
    idom.keys.foreach { v =>
      val preds = g.inSimple.getOrElse(v, Nil).filter(idom.contains)
      if (preds.size >= 2)
        preds.foreach { p =>
          var runner = p
          while (runner != idom(v)) {
            df(runner) += v
            runner = idom(runner)
          }
        }
    }
    val spark = ctx.spark
    import spark.implicits._
    df.toSeq.sortBy(_._1).map { case (v, f) => (v, f.toSeq) }
      .toDF("node", "frontier")
  }

  def dominatingSet(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val start = nodeIdOf(ctx.args.head, "nxalg.dominating_set")
    // nx greedy: seed with start, then cover remaining by id order
    val dom = mutable.TreeSet(start)
    val covered = mutable.HashSet(start)
    covered ++= g.outSimple.getOrElse(start, Nil)
    g.nodes.foreach { v =>
      if (!covered(v)) {
        dom += v
        covered += v
        covered ++= g.outSimple.getOrElse(v, Nil)
      }
    }
    one(ctx, "dominating_set", dom.toSeq)
  }

  // tree recognition (nx semantics on the SIMPLE directed graph:
  // tree/forest check the underlying undirected shape)
  private def treeStats(g: NxLocal.G): (Boolean, Boolean) = {
    if (g.n == 0)
      throw new IllegalArgumentException("nxalg: graph has no nodes")
    val comps = NxLocal.wcc(g)
    val compOf = comps.zipWithIndex
      .flatMap { case (c, i) => c.map(_ -> i) }.toMap
    val edgesPer = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
    g.nodes.foreach { v =>
      g.outSimple.getOrElse(v, Nil).foreach(_ => edgesPer(compOf(v)) += 1)
    }
    val forest = comps.indices.forall(i =>
      edgesPer(i) == comps(i).size - 1)
    (forest && comps.size == 1, forest)
  }

  def isTreeP(ctx: ProcContext): DataFrame =
    one(ctx, "is_tree", treeStats(NxLocal.capture(ctx))._1)
  def isForestP(ctx: ProcContext): DataFrame =
    one(ctx, "is_forest", treeStats(NxLocal.capture(ctx))._2)

  def isArborescence(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val inOk = g.nodes.forall(v => g.inSimple.getOrElse(v, Nil).size <= 1)
    one(ctx, "is_arborescence", treeStats(g)._1 && inOk)
  }

  def isBranching(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val inOk = g.nodes.forall(v => g.inSimple.getOrElse(v, Nil).size <= 1)
    one(ctx, "is_branching", treeStats(g)._2 && inOk)
  }

  def isTournament(ctx: ProcContext): DataFrame = {
    val g = NxLocal.capture(ctx)
    val ok = g.edges.forall(e => e._2 != e._3) &&
      g.nodes.combinations(2).forall { pair =>
        val (u, v) = (pair(0), pair(1))
        val uv = g.outSimple.getOrElse(u, Nil).contains(v)
        val vu = g.outSimple.getOrElse(v, Nil).contains(u)
        uv != vu
      }
    one(ctx, "is_tournament", ok)
  }

  def minimumSpanningTree(ctx: ProcContext): DataFrame = {
    val weight = optStr(ctx.args.headOption).getOrElse("weight")
    val g = NxLocal.capture(ctx, Some(weight))
    // Kruskal over the undirected multigraph: per parallel bundle the
    // lightest (then smallest-id) edge competes
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      parent(x) = r
      r
    }
    val chosen = mutable.ArrayBuffer.empty[Long]
    g.edges.filter(e => e._2 != e._3)
      .sortBy(e => (g.weight(e._1), e._1))
      .foreach { case (eid, u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) { parent(ru) = rv; chosen += eid }
      }
    val spark = ctx.spark
    import spark.implicits._
    Seq((g.nodes, chosen.toSeq)).toDF("nodes", "edges")
  }

  def weaklyConnectedComponentsSubgraph(ctx: ProcContext): DataFrame = {
    val what = "nxalg.weakly_connected_components_subgraph"
    val vertices = idList(ctx.args.headOption.getOrElse(Nil), what)
    val edgeArgs = ProcArgs.edgePairs(ctx.args.lift(1), what)
    val nodes =
      (vertices ++ edgeArgs.flatMap(e => Seq(e._1, e._2))).distinct.sorted
    val sub = NxLocal.G(
      nodes,
      edgeArgs.zipWithIndex.map { case ((s, d), i) => (i.toLong, s, d) },
      Map.empty)
    val comps = NxLocal.wcc(sub)
    val spark = ctx.spark
    import spark.implicits._
    Seq((comps.length.toLong, comps)).toDF("n_components", "components")
  }

  val registry: Map[String, ProcContext => DataFrame] =
    Map[String, ProcContext => DataFrame](
    "nxalg.bfs_edges" -> bfsEdgesP,
    "nxalg.bfs_tree" -> bfsTree,
    "nxalg.bfs_predecessors" -> bfsPredecessors,
    "nxalg.bfs_successors" -> bfsSuccessors,
    "nxalg.dfs_tree" -> dfsTree,
    "nxalg.dfs_predecessors" -> dfsPredecessors,
    "nxalg.dfs_successors" -> dfsSuccessors,
    "nxalg.dfs_preorder_nodes" -> dfsPreorder,
    "nxalg.dfs_postorder_nodes" -> dfsPostorder,
    "nxalg.edge_bfs" -> edgeBfs,
    "nxalg.edge_dfs" -> edgeDfs,
    "nxalg.shortest_path" -> shortestPath,
    "nxalg.shortest_path_length" -> shortestPathLength,
    "nxalg.all_shortest_paths" -> allShortestPathsP,
    "nxalg.has_path" -> hasPath,
    "nxalg.multi_source_dijkstra_path" -> multiSourceDijkstraPath,
    "nxalg.multi_source_dijkstra_path_length" ->
      multiSourceDijkstraPathLength,
    "nxalg.is_simple_path" -> isSimplePath,
    "nxalg.all_simple_paths" -> allSimplePathsP,
    "nxalg.topological_sort" -> topologicalSortP,
    "nxalg.ancestors" -> ancestorsP,
    "nxalg.descendants" -> descendantsP,
    "nxalg.lowest_common_ancestor" -> lowestCommonAncestor,
    "nxalg.immediate_dominators" -> immediateDominators,
    "nxalg.dominance_frontiers" -> dominanceFrontiers,
    "nxalg.dominating_set" -> dominatingSet,
    "nxalg.is_tree" -> isTreeP,
    "nxalg.is_forest" -> isForestP,
    "nxalg.is_arborescence" -> isArborescence,
    "nxalg.is_branching" -> isBranching,
    "nxalg.is_tournament" -> isTournament,
    "nxalg.minimum_spanning_tree" -> minimumSpanningTree,
    "nxalg.weakly_connected_components_subgraph" ->
      weaklyConnectedComponentsSubgraph) ++ NxAlgProcs2.registry
}
