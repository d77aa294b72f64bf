package graft.procedures

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraphState
import graft.core.GraphState.{DstCol, IdCol, SrcCol, TypeCol}
import graft.operators.{Cutover, Scratch}

/** The remaining MAGE algorithm tail: `union_find` and `max_flow`
  * (reference `src/mage/python/union_find.py`, `max_flow.py`) and the
  * `graph_util` module (`src/mage/cpp/graph_util_module/`).
  *
  * union_find and the graph_util traversals are frontier/fixpoint
  * programs with the usual subcritical driver-local dispatch. max_flow is
  * sequential augmenting-path search — the reference runs it single-node
  * in Python, and the algorithm's data dependency (each augmentation
  * observes all previous flows) does not decompose into data-parallel
  * rounds — so it runs on the collected subcritical graph and refuses
  * loudly above `spark.graft.local.edges` rather than pretending to
  * scale.
  */
object ExtraProcs {

  import Procedures.Proc

  val registry: Map[String, Proc] = Map(
    "union_find.connected" -> unionFindConnected,
    "max_flow.get_flow" -> maxFlowGetFlow,
    "max_flow.get_paths" -> maxFlowGetPaths,
    "bipartite_matching.max" -> bipartiteMatchingMax,
    "graph_util.ancestors" -> (ctx => reachability(ctx, forward = false)),
    "graph_util.descendants" -> (ctx => reachability(ctx, forward = true)),
    "graph_util.topological_sort" -> topologicalSort,
    "graph_util.connect_nodes" -> connectNodes)

  // ---------------- option helpers (shared shapes) ----------------

  private def optLong(ctx: ProcContext, k: String): Option[Long] =
    ctx.opts.get(k).map(_.toString.toLong)

  /** Edge frames for an optional `type` restriction (absent = all). */
  private def typedEdges(ctx: ProcContext): DataFrame = {
    ctx.opts.get("type") match {
      case Some(t) => ctx.g.edgesOfTypes(Seq(t.toString))
      case None => ctx.g.allEdges
    }
  }

  /** Node frame for an optional `label` restriction (absent = all — the
    * reference modules operate on the whole graph; the option scopes a
    * CALL to a subgraph, e.g. to keep a topological sort off unrelated
    * cyclic components). */
  private def labeledNodes(ctx: ProcContext): DataFrame = {
    ctx.opts.get("label") match {
      case Some(l) => ctx.g.nodesOrEmpty(l.toString)
      case None => ctx.g.allNodes
    }
  }

  // ---------------- union_find (python/union_find.py) ----------------

  /** `union_find.connected({nodes1, nodes2, mode})` → (node1, node2,
    * connected): same-component tests over the WHOLE graph (the reference
    * reinitializes its disjoint set from every vertex + out-edge). The
    * component labels come from [[Procedures.minLabelComponents]] — one
    * pointer-jumping fixpoint at scale, a collected pass when subcritical
    * — and the requested pairs broadcast-join against them. `mode`:
    * `pairwise` zips the two lists, `cartesian` crosses them. */
  def unionFindConnected(ctx: ProcContext): DataFrame = {
    val n1 = ctx.optLongs("nodes1")
    val n2 = ctx.optLongs("nodes2")
    val mode = ctx.optString("mode", "pairwise").toLowerCase
    val spark = ctx.spark
    import spark.implicits._

    val pairs = mode match {
      case "pairwise" =>
        require(n1.length == n2.length,
          "Incompatible lengths of given arguments.")
        n1.zip(n2)
      case "cartesian" =>
        for (a <- n1; b <- n2) yield (a, b)
      case other =>
        throw new IllegalArgumentException(s"invalid mode: $other")
    }
    val nodes = labeledNodes(ctx).select(col(IdCol).as("node"))
    val edges = typedEdges(ctx)
      .select(col(SrcCol).as("src"), col(DstCol).as("dst"))
    val comp = Procedures.minLabelComponents(nodes, edges)
    val p = pairs.toDF("node1", "node2")
    broadcast(p)
      .join(comp.select(col("node").as("node1"), col("comp").as("c1")), Seq("node1"))
      .join(comp.select(col("node").as("node2"), col("comp").as("c2")), Seq("node2"))
      .select(
        col("node1"), col("node2"),
        (col("c1") === col("c2")).as("connected"))
  }

  // ------------- bipartite_matching (cpp/bipartite_matching_module) ----

  /** `bipartite_matching.max()` — size of a maximum bipartite matching
    * (bipartite_matching_module.cpp kProcedureMax). Mirrors the
    * reference: 2-color the UNDIRECTED graph first (self-loop or odd
    * cycle → not bipartite → 0), then augmenting-path search from every
    * left-color node (BipartiteMatchingDFS). Sequential augmenting paths
    * don't decompose, so this runs on the collected subcritical graph and
    * refuses loudly above the threshold — the max_flow contract. Options:
    * type (edge-type restriction). Yields (maximum_bipartite_matching).
    */
  def bipartiteMatchingMax(ctx: ProcContext): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    val rows = Cutover.collect(
      typedEdges(ctx).select(col(SrcCol), col(DstCol)))
      .getOrElse(throw new IllegalStateException(
        "bipartite_matching: graph above spark.graft.local.edges — " +
          "sequential augmenting-path search does not distribute (the " +
          "reference module is single-node C++); raise the threshold"))
    val edges = rows.map(r => (r.getLong(0), r.getLong(1)))
    Seq(localBipartiteMatching(edges))
      .toDF("maximum_bipartite_matching")
  }

  private[graft] def localBipartiteMatching(
      edges: Array[(Long, Long)]): Long = {
    if (edges.isEmpty) return 0L
    // undirected adjacency
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
    }
    // 2-coloring (IsGraphBipartiteColoring): BFS per component; a
    // self-loop or same-color neighbor → not bipartite → 0
    val color = mutable.HashMap.empty[Long, Int]
    val nodesSorted = adj.keys.toSeq.sorted
    for (start <- nodesSorted if !color.contains(start)) {
      color(start) = 1
      val queue = mutable.Queue(start)
      while (queue.nonEmpty) {
        val cur = queue.dequeue()
        for (nb <- adj(cur)) {
          if (nb == cur) return 0L // self loop
          if (!color.contains(nb)) {
            color(nb) = -color(cur)
            queue += nb
          } else if (color(nb) == color(cur)) return 0L
        }
      }
    }
    // augmenting DFS from every left (color 1) node
    val matched = mutable.HashMap.empty[Long, Long] // right -> left
    def augment(node: Long, visited: mutable.HashSet[Long]): Boolean = {
      if (!visited.add(node)) return false
      adj(node).exists { next =>
        matched.get(next) match {
          case None => matched(next) = node; true
          case Some(m) if augment(m, visited) => matched(next) = node; true
          case _ => false
        }
      }
    }
    var size = 0L
    for (n <- nodesSorted if color(n) == 1)
      if (augment(n, mutable.HashSet.empty)) size += 1
    size
  }

  // ---------------- max_flow (python/max_flow.py) ----------------

  /** `max_flow.get_flow({source, sink, weightProp, type})` → max_flow:
    * Ford–Fulkerson with capacity scaling (max_flow.py:69-123 —
    * delta from 2^⌊log2(max_w)⌋ halving to below the smallest weight,
    * DFS augmenting paths with `residual > delta`, per-edge-instance
    * flows so reverse traversal consumes existing flow). Edges missing
    * the weight property are ignored (heterogeneous graphs). */
  def maxFlowGetFlow(ctx: ProcContext): DataFrame = {
    val source = optLong(ctx, "source").getOrElse(
      throw new IllegalArgumentException("need source"))
    val sink = optLong(ctx, "sink").getOrElse(
      throw new IllegalArgumentException("need sink"))
    val prop = ctx.optString("weightProp", "weight")
    val spark = ctx.spark
    import spark.implicits._

    val e0 = typedEdges(ctx)
    val withW =
      if (e0.columns.contains(prop))
        e0.filter(col(prop).isNotNull)
          .select(col(IdCol), col(SrcCol), col(DstCol),
            col(prop).cast("double").as("w"))
      else e0.filter(lit(false))
        .select(col(IdCol), col(SrcCol), col(DstCol), lit(0.0).as("w"))
    val rows = Cutover.collect(withW).getOrElse(
      throw new IllegalStateException(
        "max_flow: graph above spark.graft.local.edges — sequential " +
          "augmenting-path search does not distribute (the reference " +
          "module is single-node Python); raise the threshold to run it"))
    val edges = rows.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

    Seq(localMaxFlow(edges, source, sink)).toDF("max_flow")
  }

  /** `max_flow.get_paths(start_v, end_v, edge_property='weight')` — one
    * row per augmenting path of the same capacity-scaling run
    * (max_flow.py:41-66), yielded as (path, flow) with the path as the
    * node-id sequence source → sink (the igraphalg path convention). */
  def maxFlowGetPaths(ctx: ProcContext): DataFrame = {
    val source = nodeIdArg(ctx, 0)
    val sink = nodeIdArg(ctx, 1)
    val prop = ctx.args.lift(2).map(_.toString).getOrElse("weight")
    val spark = ctx.spark
    import spark.implicits._

    val e0 = typedEdges(ctx)
    val withW =
      if (e0.columns.contains(prop))
        e0.filter(col(prop).isNotNull)
          .select(col(IdCol), col(SrcCol), col(DstCol),
            col(prop).cast("double").as("w"))
      else e0.filter(lit(false))
        .select(col(IdCol), col(SrcCol), col(DstCol), lit(0.0).as("w"))
    val rows = Cutover.collect(withW).getOrElse(
      throw new IllegalStateException(
        "max_flow: graph above spark.graft.local.edges — sequential " +
          "augmenting-path search does not distribute (the reference " +
          "module is single-node Python); raise the threshold to run it"))
    val edges = rows.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    localMaxFlowPaths(edges, source, sink)._2.toDF("path", "flow")
  }

  /** A node argument: the entity struct's `_id` or a bare id. */
  private def nodeIdArg(ctx: ProcContext, i: Int): Long =
    ctx.args.lift(i) match {
      case Some(m: Map[_, _]) =>
        m.collectFirst { case (k, v: Long) if k.toString == "_id" => v }
          .getOrElse(throw new IllegalArgumentException(
            s"max_flow: node argument $i lacks an id"))
      case Some(l: Long) => l
      case Some(n: Int) => n.toLong
      case other => throw new IllegalArgumentException(
        s"max_flow: need a node, got $other")
    }

  /** Driver-local FF capacity scaling, mirroring the reference ops
    * (including floor-halving delta and the strict `> delta` test). */
  private def localMaxFlow(
      edges: Array[(Long, Long, Long, Double)],
      source: Long,
      sink: Long): Double =
    localMaxFlowPaths(edges, source, sink)._1

  /** As [[localMaxFlow]], also returning each augmenting path (node id
    * sequence, source → sink) with the flow it pushed — the
    * `max_flow.get_paths` yield (max_flow.py:41-66: every
    * ford_fulkerson_capacity_scaling augmentation becomes one record). */
  private def localMaxFlowPaths(
      edges: Array[(Long, Long, Long, Double)],
      source: Long,
      sink: Long): (Double, Seq[(Seq[Long], Double)]) = {
    // incident edge lists (out and in — reverse traversal drains flow)
    val incident = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Int]]
    edges.zipWithIndex.foreach { case ((_, s, d, _), i) =>
      incident.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += i
      incident.getOrElseUpdate(d, mutable.ArrayBuffer.empty) += i
    }
    // BFS from source over out-edges for the weight envelope (scaling
    // bounds, max_flow.py BFS_find_weight_min_max)
    var (maxW, minW) = (0.0, Double.PositiveInfinity)
    val seen = mutable.HashSet(source)
    var frontier = List(source)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap { v =>
        incident.getOrElse(v, Nil).iterator.collect {
          case i if edges(i)._2 == v =>
            maxW = math.max(maxW, edges(i)._4)
            minW = math.min(minW, edges(i)._4)
            edges(i)._3
        }.filter(seen.add).toList
      }
    }
    if (maxW <= 0) return (0.0, Nil)

    val flow = mutable.HashMap.empty[Long, Double] // per edge INSTANCE
    var total = 0.0
    var delta = math.pow(2, math.floor(math.log(maxW) / math.log(2)))

    // iterative DFS: stack of (node, iterator over incident indices);
    // `path` holds (edgeIdx, forward?) per step
    def augment(): (Double, Seq[Long]) = {
      val onPath = mutable.HashSet(source)
      val path = mutable.ArrayBuffer.empty[(Int, Boolean)]
      val iters = mutable.ArrayBuffer(
        (source, incident.getOrElse(source, mutable.ArrayBuffer.empty).iterator))
      var found = -1.0
      while (iters.nonEmpty && found < 0) {
        val (v, it) = iters.last
        var advanced = false
        while (!advanced && it.hasNext) {
          val i = it.next()
          val (eid, s, d, w) = edges(i)
          val (to, residual, fwd) =
            if (s == v) (d, w - flow.getOrElse(eid, 0.0), true)
            else (s, flow.getOrElse(eid, 0.0), false)
          if (!onPath.contains(to) && residual > delta) {
            path += ((i, fwd))
            if (to == sink) {
              found = (path.iterator.map { case (j, f) =>
                val (jid, _, _, jw) = edges(j)
                if (f) jw - flow.getOrElse(jid, 0.0)
                else flow.getOrElse(jid, 0.0)
              }).min
            } else {
              onPath += to
              iters += ((to, incident.getOrElse(to, mutable.ArrayBuffer.empty).iterator))
            }
            advanced = true
          }
        }
        if (!advanced && found < 0) {
          iters.remove(iters.length - 1)
          if (path.nonEmpty) path.remove(path.length - 1)
          // the reference's recursive DFS never un-marks (`to_v.id in
          // path` checks the committed prefix) — popped nodes stay
          // excluded for this augmentation attempt
        }
      }
      if (found < 0) (-1.0, Seq.empty[Long])
      else {
        path.foreach { case (i, fwd) =>
          val eid = edges(i)._1
          flow(eid) = flow.getOrElse(eid, 0.0) + (if (fwd) found else -found)
        }
        val nodes = source +: path.toSeq.map { case (i, fwd) =>
          if (fwd) edges(i)._3 else edges(i)._2
        }
        (found, nodes)
      }
    }

    val paths = mutable.ArrayBuffer.empty[(Seq[Long], Double)]
    var going = true
    while (going) {
      val (got, nodes) = augment()
      if (got >= 0) { total += got; paths += ((nodes, got)) }
      else if (delta < minW) going = false
      else delta = math.floor(delta / 2)
    }
    (total, paths.toSeq)
  }

  // ---------------- graph_util (cpp/graph_util_module) ----------------

  /** `graph_util.ancestors/descendants({node})` — full reachability over
    * in-/out-edges, the start node excluded unless it sits on a cycle
    * (graph_util_module/algorithms/ancestors.hpp seeds the frontier with
    * the direct neighbors, never marking the start). One equi-join per
    * level at scale; collected BFS when subcritical. Yields one row with
    * the sorted id list (`ancestors`/`descendants`). */
  private def reachability(ctx: ProcContext, forward: Boolean): DataFrame = {
    val start = optLong(ctx, "node").getOrElse(
      throw new IllegalArgumentException("need node"))
    val spark = ctx.spark
    import spark.implicits._
    val dirEdges = {
      val e = typedEdges(ctx).select(col(SrcCol).as("s"), col(DstCol).as("d"))
      if (forward) e else e.select(col("d").as("s"), col("s").as("d"))
    }

    val reached: Seq[Long] =
      Cutover.collect(dirEdges) match {
        case Some(rows) =>
          val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
          rows.foreach(r =>
            adj.getOrElseUpdate(r.getLong(0), mutable.ArrayBuffer.empty) +=
              r.getLong(1))
          val visited = mutable.HashSet.empty[Long]
          var frontier = adj.getOrElse(start, Nil).filter(visited.add).toList
          val acc = mutable.ArrayBuffer.empty[Long] ++= frontier
          while (frontier.nonEmpty) {
            frontier = frontier
              .flatMap(v => adj.getOrElse(v, Nil))
              .filter(visited.add)
            acc ++= frontier
          }
          acc.toSeq
        case None =>
          val steps = dirEdges.persist()
          // seed = direct neighbors (start deliberately NOT in visited;
          // the single-id seed is always broadcast-safe)
          var frontier = broadcast(Seq(start).toDF("n"))
            .join(steps, col("n") === col("s"))
            .select(col("d").as("n")).distinct().transform(Scratch.cp)
          var visited = frontier
          // count = emptiness probe + broadcast gate, one action per round
          var frontierN = frontier.count()
          while (frontierN > 0) {
            val next = Scratch
              .gatedBroadcast(frontier, frontierN)
              .join(steps, col("n") === col("s"))
              .select(col("d").as("n")).distinct()
              .join(visited, Seq("n"), "left_anti")
              .transform(Scratch.cp)
            frontierN = next.count()
            visited = Scratch.cp(visited.union(next))
            frontier = next
          }
          steps.unpersist()
          visited.as[Long].collect().toSeq
      }
    val out = reached.sorted
    Seq(Tuple1(out)).toDF(if (forward) "descendants" else "ancestors")
  }

  /** `graph_util.topological_sort()` — Kahn's peeling re-expressed as a
    * level fixpoint: round k removes the nodes whose remaining in-degree
    * is zero; ordering is (peel round, id), which is a valid topological
    * order and — unlike the reference's arbitrary stack order
    * (topological_sort.hpp) — deterministic. Cycles leave survivors →
    * error, like the reference. Yields one row (sorted_nodes). */
  def topologicalSort(ctx: ProcContext): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    val nodes = labeledNodes(ctx).select(col(IdCol).as("node"))
    val edges = typedEdges(ctx).select(col(SrcCol).as("s"), col(DstCol).as("d"))

    val local = for {
      es <- Cutover.collect(edges)
      ns <- Cutover.collect(nodes)
    } yield {
      val ids = ns.map(_.getLong(0))
      val indeg = mutable.HashMap.empty[Long, Int] ++= ids.map(_ -> 0)
      val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
      es.foreach { r =>
        val (s, d) = (r.getLong(0), r.getLong(1))
        adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d
        indeg(d) = indeg.getOrElse(d, 0) + 1
      }
      val acc = mutable.ArrayBuffer.empty[Long]
      var layer = ids.filter(indeg(_) == 0).sorted.toSeq
      while (layer.nonEmpty) {
        acc ++= layer
        val hits = mutable.HashMap.empty[Long, Int]
        layer.foreach(v => adj.getOrElse(v, Nil).foreach(d =>
          hits(d) = hits.getOrElse(d, 0) + 1))
        layer = hits.iterator.collect {
          case (d, k) if indeg(d) == k => d
        }.toSeq.sorted
        hits.foreach { case (d, k) => indeg(d) = indeg(d) - k }
      }
      require(acc.length == ids.length,
        "The graph is cyclic and therefore no topological ordering exists.")
      acc.toSeq
    }
    val ordered: Seq[Long] = local.getOrElse {
      val e = edges.persist()
      var remaining = Scratch.cp(nodes)
      val acc = mutable.ArrayBuffer.empty[Long]
      var total = 0L
      var done = false
      // `remaining` starts as ALL nodes — broadcast only when the
      // tracked count (decremented per peeled layer) is under the
      // frontier gate; otherwise the semi-join shuffles
      var remainingN = remaining.count()
      while (!done) {
        val live = e.join(
          Scratch.gatedBroadcast(
            remaining.select(col("node").as("s")), remainingN),
          Seq("s"), "leftsemi")
        val layer = remaining
          .join(live.select(col("d").as("node")).distinct(),
            Seq("node"), "left_anti")
          .as[Long].collect().sorted
        if (layer.isEmpty) done = true
        else {
          acc ++= layer
          total += layer.length
          remainingN -= layer.length
          remaining = remaining
            .join(layer.toSeq.toDF("node"), Seq("node"), "left_anti")
            .transform(Scratch.cp)
        }
      }
      e.unpersist()
      require(remaining.isEmpty,
        "The graph is cyclic and therefore no topological ordering exists.")
      acc.toSeq
    }
    Seq(Tuple1(ordered)).toDF("sorted_nodes")
  }

  /** `graph_util.connect_nodes({nodes})` — every edge whose BOTH
    * endpoints are in the given list (connect_nodes.hpp). Yields (src,
    * dst, type) rows, one per edge instance. Both id lists push into the
    * edge scans as `isin` filters, the point fetch `VarExpand` uses. */
  def connectNodes(ctx: ProcContext): DataFrame = {
    val ids = ctx.optLongs("nodes")
    require(ids.nonEmpty, "need nodes")
    val boxed = ids.map(Long.box)
    ctx.g.allEdges
      .filter(col(SrcCol).isin(boxed: _*) && col(DstCol).isin(boxed: _*))
      .select(col(SrcCol).as("src"), col(DstCol).as("dst"),
        col(TypeCol).as("rel_type"))
  }
}
