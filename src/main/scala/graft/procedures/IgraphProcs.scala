package graft.procedures

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.GraphState
import graft.core.GraphState.{DstCol, IdCol, SrcCol}
import graft.operators.{Cutover, ShortestPath}

/** `igraphalg` MAGE module (reference `src/mage/python/igraphalg.py`) —
  * the reference wraps single-node igraph; here each procedure is either
  * a distributed Spark plan (the length/tally shapes) or a
  * subcritical-gated driver algorithm (the inherently sequential
  * enumerations — same contract as max_flow/tsp: raise above
  * `spark.graft.local.edges` instead of pretending to scale).
  *
  * Argument protocol: vertices arrive as node IDS (this engine's tabular
  * CALL surface, same as tsp/set_cover), positionally like the python
  * signatures. `directed=false` symmetrizes the edge frame; a `weights`
  * property name selects the weight column (rows missing it drop, like
  * igraph's attribute handling).
  */
object IgraphProcs {

  /** Relaxation-round bound of the weighted path searches. */
  private val MaxRounds = 256

  private def longArg(ctx: ProcContext, i: Int, what: String): Long =
    ctx.args.lift(i) match {
      case Some(n: Long) => n
      case Some(n: Int) => n.toLong
      case Some(n: java.lang.Number) => n.longValue()
      case other =>
        throw new IllegalArgumentException(
          s"igraphalg: $what must be a node id, got $other")
    }

  private def strOpt(ctx: ProcContext, i: Int): Option[String] =
    ctx.args.lift(i) match {
      case Some(null) | None => None
      case Some(s) => Some(s.toString)
    }

  private def boolArg(ctx: ProcContext, i: Int, dflt: Boolean): Boolean =
    ctx.args.lift(i) match {
      case Some(b: Boolean) => b
      case Some(s: String) => s.toBoolean
      case _ => dflt
    }

  /** Engine extension shared with graph_util: a trailing `{label, type}`
    * map scopes the procedure to a subgraph (the reference modules always
    * run on the whole igraph projection — on a big corpus that is exactly
    * what you don't want; the option keeps the igraph surface usable next
    * to unrelated data). */
  private def scopeOpts(ctx: ProcContext, i: Int): Map[String, Any] =
    ctx.args.lift(i) match {
      case Some(m: Map[_, _]) => m.map { case (k, v) => k.toString -> v }
      case _ => Map.empty
    }

  private def scopedNodes(ctx: ProcContext, sc: Map[String, Any]): DataFrame =
    sc.get("label") match {
      case Some(l) => ctx.g.nodesOrEmpty(l.toString)
      case None => ctx.g.allNodes
    }

  private def scopedEdges(ctx: ProcContext, sc: Map[String, Any]): DataFrame =
    sc.get("type") match {
      case Some(t) => ctx.g.edgesOfTypes(Seq(t.toString))
      case None => ctx.g.allEdges
    }

  /** (src, dst, __sp_we) frame for the weighted fixpoints: `weights=None`
    * → unit weights (igraph hop semantics); directed=false → both
    * orientations. */
  private def weightedEdges(
      ctx: ProcContext,
      weights: Option[String],
      directed: Boolean,
      sc: Map[String, Any] = Map.empty): DataFrame = {
    val e0 = scopedEdges(ctx, sc)
    val w = weights match {
      case Some(p) if e0.columns.contains(p) =>
        e0.filter(col(p).isNotNull)
          .select(
            col(SrcCol), col(DstCol),
            col(p).cast("double").as(ShortestPath.EdgeWeightCol))
      case Some(_) =>
        e0.filter(lit(false)).select(
          col(SrcCol), col(DstCol),
          lit(0.0).as(ShortestPath.EdgeWeightCol))
      case None =>
        e0.select(
          col(SrcCol), col(DstCol),
          lit(1.0).as(ShortestPath.EdgeWeightCol))
    }
    if (directed) w
    else
      w.unionByName(w.select(
        col(DstCol).as(SrcCol), col(SrcCol).as(DstCol),
        col(ShortestPath.EdgeWeightCol)))
  }

  /** `igraphalg.shortest_path_length(source, target, weights, directed)`
    * → length (float; Infinity when unreachable — igraph's `inf`). One
    * single-seed distributed relaxation. */
  def shortestPathLength(ctx: ProcContext): DataFrame = {
    val source = longArg(ctx, 0, "source")
    val target = longArg(ctx, 1, "target")
    val weights = strOpt(ctx, 2)
    val directed = boolArg(ctx, 3, dflt = true)
    val sc = scopeOpts(ctx, 4)
    val spark = ctx.spark
    import spark.implicits._
    val seeds = Seq(source).toDF(ShortestPath.SeedCol)
    val dist = ShortestPath.weighted(
      seeds, weightedEdges(ctx, weights, directed, sc), MaxRounds)
    val hit = dist
      .filter(col(ShortestPath.NodeCol) === target)
      .select(col(ShortestPath.WeightCol))
      .collect()
    Seq(
      if (hit.isEmpty) Double.PositiveInfinity else hit.head.getDouble(0))
      .toDF("length")
  }

  /** `igraphalg.all_shortest_path_lengths(weights, directed)` → one row
    * per ORDERED node pair (src_node, dest_node, length), Infinity for
    * unreachable, 0 on the diagonal — the full igraph matrix, produced by
    * one multi-source relaxation (every node a seed) + a left join onto
    * the pair space. The output is inherently |V|² — that is the
    * procedure's contract, not a plan inefficiency. */
  def allShortestPathLengths(ctx: ProcContext): DataFrame = {
    val weights = strOpt(ctx, 0)
    val directed = boolArg(ctx, 1, dflt = false)
    val sc = scopeOpts(ctx, 2)
    val ids = scopedNodes(ctx, sc).select(col(IdCol))
    val seeds = ids.select(col(IdCol).as(ShortestPath.SeedCol))
    val dist = ShortestPath.weighted(
      seeds, weightedEdges(ctx, weights, directed, sc), MaxRounds)
    ids.select(col(IdCol).as("src_node"))
      .crossJoin(ids.select(col(IdCol).as("dest_node")))
      .join(
        dist.select(
          col(ShortestPath.SeedCol).as("src_node"),
          col(ShortestPath.NodeCol).as("dest_node"),
          col(ShortestPath.WeightCol).as("__len")),
        Seq("src_node", "dest_node"),
        "left_outer")
      .select(
        col("src_node"), col("dest_node"),
        coalesce(col("__len"), lit(Double.PositiveInfinity)).as("length"))
  }

  /** Subcritical (src, dst, w) triples or raise — the enumeration procs
    * (paths, cuts, trees) mirror the reference's single-node igraph. */
  private def localEdges(
      ctx: ProcContext,
      weights: Option[String],
      directed: Boolean,
      what: String,
      sc: Map[String, Any] = Map.empty): Array[(Long, Long, Double)] = {
    val rows = Cutover.collect(weightedEdges(ctx, weights, directed, sc))
      .getOrElse(throw new IllegalStateException(
        s"igraphalg.$what: graph above spark.graft.local.edges — the " +
          "reference module is single-node igraph; raise the threshold " +
          "to run it"))
    rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
  }

  /** `igraphalg.get_shortest_path(source, target, weights, directed)` →
    * path (list of node ids). Distances come from the distributed
    * relaxation; the single path walks predecessors backwards on the
    * driver (deterministic: smallest-id predecessor). */
  def getShortestPath(ctx: ProcContext): DataFrame = {
    val source = longArg(ctx, 0, "source")
    val target = longArg(ctx, 1, "target")
    val weights = strOpt(ctx, 2)
    val directed = boolArg(ctx, 3, dflt = true)
    val sc = scopeOpts(ctx, 4)
    val spark = ctx.spark
    import spark.implicits._
    val edges = localEdges(ctx, weights, directed, "get_shortest_path", sc)
    val seeds = Seq(source).toDF(ShortestPath.SeedCol)
    val dist = ShortestPath.weighted(
      seeds, weightedEdges(ctx, weights, directed, sc), MaxRounds)
      .select(col(ShortestPath.NodeCol), col(ShortestPath.WeightCol))
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    if (!dist.contains(target))
      return Seq(Seq.empty[Long]).toDF("path")
    val inBy = edges.groupBy(_._2)
    val eps = 1e-9
    val path = mutable.ArrayBuffer(target)
    var cur = target
    while (cur != source) {
      val pred = inBy.getOrElse(cur, Array.empty)
        .iterator
        .filter { case (s, _, w) =>
          dist.get(s).exists(ds => math.abs(ds + w - dist(cur)) < eps)
        }
        .map(_._1)
        .toSeq.sorted.headOption
        .getOrElse(throw new IllegalStateException(
          "get_shortest_path: predecessor walk diverged"))
      path += pred
      cur = pred
    }
    Seq(path.reverse.toSeq).toDF("path")
  }

  /** `igraphalg.get_all_simple_paths(v, to, cutoff)` → one row per simple
    * path (list of node ids), DFS enumeration with the igraph cutoff
    * semantics (cutoff = max path LENGTH in edges; -1 = unbounded). */
  def getAllSimplePaths(ctx: ProcContext): DataFrame = {
    val source = longArg(ctx, 0, "v")
    val target = longArg(ctx, 1, "to")
    val cutoff = ctx.args.lift(2) match {
      case Some(n: java.lang.Number) => n.intValue()
      case _ => -1
    }
    val sc = scopeOpts(ctx, 3)
    val spark = ctx.spark
    import spark.implicits._
    val edges =
      localEdges(ctx, None, directed = true, "get_all_simple_paths", sc)
    val succ = edges.groupBy(_._1).map { case (s, es) =>
      s -> es.map(_._2).distinct.sorted.toSeq
    }
    NxLocal.simplePaths(
      succ, source, target, if (cutoff < 0) Int.MaxValue else cutoff)
      .toDF("path")
  }

  /** `igraphalg.topological_sort(mode)` → nodes (one row, list of ids).
    * `out` delegates to the Kahn peel (graph_util.topological_sort);
    * `in` is its exact reverse (a topological order of the reversed DAG
    * is the reverse of one for the DAG). */
  def topologicalSort(ctx: ProcContext): DataFrame = {
    val mode = strOpt(ctx, 0).getOrElse("out")
    if (mode != "out" && mode != "in")
      throw new IllegalArgumentException(
        "Mode can only be either \"out\" or \"in\"")
    val base = ExtraProcs.topologicalSort(
      ProcContext(ctx.spark, ctx.g, Seq(scopeOpts(ctx, 1))))
    val spark = ctx.spark
    import spark.implicits._
    val order = base.collect().head.getSeq[Long](0)
    Seq(if (mode == "out") order else order.reverse).toDF("nodes")
  }

  /** `igraphalg.contains_cycle()` — true iff the Kahn peel leaves
    * survivors. Distributed tally (reuses the same in-degree peel
    * inputs, but only needs the SIZE comparison). */
  def containsCycle(ctx: ProcContext): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    val has =
      try {
        ExtraProcs.topologicalSort(
          ProcContext(ctx.spark, ctx.g, Seq(scopeOpts(ctx, 0))))
          .collect()
        false
      } catch {
        case e: IllegalArgumentException
            if String.valueOf(e.getMessage).contains("cyclic") => true
      }
    Seq(has).toDF("contains_cycle")
  }

  /** `igraphalg.maxflow(source, target, capacity)` → max_flow — the
    * existing capacity-scaling Ford–Fulkerson (max_flow.get_flow). */
  def maxflow(ctx: ProcContext): DataFrame = {
    val source = longArg(ctx, 0, "source")
    val target = longArg(ctx, 1, "target")
    val cap = strOpt(ctx, 2).getOrElse("weight")
    ExtraProcs.maxFlowGetFlow(ProcContext(
      ctx.spark, ctx.g,
      Seq(Map("source" -> source, "sink" -> target, "weightProp" -> cap) ++
        scopeOpts(ctx, 3))))
  }

  /** `igraphalg.mincut(source, target, capacity, directed)` → (node,
    * partition_id): after a driver max-flow ([[NxLocal.maxflow]]), the
    * source side is the set reachable over residual capacity (partition
    * 0), the rest partition 1 — the classic max-flow/min-cut
    * correspondence; it is the smallest minimum-cut source side. */
  def mincut(ctx: ProcContext): DataFrame = {
    val source = longArg(ctx, 0, "source")
    val target = longArg(ctx, 1, "target")
    val cap = strOpt(ctx, 2)
    val directed = boolArg(ctx, 3, dflt = true)
    val sc = scopeOpts(ctx, 4)
    val spark = ctx.spark
    import spark.implicits._
    // unit capacities when no property given (igraph default)
    val edges = localEdges(ctx, cap, directed, "mincut", sc)
    val (_, part0) = NxLocal.maxflow(edges.toSeq, source, target)
    val allIds = scopedNodes(ctx, sc).select(col(IdCol))
      .collect().map(_.getLong(0))
    allIds.toSeq
      .map(id => (id, if (part0.contains(id)) 0 else 1))
      .toDF("node", "partition_id")
  }

  /** `igraphalg.spanning_tree(weights, directed)` → tree (one row: list
    * of [u, v] id pairs). Kruskal over the subcritical edge list —
    * minimum when `weights` given, deterministic (weight, src, dst)
    * order otherwise; forests span per component. */
  def spanningTree(ctx: ProcContext): DataFrame = {
    val weights = strOpt(ctx, 0)
    val directed = boolArg(ctx, 1, dflt = false)
    val sc = scopeOpts(ctx, 2)
    val spark = ctx.spark
    import spark.implicits._
    val edges =
      localEdges(ctx, weights, directed = false, "spanning_tree", sc)
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      parent(x) = r
      r
    }
    val tree = mutable.ArrayBuffer.empty[Seq[Long]]
    edges
      .map { case (s, d, w) => if (s <= d) (s, d, w) else (d, s, w) }
      .distinct
      .sortBy { case (s, d, w) => (w, s, d) }
      .foreach { case (s, d, _) =>
        val (rs, rd) = (find(s), find(d))
        if (rs != rd) { parent(rs) = rd; tree += Seq(s, d) }
      }
    val _ = directed // igraph ignores direction for the tree shape
    Seq(tree.toSeq).toDF("tree")
  }

  val registry: Map[String, ProcContext => DataFrame] = Map(
    "igraphalg.maxflow" -> maxflow,
    "igraphalg.mincut" -> mincut,
    "igraphalg.shortest_path_length" -> shortestPathLength,
    "igraphalg.all_shortest_path_lengths" -> allShortestPathLengths,
    "igraphalg.get_shortest_path" -> getShortestPath,
    "igraphalg.get_all_simple_paths" -> getAllSimplePaths,
    "igraphalg.topological_sort" -> topologicalSort,
    "igraphalg.contains_cycle" -> containsCycle,
    "igraphalg.spanning_tree" -> spanningTree)
}
