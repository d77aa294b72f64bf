package graft.procedures

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.GraphState
import graft.operators.Cutover

/** The reference's cpp `algo` module (`src/mage/cpp/algo_module/
  * algo_module.cpp:20-47`): `algo.astar` (lat/lon-heuristic A* routing),
  * `algo.cover` (edges induced by a node set) and
  * `algo.all_simple_paths` (bounded simple-path enumeration with
  * direction-decorated relationship-type filters).
  *
  * `astar` and `all_simple_paths` are sequential best-first / DFS
  * searches over driver-resident adjacency — the reference runs them
  * in-process on its storage engine. Here they follow the
  * [[graft.operators.LocalHops]] discipline: the graph is captured with
  * one LIMIT-capped collect below `spark.graft.local.edges` (raise-above
  * semantics — the honest contract for inherently sequential
  * enumerations); `cover` is a pure distributed filter and has no gate.
  */
object AlgoModuleProcs {

  import GraphState.{DstCol, IdCol, LabelsCol, SrcCol, TypeCol}
  import ProcArgs.{mapOf, nodeIdOf}

  private def listOf(v: Any): Seq[Any] = v match {
    case xs: Seq[_] => xs
    case null => Nil
    case other => Seq(other)
  }

  // ---------------------------------------------------------------------
  // algo.cover

  /** `algo.cover(nodes)` → rel (algo.cpp:180-203): every relationship
    * whose BOTH endpoints are in the node list — the induced-subgraph
    * edge set. Distributed: one pruned filter per edge-type frame
    * (procedure arg lists are driver-bounded, so `isin` broadcasts the
    * id set into the scan predicate). */
  def cover(ctx: ProcContext): DataFrame = {
    val ids = listOf(ctx.args.headOption.getOrElse(Nil))
      .map(nodeIdOf(_, "algo.cover")).distinct
    val spark = ctx.spark
    if (ids.isEmpty || ctx.g.edgeTypes.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, String)]
        .toDF(IdCol, SrcCol, DstCol, TypeCol)
        .select(struct(col(IdCol), col(SrcCol), col(DstCol), col(TypeCol))
          .as("rel"))
    }
    val rows = ctx.g.edgeTypes
      .map(t => ctx.g.edges(t)
        .filter(col(SrcCol).isin(ids: _*) && col(DstCol).isin(ids: _*)))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    rows.select(struct(rows.columns.map(col).toSeq: _*).as("rel"))
  }

  // ---------------------------------------------------------------------
  // algo.all_simple_paths

  /** Per-type direction table parsed from the decorated relationship-type
    * list (algo.cpp:31-89: `type`, `<type`, `type>`, `<type>`, bare
    * `<` / `>`). */
  private final case class RelDirs(
      anyIncoming: Boolean,
      anyOutgoing: Boolean,
      allIncoming: Boolean,
      allOutgoing: Boolean,
      byType: Map[String, Int]) // 0 any, 1 incoming, 2 outgoing, 3 both

  private def parseRelDirs(types: Seq[String]): RelDirs = {
    if (types.isEmpty)
      return RelDirs(
        anyIncoming = true, anyOutgoing = true,
        allIncoming = false, allOutgoing = false, Map.empty)
    var anyIn = false; var anyOut = false
    var inRel = false; var outRel = false
    var byType = Map.empty[String, Int]
    types.foreach { t =>
      val starts = t.startsWith("<")
      val ends = t.endsWith(">")
      if (t.length == 1) {
        if (starts) { anyIn = true; inRel = true }
        else if (ends) { anyOut = true; outRel = true }
        else { byType += (t -> 0); inRel = true; outRel = true }
      } else if (starts && ends) {
        byType += (t.substring(1, t.length - 1) -> 3)
        inRel = true; outRel = true
      } else if (starts) {
        byType += (t.substring(1) -> 1); inRel = true
      } else if (ends) {
        byType += (t.substring(0, t.length - 1) -> 2); outRel = true
      } else {
        byType += (t -> 0); inRel = true; outRel = true
      }
    }
    RelDirs(anyIn, anyOut, allIncoming = !outRel && inRel,
      allOutgoing = !inRel && outRel, byType)
  }

  /** `algo.all_simple_paths(start_node, end_node, relationship_types,
    * max_length)` → path (algo.cpp:98-176's recursive DFS). The yield is
    * the path's node-id list — the same path shape
    * `igraphalg.get_all_simple_paths` (IgraphProcs.scala:220) settled on.
    * Parallel edges each contribute their own path, like the reference's
    * per-relationship expansion. */
  def allSimplePaths(ctx: ProcContext): DataFrame = {
    val start = nodeIdOf(
      ctx.args.headOption.getOrElse(throw new IllegalArgumentException(
        "algo.all_simple_paths: need start_node")),
      "algo.all_simple_paths")
    val end = nodeIdOf(
      ctx.args.lift(1).getOrElse(throw new IllegalArgumentException(
        "algo.all_simple_paths: need end_node")),
      "algo.all_simple_paths")
    val relTypes = listOf(ctx.args.lift(2).getOrElse(Nil)).map(_.toString)
    val maxLength = ctx.args.lift(3) match {
      case Some(n: java.lang.Number) => n.longValue()
      case _ => Long.MaxValue
    }
    val dirs = parseRelDirs(relTypes)
    // only the mentioned types are scanned when no bare `<`/`>`/empty
    // wildcard is present — a type filter pushed to the frame selection
    val scanTypes =
      if (relTypes.isEmpty || dirs.anyIncoming || dirs.anyOutgoing) Nil
      else dirs.byType.keys.toSeq
    val edges = Cutover.collect(
      ctx.g.edgesOfTypes(scanTypes)
        .select(col(SrcCol), col(DstCol), col(TypeCol)))
      .getOrElse(throw new IllegalStateException(
        "algo.all_simple_paths: graph above spark.graft.local.edges — " +
          "simple-path enumeration is an inherently sequential DFS " +
          "(reference algo.cpp:98); raise the threshold to run it"))
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val outAdj: Map[Long, Seq[(Long, String)]] =
      edges.groupBy(_._1).map { case (s, es) =>
        s -> es.map(e => (e._2, e._3)).toSeq.sortBy(e => (e._1, e._2))
      }
    val inAdj: Map[Long, Seq[(Long, String)]] =
      edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => (e._1, e._3)).toSeq.sortBy(e => (e._1, e._2))
      }
    val out = mutable.ArrayBuffer.empty[Seq[Long]]
    val visited = mutable.HashSet.empty[Long]
    val path = mutable.ArrayBuffer(start)

    def dfs(curr: Long): Unit = {
      if (curr == end) { out += path.toSeq; return }
      if (path.length - 1L == maxLength) return
      visited += curr
      // `<type>` contract (algo.cpp:128-136): an outgoing rel of a
      // both-decorated type expands only when a reciprocal incoming rel
      // from the same neighbor was seen at this node
      val seen = mutable.HashSet.empty[Long]
      def iterate(
          rels: Seq[(Long, String)], direction: Int,
          alwaysExpand: Boolean): Unit =
        rels.foreach { case (next, tpe) =>
          if (!visited.contains(next)) {
            val wanted = dirs.byType.getOrElse(tpe, -1)
            if (alwaysExpand || wanted == 0 || wanted == direction) {
              path += next
              dfs(next)
              path.remove(path.length - 1)
            } else if (wanted == 3) {
              if (direction == 2 && seen.contains(next)) {
                path += next
                dfs(next)
                path.remove(path.length - 1)
              } else if (direction == 1) seen += next
            }
          }
        }
      if (!dirs.allOutgoing)
        iterate(inAdj.getOrElse(curr, Nil), 1, dirs.anyIncoming)
      if (!dirs.allIncoming)
        iterate(outAdj.getOrElse(curr, Nil), 2, dirs.anyOutgoing)
      visited -= curr
    }
    dfs(start)
    val spark = ctx.spark
    import spark.implicits._
    out.toSeq.toDF("path")
  }

  // ---------------------------------------------------------------------
  // algo.astar

  private final case class AStarConfig(
      unweighted: Boolean,
      epsilon: Double,
      distanceProp: String,
      heuristicName: String,
      latitudeName: String,
      longitudeName: String,
      whitelist: Set[String],
      blacklist: Set[String],
      inRels: Set[String],
      outRels: Set[String])

  private def parseAStarConfig(m: Map[String, Any]): AStarConfig = {
    var inRels = Set.empty[String]
    var outRels = Set.empty[String]
    listOf(m.getOrElse("relationships_filter", Nil)).map(_.toString)
      .foreach { t =>
        // algo.hpp:227-246: `<type` incoming-only, `type>` outgoing-only,
        // undecorated both; `<type>` is rejected (algo.cpp:259-262)
        if (t.length > 1 && t.startsWith("<") && t.endsWith(">"))
          throw new IllegalArgumentException(
            "Wrong relationship format => <relationship> is not allowed!")
        if (t.startsWith("<") && t.length > 1) inRels += t.substring(1)
        else if (t.endsWith(">") && t.length > 1)
          outRels += t.substring(0, t.length - 1)
        else { inRels += t; outRels += t }
      }
    AStarConfig(
      unweighted = m.get("unweighted").exists(_.toString.toBoolean),
      epsilon = m.get("epsilon").map(_.toString.toDouble).getOrElse(1.0),
      distanceProp =
        m.get("distance_prop").map(_.toString).getOrElse("distance"),
      heuristicName = m.get("heuristic_name").map(_.toString).getOrElse(""),
      latitudeName = m.get("latitude_name").map(_.toString).getOrElse("lat"),
      longitudeName =
        m.get("longitude_name").map(_.toString).getOrElse("lon"),
      whitelist = listOf(m.getOrElse("whitelisted_labels", Nil))
        .map(_.toString).toSet,
      blacklist = listOf(m.getOrElse("blacklisted_labels", Nil))
        .map(_.toString).toSet,
      inRels = inRels,
      outRels = outRels)
  }

  /** Great-circle distance in km (algo.cpp:275-291). */
  private def haversineKm(
      lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val r = 6371.0
    val la1 = math.toRadians(lat1); val la2 = math.toRadians(lat2)
    val dLat = la2 - la1
    val dLon = math.toRadians(lon2) - math.toRadians(lon1)
    val a = math.sin(dLat / 2) * math.sin(dLat / 2) +
      math.cos(la1) * math.cos(la2) *
        math.sin(dLon / 2) * math.sin(dLon / 2)
    r * 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a))
  }

  /** `algo.astar(start, target, config)` → (path, weight) — best-first
    * search with a haversine lat/lon heuristic (or a per-node custom
    * heuristic property), label whitelists/blacklists and directed
    * relationship filters (algo.cpp:363-441). Edge distance is the
    * `distance_prop` property, or the constant 10 when `unweighted`
    * (algo.cpp:322-338 — the reference's constant, kept for parity).
    * `epsilon` scales the heuristic (0 = uniform-cost search).
    *
    * Divergence from the reference, by intent: `GetLatLon`
    * (algo.cpp:306-317) reads the LATITUDE property for both coordinates
    * — an upstream typo that silently degrades the heuristic to
    * |Δlat|-only; we read `longitude_name` for the longitude, so the
    * heuristic is the actual great-circle distance. Result optimality is
    * unaffected for admissible inputs; expansion order is just better. */
  def astar(ctx: ProcContext): DataFrame = {
    val what = "algo.astar"
    val start = nodeIdOf(
      ctx.args.headOption.getOrElse(
        throw new IllegalArgumentException(s"$what: need start node")), what)
    val target = nodeIdOf(
      ctx.args.lift(1).getOrElse(
        throw new IllegalArgumentException(s"$what: need target node")), what)
    val cfg = parseAStarConfig(mapOf(ctx.args.lift(2).orNull))
    val spark = ctx.spark
    import spark.implicits._

    // node side: id, labels, and the heuristic inputs actually configured
    val n0 = ctx.g.allNodes
    def optCol(name: String) =
      if (n0.columns.contains(name)) col(name).cast("double")
      else lit(null).cast("double")
    val nodeRows = Cutover.collect(n0.select(
      col(IdCol), col(LabelsCol),
      (if (cfg.heuristicName.nonEmpty) optCol(cfg.heuristicName)
       else lit(null).cast("double")).as("__h"),
      optCol(cfg.latitudeName).as("__lat"),
      optCol(cfg.longitudeName).as("__lon")))
      .getOrElse(throw new IllegalStateException(
        s"$what: graph above spark.graft.local.edges — A* is an " +
          "inherently sequential best-first search (reference " +
          "algo.cpp:443); raise the threshold to run it"))
    final case class NInfo(
        labels: Seq[String], h: Option[Double],
        lat: Option[Double], lon: Option[Double])
    val nodeInfo = nodeRows.map { r =>
      r.getLong(0) -> NInfo(
        Option(r.getSeq[String](1)).getOrElse(Nil),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))
    }.toMap

    // edge side: src/dst/type/distance per type frame (the distance
    // property may exist on some frames only)
    val edgeRows = ctx.g.edgeTypes.flatMap { t =>
      val e = ctx.g.edges(t)
      val d =
        if (cfg.unweighted) lit(10.0)
        else if (e.columns.contains(cfg.distanceProp))
          col(cfg.distanceProp).cast("double")
        else lit(null).cast("double")
      Cutover.collect(
        e.select(col(SrcCol), col(DstCol), col(TypeCol), d.as("__d")))
        .getOrElse(throw new IllegalStateException(
          s"$what: graph above spark.graft.local.edges — raise the " +
            "threshold to run the sequential search"))
    }.map(r => (r.getLong(0), r.getLong(1), r.getString(2),
      if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    val outAdj = edgeRows.groupBy(_._1)
    val inAdj = edgeRows.groupBy(_._2)

    if (outAdj.getOrElse(start, Nil).isEmpty &&
      inAdj.getOrElse(start, Nil).isEmpty)
      throw new IllegalArgumentException(
        "Start node must have in or out relationships!")

    val targetInfo = nodeInfo.getOrElse(target,
      throw new IllegalArgumentException(s"$what: unknown target $target"))
    lazy val targetLatLon = (targetInfo.lat, targetInfo.lon) match {
      case (Some(la), Some(lo)) => (la, lo)
      case _ => throw new IllegalArgumentException(
        "Latitude and longitude properties, or a custom heuristic " +
          "value, must be specified in every node!")
    }
    def heuristic(id: Long): Double = {
      val ni = nodeInfo.getOrElse(id, throw new IllegalArgumentException(
        s"$what: unknown node $id"))
      if (cfg.heuristicName.nonEmpty)
        ni.h.getOrElse(throw new IllegalArgumentException(
          "Custom heuristic property must be of a numeric, or duration " +
            "data type!"))
      else (ni.lat, ni.lon) match {
        case (Some(la), Some(lo)) =>
          haversineKm(la, lo, targetLatLon._1, targetLatLon._2)
        case _ => throw new IllegalArgumentException(
          "Latitude and longitude properties, or a custom heuristic " +
            "value, must be specified in every node!")
      }
    }
    def labelOk(id: Long): Boolean = {
      val ls = nodeInfo.get(id).map(_.labels).getOrElse(Nil)
      ls.forall(l => !cfg.blacklist.contains(l) &&
        (cfg.whitelist.isEmpty || cfg.whitelist.contains(l)))
    }
    def relOk(tpe: String, incoming: Boolean): Boolean =
      (cfg.inRels.isEmpty && cfg.outRels.isEmpty) ||
        (if (incoming) cfg.inRels.contains(tpe)
         else cfg.outRels.contains(tpe))
    def dist(d: Option[Double]): Double =
      d.getOrElse(throw new IllegalArgumentException(
        "If the graph is weighted, distance property of the relationship " +
          "must be specified!"))

    // A* proper (algo.cpp:411-441): open PQ keyed on g + ε·h, closed set
    // re-opened on a strictly better g (FindAndCompare)
    final case class Entry(id: Long, g: Double, f: Double)
    implicit val ord: Ordering[Entry] = Ordering.by[Entry, Double](_.f)
    val open = mutable.PriorityQueue.empty[Entry](ord.reverse)
    val openBest = mutable.HashMap.empty[Long, Double]
    val closedBest = mutable.HashMap.empty[Long, Double]
    val parent = mutable.HashMap.empty[Long, Long]
    open.enqueue(Entry(start, 0.0, 0.0))
    openBest(start) = 0.0

    var result: Option[(Seq[Long], Double)] = None
    while (result.isEmpty && openBest.nonEmpty) {
      val top = open.dequeue()
      if (openBest.get(top.id).contains(top.g)) {
        openBest.remove(top.id)
        if (top.id == target) {
          val path = mutable.ArrayBuffer(target)
          while (path.head != start) path.prepend(parent(path.head))
          result = Some((path.toSeq, top.g))
        } else {
          closedBest(top.id) = top.g
          def expand(next: Long, tpe: String, incoming: Boolean,
              d: Option[Double]): Unit =
            if (relOk(tpe, incoming) && labelOk(next)) {
              val g2 = top.g + dist(d)
              val better = closedBest.get(next).forall(_ > g2)
              if (better) {
                closedBest.remove(next)
                if (openBest.get(next).forall(_ > g2)) {
                  openBest(next) = g2
                  parent(next) = top.id
                  open.enqueue(
                    Entry(next, g2, g2 + heuristic(next) * cfg.epsilon))
                }
              }
            }
          outAdj.getOrElse(top.id, Nil).foreach { case (_, nx, t, d) =>
            expand(nx, t, incoming = false, d)
          }
          inAdj.getOrElse(top.id, Nil).foreach { case (nx, _, t, d) =>
            expand(nx, t, incoming = true, d)
          }
        }
      }
    }
    val (p, w) = result.getOrElse((Seq(start), 0.0))
    Seq((p, w)).toDF("path", "weight")
  }

  val registry: Map[String, ProcContext => DataFrame] = Map(
    "algo.astar" -> astar,
    "algo.cover" -> cover,
    "algo.all_simple_paths" -> allSimplePaths)
}
