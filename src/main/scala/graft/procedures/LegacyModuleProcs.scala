package graft.procedures

import java.time.{Instant, LocalDateTime, ZoneId, ZonedDateTime}
import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder}
import java.time.temporal.ChronoField

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.GraphState
import graft.operators.{Cutover, Planarity}

/** The reference's legacy `query_modules/` samples re-expressed:
  * `graph_analyzer.{help, analyze, analyze_subgraph}`
  * (`query_modules/graph_analyzer.py`) and the `date` module's
  * procedures (`query_modules/date.py`; its expression functions
  * `date.add`/`date.convert_format` live in cypher/Functions.scala).
  *
  * graph_analyzer converts the whole graph into an in-process networkx
  * object in the reference — inherently single-node. Here the graph is
  * captured once under the `spark.graft.local.edges` gate and every
  * analysis runs driver-side (planarity/biconnectivity/SCC are global
  * embedding/partition properties); the DISTRIBUTED counterparts of the
  * individual analyses (algo.wcc, graph.analyze, algo.bridges, …)
  * remain the scale path. */
object LegacyModuleProcs {

  import GraphState.{DstCol, IdCol, SrcCol}

  // ---------------------------------------------------------------------
  // date module

  /** strftime → java.time pattern, the date.py dialect: the shared
    * converter plus the %z/%Z zone directives date.py formats carry. */
  private def strftimeZ(fmt: String): String = {
    // route %z/%Z through non-letter sentinels: the shared converter
    // rejects them, and the substituted pattern letters must land
    // OUTSIDE the quoted literal runs it produces
    val s1 = fmt.replace("%z", "\u0001").replace("%Z", "\u0002")
    PyTailProcs.strftimeToJava(s1)
      .replace("\u0001", "xx").replace("\u0002", "zzz")
  }

  private def zoneOf(tz: String): ZoneId =
    try ZoneId.of(tz)
    catch {
      case _: Exception => throw new IllegalArgumentException(
        "Timezone doesn't exist. Check documentation to see available " +
          "timezones.")
    }

  private def badUnit() = throw new IllegalArgumentException(
    "Unit doesn't exist. Check documentation to see available units.")

  /** `date.parse(time, unit, format, timezone)` → parsed (date.py:43):
    * the wall-clock text interpreted in `timezone`, as an epoch count in
    * `unit` (sub-second precision floors away, like the python). */
  def dateParse(ctx: ProcContext): DataFrame = {
    val time = ctx.args.headOption.map(_.toString).getOrElse(
      throw new IllegalArgumentException("date.parse: need time"))
    val unit = ctx.args.lift(1).map(_.toString).getOrElse("ms")
    val fmt = ctx.args.lift(2).map(_.toString)
      .getOrElse("%Y-%m-%d %H:%M:%S")
    val tz = ctx.args.lift(3).map(_.toString).getOrElse("UTC")
    val zone = zoneOf(tz)
    val f = new DateTimeFormatterBuilder()
      .appendPattern(strftimeZ(fmt))
      .parseDefaulting(ChronoField.YEAR_OF_ERA, 1900)
      .parseDefaulting(ChronoField.MONTH_OF_YEAR, 1)
      .parseDefaulting(ChronoField.DAY_OF_MONTH, 1)
      .parseDefaulting(ChronoField.HOUR_OF_DAY, 0)
      .parseDefaulting(ChronoField.MINUTE_OF_HOUR, 0)
      .parseDefaulting(ChronoField.SECOND_OF_MINUTE, 0)
      .toFormatter()
    val sec = LocalDateTime.parse(time, f).atZone(zone)
      .toInstant.getEpochSecond
    val parsed = unit match {
      case "ms" => sec * 1000L
      case "s" => sec
      case "m" => Math.floorDiv(sec, 60L)
      case "h" => Math.floorDiv(sec, 3600L)
      case "d" => Math.floorDiv(sec, 86400L)
      case _ => badUnit()
    }
    val spark = ctx.spark
    import spark.implicits._
    Seq(parsed).toDF("parsed")
  }

  /** `date.format(time, unit, format, timezone)` → formatted
    * (date.py:92): the epoch count rendered as wall time in `timezone`. */
  def dateFormat(ctx: ProcContext): DataFrame = {
    val time = ctx.args.headOption match {
      case Some(n: java.lang.Number) => n.longValue()
      case other => throw new IllegalArgumentException(
        s"date.format: need an integer time, got $other")
    }
    val unit = ctx.args.lift(1).map(_.toString).getOrElse("ms")
    val fmt = ctx.args.lift(2).map(_.toString)
      .getOrElse("%Y-%m-%d %H:%M:%S %Z")
    val tz = ctx.args.lift(3).map(_.toString).getOrElse("UTC")
    val zone = zoneOf(tz)
    val instant = unit match {
      case "ms" => Instant.ofEpochMilli(time)
      case "s" => Instant.ofEpochSecond(time)
      case "m" => Instant.ofEpochSecond(time * 60L)
      case "h" => Instant.ofEpochSecond(time * 3600L)
      case "d" => Instant.ofEpochSecond(time * 86400L)
      case _ => badUnit()
    }
    val out = ZonedDateTime.ofInstant(instant, zone)
      .format(DateTimeFormatter.ofPattern(strftimeZ(fmt)))
    val spark = ctx.spark
    import spark.implicits._
    Seq(out).toDF("formatted")
  }

  /** `date.get_date_formats()` → formats (date.py:271). */
  def dateGetFormats(ctx: ProcContext): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    Seq(graft.cypher.DateConvert.formatNames).toDF("formats")
  }

  // ---------------------------------------------------------------------
  // graph_analyzer module

  /** Directed multigraph captured driver-side under the local gate. */
  private final case class LocalG(nodes: Seq[Long], edges: Seq[(Long, Long)]) {
    val n: Int = nodes.length
    val m: Int = edges.length
    lazy val idx: Map[Long, Int] = nodes.zipWithIndex.toMap
    /** simple undirected adjacency (loops dropped, multi-edges merged) */
    lazy val und: Array[Array[Int]] = {
      val sets = Array.fill(n)(mutable.LinkedHashSet.empty[Int])
      edges.foreach { case (u, v) =>
        if (u != v) { sets(idx(u)) += idx(v); sets(idx(v)) += idx(u) }
      }
      sets.map(_.toArray)
    }
    lazy val simpleUndEdges: Seq[(Int, Int)] =
      edges.iterator.filter { case (u, v) => u != v }
        .map { case (u, v) =>
          val (a, b) = (idx(u), idx(v)); if (a < b) (a, b) else (b, a)
        }.toSet.toSeq
  }

  private def captureGraph(
      ctx: ProcContext,
      nodeIds: Option[Seq[Long]],
      edgePairs: Option[Seq[(Long, Long)]]): LocalG = {
    val nodes = nodeIds.getOrElse {
      Cutover.collect(ctx.g.allNodes.select(col(IdCol)))
        .getOrElse(throw new IllegalStateException(
          "graph_analyzer: graph above spark.graft.local.edges — the " +
            "reference module materializes the whole graph in networkx; " +
            "raise the threshold, or use the distributed analyses " +
            "(algo.wcc, graph.analyze, algo.bridges, …)"))
        .map(_.getLong(0)).toSeq
    }
    val edges = edgePairs.getOrElse {
      Cutover.collect(
        ctx.g.allEdges.select(col(SrcCol), col(DstCol)))
        .getOrElse(throw new IllegalStateException(
          "graph_analyzer: graph above spark.graft.local.edges"))
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val known = nodes.toSet
    LocalG(nodes, edges.filter(e => known(e._1) && known(e._2)))
  }

  /** python str() rendering: True/False, 2.0 floats, (a, b) tuples. */
  private def pyStr(v: Any): String = v match {
    case b: Boolean => if (b) "True" else "False"
    case s: Seq[_] => s.map(pyStr).mkString("[", ", ", "]")
    case (a, b) => s"(${pyStr(a)}, ${pyStr(b)})"
    case other => String.valueOf(other)
  }

  // DFS bridge/articulation discovery (iterative lowlink)
  private def bridgesAndArticulation(g: LocalG): (Int, Int) = {
    val n = g.n
    val disc = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val parent = Array.fill(n)(-1)
    val isArt = new Array[Boolean](n)
    var bridges = 0
    var timer = 0
    // graph_analyzer maps multi-edges to ONE edge before nx.bridges
    // (graph_analyzer.py:249), so both tallies run on the simple graph
    // (multiplicity never changes articulation points)
    val adjS = {
      val a = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
      g.simpleUndEdges.foreach { case (u, v) => a(u) += v; a(v) += u }
      a.map(_.toArray)
    }
    (0 until n).foreach { root =>
      if (disc(root) == -1) {
        var rootChildren = 0
        val stack = mutable.Stack[(Int, Int)]((root, 0))
        disc(root) = timer; low(root) = timer; timer += 1
        while (stack.nonEmpty) {
          val (v, i) = stack.pop()
          if (i < adjS(v).length) {
            stack.push((v, i + 1))
            val w = adjS(v)(i)
            if (disc(w) == -1) {
              parent(w) = v
              if (v == root) rootChildren += 1
              disc(w) = timer; low(w) = timer; timer += 1
              stack.push((w, 0))
            } else if (w != parent(v))
              low(v) = math.min(low(v), disc(w))
          } else if (parent(v) != -1) {
            val p = parent(v)
            low(p) = math.min(low(p), low(v))
            if (low(v) > disc(p)) bridges += 1
            if (p != root && low(v) >= disc(p)) isArt(p) = true
          }
        }
        if (rootChildren > 1) isArt(root) = true
      }
    }
    (bridges, isArt.count(identity))
  }

  private def undComponents(g: LocalG): Int = {
    val seen = new Array[Boolean](g.n)
    var comps = 0
    (0 until g.n).foreach { s =>
      if (!seen(s)) {
        comps += 1
        val q = mutable.Queue(s); seen(s) = true
        while (q.nonEmpty) {
          val v = q.dequeue()
          g.und(v).foreach(w => if (!seen(w)) { seen(w) = true; q += w })
        }
      }
    }
    comps
  }

  private def bipartite(g: LocalG): Boolean = {
    if (g.edges.exists(e => e._1 == e._2)) return false
    val color = Array.fill(g.n)(-1)
    (0 until g.n).forall { s =>
      color(s) != -1 || {
        color(s) = 0
        val q = mutable.Queue(s)
        var ok = true
        while (q.nonEmpty && ok) {
          val v = q.dequeue()
          g.und(v).foreach { w =>
            if (color(w) == -1) { color(w) = 1 - color(v); q += w }
            else if (color(w) == color(v)) ok = false
          }
        }
        ok
      }
    }
  }

  private def sccCount(g: LocalG): Int = {
    // iterative Tarjan
    val n = g.n
    val adj = {
      val a = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
      g.edges.foreach { case (u, v) => a(g.idx(u)) += g.idx(v) }
      a.map(_.toArray)
    }
    val index = Array.fill(n)(-1)
    val lowlink = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val st = mutable.ArrayBuffer.empty[Int]
    var counter = 0
    var comps = 0
    (0 until n).foreach { root =>
      if (index(root) == -1) {
        val work = mutable.Stack[(Int, Int)]((root, 0))
        index(root) = counter; lowlink(root) = counter; counter += 1
        st += root; onStack(root) = true
        while (work.nonEmpty) {
          val (v, i) = work.pop()
          if (i < adj(v).length) {
            work.push((v, i + 1))
            val w = adj(v)(i)
            if (index(w) == -1) {
              index(w) = counter; lowlink(w) = counter; counter += 1
              st += w; onStack(w) = true
              work.push((w, 0))
            } else if (onStack(w))
              lowlink(v) = math.min(lowlink(v), index(w))
          } else {
            if (work.nonEmpty) {
              val p = work.top._1
              lowlink(p) = math.min(lowlink(p), lowlink(v))
            }
            if (lowlink(v) == index(v)) {
              comps += 1
              var done = false
              while (!done) {
                val w = st.remove(st.length - 1)
                onStack(w) = false
                if (w == v) done = true
              }
            }
          }
        }
      }
    }
    comps
  }

  private def isDag(g: LocalG): Boolean = {
    val n = g.n
    val indeg = new Array[Int](n)
    val adj = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
    g.edges.foreach { case (u, v) =>
      adj(g.idx(u)) += g.idx(v); indeg(g.idx(v)) += 1
    }
    val q = mutable.Queue((0 until n).filter(indeg(_) == 0): _*)
    var seen = 0
    while (q.nonEmpty) {
      val v = q.dequeue(); seen += 1
      adj(v).foreach { w => indeg(w) -= 1; if (indeg(w) == 0) q += w }
    }
    seen == n
  }

  private def eulerian(g: LocalG): Boolean = {
    val in = mutable.Map.empty[Long, Int].withDefaultValue(0)
    val out = mutable.Map.empty[Long, Int].withDefaultValue(0)
    g.edges.foreach { case (u, v) => out(u) += 1; in(v) += 1 }
    g.nodes.forall(v => in(v) == out(v)) && sccCount(g) == 1
  }

  private def forestTree(g: LocalG): (Boolean, Boolean) = {
    // per weak component: edge count (with multiplicity) == nodes - 1
    val seen = new Array[Boolean](g.n)
    val edgeCount = mutable.Map.empty[Int, Int].withDefaultValue(0)
    val compOf = new Array[Int](g.n)
    var comps = 0
    (0 until g.n).foreach { s =>
      if (!seen(s)) {
        val c = comps; comps += 1
        val q = mutable.Queue(s); seen(s) = true; compOf(s) = c
        while (q.nonEmpty) {
          val v = q.dequeue()
          g.und(v).foreach(w =>
            if (!seen(w)) { seen(w) = true; compOf(w) = c; q += w })
        }
      }
    }
    val compSize = Array.fill(comps)(0)
    (0 until g.n).foreach(v => compSize(compOf(v)) += 1)
    g.edges.foreach { case (u, _) => edgeCount(compOf(g.idx(u))) += 1 }
    val forest =
      (0 until comps).forall(c => edgeCount(c) == compSize(c) - 1)
    (forest, forest && comps == 1)
  }

  private val analysisOrder = Seq(
    "nodes", "edges", "bridges", "articulation_points", "avg_degree",
    "sorted_nodes_degree", "self_loops", "is_bipartite", "is_planar",
    "is_biconnected: ", "is_weakly_connected",
    "number_of_weakly_components", "is_strongly_connected",
    "strongly_components", "is_dag", "is_eulerian", "is_forest",
    "is_tree")

  private val MaxListSize = 10 // graph_analyzer.py _MAX_LIST_SIZE

  private def runAnalysis(g: LocalG, key: String): (String, Any) = {
    lazy val ba = bridgesAndArticulation(g)
    key match {
      case "nodes" => ("Number of nodes", g.n)
      case "edges" => ("Number of edges", g.m)
      case "bridges" => ("Number of bridges", ba._1)
      case "articulation_points" =>
        ("Number of articulation points", ba._2)
      case "avg_degree" =>
        ("Average degree",
          if (g.n == 0) 0 else g.m.toDouble / g.n)
      case "sorted_nodes_degree" =>
        val deg = mutable.Map.empty[Long, Int].withDefaultValue(0)
        g.edges.foreach { case (u, v) => deg(u) += 1; deg(v) += 1 }
        ("Sorted nodes degree",
          g.nodes.map(v => (v, deg(v)))
            .sortBy { case (v, d) => (-d, v) }
            .take(MaxListSize))
      case "self_loops" =>
        ("Self loops", g.edges.count(e => e._1 == e._2))
      case "is_bipartite" =>
        ("Is bipartite", g.n > 0 && bipartite(g))
      case "is_planar" =>
        ("Is planar",
          g.n > 0 && Planarity.isPlanar(
            g.n, g.simpleUndEdges))
      case "is_biconnected" | "is_biconnected: " =>
        // the reference's mapping key carries a trailing ": " typo
        // (graph_analyzer.py:117) — both spellings select it here
        ("Is biconnected",
          g.n >= 2 && undComponents(g) == 1 && ba._2 == 0)
      case "is_weakly_connected" =>
        ("Is weakly connected", g.n > 0 && undComponents(g) == 1)
      case "number_of_weakly_components" =>
        ("Number of weakly connected components", undComponents(g))
      case "is_strongly_connected" =>
        ("Is strongly connected", g.n > 0 && sccCount(g) == 1)
      case "strongly_components" =>
        ("Number of strongly connected components", sccCount(g))
      case "is_dag" => ("Is DAG", g.n > 0 && isDag(g))
      case "is_eulerian" => ("Is eulerian", g.n > 0 && eulerian(g))
      case "is_forest" => ("Is forest", g.n > 0 && forestTree(g)._1)
      case "is_tree" => ("Is tree", g.n > 0 && forestTree(g)._2)
      case other =>
        throw new IllegalArgumentException(
          s"Graph analysis is not supported: $other")
    }
  }

  private def analyzeRows(
      ctx: ProcContext, g: LocalG, analyses: Option[Seq[String]])
    : DataFrame = {
    val keys = analyses.getOrElse(analysisOrder).map(_.toLowerCase)
    val rows = keys.map { k =>
      val (name, v) = runAnalysis(g, k)
      (name, pyStr(v))
    }
    val spark = ctx.spark
    import spark.implicits._
    rows.toDF("name", "value")
  }

  private def strListArg(v: Any): Option[Seq[String]] = v match {
    case null => None
    case xs: Seq[_] => Some(xs.map(_.toString))
    case other => Some(Seq(other.toString))
  }

  /** `graph_analyzer.analyze(analyses)` → (name, value) rows
    * (graph_analyzer.py:44). */
  def analyze(ctx: ProcContext): DataFrame = {
    val analyses = ctx.args.headOption.flatMap(strListArg)
    analyzeRows(ctx, captureGraph(ctx, None, None), analyses)
  }

  /** `graph_analyzer.analyze_subgraph(vertices, edges, analyses)` →
    * (name, value) rows over the induced argument subgraph
    * (graph_analyzer.py:65). */
  def analyzeSubgraph(ctx: ProcContext): DataFrame = {
    def idOf(v: Any): Long = v match {
      case l: Long => l
      case i: Int => i.toLong
      case m: Map[_, _] =>
        m.collectFirst { case (k, id: Long) if k.toString == IdCol => id }
          .getOrElse(throw new IllegalArgumentException(
            "graph_analyzer.analyze_subgraph: node value lacks an id"))
      case other => throw new IllegalArgumentException(
        s"graph_analyzer.analyze_subgraph: need a node, got $other")
    }
    val vertices = ctx.args.headOption.toSeq.flatMap {
      case xs: Seq[_] => xs.map(idOf)
      case other => Seq(idOf(other))
    }
    val edges = ctx.args.lift(1).toSeq.flatMap {
      case xs: Seq[_] => xs.map {
        case m: Map[_, _] =>
          val mm = m.map { case (k, x) => k.toString -> x }
          (mm.get(SrcCol), mm.get(DstCol)) match {
            case (Some(s: Long), Some(d: Long)) => (s, d)
            case _ => throw new IllegalArgumentException(
              "graph_analyzer.analyze_subgraph: need relationship values")
          }
        case other => throw new IllegalArgumentException(
          s"graph_analyzer.analyze_subgraph: need a relationship, got " +
            s"$other")
      }
      case _ => Nil
    }
    val analyses = ctx.args.lift(2).flatMap(strListArg)
    analyzeRows(
      ctx, captureGraph(ctx, Some(vertices), Some(edges)), analyses)
  }

  /** `graph_analyzer.help()` → (name, value) manual rows
    * (graph_analyzer.py:27). */
  def help(ctx: ProcContext): DataFrame = {
    val rows =
      Seq(
        ("Procedure 'help'", "Shows manual page for graph_analyzer."),
        ("Procedure 'analyze'", "Shows graph information."),
        ("Procedure 'analyze_subgraph'",
          "Shows subgraph information for subgraph which is described " +
            "with input arguments vertices and edges.")) ++
        analysisOrder.map(k =>
          (s"Analysis '$k'", runAnalysisDoc(k)))
    val spark = ctx.spark
    import spark.implicits._
    rows.toDF("name", "value")
  }

  private def runAnalysisDoc(k: String): String = k.trim match {
    case "nodes" => "Returns number of nodes."
    case "edges" => "Returns number of edges."
    case "bridges" => "Returns number of bridges."
    case "articulation_points" => "Returns number of articulation points."
    case "avg_degree" => "Returns average degree."
    case "sorted_nodes_degree" =>
      "Returns list of sorted nodes degree. [(node_id, degree), ...]"
    case "self_loops" => "Returns number of self loops."
    case "is_bipartite" => "Checks if graph is bipartite."
    case "is_planar" => "Checks if graph is planar."
    case "is_biconnected:" | "is_biconnected: " =>
      "Check if graph is biconnected."
    case "is_weakly_connected" => "Check if graph is weakly connected."
    case "number_of_weakly_components" =>
      "Returns number of weakly components."
    case "is_strongly_connected" =>
      "Checks if graph is strongly connected."
    case "strongly_components" =>
      "Returns number of strongly connected components."
    case "is_dag" => "Check if graph is directed acyclic graph (DAG)"
    case "is_eulerian" => "Checks if graph is Eulerian."
    case "is_forest" =>
      "Checks if graph is forest, all components must be trees."
    case "is_tree" => "Checks if graph is tree."
    case _ => ""
  }

  val registry: Map[String, ProcContext => DataFrame] = Map(
    "date.parse" -> dateParse,
    "date.format" -> dateFormat,
    "date.get_date_formats" -> dateGetFormats,
    "graph_analyzer.help" -> help,
    "graph_analyzer.analyze" -> analyze,
    "graph_analyzer.analyze_subgraph" -> analyzeSubgraph)
}
