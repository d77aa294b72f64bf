package graft.procedures

import java.time.{Instant, LocalDateTime, ZoneId, ZonedDateTime}
import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder}
import java.time.temporal.ChronoField

import org.apache.spark.sql.DataFrame

/** The reference's legacy `query_modules/` samples re-expressed:
  * `graph_analyzer.{help, analyze, analyze_subgraph}`
  * (`query_modules/graph_analyzer.py`) and the `date` module's
  * procedures (`query_modules/date.py`; its expression functions
  * `date.add`/`date.convert_format` live in cypher/Functions.scala).
  *
  * graph_analyzer converts the whole graph into an in-process networkx
  * object in the reference — inherently single-node. Here the graph is
  * the [[NxLocal]] capture under the `spark.graft.local.edges` gate and
  * every analysis is one of its kernels (planarity/biconnectivity/SCC
  * are global embedding/partition properties); the DISTRIBUTED
  * counterparts of the individual analyses (algo.wcc, graph.analyze,
  * algo.bridges, …) remain the scale path. */
object LegacyModuleProcs {

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

  /** python str() rendering: True/False, 2.0 floats, (a, b) tuples. */
  private def pyStr(v: Any): String = v match {
    case b: Boolean => if (b) "True" else "False"
    case s: Seq[_] => s.map(pyStr).mkString("[", ", ", "]")
    case (a, b) => s"(${pyStr(a)}, ${pyStr(b)})"
    case other => String.valueOf(other)
  }

  /** (is_forest, is_tree): per weak component, edges counted with
    * multiplicity (self-loops included) == nodes - 1 — graph_analyzer's
    * multigraph count, unlike nxalg's simple-successor `treeStats`. */
  private def forestTree(g: NxLocal.G): (Boolean, Boolean) = {
    val comps = NxLocal.wcc(g)
    val compOf = comps.zipWithIndex
      .flatMap { case (c, i) => c.map(_ -> i) }.toMap
    val edgesPer = g.edges.groupMapReduce(e => compOf(e._2))(_ => 1)(_ + _)
    val forest = comps.indices.forall(i =>
      edgesPer.getOrElse(i, 0) == comps(i).size - 1)
    (forest, forest && comps.size == 1)
  }

  private val analysisOrder = Seq(
    "nodes", "edges", "bridges", "articulation_points", "avg_degree",
    "sorted_nodes_degree", "self_loops", "is_bipartite", "is_planar",
    "is_biconnected: ", "is_weakly_connected",
    "number_of_weakly_components", "is_strongly_connected",
    "strongly_components", "is_dag", "is_eulerian", "is_forest",
    "is_tree")

  private val MaxListSize = 10 // graph_analyzer.py _MAX_LIST_SIZE

  private def runAnalysis(g: NxLocal.G, key: String): (String, Any) = {
    // graph_analyzer maps multi-edges to ONE edge before nx.bridges
    // (graph_analyzer.py:249), so both tallies run on the simple graph
    // (multiplicity never changes articulation points)
    lazy val bcc = NxLocal.biconnected(g)
    lazy val articulation =
      bcc._1.flatten.groupBy(identity).count(_._2.size > 1)
    lazy val weak = NxLocal.wcc(g).size
    lazy val strong = NxLocal.tarjanScc(g).size
    key match {
      case "nodes" => ("Number of nodes", g.n)
      case "edges" => ("Number of edges", g.m)
      case "bridges" => ("Number of bridges", bcc._2.size)
      case "articulation_points" =>
        ("Number of articulation points", articulation)
      case "avg_degree" =>
        ("Average degree",
          if (g.n == 0) 0 else g.m.toDouble / g.n)
      case "sorted_nodes_degree" =>
        ("Sorted nodes degree",
          g.nodes.map(v => (v, g.degree(v)))
            .sortBy { case (v, d) => (-d, v) }
            .take(MaxListSize))
      case "self_loops" =>
        ("Self loops", g.edges.count(e => e._2 == e._3))
      case "is_bipartite" =>
        ("Is bipartite", g.n > 0 && NxLocal.bipartite(g))
      case "is_planar" => ("Is planar", g.n > 0 && NxLocal.planar(g))
      case "is_biconnected" | "is_biconnected: " =>
        // the reference's mapping key carries a trailing ": " typo
        // (graph_analyzer.py:117) — both spellings select it here
        ("Is biconnected", g.n >= 2 && weak == 1 && articulation == 0)
      case "is_weakly_connected" =>
        ("Is weakly connected", g.n > 0 && weak == 1)
      case "number_of_weakly_components" =>
        ("Number of weakly connected components", weak)
      case "is_strongly_connected" =>
        ("Is strongly connected", g.n > 0 && strong == 1)
      case "strongly_components" =>
        ("Number of strongly connected components", strong)
      case "is_dag" =>
        ("Is DAG", g.n > 0 && NxLocal.kahnOrder(g).length == g.n)
      case "is_eulerian" => ("Is eulerian", NxLocal.eulerParts(g)._1)
      case "is_forest" => ("Is forest", g.n > 0 && forestTree(g)._1)
      case "is_tree" => ("Is tree", g.n > 0 && forestTree(g)._2)
      case other =>
        throw new IllegalArgumentException(
          s"Graph analysis is not supported: $other")
    }
  }

  private def analyzeRows(
      ctx: ProcContext, g: NxLocal.G, analyses: Option[Seq[String]])
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
    analyzeRows(ctx, NxLocal.capture(ctx), analyses)
  }

  /** `graph_analyzer.analyze_subgraph(vertices, edges, analyses)` →
    * (name, value) rows over the induced argument subgraph
    * (graph_analyzer.py:65); edges get synthetic ids, and an edge with
    * an endpoint outside `vertices` is dropped. */
  def analyzeSubgraph(ctx: ProcContext): DataFrame = {
    val what = "graph_analyzer.analyze_subgraph"
    val nodes =
      ProcArgs.idList(ctx.args.headOption.getOrElse(Nil), what)
        .distinct.sorted
    val known = nodes.toSet
    val edges = ProcArgs.edgePairs(ctx.args.lift(1), what)
      .zipWithIndex.collect {
        case ((s, d), i) if known(s) && known(d) => (i.toLong, s, d)
      }
    val analyses = ctx.args.lift(2).flatMap(strListArg)
    analyzeRows(ctx, NxLocal.G(nodes, edges, Map.empty), analyses)
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
