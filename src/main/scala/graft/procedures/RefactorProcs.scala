package graft.procedures

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.GraphState
import graft.operators.{Mutations, Ranks, Scratch}

/** The refactor module's structural write procedures
  * (`/root/reference/src/mage/cpp/refactor_module/algorithm/refactor.cpp`):
  * endpoint redirects, node cloning, node merging, collapse/extract.
  *
  * These are point-write procedures over an ARGUMENT list (a handful of
  * entities), so the orchestration is a bounded driver loop — but every
  * graph touch is a DataFrame mutation through the normal Mutations path
  * (tombstoned adjacency, label frames), so the underlying corpus never
  * collects. Ids allocate from a fresh id-base namespace exactly like the
  * python-module ports (PyTail2Procs).
  */
object RefactorProcs {

  import GraphState.{DstCol, IdCol, LabelsCol, SrcCol, TypeCol}
  import ProcArgs.{mapOf, nodeIdOf}

  private val Meta = Set(IdCol, LabelsCol, SrcCol, DstCol, TypeCol)

  private final case class EdgeArg(id: Long, src: Long, dst: Long, tpe: String)

  private def edgeArgOf(v: Any, what: String): EdgeArg = v match {
    case m: Map[_, _] =>
      val mm = m.map { case (k, x) => k.toString -> x }
      (mm.get(IdCol), mm.get(SrcCol), mm.get(DstCol), mm.get(TypeCol)) match {
        case (Some(id: Long), Some(s: Long), Some(d: Long), Some(t)) =>
          EdgeArg(id, s, d, t.toString)
        case _ => throw new IllegalArgumentException(
          s"$what: need a relationship value, got $m")
      }
    case other => throw new IllegalArgumentException(
      s"$what: need a relationship, got $other")
  }

  private def listOf(v: Any): Seq[Any] = v match {
    case xs: Seq[_] => xs
    case other => Seq(other)
  }

  /** Edge-type + whole row of one edge id (the entity arg carries type,
    * so this is one pruned filter of that type's frame). */
  private def edgeRow(g: GraphState, e: EdgeArg): DataFrame =
    g.edges(e.tpe).filter(col(IdCol) === e.id)

  /** Relationship argument: an entity value (carries its type) or a bare
    * id (resolved with one per-type pruned probe). */
  private def resolveEdge(ctx: ProcContext, v: Any, what: String): EdgeArg =
    v match {
      case m: Map[_, _] => edgeArgOf(m, what)
      case idv @ (_: Long | _: Int) =>
        val id = nodeIdOf(idv, what)
        ctx.g.edgeTypes.iterator
          .flatMap { t =>
            ctx.g.edges(t).filter(col(IdCol) === id)
              .select(col(IdCol), col(SrcCol), col(DstCol)).collect()
              .map(r => EdgeArg(r.getLong(0), r.getLong(1), r.getLong(2), t))
          }
          .nextOption()
          .getOrElse(throw new IllegalArgumentException(
            s"$what: unknown relationship $id"))
      case other => throw new IllegalArgumentException(
        s"$what: need a relationship, got $other")
    }

  private def relStruct(rows: DataFrame): DataFrame =
    rows.select(struct(rows.columns.map(col).toSeq: _*).as("relationship"))

  /** `refactor.from(relationship, newFrom)` / `refactor.to(relationship,
    * newTo)` — redirect one endpoint (refactor.cpp:38/60: a NEW
    * relationship is created with the old one's type + properties and the
    * old one deleted, so the id changes). Yields the new relationship. */
  private def redirect(
      ctx: ProcContext, newFrom: Boolean): (GraphState, DataFrame) = {
    val what = if (newFrom) "refactor.from" else "refactor.to"
    val e = resolveEdge(ctx, ctx.args.head, what)
    val n = nodeIdOf(
      ctx.args.lift(1).getOrElse(throw new IllegalArgumentException(
        s"$what: need (relationship, node)")), what)
    var g = ctx.g
    val base = g.idBase + 2
    val newId = (base << 48) + (1L << 47)
    val rows = edgeRow(g, e)
      .withColumn(IdCol, lit(newId))
      .withColumn(SrcCol, if (newFrom) lit(n) else col(SrcCol))
      .withColumn(DstCol, if (newFrom) col(DstCol) else lit(n))
      .transform(Scratch.cp)
    require(rows.count() == 1, s"$what: unknown relationship ${e.id}")
    import ctx.spark.implicits._
    g = Mutations.createEdges(g, e.tpe, rows)
    g = Mutations.deleteEdges(g, e.tpe, Seq(e.id).toDF(IdCol))
    (g.withIdBase(base), relStruct(rows))
  }

  /** `refactor.clone_nodes(nodes, withRelationships=false,
    * skipProperties=[])` (refactor.cpp:397): one clone per node — labels
    * and (non-skipped) properties copied; with `withRelationships` every
    * incident relationship is re-created against the clone WITHOUT
    * properties (the reference clones the topology only). Yields
    * (input, output, error). */
  def cloneNodes(ctx: ProcContext): (GraphState, DataFrame) = {
    val ids = listOf(ctx.args.headOption.getOrElse(Nil))
      .map(nodeIdOf(_, "refactor.clone_nodes"))
    val withRels = ctx.args.lift(1) match {
      case Some(b: Boolean) => b
      case _ => false
    }
    val skip = ctx.args.lift(2) match {
      case Some(xs: Seq[_]) => xs.map(_.toString)
      case _ => Nil
    }
    var g = ctx.g
    val base = g.idBase + 2
    var nodeCursor = 0L
    var edgeCursor = 0L
    val pairs = ids.map { oldId =>
      val newId = (base << 48) + nodeCursor
      nodeCursor += 1
      (oldId, newId)
    }
    pairs.foreach { case (oldId, newId) =>
      val labels = labelsOf(g, oldId)
      val targets = if (labels.isEmpty) Seq("_") else labels
      targets.foreach { l =>
        var row = g.nodes(l).filter(col(IdCol) === oldId)
          .withColumn(IdCol, lit(newId))
        skip.filter(row.columns.contains).foreach(p => row = row.drop(p))
        g = Mutations.createNodes(g, l, Scratch.cp(row))
      }
      if (targets.size > 1) g = g.withOverlap
      if (withRels) g.edgeTypes.foreach { t =>
        val e = ctx.g.edges(t)
        // topology-only clones: id/src/dst/type, no property copy
        val incoming = e.filter(col(DstCol) === oldId).select(
          col(IdCol), col(SrcCol), lit(newId).as(DstCol), col(TypeCol))
        val outgoing = e.filter(col(SrcCol) === oldId).select(
          col(IdCol), lit(newId).as(SrcCol), col(DstCol), col(TypeCol))
        val both = incoming.unionByName(outgoing)
        val n = both.count()
        if (n > 0) {
          val rows = Ranks.orderedIds(both, "__idx", IdCol)
            .withColumn(
              IdCol,
              lit((base << 48) + (1L << 47)) + lit(edgeCursor) + col("__idx"))
            .drop("__idx")
            .transform(Scratch.cp)
          edgeCursor += n
          g = Mutations.createEdges(g, t, rows)
        }
      }
    }
    (g.withIdBase(base), entityYield(g, pairs))
  }

  /** The one-row frame of a node id, probed per label frame (never a
    * cross-frame union — frames may disagree on a property's type). */
  private def nodeFrameOf(g: GraphState, id: Long): DataFrame =
    g.nodeLabels.iterator
      .map(l => g.nodes(l).filter(col(IdCol) === id))
      .find(df => !df.isEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"refactor: unknown node $id"))

  /** Collected (non-meta, non-null) properties of one node id. */
  private def propsOf(g: GraphState, id: Long): Map[String, Any] = {
    val r = nodeFrameOf(g, id).collect()(0)
    r.schema.fieldNames.toSeq
      .filterNot(Meta)
      .flatMap(f => Option(r.getAs[Any](f)).map(f -> _))
      .toMap
  }

  private def labelsOf(g: GraphState, id: Long): Seq[String] = {
    val r = nodeFrameOf(g, id).select(col(LabelsCol)).collect()(0)
    Option(r.getSeq[String](0)).getOrElse(Seq.empty)
  }

  /** (input, output, error) yield rows: each output entity's struct comes
    * from its own frame (schemas across outputs union NULL-padded). */
  private def entityYield(
      g: GraphState, pairs: Seq[(Long, Long)]): DataFrame = {
    val frames = pairs.map { case (in, out) =>
      val f = nodeFrameOf(g, out)
      f.select(lit(in).as("input") +: f.columns.map(col).toSeq: _*)
    }
    val all = frames.reduce(_.unionByName(_, allowMissingColumns = true))
    val entCols = all.columns.filterNot(_ == "input")
    all.select(
      col("input"),
      struct(entCols.map(col).toSeq: _*).as("output"),
      lit("").as("error"))
  }

  /** Literal column for a driver-side value; heterogeneous lists (the
    * `combine` strategy makes them) variant-encode per element like the
    * engine's mixed-type representation. */
  private def litAny(ctx: ProcContext, v: Any): Column = v match {
    case null => lit(null)
    case s: Seq[_] =>
      val cols = s.map(litAny(ctx, _))
      val plain = array(cols: _*)
      try {
        ctx.spark.range(1).select(plain).schema // force analysis
        plain
      } catch {
        case _: Throwable =>
          array(cols.map(c =>
            try_variant_get(
              parse_json(to_json(struct(c.as("v")))), "$.v", "variant")): _*)
      }
    case m: Map[_, _] =>
      struct(m.toSeq.map { case (k, x) =>
        litAny(ctx, x).as(k.toString)
      }: _*)
    case r: org.apache.spark.sql.Row =>
      struct(r.schema.fieldNames.toSeq.map(f =>
        litAny(ctx, r.getAs[Any](f)).as(f)): _*)
    case other => lit(other)
  }

  /** `refactor.merge_nodes(nodes, config)` (refactor.cpp:923): merge every
    * node into the FIRST — properties per strategy (`combine` collects
    * colliding values into lists, `override`/`overwrite` takes the
    * source's, `discard` keeps the target's), labels unioned,
    * `mergeRels: true` re-creates the sources' relationships (with
    * properties) against the target, sources detach-deleted. Yields the
    * merged node. */
  def mergeNodes(ctx: ProcContext): (GraphState, DataFrame) = {
    val ids = listOf(ctx.args.headOption.getOrElse(Nil))
      .map(nodeIdOf(_, "refactor.merge_nodes"))
    require(ids.nonEmpty, "The nodes list cannot be empty")
    val cfg = ctx.args.lift(1) match {
      case Some(m: Map[_, _]) => m.map { case (k, x) => k.toString -> x }
      case _ => Map.empty[String, Any]
    }
    val mergeRels = cfg.get("mergeRels") match {
      case Some(b: Boolean) => b
      case None => false
      case _ => throw new IllegalArgumentException(
        "mergeRels parameter must either be true or false")
    }
    val strat = cfg.get("properties").orElse(cfg.get(".*"))
      .map(_.toString.toLowerCase).getOrElse("combine")
    require(
      Set("combine", "discard", "override", "overwrite")(strat),
      "Property strategy must be one of: combine, discard, " +
        "override/overwrite")
    var g = ctx.g
    val base = g.idBase + 2
    var edgeCursor = 0L
    val target = ids.head
    val targetProps0 = propsOf(g, target)
    var merged = targetProps0
    import ctx.spark.implicits._
    ids.tail.foreach { source =>
      val sourceProps = propsOf(g, source)
      strat match {
        case "combine" =>
          sourceProps.foreach { case (k, v) =>
            merged += (k -> (merged.get(k) match {
              case Some(xs: Seq[_]) => xs :+ v
              case Some(x) => Seq(x, v)
              case None => v
            }))
          }
        case "override" | "overwrite" => merged ++= sourceProps
        case _ => () // discard keeps the target's
      }
      val addLabels = labelsOf(g, source).diff(labelsOf(g, target))
      if (addLabels.nonEmpty)
        g = Mutations.updateLabelsByIds(
          g, Seq(target).toDF(IdCol), addLabels, add = true)
      if (mergeRels) ctx.g.edgeTypes.foreach { t =>
        val e = ctx.g.edges(t)
        val incoming = e.filter(col(DstCol) === source)
          .withColumn(DstCol, lit(target))
        val outgoing = e.filter(col(SrcCol) === source)
          .withColumn(SrcCol, lit(target))
        val both = incoming.unionByName(outgoing)
        val n = both.count()
        if (n > 0) {
          val rows = Ranks.orderedIds(both, "__idx", IdCol)
            .withColumn(
              IdCol,
              lit((base << 48) + (1L << 47)) + lit(edgeCursor) + col("__idx"))
            .drop("__idx")
            .transform(Scratch.cp)
          edgeCursor += n
          g = Mutations.createEdges(g, t, rows)
        }
      }
      g = Mutations.deleteNodes(g, Seq(source).toDF(IdCol), detach = true)
    }
    (merged.toSet -- targetProps0.toSet).foreach { case (k, v) =>
      g = Mutations.setPropertyByIds(
        g,
        Seq(target).toDF(IdCol).withColumn("__nv", litAny(ctx, v)),
        k)
    }
    val node = nodeFrameOf(g, target)
    (
      g.withIdBase(base),
      node.select(struct(node.columns.map(col).toSeq: _*).as("node")))
  }

  /** `refactor.collapse_node(node|id|list, type)` (refactor.cpp:502): a
    * node with EXACTLY one incoming and one outgoing relationship is
    * replaced by one `type` relationship from its in-neighbour to its
    * out-neighbour, carrying the node's properties; self-loops refuse.
    * Yields (id_collapsed, new_relationship) per node. */
  def collapseNode(ctx: ProcContext): (GraphState, DataFrame) = {
    val ids = listOf(ctx.args.headOption.getOrElse(Nil))
      .map(nodeIdOf(_, "refactor.collapse_node"))
    val tpe = ctx.args.lift(1).map(_.toString).getOrElse(
      throw new IllegalArgumentException("refactor.collapse_node: need type"))
    var g = ctx.g
    val base = g.idBase + 2
    var cursor = 0L
    var yields = Vector.empty[(Long, Long)] // (collapsed id, new edge id)
    ids.foreach { id =>
      val incident = g.edgeTypes.map { t =>
        g.edges(t)
          .filter(col(SrcCol) === id || col(DstCol) === id)
          .select(col(IdCol), col(SrcCol), col(DstCol))
      }.reduceOption(_ unionByName _).getOrElse(GraphState.emptyEdgeFrame)
      val rows = incident.collect()
      val inRows = rows.filter(_.getLong(2) == id)
      val outRows = rows.filter(_.getLong(1) == id)
      if (inRows.length != 1 || outRows.length != 1)
        throw new IllegalArgumentException(
          "Out and in degree of the nodes both must be 1!")
      val from = inRows(0).getLong(1)
      val to = outRows(0).getLong(2)
      if (from == id && to == id)
        throw new IllegalArgumentException(
          "Nodes with self relationships are non collapsible!")
      val newId = (base << 48) + (1L << 47) + cursor
      cursor += 1
      val props = propsOf(g, id)
      var row = ctx.spark.range(1).select(
        lit(newId).as(IdCol), lit(from).as(SrcCol), lit(to).as(DstCol),
        lit(tpe).as(TypeCol))
      props.foreach { case (k, v) =>
        row = row.withColumn(k, litAny(ctx, v))
      }
      g = Mutations.createEdges(g, tpe, Scratch.cp(row))
      import ctx.spark.implicits._
      g = Mutations.deleteNodes(g, Seq(id).toDF(IdCol), detach = true)
      yields :+= ((id, newId))
    }
    import ctx.spark.implicits._
    val pairDf = yields.toDF("id_collapsed", "__eid")
    val edges = g.edges(tpe)
    val joined = pairDf.join(edges, pairDf("__eid") === edges(IdCol))
    (
      g.withIdBase(base),
      joined.select(
        col("id_collapsed"),
        struct(edges.columns.map(edges(_)).toSeq: _*)
          .as("new_relationship")))
  }

  /** `refactor.extract_node(rel|id|list, labels, outType, inType)`
    * (refactor.cpp:805): each relationship becomes a NODE carrying its
    * properties and labels, spliced in as
    * from -[inType]-> node -[outType]-> to; the relationship is deleted.
    * Yields (input, output, error). */
  def extractNode(ctx: ProcContext): (GraphState, DataFrame) = {
    val what = "refactor.extract_node"
    val relArgs = listOf(ctx.args.headOption.getOrElse(Nil))
    val labels = ctx.args.lift(1) match {
      case Some(xs: Seq[_]) => xs.map(_.toString)
      case Some(s: String) => Seq(s)
      case _ => Nil
    }
    val outType = ctx.args.lift(2).map(_.toString).getOrElse(
      throw new IllegalArgumentException(s"$what: need outType"))
    val inType = ctx.args.lift(3).map(_.toString).getOrElse(
      throw new IllegalArgumentException(s"$what: need inType"))
    val rels = relArgs.map(resolveEdge(ctx, _, what))
    var g = ctx.g
    val base = g.idBase + 2
    var nodeCursor = 0L
    var edgeCursor = 0L
    var yields = Vector.empty[(Long, Long)] // (old rel id, new node id)
    rels.foreach { e =>
      val newNode = (base << 48) + nodeCursor
      nodeCursor += 1
      // the node takes the relationship's properties
      var row = edgeRow(g, e)
        .withColumn(IdCol, lit(newNode))
        .withColumn(LabelsCol, array(labels.map(lit): _*).cast("array<string>"))
        .drop(SrcCol, DstCol, TypeCol)
        .transform(Scratch.cp)
      require(row.count() == 1, s"$what: unknown relationship ${e.id}")
      val targets = if (labels.isEmpty) Seq("_") else labels
      targets.foreach(l => g = Mutations.createNodes(g, l, row))
      if (targets.size > 1) g = g.withOverlap
      val eIn = (base << 48) + (1L << 47) + edgeCursor
      val eOut = eIn + 1
      edgeCursor += 2
      g = Mutations.createEdges(
        g, inType,
        ctx.spark.range(1).select(
          lit(eIn).as(IdCol), lit(e.src).as(SrcCol),
          lit(newNode).as(DstCol), lit(inType).as(TypeCol)))
      g = Mutations.createEdges(
        g, outType,
        ctx.spark.range(1).select(
          lit(eOut).as(IdCol), lit(newNode).as(SrcCol),
          lit(e.dst).as(DstCol), lit(outType).as(TypeCol)))
      import ctx.spark.implicits._
      g = Mutations.deleteEdges(g, e.tpe, Seq(e.id).toDF(IdCol))
      yields :+= ((e.id, newNode))
    }
    (g.withIdBase(base), entityYield(g, yields))
  }

  /** Path argument: the PathB value struct `{nodes: [...], edges: [...]}`
    * the planner lowers for a bound path variable. */
  private final case class PathArg(
      nodes: Seq[Map[String, Any]], edges: Seq[Map[String, Any]])

  private def pathArgOf(v: Any, what: String): PathArg = v match {
    case m: Map[_, _] =>
      val mm = m.map { case (k, x) => k.toString -> x }
      (mm.get("nodes"), mm.get("edges")) match {
        case (Some(ns: Seq[_]), Some(es: Seq[_])) =>
          PathArg(ns.map(mapOf), es.map(mapOf))
        case _ => throw new IllegalArgumentException(
          s"$what: need a path value, got $m")
      }
    case other =>
      throw new IllegalArgumentException(s"$what: need a path, got $other")
  }

  private val ConfigErr =
    "Configuration map must consist of specific keys and values " +
      "described in documentation."

  /** Shared clone machinery of `clone_subgraph` /
    * `clone_subgraph_from_paths` (refactor.cpp:196-262 CloneNodesImpl +
    * CloneRelsImpl): every non-standin node is cloned with labels and
    * non-skipped properties; every relationship is re-created WITH its
    * (non-skipped) properties between the clones, standin pairs
    * substituting an existing node for a would-be clone. A relationship
    * endpoint that is neither cloned nor standing in throws, like the
    * reference's GetStandinOrCopy. Yields (input, output, error) for the
    * cloned nodes (InsertCloneNodesRecord emits node records only). */
  private def cloneSubgraphCommon(
      ctx: ProcContext,
      what: String,
      nodeIds: Seq[Long],
      rels: Seq[EdgeArg],
      config: Map[String, Any]): (GraphState, DataFrame) = {
    val standins: Seq[(Long, Long)] = config.get("standinNodes") match {
      case Some(xs: Seq[_]) => xs.map {
        case p: Seq[_] if p.length == 2 =>
          (nodeIdOf(p.head, what), nodeIdOf(p(1), what))
        case _ => throw new IllegalArgumentException(ConfigErr)
      }
      case None | Some(null) => Nil
      case _ => throw new IllegalArgumentException(ConfigErr)
    }
    val skip = config.get("skipProperties") match {
      case Some(xs: Seq[_]) => xs.map(_.toString)
      case None | Some(null) => Nil
      case _ => throw new IllegalArgumentException(ConfigErr)
    }
    val standinMap = standins.toMap
    var g = ctx.g
    val base = g.idBase + 2
    var nodeCursor = 0L
    var mirror = Map.empty[Long, Long]
    var pairs = Vector.empty[(Long, Long)]
    nodeIds.foreach { oldId =>
      if (!standinMap.contains(oldId)) {
        val newId = (base << 48) + nodeCursor
        nodeCursor += 1
        val labels = labelsOf(ctx.g, oldId)
        val targets = if (labels.isEmpty) Seq("_") else labels
        targets.foreach { l =>
          var row = ctx.g.nodes(l).filter(col(IdCol) === oldId)
            .withColumn(IdCol, lit(newId))
          skip.filter(row.columns.contains).foreach(p => row = row.drop(p))
          g = Mutations.createNodes(g, l, Scratch.cp(row))
        }
        if (targets.size > 1) g = g.withOverlap
        mirror += (oldId -> newId)
        pairs :+= ((oldId, newId))
      }
    }
    var edgeCursor = 0L
    rels.foreach { e =>
      def endpoint(id: Long): Long =
        standinMap.getOrElse(id, mirror.getOrElse(id,
          throw new IllegalArgumentException(
            "Can't clone relationship without cloning relationship's " +
              "source and/or target nodes.")))
      val (s, d) = (endpoint(e.src), endpoint(e.dst))
      val newId = (base << 48) + (1L << 47) + edgeCursor
      edgeCursor += 1
      var row = edgeRow(ctx.g, e)
        .withColumn(IdCol, lit(newId))
        .withColumn(SrcCol, lit(s))
        .withColumn(DstCol, lit(d))
      skip.filter(row.columns.contains).foreach(p => row = row.drop(p))
      g = Mutations.createEdges(g, e.tpe, Scratch.cp(row))
    }
    (g.withIdBase(base), entityYield(g, pairs))
  }

  /** `refactor.clone_subgraph(nodes, rels, config)` (refactor.cpp:291):
    * clone the subgraph; with no explicit rels the INDUCED edge set
    * (both endpoints in the node list) is cloned. */
  def cloneSubgraph(ctx: ProcContext): (GraphState, DataFrame) = {
    val what = "refactor.clone_subgraph"
    val nodes = listOf(ctx.args.headOption.getOrElse(Nil))
      .map(nodeIdOf(_, what)).distinct
    val relArgs = (ctx.args.lift(1) match {
      case Some(xs: Seq[_]) => xs
      case _ => Nil
    }).map(resolveEdge(ctx, _, what)).distinctBy(_.id)
    val config = mapOf(ctx.args.lift(2).orNull)
    val rels =
      if (relArgs.isEmpty && nodes.nonEmpty)
        // induced edges, one pruned pushed-predicate filter per type frame
        ctx.g.edgeTypes.flatMap { t =>
          ctx.g.edges(t)
            .filter(
              col(SrcCol).isin(nodes: _*) && col(DstCol).isin(nodes: _*))
            .select(col(IdCol), col(SrcCol), col(DstCol)).collect()
            .map(r => EdgeArg(r.getLong(0), r.getLong(1), r.getLong(2), t))
        }.sortBy(_.id)
      else relArgs
    cloneSubgraphCommon(ctx, what, nodes, rels, config)
  }

  /** `refactor.clone_subgraph_from_paths(paths, config)`
    * (refactor.cpp:263): the distinct nodes + relationships of the paths,
    * cloned with the same machinery (first-seen order — the reference's
    * unordered_set leaves order unspecified). */
  def cloneSubgraphFromPaths(ctx: ProcContext): (GraphState, DataFrame) = {
    val what = "refactor.clone_subgraph_from_paths"
    val paths = listOf(ctx.args.headOption.getOrElse(Nil))
      .map(pathArgOf(_, what))
    val config = mapOf(ctx.args.lift(1).orNull)
    val nodes = paths.flatMap(_.nodes.map(nodeIdOf(_, what))).distinct
    val rels = paths.flatMap(_.edges.map(edgeArgOf(_, what)))
      .distinctBy(_.id)
    cloneSubgraphCommon(ctx, what, nodes, rels, config)
  }

  /** `refactor.categorize(original_prop_key, rel_type, is_outgoing,
    * new_label, new_prop_name_key, copy_props_list)` → status
    * (refactor.cpp:348): every node carrying the property becomes linked
    * to a per-value category node; the property (and the copied ones)
    * moves off the source nodes.
    *
    * This one is a BULK restructure, so unlike the point-write refactor
    * procedures it stays fully distributed: distinct property values
    * build the category frame (ids by value order), the node→category
    * edges come from one equi-join on the value, and the property
    * removals are id-keyed bulk updates — no per-node driver loop, the
    * shape that survives a 100 TB corpus. Where the reference's
    * last-storage-order write wins for copied category properties
    * (refactor.cpp:377-386), we take the value from the HIGHEST
    * contributing node id — deterministic under any partitioning. */
  def categorize(ctx: ProcContext): (GraphState, DataFrame) = {
    val what = "refactor.categorize"
    def strArg(i: Int, name: String): String =
      ctx.args.lift(i).map(_.toString).getOrElse(
        throw new IllegalArgumentException(s"$what: need $name"))
    val orig = strArg(0, "original_prop_key")
    val relType = strArg(1, "rel_type")
    val isOutgoing = ctx.args.lift(2) match {
      case Some(b: Boolean) => b
      case Some(s: String) => s.toBoolean
      case _ => true
    }
    val newLabel = strArg(3, "new_label")
    val newPropKey = strArg(4, "new_prop_name_key")
    val copyProps = ctx.args.lift(5) match {
      case Some(xs: Seq[_]) => xs.map(_.toString)
      case _ => Nil
    }
    val spark = ctx.spark
    import spark.implicits._
    val status = Seq("success").toDF("status")
    var g = ctx.g
    val all = ctx.g.allNodes
    if (!all.columns.contains(orig)) return (g, status)
    val base = g.idBase + 2
    val copyKeys =
      copyProps.filter(k => k != newPropKey && all.columns.contains(k))
    val src = all.filter(col(orig).isNotNull)
      .select((col(IdCol) +: col(orig).as("__cat") +: copyKeys.map(col)): _*)
      .transform(Scratch.cp)
    val cats = Ranks
      .orderedIds(src.select(col("__cat")).distinct(), "__idx", "__cat")
      .withColumn(IdCol, lit(base << 48) + col("__idx"))
    val catProps =
      if (copyKeys.isEmpty) cats
      else {
        val aggs = copyKeys.map(k =>
          max_by(col(k), when(col(k).isNotNull, col(IdCol))).as(k))
        cats.drop(copyKeys: _*).join(
          src.groupBy(col("__cat")).agg(aggs.head, aggs.tail: _*), "__cat")
      }
    val catFrame = catProps.select(
      (col(IdCol) +: array(lit(newLabel)).as(LabelsCol) +:
        col("__cat").as(newPropKey) +: copyKeys.map(col)): _*)
      .transform(Scratch.cp)
    g = Mutations.createNodes(g, newLabel, catFrame)
    val withCat = src.select(col(IdCol).as("__nid"), col("__cat"))
      .join(catProps.select(col("__cat"), col(IdCol).as("__cid")), "__cat")
    val edges = Ranks.orderedIds(withCat, "__eidx", "__nid")
      .select(
        (lit((base << 48) + (1L << 47)) + col("__eidx")).as(IdCol),
        (if (isOutgoing) col("__nid") else col("__cid")).as(SrcCol),
        (if (isOutgoing) col("__cid") else col("__nid")).as(DstCol),
        lit(relType).as(TypeCol))
      .transform(Scratch.cp)
    g = Mutations.createEdges(g, relType, edges)
    val ids = src.select(col(IdCol))
    g = Mutations.removePropertyByIds(g, ids, orig)
    copyKeys.foreach(k => g = Mutations.removePropertyByIds(g, ids, k))
    (g.withIdBase(base), status)
  }

  /** `refactor.delete_and_reconnect(path, nodes, config)` → (nodes,
    * relationships) (refactor.cpp:648): walk the path, detach-delete the
    * listed nodes, and bridge each gap between surviving neighbors with
    * a relationship chosen by `relationshipSelectionStrategy`
    * (`incoming` keeps the relationship leaving the previous survivor,
    * `outgoing` the one entering the current survivor, `merge` fuses
    * both — type `A_B`, properties per `properties`:
    * discard/override/combine). Yields the surviving path nodes and the
    * surviving+bridged relationships as ID LISTS — the repo's path/rel
    * yield shape (IgraphProcs.scala:220), not whole entities. */
  def deleteAndReconnect(ctx: ProcContext): (GraphState, DataFrame) = {
    val what = "refactor.delete_and_reconnect"
    val path = pathArgOf(
      ctx.args.headOption.getOrElse(throw new IllegalArgumentException(
        s"$what: need a path")), what)
    val delIds = listOf(ctx.args.lift(1).getOrElse(Nil))
      .map(nodeIdOf(_, what)).toSet
    val cfg = mapOf(ctx.args.lift(2).orNull)
    // refactor.cpp:543-558: a missing strategy key forces incoming+combine
    val (relStrategy, propStrategy) =
      cfg.get("relationshipSelectionStrategy") match {
        case None | Some(null) => ("incoming", "combine")
        case Some(rs) =>
          (rs.toString,
            cfg.get("properties") match {
              case None | Some(null) => "combine"
              case Some(ps) => ps.toString
            })
      }
    if (!Set("incoming", "outgoing", "merge")(relStrategy))
      throw new IllegalArgumentException(
        "Invalid relationship selection strategy")
    val propNorm = propStrategy match {
      case "discard" => "discard"
      case "override" | "overwrite" => "override"
      case "combine" => "combine"
      case _ => throw new IllegalArgumentException(
        "Invalid properties selection strategy")
    }
    val pNodes = path.nodes.map(nodeIdOf(_, what))
    val pEdges = path.edges.map(m => (edgeArgOf(m, what),
      m.filterNot { case (k, v) => Meta.contains(k) || v == null }))
    var g = ctx.g
    val base = g.idBase + 2
    var edgeCursor = 0L
    var outNodes = Vector.empty[Long]
    var outRels = Vector.empty[Long]
    var pi = -1
    var prevId = -1L

    def createRel(
        s: Long, d: Long, tpe: String, props: Map[String, Any]): Long = {
      val id = (base << 48) + (1L << 47) + edgeCursor
      edgeCursor += 1
      val cols =
        Seq(lit(id).as(IdCol), lit(s).as(SrcCol), lit(d).as(DstCol),
          lit(tpe).as(TypeCol)) ++
          props.toSeq.sortBy(_._1).map { case (k, v) =>
            litAny(ctx, v).as(k)
          }
      g = Mutations.createEdges(g, tpe, ctx.spark.range(1).select(cols: _*))
      id
    }
    // modify_relationship (refactor.cpp:676-689): re-anchor `e` onto
    // `node`, preserving its orientation relative to `other`
    def anchor(e: EdgeArg, node: Long, other: Long): (Long, Long) =
      if (e.src == other) (e.src, node) else (node, e.dst)

    pNodes.zipWithIndex.foreach { case (id, i) =>
      val isDel = delIds.contains(id)
      if (!isDel && pi != -1 && pi != i - 1) {
        val (inE, inProps) = pEdges(pi) // leaves the previous survivor
        val (curE, curProps) = pEdges(i - 1) // enters the current one
        relStrategy match {
          case "incoming" =>
            val (s, d) = anchor(inE, id, prevId)
            outRels :+= createRel(s, d, inE.tpe, inProps)
          case "outgoing" =>
            val (s, d) = anchor(curE, prevId, id)
            outRels :+= createRel(s, d, curE.tpe, curProps)
          case _ => // merge: type A_B, properties per the prop strategy
            val tpe = s"${curE.tpe}_${inE.tpe}"
            val (baseE, baseP, otherP, node, other) =
              if (propNorm == "override") (curE, curProps, inProps, prevId, id)
              else (inE, inProps, curProps, id, prevId)
            val (s, d) = anchor(baseE, node, other)
            val props =
              if (propNorm == "combine")
                otherP.foldLeft(baseP) { case (acc, (k, v)) =>
                  acc.get(k) match {
                    case Some(existing) => acc + (k -> Seq(existing, v))
                    case None => acc + (k -> v)
                  }
                }
              else otherP ++ baseP // base wins collisions, gaps filled
            outRels :+= createRel(s, d, tpe, props)
        }
      } else if (!isDel && pi != -1) {
        outRels :+= pEdges(pi)._1.id // consecutive survivors: kept as-is
      }
      if (!isDel) { outNodes :+= id; pi = i; prevId = id }
    }
    val toDelete = pNodes.filter(delIds).distinct
    if (toDelete.nonEmpty) {
      import ctx.spark.implicits._
      g = Mutations.deleteNodes(g, toDelete.toDF(IdCol), detach = true)
    }
    import ctx.spark.implicits._
    (g.withIdBase(base),
      Seq((outNodes, outRels)).toDF("nodes", "relationships"))
  }

  val writeRegistry
      : Map[String, ProcContext => (GraphState, DataFrame)] = Map(
    "refactor.from" -> (redirect(_, newFrom = true)),
    "refactor.to" -> (redirect(_, newFrom = false)),
    "refactor.clone_nodes" -> cloneNodes,
    "refactor.merge_nodes" -> mergeNodes,
    "refactor.collapse_node" -> collapseNode,
    "refactor.extract_node" -> extractNode,
    "refactor.categorize" -> categorize,
    "refactor.clone_subgraph" -> cloneSubgraph,
    "refactor.clone_subgraph_from_paths" -> cloneSubgraphFromPaths,
    "refactor.delete_and_reconnect" -> deleteAndReconnect)
}
