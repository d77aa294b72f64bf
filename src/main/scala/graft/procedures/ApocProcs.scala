package graft.procedures

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.GraphState
import graft.core.GraphState.{DstCol, IdCol, LabelsCol, SrcCol, TypeCol}
import graft.operators.{Cutover, Scratch}

/** The apoc-style workhorse modules — the reference's
  * `src/mage/cpp/neighbors_module`, `path_module` and `refactor_module`
  * re-expressed Spark-first.
  *
  * Read procedures (`neighbors.*`, `path.*`) are frontier programs: the
  * per-hop step is one equi-join of a (broadcastable) frontier against the
  * direction-oriented edge frames, so each hop costs one shuffle-free job
  * at scale and the whole traversal is `distance` bounded rounds.
  * Subcritical inputs (below `spark.graft.local.edges`) dispatch to an
  * exact driver-local pass like the other iterative procedures — the
  * reference modules are single-node DFS/BFS throughout.
  *
  * Write procedures (`refactor.*`) are whole-frame column transforms —
  * renames, endpoint swaps, value normalization — that produce a new
  * [[GraphState]] version (the Accumulate barrier discipline): no
  * per-entity loops, no shuffles beyond the yielded counts.
  *
  * Direction markers in relationship-type lists follow the reference
  * (`path_module/algorithm/path.cpp` ParseRelationships /
  * `neighbors_module/algorithm/neighbors.cpp` DetermineDirection):
  * `"<T"` incoming, `"T>"` outgoing, `"T"` any, `"<T>"` both-reciprocal
  * (path only), bare `"<"`/`">"` wildcard incoming/outgoing, empty list =
  * all types both directions.
  */
object ApocProcs {

  import Procedures.Proc

  type WriteProc = ProcContext => (GraphState, DataFrame)

  val registry: Map[String, Proc] = Map(
    "neighbors.at_hop" -> atHop,
    "neighbors.by_hop" -> byHop,
    "path.expand" -> pathExpand,
    "path.subgraph_nodes" -> (ctx => subgraph(ctx, withRels = false)),
    "path.subgraph_all" -> (ctx => subgraph(ctx, withRels = true)))

  val writeRegistry: Map[String, WriteProc] = Map[String, WriteProc](
    "refactor.rename_label" -> renameLabel,
    "refactor.rename_type" -> renameType,
    "refactor.rename_node_property" -> renameNodeProperty,
    "refactor.rename_type_property" -> renameTypeProperty,
    "refactor.invert" -> invert,
    "refactor.normalize_as_boolean" -> normalizeAsBoolean) ++
    PyTail2Procs.writeRegistry ++ PyTail3Procs.writeRegistry ++
    MlProcs.writeRegistry ++ RefactorProcs.writeRegistry ++
    SchemaModuleProcs.writeRegistry

  // ---------------- option helpers ----------------

  private def optLong(ctx: ProcContext, k: String): Option[Long] =
    ctx.opts.get(k).map {
      case l: Long => l
      case i: Int => i.toLong
      case other => other.toString.toLong
    }

  private def optStrings(ctx: ProcContext, k: String): Seq[String] =
    ctx.opts.get(k) match {
      case Some(s: Seq[_]) => s.map(_.toString)
      case Some(one) => Seq(one.toString)
      case None => Seq.empty
    }

  private def optBool(ctx: ProcContext, k: String, dflt: Boolean): Boolean =
    ctx.opts.get(k).map(_.toString.toBoolean).getOrElse(dflt)

  private def startIds(ctx: ProcContext): Seq[Long] = {
    val ids = optLong(ctx, "node").toSeq ++ ctx.optLongs("nodes")
    require(ids.nonEmpty, "need a start node ('node' or 'nodes' option)")
    ids.distinct
  }

  // ---------------- relationship-direction parsing ----------------

  /** Which directed steps a traversal may take, per edge type.
    * `fwdAll`/`revAll` are the bare `">"`/`"<"` wildcards (they admit every
    * type in that physical direction, overriding per-type markers —
    * path.cpp ExpandFromRelationships checks `AnyDirected` first). `recip`
    * is the path module's `<T>`: a forward step src→dst is traversable iff
    * a reverse edge dst→src of the same type also exists (the in-rels-seed
    * `seen` handshake in ExpandFromRelationships reduces to exactly that
    * condition). */
  private[procedures] final case class Steps(
      fwdAll: Boolean,
      fwd: Set[String],
      revAll: Boolean,
      rev: Set[String],
      recip: Set[String])

  /** neighbors_module DetermineDirection: independent in/out sets, `""`
    * wildcard, `<T>` invalid. */
  private[procedures] def parseNeighborRels(specs: Seq[String]): Steps = {
    var (fwdAll, revAll) = (false, false)
    val fwd = mutable.Set.empty[String]
    val rev = mutable.Set.empty[String]
    val ss = if (specs.isEmpty) Seq("") else specs
    ss.foreach { s =>
      if (s.isEmpty) { fwdAll = true; revAll = true }
      else if (s.startsWith("<") && s.endsWith(">"))
        throw new IllegalArgumentException(
          s"invalid relationship specification: $s")
      else if (s == "<") revAll = true
      else if (s == ">") fwdAll = true
      else if (s.startsWith("<")) rev += s.substring(1)
      else if (s.endsWith(">")) fwd += s.dropRight(1)
      else { fwd += s; rev += s }
    }
    Steps(fwdAll, fwd.toSet, revAll, rev.toSet, Set.empty)
  }

  /** path_module ParseRelationships: per-type direction MAP (last marker
    * wins), plus the `<T>` reciprocal mode and bare wildcards. */
  private[procedures] def parsePathRels(specs: Seq[String]): Steps = {
    if (specs.isEmpty) return Steps(
      fwdAll = true, Set.empty, revAll = true, Set.empty, Set.empty)
    var (fwdAll, revAll) = (false, false)
    val dir = mutable.LinkedHashMap.empty[String, Char] // a=any,i=in,o=out,b=both
    specs.foreach { s =>
      if (s == "<") revAll = true
      else if (s == ">") fwdAll = true
      else if (s.length >= 2 && s.startsWith("<") && s.endsWith(">"))
        dir(s.substring(1, s.length - 1)) = 'b'
      else if (s.startsWith("<")) dir(s.substring(1)) = 'i'
      else if (s.endsWith(">")) dir(s.dropRight(1)) = 'o'
      else dir(s) = 'a'
    }
    Steps(
      fwdAll,
      dir.collect { case (t, d) if d == 'a' || d == 'o' => t }.toSet,
      revAll,
      dir.collect { case (t, d) if d == 'a' || d == 'i' => t }.toSet,
      dir.collect { case (t, d) if d == 'b' => t }.toSet)
  }

  /** Directed step frame (eid, s, d): forward edges, reversed edges, and
    * reciprocal-filtered forward edges per [[Steps]]. The union stays a
    * columnar scan per type — at scale AQE broadcast-joins a small
    * frontier against it; nothing here materializes. */
  private def orientedSteps(g: GraphState, st: Steps): DataFrame = {
    val fwdT = if (st.fwdAll) g.edgeTypes else st.fwd.toSeq.sorted.filter(g.hasType)
    val revT = if (st.revAll) g.edgeTypes else st.rev.toSeq.sorted.filter(g.hasType)
    // a fwdAll wildcard already admits every forward edge; the reciprocal
    // restriction only binds when the type is not otherwise admitted
    val recipT = if (st.fwdAll) Seq.empty
      else st.recip.toSeq.sorted.filter(g.hasType).filterNot(st.fwd.contains)
    val parts =
      fwdT.map(t => g.edges(t).select(
        col(IdCol).as("eid"), col(SrcCol).as("s"), col(DstCol).as("d"))) ++
      revT.map(t => g.edges(t).select(
        col(IdCol).as("eid"), col(DstCol).as("s"), col(SrcCol).as("d"))) ++
      recipT.map { t =>
        val e = g.edges(t)
        val r = g.edges(t)
          .select(col(SrcCol).as("r_s"), col(DstCol).as("r_d"))
        e.join(
            r,
            e(DstCol) === col("r_s") && e(SrcCol) === col("r_d"),
            "leftsemi")
          .select(col(IdCol).as("eid"), col(SrcCol).as("s"), col(DstCol).as("d"))
      }
    if (parts.isEmpty) emptySteps(g)
    else parts.reduce(_.unionByName(_))
  }

  private def emptySteps(g: GraphState): DataFrame = {
    val s = SparkSession.active
    s.createDataFrame(
      s.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField("eid", LongType), StructField("s", LongType),
        StructField("d", LongType))))
  }

  /** Local mirror of [[orientedSteps]] over collected edge rows
    * (eid, src, dst, type). */
  private def localSteps(
      st: Steps,
      edges: Array[(Long, Long, Long, String)]): Array[(Long, Long, Long)] = {
    val hasRev = edges.iterator
      .map(e => (e._4, e._2, e._3)).toSet // (type, src, dst)
    val out = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    edges.foreach { case (eid, s, d, t) =>
      if (st.fwdAll || st.fwd(t)) out += ((eid, s, d))
      else if (st.recip(t) && hasRev((t, d, s))) out += ((eid, s, d))
      if (st.revAll || st.rev(t)) out += ((eid, d, s))
    }
    out.toArray
  }

  /** LIMIT-capped collect of (eid, src, dst, type) — the subcritical
    * probe, same budget as the other procedures. Only the types the
    * [[Steps]] filter can traverse are scanned (a typed CALL on a big
    * loader graph collects just its own tiny frames). */
  private def collectEdgesIfSubcritical(
      g: GraphState,
      st: Steps): Option[Array[(Long, Long, Long, String)]] = {
    val types =
      if (st.fwdAll || st.revAll) g.edgeTypes
      else (st.fwd ++ st.rev ++ st.recip).toSeq.sorted.filter(g.hasType)
    if (types.isEmpty) return Some(Array.empty)
    val all = types.map(t =>
      g.edges(t).select(col(IdCol), col(SrcCol), col(DstCol), col(TypeCol)))
      .reduce(_.unionByName(_))
    Cutover.collect(all)
      .map(_.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))))
  }

  // ---------------- neighbors (neighbors_module) ----------------

  /** Layered BFS shared by at_hop/by_hop as a hop-tagged FRAME (hop, n):
    * a node counts at the FIRST hop it is reachable at (reference
    * `Neighbors::AtHop` — later layers exclude everything seen before).
    * The distributed branch never collects a layer to the driver — the
    * per-hop driver signal is one isEmpty boolean (the loop-termination
    * check both cursors need); a supernode frontier stays an executor-side
    * frame end to end. */
  private def bfsLayers(ctx: ProcContext): DataFrame = {
    val starts = startIds(ctx)
    val distance = ctx.optInt("distance", 1)
    val st = parseNeighborRels(optStrings(ctx, "rel_types"))
    require(distance >= 0, "distance must be >= 0")
    val spark = ctx.spark
    import spark.implicits._

    collectEdgesIfSubcritical(ctx.g, st) match {
      case Some(es) =>
        val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
        localSteps(st, es).foreach { case (_, s, d) =>
          adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d
        }
        val seen = mutable.HashSet.empty[Long] ++= starts
        var frontier = starts
        val layers = mutable.ArrayBuffer.empty[(Int, Long)]
        var hop = 1
        while (hop <= distance && frontier.nonEmpty) {
          val next = frontier.iterator
            .flatMap(n => adj.getOrElse(n, Nil))
            .filter(seen.add)
            .toSeq.distinct
          layers ++= next.sorted.map((hop, _))
          frontier = next
          hop += 1
        }
        layers.toSeq.toDF("hop", "n")

      case None =>
        val steps = orientedSteps(ctx.g, st)
          .select(col("s"), col("d")).persist()
        var seen = Scratch.cp(starts.toDF("n"))
        var frontier = seen
        var layers = spark.emptyDataset[(Int, Long)].toDF("hop", "n")
        var hop = 1
        // one action per round: the count doubles as the emptiness probe
        // and the broadcast gate (never force-broadcast a big frontier)
        var frontierN = frontier.count()
        while (hop <= distance && frontierN > 0) {
          val next = Scratch.gatedBroadcast(frontier, frontierN)
            .join(steps, col("n") === col("s"))
            .select(col("d").as("n")).distinct()
            .join(seen, Seq("n"), "left_anti")
            .transform(Scratch.cp)
          frontierN = next.count()
          layers =
            layers.unionByName(next.select(lit(hop).as("hop"), col("n")))
          seen = Scratch.cp(seen.union(next))
          frontier = next
          hop += 1
        }
        steps.unpersist()
        layers
    }
  }

  /** `neighbors.at_hop(node, rel_types, distance)` → nodes at EXACTLY
    * `distance` hops (reference neighbors.cpp:53). Yields (node) — row
    * output stays a distributed frame. */
  def atHop(ctx: ProcContext): DataFrame = {
    val distance = ctx.optInt("distance", 1)
    bfsLayers(ctx)
      .filter(col("hop") === distance)
      .select(col("n").as("node"))
  }

  /** `neighbors.by_hop(node, rel_types, distance)` → one row per hop
    * 1..distance with the (possibly empty, sorted) node list at that hop
    * (reference neighbors.cpp:107 — no early stop). The list-valued yield
    * is the reference's own driver-sized contract; aggregation happens
    * executor-side (sort_array ∘ collect_list). */
  def byHop(ctx: ProcContext): DataFrame = {
    val distance = ctx.optInt("distance", 1)
    val spark = ctx.spark
    val lists = bfsLayers(ctx)
      .groupBy("hop")
      .agg(sort_array(collect_list(col("n"))).as("nodes"))
    spark.range(1, distance + 1L)
      .select(col("id").cast("int").as("hop"))
      .join(lists, Seq("hop"), "left_outer")
      .select(
        col("hop").cast("long").as("hop"),
        coalesce(col("nodes"), array().cast("array<long>")).as("nodes"))
      .orderBy("hop")
  }

  // ---------------- path.expand (path_module) ----------------

  /** Label-filter classification, per path.cpp ParseLabels: `-L`
    * blacklist, `+L`/bare whitelist, `/L` termination, `>L` end. */
  private[procedures] final case class LabelFilter(
      black: Set[String],
      white: Set[String],
      term: Set[String],
      end: Set[String]) {
    val endActive: Boolean = end.nonEmpty
    val termActive: Boolean = term.nonEmpty
    val whiteEmpty: Boolean = white.isEmpty
  }

  private[procedures] def parseLabels(specs: Seq[String]): LabelFilter = {
    val black = mutable.Set.empty[String]
    val white = mutable.Set.empty[String]
    val term = mutable.Set.empty[String]
    val end = mutable.Set.empty[String]
    specs.foreach { s =>
      s.headOption match {
        case Some('-') => black += s.substring(1)
        case Some('>') => end += s.substring(1)
        case Some('+') => white += s.substring(1)
        case Some('/') => term += s.substring(1)
        case _ => white += s
      }
    }
    LabelFilter(black.toSet, white.toSet, term.toSet, end.toSet)
  }

  /** Per-node label booleans (bl, wl, tm, en) as one frame — the
    * distributed GetLabelBools: four `arrays_overlap` against literal
    * label sets, evaluated inside the scan. */
  private def labelBools(g: GraphState, lf: LabelFilter): DataFrame = {
    def overlap(s: Set[String]) =
      if (s.isEmpty) lit(false)
      else arrays_overlap(
        col(LabelsCol), array(s.toSeq.sorted.map(lit): _*))
    g.allNodes.select(
      col(IdCol).as("nid"),
      overlap(lf.black).as("bl"),
      overlap(lf.white).as("wl"),
      overlap(lf.term).as("tm"),
      overlap(lf.end).as("en"))
  }

  /** AreLabelsValid (path.cpp:103): emit-eligibility of a node. */
  private def validCol(lf: LabelFilter): org.apache.spark.sql.Column =
    !col("bl") && ((col("en") && lit(lf.endActive)) || col("tm") ||
      (lit(!lf.termActive && !lf.endActive) &&
        (lit(lf.whiteEmpty) || col("wl"))))

  private def localValid(
      lf: LabelFilter, bl: Boolean, wl: Boolean, tm: Boolean, en: Boolean): Boolean =
    !bl && ((en && lf.endActive) || tm ||
      (!lf.termActive && !lf.endActive && (lf.whiteEmpty || wl)))

  /** ContinueExpanding's label half (path.cpp:110) — the hop-count half
    * and the start-node exemption are applied at the call sites. */
  private def contCol(lf: LabelFilter): org.apache.spark.sql.Column =
    !col("bl") && !col("tm") &&
      (col("en") || lit(lf.whiteEmpty) || col("wl"))

  private def localCont(
      lf: LabelFilter, bl: Boolean, wl: Boolean, tm: Boolean, en: Boolean): Boolean =
    !bl && !tm && (en || lf.whiteEmpty || wl)

  /** `path.expand(start, relationships, labels, min_hops, max_hops)` —
    * every path (edge-instance-unique, the reference's `visited_` set)
    * from the start nodes whose length lands in [min,max] and whose head
    * satisfies the label filter. Yields (start, last, hops, nodes).
    *
    * Distributed form is a level-synchronous frontier carrying the path
    * node/edge-id arrays; each level is ONE equi-join of the frontier
    * against the oriented step frame plus one join against the label-bool
    * frame. Arrays are bounded by max_hops, so a level row is O(max_hops)
    * — the 100 TB shape is (frontier width) × (bounded array), never
    * all-pairs. Subcritical inputs run the reference's exact DFS locally.
    */
  def pathExpand(ctx: ProcContext): DataFrame = {
    val starts = startIds(ctx)
    val st = parsePathRels(
      optStrings(ctx, "relationships") ++ optStrings(ctx, "relationshipFilter"))
    val lf = parseLabels(
      optStrings(ctx, "labels") ++ optStrings(ctx, "labelFilter"))
    val minHops = ctx.optInt("minHops", 0)
    val maxHops = ctx.optInt("maxHops", 8)
    val filterStart = optBool(ctx, "filterStartNode", dflt = false)
    val spark = ctx.spark
    import spark.implicits._

    val outSchema = StructType(Seq(
      StructField("start", LongType), StructField("last", LongType),
      StructField("hops", LongType),
      StructField("nodes", ArrayType(LongType))))

    collectEdgesIfSubcritical(ctx.g, st) match {
      case Some(es) =>
        val bools = localBools(ctx.g, lf)
        val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
        localSteps(st, es).foreach { case (eid, s, d) =>
          adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += ((eid, d))
        }
        val out = mutable.ArrayBuffer.empty[Row]
        val usedEdges = mutable.HashSet.empty[Long]
        def dfs(start: Long, path: List[Long], size: Int): Unit = {
          val node = path.head
          val (bl, wl, tm, en) = bools.getOrElse(node, (false, false, false, false))
          if (size >= minHops && size <= maxHops && localValid(lf, bl, wl, tm, en))
            out += Row(start, node, size.toLong, path.reverse)
          val mayCont = size + 1 <= maxHops &&
            (localCont(lf, bl, wl, tm, en) || (size == 0 && !filterStart))
          if (!mayCont) return
          adj.getOrElse(node, Nil).foreach { case (eid, d) =>
            if (!usedEdges.contains(eid)) {
              usedEdges += eid
              dfs(start, d :: path, size + 1)
              usedEdges -= eid
            }
          }
        }
        starts.foreach(s => dfs(s, List(s), 0))
        spark.createDataFrame(
          spark.sparkContext.parallelize(out.toSeq, 1), outSchema)

      case None =>
        val steps = orientedSteps(ctx.g, st).persist()
        val bools = labelBools(ctx.g, lf).persist()
        val emitted = mutable.ArrayBuffer.empty[DataFrame]
        var level = starts.toDF("last")
          .select(
            col("last").as("start"), col("last"),
            array(col("last")).as("nodes"),
            array().cast(ArrayType(LongType)).as("eids"))
          .join(bools, col("last") === col("nid"))
          .transform(Scratch.cp)
        if (minHops <= 0)
          emitted += level.filter(validCol(lf))
            .select(col("start"), col("last"), lit(0L).as("hops"), col("nodes"))
        var l = 0
        var done = level.isEmpty
        while (!done && l < maxHops) {
          val contOk =
            if (l == 0 && !filterStart) lit(true) else contCol(lf)
          val next = level.filter(contOk)
            .select(col("start"), col("last"), col("nodes"), col("eids"))
            .join(steps, col("last") === col("s"))
            .filter(!array_contains(col("eids"), col("eid")))
            .select(
              col("start"), col("d").as("last"),
              concat(col("nodes"), array(col("d"))).as("nodes"),
              concat(col("eids"), array(col("eid"))).as("eids"))
            .join(bools, col("last") === col("nid"))
            .transform(Scratch.cp)
          l += 1
          if (l >= minHops && l <= maxHops)
            emitted += next.filter(validCol(lf))
              .select(
                col("start"), col("last"), lit(l.toLong).as("hops"),
                col("nodes"))
          done = next.isEmpty
          level = next
        }
        steps.unpersist(); bools.unpersist()
        if (emitted.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
        else emitted.reduce(_.unionByName(_))
    }
  }

  /** Local bools only for nodes carrying a MENTIONED label — everything
    * else defaults to all-false at the lookup site, so the collect is
    * bounded by the filtered labels' population, not the graph. */
  private def localBools(
      g: GraphState,
      lf: LabelFilter): Map[Long, (Boolean, Boolean, Boolean, Boolean)] = {
    val mentioned = (lf.black ++ lf.white ++ lf.term ++ lf.end).toSeq.sorted
    if (mentioned.isEmpty) return Map.empty
    val rows = g.allNodes
      .select(col(IdCol), col(LabelsCol))
      .filter(arrays_overlap(col(LabelsCol), array(mentioned.map(lit): _*)))
      .collect()
    rows.iterator.map { r =>
      val labels: Seq[String] = r.getSeq[String](1)
      r.getLong(0) -> (
        labels.exists(lf.black), labels.exists(lf.white),
        labels.exists(lf.term), labels.exists(lf.end))
    }.toMap
  }

  // ---------------- path.subgraph_nodes / subgraph_all ----------------

  /** `path.subgraph_nodes(start, config)` / `path.subgraph_all` —
    * node-deduplicating BFS under the same filters (path.cpp
    * PathSubgraph::BFS): a node is processed at its FIRST discovery hop;
    * hops below minHops are traversed but not returned; the unfiltered
    * start node bypasses whitelist/blacklist (TryInsertNode's exempt
    * start) and, when `beginSequenceAtStart` is false, its outgoing step
    * ignores the relationship filter too. subgraph_all additionally
    * returns every edge (any type) between result nodes. Yields (node,
    * hop) or, for subgraph_all, one row (nodes, rels) with `rels` as
    * "src>dst:TYPE" strings. */
  private def subgraph(ctx: ProcContext, withRels: Boolean): DataFrame = {
    val starts = startIds(ctx)
    val st = parsePathRels(optStrings(ctx, "relationshipFilter"))
    val lf = parseLabels(optStrings(ctx, "labelFilter"))
    val minHops = ctx.optInt("minHops", 0)
    val maxHops = ctx.optInt("maxHops", 8)
    val filterStart = optBool(ctx, "filterStartNode", dflt = false)
    val beginSeq = optBool(ctx, "beginSequenceAtStart", dflt = true)
    val anySteps = Steps(fwdAll = true, Set.empty, revAll = true, Set.empty, Set.empty)
    val spark = ctx.spark
    import spark.implicits._

    // start exemption constant: TryInsertNode treats the unfiltered start
    // as plain whitelisted
    val startOk =
      localValid(lf, bl = false, wl = true, tm = false, en = false)

    collectEdgesIfSubcritical(ctx.g, st) match {
      case None =>
        // distributed: the visited set stays a hop-tagged FRAME; label
        // gates are joins against the bool frame, the edge closure is two
        // semi-joins — nothing driver-sized until a list-valued yield
        val steps = orientedSteps(ctx.g, st).select(col("s"), col("d")).persist()
        val steps0 =
          if (beginSeq) steps
          else orientedSteps(ctx.g, anySteps).select(col("s"), col("d"))
        val bools = labelBools(ctx.g, lf).persist()
        var seen = Scratch.cp(starts.toDF("n"))
        var frontier = seen
        var accDf = starts.map((_, 0)).toDF("n", "hop").transform(Scratch.cp)
        var hop = 0
        // frontier count = emptiness probe + broadcast gate (the filtered
        // frontier is a subset, so gating on the full count is safe)
        var frontierN = frontier.count()
        while (frontierN > 0 && hop < maxHops) {
          val contOk = if (hop == 0 && !filterStart) lit(true) else contCol(lf)
          val src = if (hop == 0) steps0 else steps
          val next = Scratch.gatedBroadcast(
              frontier.join(bools, col("n") === col("nid")).filter(contOk)
                .select(col("n")), frontierN)
            .join(src, col("n") === col("s"))
            .select(col("d").as("n")).distinct()
            .join(seen, Seq("n"), "left_anti")
            .transform(Scratch.cp)
          frontierN = next.count()
          hop += 1
          accDf = accDf.unionByName(next.withColumn("hop", lit(hop)))
          seen = Scratch.cp(seen.union(next))
          frontier = next
        }
        steps.unpersist()
        val returnedDf = accDf
          .join(bools, col("n") === col("nid"), "left_outer")
          .filter(
            col("hop") >= minHops && col("hop") <= maxHops &&
              when(col("hop") === 0 && lit(!filterStart), lit(startOk))
                .otherwise(validCol(lf)))
          .select(col("n"), col("hop"))
        val out =
          if (!withRels)
            returnedDf.select(
              col("n").as("node"), col("hop").cast("long").as("hop"))
          else {
            val nodesDf = returnedDf.select(col("n")).distinct()
              .transform(Scratch.cp)
            // edges among result nodes, every type (SubgraphAll scans
            // OutRelationships unfiltered): two semi-joins, collected only
            // at the single list-valued yield row
            val keep = ctx.g.allEdges
              .select(col(SrcCol), col(DstCol), col(TypeCol))
              .join(nodesDf, col(SrcCol) === col("n"), "left_semi")
              .join(nodesDf, col(DstCol) === col("n"), "left_semi")
              .select(
                concat_ws("",
                  col(SrcCol).cast("string"), lit(">"),
                  col(DstCol).cast("string"), lit(":"), col(TypeCol))
                  .as("r"))
              .collect().map(_.getString(0)).sorted.toSeq
            val nodesSorted =
              nodesDf.collect().map(_.getLong(0)).sorted.toSeq
            Seq((nodesSorted, keep)).toDF("nodes", "rels")
          }
        bools.unpersist()
        return out

      case Some(es) =>
        val bools = localBools(ctx.g, lf)
        val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
        localSteps(st, es).foreach { case (_, s, d) =>
          adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d
        }
        val adj0 = if (beginSeq) adj else {
          val a = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
          localSteps(anySteps, es).foreach { case (_, s, d) =>
            a.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d
          }
          a
        }
        val seen = mutable.HashSet.empty[Long] ++= starts
        var frontier = starts
        val acc = mutable.ArrayBuffer.empty[(Long, Int)] ++= starts.map((_, 0))
        var hop = 0
        while (frontier.nonEmpty && hop < maxHops) {
          val expandable = frontier.filter { n =>
            val (bl, wl, tm, en) = bools.getOrElse(n, (false, false, false, false))
            localCont(lf, bl, wl, tm, en) || (hop == 0 && !filterStart)
          }
          val src = if (hop == 0) adj0 else adj
          val next = expandable.iterator
            .flatMap(n => src.getOrElse(n, Nil))
            .filter(seen.add).toSeq.distinct.sorted
          hop += 1
          acc ++= next.map((_, hop))
          frontier = next
        }
        // TryInsertNode: hop in [min,max]; start (unless filterStartNode)
        // bypasses its own label filter (treated as plain whitelisted)
        val returned = acc.toSeq.filter { case (n, h) =>
          if (h < minHops || h > maxHops) false
          else if (h == 0 && !filterStart) startOk
          else {
            val (bl, wl, tm, en) =
              bools.getOrElse(n, (false, false, false, false))
            localValid(lf, bl, wl, tm, en)
          }
        }
        if (!withRels)
          returned.map { case (n, h) => (n, h.toLong) }.toDF("node", "hop")
        else {
          val nodesSorted = returned.map(_._1).distinct.sorted
          // edges among result nodes, EVERY type (SubgraphAll scans
          // OutRelationships unfiltered — es only holds the filtered
          // types): broadcast-semi-join, no literal id lists
          val nodesDf = broadcast(nodesSorted.toDF("n"))
          val keep = ctx.g.allEdges
            .select(col(SrcCol), col(DstCol), col(TypeCol))
            .join(nodesDf, col(SrcCol) === col("n"), "left_semi")
            .join(nodesDf, col(DstCol) === col("n"), "left_semi")
            .collect()
            .map(r => s"${r.getLong(0)}>${r.getLong(1)}:${r.getString(2)}")
            .sorted.toSeq
          Seq((nodesSorted, keep)).toDF("nodes", "rels")
        }
    }
  }

  // ---------------- refactor (refactor_module) ----------------

  private def oneCount(s: SparkSession, name: String, n: Long): DataFrame = {
    import s.implicits._
    Seq(n).toDF(name)
  }

  /** `refactor.rename_label(old, new, {nodes})` → nodes_changed
    * (refactor.cpp RenameLabel: only nodes carrying the old label count).
    * Rewrites the `_labels` array in every frame that holds matching rows
    * and moves rows from the old label frame to the new one (frames are a
    * label index — membership must follow the rename). */
  def renameLabel(ctx: ProcContext): (GraphState, DataFrame) = {
    val oldL = ctx.optString("old", "")
    val newL = ctx.optString("new", "")
    require(oldL.nonEmpty && newL.nonEmpty, "need old and new label names")
    val ids = ctx.optLongs("nodes")
    def idOk = if (ids.isEmpty) lit(true)
      else col(IdCol).isin(ids.map(Long.box): _*)
    val hit = array_contains(col(LabelsCol), oldL) && idOk
    val relabel = array_distinct(
      concat(array_remove(col(LabelsCol), oldL), array(lit(newL))))

    var g = ctx.g
    val changed =
      if (!g.hasLabel(oldL)) 0L
      else g.nodes(oldL).filter(hit).count()
    // in-place label rewrite for frames that keep their rows
    g.nodeLabels.filterNot(_ == oldL).foreach { l =>
      val frame = g.nodes(l)
      if (frame.columns.contains(LabelsCol))
        g = g.withNodes(l, () =>
          frame.withColumn(
            LabelsCol, when(hit, relabel).otherwise(col(LabelsCol))))
    }
    if (g.hasLabel(oldL)) {
      val src = ctx.g.nodes(oldL)
      val moved = src.filter(hit).withColumn(LabelsCol, relabel)
      val kept = src.filter(!hit)
      g = g.withNodes(oldL, () => kept)
      // rename moves each row from the old frame to exactly one new frame
      // (in-place rewrites above never move rows), so id-disjointness is
      // preserved: a non-overlapping graph stays non-overlapping. Marking
      // overlap here forced every later unlabeled bind through the full
      // union+dedup of the whole graph.
      g = if (g.hasLabel(newL))
        g.withNodes(newL, {
          val existing = g.nodes(newL)
          () => existing.unionByName(moved, allowMissingColumns = true)
        })
      else g.withNodes(newL, () => moved)
    }
    (g, oneCount(ctx.spark, "nodes_changed", changed))
  }

  /** `refactor.rename_type(old, new)` → relationships_changed. */
  def renameType(ctx: ProcContext): (GraphState, DataFrame) = {
    val oldT = ctx.optString("old", "")
    val newT = ctx.optString("new", "")
    require(oldT.nonEmpty && newT.nonEmpty, "need old and new type names")
    var g = ctx.g
    val changed = if (!g.hasType(oldT)) 0L else {
      val moved = ctx.g.edges(oldT).withColumn(TypeCol, lit(newT))
      val n = moved.count()
      g = g.withEdges(oldT, () => GraphState.emptyEdgeFrame)
      g = if (g.hasType(newT))
        g.withEdges(newT, {
          val existing = g.edges(newT)
          () => existing.unionByName(moved, allowMissingColumns = true)
        })
      else g.withEdges(newT, () => moved)
      n
    }
    (g, oneCount(ctx.spark, "relationships_changed", changed))
  }

  /** `refactor.rename_node_property(old, new, {label})` →
    * properties_changed (# nodes with a non-null old value). Merging into
    * an existing target column keeps the old value (apoc semantics:
    * renamed property overwrites). */
  def renameNodeProperty(ctx: ProcContext): (GraphState, DataFrame) = {
    val oldP = ctx.optString("old", "")
    val newP = ctx.optString("new", "")
    require(oldP.nonEmpty && newP.nonEmpty, "need old and new property names")
    val labels = optStrings(ctx, "label") match {
      case Seq() => ctx.g.nodeLabels
      case ls => ls.filter(ctx.g.hasLabel)
    }
    var g = ctx.g
    var changed = 0L
    labels.foreach { l =>
      val frame = ctx.g.nodes(l)
      if (frame.columns.contains(oldP)) {
        changed += frame.filter(col(oldP).isNotNull).count()
        g = g.withNodes(l, () => {
          val f = ctx.g.nodes(l)
          val renamed =
            if (f.columns.contains(newP))
              f.withColumn(newP, coalesce(col(oldP), col(newP)))
            else f.withColumn(newP, col(oldP))
          renamed.drop(oldP)
        })
      }
    }
    (g, oneCount(ctx.spark, "properties_changed", changed))
  }

  /** `refactor.rename_type_property(old, new, {type})`. */
  def renameTypeProperty(ctx: ProcContext): (GraphState, DataFrame) = {
    val oldP = ctx.optString("old", "")
    val newP = ctx.optString("new", "")
    require(oldP.nonEmpty && newP.nonEmpty, "need old and new property names")
    val types = optStrings(ctx, "type") match {
      case Seq() => ctx.g.edgeTypes
      case ts => ts.filter(ctx.g.hasType)
    }
    var g = ctx.g
    var changed = 0L
    types.foreach { t =>
      val frame = ctx.g.edges(t)
      if (frame.columns.contains(oldP)) {
        changed += frame.filter(col(oldP).isNotNull).count()
        g = g.withEdges(t, () => {
          val f = ctx.g.edges(t)
          val renamed =
            if (f.columns.contains(newP))
              f.withColumn(newP, coalesce(col(oldP), col(newP)))
            else f.withColumn(newP, col(oldP))
          renamed.drop(oldP)
        })
      }
    }
    (g, oneCount(ctx.spark, "properties_changed", changed))
  }

  /** `refactor.invert({type, ids})` → relationships_changed: swap the
    * endpoints of matching edges (refactor.cpp InvertRel) — a pure column
    * swap, no shuffle. */
  def invert(ctx: ProcContext): (GraphState, DataFrame) = {
    val types = optStrings(ctx, "type") match {
      case Seq() => ctx.g.edgeTypes
      case ts => ts.filter(ctx.g.hasType)
    }
    val ids = ctx.optLongs("ids")
    def idOk = if (ids.isEmpty) lit(true)
      else col(IdCol).isin(ids.map(Long.box): _*)
    var g = ctx.g
    var changed = 0L
    types.foreach { t =>
      changed += ctx.g.edges(t).filter(idOk).count()
      g = g.withEdges(t, () => {
        val f = ctx.g.edges(t)
        val swap = when(idOk, col(DstCol)).otherwise(col(SrcCol))
        val swap2 = when(idOk, col(SrcCol)).otherwise(col(DstCol))
        f.withColumns(Map(SrcCol -> swap, DstCol -> swap2))
      })
    }
    (g, oneCount(ctx.spark, "relationships_changed", changed))
  }

  /** `refactor.normalize_as_boolean({prop, true_values, false_values,
    * label})` → entities_changed. Value in true_values → true, in
    * false_values → false, in both → unchanged, in neither → property
    * removed (refactor.cpp NormalizeToBoolean:623). Nulls are untouched.
    */
  def normalizeAsBoolean(ctx: ProcContext): (GraphState, DataFrame) = {
    val prop = ctx.optString("prop", "")
    require(prop.nonEmpty, "need prop")
    val trues = optStrings(ctx, "true_values")
    val falses = optStrings(ctx, "false_values")
    val labels = optStrings(ctx, "label") match {
      case Seq() => ctx.g.nodeLabels
      case ls => ls.filter(ctx.g.hasLabel)
    }
    def norm(f: DataFrame): DataFrame = {
      val v = col(prop).cast("string")
      val inT = if (trues.isEmpty) lit(false) else v.isin(trues: _*)
      val inF = if (falses.isEmpty) lit(false) else v.isin(falses: _*)
      f.withColumn(
        prop,
        when(col(prop).isNull, lit(null).cast("boolean"))
          .when(inT && !inF, lit(true))
          .when(inF && !inT, lit(false))
          .when(inT && inF, lit(null).cast("boolean")) // ambiguous: see below
          .otherwise(lit(null).cast("boolean")))
    }
    // NOTE the in-both case: the reference leaves the original value in
    // place; a boolean column can't hold it, so it normalizes to null —
    // the one documented divergence (DataFrame columns are monotyped).
    var g = ctx.g
    var changed = 0L
    labels.foreach { l =>
      val frame = ctx.g.nodes(l)
      if (frame.columns.contains(prop)) {
        changed += frame.filter(col(prop).isNotNull).count()
        g = g.withNodes(l, () => norm(ctx.g.nodes(l)))
      }
    }
    (g, oneCount(ctx.spark, "entities_changed", changed))
  }
}
