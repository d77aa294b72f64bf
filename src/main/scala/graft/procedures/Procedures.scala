package graft.procedures

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraphState
import graft.operators.{Cutover, Expand, LocalProcs, Scratch, ShortestPath, VertexResident}

/** `CALL name(args) YIELD …` procedure registry — the reference's query
  * modules (`CallProcedure`, `src/query/plan/operator.hpp:2891`; module
  * registry `src/query/procedure/module.cpp`) with the MAGE graph
  * algorithms (`src/mage/cpp/pagerank_module`, `connected_components`, …).
  *
  * A procedure is `ProcContext => DataFrame` (table-valued, like mgp_proc).
  * The iterative algorithms have up to three placements, chosen by the
  * [[Cutover]] probes: driver-local ([[LocalProcs]]) when the edges fit
  * under the cap; vertex-resident ([[VertexResident]]: driver arrays, one
  * job per round over cached edge partitions) for `pagerank` when only
  * the nodes fit, and for `minLabelComponents` whenever they fit (one
  * spanning-forest job, no edge probe); otherwise a DataFrame
  * fixpoint in the ShortestPath discipline — one shuffle per round,
  * `localCheckpoint` for lineage truncation, convergence probes for early
  * stop.
  */
final case class ProcContext(
    spark: SparkSession,
    g: GraphState,
    args: Seq[Any]) {

  /** First argument as an options map (Cypher `CALL p({k: v, …})`). */
  def opts: Map[String, Any] = args.headOption match {
    case Some(m: Map[_, _]) =>
      m.map { case (k, v) => k.toString -> v }
    case _ => Map.empty
  }
  def optString(k: String, dflt: String): String =
    opts.get(k).map(_.toString).getOrElse(dflt)
  def optInt(k: String, dflt: Int): Int =
    opts.get(k).map(_.toString.toInt).getOrElse(dflt)
  def optDouble(k: String): Option[Double] =
    opts.get(k).map(_.toString.toDouble)
  /** Option `k` as a list of ids; a single value is a one-element list. */
  def optLongs(k: String): Seq[Long] = opts.get(k) match {
    case Some(s: Seq[_]) => s.map {
      case l: Long => l
      case i: Int => i.toLong
      case other => other.toString.toLong
    }
    case Some(one) => Seq(one.toString.toLong)
    case None => Seq.empty
  }
}

/** Positional argument decoders shared by the procedure modules. A node
  * or relationship argument is a bare id or an entity map carrying
  * `_id`; `what` names the procedure in error messages. */
private[procedures] object ProcArgs {

  def nodeIdOf(v: Any, what: String): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case m: Map[_, _] =>
      m.collectFirst { case (k, id: Long) if k.toString == GraphState.IdCol => id }
        .getOrElse(throw new IllegalArgumentException(
          s"$what: node value lacks an id"))
    case other =>
      throw new IllegalArgumentException(s"$what: need a node, got $other")
  }

  def edgeIdOf(v: Any, what: String): Long =
    nodeIdOf(v, what) // same shape: entity map with _id, or a bare id

  def idList(v: Any, what: String): Seq[Long] = v match {
    case null => Nil
    case xs: Seq[_] => xs.map(nodeIdOf(_, what))
    case other => Seq(nodeIdOf(other, what))
  }

  /** (src, dst) of each relationship value in a list argument. */
  def edgePairs(v: Option[Any], what: String): Seq[(Long, Long)] =
    (v match {
      case Some(xs: Seq[_]) => xs
      case _ => Nil
    }).map {
      case m: Map[_, _] =>
        val mm = mapOf(m)
        (mm.get(GraphState.SrcCol), mm.get(GraphState.DstCol)) match {
          case (Some(s: Long), Some(d: Long)) => (s, d)
          case _ => throw new IllegalArgumentException(
            s"$what: need relationship values")
        }
      case other => throw new IllegalArgumentException(
        s"$what: need a relationship, got $other")
    }

  def optNode(v: Option[Any], what: String): Option[Long] = v match {
    case None | Some(null) => None
    case Some(x) => Some(nodeIdOf(x, what))
  }

  def optInt(v: Option[Any]): Option[Int] = v match {
    case Some(n: java.lang.Number) => Some(n.intValue())
    case _ => None
  }

  def optStr(v: Option[Any]): Option[String] = v match {
    case None | Some(null) => None
    case Some(s) => Some(s.toString)
  }

  def mapOf(v: Any): Map[String, Any] = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> x }
    case _ => Map.empty
  }
}

object Procedures {

  type Proc = ProcContext => DataFrame

  val registry: Map[String, Proc] = Map[String, Proc](
    "algo.pagerank" -> pagerank,
    "algo.wcc" -> wcc,
    "algo.degree" -> degree,
    "algo.betweenness" -> betweenness,
    "algo.label_propagation" -> labelPropagation,
    "algo.louvain" -> louvain,
    "algo.leiden" -> leiden,
    "algo.bridges" -> bridgesProc,
    "algo.cycles" -> cyclesProc,
    "algo.biconnected" -> biconnectedProc,
    "algo.katz" -> katz,
    "algo.node_similarity" -> nodeSimilarity,
    "algo.triangle_count" -> triangleCount,
    "algo.walks" -> walks,
    "algo.node2vec" -> node2vec,
    "schema.info" -> schemaInfo,
    "graph.analyze" -> analyze,
    "graph.dump" -> dump,
    "text.search" -> textSearch,
    "text.bm25" -> textBm25,
    "text.phrase" -> textPhrase,
    "vector.search" -> vectorSearch,
    "mg.procedures" -> mgProcedures) ++ ApocProcs.registry ++
    ExtraProcs.registry ++ IndexProcs.registry ++ HelperProcs.registry ++
    MlProcs.registry ++ MetaProcs.registry ++ PyTailProcs.registry ++
    IgraphProcs.registry ++ PyTail2Procs.registry ++ PyTail3Procs.registry ++
    MageAliases.registry ++ AlgoModuleProcs.registry ++
    LegacyModuleProcs.registry ++ NxAlgProcs.registry ++
    SchemaModuleProcs.registry

  /** `CALL mg.procedures()` — registry introspection (the reference's
    * `mg` module lists loaded mgp procedures). */
  private def mgProcedures(ctx: ProcContext): DataFrame = {
    import ctx.spark.implicits._
    val writes = ApocProcs.writeRegistry.keySet
    (registry.keys ++ writes).toSeq.distinct.sorted
      .map(n => (n, s"$n() :: (TABLE)", writes.contains(n)))
      .toDF("name", "signature", "is_write")
  }

  import GraphState.{DstCol, IdCol, SrcCol}

  private def longPairs(rows: Array[org.apache.spark.sql.Row]): Array[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1)))

  /** Options: label, type, weightProp+minWeight (edge filter). */
  private def selectGraph(ctx: ProcContext): (DataFrame, DataFrame) = {
    val label = ctx.optString("label", "Customer")
    val tpe = ctx.optString("type", "KNOWS")
    val nodes = ctx.g.nodes(label).select(col(IdCol).as("node"))
    val e0 = ctx.g.edges(tpe)
    val edges = (ctx.opts.get("weightProp"), ctx.optDouble("minWeight")) match {
      case (Some(p), Some(w)) => e0.filter(col(p.toString) >= w)
      case _ => e0
    }
    (nodes, edges.select(col(SrcCol).as("src"), col(DstCol).as("dst")))
  }

  /** PageRank, simple variant (no dangling-mass redistribution — dangling
    * nodes leak rank; documented, and mirrored exactly by the oracle):
    * pr₀ = 1/N;  prᵢ₊₁(v) = (1-d)/N + d·Σ_{u→v} prᵢ(u)/outdeg(u).
    * Reference analog: `src/mage/cpp/pagerank_module`. Yields (node, rank).
    * The node probe runs first: nodes above the cap take the DataFrame
    * fixpoint without an edge probe; under it, the edge probe picks the
    * driver-local or the vertex-resident placement.
    */
  def pagerank(ctx: ProcContext): DataFrame = {
    val iters = ctx.optInt("iterations", 15)
    val d = ctx.opts.get("damping").map(_.toString.toDouble).getOrElse(0.85)
    val (nodes, edges) = selectGraph(ctx)
    val local = Cutover.collect(nodes).map(_.map(_.getLong(0))).map { ns =>
      Cutover.collect(edges) match {
        case Some(es) => LocalProcs.pagerank(ns, longPairs(es), d, iters)
        case None => VertexResident.pagerank(ns, edges, d, iters)
      }
    }
    if (local.nonEmpty) {
      import ctx.spark.implicits._
      return local.get.toSeq.toDF("node", "rank")
    }
    val n = nodes.count().toDouble
    val e = edges.persist()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("deg")).persist()
    var pr = nodes.withColumn("rank", lit(1.0 / n)).transform(Scratch.cp)
    for (_ <- 1 to iters) {
      val contrib = pr
        .join(outdeg, col("node") === col("src"))
        .join(e.select(col("src").as("c_src"), col("dst")), col("node") === col("c_src"))
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
        .groupBy("node")
        .agg(sum(col("c")).as("in_rank"))
      pr = nodes
        .join(contrib, Seq("node"), "left_outer")
        .select(
          col("node"),
          (lit((1 - d) / n) + lit(d) * coalesce(col("in_rank"), lit(0.0)))
            .as("rank"))
        .transform(Scratch.cp)
    }
    e.unpersist(blocking = false)
    outdeg.unpersist(blocking = false)
    pr
  }

  /** Weakly-connected components by undirected min-label propagation to
    * fixpoint. Reference analog: `src/mage/cpp/connected_components` /
    * union-find module. Yields (node, comp) where comp = min node id of the
    * component. */
  def wcc(ctx: ProcContext): DataFrame = {
    val (nodes, edges) = selectGraph(ctx)
    minLabelComponents(nodes, edges)
  }

  /** Connected components over arbitrary (node) + directed (src, dst)
    * frames — the WCC core, reusable outside the CALL surface (e.g. the
    * near-duplicate clustering pipeline composes MinHash candidate pairs
    * with this). Returns (node, comp) for every node and edge endpoint
    * whose component holds a node, comp = min node id of the component.
    * Nodes above the cap take the DataFrame fixpoint; under it, one job
    * reduces the edges to a spanning forest ([[VertexResident.forest]])
    * and [[LocalProcs.wcc]] labels it on the driver, whether or not the
    * edges fit. A forest above the cap bails to the fixpoint.
    */
  def minLabelComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val local = Cutover.collect(nodes).map(_.map(_.getLong(0))).flatMap { ns =>
      VertexResident.forest(edges, Cutover.cap(nodes.sparkSession))
        .map { case (src, dst) => LocalProcs.wcc(ns, src, dst) }
    }
    if (local.nonEmpty) {
      import nodes.sparkSession.implicits._
      return local.get.toSeq.toDF("node", "comp")
    }
    val und = edges
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    var comp = nodes.withColumn("comp", col("node")).transform(Scratch.cp)
    var converged = false
    var rounds = 0
    val maxRounds = 64
    while (!converged && rounds < maxRounds) {
      rounds += 1
      val prop = comp
        .unionByName(
          comp.join(und, col("node") === col("src"))
            .select(col("dst").as("node"), col("comp")))
        .groupBy("node")
        .agg(min("comp").as("comp"))
      // Pointer-jumping (path halving): comp(v) ← comp(comp(v)). Component
      // labels converge in O(log diameter) rounds instead of O(diameter),
      // so the 64-round cap covers any graph up to diameter ~2^64.
      // Change detection is FOLDED into the materialized frame (`__ch`) so
      // the convergence probe is a narrow scan of the cached round, not a
      // second shuffle job. An endpoint outside `nodes` joins the frame
      // when a label first reaches it (a change), and forwards labels
      // from then on.
      val next = prop
        .join(
          prop.select(col("node").as("__c"), col("comp").as("__cc")),
          col("comp") === col("__c"))
        .select(col("node"), col("__cc").as("comp"))
        .join(comp.select(col("node"), col("comp").as("__old")), Seq("node"),
          "left_outer")
        .select(col("node"), col("comp"),
          (col("__old").isNull || col("comp") < col("__old")).as("__ch"))
        .transform(Scratch.cp)
      converged = next.filter(col("__ch")).isEmpty
      comp = next.select("node", "comp")
    }
    und.unpersist(blocking = false)
    if (!converged)
      throw new IllegalStateException(
        s"algo.wcc did not converge within $maxRounds rounds")
    comp
  }

  /** In/out degree per node of a label over one edge type.
    * Yields (node, out_deg, in_deg). */
  def degree(ctx: ProcContext): DataFrame = {
    val (nodes, edges) = selectGraph(ctx)
    val out = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    nodes
      .join(out, Seq("node"), "left_outer")
      .join(in, Seq("node"), "left_outer")
      .select(
        col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Katz centrality: c₀ = 0; cᵢ₊₁(v) = β + α·Σ_{u→v} cᵢ(u), fixed
    * iteration count (converges for α < 1/λ_max). Reference analog:
    * `src/mage/cpp/katz_centrality_module` (which runs the same
    * neighbor-sum iteration incrementally). One join + aggregate per
    * round, localCheckpoint lineage discipline; per-node sums accumulate
    * in DECIMAL(38,12) so results are partition-stable. Options:
    * label/type/weightProp/minWeight, alpha (default 0.1), beta (1.0),
    * iterations (10). Yields (node, centrality). */
  def katz(ctx: ProcContext): DataFrame = {
    val alpha = ctx.optDouble("alpha").getOrElse(0.1)
    val beta = ctx.optDouble("beta").getOrElse(1.0)
    val iters = ctx.optInt("iterations", 10)
    val (nodes, edges) = selectGraph(ctx)
    val local = for {
      es <- Cutover.collect(edges)
      ns <- Cutover.collect(nodes)
    } yield {
      import ctx.spark.implicits._
      LocalProcs
        .katz(ns.map(_.getLong(0)), longPairs(es), alpha, beta, iters)
        .toSeq
        .toDF("node", "centrality")
    }
    if (local.nonEmpty) return local.get
    val e = edges.persist()
    var c = nodes.withColumn("centrality", lit(0.0)).transform(Scratch.cp)
    for (_ <- 1 to iters) {
      val in = c
        .join(e, col("node") === col("src"))
        .groupBy(col("dst").as("__n"))
        .agg(
          sum(col("centrality").cast("decimal(38,12)"))
            .cast("double").as("__s"))
      c = nodes
        .join(in, col("node") === col("__n"), "left_outer")
        .select(
          col("node"),
          (lit(beta) + lit(alpha) * coalesce(col("__s"), lit(0.0)))
            .as("centrality"))
        .transform(Scratch.cp)
    }
    e.unpersist(blocking = false)
    c
  }

  /** Neighbor-set Jaccard similarity for node pairs sharing at least one
    * out-neighbor — reference `src/mage/cpp/node_similarity_module`.
    * The pair join is keyed on the SHARED NEIGHBOR (bucketed, never
    * all-pairs): sim(a,b) = |N(a)∩N(b)| / |N(a)∪N(b)|. Yields
    * (node1, node2, similarity). */
  def nodeSimilarity(ctx: ProcContext): DataFrame =
    nodeSimilarityMetric(ctx, "jaccard")

  /** The shared pair frame + the metric finisher — `metric` is one of
    * jaccard (|∩|/|∪|), overlap (|∩|/min), cosine (|∩|/√(d1·d2)), the
    * three procedures of `node_similarity_module`. */
  private[procedures] def nodeSimilarityMetric(
      ctx: ProcContext, metric: String): DataFrame = {
    val (_, edges) = selectGraph(ctx)
    val e = edges.persist()
    val deg = e.groupBy(col("src").as("__n")).agg(count(lit(1)).as("__d"))
    val common = e
      .select(col("src").as("node1"), col("dst"))
      .join(e.select(col("src").as("node2"), col("dst")), Seq("dst"))
      .filter(col("node1") < col("node2"))
      .groupBy("node1", "node2")
      .agg(count(lit(1)).as("__common"))
    val c = col("__common").cast("double")
    val sim = metric match {
      case "jaccard" => c / (col("__d1") + col("__d2") - col("__common"))
      case "overlap" => c / least(col("__d1"), col("__d2"))
      case "cosine" => c / sqrt((col("__d1") * col("__d2")).cast("double"))
      case other =>
        throw new IllegalArgumentException(s"node_similarity: $other")
    }
    common
      .join(deg.select(col("__n").as("node1"), col("__d").as("__d1")), Seq("node1"))
      .join(deg.select(col("__n").as("node2"), col("__d").as("__d2")), Seq("node2"))
      .select(col("node1"), col("node2"), sim.as("similarity"))
  }

  /** SHOW SCHEMA INFO analog (`SchemaInfoQuery` ast.hpp:4302): one row per
    * label / edge type — entity count plus the sorted property list. All
    * counts are lazy per-frame aggregates unioned into one result; no
    * driver-side collect. Yields (kind, name, n, props). */
  def schemaInfo(ctx: ProcContext): DataFrame = {
    val g = ctx.g
    val meta = Set(
      GraphState.IdCol, GraphState.LabelsCol,
      GraphState.SrcCol, GraphState.DstCol, GraphState.TypeCol)
    // ONE job: every frame contributes only its literal (kind, name) tag
    // — a zero-column parquet scan — into a single union, and one
    // map-side-combined groupBy counts them all together. The previous
    // shape (one count-aggregate subtree per frame, ~2 AQE stages each)
    // multiplied scheduler latency by the label count and swung 0.5-3.5 s
    // under load (VERDICT r16); this is also label-count-independent at
    // scale. Property lists come from the schemas (no data read); the
    // driver-side dimension join restores empty frames as n=0 rows.
    val entries: Seq[(String, String, DataFrame)] =
      g.nodeLabels.toSeq.sorted.map(l => ("node", l, g.nodes(l))) ++
        g.edgeTypes.toSeq.sorted.map(t => ("edge", t, g.edges(t)))
    if (entries.isEmpty)
      return ctx.spark.emptyDataFrame
        .select(
          lit("").as("kind"), lit("").as("name"),
          lit(0L).as("n"), lit("").as("props"))
        .limit(0)
    val tagged = entries
      .map { case (k, n, f) =>
        f.select(lit(k).as("kind"), lit(n).as("name"))
      }
      .reduce(_ unionByName _)
    val counts = tagged.groupBy("kind", "name").agg(count(lit(1)).as("n"))
    import ctx.spark.implicits._
    val dim = entries
      .map { case (k, n, f) =>
        (k, n, f.columns.filterNot(meta.contains).sorted.mkString(","))
      }
      .toDF("kind", "name", "props")
    broadcast(dim)
      .join(counts, Seq("kind", "name"), "left")
      .select(
        col("kind"), col("name"),
        coalesce(col("n"), lit(0L)).as("n"), col("props"))
  }

  /** ANALYZE GRAPH analog (ast.hpp:3997): per-property statistics for
    * planning — row / non-null / distinct counts, min/max, and a
    * DECIMAL-accumulated average (partition-stable). Options: label,
    * props (list). Yields one row per property. */
  def analyze(ctx: ProcContext): DataFrame = {
    val label = ctx.optString("label", "Customer")
    val props: Seq[String] = ctx.opts.get("props") match {
      case Some(xs: Seq[_]) => xs.map(_.toString)
      case _ =>
        throw new IllegalArgumentException("graph.analyze needs props: [..]")
    }
    val n = ctx.g.nodes(label)
    props.map { p =>
      n.agg(
        count(lit(1)).as("n"),
        count(col(p)).as("n_nonnull"),
        count_distinct(col(p)).as("n_distinct"),
        min(col(p)).cast("double").as("min_v"),
        max(col(p)).cast("double").as("max_v"),
        (sum(col(p).cast("decimal(38,4)")).cast("double") / count(col(p)))
          .as("avg_v"))
        .select(
          lit(label).as("label"), lit(p).as("prop"),
          col("n"), col("n_nonnull"), col("n_distinct"),
          col("min_v"), col("max_v"), col("avg_v"))
    }.reduce(_ unionByName _)
  }

  /** Betweenness centrality, Brandes' algorithm over a bounded-depth BFS
    * DAG from a deterministic seed set (exact when `maxDepth` ≥ diameter
    * and `seedMax` ≥ all keys; otherwise the standard sampled /
    * k-betweenness estimate). Reference analog:
    * `src/mage/cpp/betweenness_centrality_module`.
    *
    * Options: label/type/weightProp/minWeight (graph selection), `seedMax`
    * (seeds = nodes with id-key < seedMax), `maxDepth` (BFS cap),
    * `directed` (default true).
    *
    * Forward pass: ONE multi-source batched BFS
    * ([[ShortestPath.bfsEdges]]) — dist + shortest-path counts σ per
    * (seed, node). Backward pass: dependency accumulation
    * δ(s,v) = Σ_{w ∈ succ(v)} σ_sv/σ_sw · (1 + δ(s,w)), one equi-join +
    * aggregate per BFS level from the deepest up (`operator.cpp`'s
    * per-source stack loop re-expressed as level-synchronous dataflow —
    * every join keyed on (seed, node), so it shuffles, never broadcasts a
    * nested loop). Per-(seed,node) δ sums accumulate in DECIMAL(38,12) so
    * results are bit-stable across partitionings. Yields
    * (node, centrality) for every selected node (0.0 when off all paths).
    */
  def betweenness(ctx: ProcContext): DataFrame = {
    import ShortestPath.{DistCol, NPathsCol, NodeCol, SeedCol}
    val maxDepth = ctx.optInt("maxDepth", 8)
    val seedMax = ctx.optInt("seedMax", 20)
    val directed = ctx.optString("directed", "true").toBoolean
    val (nodes, edges) = selectGraph(ctx)
    val keyOf = col("node").bitwiseAND(lit((1L << 48) - 1))
    val seeds = nodes.filter(keyOf < seedMax).select(col("node").as(SeedCol))
    val e0 = Expand
      .oriented(edges, if (directed) Expand.Out else Expand.Both, "src", "dst")
      .steps()
    val local = for {
      es <- Cutover.collect(e0)
      ns <- Cutover.collect(nodes)
    } yield {
      import ctx.spark.implicits._
      val nsArr = ns.map(_.getLong(0))
      LocalProcs
        .betweenness(
          nsArr,
          longPairs(es),
          nsArr.filter(n => (n & ((1L << 48) - 1)) < seedMax),
          maxDepth)
        .toSeq
        .toDF("node", "centrality")
    }
    if (local.nonEmpty) return local.get
    val e = e0.persist()
    val vis = ShortestPath
      .bfsEdges(e, seeds, maxDepth)
      .persist()
    // Shortest-path successor DAG: v→w iff edge(v,w) ∧ dist(s,w)=dist(s,v)+1.
    val wSide = vis.select(
      col(SeedCol).as("__s2"),
      col(NodeCol).as("__w"),
      col(DistCol).as("__dw"),
      col(NPathsCol).as("__npw"))
    val dag = vis
      .select(
        col(SeedCol),
        col(NodeCol).as("__v"),
        col(DistCol).as("__dv"),
        col(NPathsCol).as("__npv"))
      .join(e, col("__v") === col(SrcCol))
      .join(
        wSide,
        col(SeedCol) === col("__s2") && col(DstCol) === col("__w") &&
          col("__dw") === col("__dv") + lit(1L))
      .select(
        col(SeedCol), col("__v"), col("__npv"),
        col("__w"), col("__npw"), col("__dw"))
      .persist()
    val maxD = Option(dag.agg(max("__dw")).first().get(0))
      .map(_.asInstanceOf[Long].toInt)
      .getOrElse(0)
    // δ starts empty; each (seed, v) receives contributions from exactly one
    // level (all DAG successors of v sit at dist(v)+1), so plain unions
    // accumulate without re-grouping.
    var delta = vis
      .select(col(SeedCol), col(NodeCol), lit(0.0).as("__delta"))
      .limit(0)
      .transform(Scratch.cp)
    for (l <- maxD to 1 by -1) {
      val contrib = dag
        .filter(col("__dw") === l)
        .join(
          delta.select(
            col(SeedCol).as("__s3"),
            col(NodeCol).as("__n3"),
            col("__delta").as("__dw_delta")),
          col(SeedCol) === col("__s3") && col("__w") === col("__n3"),
          "left_outer")
        .select(
          col(SeedCol),
          col("__v").as(NodeCol),
          (col("__npv").cast("double") / col("__npw") *
            (lit(1.0) + coalesce(col("__dw_delta"), lit(0.0)))).as("__c"))
        .groupBy(SeedCol, NodeCol)
        .agg(
          sum(col("__c").cast("decimal(38,12)")).cast("double").as("__delta"))
      delta = Scratch.cp(delta.unionByName(contrib))
    }
    val bc = delta
      .filter(col(NodeCol) =!= col(SeedCol))
      .groupBy(col(NodeCol).as("node"))
      .agg(sum(col("__delta").cast("decimal(38,12)")).as("__bc"))
    val out = nodes
      .join(bc, Seq("node"), "left_outer")
      .select(
        col("node"),
        coalesce(col("__bc").cast("double"), lit(0.0)).as("centrality"))
      .transform(Scratch.cp)
    Seq(e, vis, dag).foreach(_.unpersist(blocking = false))
    out
  }

  /** Per-node triangle counts over the undirected view of one edge type.
    * Standard compact-forward shape: canonicalize every edge to (a<b),
    * build wedges a→b→c by one equi-join, close them against the edge set
    * by a second equi-join — two shuffles on edge endpoints, never an
    * all-pairs product, so it survives a 100× scale-up (the classic
    * MapReduce triangle-enumeration plan). Yields (node, triangles),
    * 0 for nodes on no triangle. */
  def triangleCount(ctx: ProcContext): DataFrame = {
    val (nodes, edges) = selectGraph(ctx)
    val und = edges
      .select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist()
    val tri = und
      .join(
        und.select(col("a").as("b"), col("b").as("c")),
        Seq("b"))
      .join(
        und.select(col("a"), col("b").as("c")).withColumn("__hit", lit(1)),
        Seq("a", "c"),
        "inner")
      .select(col("a"), col("b"), col("c"))
    val counts = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("__t"))
    val out = nodes
      .join(counts, Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("__t"), lit(0L)).as("triangles"))
      .transform(Scratch.cp)
    und.unpersist(blocking = false)
    out
  }

  /** Deterministic random-walk generation — the sampling stage of
    * `src/mage/cpp/node2vec_module` with p=q=1 (DeepWalk-uniform), made
    * reproducible: at step s the walker at v moves to the out-neighbor w
    * minimizing md5("walkKey:s:wKey") (keys = id low 48 bits). One
    * equi-join + per-walk argmin aggregate per step — the frontier frame
    * is (walks × 1) rows, so a million concurrent walks is still one
    * shuffle per step. Options: label/type, length (4), seedMax (walk
    * starts = nodes with key < seedMax). Yields (walk, step, node). */
  def walks(ctx: ProcContext): DataFrame = {
    val len = ctx.optInt("length", 4)
    val seedMax = ctx.optInt("seedMax", 20)
    val (nodes, edges) = selectGraph(ctx)
    val keyOf = (c: Column) => c.bitwiseAND(lit((1L << 48) - 1))
    val e = edges.persist()
    var cur = nodes
      .filter(keyOf(col("node")) < seedMax)
      .select(keyOf(col("node")).as("walk"), lit(0).as("step"), col("node"))
      .transform(Scratch.cp)
    var out = cur
    for (s <- 1 to len) {
      cur = cur
        .join(e, col("node") === col("src"))
        .select(
          col("walk"),
          struct(
            md5(concat_ws(":", col("walk"), lit(s), keyOf(col("dst"))))
              .as("h"),
            col("dst").as("d")).as("__ch"))
        .groupBy("walk")
        .agg(min("__ch").as("__ch"))
        .select(col("walk"), lit(s).as("step"), col("__ch")("d").as("node"))
        .transform(Scratch.cp)
      out = out.unionByName(cur)
    }
    e.unpersist(blocking = false)
    out
  }

  /** Second-order (p/q-biased) deterministic walks — the node2vec
    * sampling stage (`src/mage/cpp/node2vec_module/algorithm/
    * second_order_random_walk.hpp`): a step from `cur` (having arrived
    * from `prev`) weighs candidate `next` by 1/p when next = prev
    * (return), 1 when next is adjacent to prev (in-out), 1/q otherwise
    * (forward). The reference samples ∝ weight with true randomness;
    * this engine's reproducible analog picks the HIGHEST-bias class and
    * breaks ties by md5("walk:step:nextKey") — same classification
    * machinery (the prev-adjacency join is the second-order part),
    * deterministic for the oracle. Distributed shape per step: one
    * frontier×edges equi-join + one left join against the distinct
    * adjacency pairs + per-walk argmin — frontier stays (walks × 1)
    * rows, no all-pairs anywhere. Options: label/type, length (3),
    * seedMax (12), p (1.0), q (1.0). Yields (walk, step, node). */
  def node2vec(ctx: ProcContext): DataFrame = {
    val len = ctx.optInt("length", 3)
    val seedMax = ctx.optInt("seedMax", 12)
    val p = ctx.optDouble("p").getOrElse(1.0)
    val q = ctx.optDouble("q").getOrElse(1.0)
    val (nodes, edges) = selectGraph(ctx)
    val keyOf = (c: Column) => c.bitwiseAND(lit((1L << 48) - 1))
    val e = edges.persist()
    val adjPairs = e
      .select(col("src").as("__pa"), col("dst").as("__pb"))
      .distinct()
      .persist()
    var cur = nodes
      .filter(keyOf(col("node")) < seedMax)
      .select(
        keyOf(col("node")).as("walk"), lit(0).as("step"),
        col("node"), lit(null).cast("long").as("prev"))
      .transform(Scratch.cp)
    var out = cur.select(col("walk"), col("step"), col("node"))
    for (s <- 1 to len) {
      cur = cur
        .join(e, col("node") === col("src"))
        .join(
          adjPairs,
          col("prev") === col("__pa") && col("dst") === col("__pb"),
          "left_outer")
        .select(
          col("walk"),
          struct(
            // highest bias first (negated for the struct-min)
            when(col("prev").isNull, lit(-1.0))
              .when(col("dst") === col("prev"), lit(-1.0 / p))
              .when(col("__pa").isNotNull, lit(-1.0))
              .otherwise(lit(-1.0 / q)).as("nb"),
            md5(concat_ws(":", col("walk"), lit(s), keyOf(col("dst"))))
              .as("h"),
            keyOf(col("dst")).as("dk"),
            col("dst").as("d"),
            col("node").as("pv")).as("__ch"))
        .groupBy("walk")
        .agg(min("__ch").as("__ch"))
        .select(
          col("walk"), lit(s).as("step"),
          col("__ch")("d").as("node"), col("__ch")("pv").as("prev"))
        .transform(Scratch.cp)
      out = out.unionByName(cur.select(col("walk"), col("step"), col("node")))
    }
    e.unpersist(blocking = false)
    adjPairs.unpersist(blocking = false)
    out
  }

  /** DUMP DATABASE analog (`src/query/dump.cpp`): one recreate-Cypher
    * statement per node / edge of the selected label/type — nodes as
    * `CREATE (:L {k: v, …});`, edges as id-matched `MATCH … CREATE`.
    * Property lists are name-sorted, NULLs skipped, strings quoted with
    * \'-escaping, timestamps as datetime('ISO') — all pure column
    * transforms over the frames (no driver-side iteration). Options:
    * label and/or type. Yields (stmt). */
  def dump(ctx: ProcContext): DataFrame = {
    import org.apache.spark.sql.types._
    val meta = Set(
      GraphState.IdCol, GraphState.LabelsCol,
      GraphState.SrcCol, GraphState.DstCol, GraphState.TypeCol)
    // names backquote unless plain; strings escape `\` and `'`
    def name(s: String) = graft.cypher.CypherParser.quoteName(s)
    def repr(c: Column, dt: DataType): Column = dt match {
      case StringType =>
        val escaped = regexp_replace(
          regexp_replace(c, "\\\\", "\\\\\\\\"), "'", "\\\\'")
        concat(lit("'"), escaped, lit("'"))
      case TimestampType | TimestampNTZType =>
        concat(
          lit("datetime('"),
          date_format(c, "yyyy-MM-dd'T'HH:mm:ss"),
          lit("')"))
      case _ => c.cast("string")
    }
    // Braces appear iff the frame has any prop columns — decided at plan
    // time (a propless frame emits no "{}" at all). Per-row NULL props are
    // skipped by concat_ws.
    def propPart(frame: DataFrame): Option[Column] = {
      val fields = frame.schema.fields
        .filterNot(f => meta.contains(f.name))
        .sortBy(_.name)
      if (fields.isEmpty) None
      else {
        val frags = fields.map { f =>
          val c = graft.core.Frames.named(f.name)
          when(c.isNotNull, concat(lit(s"${name(f.name)}: "), repr(c, f.dataType)))
        }
        Some(concat(lit(" {"), concat_ws(", ", frags.toSeq: _*), lit("}")))
      }
    }
    val nodeStmts = ctx.opts.get("label").map(_.toString).toSeq.map { l =>
      val frame = ctx.g.nodes(l)
      frame.select(
        concat(
          Seq(lit(s"CREATE (:${name(l)}")) ++ propPart(frame) ++
            Seq(lit(");")): _*)
          .as("stmt"))
    }
    val edgeStmts = ctx.opts.get("type").map(_.toString).toSeq.map { t =>
      val frame = ctx.g.edges(t)
      frame.select(
        concat(
          Seq(
            lit("MATCH (u), (v) WHERE id(u) = "),
            col(GraphState.SrcCol).cast("string"),
            lit(" AND id(v) = "),
            col(GraphState.DstCol).cast("string"),
            lit(s" CREATE (u)-[:${name(t)}")) ++
            propPart(frame) ++ Seq(lit("]->(v);")): _*)
          .as("stmt"))
    }
    val all = nodeStmts ++ edgeStmts
    require(all.nonEmpty, "graph.dump needs label and/or type")
    all.reduce(_ unionByName _)
  }

  // ---------- text / vector search procedures ----------
  //
  // The reference surfaces its tantivy text index and usearch vector index
  // as procedures (`CALL text_search.search(...)`, vector index queries;
  // `src/storage/v2/indices/text_index.hpp:37-48`,
  // `vector_index.hpp:125-129`; e2e `tests/e2e/text_search_*`,
  // `vector_search_*`). Here the same surface routes to the DataFrame
  // inverted/positional indexes ([[graft.llm.TextSearch]]) and the
  // brute-force / bucketed cosine ops — postings bucketed by word, vectors
  // by sign-code, so a CALL touches only its terms'/buckets' partitions.

  private def docFrame(ctx: ProcContext): DataFrame =
    ctx.g.nodes(ctx.optString("label", "Document"))

  /** Per-(graph version, label, kind) memo of built text indexes — the
    * `degreeFrame` pattern (Planner): an index rebuilt from the corpus on
    * every CALL is not an index. Keyed weakly on GraphState identity so
    * superseded versions free theirs; built frames are checkpointed
    * ([[Scratch.cp]]), so a second CALL against the same version plans
    * a leaf scan instead of the scan+explode+groupBy build (see
    * `graft.Dev explain`). At 100 TB this memo is the in-session stand-in for a
    * persisted index table (the reference persists tantivy indexes,
    * text_index.hpp:37-48). */
  private val textIndexCache =
    new java.util.WeakHashMap[
      GraphState,
      scala.collection.concurrent.TrieMap[String, DataFrame]]()

  private def memoIndex(g: GraphState, key: String)(
      build: => DataFrame): DataFrame = {
    val perState = textIndexCache.synchronized {
      var inner = textIndexCache.get(g)
      if (inner == null) {
        inner = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
        textIndexCache.put(g, inner)
      }
      inner
    }
    perState.getOrElseUpdate(key, persistedOrBuild(g, key)(build))
  }

  /** Cross-session index persistence (the 100 TB story; the reference
    * persists its tantivy/usearch indexes, text_index.hpp:37-48,
    * vector_index.hpp:125-129): when `spark.graft.index.dir` is set, a
    * built index is written as a parquet table under it and a FRESH
    * session's first CALL plans a plain parquet scan instead of the
    * build. The path is keyed by the graph's CONTENT-VERSION tag
    * ([[GraphState.indexTag]]) as well as the index key: loader graphs
    * share the stable `base` tag across sessions (reuse), while every
    * mutation mints a new tag — so a post-mutation CALL rebuilds and
    * re-persists instead of silently serving the pre-mutation table.
    * Unset → in-session memo only. */
  private def persistedOrBuild(g: GraphState, key: String)(
      build: => DataFrame): DataFrame = {
    val dir = org.apache.spark.sql.SparkSession.active.conf
      .get("spark.graft.index.dir", null)
    if (dir == null) Scratch.cp(build)
    else {
      val full = s"${g.indexTag}:$key"
      val path = s"$dir/${full.replaceAll("[^A-Za-z0-9_.-]", "_")}"
      val spark = org.apache.spark.sql.SparkSession.active
      val exists = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(new org.apache.hadoop.fs.Path(path))
      if (!exists) build.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
  }

  /** `CALL text.search({terms: 'w1 w2 …', limit: n})` — all-terms (AND)
    * search ranked by summed term frequency. Yields (doc_id, score). */
  def textSearch(ctx: ProcContext): DataFrame = {
    val terms = ctx.optString("terms", "")
      .trim.split("\\s+").toSeq.filter(_.nonEmpty)
    require(terms.nonEmpty, "text.search needs terms: 'w1 w2 …'")
    val label = ctx.optString("label", "Document")
    val postings = memoIndex(ctx.g, s"inv:$label")(
      graft.llm.TextSearch.invertedIndex(docFrame(ctx), "doc_id", "text"))
    graft.llm.TextSearch
      .searchAll(postings, "doc_id", terms, ctx.optInt("limit", 10))
  }

  /** `CALL text.bm25({terms: '…', limit: n})` — any-term (OR) search,
    * Okapi BM25 ranking (tantivy's), DECIMAL-stable scores floored to 4
    * decimals BEFORE the top-limit cut so ranking is bit-stable too.
    * Yields (doc_id, score, n_terms). */
  def textBm25(ctx: ProcContext): DataFrame = {
    val terms = ctx.optString("terms", "")
      .trim.split("\\s+").toSeq.filter(_.nonEmpty)
    require(terms.nonEmpty, "text.bm25 needs terms: 'w1 w2 …'")
    val label = ctx.optString("label", "Document")
    val postings = memoIndex(ctx.g, s"inv:$label")(
      graft.llm.TextSearch.invertedIndex(docFrame(ctx), "doc_id", "text"))
    val lens = memoIndex(ctx.g, s"lens:$label")(
      docFrame(ctx).select(
        col("doc_id"),
        size(graft.llm.LlmOps.words(col("text"))).cast("long").as("len")))
    graft.llm.TextSearch
      .searchBM25(
        postings, lens, "doc_id", terms, ctx.optInt("limit", 10),
        floorScale = Some(10000L))
  }

  /** `CALL text.phrase({phrase: 'w1 w2 …'})` — exact phrase search over the
    * positional index. Yields (doc_id, n_occ). */
  def textPhrase(ctx: ProcContext): DataFrame = {
    val phrase = ctx.optString("phrase", "")
      .trim.split("\\s+").toSeq.filter(_.nonEmpty)
    require(phrase.nonEmpty, "text.phrase needs phrase: 'w1 w2 …'")
    val label = ctx.optString("label", "Document")
    val pos = memoIndex(ctx.g, s"pos:$label")(
      graft.llm.TextSearch.positionalIndex(docFrame(ctx), "doc_id", "text"))
    graft.llm.TextSearch.searchPhrase(pos, "doc_id", phrase)
  }

  /** `CALL vector.search({k: n, qmax: m, bucketed: bool})` — cosine top-k
    * over the Embedding label for every query vector (vec_id < qmax).
    * bucketed=false is the exact brute-force path (query side broadcast);
    * bucketed=true restricts candidates to the query's 8-bit sign-code
    * bucket — the IVF-style scale path where the code is the shuffle key.
    * Similarities round to 6 decimals (portability). Yields (q, c, sim). */
  def vectorSearch(ctx: ProcContext): DataFrame = {
    import graft.llm.LlmOps.{dot, l2norm, signCode, vecD}
    val k = ctx.optInt("k", 3)
    val qmax = ctx.optInt("qmax", 5)
    val bucketed = ctx.optString("bucketed", "false").toBoolean
    // norms + sign codes are the vector INDEX — memoized per graph
    // version and persisted under spark.graft.index.dir like the text
    // postings (the reference persists its usearch index the same way)
    val n = memoIndex(ctx.g, "vec:Embedding")(
      ctx.g.nodes("Embedding")
        .select(col("vec_id"), vecD(col("embedding")).as("v"))
        .withColumn("nrm", l2norm(col("v")))
        .withColumn("code", signCode(col("v"), 8)))
    val q = n.filter(col("vec_id") < qmax).select(
      col("vec_id").as("q"),
      col("v").as("qv"),
      col("nrm").as("qn"),
      col("code").as("qcode"))
    val sim = round(
      dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6).as("sim")
    // bucketed: EQUI-join keyed on the sign code (shuffle-hash hinted) —
    // both sides partition by code, so a large query set scales instead of
    // riding an unconditional broadcast; brute-force keeps the broadcast
    // (the query side is small by construction, vec_id < qmax).
    val joined =
      if (bucketed)
        q.join(
          n.hint("shuffle_hash"),
          col("qcode") === col("code") && col("vec_id") =!= col("q"))
      else
        broadcast(q).join(n, col("vec_id") =!= col("q"))
    joined
      .select(col("q"), col("vec_id").as("c"), sim)
      .withColumn(
        "rk",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("q").orderBy(col("sim").desc, col("c"))))
      .filter(col("rk") <= k)
      .drop("rk")
  }

  /** Community detection by synchronous label propagation with
    * deterministic ties (most frequent neighbor label; ties → smallest
    * label; isolated nodes keep their own). Reference analog:
    * `src/mage/cpp/community_detection_module` (LabelRankT family) — the
    * deterministic synchronous variant, so results are reproducible and
    * oracle-checkable. Options: label/type/weightProp/minWeight,
    * `iterations` (fixed round count, default 10). Each round is one
    * shuffle: labels ⋈ undirected edges → per-(node, label) counts →
    * per-node argmax, all map-side-combinable aggregates. Yields
    * (node, community).
    */
  /** Louvain-class modularity communities — the deterministic synchronous
    * local-move variant (one level, no hierarchy contraction) of the
    * reference's `leiden_community_detection_module`. Each round every
    * node considers joining a neighbor community; comparisons use the
    * INTEGER-exact gain score `2m·w(v,C) − deg(v)·vol(C∖v)` (∝ modularity
    * gain at fixed v, unweighted), so results are bit-stable and the
    * DuckDB oracle mirrors them exactly. Ties → smaller community id;
    * fixed `iterations` (default 6). Per round: two aggregations + one
    * argmax, all map-side combinable — one shuffle family each, no
    * all-pairs work. Yields (node, community). */
  def louvain(ctx: ProcContext): DataFrame = {
    val iters = ctx.optInt("iterations", 6)
    val (nodes, edges0) = selectGraph(ctx)
    val simple = edges0.filter(col("src") =!= col("dst"))
    val local = for {
      esr <- Cutover.collect(simple)
      ns <- Cutover.collect(nodes)
    } yield {
      import ctx.spark.implicits._
      val es = longPairs(esr)
      LocalProcs
        .louvain(
          ns.map(_.getLong(0)),
          es ++ es.map(_.swap), // the distributed body's undirected view
          iters)
        .toSeq
        .toDF("node", "community")
    }
    if (local.nonEmpty) return local.get
    val und = simple
      .unionByName(simple.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val nd = nodes
      .join(deg, Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"))
      .transform(Scratch.cp)
    val m2 = math.max(und.count(), 1L) // = 2m (each edge counted twice)
    var comm = nd
      .select(col("node"), col("deg"), col("node").as("community"))
      .transform(Scratch.cp)
    for (_ <- 1 to iters) {
      val vol = comm.groupBy("community").agg(sum("deg").as("vol"))
      val wvc = und
        .join(
          comm.select(col("node").as("dst"), col("community").as("cand")),
          Seq("dst"))
        .groupBy(col("src").as("node"), col("cand"))
        .agg(count(lit(1)).as("w"))
      val own = comm.select(
        col("node"), col("community").as("cand"), lit(0L).as("w"))
      val best = wvc
        .unionByName(own)
        .groupBy("node", "cand")
        .agg(max("w").as("w"))
        .join(comm.select(col("node"), col("deg"), col("community")), Seq("node"))
        .join(
          vol.select(col("community").as("cand"), col("vol")),
          Seq("cand"))
        .withColumn(
          "volx",
          col("vol") - when(col("cand") === col("community"), col("deg"))
            .otherwise(lit(0L)))
        .withColumn("score", lit(m2) * col("w") - col("deg") * col("volx"))
        .groupBy("node")
        .agg(max(struct(col("score"), (-col("cand")).as("__neg"))).as("__b"))
        .select(col("node"), (-col("__b")("__neg")).as("community"))
      comm = nd
        .join(best, Seq("node"), "left_outer")
        .select(
          col("node"),
          col("deg"),
          coalesce(col("community"), col("node")).as("community"))
        .transform(Scratch.cp)
    }
    und.unpersist(blocking = false)
    comm.select(col("node"), col("community"))
  }

  /** Hierarchical Leiden-style communities
    * (`src/mage/cpp/leiden_community_detection_module/`): the [[louvain]]
    * local-move phase iterated with graph CONTRACTION until a level
    * produces no merge — deterministic variant (stochastic refinement
    * replaced by the integer-exact score + smallest-community-id
    * tie-break, so results are reproducible and oracle-checkable).
    * Levels are weighted graphs: contracted edges carry summed
    * multiplicities (`sum(w)` replaces `count(*)` in every aggregate),
    * intra-community weight folds into self-loops, which count twice in
    * volumes but never in w(v,C). Options: label/type/weightProp/
    * minWeight, `iterations` per level (default 6), `maxLevels`
    * (default 10). Per level: the louvain round family + one contraction
    * (two joins + two aggregations) — everything map-side combinable,
    * graph size falls geometrically across levels so the level-0 cost
    * dominates at any scale. Yields (node, community). */
  def leiden(ctx: ProcContext): DataFrame = {
    val iters = ctx.optInt("iterations", 6)
    val maxLevels = ctx.optInt("maxLevels", 10)
    val (nodes, edges0) = selectGraph(ctx)
    val simple = edges0.filter(col("src") =!= col("dst"))
    val local = for {
      esr <- Cutover.collect(simple)
      ns <- Cutover.collect(nodes)
    } yield {
      import ctx.spark.implicits._
      val es = longPairs(esr)
      LocalProcs
        .leiden(ns.map(_.getLong(0)), es ++ es.map(_.swap), iters, maxLevels)
        .toSeq
        .toDF("node", "community")
    }
    if (local.nonEmpty) return local.get
    // weighted both-direction view, self-loops excluded (they live in selfw)
    var und = simple
      .unionByName(simple.select(col("dst").as("src"), col("src").as("dst")))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("w"))
      .transform(Scratch.cp)
    var selfw = nodes.select(col("node"), lit(0L).as("sw")).transform(Scratch.cp)
    var lvlNodes = nodes.select(col("node")).transform(Scratch.cp)
    // original node -> current level node
    var mapping = nodes.select(col("node"), col("node").as("lvl"))
      .transform(Scratch.cp)
    var level = 0
    var progressed = true
    while (progressed && level < maxLevels) {
      level += 1
      val degE = und.groupBy(col("src").as("node")).agg(sum("w").as("dw"))
      val nd = lvlNodes
        .join(degE, Seq("node"), "left_outer")
        .join(selfw, Seq("node"), "left_outer")
        .select(
          col("node"),
          (coalesce(col("dw"), lit(0L)) + lit(2L) * coalesce(col("sw"), lit(0L)))
            .as("deg"))
        .transform(Scratch.cp)
      val m2 =
        math.max(nd.agg(sum("deg")).first.getLong(0), 1L)
      var comm = nd
        .select(col("node"), col("deg"), col("node").as("community"))
        .transform(Scratch.cp)
      var round = 0
      var changed = true
      while (changed && round < iters) {
        round += 1
        val vol = comm.groupBy("community").agg(sum("deg").as("vol"))
        val wvc = und
          .join(
            comm.select(col("node").as("dst"), col("community").as("cand")),
            Seq("dst"))
          .groupBy(col("src").as("node"), col("cand"))
          .agg(sum("w").as("wc"))
        val own = comm.select(
          col("node"), col("community").as("cand"), lit(0L).as("wc"))
        val best = wvc
          .unionByName(own)
          .groupBy("node", "cand")
          .agg(max("wc").as("wc"))
          .join(comm.select(col("node"), col("deg"), col("community")), Seq("node"))
          .join(vol.select(col("community").as("cand"), col("vol")), Seq("cand"))
          .withColumn(
            "volx",
            col("vol") - when(col("cand") === col("community"), col("deg"))
              .otherwise(lit(0L)))
          .withColumn("score", lit(m2) * col("wc") - col("deg") * col("volx"))
          .groupBy("node")
          .agg(max(struct(col("score"), (-col("cand")).as("__neg"))).as("__b"))
          .select(col("node"), (-col("__b")("__neg")).as("community"))
        val next = nd
          .join(best, Seq("node"), "left_outer")
          .select(
            col("node"),
            col("deg"),
            coalesce(col("community"), col("node")).as("community"))
          .transform(Scratch.cp)
        changed = !next
          .join(
            comm.select(col("node"), col("community").as("__old")),
            Seq("node"))
          .filter(col("community") =!= col("__old"))
          .isEmpty
        comm = next
      }
      progressed =
        comm.select("community").distinct().count() < nd.count()
      if (progressed) {
        val cm = comm.select(col("node"), col("community"))
        mapping = mapping
          .join(
            cm.select(col("node").as("lvl"), col("community")),
            Seq("lvl"))
          .select(col("node"), col("community").as("lvl"))
          .transform(Scratch.cp)
        val e2 = und
          .join(
            cm.select(col("node").as("src"), col("community").as("cs")),
            Seq("src"))
          .join(
            cm.select(col("node").as("dst"), col("community").as("cd")),
            Seq("dst"))
          .select(col("cs"), col("cd"), col("w"))
        // both directions present → each undirected intra edge counts twice
        val intra = e2
          .filter(col("cs") === col("cd"))
          .groupBy(col("cs").as("node"))
          .agg((sum("w") / 2).cast("long").as("swE"))
        val oldSelf = selfw
          .join(cm, Seq("node"))
          .groupBy(col("community").as("node"))
          .agg(sum("sw").as("swO"))
        lvlNodes = cm.select(col("community").as("node")).distinct()
          .transform(Scratch.cp)
        selfw = lvlNodes
          .join(intra, Seq("node"), "left_outer")
          .join(oldSelf, Seq("node"), "left_outer")
          .select(
            col("node"),
            (coalesce(col("swE"), lit(0L)) + coalesce(col("swO"), lit(0L)))
              .as("sw"))
          .transform(Scratch.cp)
        und = e2
          .filter(col("cs") =!= col("cd"))
          .groupBy(col("cs").as("src"), col("cd").as("dst"))
          .agg(sum("w").as("w"))
          .transform(Scratch.cp)
      }
    }
    mapping.select(col("node"), col("lvl").as("community"))
  }

  /** `CALL algo.bridges({type, weightProp, minWeight})` — exact bridges of
    * the undirected selected edge set via [[graft.operators.Biconnected]]
    * (BFS forest + chord-to-LCA aux components; exact on EVERY graph —
    * dense cores, parallel edges — in O(forest depth) rounds). Yields
    * (src, dst) per bridge edge, canonical src < dst. */
  def bridgesProc(ctx: ProcContext): DataFrame = {
    val edges = Scratch.cp(selectedEdges(ctx))
    val flags = graft.operators.Biconnected(ctx.spark, edges)
      .select(col("edge_id"), col("is_bridge"))
    edges
      .join(flags.filter(col("is_bridge")), Seq("edge_id"), "left_semi")
      .select(
        least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
  }

  /** `CALL algo.cycles({type, weightProp, minWeight})` — fundamental
    * cycles (`cycles_module`: spanning tree + one cycle per non-tree
    * edge) via [[graft.operators.Cycles]] (BFS forest + synchronized
    * chord walks — no DFS). Yields (cycle_id, node). */
  def cyclesProc(ctx: ProcContext): DataFrame = {
    val edges = selectedEdges(ctx)
    val nodes = edges
      .select(explode(array(col("src"), col("dst"))).as("node"))
      .distinct()
    graft.operators.Cycles.fundamental(ctx.spark, nodes, edges)
  }

  /** `CALL algo.biconnected({type, weightProp, minWeight})` — biconnected
    * components (`biconnected_components_module`) via
    * [[graft.operators.Biconnected]] (BFS forest + simultaneous
    * chord-to-LCA walks emitting an edge-adjacency aux graph, min-label
    * components over it) — exact for EVERY input, including dense cores,
    * parallel edges, and self-loops. Yields (bcc_id, src, dst), src < dst,
    * bcc ids dense from 0 by min member edge id (assigned by distributed
    * sort + zipWithIndex, no single-partition window). */
  def biconnectedProc(ctx: ProcContext): DataFrame = {
    val edges = Scratch.cp(selectedEdges(ctx))
    val flags = graft.operators.Biconnected(ctx.spark, edges)
    val ids = graft.operators.Ranks.orderedIds(
      flags.select("bcc").distinct(), "bcc_id", "bcc")
    edges
      .join(flags.select(col("edge_id"), col("bcc")), Seq("edge_id"))
      .join(ids, Seq("bcc"))
      .select(
        col("bcc_id"),
        least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
  }

  /** The (edge_id, src, dst) selection bridges/cycles/biconnected share. */
  private def selectedEdges(ctx: ProcContext): DataFrame = {
    val tpe = ctx.optString("type", "KNOWS")
    val e0 = ctx.g.edges(tpe)
    val filtered =
      (ctx.opts.get("weightProp"), ctx.optDouble("minWeight")) match {
        case (Some(p), Some(w)) => e0.filter(col(p.toString) >= w)
        case _ => e0
      }
    filtered.select(
      col(IdCol).as("edge_id"),
      col(SrcCol).as("src"),
      col(DstCol).as("dst"))
  }

  def labelPropagation(ctx: ProcContext): DataFrame = {
    val iters = ctx.optInt("iterations", 10)
    val (nodes, edges) = selectGraph(ctx)
    val local = for {
      esr <- Cutover.collect(edges)
      ns <- Cutover.collect(nodes)
    } yield {
      import ctx.spark.implicits._
      val es = longPairs(esr)
      LocalProcs
        .labelPropagation(
          ns.map(_.getLong(0)),
          es ++ es.map(_.swap), // undirected multiset incl. self-loops
          iters)
        .toSeq
        .toDF("node", "community")
    }
    if (local.nonEmpty) return local.get
    val und = edges
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    var lab = nodes.withColumn("community", col("node")).transform(Scratch.cp)
    for (_ <- 1 to iters) {
      val votes = lab
        .join(und, col("node") === col("src"))
        .groupBy(col("dst").as("__n"), col("community"))
        .agg(count(lit(1)).as("__cnt"))
        // argmax by (count desc, label asc): max over (cnt, -label)
        .groupBy("__n")
        .agg(max(struct(col("__cnt"), (-col("community")).as("__neg")))
          .as("__best"))
        .select(col("__n").as("node"), (-col("__best")("__neg")).as("__new"))
      lab = lab
        .join(votes, Seq("node"), "left_outer")
        .select(
          col("node"),
          coalesce(col("__new"), col("community")).as("community"))
        .transform(Scratch.cp)
    }
    und.unpersist(blocking = false)
    lab
  }
}
