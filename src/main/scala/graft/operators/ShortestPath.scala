package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import org.apache.spark.sql.types.{ArrayType, DataType}

import graft.core.GraphState

/** Shortest-path family — the reference's BFS/weighted cursors of
  * `ExpandVariable` (`src/query/plan/operator.hpp:1172`):
  *
  *   - `STShortestPathCursor` / `SingleSourceShortestPathCursor`
  *     (`operator.cpp:2458`, `:2726`) → [[bfsEdges]]
  *   - `ExpandWeightedShortestPathCursor` (`operator.cpp:3000`) → [[weighted]]
  *   - `ExpandAllShortestPathsCursor` (`operator.cpp:3309`) → [[bfsEdges]]'s
  *     `npaths` column (shortest-path multiplicity), exploded by the planner
  *     into one row per path.
  *
  * Spark-first design: instead of a per-(source,target) cursor, one
  * **multi-source batched BFS** — every distinct seed advances one level per
  * round, each round being a frontier⋈edges equi-join + per-(seed,node)
  * aggregate. On a cluster that is: one shuffle per level over a frontier
  * that is never larger than (seeds × reachable nodes), with an emptiness
  * probe for early stop. No driver-side per-row loops; the driver only
  * steers rounds. Per-round `persist` bounds lineage; frames are unpersisted
  * eagerly when superseded.
  *
  * Like the reference, which runs each search kind as one cursor with the
  * filter lambda as an optional argument, every distributed search shares
  * one expansion step ([[expand]]) and differs only in what it carries
  * ([[Carry]]: nothing, the representative path's id arrays, or entity
  * structs under a [[PathFilter]]) and in its merge rule: the BFS loop
  * ([[bfsLoop]]) keeps the first level that reaches a node, the relaxation
  * loop ([[relax]]) keeps strict (weight, dist) improvements, and
  * [[weightedAllCarry]] keeps every path tying the best weight.
  */
object ShortestPath {

  val SeedCol = "__sp_seed"
  val NodeCol = "__sp_node"
  val DistCol = "__sp_dist"
  val NPathsCol = "__sp_npaths"
  val WeightCol = "__sp_w"
  /** Column name the caller must use for the edge weight in [[weighted]]. */
  val EdgeWeightCol = "__sp_we"
  /** Optional per-seed INITIAL weight column on the seeds frame of
    * [[weighted]] / [[weightedCarry]] — the reference's weight lambda is
    * also evaluated once at the source vertex with a NULL edge
    * (`operator.cpp:3000` region; `(e, v | v.w)` vertex weights count the
    * seed too). Absent → 0. */
  val InitWeightCol = "__sp_w0"
  /** One concrete shortest path per (seed, node) — node-id / edge-id arrays
    * ([[bfsEdges]] with `withPaths = true`). */
  val PathNodesCol = "__sp_path_nodes"
  val PathEdgesCol = "__sp_path_edges"

  /** Candidate budget factor of [[kShortest]]'s spur-case hedge. */
  private val KShortestOverprovision = 2L

  /** Columns a [[PathFilter]]'s step sees on the per-expansion candidate
    * frame: full entity structs for the traversed edge / target node; the
    * accumulated entity-struct path arrays INCLUDING the candidate ride
    * under the filter's `pathCols` — the reference evaluates its filter
    * lambda against exactly this state per expansion (`operator.cpp:2458`
    * region). The caller supplies [[EStructCol]] on the edge frame and
    * [[NStructCol]] on the filter's node frame. */
  val EStructCol = "__sp_estruct"
  val NStructCol = "__sp_nstruct"

  /** The traversal edges of an unweighted path search ([[bfsEdges]],
    * [[bfsAllPathsEdges]], [[kShortest]]). The distributed operators run on
    * [[frame]], pre-oriented (src, dst, `__sp_eid`); the driver-local probe
    * ([[LocalSearch.captureEdges]]) captures the same rows under the
    * cutover. */
  sealed trait SearchEdges { def frame: DataFrame }

  /** A caller-built frame (filtered subgraphs, procedures): the probe
    * collects it. */
  final case class FrameEdges(frame: DataFrame) extends SearchEdges

  /** A version's whole edge set of `types`, oriented by `dir`: the probe
    * reads the version's memoized capture ([[GraphState.localTypedEdges]])
    * and orients it on the driver, so repeated searches on one version
    * collect no edges. The frame is built only when the search runs
    * distributed. */
  final case class TypedEdges(
      g: GraphState, types: Seq[String], dir: Expand.Direction)
      extends SearchEdges {
    lazy val frame: DataFrame =
      Expand.oriented(
        g.edgesOfTypes(types), dir, GraphState.SrcCol, GraphState.DstCol)
        .steps(col(GraphState.IdCol).as("__sp_eid"))
  }

  /** `edges` with an `__sp_eid` column (0 when the caller has none). */
  private def withEid(edges: DataFrame): DataFrame =
    if (edges.columns.contains("__sp_eid")) edges
    else edges.withColumn("__sp_eid", lit(0L))

  /** A per-expansion filter over the accumulated path — the reference's
    * 3-var filter lambda `(e, n, p | pred)` (`ast.hpp:1899`, evaluated per
    * expansion in `operator.cpp:2458`). Path-dependent admissibility
    * forces the entity-struct path arrays INTO the fixpoint (an
    * after-the-fact reconstruction can't re-apply a predicate that pruned
    * mid-search), so rows carry O(dist) structs — the same per-expansion
    * cost the reference pays; only queries that ask for path-dependent
    * filtering pay it. The searches that take one need [[EStructCol]] (the
    * full edge entity struct, original `_src`/`_dst` kept for direction
    * recovery) on their edge frame.
    *
    * @param nodes (`GraphState.IdCol`, [[NStructCol]]) full node structs
    * @param step candidate frame → keep-predicate; sees [[EStructCol]],
    *        [[NStructCol]], the accumulated path (including the candidate
    *        edge/node) under the three `pathCols` names and, in the
    *        weighted searches, the accumulated weight (incl. the candidate
    *        edge) under [[WeightCol]]
    * @param pathCols (nodestructs, edgestructs, len) column names the
    *        accumulated path is exposed under (the caller picks its
    *        frame-variable naming so its expression lowering resolves)
    */
  final case class PathFilter(
      nodes: DataFrame,
      step: DataFrame => Column,
      pathCols: (String, String, String))

  /** What a distributed search carries per (seed, node) besides its
    * distances. */
  private sealed trait Carry {
    /** The representative path's id arrays, which break ties. */
    def ids: Seq[String] = Seq(PathNodesCol, PathEdgesCol)
    /** Entity-struct arrays: the representative's payload, never compared
      * (struct fields like maps aren't orderable). */
    def structs: Seq[String] = Nil
  }

  /** Distances only. */
  private case object NoPath extends Carry {
    override def ids: Seq[String] = Nil
  }

  /** The representative path's node-id / edge-id arrays. */
  private case object IdPath extends Carry

  /** Id arrays plus entity-struct arrays under `filter`, which prunes every
    * expansion. `nodes` is (`__sp_nid`, [[NStructCol]]), persisted by
    * [[carrying]]. */
  private final case class StructPath(
      filter: PathFilter, nodes: DataFrame, edgeStruct: DataType)
      extends Carry {
    override def structs: Seq[String] =
      Seq(filter.pathCols._1, filter.pathCols._2)
  }

  /** `body` over `edges`, persisted for its duration. Only a cache this
    * call made is dropped: a frame its caller persisted stays cached. */
  private def persisted[T](edges: DataFrame)(body: DataFrame => T): T = {
    val callerPersisted = edges.storageLevel != StorageLevel.NONE
    if (!callerPersisted) edges.persist(StorageLevel.MEMORY_AND_DISK)
    try body(edges)
    finally if (!callerPersisted) edges.unpersist(blocking = false)
  }

  /** Run a path-carrying `search` over `edges0`, persisted for its
    * duration, with the carry `filter` asks for: the id arrays without one;
    * with one, the entity structs too, over its node structs (also
    * persisted), dropped from the result. */
  private def carrying(edges0: DataFrame, filter: Option[PathFilter])(
      search: (DataFrame, Carry) => DataFrame): DataFrame =
    persisted(edges0) { edges =>
      filter match {
        case None => search(edges, IdPath)
        case Some(f) =>
          val nodes = f.nodes
            .select(col(GraphState.IdCol).as("__sp_nid"), col(NStructCol))
            .persist(StorageLevel.MEMORY_AND_DISK)
          val carry = StructPath(f, nodes, edges.schema(EStructCol).dataType)
          val out = search(edges, carry)
          nodes.unpersist(blocking = false)
          out.drop(carry.structs: _*)
      }
    }

  /** A search's level 0, checkpointed: every seed at itself with
    * `measures` and the carry's one-node path. A filtered search starts
    * only from seeds that have a node struct. */
  private def start(
      seeds: DataFrame, carry: Carry, measures: Seq[Column]): DataFrame = {
    val ids =
      if (carry.ids.isEmpty) Nil
      else
        Seq(
          array(col(SeedCol)).as(PathNodesCol),
          array().cast("array<long>").as(PathEdgesCol))
    val (from, structs) = carry match {
      case StructPath(f, nodes, edgeStruct) =>
        val (pnCol, peCol, _) = f.pathCols
        (seeds.join(nodes, col(SeedCol) === col("__sp_nid")),
          Seq(
            array(col(NStructCol)).as(pnCol),
            array().cast(ArrayType(edgeStruct)).as(peCol)))
      case _ => (seeds, Nil)
    }
    from
      .select(
        Seq(col(SeedCol), col(SeedCol).as(NodeCol)) ++ measures ++ ids ++
          structs: _*)
      .transform(Scratch.cp)
  }

  /** The expansion step of every distributed search: join the frontier
    * with the edges (and, under a filter, the target's node struct),
    * append the edge to the carried arrays, and keep the candidates the
    * filter admits.
    *
    * @param measures the search's per-candidate columns over the joined
    *        row (path counts, or the accumulated weight and hop count)
    * @param len the candidate's hop count, the filter's path length
    * @return (seed, node, measures…, carried arrays…) per candidate
    */
  private def expand(
      frontier: DataFrame,
      edges: DataFrame,
      carry: Carry,
      measures: Seq[Column],
      len: Column): DataFrame = {
    val joined = frontier.join(edges, col(NodeCol) === col(GraphState.SrcCol))
    val ids =
      if (carry.ids.isEmpty) Nil
      else
        Seq(
          concat(col(PathNodesCol), array(col(GraphState.DstCol)))
            .as(PathNodesCol),
          concat(col(PathEdgesCol), array(col("__sp_eid")))
            .as(PathEdgesCol))
    val cols =
      Seq(col(SeedCol), col(GraphState.DstCol).as(NodeCol)) ++ measures ++ ids
    carry match {
      case StructPath(f, nodes, _) =>
        val (pnCol, peCol, plenCol) = f.pathCols
        val cand = joined
          .join(nodes, col(GraphState.DstCol) === col("__sp_nid"))
          .select(
            cols ++ Seq(
              concat(col(pnCol), array(col(NStructCol))).as(pnCol),
              concat(col(peCol), array(col(EStructCol))).as(peCol),
              col(EStructCol),
              col(NStructCol)): _*)
          .withColumn(plenCol, len)
        cand.filter(f.step(cand)).drop(plenCol, EStructCol, NStructCol)
      case _ => joined.select(cols: _*)
    }
  }

  /** The representative of a (seed, node) group: `min` over `key` then the
    * id arrays — the lexicographically smallest path among the smallest
    * keys — with the entity-struct arrays as `min_by` payload of the same
    * order. Returns the aggregates and the columns that unpack them. */
  private def representative(
      carry: Carry, key: Seq[String]): (Seq[Column], Seq[Column]) = {
    val order = key ++ carry.ids
    val by = struct(order.map(col): _*)
    val aggs =
      (if (order.isEmpty) Nil else Seq(min(by).as("__sp_m"))) ++
        (if (carry.structs.isEmpty) Nil
         else Seq(min_by(struct(carry.structs.map(col): _*), by).as("__sp_ms")))
    (aggs,
      order.map(c => col("__sp_m")(c).as(c)) ++
        carry.structs.map(c => col("__sp_ms")(c).as(c)))
  }

  /** Multi-source BFS with shortest-path counting.
    *
    * @param edges0 pre-oriented traversal edges ([[GraphState.SrcCol]],
    *        [[GraphState.DstCol]], optionally `__sp_eid`) — procedures run
    *        BFS on filtered subgraphs (e.g. weight-thresholded edges)
    *        without routing through `GraphState.edgesOfTypes`
    * @param seeds one column [[SeedCol]] of distinct start-node ids
    * @param withPaths also materialize ONE concrete shortest path per
    *        (seed, node) as node-id/edge-id arrays ([[PathNodesCol]] /
    *        [[PathEdgesCol]]) — deterministic (lexicographically smallest
    *        node sequence), the analog of the reference's path
    *        reconstruction (`operator.cpp:2458`). Off by default: carrying
    *        arrays grows frontier rows by O(dist).
    * @return (seed, node, dist, npaths): minimal hop count seed→node and the
    *         number of distinct shortest paths, for every node reachable
    *         within `maxHops` (dist 0 = the seed itself, npaths 1)
    */
  def bfsEdges(
      edges0: DataFrame,
      seeds: DataFrame,
      maxHops: Int,
      withPaths: Boolean = false): DataFrame =
    bfsEdges(FrameEdges(withEid(edges0)), seeds, maxHops, withPaths, None)

  /** [[bfsEdges]] over either capture source ([[SearchEdges]]), in three
    * placements ([[LocalSearch.capture]]): the driver BFS over the full
    * edge set when it fits the cutover; else the driver BFS over the
    * search's BFS-DAG edges, collected one Spark job per level
    * ([[LocalSearch.captureDag]]); else the distributed loop.
    *
    * @param targets the (SeedCol, NodeCol) pairs a caller with a bound
    *        destination reads: the DAG capture stops a seed once its
    *        targets are settled, so only its rows up to that level are
    *        returned (all of them exact); the other placements ignore it
    */
  def bfsEdges(
      search: SearchEdges,
      seeds: DataFrame,
      maxHops: Int,
      withPaths: Boolean,
      targets: Option[DataFrame]): DataFrame =
    LocalSearch.capture(search, seeds, targets, maxHops) match {
      case Some(c) =>
        LocalSearch.bfsDf(seeds.sparkSession, c.edges, c.seeds, c.hops, withPaths)
      case None =>
        // only the loop persists the frame: the captures' bounded probes
        // run unpersisted (A/B at sf3: persisting first taxed every
        // subcritical BFS ~2×)
        persisted(search.frame)(
          bfsLoop(_, seeds, maxHops, if (withPaths) IdPath else NoPath))
    }

  /** [[bfsEdges]] with representative paths, under a per-expansion
    * [[PathFilter]]. Always distributed: no driver mirror evaluates the
    * filter.
    *
    * @param edges0 pre-oriented frame: [[GraphState.SrcCol]],
    *        [[GraphState.DstCol]], `__sp_eid`, [[EStructCol]]
    * @return (seed, node, dist, npaths, path-node ids, path-edge ids) per
    *         node reachable through admissible expansions only
    */
  def bfsEdges(
      edges0: DataFrame,
      seeds: DataFrame,
      maxHops: Int,
      filter: PathFilter): DataFrame =
    carrying(edges0, Some(filter))(bfsLoop(_, seeds, maxHops, _))

  /** The level-synchronous BFS of every distributed unweighted search. Each
    * level expands the frontier, folds path counts per node (and, with a
    * carry, picks the lexicographically smallest (node-seq, edge-seq) as
    * the representative, propagated prefix-wise), and drops nodes already
    * reached at a smaller depth — first level wins, exactly the BFS
    * layering the reference's cursor maintains. `edges` must already be
    * persisted by the caller.
    *
    * Iterative driver loops MUST truncate lineage every round: the round-k
    * plan references round-(k-1) twice (expand + anti-join), so without
    * truncation the logical plan grows exponentially and the driver dies
    * re-analyzing it long before any data is large. `localCheckpoint`
    * materializes the round AND cuts the plan to a leaf — on a real cluster
    * the same code runs with `checkpoint` to durable storage.
    * `visited` is a UNION of per-level checkpointed leaves, never
    * re-checkpointed: each level's rows are materialized exactly once
    * (their own Scratch.cp). Re-checkpointing the growing union every
    * round (the pre-r17 shape) copied every visited row once per
    * remaining level — O(levels × |visited|) extra materialization for
    * zero plan benefit (a union of k leaves is a linear, flat plan; the
    * anti-join scans the same rows either way).
    */
  private def bfsLoop(
      edges: DataFrame,
      seeds: DataFrame,
      maxHops: Int,
      carry: Carry): DataFrame = {
    val (pick, picked) = representative(carry, Nil)
    var levels =
      List(start(seeds, carry, Seq(lit(0L).as(DistCol), lit(1L).as(NPathsCol))))
    def visited: DataFrame = levels.reduce(_ unionByName _)
    var frontier = levels.head
    var k = 0L
    var done = frontier.isEmpty
    while (!done && k < maxHops) {
      k += 1
      val next = expand(frontier, edges, carry, Seq(col(NPathsCol)), lit(k))
        .groupBy(SeedCol, NodeCol)
        .agg(sum(NPathsCol).as(NPathsCol), pick: _*)
        .withColumn(DistCol, lit(k))
        .select(
          Seq(col(SeedCol), col(NodeCol), col(DistCol), col(NPathsCol)) ++
            picked: _*)
      val fresh = next
        .join(visited, Seq(SeedCol, NodeCol), "left_anti")
        .transform(Scratch.cp)
      done = fresh.isEmpty
      if (!done) {
        levels ::= fresh
        frontier = fresh
      }
    }
    visited
  }

  /** ALL distinct shortest paths per (seed, node), each with its own
    * vertex/edge chain — the full `ExpandAllShortestPathsCursor` semantics
    * (`operator.cpp:3309`): where [[bfsEdges]] returns one representative path
    * plus a multiplicity count, this enumerates every path.
    *
    * Two phases, both level-synchronous:
    *   1. [[bfsEdges]] computes the BFS layering (seed, node, dist).
    *   2. The shortest-path DAG (edge u→w kept iff dist(w) = dist(u)+1,
    *      per seed) is walked level by level; a path row at level l extends
    *      to every DAG successor at l+1 — one equi-join on (seed, node) per
    *      level, so path explosion is data parallelism, never a driver loop.
    *
    * The output size is the true number of shortest paths (worst-case
    * exponential in depth — same as the reference, which enumerates too).
    * @return (seed, node, dist, pathNodes, pathEdges), one row per path
    */
  def bfsAllPathsEdges(
      edges0: DataFrame,
      seeds: DataFrame,
      maxHops: Int): DataFrame =
    bfsAllPathsEdges(FrameEdges(edges0), seeds, maxHops, None)

  /** [[bfsAllPathsEdges]] over either capture source ([[SearchEdges]]),
    * in [[bfsEdges]]' placements and with its `targets`: the driver
    * enumeration ([[LocalSearch.allPathsDf]], both phases) over the
    * captured edges; when it bails on path explosion, the driver layering
    * over them and the distributed DAG walk; with no capture, both phases
    * distributed. */
  def bfsAllPathsEdges(
      search: SearchEdges,
      seeds: DataFrame,
      maxHops: Int,
      targets: Option[DataFrame]): DataFrame = {
    val spark = seeds.sparkSession
    val captured = LocalSearch.capture(search, seeds, targets, maxHops)
    captured
      .flatMap(c => LocalSearch.allPathsDf(spark, c.edges, c.seeds.map(_._1), c.hops))
      .getOrElse(persisted(search.frame) { edges =>
        val vis = captured
          .map(c => LocalSearch.bfsDf(spark, c.edges, c.seeds, c.hops, withPaths = false))
          .getOrElse(bfsLoop(edges, seeds, maxHops, NoPath))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val out = walkDag(edges, seeds, vis)
        vis.unpersist(blocking = false)
        out
      })
  }

  /** Phase 2 of [[bfsAllPathsEdges]] over the layering `vis`. */
  private def walkDag(
      edges: DataFrame, seeds: DataFrame, vis: DataFrame): DataFrame = {
    // Per-seed shortest-path DAG: u→w survives iff w sits exactly one BFS
    // level below u for that seed.
    val dag = vis
      .select(col(SeedCol), col(NodeCol).as("__v"), col(DistCol).as("__dv"))
      .join(edges, col("__v") === col(GraphState.SrcCol))
      .join(
        vis.select(
          col(SeedCol).as("__s2"),
          col(NodeCol).as("__w"),
          col(DistCol).as("__dw")),
        col(SeedCol) === col("__s2") &&
          col(GraphState.DstCol) === col("__w") &&
          col("__dw") === col("__dv") + lit(1L))
      .select(col(SeedCol), col("__v"), col("__w"),
        col("__sp_eid"), col("__dw"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val maxD = Option(vis.agg(max(DistCol)).first().get(0))
      .map(_.asInstanceOf[Long].toInt)
      .getOrElse(0)
    var frontier = seeds
      .select(
        col(SeedCol),
        col(SeedCol).as(NodeCol),
        lit(0L).as(DistCol),
        array(col(SeedCol)).as(PathNodesCol),
        array().cast("array<long>").as(PathEdgesCol))
      .transform(Scratch.cp)
    // accumulate the per-level checkpointed frontiers and union ONCE at
    // the end: `out` never feeds a later round, so re-checkpointing the
    // growing union each level (the pre-r17 shape) copied every emitted
    // path O(maxD) times for nothing.
    var outLevels = List(frontier)
    for (l <- 1 to maxD) {
      frontier = frontier
        .join(
          dag
            .filter(col("__dw") === l)
            .select(
              col(SeedCol).as("__ps"), col("__v"), col("__w"),
              col("__sp_eid")),
          col(SeedCol) === col("__ps") && col(NodeCol) === col("__v"))
        .select(
          col(SeedCol),
          col("__w").as(NodeCol),
          lit(l.toLong).as(DistCol),
          concat(col(PathNodesCol), array(col("__w"))).as(PathNodesCol),
          concat(col(PathEdgesCol), array(col("__sp_eid"))).as(PathEdgesCol))
        .transform(Scratch.cp)
      outLevels ::= frontier
    }
    dag.unpersist(blocking = false)
    outLevels.reduce(_ unionByName _)
  }

  /** ALL minimum-WEIGHT paths per (seed, node) — the inline
    * `*allShortest (e, n | w) total` form (ExpandAllShortestPathsCursor,
    * operator.cpp:3309, which is weighted). Same two-phase shape as
    * [[bfsAllPathsEdges]]: (1) hop-bounded weighted distances via
    * [[weighted]]; (2) the weighted shortest-path DAG (u→w kept iff
    * dist(u) + w(u,w) = dist(w), per seed) walked level-synchronously —
    * any DAG walk from the seed realizes the minimum weight by
    * construction (non-negative weights; prefix-optimality).
    *
    * @param edges0 pre-oriented (src, dst, `__sp_eid`, [[EdgeWeightCol]])
    * @return (seed, node, dist=hops, weight, pathNodes, pathEdges), one
    *         row per minimum-weight path
    */
  def weightedAllPaths(
      edges0: DataFrame,
      seeds: DataFrame,
      maxHops: Int): DataFrame = persisted(edges0) { edges =>
    val dist = weighted(seeds, edges, maxRounds = maxHops)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eps = 1e-9
    val dag = dist
      .select(col(SeedCol), col(NodeCol).as("__v"), col(WeightCol).as("__wv"))
      .join(edges, col("__v") === col(GraphState.SrcCol))
      .join(
        dist.select(
          col(SeedCol).as("__s2"),
          col(NodeCol).as("__w"),
          col(WeightCol).as("__ww")),
        col(SeedCol) === col("__s2") &&
          col(GraphState.DstCol) === col("__w") &&
          abs(col("__wv") + col(EdgeWeightCol) - col("__ww")) < eps)
      .select(
        col(SeedCol), col("__v"), col("__w"),
        col("__sp_eid"), col(EdgeWeightCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var frontier = seeds
      .select(
        col(SeedCol),
        col(SeedCol).as(NodeCol),
        lit(0L).as(DistCol),
        seedWeight(seeds),
        array(col(SeedCol)).as(PathNodesCol),
        array().cast("array<long>").as(PathEdgesCol))
      .transform(Scratch.cp)
    var outLevels = List(frontier)
    var l = 0
    var done = frontier.isEmpty
    while (!done && l < maxHops) {
      l += 1
      frontier = frontier
        .join(
          dag.select(
            col(SeedCol).as("__ps"), col("__v"), col("__w"),
            col("__sp_eid"), col(EdgeWeightCol)),
          col(SeedCol) === col("__ps") && col(NodeCol) === col("__v"))
        .select(
          col(SeedCol),
          col("__w").as(NodeCol),
          lit(l.toLong).as(DistCol),
          (col(WeightCol) + col(EdgeWeightCol)).as(WeightCol),
          concat(col(PathNodesCol), array(col("__w"))).as(PathNodesCol),
          concat(col(PathEdgesCol), array(col("__sp_eid"))).as(PathEdgesCol))
        .transform(Scratch.cp)
      done = frontier.isEmpty
      // per-level leaves, one union at the end (see bfsAllPathsEdges)
      if (!done) outLevels ::= frontier
    }
    Seq(dist, dag).foreach(_.unpersist(blocking = false))
    outLevels.reduce(_ unionByName _)
  }

  /** ALL minimum-weight paths under a PER-EXPANSION path filter — the
    * reference's `ExpandAllShortestPathsCursor` with `filter_lambda_`
    * (`operator.cpp:3309`). [[weightedAllPaths]]'s DAG factorization is
    * invalid here (an edge's membership in a shortest-path DAG depends on
    * which prefix reached it), so this enumerates admissible paths
    * directly with per-(seed, node) weight-dominance pruning: each round
    * extends the newly-best paths, keeps every distinct path tying the
    * node's best admissible weight, and re-extends on improvement. Row
    * count = surviving tied paths per node — the output size; only
    * path-filtered queries take this route.
    *
    * Same input contract as [[weightedCarry]]. */
  def weightedAllCarry(
      edges0: DataFrame,
      seeds: DataFrame,
      maxRounds: Int,
      filter: PathFilter): DataFrame = {
    val eps = 1e-9
    carrying(edges0, Some(filter)) { (e, carry) =>
      var dist =
        start(seeds, carry, Seq(seedWeight(seeds), lit(0L).as(DistCol)))
      var frontier = dist
      var r = 0
      var converged = frontier.isEmpty
      while (!converged && r < maxRounds) {
        r += 1
        val cand = expand(frontier, e, carry, relaxed, col(DistCol))
        // merge, then keep only paths tying their (seed, node)'s best
        // admissible weight; a path is identified by its edge sequence
        val all = dist
          .unionByName(cand)
          .dropDuplicates(SeedCol, NodeCol, PathEdgesCol)
        val best = all
          .groupBy(SeedCol, NodeCol)
          .agg(min(WeightCol).as("__sp_bw"))
        val keep = all
          .join(best, Seq(SeedCol, NodeCol))
          .filter(col(WeightCol) <= col("__sp_bw") + eps)
          .drop("__sp_bw")
          .transform(Scratch.cp)
        val fresh = keep
          .join(
            dist.select(SeedCol, NodeCol, PathEdgesCol),
            Seq(SeedCol, NodeCol, PathEdgesCol),
            "left_anti")
          .transform(Scratch.cp)
        converged = fresh.isEmpty
        dist = keep
        frontier = fresh
      }
      dist
    }
  }

  /** K shortest paths by hop count — the reference's lazily-evaluated Yen
    * (`KShortestPathsCursor`, operator.cpp:3716). Yen's loop is inherently
    * per-(source,target) sequential (each spur iteration re-runs a BFS on a
    * pair-specific blocked subgraph), so the distributed analog is a
    * **k-truncated level-synchronous BFS**: every round extends simple
    * paths one hop, then keeps at most the k best (by hop count, then
    * lexicographic edge list — deterministic) per (seed, node), counting
    * paths already finished in earlier rounds against the k budget. The
    * frontier is therefore bounded by k × |reached nodes| — the property
    * Yen's k-bounded work gives on one pair, delivered for every pair at
    * once; the old exhaustive-enumeration plan blew up exponentially on
    * hub graphs (see KShortestSpec).
    *
    * Exactness: for walks the k-prefix property makes per-node truncation
    * exact (the i-th shortest walk to w extends a ≤i-th shortest walk to
    * its predecessor). Node-simple paths (Yen's) can in principle need a
    * (k+j)-th prefix when all k best prefixes already visit the target —
    * the spur edge case. The hedge is TARGETED: pairs whose candidate set
    * contains a target-visiting prefix (the only pairs the spur case can
    * hit, and only when `targets` names the endpoints of interest) keep
    * `KShortestOverprovision × k` candidates in flight, everyone else
    * exactly k; the final per-pair rank cut restores k.
    *
    * @param edges0 pre-oriented (src, dst, `__sp_eid`) traversal edges
    * @param targets optional (SeedCol, NodeCol) pairs of interest: once
    *        every pair has k paths the loop stops early (future paths are
    *        strictly longer, so they cannot enter any top-k)
    * @return (seed, node, dist, pathNodes, pathEdges) — at most k rows per
    *         (seed, node) with dist in [minHops, maxHops]
    */
  def kShortest(
      edges0: DataFrame,
      seeds: DataFrame,
      k: Int,
      minHops: Int,
      maxHops: Int,
      targets: Option[DataFrame] = None): DataFrame =
    kShortest(FrameEdges(edges0), seeds, k, minHops, maxHops, targets)

  /** [[kShortest]] over either capture source ([[SearchEdges]]). */
  def kShortest(
      search: SearchEdges,
      seeds: DataFrame,
      k: Int,
      minHops: Int,
      maxHops: Int,
      targets: Option[DataFrame]): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // subcritical + small seed set: one driver pass enumerates the simple
    // paths and cuts the same (hops, edge-list lex) top-k per pair that
    // the distributed final window produces — replaces ~4 jobs x maxHops
    // rounds (LocalSearch header; budget-bailed on path explosion)
    LocalSearch
      .tryCollect(search, seeds, withWeight = false)
      .foreach { case (arr, s) =>
        LocalSearch
          .kShortestDf(
            seeds.sparkSession, arr, s.map(_._1), k, minHops, maxHops)
          .foreach(df => return df)
      }
    // r13 A/B (sf0.1, cold selective runs): overprovision=2 4.1 s vs
    // overprovision=1 5.1 s — the contended-flag window + outCounts join
    // are NOT the drift; cold runs are dominated by ~2·maxHops driver
    // round jobs (same per-round job floor as the varexpand fixpoint,
    // VarExpand.scala:35). The warm sweep sits at ~1.8 s. Both windows
    // below share one (seed, node) shuffle; the flag only exists when
    // targets are present.
    // spur-case hedge: contended pairs carry `KShortestOverprovision*k`
    // candidates through the rounds, everyone else exactly k; the final
    // cut keeps exactly k
    val wideBudget = KShortestOverprovision * k
    val edges = search.frame.persist(StorageLevel.MEMORY_AND_DISK)
    // per-seed target sets drive both the contention flag and early-stop;
    // target lists are per-query small — broadcast
    val targetSets = targets.map(t =>
      broadcast(
        t.groupBy(SeedCol).agg(collect_set(col(NodeCol)).as("__k_tset"))))
    var frontier = seeds
      .select(
        col(SeedCol),
        col(SeedCol).as(NodeCol),
        lit(0L).as(DistCol),
        array(col(SeedCol)).as(PathNodesCol),
        array().cast("array<long>").as(PathEdgesCol))
      .transform(Scratch.cp)
    // `out` = lazy union of the per-round checkpointed frontiers (each
    // round's rows are materialized once by their own Scratch.cp;
    // re-checkpointing the growing union per round copied every kept path
    // O(rounds) times — see bfsLoop). UNLIKE the write-only BFS
    // accumulators, kShortest READS its accumulator every round (budget
    // filter + saturation probe), so aggregating the leaf union per round
    // re-scanned and re-shuffled every prior round's paths each round —
    // the r17 kshortest regression (~2×). The per-(seed,node) path counts
    // are therefore maintained INCREMENTALLY: each round's (already
    // checkpointed) leaf aggregates once and merges into a small
    // checkpointed count frame — O(|reached pairs|) rows, not O(paths),
    // and the full path union is only scanned once by the final cut.
    var outRounds: List[DataFrame] = Nil
    def out: Option[DataFrame] =
      if (outRounds.isEmpty) None else Some(outRounds.reduce(_ unionByName _))
    var counts: Option[DataFrame] = None
    def outCounts: DataFrame = counts.getOrElse(
      seeds.limit(0).select(
        col(SeedCol), col(SeedCol).as(NodeCol), lit(0L).as("__k_cnt")))
    var round = 0
    var done = frontier.isEmpty
    while (!done && round < maxHops) {
      round += 1
      val expanded = frontier
        .join(edges, col(NodeCol) === col(GraphState.SrcCol))
        .filter(!array_contains(col(PathNodesCol), col(GraphState.DstCol)))
        .select(
          col(SeedCol),
          col(GraphState.DstCol).as(NodeCol),
          (col(DistCol) + 1L).as(DistCol),
          concat(col(PathNodesCol), array(col(GraphState.DstCol)))
            .as(PathNodesCol),
          concat(col(PathEdgesCol), array(col("__sp_eid"))).as(PathEdgesCol))
      // keep only rows still inside their pair's budget: rank within the
      // round (shorter rounds ran earlier, so prior finds always outrank).
      // A pair is spur-contended when any of its candidates already visits
      // one of its seed's targets; only those pairs get the wide budget.
      // Both windows share the (seed, node) partitioning — one shuffle.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(SeedCol, NodeCol)
        .orderBy(col(PathEdgesCol).asc)
      val wPair = org.apache.spark.sql.expressions.Window
        .partitionBy(SeedCol, NodeCol)
      val flagged = targetSets match {
        case Some(ts) =>
          expanded
            .join(ts, Seq(SeedCol), "left_outer")
            .withColumn(
              "__k_contended",
              max(
                when(
                  coalesce(
                    arrays_overlap(col(PathNodesCol), col("__k_tset")),
                    lit(false)),
                  1).otherwise(0)).over(wPair) === 1)
            .drop("__k_tset")
        case _ =>
          expanded.withColumn("__k_contended", lit(false))
      }
      frontier = flagged
        .withColumn("__k_rn", row_number().over(w))
        .join(outCounts, Seq(SeedCol, NodeCol), "left_outer")
        .filter(
          col("__k_rn") + coalesce(col("__k_cnt"), lit(0L)) <=
            when(col("__k_contended"), lit(wideBudget))
              .otherwise(lit(k.toLong)))
        .drop("__k_rn", "__k_cnt", "__k_contended")
        .transform(Scratch.cp)
      done = frontier.isEmpty
      if (round >= minHops && !done) {
        outRounds ::= frontier
        val delta = frontier
          .groupBy(SeedCol, NodeCol).agg(count(lit(1)).as("__k_cnt"))
        counts = Some(Scratch.cp(counts match {
          case Some(c) => c.unionByName(delta)
            .groupBy(SeedCol, NodeCol)
            .agg(sum("__k_cnt").as("__k_cnt"))
          case None => delta
        }))
      }
      if (!done) targets.foreach { t =>
        // saturated when no target pair still needs paths
        val needy = t.join(
          outCounts.filter(col("__k_cnt") >= k),
          Seq(SeedCol, NodeCol),
          "left_anti")
        done = needy.isEmpty
      }
    }
    edges.unpersist(blocking = false)
    // final exact cut: k best per pair by (hops, lexicographic edge list)
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(SeedCol, NodeCol)
      .orderBy(col(DistCol).asc, col(PathEdgesCol).asc)
    out
      .getOrElse(frontier.limit(0))
      .withColumn("__k_rn", row_number().over(wf))
      .filter(col("__k_rn") <= k)
      .drop("__k_rn")
  }

  /** Weighted shortest path (Dijkstra-by-rounds ≈ Bellman–Ford with early
    * stop): each round relaxes every edge once; converges when no distance
    * improves or after `maxRounds` (the hops-limit analog). Weights must be
    * non-negative for shortest-walk = shortest-path semantics (the reference
    * raises on negative weights too, `operator.cpp:3000` region).
    *
    * @param edges pre-oriented (src, dst, weight) frame
    * @return (seed, node, weight-dist, hop count) per reachable node
    */
  def weighted(
      seeds: DataFrame,
      edges: DataFrame,
      maxRounds: Int): DataFrame = {
    // subcritical + small seed set: a driver Bellman–Ford pass replaces
    // the whole relaxation fixpoint (LocalSearch header; identical strict
    // (weight, dist)-lexicographic improvement)
    LocalSearch
      .tryCollect(FrameEdges(withEid(edges)), seeds, withWeight = true)
      .foreach { case (arr, s) =>
        return LocalSearch.weightedDf(edges.sparkSession, arr, s, maxRounds)
      }
    persisted(edges)(relax(_, seeds, maxRounds, NoPath))
  }

  /** [[weighted]] with representative-path carry and an optional
    * per-expansion filter — the reference's
    * `ExpandWeightedShortestPathCursor` with `filter_lambda_`
    * (`operator.cpp:3000` region) binds the traversed edge list / path and
    * may filter each expansion against the accumulated path and weight.
    * The same relaxation rounds as [[weighted]], but rows carry the
    * representative path's id arrays (and, when filtering, entity-struct
    * arrays — path-dependent admissibility can't be replayed after the
    * fact). Always distributed: no driver mirror carries paths.
    *
    * @param edges0 pre-oriented: [[GraphState.SrcCol]],
    *        [[GraphState.DstCol]], [[EdgeWeightCol]], `__sp_eid`, and —
    *        with a `filter` — [[EStructCol]]
    * @return (seed, node, weight, dist, path-node ids, path-edge ids)
    */
  def weightedCarry(
      edges0: DataFrame,
      seeds: DataFrame,
      maxRounds: Int,
      filter: Option[PathFilter]): DataFrame =
    carrying(edges0, filter)(relax(_, seeds, maxRounds, _))

  /** Each seed's initial weight: [[InitWeightCol]] when the seeds frame has
    * it, else 0. */
  private def seedWeight(seeds: DataFrame): Column =
    (if (seeds.columns.contains(InitWeightCol)) col(InitWeightCol)
     else lit(0.0)).as(WeightCol)

  /** A weighted candidate's measures: the accumulated weight and hop count
    * through the joined edge. */
  private def relaxed: Seq[Column] = Seq(
    (col(WeightCol) + col(EdgeWeightCol)).as(WeightCol),
    (col(DistCol) + 1L).as(DistCol))

  /** The relaxation rounds of [[weighted]] and [[weightedCarry]]: DELTA
    * relaxation — only rows improved last round join the edge frame
    * (classic frontier Bellman–Ford), so per-round relax work scales with
    * the frontier, not |visited| — at 100× data the steady-state frontier
    * is a small fraction of the reached set. One action per round (the
    * improved-delta checkpoint doubles as the convergence probe); the
    * anti-join merge only runs on non-final rounds. Same lineage
    * discipline as [[bfsLoop]]: localCheckpoint per round.
    *
    * Weight-tie determinism: within a round the smallest (weight, dist)
    * wins, then the lexicographically smallest (node-seq, edge-seq);
    * across rounds an equal (weight, dist) candidate never displaces the
    * incumbent. `edges` must already be persisted by the caller. */
  private def relax(
      edges: DataFrame,
      seeds: DataFrame,
      maxRounds: Int,
      carry: Carry): DataFrame = {
    val (pick, picked) = representative(carry, Seq(WeightCol, DistCol))
    var dist = start(seeds, carry, Seq(seedWeight(seeds), lit(0L).as(DistCol)))
    var frontier = dist
    var r = 0
    var converged = frontier.isEmpty
    while (!converged && r < maxRounds) {
      r += 1
      val cand = expand(frontier, edges, carry, relaxed, col(DistCol))
        .groupBy(SeedCol, NodeCol)
        .agg(pick.head, pick.tail: _*)
        .select(Seq(col(SeedCol), col(NodeCol)) ++ picked: _*)
      // strict improvements only — (weight, dist) lexicographic, matching
      // the reference's total_weight-then-depth ordering
      val improved = cand
        .join(
          dist.select(
            col(SeedCol),
            col(NodeCol),
            col(WeightCol).as("__old_w"),
            col(DistCol).as("__old_d")),
          Seq(SeedCol, NodeCol),
          "left_outer")
        .filter(
          col("__old_w").isNull || col(WeightCol) < col("__old_w") ||
            (col(WeightCol) === col("__old_w") &&
              col(DistCol) < col("__old_d")))
        .drop("__old_w", "__old_d")
        .transform(Scratch.cp)
      converged = improved.isEmpty
      if (!converged) {
        // `improved` holds only strict winners, so the merge is exact as
        // (dist minus improved keys) ∪ improved — an anti-join on the
        // (seed, node) key instead of re-aggregating the WHOLE visited
        // set each round. Both sides leave a (seed, node) shuffle
        // (improved from its groupBy, dist from last round's merge), so
        // the join is co-partitioned; at 100× the per-round merge cost
        // follows the frontier, not |visited|.
        dist = dist
          .join(
            improved.select(SeedCol, NodeCol),
            Seq(SeedCol, NodeCol),
            "left_anti")
          .unionByName(improved)
          .transform(Scratch.cp)
        frontier = improved
      }
    }
    dist
  }
}
