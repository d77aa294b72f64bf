package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Frames, GraphState}

/** Variable-length expansion `-[e:T*min..max]->` — the reference's
  * `ExpandVariable` in DEPTH_FIRST mode (`src/query/plan/operator.hpp:1172`,
  * cursor `operator.cpp:2199`), including inline cyphermorphism (an edge may
  * appear at most once per traversal,
  * reference `EdgeUniquenessFilter`, operator.hpp:1768).
  *
  * Two lowerings:
  *   - **bounded** (`*lo..hi`): unrolled into a union of k-hop join chains —
  *     one declarative plan, each hop an equi-join Catalyst can broadcast or
  *     shuffle; the union's branches evaluate in parallel across the
  *     cluster.
  *   - **unbounded** (`*`): driver-steered fixpoint — expand a frontier one
  *     hop per round with per-round `localCheckpoint` (lineage truncation,
  *     see [[ShortestPath]]) until the frontier is empty. Terminates on any
  *     graph because a path cannot repeat an edge; a safety valve raises
  *     after [[HardHopLimit]] rounds instead of silently truncating (the
  *     reference's opt-in `USING HOPS LIMIT`, ast.hpp:2086 — but wrong
  *     answers are never returned silently).
  *
  * The traversed edge-id list is carried as an ARRAY column (`e@_ids`);
  * uniqueness is `!array_contains(path, edge)`.
  */
object VarExpand {

  /** Safety valve for unbounded `*`: raise, never truncate. */
  val HardHopLimit = 64

  /** Frontier rows at or under which a round scans only the frontier's
    * out-edges (`src IN ids`) instead of the persisted edge frame. */
  private val PruneFrontierRows = 1000L

  /** Non-traversal column count from which the input rows are carried
    * through the rounds by row id only (slim carry). */
  private val SlimCarryColumns = 10

  // Round-12 A/B (varexpand_unbounded, sf0.1, warm, local[8]): prune ON
  // 2.7-3.6 s vs OFF 2.7-2.9 s — the sweep-visible cost is NOT the edge
  // scan but the fixpoint's per-round driver overhead (~10 jobs: one
  // step join + localCheckpoint + count per level across 4 levels),
  // which is inherent to level-synchronous execution on a ~0.2 s/job
  // local floor. The id-prune + lazy persist stay because they change
  // the SCALE shape: a point-seeded traversal reads only the frontier's
  // row groups instead of materializing the full edge corpus.

  /** Internal column names used while stepping (dropped before return). */
  private val CUR = "__vx_cur"
  private val PATH = "__vx_path"
  private val RID = "__vx_rid"
  private val EID = "__vx_eid"
  private val NEAR = "__vx_near"
  private val FAR = "__vx_far"

  /** Expand from `srcVar`, binding `edgeVar@_ids` (edge-id list, in
    * traversal order) and fresh node `dstVar`. `dir` is interpreted per-hop.
    * `maxHops = None` means unbounded (fixpoint iteration).
    */
  def apply(
      frame: DataFrame,
      g: GraphState,
      srcVar: String,
      edgeVar: String,
      types: Seq[String],
      dir: Expand.Direction,
      minHops: Int,
      maxHops: Option[Int],
      dstVar: String,
      dstLabel: Option[String],
      /** `USING HOPS LIMIT n` (ast.hpp:2086): cap on TOTAL edge traversals
        * in the fixpoint loop. The reference returns partial results in its
        * DFS order; a distributed batch engine has no such order, so we
        * RAISE on breach instead of returning nondeterministic partials —
        * documented deviation, wrong/partial answers are never silent. */
      hopsLimit: Option[Long] = None,
      /** Pre-oriented (id, src, dst) edge frame override — the planner's
        * filter-lambda path supplies traversal-ready edges, each stepping
        * src → dst. */
      edgesOverride: Option[DataFrame] = None): DataFrame = {
    require(minHops >= 0, s"bad hop range $minHops..$maxHops")
    // an EMPTY interval (*2..1, *1..0) matches nothing — zero rows, not an
    // error (VarLengthAcceptance "empty interval" scenarios; the
    // reference's ExpandVariable yields no pulls for an empty range)
    val emptyInterval = maxHops.exists(_ < minHops)

    // Orient once ([[Expand.oriented]]): every hop steps near → far, so
    // the per-round frontier⋈edges join stays a single equi-join — an
    // OR-of-equalities condition would fall back to
    // BroadcastNestedLoopJoin on every round.
    val edges = {
      val o = edgesOverride
        .map(Expand.Oriented(_, GraphState.SrcCol, GraphState.DstCol))
        .getOrElse(Expand.oriented(
          g.edgesOfTypes(types).select(
            col(GraphState.IdCol), col(GraphState.SrcCol), col(GraphState.DstCol)),
          dir, GraphState.SrcCol, GraphState.DstCol))
      o.df.select(
        col(GraphState.IdCol).as(EID), col(o.near).as(NEAR), col(o.far).as(FAR))
    }

    val base = frame
      .withColumn(CUR, Frames.id(srcVar))
      .withColumn(PATH, array().cast("array<long>"))

    // Known total row count of the union the fixpoint branch returns
    // (every reached frontier is counted for the emptiness probe anyway).
    // -1 = unknown (unrolled branch / minHops==0 includes the uncounted
    // base frame). Drives the FINAL node-bind join's broadcast gate below:
    // checkpointed frontiers carry no catalyst size stats, so without it a
    // point-seeded traversal's last join shuffles the whole node union to
    // meet a handful of rows.
    var reachedN = -1L
    // Slim-carry's wide keyed base (set by the fixpoint branch): the
    // node-bind join runs on the SLIM traversal rows first, and the wide
    // columns re-attach by rowid LAST — so the broadcast candidates are
    // always narrow rows and the wide row moves at most once (r17 ADVICE:
    // the old order force-broadcast up to 100k re-widened rows).
    var keyedWide: Option[DataFrame] = None

    val all = maxHops match {
      case _ if emptyInterval => base.limit(0)
      case Some(h) if h <= 12 => // unrolled declarative plan
        var cur = base
        var reached: Seq[DataFrame] = Nil
        if (minHops == 0) reached = reached :+ cur
        for (k <- 1 to h) {
          cur = step(cur, edges)
          if (k >= minHops) reached = reached :+ cur
        }
        reached.reduce(_ unionByName _)
      case bound => // fixpoint loop (unbounded or large bound)
        val limit = bound.getOrElse(HardHopLimit)
        // The (possibly multi-type union) edge frame is re-joined every
        // round. Persist it LAZILY — only the first round whose frontier
        // is too large for id-pruning pays the materialization: a tiny
        // frontier instead collects its node ids and pushes an `isin`
        // into the edge scan (parquet row-group / cache-batch pruning —
        // the single-node reference's O(deg) adjacency fetch analog), so
        // a point-seeded traversal never scans the full edge corpus.
        var ePersisted: Option[DataFrame] = None
        def edgesFor(frontierIds: Option[Seq[Long]]): DataFrame =
          frontierIds match {
            case Some(ids) =>
              edges.filter(col(NEAR).isin(ids.map(Long.box): _*))
            case None =>
              ePersisted.getOrElse {
                val p = edges.persist(
                  org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
                ePersisted = Some(p)
                p
              }
          }
        // SLIM CARRY (opt guide §8 "move heavy bytes once"): the fixpoint
        // localCheckpoints AND (for large frontiers) shuffles the frontier
        // EVERY round, so a wide input frame (LDBC bi3/bi9/bi12 arrive
        // here with whole person+message rows bound) pays rounds×width in
        // materialization and shuffle bytes. From [[SlimCarryColumns]] non-
        // traversal columns, carry only (rowid, cur, path) through the
        // rounds and re-attach the wide row by rowid once at the end —
        // identical rows, the heavy columns move once. The rowid is
        // monotonically_increasing_id FROZEN by the eager checkpoint (its
        // values are computed exactly once, inside the cp materialization,
        // and every later read serves the stored blocks).
        val wideCols = base.columns.filterNot(c => c == CUR || c == PATH)
        val keyed: Option[DataFrame] =
          if (wideCols.length < SlimCarryColumns) None
          else Some(
            base
              .withColumn(RID, monotonically_increasing_id())
              .transform(Scratch.cp))
        var cur = keyed
          .map(_.select(col(RID), col(CUR), col(PATH)))
          .getOrElse(base)
          .transform(Scratch.cp)
        var reached: Seq[DataFrame] = Nil
        if (minHops == 0) reached = reached :+ cur
        // a localCheckpointed frontier has no catalyst size stats, so AQE
        // never converts the per-round frontier⋈edges join to a broadcast
        // join by itself — every round would shuffle the full persisted
        // edge frame. The count the loop needs anyway (emptiness probe /
        // hops cap) doubles as the broadcast decision: a known-small
        // frontier is sent to the edge scan, no shuffle at all.
        var k = 0
        var traversed = 0L
        var curN = cur.count()
        var empty = curN == 0L
        if (minHops == 0) reachedN = curN else reachedN = 0L
        while (!empty && k < limit) {
          k += 1
          // a CHECKPOINTED frontier of ≤ PruneFrontierRows rows re-reads
          // for the id collect, not recomputes — two cheap actions beat
          // one full edge-corpus scan
          val frontierIds: Option[Seq[Long]] =
            if (curN <= PruneFrontierRows)
              Some(cur.select(col(CUR)).filter(col(CUR).isNotNull)
                .distinct().collect().map(_.getLong(0)).toSeq)
            else None
          cur = step(
            cur, edgesFor(frontierIds),
            bcastFrontier = curN <= Scratch.BroadcastFrontierRows)
            .transform(Scratch.cp)
          // one action per round: the frontier count serves the emptiness
          // probe, the hops cap check, and the next broadcast decision
          curN = cur.count()
          hopsLimit.foreach { cap =>
            traversed += curN
            if (traversed > cap)
              throw new IllegalStateException(
                s"hops limit exceeded: $traversed edge traversals > $cap " +
                  "(USING HOPS LIMIT; partial traversal order is " +
                  "engine-specific, so this engine raises instead of " +
                  "returning nondeterministic partial results)")
          }
          empty = curN == 0L
          if (!empty && k >= minHops) {
            reached = reached :+ cur
            reachedN += curN
          }
        }
        ePersisted.foreach(_.unpersist(blocking = false))
        if (!empty && bound.isEmpty)
          throw new IllegalStateException(
            s"unbounded variable expansion exceeded $HardHopLimit hops — " +
              "add an explicit upper bound (USING HOPS LIMIT analog)")
        if (reached.isEmpty) reached = Seq(cur.limit(0))
        keyedWide = keyed
        reached.reduce(_ unionByName _)
    }

    val nodesDf = dstLabel.map(g.nodesOrEmpty).getOrElse(g.allNodes)
    // gatedBroadcast: no-op when reachedN is unknown (-1) or above the
    // frontier-broadcast threshold — a huge traversal result must never be
    // force-broadcast
    val bound = Scratch.gatedBroadcast(all, reachedN)
      .join(Frames.bind(dstVar)(nodesDf), col(CUR) === Frames.id(dstVar))
      .withColumn(s"$edgeVar${Frames.Sep}_ids", col(PATH))
      .drop(CUR, PATH)
    // slim-carry: re-attach the wide input columns by rowid ONCE, after
    // the node bind. When the traversal stayed small the bound slim rows
    // broadcast (gate: counted rows, never a supernode blow-up) and the
    // wide checkpointed base is never shuffled at all; above the gate the
    // rowid equi-join shuffles the wide row exactly once — either way the
    // guide-§8 invariant holds: heavy bytes move at most once.
    keyedWide match {
      case Some(kd) =>
        kd.drop(CUR, PATH)
          .join(Scratch.gatedBroadcast(bound, reachedN), Seq(RID))
          .drop(RID)
      case None => bound
    }
  }

  /** One hop: join the frontier to the oriented (EID, NEAR, FAR) edges,
    * enforce edge uniqueness, extend the path. */
  private def step(
      cur0: DataFrame,
      edges: DataFrame,
      bcastFrontier: Boolean = false): DataFrame = {
    val cur = if (bcastFrontier) broadcast(cur0) else cur0
    cur.join(edges, col(CUR) === col(NEAR))
      .filter(!array_contains(col(PATH), col(EID)))
      .withColumn(PATH, concat(col(PATH), array(col(EID))))
      .withColumn(CUR, col(FAR))
      .drop(EID, NEAR, FAR)
  }
}
