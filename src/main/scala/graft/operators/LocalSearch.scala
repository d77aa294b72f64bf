package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.core.GraphState

/** Driver-local exact pass for the shortest-path family on subcritical
  * inputs — the same adaptive cutover [[LocalGraph]]/LocalProcs use for
  * the cycles, biconnected and iterative procedures: below the
  * [[Cutover]] cap with a small seed set, a single-threaded
  * BFS / Bellman–Ford over collected adjacency is exact, reproduces the
  * distributed operators' determinism rules bit-for-bit, and replaces
  * 10-20 fixpoint jobs with one collect. The reference's own cursors
  * (`operator.cpp:2458,3000`) are single-threaded — this IS its
  * execution model, applied when the data provably fits; above the
  * thresholds the distributed fixpoints run unchanged.
  *
  * The BFS family has a middle placement ([[capture]]): when the full
  * edge set is above the cap, [[captureDag]] collects only the search's
  * BFS-DAG edges, one Spark job per level over edge blocks cached once,
  * stopping each seed once its bound targets are settled (the reference's
  * `STShortestPathCursor` stops at the sink too), and the same driver
  * kernels run on those edges.
  *
  * Determinism parity (checked by BfsPathsSpec, CutoverSpec's local ==
  * distributed properties and the oracle gates):
  *   - BFS: dist = level, npaths = Σ over parent EDGES (multiplicity
  *     counts), representative path = lexicographically smallest
  *     (node-seq, edge-seq) propagated prefix-wise — exactly the
  *     distributed `min(struct(nodes, edges))` per level.
  *   - weighted: strict (weight, dist)-lexicographic improvement rounds,
  *     hop-capped at maxRounds — exactly the distributed delta
  *     relaxation.
  */
private[graft] object LocalSearch {

  /** Max collected seeds — above this the driver pass loses to the
    * distributed fixpoint (per-seed loops scale linearly). */
  val MaxSeeds = 128

  /** Max seeds × edges work product for the driver pass. */
  val MaxWork = 64L * 1000 * 1000

  /** Enumeration budget of the path mirrors ([[kShortestDf]],
    * [[allPathsDf]]): above it the distributed walk runs. */
  private val MaxPaths = 2000000L

  /** The search's (seed, initial weight) rows when there are at most
    * min([[MaxSeeds]], `spark.graft.local.edges`) of them, else None: the
    * seed probe of a search, whose rows its edge captures take. Seed rows
    * are read via column 0 (SeedCol); weighted searches' seeds may carry
    * [[ShortestPath.InitWeightCol]]. */
  def collectSeeds(seeds: DataFrame): Option[Seq[(Long, Double)]] = {
    val seedSel =
      if (seeds.columns.contains(ShortestPath.InitWeightCol))
        seeds.select(
          col(ShortestPath.SeedCol),
          coalesce(col(ShortestPath.InitWeightCol), lit(0.0)).cast("double"))
      else seeds.select(col(ShortestPath.SeedCol), lit(0.0))
    Cutover
      .collect(seedSel, MaxSeeds)
      .map(_.toSeq.map(r => (r.getLong(0), r.getDouble(1))))
  }

  /** Collect (seeds, edges) when both are subcritical; None → stay
    * distributed. Weighted searches pass a frame with a weight column. */
  def tryCollect(
      edges: ShortestPath.SearchEdges,
      seeds: DataFrame,
      withWeight: Boolean): Option[(Array[(Long, Long, Long, Double)], Seq[(Long, Double)])] =
    for {
      s <- collectSeeds(seeds)
      rows <- captureEdges(seeds.sparkSession, edges, s, withWeight)
    } yield (rows, s)

  /** The search's oriented (eid, src, dst, weight) rows when there are at
    * most `cap` of them, else None; the cap bounds seeds × edges by
    * [[MaxWork]] as an edge ceiling. Both sources decide with
    * [[Cutover.fits]] on the ORIENTED row count, so they agree row for row:
    * a typed search reads its version's memoized capture and orients it on
    * the driver ([[Expand.orientedTriples]], `2E - loops` rows for `Both`
    * like its frame), without a job once the version has been probed; a
    * frame search collects at most cap + 1 rows of its frame. */
  def captureEdges(
      spark: SparkSession,
      edges: ShortestPath.SearchEdges,
      seeds: Seq[(Long, Double)],
      withWeight: Boolean): Option[Array[(Long, Long, Long, Double)]] = {
    val cap = workCap(spark, seeds.length)
    edges match {
      case ShortestPath.TypedEdges(g, types, dir) =>
        g.localTypedEdges(types)
          .map(Expand.orientedTriples(_, dir)((e, s, d) => (e, s, d, 0.0)))
          .filter(t => Cutover.fits(t.length, cap))
      case ShortestPath.FrameEdges(frame) =>
        val sel =
          if (withWeight)
            frame.select(
              col("__sp_eid"), col(GraphState.SrcCol), col(GraphState.DstCol),
              col(ShortestPath.EdgeWeightCol).cast("double"))
          else
            frame.select(
              col("__sp_eid"), col(GraphState.SrcCol), col(GraphState.DstCol))
        Cutover.within(sel, cap).map(_.map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2),
            if (withWeight) r.getDouble(3) else 0.0)))
    }
  }

  /** A search's edges on the driver, and the levels each seed's rows are
    * exact to: `edges` hold every edge the BFS from `seed` crosses from
    * its level k - 1 into its level k, for every k <= `hops(seed)`. */
  final case class Capture(
      edges: Array[(Long, Long, Long, Double)],
      seeds: Seq[(Long, Double)],
      hops: Long => Int)

  /** The driver capture of a BFS-family search ([[ShortestPath.bfsEdges]],
    * [[ShortestPath.bfsAllPathsEdges]]), in placement order: the full
    * capture ([[captureEdges]]; every seed to `maxHops`), else the DAG
    * capture ([[captureDag]]; every seed to its stop level), else None —
    * the distributed loop runs. One probe ([[collectPairs]]): the
    * (SeedCol, NodeCol) `targets` of a search whose destination is bound,
    * or its seeds. */
  def capture(
      search: ShortestPath.SearchEdges,
      seeds: DataFrame,
      targets: Option[DataFrame],
      maxHops: Int): Option[Capture] = {
    val spark = seeds.sparkSession
    collectPairs(seeds, targets).flatMap { case (s, t) =>
      captureEdges(spark, search, s, withWeight = false)
        .map(Capture(_, s, _ => maxHops))
        .orElse(captureDag(
          search.frame, s, t, maxHops, workCap(spark, s.length)))
    }
  }

  /** The search's probe: when there are at most `Cutover.cap` `targets`
    * pairs, their rows — the seeds are the pairs' first column, bailing
    * above [[MaxSeeds]] like [[collectSeeds]], and each seed's targets are
    * where its DAG capture may stop; otherwise [[collectSeeds]], with no
    * targets. */
  private def collectPairs(
      seeds: DataFrame,
      targets: Option[DataFrame])
    : Option[(Seq[(Long, Double)], Map[Long, Set[Long]])] =
    targets.flatMap(t =>
      Cutover.collect(
        t.select(col(ShortestPath.SeedCol), col(ShortestPath.NodeCol))
          .na.drop())) match {
      case Some(rows) =>
        val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
        val ids = pairs.map(_._1).distinct
        Option.when(
          Cutover.fits(ids.length, Cutover.cap(seeds.sparkSession, MaxSeeds)))(
          (ids.toSeq.map((_, 0.0)),
            pairs.groupMap(_._1)(_._2).map { case (s, ts) => s -> ts.toSet }))
      case None => collectSeeds(seeds).map((_, Map.empty))
    }

  /** The edge cap of a search from `seeds` seeds: seeds × edges is
    * bounded by [[MaxWork]]. */
  private def workCap(spark: SparkSession, seeds: Int): Long =
    Cutover.cap(spark, if (seeds == 0) Long.MaxValue else MaxWork / seeds)

  /** One edge partition of a DAG capture, as primitive arrays. */
  private final case class EdgeBlock(
      src: Array[Long], dst: Array[Long], eid: Array[Long])

  private def edgeBlock(rows: Iterator[Row]): EdgeBlock = {
    val (s, d, e) =
      (Array.newBuilder[Long], Array.newBuilder[Long], Array.newBuilder[Long])
    rows.foreach { r => s += r.getLong(0); d += r.getLong(1); e += r.getLong(2) }
    EdgeBlock(s.result(), d.result(), e.result())
  }

  /** One DAG-capture level as the executors see it: the union of the
    * searching seeds' frontiers, sorted; per frontier node, the indices of
    * the seeds whose frontier holds it; per seed index, its visited ids,
    * sorted. */
  private final case class DagLevel(
      front: Array[Long],
      frontSeeds: Array[Array[Int]],
      visited: Array[Array[Long]])

  /** The rows of `b` (partition `pid`) that leave a seed's frontier for a
    * node that seed has not visited, keyed by (pid, row index); stops
    * after `cap` + 1 rows. */
  private def dagEdges(
      pid: Int, b: EdgeBlock, l: DagLevel, cap: Long): (Array[Long], EdgeBlock) = {
    val keys = Array.newBuilder[Long]
    val (s, d, e) =
      (Array.newBuilder[Long], Array.newBuilder[Long], Array.newBuilder[Long])
    var n = 0L
    var i = 0
    while (i < b.src.length && n <= cap) {
      val f = java.util.Arrays.binarySearch(l.front, b.src(i))
      if (f >= 0 && l.frontSeeds(f).exists(si =>
          java.util.Arrays.binarySearch(l.visited(si), b.dst(i)) < 0)) {
        keys += (pid.toLong << 32) | i
        s += b.src(i); d += b.dst(i); e += b.eid(i)
        n += 1
      }
      i += 1
    }
    (keys.result(), EdgeBlock(s.result(), d.result(), e.result()))
  }

  /** DAG capture: when the full edge set is above the cutover, collect
    * only the search's BFS-DAG edges, one Spark job per level. The
    * oriented (src, dst, `__sp_eid`) rows of `edges` are cached once as
    * primitive blocks, in at most default-parallelism partitions; each
    * level broadcasts every searching seed's frontier and visited ids, and
    * each partition returns its edges from a frontier node into a node
    * that seed has not visited. The driver merges them and advances the
    * visited sets — no Catalyst plan, shuffle or checkpoint per level.
    *
    * A seed stops once all its `targets` are settled, its frontier
    * empties, or it reaches `maxHops`. The rows are exact: the edges a
    * seed's BFS sums `npaths` over and takes its representative from are
    * exactly its DAG edges, and the other seeds' edges out of its frontier
    * lead into nodes it has visited, which the kernels skip. Past a seed's
    * stop level its rows may be missing, so [[Capture.hops]] cuts it
    * there.
    *
    * None once more than `cap` rows are collected (checked per partition
    * too, so the driver holds at most (partitions + 1) × (`cap` + 1)
    * rows). */
  def captureDag(
      edges: DataFrame,
      seeds: Seq[(Long, Double)],
      targets: Map[Long, Set[Long]],
      maxHops: Int,
      cap: Long): Option[Capture] = {
    if (cap <= 0) return None
    val ids = seeds.map(_._1).distinct.toArray
    val visited = ids.map(s => mutable.HashSet(s))
    val frontier = ids.map(s => Array(s))
    val levels = new Array[Int](ids.length)
    def searching(i: Int) =
      frontier(i).nonEmpty && levels(i) < maxHops &&
        !targets.get(ids(i)).exists(_.forall(visited(i)))
    def result(rows: Iterable[(Long, Long, Long, Double)]) = {
      val stop = ids.zip(levels).toMap
      Some(Capture(rows.toArray, seeds, s => stop.getOrElse(s, 0)))
    }
    var active = ids.indices.filter(searching)
    if (active.isEmpty) return result(Nil)
    val sc = edges.sparkSession.sparkContext
    val blocks = VertexResident
      .atMostParallelism(
        edges
          .select(
            col(GraphState.SrcCol), col(GraphState.DstCol), col("__sp_eid"))
          .rdd)
      .mapPartitions(rows => Iterator(edgeBlock(rows)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val taken = mutable.HashSet.empty[Long]
    val acc = mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    try {
      while (active.nonEmpty) {
        val bySeed = active.flatMap(i => frontier(i).map(_ -> i)).groupMap(_._1)(_._2)
        val front = bySeed.keys.toArray.sorted
        val on = active.toSet
        val level = sc.broadcast(DagLevel(
          front,
          front.map(v => bySeed(v).toArray),
          ids.indices.map(i =>
            if (on(i)) visited(i).toArray.sorted
            else Array.emptyLongArray).toArray))
        val batches =
          try
            blocks
              .mapPartitionsWithIndex((pid, bs) =>
                bs.map(dagEdges(pid, _, level.value, cap)))
              .collect()
          finally level.destroy()
        if (batches.exists(_._1.length > cap)) return None
        val out = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
        batches.foreach { case (keys, b) =>
          keys.indices.foreach { j =>
            if (taken.add(keys(j))) acc += ((b.eid(j), b.src(j), b.dst(j), 0.0))
            out.getOrElseUpdate(b.src(j), mutable.ArrayBuffer.empty) += b.dst(j)
          }
        }
        if (acc.size > cap) return None
        active.foreach { i =>
          val next = mutable.HashSet.empty[Long]
          frontier(i).foreach(u =>
            out.get(u).foreach(_.foreach(v => if (!visited(i)(v)) next += v)))
          visited(i) ++= next
          frontier(i) = next.toArray
          levels(i) += 1
        }
        active = active.filter(searching)
      }
      result(acc)
    } finally blocks.unpersist(blocking = false)
  }

  private val seqOrd: Ordering[Seq[Long]] =
    Ordering.Implicits.seqOrdering[Seq, Long]
  private val pathOrd: Ordering[(Seq[Long], Seq[Long])] =
    Ordering.Tuple2(seqOrd, seqOrd)

  /** k-shortest-by-hops mirror of [[ShortestPath.kShortest]]'s RESULT
    * spec: per (seed, node), the k best SIMPLE (node-distinct) paths of
    * `minHops..maxHops` out-hops ordered by (hops asc, edge-id list
    * lexicographic asc) — i.e. exactly the distributed version's final
    * window cut, computed from a full enumeration instead of its
    * budgeted frontier (the budget is a work bound, not a semantics
    * knob: both return the true k shortest, which is what the oracle
    * pins). Per-pair retention is capped at k DURING enumeration, so
    * memory is k x |reached| — the [[MaxPaths]] budget bounds enumeration
    * WORK; breaching it returns None and the distributed walk runs. */
  def kShortestDf(
      spark: SparkSession,
      edges: Array[(Long, Long, Long, Double)],
      seeds: Seq[Long],
      k: Int,
      minHops: Int,
      maxHops: Int): Option[DataFrame] = {
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
    edges.foreach { case (eid, s, d, _) =>
      adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += ((eid, d))
    }
    val minH1 = math.max(minHops, 1) // the distributed loop never emits
    // the dist-0 seed row (outRounds starts at round 1)
    val best = mutable.HashMap
      .empty[(Long, Long), mutable.ArrayBuffer[(Long, Seq[Long], Seq[Long])]]
    def record(
        seed: Long, node: Long, dist: Long,
        nodes: Seq[Long], eids: Seq[Long]): Unit = {
      val buf = best.getOrElseUpdate(
        (seed, node), mutable.ArrayBuffer.empty)
      buf += ((dist, nodes, eids))
      if (buf.length > k) {
        // evict the worst by (hops, edge-list lex) — the final-cut order
        var wi = 0
        var i = 1
        while (i < buf.length) {
          val a = buf(i); val w = buf(wi)
          if (a._1 > w._1 || (a._1 == w._1 && seqOrd.gt(a._3, w._3))) wi = i
          i += 1
        }
        buf.remove(wi)
      }
    }
    var work = 0L
    seeds.distinct.foreach { seed =>
      val stack = mutable.ArrayBuffer
        .empty[(Iterator[(Long, Long)], List[Long], List[Long])]
      stack += ((
        adj.getOrElse(seed, Nil).iterator, List(seed), List.empty[Long]))
      while (stack.nonEmpty) {
        val (it, nodes, eids) = stack.last
        if (it.hasNext) {
          val (eid, dst) = it.next()
          if (!nodes.contains(dst)) { // simple paths, seed included
            work += 1
            if (work > MaxPaths) return None
            val eids2 = eid :: eids
            val dist = eids2.size.toLong
            if (dist >= minH1)
              record(seed, dst, dist, (dst :: nodes).reverse, eids2.reverse)
            if (dist < maxHops)
              stack += ((
                adj.getOrElse(dst, Nil).iterator, dst :: nodes, eids2))
          }
        } else stack.remove(stack.size - 1)
      }
    }
    val out = mutable.ArrayBuffer.empty[Row]
    best.foreach { case ((seed, node), buf) =>
      buf.foreach { case (dist, nodes, eids) =>
        out += Row(seed, node, dist, nodes, eids)
      }
    }
    Some(spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(out.toSeq: _*)),
      StructType(Seq(
        StructField(ShortestPath.SeedCol, LongType, nullable = false),
        StructField(ShortestPath.NodeCol, LongType, nullable = false),
        StructField(ShortestPath.DistCol, LongType, nullable = false),
        StructField(
          ShortestPath.PathNodesCol, ArrayType(LongType), nullable = false),
        StructField(
          ShortestPath.PathEdgesCol, ArrayType(LongType), nullable = false)))))
  }

  /** Multi-source BFS mirroring [[ShortestPath.bfsEdges]], each seed to
    * `hops(seed)` levels. */
  def bfsDf(
      spark: SparkSession,
      edges: Array[(Long, Long, Long, Double)],
      seeds: Seq[(Long, Double)],
      hops: Long => Int,
      withPaths: Boolean): DataFrame = {
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
    edges.foreach { case (eid, s, d, _) =>
      adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += ((eid, d))
    }
    val out = mutable.ArrayBuffer.empty[Row]
    seeds.map(_._1).distinct.foreach { seed =>
      // per level: dist, npaths, representative (nodes, edges)
      val dist = mutable.HashMap[Long, Long](seed -> 0L)
      val npaths = mutable.HashMap[Long, Long](seed -> 1L)
      val repr = mutable.HashMap[Long, (Seq[Long], Seq[Long])](
        seed -> ((Seq(seed), Seq.empty[Long])))
      var level = Seq(seed)
      var k = 0L
      out += mkRow(seed, seed, 0L, 1L, repr(seed), withPaths)
      val maxHops = hops(seed)
      while (level.nonEmpty && k < maxHops) {
        k += 1
        val nPaths = mutable.HashMap.empty[Long, Long]
        val nRepr = mutable.HashMap.empty[Long, (Seq[Long], Seq[Long])]
        level.foreach { u =>
          adj.getOrElse(u, Nil).foreach { case (eid, v) =>
            if (!dist.contains(v)) {
              nPaths(v) = nPaths.getOrElse(v, 0L) + npaths(u)
              if (withPaths) {
                val (pu, eu) = repr(u)
                val cand = (pu :+ v, eu :+ eid)
                nRepr.get(v) match {
                  case Some(prev) if pathOrd.lteq(prev, cand) => ()
                  case _ => nRepr(v) = cand
                }
              }
            }
          }
        }
        val discovered = nPaths.keys.toSeq.sorted
        discovered.foreach { v =>
          dist(v) = k
          npaths(v) = nPaths(v)
          val rep =
            if (withPaths) nRepr(v) else (Seq.empty[Long], Seq.empty[Long])
          repr(v) = rep
          out += mkRow(seed, v, k, nPaths(v), rep, withPaths)
        }
        level = discovered
      }
    }
    bfsFrame(spark, out.toSeq, withPaths)
  }

  private def mkRow(
      seed: Long, node: Long, dist: Long, npaths: Long,
      rep: (Seq[Long], Seq[Long]), withPaths: Boolean): Row =
    if (withPaths) Row(seed, node, dist, npaths, rep._1, rep._2)
    else Row(seed, node, dist, npaths)

  private def bfsFrame(
      spark: SparkSession, rows: Seq[Row], withPaths: Boolean): DataFrame = {
    val base = Seq(
      StructField(ShortestPath.SeedCol, LongType, nullable = false),
      StructField(ShortestPath.NodeCol, LongType, nullable = false),
      StructField(ShortestPath.DistCol, LongType, nullable = false),
      StructField(ShortestPath.NPathsCol, LongType, nullable = false))
    val pathFields =
      if (withPaths)
        Seq(
          StructField(
            ShortestPath.PathNodesCol, ArrayType(LongType), nullable = false),
          StructField(
            ShortestPath.PathEdgesCol, ArrayType(LongType), nullable = false))
      else Nil
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        java.util.Arrays.asList(rows: _*)),
      StructType(base ++ pathFields))
  }

  /** ALL distinct shortest paths per (seed, node) — the exact local mirror
    * of [[ShortestPath.bfsAllPathsEdges]]'s two phases (BFS layering, then
    * a level-walk of the shortest-path DAG where parallel edges yield
    * distinct paths). Returns None when the TRUE path count (Σ npaths,
    * computed from the DAG before enumerating anything) exceeds
    * [[MaxPaths]] — path explosion
    * stays on the distributed walk. Replaces ~2·maxD fixpoint jobs with
    * zero for the common subcritical case (the reference's cursor is
    * single-threaded here too). Each seed searches `hops(seed)` levels. */
  def allPathsDf(
      spark: SparkSession,
      edges: Array[(Long, Long, Long, Double)],
      seeds: Seq[Long],
      hops: Long => Int): Option[DataFrame] = {
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
    edges.foreach { case (eid, s, d, _) =>
      adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += ((eid, d))
    }
    val out = mutable.ArrayBuffer.empty[Row]
    // ONE budget across ALL seeds: the guard bounds DRIVER materialization,
    // which is the sum over seeds — a per-seed reset would admit up to
    // MaxSeeds × MaxPaths boxed path rows (multi-GB) on path-dense inputs
    // the distributed walk handles with spillable partitions
    var total = 0L
    seeds.distinct.foreach { seed =>
      // phase 1: layering + npaths (identical to bfsDf's counting)
      val dist = mutable.HashMap[Long, Long](seed -> 0L)
      val npaths = mutable.HashMap[Long, Long](seed -> 1L)
      var level = Seq(seed)
      var k = 0L
      total += 1L
      if (total > MaxPaths) return None
      val maxHops = hops(seed)
      while (level.nonEmpty && k < maxHops) {
        k += 1
        val nPaths = mutable.HashMap.empty[Long, Long]
        level.foreach { u =>
          adj.getOrElse(u, Nil).foreach { case (_, v) =>
            if (!dist.contains(v))
              nPaths(v) = nPaths.getOrElse(v, 0L) + npaths(u)
          }
        }
        val discovered = nPaths.keys.toSeq.sorted
        discovered.foreach { v =>
          dist(v) = k
          npaths(v) = nPaths(v)
          total += nPaths(v)
          if (total > MaxPaths) return None
        }
        level = discovered
      }
      // phase 2: walk the DAG level by level, materializing every path —
      // the distributed walk extends (pathNodes, pathEdges) per DAG edge,
      // parallel edges included
      val paths =
        mutable.HashMap[Long, Seq[(Seq[Long], Seq[Long])]](
          seed -> Seq((Seq(seed), Seq.empty[Long])))
      out += Row(seed, seed, 0L, Seq(seed), Seq.empty[Long])
      val byLevel = dist.toSeq.groupBy(_._2)
      val maxD = if (dist.isEmpty) 0L else dist.values.max
      (1L to maxD).foreach { l =>
        val nodesAtL = byLevel.getOrElse(l, Nil).map(_._1).sorted
        val prev = byLevel.getOrElse(l - 1, Nil).map(_._1)
        // in-edges of level l from level l-1 (DAG edges only)
        val incoming =
          mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
        prev.foreach { u =>
          adj.getOrElse(u, Nil).foreach { case (eid, v) =>
            if (dist.get(v).contains(l))
              incoming.getOrElseUpdate(v, mutable.ArrayBuffer.empty) +=
                ((u, eid))
          }
        }
        nodesAtL.foreach { v =>
          val ps = incoming.getOrElse(v, Nil).toSeq.flatMap { case (u, eid) =>
            paths(u).map { case (pn, pe) => (pn :+ v, pe :+ eid) }
          }
          paths(v) = ps
          ps.foreach { case (pn, pe) => out += Row(seed, v, l, pn, pe) }
        }
        // free the previous level's path lists — only level l feeds l+1
        prev.foreach(paths.remove)
      }
    }
    Some(spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(out.toSeq: _*)),
      StructType(Seq(
        StructField(ShortestPath.SeedCol, LongType, nullable = false),
        StructField(ShortestPath.NodeCol, LongType, nullable = false),
        StructField(ShortestPath.DistCol, LongType, nullable = false),
        StructField(
          ShortestPath.PathNodesCol, ArrayType(LongType), nullable = false),
        StructField(
          ShortestPath.PathEdgesCol, ArrayType(LongType), nullable = false)))))
  }

  /** Hop-capped Bellman–Ford mirroring [[ShortestPath.weighted]]'s delta
    * relaxation: strict (weight, dist)-lexicographic improvement, at most
    * maxRounds rounds, converges early when a round improves nothing. */
  def weightedDf(
      spark: SparkSession,
      edges: Array[(Long, Long, Long, Double)],
      seeds: Seq[(Long, Double)],
      maxRounds: Int): DataFrame = {
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Long, Double)]]
    edges.foreach { case (_, s, d, w) =>
      adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += ((d, w))
    }
    val out = mutable.ArrayBuffer.empty[Row]
    seeds.distinct.foreach { case (seed, w0) =>
      val best = mutable.HashMap[Long, (Double, Long)](seed -> ((w0, 0L)))
      var frontier: Iterable[Long] = Seq(seed)
      var r = 0
      while (frontier.nonEmpty && r < maxRounds) {
        r += 1
        val improved = mutable.HashMap.empty[Long, (Double, Long)]
        frontier.foreach { u =>
          val (wu, du) = best(u)
          adj.getOrElse(u, Nil).foreach { case (v, w) =>
            val cand = (wu + w, du + 1L)
            val cur = improved.get(v).orElse(best.get(v))
            val better = cur.forall { case (cw, cd) =>
              cand._1 < cw || (cand._1 == cw && cand._2 < cd)
            }
            if (better) improved(v) = cand
          }
        }
        improved.foreach { case (v, wd) => best(v) = wd }
        frontier = improved.keys
      }
      best.toSeq.sortBy(_._1).foreach { case (v, (w, d)) =>
        out += Row(seed, v, w, d)
      }
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(out.toSeq: _*)),
      StructType(Seq(
        StructField(ShortestPath.SeedCol, LongType, nullable = false),
        StructField(ShortestPath.NodeCol, LongType, nullable = false),
        StructField(ShortestPath.WeightCol, DoubleType, nullable = false),
        StructField(ShortestPath.DistCol, LongType, nullable = false))))
  }
}
