package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.GraphState

/** Driver-local exact pass for the shortest-path family on subcritical
  * inputs — the same adaptive cutover [[LocalGraph]]/LocalProcs use for
  * cycles/biconnected/iterative procedures (r8/r9): below the
  * [[Cutover]] cap with a small seed set, a single-threaded
  * BFS / Bellman–Ford over collected adjacency is exact, reproduces the
  * distributed operators' determinism rules bit-for-bit, and replaces
  * 10-20 fixpoint jobs with one collect. The reference's own cursors
  * (`operator.cpp:2458,3000`) are single-threaded — this IS its
  * execution model, applied when the data provably fits; above the
  * thresholds the distributed fixpoints run unchanged.
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

  /** Largest hop bound the seed-reachable capture accepts. */
  private val CaptureHops = 32

  /** Largest per-level frontier the seed-reachable capture accepts. */
  private val CaptureFrontier = 1024

  /** The search's (seed, initial weight) rows when there are at most
    * min([[MaxSeeds]], `spark.graft.local.edges`) of them, else None: the
    * one seed probe of a search, whose rows both edge captures
    * ([[captureEdges]], [[tryCollectReachable]]) take. Seed rows are read
    * via column 0 (SeedCol); weighted searches' seeds may carry
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
    * a typed search reads its version's memoized capture (a `Both` search
    * counts each triple twice) and orients it on the driver, without a job
    * once the version has been probed; a frame search collects at most
    * cap + 1 rows of its frame. */
  def captureEdges(
      spark: SparkSession,
      edges: ShortestPath.SearchEdges,
      seeds: Seq[(Long, Double)],
      withWeight: Boolean): Option[Array[(Long, Long, Long, Double)]] = {
    val cap = Cutover.cap(
      spark, if (seeds.isEmpty) Long.MaxValue else MaxWork / seeds.length)
    edges match {
      case ShortestPath.TypedEdges(g, types, dir) =>
        val perTriple = if (dir == Expand.Both) 2L else 1L
        g.localTypedEdges(types)
          .filter(t => Cutover.fits(perTriple * t.length, cap))
          .map { t =>
            lazy val out = t.map { case (e, s, d) => (e, s, d, 0.0) }
            lazy val in = t.map { case (e, s, d) => (e, d, s, 0.0) }
            dir match {
              case Expand.Out => out
              case Expand.In => in
              case Expand.Both => out ++ in
            }
          }
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

  /** Seed-reachable capture: when the FULL edge set is supercritical but
    * the seed set is small and the hop bound tight, the subgraph a
    * bounded BFS can touch is usually tiny — collect it with one
    * frontier-pruned scan per level (`src IN frontier` pushes into the
    * cached columnar scan, no shuffle, no checkpoint) and hand the exact
    * driver BFS that subgraph. Identical results by construction: the
    * capture gathers every out-edge of every node within maxHops-1, which
    * is precisely the edge set a maxHops-bounded traversal can use.
    * Bails (→ distributed fixpoint) when a frontier exceeds
    * [[CaptureFrontier]] (hub explosion), the collected edges exceed the
    * [[Cutover]] cap, or the hop bound is above [[CaptureHops]].
    * `seeds` are the rows of the search's seed probe ([[collectSeeds]]). */
  def tryCollectReachable(
      edges: DataFrame,
      seeds: Seq[Long],
      maxHops: Int): Option[Array[(Long, Long, Long, Double)]] = {
    if (maxHops > CaptureHops) return None
    val cap = Cutover.cap(edges.sparkSession)
    val seedIds = seeds.distinct
    val sel = edges.select(
      col("__sp_eid"), col(GraphState.SrcCol), col(GraphState.DstCol))
    val acc = mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val reached = mutable.HashSet.empty[Long] ++ seedIds
    var frontier: Seq[Long] = seedIds
    var hop = 0
    while (frontier.nonEmpty && hop < maxHops) {
      hop += 1
      if (frontier.size > CaptureFrontier) return None
      val out = sel.filter(col(GraphState.SrcCol).isin(frontier: _*))
      val batch = Cutover.within(out, cap - acc.size).getOrElse(return None)
      acc ++= batch.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), 0.0))
      frontier = batch.map(_.getLong(2)).distinct.filterNot(reached)
      reached ++= frontier
    }
    Some(acc.toArray)
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

  /** Multi-source BFS mirroring [[ShortestPath.bfsEdges]]. */
  def bfsDf(
      spark: SparkSession,
      edges: Array[(Long, Long, Long, Double)],
      seeds: Seq[(Long, Double)],
      maxHops: Int,
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
    * single-threaded here too). */
  def allPathsDf(
      spark: SparkSession,
      edges: Array[(Long, Long, Long, Double)],
      seeds: Seq[Long],
      maxHops: Int): Option[DataFrame] = {
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
