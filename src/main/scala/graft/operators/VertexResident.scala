package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The vertex-resident placement of the whole-graph iterative procedures:
  * the node set fits under the [[Cutover]] cap but the edge set does not.
  * The per-vertex state is a dense array on the driver, indexed by the
  * sorted node ids ([[LocalProcs.sortedIds]]); the edges stay on the
  * executors, and a round is ONE Spark job — broadcast the state,
  * `treeAggregate` the partitions' partial results. No Catalyst plan, no
  * shuffle and no checkpoint per round. The kernels are
  * [[LocalProcs]]'s, run per edge partition instead of over one
  * collected block, so the results match the driver-local placement.
  *
  * Driver state is O(cap): the node ids and dense arrays of that length,
  * plus one partial result per partition while merging; the partition
  * count is capped at the default parallelism so the merge stays small.
  * A forest task likewise holds O(cap) edges ([[partitionForest]]).
  */
private[graft] object VertexResident {

  /** `rdd` in at most default-parallelism partitions. */
  def atMostParallelism[T](rdd: RDD[T]): RDD[T] = {
    val par = rdd.sparkContext.defaultParallelism
    if (rdd.getNumPartitions > par) rdd.coalesce(par) else rdd
  }

  /** `edges`' first two columns as (src, dst) per row, in at most
    * default-parallelism partitions. */
  private def edgePartitions(edges: DataFrame): RDD[(Long, Long)] =
    atMostParallelism(edges.rdd.map(r => (r.getLong(0), r.getLong(1))))

  /** Element-wise sum into `a`; an empty array is the zero. */
  private def addInto(a: Array[Double], b: Array[Double]): Array[Double] =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a }

  /** One job: `sweep` over every block into a dense array of `n`,
    * partial arrays summed by `treeAggregate`. */
  private def sumOver(blocks: RDD[LocalProcs.RankBlock], n: Int)(
      sweep: (LocalProcs.RankBlock, Array[Double]) => Array[Double])
    : Array[Double] = {
    val c = blocks.treeAggregate(Array.emptyDoubleArray)(
      (acc, b) => sweep(b, if (acc.isEmpty) new Array[Double](n) else acc),
      addInto)
    if (c.isEmpty) new Array[Double](n) else c
  }

  /** [[LocalProcs.pagerank]] with the edges left in `edges` (src, dst):
    * one job for the out-degrees (it also caches the index blocks), then
    * one job per round. */
  def pagerank(
      nodes: Array[Long],
      edges: DataFrame,
      d: Double,
      iters: Int): Array[(Long, Double)] = {
    val sc = edges.sparkSession.sparkContext
    val ids = LocalProcs.sortedIds(nodes)
    val n = ids.length
    val bIds = sc.broadcast(ids)
    val blocks = edgePartitions(edges)
      .mapPartitions(it => Iterator(LocalProcs.rankBlock(bIds.value, it)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val bDeg = sc.broadcast(sumOver(blocks, n)(LocalProcs.outDegrees))
      try {
        val pr = LocalProcs.rankRounds(n, nodes.length, d, iters) { rank =>
          val bRank = sc.broadcast(rank)
          try sumOver(blocks, n)(LocalProcs.rankSweep(_, bRank.value, bDeg.value, _))
          finally bRank.destroy()
        }
        nodes.map(v => (v, pr(LocalProcs.indexOf(ids, v))))
      } finally bDeg.destroy()
    } finally {
      blocks.unpersist(blocking = false)
      bIds.destroy()
    }
  }

  type Forest = Option[(Array[Long], Array[Long])]

  private val NoEdges: Forest =
    Some((Array.emptyLongArray, Array.emptyLongArray))

  /** The spanning forest of `f`'s edges plus `src`–`dst`; None when `f`
    * is None or the result exceeds `cap` endpoints. */
  private def absorb(
      f: Forest, src: Array[Long], dst: Array[Long], cap: Long): Forest =
    f.flatMap { case (v, r) =>
      if (src.isEmpty) f
      else {
        val g = LocalProcs.spanningForest(
          Array.concat(v, src), Array.concat(r, dst))
        if (g._1.length > cap) None else Some(g)
      }
    }

  /** One partition's spanning forest, folded in chunks of at most `cap`
    * edges, so a task holds O(cap) edges and forest endpoints; stops
    * reading and returns None as soon as the forest exceeds `cap`
    * endpoints. */
  def partitionForest(edges: Iterator[(Long, Long)], cap: Long): Forest = {
    val chunk = math.min(cap, Int.MaxValue.toLong).toInt
    var f = NoEdges
    while (f.nonEmpty && edges.hasNext) {
      val s = Array.newBuilder[Long]
      val t = Array.newBuilder[Long]
      var k = 0
      while (k < chunk && edges.hasNext) {
        val (u, w) = edges.next()
        s += u; t += w; k += 1
      }
      f = absorb(f, s.result(), t.result(), cap)
    }
    f
  }

  /** A spanning forest of `edges` (src, dst) in ONE job: each partition
    * reduces its edges with [[partitionForest]], and the partial forests
    * merge pairwise the same way. The forest keeps the edges'
    * connectivity and endpoint set, so [[LocalProcs.wcc]] over it returns
    * the fixpoint's rows. Endpoints outside the node set are not bounded
    * by the node probe: None when a partial forest exceeds `cap`
    * endpoints.
    * @return (v, root) for every endpoint */
  def forest(edges: DataFrame, cap: Long): Forest = {
    def merge(a: Forest, b: Forest): Forest =
      b.flatMap { case (v, r) => absorb(a, v, r, cap) }
    edgePartitions(edges)
      .mapPartitions(it => Iterator(partitionForest(it, cap)))
      .treeAggregate(NoEdges)(merge, merge)
  }
}
