package graft.operators

import scala.collection.mutable

/** Driver-local exact fixpoints for the iterative CALL procedures on
  * SUBCRITICAL inputs — the same adaptive dispatch [[LocalGraph]] gives
  * the cycle-space operators: below `spark.graft.local.edges` every
  * level-synchronous round's fixed scheduling quantum dominates actual
  * work, so a collect + sequential pass + parallelize is strictly
  * faster; above it the distributed fixpoints run unchanged. The
  * reference's MAGE modules are single-node throughout
  * (`src/mage/cpp/pagerank_module`, `katz_centrality_module`,
  * `community_detection_module`, `betweenness_centrality_module`) — this
  * path is their direct analog.
  *
  * The pagerank sweep ([[rankSweep]]) and the union-find
  * ([[spanningForest]]) are also the kernels of the vertex-resident
  * placement ([[VertexResident]]), which runs them per edge partition:
  * the sweep when the nodes fit under the cap but the edges do not, the
  * union-find whenever the nodes fit ([[wcc]] always labels that
  * placement's spanning forest).
  *
  * Every function here reproduces its distributed twin BIT-COMPATIBLY at
  * the gate's observation grain: integer scores and tie-breaks are exact
  * (louvain/label-prop/wcc), and the centrality accumulations replicate
  * the distributed plan's `sum(cast(x as decimal(38,12)))` discipline via
  * `BigDecimal(x).setScale(12, HALF_UP)` — the same canonical
  * double→decimal conversion Spark's `Cast` performs — so floor/round
  * gates observe identical values. `ProcsLocalSpec` asserts agreement on
  * adversarial shapes with the threshold forced each way.
  */
private[graft] object LocalProcs {

  /** Spark-compatible double → decimal(·,12) (HALF_UP, canonical string
    * representation — matches `Decimal.set(double)`). */
  private def dec12(x: Double): BigDecimal =
    BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)

  /** Sorted distinct copy of `ids` — the index space of the dense
    * per-vertex arrays: a vertex's state lives at its binary-search
    * position. */
  def sortedIds(ids: Array[Long]): Array[Long] = {
    val a = ids.clone()
    java.util.Arrays.sort(a)
    var n = 0
    var i = 0
    while (i < a.length) {
      if (n == 0 || a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(a, n)
  }

  /** Position of `v` in the sorted `ids`, -1 when absent. */
  def indexOf(ids: Array[Long], v: Long): Int = {
    val i = java.util.Arrays.binarySearch(ids, v)
    if (i < 0) -1 else i
  }

  /** A block of edges as indices into `ids`: only edges out of a member
    * source are kept; `dst` is -1 for a non-member target. */
  final case class RankBlock(src: Array[Int], dst: Array[Int])

  def rankBlock(ids: Array[Long], edges: Iterator[(Long, Long)]): RankBlock = {
    val s = Array.newBuilder[Int]
    val t = Array.newBuilder[Int]
    edges.foreach { case (u, w) =>
      val i = indexOf(ids, u)
      if (i >= 0) { s += i; t += indexOf(ids, w) }
    }
    RankBlock(s.result(), t.result())
  }

  /** Adds the block's out-degrees into `deg` — every edge out of a member
    * source counts, member target or not; returns `deg`. */
  def outDegrees(b: RankBlock, deg: Array[Double]): Array[Double] = {
    b.src.foreach(u => deg(u) += 1)
    deg
  }

  /** One PageRank sweep over a block: every edge u→w with a member
    * target adds rank(u)/deg(u) into `into(w)`; returns `into`. */
  def rankSweep(
      b: RankBlock,
      rank: Array[Double],
      deg: Array[Double],
      into: Array[Double]): Array[Double] = {
    var k = 0
    while (k < b.src.length) {
      val w = b.dst(k)
      if (w >= 0) { val u = b.src(k); into(w) += rank(u) / deg(u) }
      k += 1
    }
    into
  }

  /** The PageRank iteration over dense state of `n` vertices, given the
    * per-round contribution sums: pr₀ = 1/N, prᵢ₊₁ = (1-d)/N + d·cᵢ. */
  def rankRounds(n: Int, count: Long, d: Double, iters: Int)(
      contrib: Array[Double] => Array[Double]): Array[Double] = {
    var pr = Array.fill(n)(1.0 / count)
    for (_ <- 1 to iters) {
      val c = contrib(pr)
      var i = 0
      while (i < n) { c(i) = (1 - d) / count + d * c(i); i += 1 }
      pr = c
    }
    pr
  }

  /** PageRank, simple variant — mirrors the distributed plan: contrib
    * only from nodes present in `nodes` (inner join on outdeg), whose
    * degree counts all their edges; received only by nodes in `nodes`
    * (final left join); plain double sums, no dangling redistribution.
    * The collected edges are one [[RankBlock]]; [[VertexResident]] runs
    * the same sweep per cached edge partition.
    * @return (node, rank) for every node in `nodes` */
  def pagerank(
      nodes: Array[Long],
      edges: Array[(Long, Long)],
      d: Double,
      iters: Int): Array[(Long, Double)] = {
    val ids = sortedIds(nodes)
    val b = rankBlock(ids, edges.iterator)
    val deg = outDegrees(b, new Array[Double](ids.length))
    val pr = rankRounds(ids.length, nodes.length, d, iters)(
      rank => rankSweep(b, rank, deg, new Array[Double](ids.length)))
    nodes.map(v => (v, pr(indexOf(ids, v))))
  }

  /** Katz centrality — per-round neighbor sums in decimal(·,12) exactly
    * like the distributed `sum(cast(centrality as decimal(38,12)))`.
    * @return (node, centrality) */
  def katz(
      nodes: Array[Long],
      edges: Array[(Long, Long)],
      alpha: Double,
      beta: Double,
      iters: Int): Array[(Long, Double)] = {
    val idx = nodes.zipWithIndex.toMap
    val in = Array.fill(nodes.length)(mutable.ArrayBuffer.empty[Int])
    edges.foreach { case (s, t) =>
      (idx.get(s), idx.get(t)) match {
        case (Some(u), Some(w)) => in(w) += u
        case _ => ()
      }
    }
    var c = Array.fill(nodes.length)(0.0)
    for (_ <- 1 to iters) {
      val next = new Array[Double](nodes.length)
      var i = 0
      while (i < nodes.length) {
        var s = BigDecimal(0)
        in(i).foreach(u => s += dec12(c(u)))
        next(i) = beta + alpha * s.toDouble
        i += 1
      }
      c = next
    }
    nodes.zip(c)
  }

  /** Synchronous label propagation — votes over the undirected multiset
    * view, argmax by (count desc, label asc), no-vote keeps the label.
    * @param und PRE-UNDIRECTED edge multiset (both directions present),
    *            exactly what the distributed body builds
    * @return (node, community) */
  def labelPropagation(
      nodes: Array[Long],
      und: Array[(Long, Long)],
      iters: Int): Array[(Long, Long)] = {
    val idx = nodes.zipWithIndex.toMap
    val in = Array.fill(nodes.length)(mutable.ArrayBuffer.empty[Int])
    und.foreach { case (s, t) =>
      (idx.get(s), idx.get(t)) match {
        case (Some(u), Some(w)) => in(w) += u
        case _ => ()
      }
    }
    var lab = nodes.clone()
    for (_ <- 1 to iters) {
      val next = new Array[Long](nodes.length)
      var i = 0
      while (i < nodes.length) {
        if (in(i).isEmpty) next(i) = lab(i)
        else {
          val cnt = mutable.HashMap.empty[Long, Long]
          in(i).foreach { u =>
            val l = lab(u); cnt.update(l, cnt.getOrElse(l, 0L) + 1L)
          }
          // (count desc, label asc)
          next(i) = cnt.minBy { case (l, c) => (-c, l) }._1
        }
        i += 1
      }
      lab = next
    }
    nodes.zip(lab)
  }

  /** Synchronous Louvain-class local moves with the integer-exact gain
    * score 2m·w(v,C) − deg(v)·vol(C∖v), tie-break smallest community id
    * — the distributed body verbatim.
    * @param und pre-undirected simple-edge multiset (self-loops removed,
    *            both directions present)
    * @return (node, community) */
  def louvain(
      nodes: Array[Long],
      und: Array[(Long, Long)],
      iters: Int): Array[(Long, Long)] = {
    val idx = nodes.zipWithIndex.toMap
    val deg = new Array[Long](nodes.length)
    und.foreach { case (s, _) => idx.get(s).foreach(deg(_) += 1) }
    val in = Array.fill(nodes.length)(mutable.ArrayBuffer.empty[Int])
    und.foreach { case (s, t) =>
      (idx.get(s), idx.get(t)) match {
        case (Some(u), Some(w)) => in(u) += w // neighbors of u (out view)
        case _ => ()
      }
    }
    val m2 = math.max(und.length.toLong, 1L)
    var comm = nodes.clone()
    for (_ <- 1 to iters) {
      // vol keyed by community id (community ids are node ids)
      val volM = mutable.HashMap.empty[Long, Long]
      var i = 0
      while (i < nodes.length) {
        volM.update(comm(i), volM.getOrElse(comm(i), 0L) + deg(i)); i += 1
      }
      val next = new Array[Long](nodes.length)
      i = 0
      while (i < nodes.length) {
        // w(v, C) over neighbor multiset + own community at w=0
        val w = mutable.HashMap.empty[Long, Long]
        in(i).foreach { nb =>
          val c = comm(nb); w.update(c, w.getOrElse(c, 0L) + 1L)
        }
        if (!w.contains(comm(i))) w.update(comm(i), 0L)
        var bestScore = Long.MinValue
        var bestCand = Long.MaxValue
        w.foreach { case (cand, wc) =>
          val volx =
            volM.getOrElse(cand, 0L) - (if (cand == comm(i)) deg(i) else 0L)
          val score = m2 * wc - deg(i) * volx
          if (score > bestScore || (score == bestScore && cand < bestCand)) {
            bestScore = score; bestCand = cand
          }
        }
        next(i) = bestCand
        i += 1
      }
      comm = next
    }
    nodes.zip(comm)
  }

  /** Hierarchical Leiden-style communities (reference
    * `src/mage/cpp/leiden_community_detection_module/`): the [[louvain]]
    * local-move iterated with graph CONTRACTION until no level merges —
    * the deterministic variant, stochastic refinement replaced by the
    * same integer-exact score + smallest-community-id tie-break so
    * results are oracle-checkable. Contracted levels are weighted:
    * parallel/merged edges carry summed multiplicities, intra-community
    * weight folds into self-loops, which count twice in volumes but
    * never in w(v,C).
    * @param und pre-undirected simple-edge multiset (both directions)
    * @return (node, community) — community = a representative ORIGINAL
    *         node id (a level-0 id transitively) */
  def leiden(
      nodes: Array[Long],
      und: Array[(Long, Long)],
      itersPerLevel: Int,
      maxLevels: Int): Array[(Long, Long)] = {
    var lvlNodes: Array[Long] = nodes.distinct.sorted
    val w0 = mutable.HashMap.empty[(Long, Long), Long]
    und.foreach { case (s, t) =>
      if (s != t) w0.update((s, t), w0.getOrElse((s, t), 0L) + 1L)
    }
    var edgesW: Array[((Long, Long), Long)] = w0.toArray
    var selfW = mutable.HashMap.empty[Long, Long]
    val member = mutable.HashMap.empty[Long, Long] // original -> level node
    nodes.foreach(v => member(v) = v)
    var level = 0
    var progressed = true
    while (progressed && level < maxLevels) {
      level += 1
      val idx = lvlNodes.zipWithIndex.toMap
      val deg = new Array[Long](lvlNodes.length)
      edgesW.foreach { case ((s, _), ww) => idx.get(s).foreach(deg(_) += ww) }
      selfW.foreach { case (v, sw) => idx.get(v).foreach(deg(_) += 2 * sw) }
      var m2 = 0L; deg.foreach(m2 += _); if (m2 == 0) m2 = 1
      val nb =
        Array.fill(lvlNodes.length)(mutable.ArrayBuffer.empty[(Int, Long)])
      edgesW.foreach { case ((s, t), ww) =>
        (idx.get(s), idx.get(t)) match {
          case (Some(u), Some(x)) => nb(u) += ((x, ww))
          case _ => ()
        }
      }
      var comm = lvlNodes.clone()
      var round = 0
      var changed = true
      while (changed && round < itersPerLevel) {
        round += 1
        val volM = mutable.HashMap.empty[Long, Long]
        var i = 0
        while (i < lvlNodes.length) {
          volM.update(comm(i), volM.getOrElse(comm(i), 0L) + deg(i)); i += 1
        }
        val next = new Array[Long](lvlNodes.length)
        changed = false
        i = 0
        while (i < lvlNodes.length) {
          val w = mutable.HashMap.empty[Long, Long]
          nb(i).foreach { case (x, ww) =>
            val c = comm(x); w.update(c, w.getOrElse(c, 0L) + ww)
          }
          if (!w.contains(comm(i))) w.update(comm(i), 0L)
          var bestScore = Long.MinValue
          var bestCand = Long.MaxValue
          w.foreach { case (cand, wc) =>
            val volx =
              volM.getOrElse(cand, 0L) - (if (cand == comm(i)) deg(i) else 0L)
            val score = m2 * wc - deg(i) * volx
            if (score > bestScore || (score == bestScore && cand < bestCand)) {
              bestScore = score; bestCand = cand
            }
          }
          next(i) = bestCand
          if (bestCand != comm(i)) changed = true
          i += 1
        }
        comm = next
      }
      progressed = comm.toSet.size < lvlNodes.length
      if (progressed) {
        val commOf = mutable.HashMap.empty[Long, Long]
        var i = 0
        while (i < lvlNodes.length) { commOf(lvlNodes(i)) = comm(i); i += 1 }
        member.mapValuesInPlace((_, lv) => commOf.getOrElse(lv, lv))
        val newW = mutable.HashMap.empty[(Long, Long), Long]
        val newSelf2 = mutable.HashMap.empty[Long, Long] // 2× (both dirs)
        edgesW.foreach { case ((s, t), ww) =>
          (commOf.get(s), commOf.get(t)) match {
            case (Some(cs), Some(ct)) =>
              if (cs == ct) newSelf2.update(cs, newSelf2.getOrElse(cs, 0L) + ww)
              else newW.update((cs, ct), newW.getOrElse((cs, ct), 0L) + ww)
            case _ => ()
          }
        }
        val newSelf = mutable.HashMap.empty[Long, Long]
        newSelf2.foreach { case (c, v2) => newSelf(c) = v2 / 2 }
        selfW.foreach { case (v, sw) =>
          val c = commOf.getOrElse(v, v)
          newSelf.update(c, newSelf.getOrElse(c, 0L) + sw)
        }
        selfW = newSelf
        edgesW = newW.toArray
        lvlNodes = comm.distinct.sorted
      }
    }
    nodes.map(v => (v, member(v)))
  }

  /** Union-find over the distinct ids among `vs` and the endpoints of
    * the edges `src(k)`–`dst(k)`.
    * @return the sorted distinct ids and each one's root index */
  private def unionFind(
      vs: Array[Long],
      src: Array[Long],
      dst: Array[Long]): (Array[Long], Array[Int]) = {
    val ids = sortedIds(Array.concat(vs, src, dst))
    val parent = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    var k = 0
    while (k < src.length) {
      val a = find(indexOf(ids, src(k)))
      val b = find(indexOf(ids, dst(k)))
      if (a != b) parent(a) = b
      k += 1
    }
    (ids, Array.tabulate(ids.length)(find))
  }

  /** A spanning forest of the edges `src(k)`–`dst(k)`: one (v, root) edge
    * per endpoint, self-loop endpoints included — the same connectivity
    * and the same endpoint set as the input, in at most one edge per
    * endpoint. */
  def spanningForest(
      src: Array[Long],
      dst: Array[Long]): (Array[Long], Array[Long]) = {
    val (ids, root) = unionFind(Array.emptyLongArray, src, dst)
    (ids, root.map(ids))
  }

  /** Min-label weakly-connected components — output rows exactly match
    * the distributed fixpoint: every vertex (initial node OR edge
    * endpoint) whose component contains at least one initial node, with
    * comp = min INITIAL-node id of the component. Any edge set with the
    * same connectivity and endpoints gives the same rows, so
    * [[VertexResident.forest]]'s spanning forest may stand in for the
    * edges.
    * @return (node, comp) */
  def wcc(
      nodes: Array[Long],
      src: Array[Long],
      dst: Array[Long]): Array[(Long, Long)] = {
    val (ids, root) = unionFind(nodes, src, dst)
    // min initial id per root
    val hasInit = new Array[Boolean](ids.length)
    val minInit = new Array[Long](ids.length)
    nodes.foreach { v =>
      val r = root(indexOf(ids, v))
      if (!hasInit(r) || v < minInit(r)) { hasInit(r) = true; minInit(r) = v }
    }
    ids.indices.iterator
      .filter(i => hasInit(root(i)))
      .map(i => (ids(i), minInit(root(i))))
      .toArray
  }

  /** Brandes betweenness restricted to `seeds`, depth-capped BFS,
    * per-level dependency sums in decimal(·,12) — the distributed DAG
    * walk verbatim (parallel edges multiply path counts and
    * contributions; delta of unreachable successors is 0; the seed's own
    * delta is excluded from its centrality).
    * @param edges ORIENTED edge multiset (already direction-expanded)
    * @return (node, centrality) for every node in `nodes` */
  def betweenness(
      nodes: Array[Long],
      edges: Array[(Long, Long)],
      seeds: Array[Long],
      maxDepth: Int): Array[(Long, Double)] = {
    val idx = mutable.HashMap.empty[Long, Int]
    val ids = mutable.ArrayBuffer.empty[Long]
    def ix(v: Long): Int =
      idx.getOrElseUpdate(v, { ids += v; ids.size - 1 })
    nodes.foreach(ix)
    edges.foreach { case (s, t) => ix(s); ix(t) }
    val n = ids.size
    val adj = Array.fill(n)(mutable.ArrayBuffer.empty[Int]) // multiset
    edges.foreach { case (s, t) => adj(ix(s)) += ix(t) }
    val bcSum = mutable.HashMap.empty[Int, BigDecimal]
    seeds.foreach { seed =>
      if (idx.contains(seed)) {
        val s = idx(seed)
        val dist = Array.fill(n)(-1)
        val np = Array.fill(n)(0L)
        dist(s) = 0; np(s) = 1L
        var level = List(s)
        var d = 0
        val levels = mutable.ArrayBuffer(List(s))
        while (level.nonEmpty && d < maxDepth) {
          d += 1
          val nextNp = mutable.HashMap.empty[Int, Long]
          level.foreach { v =>
            adj(v).foreach { w =>
              if (dist(w) == -1)
                nextNp.update(w, nextNp.getOrElse(w, 0L) + np(v))
            }
          }
          val lv = mutable.ArrayBuffer.empty[Int]
          nextNp.foreach { case (w, c) =>
            if (dist(w) == -1) { dist(w) = d; np(w) = c; lv += w }
          }
          level = lv.toList
          levels += level
        }
        // dependency accumulation, deepest level first
        val delta = mutable.HashMap.empty[Int, Double]
        for (l <- (levels.size - 1) to 1 by -1) {
          val sums = mutable.HashMap.empty[Int, BigDecimal]
          levels(l - 1).foreach { v =>
            adj(v).foreach { w =>
              if (dist(w) == l) {
                val c = np(v).toDouble / np(w) *
                  (1.0 + delta.getOrElse(w, 0.0))
                sums.update(v, sums.getOrElse(v, BigDecimal(0)) + dec12(c))
              }
            }
          }
          sums.foreach { case (v, x) => delta(v) = x.toDouble }
        }
        delta.foreach { case (v, x) =>
          if (v != s)
            bcSum.update(v, bcSum.getOrElse(v, BigDecimal(0)) + dec12(x))
        }
      }
    }
    nodes.map(v => (v, bcSum.get(idx(v)).map(_.toDouble).getOrElse(0.0)))
  }
}
