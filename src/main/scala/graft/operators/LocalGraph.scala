package graft.operators

import scala.collection.mutable

/** Driver-local exact graph algorithms for SUBCRITICAL inputs.
  *
  * Every driver-fixpoint round costs a fixed scheduling quantum (job
  * submit + two stage barriers) regardless of data volume, so below a
  * size threshold a collect + sequential pass + parallelize is strictly
  * faster than ANY level-synchronous formulation — the same reasoning
  * that broadcasts a small join side. [[Biconnected]] and [[Cycles]]
  * route here when the edge count is at most
  * `spark.graft.local.edges` (default 2,000,000 ≈ 50 MB collected);
  * above it they run their distributed walks. The reference runs
  * single-node DFS unconditionally (`bridges_module/algorithm.cpp`,
  * `biconnected_components_module/algorithm.cpp`,
  * `cycles_module/algorithm/cycles.hpp`) — this path is its direct
  * analog, and both paths produce IDENTICAL output (components and
  * bridges are graph-theoretic; cycle node sets reproduce the same
  * min-root/min-parent BFS forest the distributed walk builds).
  *
  * [[biconnected]] is also the one lowlink pass of the single-node module
  * mirrors: `nxalg.biconnected_components`, `nxalg.bridges` and
  * graph_analyzer's bridge and articulation counts reach it through
  * `graft.procedures.NxLocal.biconnected`.
  */
private[graft] object LocalGraph {

  /** Iterative Tarjan biconnected components + bridges (no recursion —
    * long paths must not overflow the stack).
    * @param edges (edgeId, src, dst) undirected; parallel edges and
    *              self-loops allowed
    * @return (edgeId, isBridge, bcc = min edge id of its component;
    *         self-loops and bridges are their own singleton)
    */
  def biconnected(edges: Array[(Long, Long, Long)]): Array[(Long, Boolean, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Boolean, Long)]
    // vertex index
    val idx = mutable.HashMap.empty[Long, Int]
    edges.foreach { case (_, s, d) =>
      if (s != d) { idx.getOrElseUpdate(s, idx.size); idx.getOrElseUpdate(d, idx.size) }
    }
    val n = idx.size
    val adj = Array.fill(n)(mutable.ArrayBuffer.empty[(Int, Long)])
    edges.foreach { case (id, s, d) =>
      if (s == d) out += ((id, false, id)) // self-loop: own singleton
      else {
        val (u, v) = (idx(s), idx(d))
        adj(u) += ((v, id)); adj(v) += ((u, id))
      }
    }
    val disc = Array.fill(n)(-1)
    val low = Array.fill(n)(0)
    var timer = 0
    val edgeStack = mutable.ArrayBuffer.empty[Long] // edge ids
    val bridges = mutable.HashSet.empty[Long]
    val seenEdge = mutable.HashSet.empty[Long] // pushed once per edge
    for (s <- 0 until n if disc(s) == -1) {
      // frames: (vertex, parentEdgeId, childIterator position)
      val stack = mutable.ArrayBuffer.empty[(Int, Long, Iterator[(Int, Long)])]
      disc(s) = timer; low(s) = timer; timer += 1
      stack += ((s, -1L, adj(s).iterator))
      while (stack.nonEmpty) {
        val (v, pe, it) = stack.last
        if (it.hasNext) {
          val (w, eid) = it.next()
          if (eid == pe) () // the exact edge we entered on — skip once
          else if (disc(w) == -1) {
            if (!seenEdge.add(eid)) ()
            else edgeStack += eid
            disc(w) = timer; low(w) = timer; timer += 1
            stack += ((w, eid, adj(w).iterator))
          } else {
            if (seenEdge.add(eid)) edgeStack += eid
            if (disc(w) < low(v)) low(v) = disc(w)
          }
        } else {
          stack.remove(stack.size - 1)
          if (stack.nonEmpty) {
            val (p, _, _) = stack.last
            if (low(v) < low(p)) low(p) = low(v)
            if (low(v) >= disc(p)) {
              // pop one biconnected component: everything above (and
              // including) the tree edge p—v
              val comp = mutable.ArrayBuffer.empty[Long]
              var stop = false
              while (!stop && edgeStack.nonEmpty) {
                val eid = edgeStack.remove(edgeStack.size - 1)
                comp += eid
                if (eid == pe) stop = true
              }
              if (comp.nonEmpty) {
                val label = comp.min
                val isBridge = comp.size == 1 && low(v) > disc(p)
                comp.foreach(id => out += ((id, isBridge, label)))
              }
            }
          }
        }
      }
    }
    out.toArray
  }

  /** Fundamental cycles against the SAME deterministic spanning forest
    * the distributed walk builds: per-component min-id root, BFS levels,
    * parent = min-id neighbor one level up; per undirected node pair on a
    * tree (child, parent) pair the min-edge_id edge is the tree edge;
    * every other edge is a chord contributing the cycle through its LCA.
    * @return (cycleId, nodes of the cycle) with cycleId ranked by the
    *         chord's (min endpoint, max endpoint, edge id) — identical to
    *         [[Cycles.fundamental]]'s distributed output
    */
  def fundamentalCycles(edges: Array[(Long, Long, Long)], nodes: Array[Long])
      : Array[(Long, Array[Long])] = {
    val idx = mutable.HashMap.empty[Long, Int]
    val ids = mutable.ArrayBuffer.empty[Long]
    def ix(v: Long): Int =
      idx.getOrElseUpdate(v, { ids += v; ids.size - 1 })
    nodes.sorted.foreach(ix)
    edges.foreach { case (_, s, d) => ix(s); ix(d) }
    val n = ids.size
    val adj = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
    edges.foreach { case (_, s, d) =>
      if (s != d) { adj(ix(s)) += ix(d); adj(ix(d)) += ix(s) }
    }
    // BFS forest from min-id roots, min-id parent tie-break: process seed
    // candidates in ascending node id, levels synchronously
    val parent = Array.fill(n)(-1)
    val depth = Array.fill(n)(-1)
    val order = (0 until n).sortBy(ids)
    for (r <- order if depth(r) == -1) {
      depth(r) = 0
      var level = List(r)
      while (level.nonEmpty) {
        val next = mutable.HashMap.empty[Int, Long] // node -> min parent id
        level.foreach { v =>
          adj(v).foreach { w =>
            if (depth(w) == -1) {
              val cur = next.get(w)
              if (cur.isEmpty || ids(v) < cur.get) next(w) = ids(v)
            }
          }
        }
        val lv = mutable.ArrayBuffer.empty[Int]
        next.foreach { case (w, pid) =>
          if (depth(w) == -1) {
            depth(w) = depth(level.head) + 1
            parent(w) = ix(pid)
            lv += w
          }
        }
        level = lv.toList
      }
    }
    // tree/chord split: canonical pair -> is tree pair; rank by edge id
    val treePair = mutable.HashSet.empty[(Long, Long)]
    for (v <- 0 until n if parent(v) >= 0) {
      val (a, b) = (ids(v) min ids(parent(v)), ids(v) max ids(parent(v)))
      treePair += ((a, b))
    }
    val seenPair = mutable.HashSet.empty[(Long, Long)]
    val chords = mutable.ArrayBuffer.empty[(Long, Long, Long)] // (a, b, eid)
    edges.sortBy(_._1).foreach { case (eid, s, d) =>
      val (a, b) = (s min d, s max d)
      if (s == d) chords += ((a, b, eid))
      else if (treePair((a, b)) && seenPair.add((a, b))) () // THE tree edge
      else chords += ((a, b, eid))
    }
    // one cycle per chord, through the LCA
    chords.sortBy(c => (c._1, c._2, c._3)).zipWithIndex.map {
      case ((a, b, _), ci) =>
        if (a == b) (ci.toLong, Array(a))
        else {
          var (u, v) = (ix(a), ix(b))
          val up = mutable.ArrayBuffer(u)
          val vp = mutable.ArrayBuffer(v)
          // lockstep toward the LCA, BOTH stepping on depth ties — the
          // exact round semantics of the distributed walk
          while (u != v) {
            val du = depth(u); val dv = depth(v)
            if (du >= dv) { u = parent(u); up += u }
            if (dv >= du) { v = parent(v); vp += v }
          }
          // u-side chain (incl. LCA) + v-side reversed (excl. LCA)
          val nodesOut = up.map(ids) ++ vp.dropRight(1).reverse.map(ids)
          (ci.toLong, nodesOut.toArray)
        }
    }.toArray
  }
}
