package graft.operators

import scala.collection.mutable

/** Driver-local emulation of the reference's `USING HOPS LIMIT` partial
  * results (`src/query/hops_limit.hpp`; storage fetch accounting in
  * `src/storage/v2/vertex_accessor.cpp:1195-1240`).
  *
  * The reference counts one hop per TYPED edge fetched from a vertex's
  * adjacency during expansion, TRUNCATES the fetched list when the quota
  * runs out, and after that performs no further fetches — but cursors
  * keep draining already-fetched iterators, so which rows survive is a
  * function of the engine's exact traversal order:
  *
  *   - `Expand` / `ExpandVariable` (DFS): input vertices in id order,
  *     in-edges fetched before out-edges (`operator.cpp:2053,2076`),
  *     per-vertex lists in edge-id order, stack DFS with edge
  *     uniqueness;
  *   - `SingleSourceShortestPath` (BFS): per level, vertices popped
  *     LIFO from the frontier, out-edges before in
  *     (`operator.cpp:2593-2692`);
  *   - `STShortestPath`: bidirectional — alternating source/sink level
  *     steps, out before in (`operator.cpp:2590` `FindPath`).
  *
  * A distributed batch plan has no such order, so when a statement
  * carries `USING HOPS LIMIT` and the typed edge set is subcritical
  * (`spark.graft.local.edges`), the planner replays the reference's
  * single-threaded traversal here — the reference itself is
  * single-threaded for these cursors, so this is its direct analog, not
  * a scalability cop-out; above the threshold the planner keeps its
  * raise-on-breach contract (partial results at that scale would be
  * nondeterministic noise).
  */
private[graft] object LocalHops {

  /** One emitted partial-traversal row. */
  final case class PathRow(
      src: Long,
      dst: Long,
      nodes: Seq[Long],
      eids: Seq[Long])

  /** @param breached true iff the limit truncated any fetch — when
    *        false the full (non-partial) distributed result is identical
    *        and the caller should prefer it */
  final case class Emu(breached: Boolean, rows: Seq[PathRow])

  /** The reference's `SharedQuota` fetch accounting: a vertex's typed
    * edge list costs one hop per edge; on exhaustion the list truncates
    * and every later fetch returns empty. */
  /** Statement-wide fetch budget (`USING HOPS LIMIT` counter,
    * hops_limit.hpp): the reference shares ONE counter across every
    * expansion of a statement — callers create one Quota per statement
    * and pass it to each emulated traversal. */
  final class Quota(cap: Long) {
    var used = 0L
    var reached = false
    def fetch[E](list: Seq[E]): Seq[E] = {
      if (reached) return Nil
      val avail = cap - used
      if (list.size <= avail) { used += list.size; list }
      else {
        used = cap
        reached = true
        list.take(avail.toInt)
      }
    }
  }

  /** (eid, dst) adjacency per vertex, edge-id (= insertion) order. */
  private final class Adj(edges: Array[(Long, Long, Long)]) {
    val out = mutable.LinkedHashMap.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
    val in = mutable.LinkedHashMap.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
    edges.sortBy(_._1).foreach { case (id, s, d) =>
      out.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += ((id, d))
      in.getOrElseUpdate(d, mutable.ArrayBuffer.empty) += ((id, s))
    }
    private def of(v: Long, dirOut: Boolean, dirIn: Boolean, outFirst: Boolean)
      : Seq[(Long, Long)] = {
      val o = if (dirOut) out.getOrElse(v, Nil).toSeq else Nil
      val i = if (dirIn) in.getOrElse(v, Nil).toSeq else Nil
      if (outFirst) o ++ i else i ++ o
    }

    /** `v`'s edges as fetched under `q`. An undirected fetch holds a
      * self-loop in both lists: the quota charges it per list, and it is
      * yielded once, the rule of every traversal ([[Expand.oriented]]). */
    def fetch(
        q: Quota, v: Long, dirOut: Boolean, dirIn: Boolean, outFirst: Boolean)
      : Seq[(Long, Long)] =
      q.fetch(of(v, dirOut, dirIn, outFirst)).distinct
  }

  /** Single-hop `Expand` partial: every input vertex in order fetches its
    * typed (direction-matching) list; each fetched edge is one row. The
    * caller re-filters its planned frame to the surviving (vertex, edge)
    * pairs, so constraints downstream still apply. */
  def singleHop(
      edges: Array[(Long, Long, Long)],
      sources: Seq[Long],
      dirOut: Boolean,
      dirIn: Boolean,
      q: Quota): Emu = {
    val adj = new Adj(edges)
    val rows = mutable.ArrayBuffer.empty[PathRow]
    sources.foreach { v =>
      adj.fetch(q, v, dirOut, dirIn, outFirst = false).foreach {
        case (eid, other) => rows += PathRow(v, other, Seq(v, other), Seq(eid))
      }
    }
    Emu(q.reached, rows.toSeq)
  }

  /** `ExpandVariable` DFS partial: stack DFS per input vertex, edge
    * uniqueness, children fetched on descent (no fetch once the limit is
    * reached — already-fetched iterators keep draining, reference
    * `operator.cpp:2423`). */
  def dfs(
      edges: Array[(Long, Long, Long)],
      sources: Seq[Long],
      dirOut: Boolean,
      dirIn: Boolean,
      minH: Int,
      maxH: Long,
      q: Quota,
      allowed: Option[Set[Long]]): Emu = {
    val adj = new Adj(edges)
    val rows = mutable.ArrayBuffer.empty[PathRow]
    sources.foreach { v =>
      if (minH == 0) rows += PathRow(v, v, Seq(v), Nil)
      // frames: (edge iterator, nodes so far, eids so far)
      val stack = mutable.ArrayBuffer
        .empty[(Iterator[(Long, Long)], List[Long], List[Long])]
      stack += ((
        adj.fetch(q, v, dirOut, dirIn, outFirst = false).iterator,
        List(v), Nil))
      while (stack.nonEmpty) {
        val (it, nodes, eids) = stack.last
        if (it.hasNext) {
          val (eid, other) = it.next()
          if (!eids.contains(eid) && allowed.forall(_.contains(eid))) {
            val nodes2 = other :: nodes
            val eids2 = eid :: eids
            if (eids2.size >= minH && eids2.size <= maxH)
              rows += PathRow(v, other, nodes2.reverse, eids2.reverse)
            if (eids2.size < maxH)
              stack += ((
                adj.fetch(q, other, dirOut, dirIn, outFirst = false).iterator,
                nodes2, eids2))
          }
        } else stack.remove(stack.size - 1)
      }
    }
    Emu(q.reached, rows.toSeq)
  }

  /** `SingleSourceShortestPath` BFS partial: one source at a time, LIFO
    * pops within each level, first-discovery wins, rows emitted per
    * discovered vertex. */
  def bfs(
      edges: Array[(Long, Long, Long)],
      sources: Seq[Long],
      dirOut: Boolean,
      dirIn: Boolean,
      minH: Int,
      maxH: Long,
      q: Quota,
      allowed: Option[Set[Long]]): Emu = {
    val adj = new Adj(edges)
    val rows = mutable.ArrayBuffer.empty[PathRow]
    sources.foreach { src =>
      // zero-length path: the source itself at depth 0 (reference BFS
      // emits the seed when the lower bound admits it)
      if (minH == 0) rows += PathRow(src, src, Seq(src), Nil)
      val visited = mutable.HashSet(src)
      val paths =
        mutable.HashMap[Long, (List[Long], List[Long])](src -> (List(src), Nil))
      var cur = mutable.ArrayBuffer(src)
      var depth = 0L
      while (cur.nonEmpty && depth < maxH) {
        val next = mutable.ArrayBuffer.empty[Long]
        while (cur.nonEmpty) {
          val u = cur.remove(cur.size - 1) // pop_back (reference LIFO)
          adj.fetch(q, u, dirOut, dirIn, outFirst = true).foreach {
            case (eid, other) =>
              if (allowed.forall(_.contains(eid)) && !visited(other)) {
                visited += other
                val (pn, pe) = paths(u)
                val nodes2 = other :: pn
                val eids2 = eid :: pe
                paths(other) = (nodes2, eids2)
                if (depth + 1 >= minH)
                  rows += PathRow(src, other, nodes2.reverse, eids2.reverse)
                next += other
              }
          }
        }
        cur = next
        depth += 1
      }
    }
    Emu(q.reached, rows.toSeq)
  }

  /** `STShortestPath` bidirectional partial: alternating source/sink
    * level steps (source first), meet-in-the-middle, one path per pair. */
  def st(
      edges: Array[(Long, Long, Long)],
      pairs: Seq[(Long, Long)],
      dirOut: Boolean,
      dirIn: Boolean,
      minH: Int,
      maxH: Long,
      q: Quota,
      allowed: Option[Set[Long]]): Emu = {
    val adj = new Adj(edges)
    val rows = mutable.ArrayBuffer.empty[PathRow]
    pairs.foreach { case (source, sink) =>
      // self-reaching pair: the zero-length path (when minH admits it)
      if (source == sink) {
        if (minH == 0) rows += PathRow(source, source, Seq(source), Nil)
      } else {
        // per-side parent maps: v -> (eid, predecessor on that side)
        val inEdge = mutable.HashMap[Long, Option[(Long, Long)]](source -> None)
        val outEdge = mutable.HashMap[Long, Option[(Long, Long)]](sink -> None)
        var srcFront = mutable.ArrayBuffer(source)
        var sinkFront = mutable.ArrayBuffer(sink)
        var len = 0L
        var found: Option[Long] = None // meeting vertex
        var exhausted = false
        def step(
            front: mutable.ArrayBuffer[Long],
            own: mutable.HashMap[Long, Option[(Long, Long)]],
            otherSide: mutable.HashMap[Long, Option[(Long, Long)]],
            fromSource: Boolean): mutable.ArrayBuffer[Long] = {
          val nxt = mutable.ArrayBuffer.empty[Long]
          front.foreach { v =>
            // the sink side walks edges BACKWARD: an Out pattern means the
            // sink expands over its in-edges
            val (useOut, useIn) =
              if (fromSource) (dirOut, dirIn) else (dirIn, dirOut)
            adj.fetch(q, v, useOut, useIn, outFirst = true).foreach {
              case (eid, other) =>
                if (found.isEmpty && allowed.forall(_.contains(eid)) &&
                  !own.contains(other)) {
                  own(other) = Some((eid, v))
                  if (otherSide.contains(other)) found = Some(other)
                  else nxt += other
                }
            }
          }
          nxt
        }
        while (found.isEmpty && !exhausted && len < maxH) {
          len += 1
          srcFront = step(srcFront, inEdge, outEdge, fromSource = true)
          if (found.isEmpty) {
            if (srcFront.isEmpty) exhausted = true
            else if (len < maxH) {
              len += 1
              sinkFront = step(sinkFront, outEdge, inEdge, fromSource = false)
              if (found.isEmpty && sinkFront.isEmpty) exhausted = true
            } else exhausted = true
          }
        }
        found.foreach { mid =>
          // stitch source→mid (reversed walk up inEdge) + mid→sink
          var nodes = List(mid)
          var eids = List.empty[Long]
          var v = mid
          var p = inEdge(v)
          while (p.isDefined) {
            val (eid, prev) = p.get
            nodes = prev :: nodes
            eids = eid :: eids
            v = prev
            p = inEdge(v)
          }
          var nodesTail = List.empty[Long]
          var eidsTail = List.empty[Long]
          v = mid
          var po = outEdge(v)
          while (po.isDefined) {
            val (eid, nxt) = po.get
            nodesTail = nxt :: nodesTail
            eidsTail = eid :: eidsTail
            v = nxt
            po = outEdge(v)
          }
          val allE = eids ++ eidsTail.reverse
          val allN = nodes ++ nodesTail.reverse
          if (allE.size >= minH)
            rows += PathRow(source, sink, allN, allE)
        }
      }
    }
    Emu(q.reached, rows.toSeq)
  }
}
