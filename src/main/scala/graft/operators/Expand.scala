package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Frames, GraphState}

/** One-hop expansion — the reference's `Expand` operator
  * (`src/query/plan/operator.hpp:1063`, cursor `operator.cpp:1904`): for each
  * frame row's bound node, iterate edges of the requested direction/types and
  * bind (edge, neighbor).
  *
  * Spark-first lowering: an equi-join frame⋈edges on the node id, then (if
  * the other endpoint is a fresh variable) a join to the target label's node
  * frame; if the endpoint is already bound (`existing_node`, operator.hpp's
  * `existing_node_` flag) we only add the equality predicate — Catalyst turns
  * the id-equality chain into shuffled hash joins (or broadcast joins when a
  * side is small, e.g. Nation/Region dimension labels).
  */
object Expand {

  sealed trait Direction
  case object Out extends Direction
  case object In extends Direction
  case object Both extends Direction

  /** An edge frame in traversal orientation: each row steps from its
    * `near` column to its `far` column. */
  final case class Oriented(df: DataFrame, near: String, far: String) {

    /** The rows as traversal steps: (src = near, dst = far, `cols`…). */
    def steps(cols: Column*): DataFrame =
      df.select(
        col(near).as(GraphState.SrcCol) +: col(far).as(GraphState.DstCol) +:
          cols: _*)

    /** `frame` without the columns [[oriented]] added for `Both`. */
    def dropTraversal(frame: DataFrame): DataFrame =
      if (near == NearCol) frame.drop(NearCol, FarCol) else frame
  }

  private val NearCol = "__near"
  private val FarCol = "__far"

  /** The one orientation rule of every traversal over `edges`, whose
    * endpoints are the columns `src` and `dst`: `Out` steps src→dst and
    * `In` dst→src, both over the frame unchanged; `Both` adds a reversed
    * copy of every edge but a self-loop, which the reference yields once
    * (`operator.cpp:1904`). The edge's own columns are untouched, so edge
    * bindings read identically downstream. [[orientedTriples]] is its
    * driver twin. */
  def oriented(
      edges: DataFrame, dir: Direction, src: String, dst: String): Oriented =
    dir match {
      case Out => Oriented(edges, src, dst)
      case In => Oriented(edges, dst, src)
      case Both =>
        def as(near: String, far: String)(df: DataFrame) =
          df.withColumn(NearCol, col(near)).withColumn(FarCol, col(far))
        Oriented(
          as(src, dst)(edges).unionByName(
            as(dst, src)(edges.filter(col(src) =!= col(dst)))),
          NearCol, FarCol)
    }

  /** [[oriented]] over the driver's (eid, src, dst) triples (the version
    * memo, [[GraphState.localTypedEdges]]): `mk(eid, near, far)` per
    * oriented row, `2E - loops` rows for `Both`. */
  def orientedTriples[T: scala.reflect.ClassTag](
      triples: Array[(Long, Long, Long)], dir: Direction)(
      mk: (Long, Long, Long) => T): Array[T] = {
    val out = Array.newBuilder[T]
    if (dir != In) triples.foreach { case (e, s, d) => out += mk(e, s, d) }
    if (dir != Out) triples.foreach { case (e, s, d) =>
      if (dir == In || s != d) out += mk(e, d, s)
    }
    out.result()
  }

  /** `edgeVar`'s `types` edges, bound and oriented by `dir`. */
  private def boundEdges(
      g: GraphState, edgeVar: String, types: Seq[String], dir: Direction) =
    oriented(
      Frames.bind(edgeVar)(g.edgesOfTypes(types)), dir,
      s"$edgeVar${Frames.Sep}${GraphState.SrcCol}",
      s"$edgeVar${Frames.Sep}${GraphState.DstCol}")

  /** Expand from bound `srcVar` over `types` edges, binding `edgeVar` and
    * fresh node `dstVar` with label `dstLabel` (None = any label). An
    * undirected hop joins the both-ways oriented edge set once, which
    * keeps the accumulated plan linear in the number of undirected hops
    * (a union of two expansions copied the whole upstream subtree). */
  def apply(
      frame: DataFrame,
      g: GraphState,
      srcVar: String,
      edgeVar: String,
      types: Seq[String],
      dir: Direction,
      dstVar: String,
      dstLabel: Option[String]): DataFrame = {
    val e = boundEdges(g, edgeVar, types, dir)
    val nodesDf = dstLabel.map(g.nodesOrEmpty).getOrElse(g.allNodes)
    e.dropTraversal(
      frame
        .join(e.df, col(e.near) === Frames.id(srcVar))
        .join(Frames.bind(dstVar)(nodesDf), col(e.far) === Frames.id(dstVar)))
  }

  /** Expand to an already-bound endpoint: one equi-join on both ends. An
    * OR-of-equalities condition for `Both` cannot hash-partition (Catalyst
    * falls back to BroadcastNestedLoopJoin, O(frame × edges) at scale);
    * the oriented edge set keeps it one equi-join, and the doubled side is
    * the edge scan, a base table read — unioning two copies of the
    * accumulated frame made ldbc_bi11 execute its person/city base eight
    * times. */
  def toExisting(
      frame: DataFrame,
      g: GraphState,
      srcVar: String,
      edgeVar: String,
      types: Seq[String],
      dir: Direction,
      existingVar: String): DataFrame = {
    val e = boundEdges(g, edgeVar, types, dir)
    e.dropTraversal(
      frame.join(
        e.df,
        col(e.near) === Frames.id(srcVar) &&
          col(e.far) === Frames.id(existingVar)))
  }
}
