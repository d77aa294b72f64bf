package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fundamental cycles — the reference's `cycles_module`
  * (`src/mage/cpp/cycles_module/algorithm/cycles.hpp`): a spanning tree
  * per component plus, for every non-tree ("chord") edge, the cycle it
  * closes through the tree. The reference walks parent pointers from a
  * recursive DFS; the Spark-first analog is fully level-synchronous:
  *
  *   1. spanning FOREST by multi-source BFS from each component's
  *      minimum-id node ([[Forest.bfs]] — deterministic, no DFS);
  *   2. chord detection ([[Forest.treeSplit]]): per undirected node pair,
  *      the first edge lying on a tree (child, parent) pair is the tree
  *      edge; every other edge (extra parallels and all non-tree pairs)
  *      is a chord;
  *   3. cycle reconstruction: all chords walk toward their LCA at once —
  *      one join against the parent table per level, stepping the deeper
  *      endpoint (both on ties), rounds = forest depth.
  *
  * Deterministic: min-id roots, min-parent tie-break, cycle ids ranked by
  * the closing chord's (min endpoint, max endpoint, edge id) — assigned
  * via distributed sort + zipWithIndex ([[Ranks.orderedIds]]), not a
  * single-partition global window.
  */
object Cycles {

  /** @param nodes single column `node`
    * @param edges (edge_id, src, dst) — undirected interpretation
    * @return (cycle_id, node) — one row per node of each fundamental
    *         cycle; a self-loop contributes a 1-node cycle, a parallel
    *         duplicate a 2-node cycle
    */
  def fundamental(
      spark: SparkSession,
      nodes: DataFrame,
      edges: DataFrame): DataFrame = {
    // SUBCRITICAL path ([[Cutover]], [[LocalGraph]]): below the cap a
    // collect + sequential BFS-forest/LCA pass beats any fixpoint; the
    // node sets reproduce the same deterministic forest, so output is
    // identical to the distributed walk's.
    Cutover
      .collect(edges.select(
        col("edge_id").cast("long"),
        col("src").cast("long"),
        col("dst").cast("long")))
      .foreach { es =>
        val rows = LocalGraph.fundamentalCycles(
          es.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))),
          nodes.select(col("node").cast("long")).collect().map(_.getLong(0)))
        import spark.implicits._
        return rows.toSeq
          .flatMap { case (cid, ns) => ns.map(nd => (cid, nd)) }
          .toDF("cycle_id", "node")
      }
    val und = edges
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .unionByName(
        edges
          .filter(col("src") =!= col("dst"))
          .select(col("dst").as("src"), col("src").as("dst")))
      .transform(Scratch.cp)

    val (parents, maxDepth) = Forest.bfs(spark, nodes, und)
    val chords = Forest
      .treeSplit(edges, parents)
      ._2
      .select(
        col("edge_id"),
        col("src"),
        col("dst"),
        least(col("src"), col("dst")).as("__a"),
        greatest(col("src"), col("dst")).as("__b"))
      .transform(Scratch.cp)

    // every chord walks to its LCA simultaneously — the deeper side
    // steps up each round (both on equal depths), collecting node chains
    val dep = parents.select(
      col("node").as("__dn"), col("parent").as("__dp"), col("depth").as("__dd"))
    var walk = chords
      .join(dep.select(col("__dn").as("src"), col("__dd").as("__du")), Seq("src"))
      .join(dep.select(col("__dn").as("dst"), col("__dd").as("__dv")), Seq("dst"))
      .select(
        col("edge_id"),
        col("__a"),
        col("__b"),
        col("src").as("__u"),
        col("dst").as("__v"),
        col("__du"),
        col("__dv"),
        array(col("src")).as("__nu"),
        array(col("dst")).as("__nv"))
      .transform(Scratch.cp)
    // finished rows accumulate LAZILY: each union leaf derives from a
    // checkpointed round frame, so the plan stays linear in maxDepth —
    // no per-round job for the accumulator, no per-round isEmpty probe
    // (the walk is bounded by the forest depth anyway)
    var doneW: Option[DataFrame] = None
    def finish(rows: DataFrame): Unit = {
      // cycle nodes = u-side chain + v-side chain reversed, LCA once
      val f = rows.select(
        col("edge_id"),
        col("__a"),
        col("__b"),
        concat(
          col("__nu"),
          reverse(slice(col("__nv"), lit(1), size(col("__nv")) - 1)))
          .as("__nodes"))
      doneW = Some(doneW.map(_.unionByName(f)).getOrElse(f))
    }
    finish(walk.filter(col("__u") === col("__v")))
    walk = walk.filter(col("__u") =!= col("__v"))
    var r = 0L
    while (r < maxDepth) {
      r += 1
      val stepU = col("__du") >= col("__dv")
      val stepV = col("__dv") >= col("__du")
      val stepped0 = walk
        .join(
          dep.select(
            col("__dn").as("__u"), col("__dp").as("__pu")),
          Seq("__u"))
        .join(
          dep.select(
            col("__dn").as("__v"), col("__dp").as("__pv")),
          Seq("__v"))
        .select(
          col("edge_id"),
          col("__a"),
          col("__b"),
          when(stepU, col("__pu")).otherwise(col("__u")).as("__u"),
          when(stepV, col("__pv")).otherwise(col("__v")).as("__v"),
          when(stepU, col("__du") - 1L).otherwise(col("__du")).as("__du"),
          when(stepV, col("__dv") - 1L).otherwise(col("__dv")).as("__dv"),
          when(stepU, concat(col("__nu"), array(col("__pu"))))
            .otherwise(col("__nu")).as("__nu"),
          when(stepV, concat(col("__nv"), array(col("__pv"))))
            .otherwise(col("__nv")).as("__nv"))
      // checkpoint + early-exit probe every FOURTH round only (and the
      // last): driver job count dominates at small scale, and 4 rounds of
      // narrow joins keep plan and task-binary growth bounded; skipped
      // rounds schedule no job at all
      val cpNow = r % 4 == 0 || r == maxDepth
      val stepped = if (cpNow) Scratch.cp(stepped0) else stepped0
      finish(stepped.filter(col("__u") === col("__v")))
      walk = stepped.filter(col("__u") =!= col("__v"))
      if (cpNow && walk.isEmpty) r = maxDepth // early exit
    }
    if (!walk.isEmpty)
      throw new IllegalStateException(
        "cycles: chord walk did not converge within the forest depth")

    doneW match {
      case None =>
        spark.range(0).select(
          col("id").as("cycle_id"), col("id").as("node"))
      case Some(d) =>
        Ranks
          .orderedIds(
            d.select(col("__a"), col("__b"), col("edge_id"), col("__nodes")),
            "cycle_id",
            "__a", "__b", "edge_id")
          .select(col("cycle_id"), explode(col("__nodes")).as("node"))
    }
  }
}
