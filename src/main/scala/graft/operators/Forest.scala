package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared BFS spanning-forest machinery for the cycle-space operators
  * ([[Cycles]], [[Biconnected]]): a deterministic forest (per-component
  * min-id roots, min-id parent tie-break) plus the tree/chord edge split.
  * Fully level-synchronous — rounds = forest depth, one equi-join per
  * level; no DFS anywhere (the reference's `cycles_module` /
  * `biconnected_components_module` walk recursive-DFS parent pointers).
  */
private[graft] object Forest {

  /** Multi-source BFS from each component's minimum-id node, in ONE fused
    * fixpoint (r8: the old two-phase form — min-label components to find
    * roots, then a second BFS fixpoint for parents — paid two full rounds
    * of driver jobs; on the tiny CALL-gate graphs job count IS the cost).
    *
    * Every node starts as its own provisional root; each round, CHANGED
    * nodes offer `(root, depth+1, self)` to their neighbors and a node
    * keeps the lexicographic minimum of `(root, depth, parent)`. The true
    * component minimum's wave is never overtaken, so at fixpoint
    * root = component min, depth = BFS distance from it, and parent =
    * min-id neighbor one level up — identical output to the two-phase
    * form, rounds = forest depth + 1 instead of both phases' sum.
    *
    * @param nodes single column `node`
    * @param und   directed-both-ways (src, dst) pairs, self-loop-free
    * @return (parents (node, parent: nullable, depth), maxDepth)
    */
  def bfs(
      spark: SparkSession,
      nodes: DataFrame,
      und: DataFrame): (DataFrame, Long) = {
    var state = nodes
      .select(
        col("node"),
        col("node").as("root"),
        lit(null).cast("long").as("parent"),
        lit(0L).as("depth"))
      .transform(Scratch.cp)
    var changed = state
    var rounds = 0
    val maxRounds = 100000 // diameter bound; breach = bug, raise below
    var live = !changed.isEmpty
    while (live && rounds < maxRounds) {
      rounds += 1
      val offers = changed
        .join(und, col("node") === col("src"))
        .select(
          col("dst").as("node"),
          col("root"),
          (col("depth") + 1L).as("depth"),
          col("src").as("parent"))
      // change detection is FOLDED into the materialized frame (`__ch`),
      // so the convergence probe below is a narrow scan of cached blocks
      // instead of a second shuffle job per round
      val merged = state
        .unionByName(offers.select("node", "root", "parent", "depth"))
        .groupBy("node")
        .agg(min(struct(col("root"), col("depth"), col("parent"))).as("c"))
        .join(
          state.select(
            col("node"),
            struct(col("root"), col("depth"), col("parent")).as("__old")),
          Seq("node"))
        .select(
          col("node"),
          col("c.root").as("root"),
          col("c.parent").as("parent"),
          col("c.depth").as("depth"),
          (col("c") =!= col("__old")).as("__ch"))
        .transform(Scratch.cp)
      changed = merged.filter(col("__ch")).select("node", "root", "parent", "depth")
      state = merged.select("node", "root", "parent", "depth")
      live = !changed.isEmpty
    }
    if (live)
      throw new IllegalStateException(
        s"forest: BFS did not converge in $maxRounds rounds")
    val maxDepth = Option(state.agg(max("depth")).first().get(0))
      .map(_.asInstanceOf[Long])
      .getOrElse(0L)
    (state.select(col("node"), col("parent"), col("depth")), maxDepth)
  }

  /** Split `edges` against the forest: per undirected node pair lying on
    * a (child, parent) tree pair, the minimum-edge_id row is THE tree
    * edge; everything else — extra parallels, non-tree pairs, self-loops
    * — is a chord (closes a fundamental cycle).
    *
    * @param edges (edge_id, src, dst)
    * @return (tree (edge_id, child, parent), chords (edge_id, src, dst))
    */
  def treeSplit(
      edges: DataFrame,
      parents: DataFrame): (DataFrame, DataFrame) = {
    val treeP = parents
      .filter(col("parent").isNotNull)
      .select(
        least(col("node"), col("parent")).as("__a"),
        greatest(col("node"), col("parent")).as("__b"),
        col("node").as("__child"),
        col("parent").as("__parent"))
    val ranked = edges
      .select(
        col("edge_id"),
        col("src"),
        col("dst"),
        least(col("src"), col("dst")).as("__a"),
        greatest(col("src"), col("dst")).as("__b"))
      .withColumn(
        "__rn",
        row_number().over(
          Window.partitionBy("__a", "__b").orderBy("edge_id")))
      .join(treeP, Seq("__a", "__b"), "left_outer")
    val isTree =
      col("src") =!= col("dst") &&
        col("__child").isNotNull && col("__rn") === 1
    val tree = ranked
      .filter(isTree)
      .select(
        col("edge_id"),
        col("__child").as("child"),
        col("__parent").as("parent"))
    val chords = ranked
      .filter(!isTree)
      .select(col("edge_id"), col("src"), col("dst"))
    (tree, chords)
  }
}
