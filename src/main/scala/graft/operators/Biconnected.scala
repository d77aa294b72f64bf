package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Biconnected components and bridges of an ARBITRARY undirected
  * multigraph — the reference's `biconnected_components_module` and
  * `bridges_module` (`src/mage/cpp/.../algorithm.cpp`, Tarjan low-link
  * DFS). A DFS is inherently sequential; this level-synchronous
  * re-derivation works on the fundamental-cycle structure instead:
  *
  *   1. BFS spanning forest ([[Forest.bfs]]): deterministic parents and
  *      depths, rounds = forest depth.
  *   2. Every non-tree, non-loop ("chord") edge closes one fundamental
  *      cycle through the tree. All chords walk toward their LCA
  *      simultaneously (the deeper endpoint steps; both on ties) — one
  *      parent-join per round. The walk EMITS the auxiliary structure as
  *      it goes and never materializes cycle paths:
  *        - covered(v): the tree edge above v lies on the stepping
  *          chord's cycle;
  *        - chain(c ↔ v): the tree edges above c and above v = parent(c)
  *          lie on ONE common cycle (the leg continued past v);
  *        - top(x ↔ y): the cycle's two tree edges meeting at its LCA
  *          (x, y = the two legs' children of the LCA);
  *        - member(chord → x): the chord rides its cycle's last-stepped
  *          tree edge.
  *   3. Biconnected components = min-label connected components
  *      ([[graft.procedures.Procedures.minLabelComponents]]: a one-job
  *      spanning-forest reduction and a driver union-find when the
  *      covered vertices fit under the cutover cap, a pointer-jumping
  *      fixpoint otherwise) over tree edges —
  *      identified by child vertex — under
  *      chain ∪ top: two edges share a component iff they are linked
  *      through overlapping fundamental cycles (the classic equivalence
  *      "lie on a common simple cycle", transitively closed).
  *   4. A tree edge covered by NO cycle is a bridge (its own singleton
  *      component); self-loops are their own singleton, never bridges.
  *
  * Exact for EVERY input — dense cores (K4+), parallel edges, self-loops;
  * no reduction-class restriction. This replaces the r7 contraction-event
  * bcc labeling, which could split one true component that resolved
  * across several contraction events (theta-graph counterexample).
  * The walk is O(forest depth) rounds, which is small on dense cores
  * (shallow BFS trees).
  *
  * Scale shape: per-round rows follow the ACTIVE chord frontier (walks
  * retire at their LCA); emissions are per-vertex facts deduped to
  * O(nodes + chords) before the component fixpoint; no per-chord path
  * arrays are ever stored; no single-partition windows anywhere.
  */
object Biconnected {

  /** @param edges (edge_id, src, dst) — undirected interpretation
    * @return (edge_id, is_bridge, bcc); bcc = MIN edge id of the edge's
    *         biconnected component (bridges and self-loops: own id) */
  def apply(spark: SparkSession, edges: DataFrame): DataFrame = {
    val e = edges
      .select(
        col("edge_id").cast("long").as("edge_id"),
        col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .transform(Scratch.cp)
    // SUBCRITICAL path ([[Cutover]]): below the cap a collect + one
    // sequential Tarjan pass beats any fixpoint (each driver round costs
    // a fixed scheduling quantum; see [[LocalGraph]]) — the reference
    // itself is always a single-node DFS. Identical output either way
    // (components and bridges are graph-theoretic; labels are min member
    // edge id).
    Cutover.collect(e).foreach { rows =>
      import spark.implicits._
      return LocalGraph
        .biconnected(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
        .toSeq
        .toDF("edge_id", "is_bridge", "bcc")
    }
    val simple = e.filter(col("src") =!= col("dst"))
    val und = simple
      .select("src", "dst")
      .unionByName(simple.select(col("dst").as("src"), col("src").as("dst")))
      .transform(Scratch.cp)
    val nodes = e
      .select(explode(array(col("src"), col("dst"))).as("node"))
      .distinct()

    val (parents, maxDepth) = Forest.bfs(spark, nodes, und)
    val (tree0, chords0) = Forest.treeSplit(e, parents)
    val treeE = tree0.transform(Scratch.cp) // (edge_id, child, parent)
    val chords = chords0
      .filter(col("src") =!= col("dst"))
      .select(
        col("edge_id"),
        least(col("src"), col("dst")).as("__a"),
        greatest(col("src"), col("dst")).as("__b"))
      .transform(Scratch.cp)

    val dep = parents.select(
      col("node").as("__dn"), col("parent").as("__dp"), col("depth").as("__dd"))

    // acyclic shortcut: no chords (pure forest) → no walk, no component
    // pass — every tree edge is a bridge, assembled directly below
    val hasChords = !chords.isEmpty

    // one walk per DISTINCT chord endpoint pair; parallel chords share it
    var walk =
      if (!hasChords)
        spark.range(0).select(
          col("id").as("__a"), col("id").as("__b"),
          col("id").as("u"), col("id").as("v"),
          col("id").as("pu"), col("id").as("pv"),
          col("id").as("du"), col("id").as("dv"))
      else chords
        .select("__a", "__b")
        .distinct()
        .join(dep.select(col("__dn").as("__a"), col("__dd").as("du")), Seq("__a"))
        .join(dep.select(col("__dn").as("__b"), col("__dd").as("dv")), Seq("__b"))
        .select(
          col("__a"), col("__b"),
          col("__a").as("u"), col("__b").as("v"),
          lit(null).cast("long").as("pu"), lit(null).cast("long").as("pv"),
          col("du"), col("dv"))
        .transform(Scratch.cp)

    // accumulators union LAZILY over checkpointed round frames (linear
    // plan in depth — no per-round accumulator job)
    var covAcc: Option[DataFrame] = None // (n): tree edge above n covered
    var pairAcc: Option[DataFrame] = None // (x, y): aux adjacency
    var memberAcc: Option[DataFrame] = None // (__a, __b, repv): chord seat
    def acc(o: Option[DataFrame], rows: DataFrame): Option[DataFrame] =
      Some(o.map(_.unionByName(rows)).getOrElse(rows))
    def finish(rows: DataFrame): Unit = {
      memberAcc = acc(
        memberAcc,
        rows.select(
          col("__a"), col("__b"), coalesce(col("pu"), col("pv")).as("repv")))
      pairAcc = acc(
        pairAcc,
        rows
          .filter(col("pu").isNotNull && col("pv").isNotNull)
          .select(col("pu").as("x"), col("pv").as("y")))
    }

    // Round cadence: checkpoint + early-exit probe every FOURTH round
    // only (and on the final round) — job count on the driver, not data
    // volume, dominates small/medium inputs, and 4 rounds of two narrow
    // joins keep both the logical plan and the task binaries bounded.
    // Un-checkpointed rounds schedule no job at all.
    var r = 0L
    var earlyDone = !hasChords
    while (!earlyDone && r < maxDepth) {
      r += 1
      val stepU = col("du") >= col("dv")
      val stepV = col("dv") >= col("du")
      val stepped0 = walk
        .join(dep.select(col("__dn").as("u"), col("__dp").as("__pu2")), Seq("u"))
        .join(dep.select(col("__dn").as("v"), col("__dp").as("__pv2")), Seq("v"))
        .select(
          col("__a"), col("__b"),
          when(stepU, col("__pu2")).otherwise(col("u")).as("u2"),
          when(stepV, col("__pv2")).otherwise(col("v")).as("v2"),
          when(stepU, col("u")).otherwise(col("pu")).as("pu2"),
          when(stepV, col("v")).otherwise(col("pv")).as("pv2"),
          when(stepU, col("du") - 1L).otherwise(col("du")).as("du"),
          when(stepV, col("dv") - 1L).otherwise(col("dv")).as("dv"),
          // emissions derive from the PRE-step state: stepping from a
          // vertex puts the tree edge above it on this chord's cycle
          when(stepU, col("u")).as("covU"),
          when(stepV, col("v")).as("covV"),
          when(stepU, col("pu")).as("chU"),
          when(stepV, col("pv")).as("chV"))
      val cpNow = r % 4 == 0 || r == maxDepth
      val stepped = if (cpNow) Scratch.cp(stepped0) else stepped0
      covAcc = acc(
        covAcc,
        stepped
          .select(explode(array(col("covU"), col("covV"))).as("n"))
          .filter(col("n").isNotNull))
      pairAcc = acc(
        pairAcc,
        stepped
          .select(col("chU").as("x"), col("covU").as("y"))
          .unionByName(stepped.select(col("chV").as("x"), col("covV").as("y")))
          .filter(col("x").isNotNull))
      val next = stepped.select(
        col("__a"), col("__b"),
        col("u2").as("u"), col("v2").as("v"),
        col("pu2").as("pu"), col("pv2").as("pv"),
        col("du"), col("dv"))
      finish(next.filter(col("u") === col("v")))
      walk = next.filter(col("u") =!= col("v"))
      if (cpNow) earlyDone = walk.isEmpty
    }
    if (!earlyDone && !walk.isEmpty)
      throw new IllegalStateException(
        "biconnected: chord walk did not converge within the forest depth")

    val emptyLong = (names: Seq[String]) =>
      spark.range(0).select(names.map(n => col("id").as(n)): _*)
    val covered = covAcc
      .map(_.distinct().transform(Scratch.cp))
      .getOrElse(emptyLong(Seq("n")))
    val auxEdges = pairAcc
      .map(_.select(col("x").as("src"), col("y").as("dst")).distinct())
      .getOrElse(emptyLong(Seq("src", "dst")))
    // the component fixpoint only runs when some cycle was found at all
    val comp =
      if (covAcc.isEmpty) emptyLong(Seq("node", "comp"))
      else graft.procedures.Procedures
        .minLabelComponents(covered.select(col("n").as("node")), auxEdges)
        .transform(Scratch.cp)

    // component label = min edge id over ALL members (tree edges + chords)
    val treeMember = comp
      .join(treeE.select(col("child").as("node"), col("edge_id")), Seq("node"))
      .select(col("comp"), col("edge_id"))
    val chordMember = memberAcc
      .map { m =>
        chords
          .join(m.distinct(), Seq("__a", "__b"))
          .join(comp.select(col("node").as("repv"), col("comp")), Seq("repv"))
          .select(col("comp"), col("edge_id"))
      }
      .getOrElse(emptyLong(Seq("comp", "edge_id")))
    val members = treeMember.unionByName(chordMember).transform(Scratch.cp)
    val labels = members.groupBy("comp").agg(min("edge_id").as("bcc"))
    val perEdge = members
      .join(labels, Seq("comp"))
      .select(col("edge_id"), col("bcc"))

    val loopIds = e
      .filter(col("src") === col("dst"))
      .select(col("edge_id"), lit(true).as("__loop"))
    e.select(col("edge_id"))
      .join(perEdge, Seq("edge_id"), "left_outer")
      .join(loopIds, Seq("edge_id"), "left_outer")
      .select(
        col("edge_id"),
        (col("bcc").isNull && col("__loop").isNull).as("is_bridge"),
        coalesce(col("bcc"), col("edge_id")).as("bcc"))
  }
}
