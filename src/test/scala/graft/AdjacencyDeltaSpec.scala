package graft

import org.apache.spark.sql.functions._

import graft.core.GraphState
import graft.operators.Mutations

/** Incremental adjacency maintenance: an append-only edge mutation must
  * NOT re-sort the whole edge corpus on the next adjacency probe — the
  * derived GraphState serves the cache-owning ancestor's sorted+persisted
  * base view ∪ the appended delta rows (the reference maintains its edge
  * index incrementally per delta, storage.hpp:892). A full rebuild is
  * observable as a NEW persisted RDD (buildAdjacency persists its view),
  * so the tests check that a probe adds no persisted RDD id. */
class AdjacencyDeltaSpec extends SparkTestBase {

  import spark.implicits._

  private def mkGraph(): GraphState = {
    val nodes = (0L until 6L).map(i => (i, Seq("V"), s"n$i"))
      .toDF("_id", "_labels", "name")
    val edges = Seq((100L, 0L, 1L, "E"), (101L, 1L, 2L, "E"),
      (102L, 2L, 3L, "E"), (103L, 3L, 4L, "E"))
      .toDF("_id", "_src", "_dst", "_type")
    GraphState(
      Map("V" -> (() => nodes)),
      Map("E" -> (() => edges)))
  }

  /** Ids of the persisted RDDs. Spark keeps them in a weak-valued map, so
    * a GC between two reads may drop an older entry: the tests compare id
    * sets, which a dropped entry cannot fake and a new persist cannot
    * hide behind. */
  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def newPersisted(baseline: Set[Int]): Set[Int] =
    persistedIds -- baseline

  test("append mutation reuses the base adjacency view (no rebuild)") {
    val g = mkGraph()
    assert(g.adjacencyBySrc.count() == 4L) // builds + persists the base
    val baseline = persistedIds
    val delta = Seq((200L, 4L, 5L, "E"), (201L, 5L, 0L, "E"))
      .toDF("_id", "_src", "_dst", "_type")
    val g2 = Mutations.createEdges(g, "E", delta)
    assert(g2.adjacencyBySrc.count() == 6L)
    assert(newPersisted(baseline).isEmpty,
      "probe after an append must serve base ∪ delta, not persist a rebuilt view")
    // a second probe of the PARENT still sees only its own edges
    assert(g.adjacencyBySrc.count() == 4L)
    // and the appended rows are really in the derived view
    assert(g2.adjacencyBySrc.filter(col("_src") === 5L).count() == 1L)
  }

  test("new-type append also rides the delta path") {
    val g = mkGraph()
    g.adjacencyBySrc.count()
    val baseline = persistedIds
    val delta = Seq((300L, 0L, 3L, "F")).toDF("_id", "_src", "_dst", "_type")
    val g2 = Mutations.createEdges(g, "F", delta)
    assert(g2.adjacencyBySrc.count() == 5L)
    assert(newPersisted(baseline).isEmpty)
  }

  test("edge delete tombstones the id and reuses the base view") {
    val g = mkGraph()
    g.adjacencyBySrc.count()
    val baseline = persistedIds
    val g2 = Mutations.deleteEdges(g, "E", Seq(Tuple1(103L)).toDF("_id"))
    assert(g2.adjacencyBySrc.count() == 3L)
    assert(newPersisted(baseline).isEmpty,
      "a delete must serve base-minus-tombstone, not persist a rebuilt view")
    assert(g2.adjacencyBySrc.filter(col("_id") === 103L).isEmpty)
    // the parent version still sees all 4
    assert(g.adjacencyBySrc.count() == 4L)
  }

  test("edge property update tombstones + re-appends, reusing the base view") {
    val g = mkGraph()
    g.adjacencyBySrc.count()
    val baseline = persistedIds
    val updates = Seq((101L, 9L)).toDF("_id", "__nv")
    val g2 = Mutations.setEdgePropertyByIds(g, updates, "w", None)
    assert(g2.adjacencyBySrc.count() == 4L, "update must not change cardinality")
    assert(newPersisted(baseline).isEmpty,
      "an update must serve base∖changed ∪ changed-from-new-frame")
    val updated = g2.adjacencyBySrc.filter(col("_id") === 101L).collect()
    assert(updated.length == 1 &&
      updated.head.getAs[Long]("w") == 9L)
    // untouched rows carry no w or null w
    assert(g2.adjacencyBySrc
      .filter(col("_id") === 100L && col("w").isNull).count() == 1L)
  }

  test("DETACH DELETE tombstones incident edges without an edge-corpus scan") {
    val g = mkGraph()
    g.adjacencyBySrc.count()
    val baseline = persistedIds
    val g2 = Mutations.deleteNodes(
      g, Seq(Tuple1(1L)).toDF("_id"), detach = true, None)
    // edges 100 (0→1) and 101 (1→2) are incident to node 1
    assert(g2.adjacencyBySrc.count() == 2L)
    assert(newPersisted(baseline).isEmpty,
      "detach delete must serve the base view minus incident anti-joins")
    assert(g2.adjacencyBySrc.select("_id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(102L, 103L))
  }

  test("delete-then-append chain composes in statement order") {
    val g = mkGraph()
    g.adjacencyBySrc.count()
    val g2 = Mutations.deleteEdges(g, "E", Seq(Tuple1(100L)).toDF("_id"))
    val d = Seq((500L, 0L, 5L, "E")).toDF("_id", "_src", "_dst", "_type")
    val g3 = Mutations.createEdges(g2, "E", d)
    assert(g3.adjacencyBySrc.count() == 4L)
    assert(g3.adjacencyBySrc.filter(col("_id") === 100L).isEmpty)
    assert(g3.adjacencyBySrc.filter(col("_id") === 500L).count() == 1L)
  }

  test("delta chain beyond the cap falls back to a rebuild, stays correct") {
    spark.conf.set("spark.graft.adjacency.maxDeltas", "1")
    try {
      val g = mkGraph()
      g.adjacencyBySrc.count()
      val d1 = Seq((400L, 4L, 5L, "E")).toDF("_id", "_src", "_dst", "_type")
      val d2 = Seq((401L, 5L, 4L, "E")).toDF("_id", "_src", "_dst", "_type")
      val g2 = Mutations.createEdges(
        Mutations.createEdges(g, "E", d1), "E", d2)
      assert(g2.adjacencyBySrc.count() == 6L)
    } finally spark.conf.unset("spark.graft.adjacency.maxDeltas")
  }

  test("probe-before-base-build on the derived version builds the ANCESTOR view") {
    val g = mkGraph()
    val delta = Seq((500L, 4L, 5L, "E")).toDF("_id", "_src", "_dst", "_type")
    val g2 = Mutations.createEdges(g, "E", delta)
    // nobody has built the base yet — the derived probe must build it from
    // the ancestor's frames (4 edges) and add the delta, not double-count
    assert(g2.adjacencyBySrc.count() == 5L)
    assert(g.adjacencyBySrc.count() == 4L)
  }
}
