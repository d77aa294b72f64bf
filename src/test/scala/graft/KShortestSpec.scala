package graft

import org.apache.spark.sql.functions._

import graft.core.GraphState
import graft.cypher.Cypher
import graft.operators.ShortestPath

/** K-shortest paths: correctness on a known small graph, and the hub-graph
  * scale shape the pre-round-6 exhaustive-enumeration plan blew up on
  * (every path up to the hop bound was materialized before rank-k; a hub
  * makes that count grow like fanout^hops).
  */
class KShortestSpec extends SparkTestBase {

  import spark.implicits._

  /** Graph from explicit edge (src, dst) pairs; node ids = mentioned ids. */
  private def graphOf(edges: Seq[(Long, Long)]): GraphState = {
    val nodeIds = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val nodes = nodeIds
      .toDF("_id")
      .withColumn("_labels", array(lit("N")))
      .cache()
    val es = edges.zipWithIndex
      .map { case ((s, d), i) => (i.toLong, s, d, "E") }
      .toDF("_id", "_src", "_dst", "_type")
      .cache()
    GraphState(Map("N" -> (() => nodes)), Map("E" -> (() => es)))
  }

  test("kShortest ranks paths by hop count per (seed, target)") {
    // diamond with a long detour: 0→1→3, 0→2→3, 0→4→5→3
    val g = graphOf(
      Seq((0L, 1L), (1L, 3L), (0L, 2L), (2L, 3L), (0L, 4L), (4L, 5L), (5L, 3L)))
    val rows = Cypher
      .run(
        spark,
        g,
        "MATCH (a:N)-[e:E *KSHORTEST ..5 {k: 3}]->(b:N) " +
          "WHERE id(a) = 0 AND id(b) = 3 RETURN size(e) AS hops ORDER BY hops")
      .collect()
      .map(_.getLong(0))
    assert(rows.toSeq == Seq(2L, 2L, 3L))
  }

  test("k budget cuts below the available path count") {
    val g = graphOf(
      Seq((0L, 1L), (1L, 3L), (0L, 2L), (2L, 3L), (0L, 4L), (4L, 5L), (5L, 3L)))
    val rows = Cypher
      .run(
        spark,
        g,
        "MATCH (a:N)-[e:E *KSHORTEST ..5 {k: 2}]->(b:N) " +
          "WHERE id(a) = 0 AND id(b) = 3 RETURN size(e) AS hops ORDER BY hops")
      .collect()
      .map(_.getLong(0))
    assert(rows.toSeq == Seq(2L, 2L))
  }

  test("hub graph: frontier stays k-bounded (old plan enumerated fanout^hops)") {
    // K5-ish core: hub h=0 connected both ways to 60 spokes, and a target
    // chain. Paths 0→s→0→… are node-simple-pruned; the k-truncated frontier
    // keeps ≤ k rows per (seed, node) per level, so hops bound 8 stays
    // cheap. Exhaustive enumeration here is ~60^4 rows before ranking.
    val spokes = (1L to 60L)
    val edges =
      spokes.map(s => (0L, s)) ++ spokes.map(s => (s, 0L)) ++
        Seq((0L, 100L), (100L, 101L), (101L, 102L))
    val g = graphOf(edges)
    val t0 = System.nanoTime()
    val rows = Cypher
      .run(
        spark,
        g,
        "MATCH (a:N)-[e:E *KSHORTEST ..8 {k: 3}]->(b:N) " +
          "WHERE id(a) = 0 AND id(b) = 102 RETURN size(e) AS hops ORDER BY hops")
      .collect()
      .map(_.getLong(0))
    val secs = (System.nanoTime() - t0) / 1e9
    // only one simple path reaches 102 (through the chain)
    assert(rows.toSeq == Seq(3L))
    assert(secs < 60.0, f"hub kshortest took $secs%.1fs — frontier not bounded?")
  }

  /** Both cases below run twice: as they come (the driver-local mirror,
    * the graphs are far under the cutover) and with the distributed
    * operator forced by `spark.graft.local.edges=0`. */
  private def distributed(body: => Unit): Unit = {
    spark.conf.set("spark.graft.local.edges", "0")
    try body
    finally spark.conf.unset("spark.graft.local.edges")
  }

  private def spurCase(): Unit = {
    // Second-shortest path to 9 is 0→7→5→9, but BOTH lexicographically
    // best 2-hop prefixes at node 5 go through 9 (parallel 9→5 edges), so
    // an un-hedged k=2 cut at (0,5) would drop the avoiding prefix and
    // miss the path. With targets given, pair (0,5) is spur-contended and
    // keeps factor×k candidates.
    val g = graphOf(
      Seq((0L, 9L), (9L, 5L), (9L, 5L), (0L, 7L), (7L, 5L), (5L, 9L)))
    val edges =
      ShortestPath.TypedEdges(g, Seq("E"), graft.operators.Expand.Out).frame
    val seeds = Seq(0L).toDF(ShortestPath.SeedCol)
    val targets =
      Seq((0L, 9L)).toDF(ShortestPath.SeedCol, ShortestPath.NodeCol)
    val out = ShortestPath
      .kShortest(edges, seeds, k = 2, minHops = 1, maxHops = 4,
        targets = Some(targets))
      .filter(col(ShortestPath.NodeCol) === 9L)
      .select(ShortestPath.DistCol)
      .collect()
      .map(_.getLong(0))
      .sorted
    assert(out.toSeq == Seq(1L, 3L))
  }

  private def saturationCase(): Unit = {
    // long chain beyond the target: saturation at the target pair must stop
    // the loop before walking the tail
    val chain = (0L until 30L).map(i => (i, i + 1))
    val g = graphOf(chain)
    val edges =
      ShortestPath.TypedEdges(g, Seq("E"), graft.operators.Expand.Out).frame
    val seeds = Seq(0L).toDF(ShortestPath.SeedCol)
    val targets =
      Seq((0L, 3L)).toDF(ShortestPath.SeedCol, ShortestPath.NodeCol)
    val out = ShortestPath
      .kShortest(edges, seeds, k = 1, minHops = 1, maxHops = 30,
        targets = Some(targets))
      .filter(col(ShortestPath.NodeCol) === 3L)
      .select(ShortestPath.DistCol)
      .collect()
      .map(_.getLong(0))
    assert(out.toSeq == Seq(3L))
  }

  test("spur case: targeted overprovision keeps target-avoiding prefixes") {
    spurCase()
  }

  test("direct kShortest operator respects target saturation early-stop") {
    saturationCase()
  }

  test("spur case, distributed: targeted overprovision keeps " +
    "target-avoiding prefixes") {
    distributed(spurCase())
  }

  test("direct kShortest operator, distributed: target saturation early-stop") {
    distributed(saturationCase())
  }
}
