package graft

import org.apache.spark.sql.functions._

import graft.operators.{Cutover, LocalSearch, ShortestPath}

/** BFS representative-path agreement across the placements: the
  * driver-local mirror over the full edge set answers below
  * `spark.graft.local.edges`, the distributed BFS loop (which carries the
  * path arrays through its levels) above it, and the same mirror runs over
  * the DAG capture's edges in between. All three must return the same
  * (seed, node, dist, npaths, path_nodes, path_edges) rows — the
  * lexicographically-smallest-path tie-break included.
  */
class BfsPathsSpec extends SparkTestBase {

  import spark.implicits._

  private def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body
    finally spark.conf.unset(key)
  }

  /** Run withPaths BFS both ways and assert identical row sets. */
  private def run(
      edges: Seq[(Long, Long, Long)], // (eid, src, dst)
      seeds: Seq[Long],
      maxHops: Int = 16): Set[String] = {
    val edf = edges
      .toDF("__sp_eid", "__src", "__dst")
      .select(
        col("__src").as(graft.core.GraphState.SrcCol),
        col("__dst").as(graft.core.GraphState.DstCol),
        col("__sp_eid"))
    val sdf = seeds.toDF(ShortestPath.SeedCol)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    def go() = rows(ShortestPath.bfsEdges(edf, sdf, maxHops, withPaths = true))
    val local = go()
    val distributed = withConf(Cutover.LocalEdgesKey, "0")(go())
    val seedRows = seeds.map((_, 0.0))
    val viaDag = LocalSearch
      .captureDag(edf, seedRows, Map.empty, maxHops, Long.MaxValue)
      .map(c => rows(LocalSearch.bfsDf(spark, c.edges, c.seeds, c.hops, true)))
    def diff(a: Set[String], b: Set[String]) =
      s"\n  first-only=${a -- b}\n  second-only=${b -- a}"
    assert(local == distributed,
      "local/distributed disagree:" + diff(local, distributed))
    assert(viaDag.contains(local),
      "local/DAG capture disagree:" + diff(local, viaDag.getOrElse(Set.empty)))
    local
  }

  test("diamond with tie: both branches same length, smaller node wins") {
    // 0→1→3 and 0→2→3: representative path to 3 must go through 1
    val res = run(
      Seq((10L, 0L, 1L), (11L, 0L, 2L), (12L, 1L, 3L), (13L, 2L, 3L)),
      Seq(0L))
    val to3 = res.find(_.startsWith("0|3|")).get
    assert(to3.contains("ArraySeq(0, 1, 3)"), s"expected path 0-1-3: $to3")
    assert(to3.split('|')(3) == "2") // npaths = 2
  }

  test("parallel edges: smaller edge id breaks the tie") {
    val res = run(Seq((7L, 0L, 1L), (3L, 0L, 1L)), Seq(0L))
    val to1 = res.find(_.startsWith("0|1|")).get
    assert(to1.contains("ArraySeq(3)"), s"expected edge 3: $to1")
  }

  test("multi-seed ring with chords") {
    val n = 24L
    val ring = (0L until n).map(i => (i, i, (i + 1) % n))
    val chords = (0L until n).map(i => (100 + i, i, (i + 7) % n))
    val res = run(ring ++ chords, Seq(0L, 5L, 13L))
    // every (seed, node) pair reached exactly once
    assert(res.size == 3 * n)
    // spot-check: dist(0,8) = 2, lexicographically smallest is 0→1→8
    // (ring edge then chord 1→8), beating 0→7→8
    val r = res.find(_.startsWith("0|8|")).get
    assert(r.split('|')(2) == "2" && r.contains("ArraySeq(0, 1, 8)"), r)
  }

  test("unreachable nodes absent; seed itself at dist 0") {
    val res = run(Seq((1L, 0L, 1L), (2L, 5L, 6L)), Seq(0L))
    assert(res.map(_.split('|')(1)) == Set("0", "1"))
  }
}
