package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core.GraphState
import graft.operators.{Biconnected, Cutover, Cycles, ShortestPath}

/** The driver-local / distributed cutover ([[Cutover]]): the pinned-state
  * edge memo honours the cap it is asked under, and on random multigraphs
  * the driver-local pass (default cap) and the distributed operator
  * (`spark.graft.local.edges=0`) return the same rows. The graphs come
  * from `org.scalacheck.Gen` under fixed seeds, so a failure names the
  * seed that reproduces it.
  */
class CutoverSpec extends SparkTestBase {

  import spark.implicits._

  private def distributed[T](body: => T): T = {
    spark.conf.set(Cutover.LocalEdgesKey, "0")
    try body
    finally spark.conf.unset(Cutover.LocalEdgesKey)
  }

  /** (local, distributed) results of one run. */
  private def bothWays[T](run: => T): (T, T) = {
    val local = run
    (local, distributed(run))
  }

  test("pinned memo: a None proven under a small cap is re-probed under " +
    "a larger one") {
    val es = Seq((0L, 1L), (1L, 2L), (2L, 0L)).zipWithIndex
      .map { case ((s, d), i) => (i.toLong, s, d, "E") }
      .toDF("_id", "_src", "_dst", "_type")
      .cache()
    val nodes = Seq(0L, 1L, 2L).toDF("_id")
      .withColumn("_labels", array(lit("V")))
      .cache()
    val g = GraphState(Map("V" -> (() => nodes)), Map("E" -> (() => es)))
    g.prewarmAdjacency() // pins, like every loader graph
    assert(distributed(g.localTypedEdges(Seq("E"))).isEmpty)
    assert(g.localTypedEdges(Seq("E")).map(_.length).contains(3))
  }

  /** Random multigraph over nodes 0..n: a ring through the first `ring`
    * nodes (a cycle), random extra edges (chords and trees), node `n` as
    * a hub wired to most others, at least one parallel duplicate and at
    * least one self-loop. */
  private val graphGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(5, 14)
    ring <- Gen.choose(3, n)
    node = Gen.choose(0, n - 1)
    extra <- Gen.listOfN(n / 2, Gen.zip(node, node))
    spokes <- Gen.pick(n - 2, 0 until n)
    dupes <- Gen.choose(1, 3)
    loops <- Gen.nonEmptyListOf(Gen.choose(0, n))
    shuffleSeed <- Gen.long
  } yield {
    val base =
      (0 until ring).map(i => (i, (i + 1) % ring)) ++ extra ++
        spokes.map(s => (n, s))
    val all = base ++ base.take(dupes) ++ loops.take(2).map(v => (v, v))
    new scala.util.Random(shuffleSeed).shuffle(all)
      .map { case (s, d) => (s.toLong, d.toLong) }
  }

  private val seeds = (1L to 6L).map(Seed(_))

  private def forAllGraphs(check: Seq[(Long, Long)] => Unit): Unit =
    seeds.foreach { seed =>
      val edges = graphGen.pureApply(Gen.Parameters.default, seed)
      withClue(s"seed $seed, edges $edges: ") { check(edges) }
    }

  private def edgeFrame(edges: Seq[(Long, Long)]) =
    edges.zipWithIndex
      .map { case ((s, d), i) => (i.toLong, s, d) }
      .toDF("edge_id", "src", "dst")

  test("property: Biconnected local equals distributed") {
    forAllGraphs { edges =>
      val df = edgeFrame(edges)
      val (local, dist) = bothWays(Biconnected(spark, df).collect().toSet)
      assert(local.nonEmpty)
      assert(local == dist)
    }
  }

  test("property: Cycles.fundamental local equals distributed") {
    forAllGraphs { edges =>
      val df = edgeFrame(edges)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.toDF("node")
      val (local, dist) =
        bothWays(Cycles.fundamental(spark, nodes, df).collect().toSet)
      assert(local.nonEmpty)
      assert(local == dist)
    }
  }

  test("property: ShortestPath.bfsEdges local equals distributed") {
    forAllGraphs { edges =>
      val df = edgeFrame(edges).select(
        col("src").as(GraphState.SrcCol),
        col("dst").as(GraphState.DstCol),
        col("edge_id").as("__sp_eid"))
      val hub = edges.map(e => math.max(e._1, e._2)).max
      val sdf = Seq(0L, hub).toDF(ShortestPath.SeedCol)
      val (local, dist) = bothWays(
        ShortestPath.bfsEdges(df, sdf, 16, withPaths = true)
          .collect().map(_.toSeq.map(String.valueOf)).toSet)
      assert(local.nonEmpty)
      assert(local == dist)
    }
  }
}
