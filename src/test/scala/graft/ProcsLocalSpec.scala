package graft

import org.apache.spark.sql.DataFrame

import graft.procedures.{ProcContext, Procedures}
import graft.sources.TpchGraphLoader

/** Subcritical/distributed agreement for the iterative procedures: every
  * algorithm runs BOTH the driver-local pass (default — sf0.001 is far
  * below the threshold) and the distributed fixpoint (forced via
  * spark.graft.local.edges=0) on the real KNOWS graph and must agree;
  * pagerank and wcc also run three ways on denser KNOWS graphs, adding
  * the vertex-resident placement (a cap between the node and edge counts;
  * wcc takes it under any cap its nodes fit). Agreement is integer-exact for the
  * community/component algorithms, at the correctness-gate grain for the
  * float centralities (the decimal(·,12) accumulation discipline makes
  * katz/betweenness bit-stable; pagerank sums plain doubles, so it is
  * compared at the gate's 6dp rounding).
  */
class ProcsLocalSpec extends SparkTestBase {

  private lazy val g = TpchGraphLoader(spark, sfDir)

  private def ctx(opts: Map[String, Any]) =
    ProcContext(spark, g, Seq(opts))

  private def bothWays(run: => DataFrame): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    def rows() = run.collect().toSeq.map(_.toSeq)
    val local = rows()
    spark.conf.set("spark.graft.local.edges", "0")
    val dist =
      try rows()
      finally spark.conf.unset("spark.graft.local.edges")
    (local, dist)
  }

  /** Rows of `run` under the default cap, under a cap strictly between
    * the node count and the edge count of `opts`' graph (the
    * vertex-resident placement), and under `spark.graft.local.edges=0`
    * (the DataFrame fixpoint). */
  private def threeWays(opts: Map[String, Any])(
      run: => DataFrame): Seq[Seq[Seq[Any]]] = {
    val nodes = g.nodes(opts("label").toString).count()
    val edges = g.edges(opts("type").toString)
      .filter(org.apache.spark.sql.functions.col(opts("weightProp").toString) >=
        opts("minWeight").asInstanceOf[Double])
      .count()
    val between = (nodes + edges) / 2
    assert(nodes < between && between < edges)
    def rows(cap: Option[Long]) = {
      cap.foreach(c => spark.conf.set("spark.graft.local.edges", c.toString))
      try run.collect().toSeq.map(_.toSeq)
      finally spark.conf.unset("spark.graft.local.edges")
    }
    Seq(rows(None), rows(Some(between)), rows(Some(0L)))
  }

  private val knows6 = Map[String, Any](
    "label" -> "Customer", "type" -> "KNOWS",
    "weightProp" -> "k_weight", "minWeight" -> 6.0)
  private val knows8 = knows6 + ("minWeight" -> 8.0)
  // more edges than nodes, so a cap can sit strictly between the two
  private val knows3 = knows6 + ("minWeight" -> 3.0)
  private val knows5 = knows6 + ("minWeight" -> 5.0)

  test("pagerank local/distributed agree at 6dp") {
    def pr(opts: Map[String, Any]) =
      Procedures.pagerank(ctx(opts + ("iterations" -> 15, "damping" -> 0.85)))
    def grain(r: Seq[Seq[Any]]) = r.map {
      case Seq(n: Long, v: Double) =>
        (n, math.round(v * 1e6))
    }.sortBy(_._1)
    val (l, d) = bothWays(pr(knows6))
    assert(grain(l) == grain(d))
    val runs = threeWays(knows3)(pr(knows3))
    assert(runs.head.nonEmpty)
    runs.tail.foreach(r => assert(grain(r) == grain(runs.head)))
  }

  test("katz local/distributed agree bitwise") {
    val (l, d) = bothWays(Procedures.katz(ctx(knows6 +
      ("alpha" -> 0.1, "beta" -> 1.0, "iterations" -> 10))))
    assert(l.sortBy(_.head.asInstanceOf[Long]) ==
      d.sortBy(_.head.asInstanceOf[Long]))
  }

  test("betweenness local/distributed agree bitwise") {
    val (l, d) = bothWays(Procedures.betweenness(ctx(knows6 +
      ("seedMax" -> 20, "maxDepth" -> 8))))
    assert(l.sortBy(_.head.asInstanceOf[Long]) ==
      d.sortBy(_.head.asInstanceOf[Long]))
  }

  test("wcc local/distributed agree exactly") {
    val (l, d) = bothWays(Procedures.wcc(ctx(knows8)))
    assert(l.sortBy(_.head.asInstanceOf[Long]) ==
      d.sortBy(_.head.asInstanceOf[Long]))
    val runs = threeWays(knows5)(Procedures.wcc(ctx(knows5)))
      .map(_.sortBy(_.head.asInstanceOf[Long]))
    assert(runs.head.nonEmpty)
    runs.tail.foreach(r => assert(r == runs.head))
  }

  test("louvain local/distributed agree exactly") {
    val (l, d) = bothWays(Procedures.louvain(ctx(knows6 +
      ("iterations" -> 6))))
    assert(l.sortBy(_.head.asInstanceOf[Long]) ==
      d.sortBy(_.head.asInstanceOf[Long]))
  }

  test("leiden local/distributed agree exactly") {
    val (l, d) = bothWays(Procedures.leiden(ctx(knows6 +
      ("iterations" -> 6, "maxLevels" -> 4))))
    assert(l.nonEmpty)
    assert(l.sortBy(_.head.asInstanceOf[Long]) ==
      d.sortBy(_.head.asInstanceOf[Long]))
  }

  test("leiden contracts past the louvain level (clique chain)") {
    // Two K4s joined by one edge. Level 1 settles each K4 into one
    // community; the decisive check is level 2's NON-merge across the
    // bridge, which is only correct if contraction folded the intra-clique
    // weight into self-loops and the self-loops into volumes (deg 13 =
    // 2·6 + 1 — dropping them would make the bridge merge win).
    import spark.implicits._
    import graft.core.GraphState
    import org.apache.spark.sql.functions.{array, col, lit}
    val ids = (0L to 7L)
    val nodes = ids.toDF("_id")
      .withColumn("_labels", array(lit("LdV"))).cache()
    val cl = for {
      g <- Seq(0L, 4L); a <- 0L to 3L; b <- (a + 1) to 3L
    } yield (g + a, g + b)
    val es = (cl :+ ((3L, 4L))).zipWithIndex
      .map { case ((s, d0), i) => (i.toLong, s, d0, "LdE") }
      .toDF("_id", "_src", "_dst", "_type").cache()
    val gs = GraphState(Map("LdV" -> (() => nodes)), Map("LdE" -> (() => es)))
    def run() = Procedures
      .leiden(ProcContext(spark, gs,
        Seq(Map[String, Any]("label" -> "LdV", "type" -> "LdE"))))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
      .toSeq
    val local = run()
    spark.conf.set("spark.graft.local.edges", "0")
    val dist =
      try run()
      finally spark.conf.unset("spark.graft.local.edges")
    assert(local == dist)
    // one community per clique, whatever its representative id
    val byComm = local.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    assert(byComm == Set(Set(0L, 1L, 2L, 3L), Set(4L, 5L, 6L, 7L)))
  }

  test("label propagation local/distributed agree exactly") {
    val (l, d) = bothWays(Procedures.labelPropagation(ctx(knows8 +
      ("iterations" -> 10))))
    assert(l.sortBy(_.head.asInstanceOf[Long]) ==
      d.sortBy(_.head.asInstanceOf[Long]))
  }
}
