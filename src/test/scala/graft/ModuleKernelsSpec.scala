package graft

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core.GraphState
import graft.procedures.{ProcContext, Procedures}

/** The driver-local single-node module mirrors — graph_analyzer, nxalg
  * and igraphalg — checked against brute-force definitions on random
  * multigraphs. The graphs come from `org.scalacheck.Gen` under fixed
  * seeds (a ring, random chords, a hub, parallel edges, self-loops and
  * isolated nodes, built like [[CutoverSpec]]'s), so a failure names the
  * seed that reproduces it.
  */
class ModuleKernelsSpec extends SparkTestBase {

  import ModuleKernelsSpec.Multi
  import spark.implicits._

  /** Core nodes 0..n-1 with a ring through the first `ring`, random
    * chords, node n as a hub wired to some core nodes in either
    * direction, one to three parallel duplicates, at least one self-loop,
    * and one or two isolated nodes; `maxNodes` bounds the node count. */
  private def graphGen(maxNodes: Int): Gen[Multi] = for {
    n <- Gen.choose(4, maxNodes - 3)
    ring <- Gen.choose(3, n)
    node = Gen.choose(0, n - 1)
    extra <- Gen.listOfN(n / 2, Gen.zip(node, node))
    nSpokes <- Gen.choose(0, n - 2)
    spokes <- Gen.pick(nSpokes, 0 until n)
    inward <- Gen.listOfN(nSpokes, Gen.oneOf(true, false))
    dupes <- Gen.choose(1, 3)
    loops <- Gen.nonEmptyListOf(Gen.choose(0, n))
    isolated <- Gen.choose(1, 2)
    caps <- Gen.listOfN(4 * maxNodes, Gen.choose(1, 4))
    shuffleSeed <- Gen.long
  } yield {
    val hubEdges = spokes.zip(inward)
      .map { case (s, in) => if (in) (s, n) else (n, s) }
    val base =
      (0 until ring).map(i => (i, (i + 1) % ring)) ++ extra ++ hubEdges
    val all = base ++ base.take(dupes) ++ loops.take(2).map(v => (v, v))
    val edges = new scala.util.Random(shuffleSeed).shuffle(all)
      .zip(caps)
      .zipWithIndex
      .map { case (((s, d), c), i) => (1000L + i, s.toLong, d.toLong, c.toLong) }
    Multi((0L to (n + isolated).toLong), edges)
  }

  private val seeds = (1L to 6L).map(Seed(_))

  private def forAllGraphs(maxNodes: Int)(check: Multi => Unit): Unit =
    seeds.foreach { seed =>
      val g = graphGen(maxNodes).pureApply(Gen.Parameters.default, seed)
      withClue(s"seed $seed, graph $g: ") { check(g) }
    }

  private def state(g: Multi): GraphState = {
    val nodes = g.nodes.toDF("_id").withColumn("_labels", array(lit("V")))
    val edges = g.edges.toDF("_id", "_src", "_dst", "w")
      .withColumn("_type", lit("E"))
    GraphState(Map("V" -> (() => nodes)), Map("E" -> (() => edges)))
  }

  private def call(gs: GraphState, proc: String, args: Any*) =
    Procedures.registry(proc)(ProcContext(spark, gs, args)).collect()

  // ---------------------------------------------------------------
  // brute-force definitions

  /** Connected components of the undirected view over `nodes`. */
  private def components(nodes: Set[Long], pairs: Iterable[(Long, Long)]): Int = {
    val adj = pairs.filter(p => nodes(p._1) && nodes(p._2))
      .flatMap(p => Seq(p, p.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2) }
    val seen = mutable.HashSet.empty[Long]
    nodes.count { s =>
      seen.add(s) && {
        val q = mutable.Queue(s)
        while (q.nonEmpty)
          adj.getOrElse(q.dequeue(), Nil).foreach(w => if (seen.add(w)) q += w)
        true
      }
    }
  }

  private def reach(g: Multi, s: Long): Set[Long] = {
    var seen = Set(s)
    var frontier = Set(s)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(g.succ.getOrElse(_, Set.empty)) -- seen
      seen ++= frontier
    }
    seen
  }

  private def bridgePairs(g: Multi): Set[(Long, Long)] = {
    val all = g.nodes.toSet
    val base = components(all, g.simple)
    g.simple.filter(p => components(all, g.simple - p) > base)
  }

  private def articulationPoints(g: Multi): Set[Long] = {
    val all = g.nodes.toSet
    val base = components(all, g.simple)
    all.filter(v => components(all - v, g.simple) > base)
  }

  /** Maximal vertex sets whose induced simple subgraph is connected, has
    * at least two nodes and no cut vertex: the biconnected components. */
  private def blocks(g: Multi): Set[Set[Long]] = {
    val touched = g.simple.flatMap(p => Seq(p._1, p._2))
    val good = touched.subsets().filter { s =>
      s.size >= 2 && components(s, g.simple) == 1 &&
      (s.size == 2 || s.forall(v => components(s - v, g.simple) == 1))
    }.toSeq
    good.filterNot(a => good.exists(b => b != a && a.subsetOf(b))).toSet
  }

  private def simplePathsBrute(
      g: Multi, s: Long, t: Long, cutoff: Int): Set[Seq[Long]] =
    if (s == t) Set(Seq(s))
    else
      (g.nodes.toSet - s - t).subsets()
        .flatMap(_.toSeq.permutations)
        .map(mid => s +: mid :+ t)
        .filter(p => p.length - 1 <= cutoff &&
          p.zip(p.tail).forall { case (a, b) => g.succ.getOrElse(a, Set())(b) })
        .toSet

  // ---------------------------------------------------------------

  test("graph_analyzer counts match their definitions") {
    forAllGraphs(12) { g =>
      val keys = Seq("bridges", "articulation_points",
        "strongly_components", "number_of_weakly_components", "is_dag",
        "is_bipartite")
      val got = call(state(g), "graph_analyzer.analyze", keys)
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val sccs = g.nodes.map(v => reach(g, v).filter(reach(g, _)(v))).toSet
      val cyclic = g.nodes.exists(v =>
        g.succ.getOrElse(v, Set()).exists(w => reach(g, w)(v)))
      val bipartite = g.nodes.toSet.subsets().exists { red =>
        g.edges.forall(e => red(e._2) != red(e._3))
      }
      def py(b: Boolean) = if (b) "True" else "False"
      assert(got == Map(
        "Number of bridges" -> bridgePairs(g).size.toString,
        "Number of articulation points" ->
          articulationPoints(g).size.toString,
        "Number of strongly connected components" -> sccs.size.toString,
        "Number of weakly connected components" ->
          components(g.nodes.toSet, g.simple).toString,
        "Is DAG" -> py(!cyclic),
        "Is bipartite" -> py(bipartite)))
    }
  }

  test("nxalg.biconnected_components and nxalg.bridges match their " +
    "definitions") {
    forAllGraphs(12) { g =>
      val gs = state(g)
      val comps = call(gs, "nxalg.biconnected_components")
        .head.getSeq[collection.Seq[Long]](0)
      assert(comps.map(_.toSet).toSet == blocks(g))
      assert(comps.size == blocks(g).size)
      assert(comps.map(_.head) == comps.map(_.head).sorted)
      val bridges = call(gs, "nxalg.bridges", null).head.getSeq[Long](0)
      val expected = bridgePairs(g).map { case (u, v) =>
        g.edges.collect {
          case (e, s, d, _) if (s, d) == ((u, v)) || (d, s) == ((u, v)) => e
        }.min
      }
      assert(bridges.toSet == expected)
      assert(bridges.size == expected.size)
    }
  }

  test("igraphalg.get_all_simple_paths and nxalg.all_simple_paths " +
    "enumerate every simple path") {
    forAllGraphs(8) { g =>
      val gs = state(g)
      val hub = g.edges.map(e => math.max(e._2, e._3)).max
      for ((s, t) <- Seq((0L, 2L), (hub, 1L), (3L, 3L)); cutoff <- Seq(-1, 2)) {
        val bound = if (cutoff < 0) Int.MaxValue else cutoff
        val expected = simplePathsBrute(g, s, t, bound)
        withClue(s"s=$s t=$t cutoff=$cutoff: ") {
          val ig = call(gs, "igraphalg.get_all_simple_paths", s, t, cutoff)
            .map(_.getSeq[Long](0).toSeq).toSeq
          assert(ig.toSet == expected)
          assert(ig.size == expected.size)
          val nx = call(gs, "nxalg.all_simple_paths", s, t,
            if (cutoff < 0) null else cutoff)
            .head.getSeq[collection.Seq[Long]](0).map(_.toSeq)
          assert(nx.toSet == expected)
          assert(nx.size == expected.size)
        }
      }
    }
  }

  test("igraphalg.mincut: capacity equals the max flow, source side is " +
    "the smallest minimum cut side") {
    forAllGraphs(10) { g =>
      val gs = state(g)
      val hub = g.edges.map(e => math.max(e._2, e._3)).max
      for ((s, t) <- Seq((0L, hub), (hub, 1L)); directed <- Seq(true, false)) {
        val arcs = g.edges.flatMap { case (_, a, b, c) =>
          if (directed) Seq((a, b, c)) else Seq((a, b, c), (b, a, c))
        }
        def cut(side: Set[Long]): Long =
          arcs.collect { case (a, b, c) if side(a) && !side(b) => c }.sum
        val sides = (g.nodes.toSet - s - t).subsets().map(_ + s).toSeq
        val best = sides.map(cut).min
        val smallest = sides.filter(cut(_) == best).reduce(_ intersect _)
        withClue(s"s=$s t=$t directed=$directed: ") {
          val part = call(gs, "igraphalg.mincut", s, t, "w", directed)
            .map(r => r.getLong(0) -> r.getInt(1)).toMap
          assert(part.keySet == g.nodes.toSet)
          val side = part.collect { case (v, 0) => v }.toSet
          assert(cut(side) == best)
          assert(side == smallest)
          if (directed) {
            val flow = call(gs, "igraphalg.maxflow", s, t, "w")
              .head.getDouble(0)
            assert(flow == best.toDouble)
          }
        }
      }
    }
  }

  test("igraphalg.mincut on a 200,000-node chain (no recursion)") {
    val n = 200000L
    val neck = 150000L
    val g = Multi(
      0L until n,
      (0L until n - 1).map(i => (n + i, i, i + 1, if (i == neck) 1L else 2L)))
    val part = call(state(g), "igraphalg.mincut", 0L, n - 1, "w", true)
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(part.length == n)
    assert(part.forall { case (v, p) => p == (if (v <= neck) 0 else 1) })
  }
}

object ModuleKernelsSpec {

  /** Nodes and (edge id, src, dst, capacity) edges. */
  private final case class Multi(
      nodes: Seq[Long], edges: Seq[(Long, Long, Long, Long)]) {
    lazy val simple: Set[(Long, Long)] = edges.collect {
      case (_, s, d, _) if s != d => (math.min(s, d), math.max(s, d))
    }.toSet
    lazy val succ: Map[Long, Set[Long]] =
      edges.groupBy(_._2).map { case (s, es) => s -> es.map(_._3).toSet }
  }
}
