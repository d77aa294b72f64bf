package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core.GraphState
import graft.cypher.Cypher
import graft.operators.{Biconnected, Cutover, Cycles, Expand, LocalSearch, ShortestPath, VertexResident}
import graft.procedures.{ProcContext, Procedures}

/** The driver-local / distributed cutover ([[Cutover]]): the version's
  * edge memo honours the cap it is asked under and decides like a capture
  * of the oriented frame, a cap of Long.MaxValue
  * collects every row, and on random multigraphs the driver-local pass
  * (default cap), the vertex-resident placement where there is one (a cap
  * between the node and edge counts; for WCC, any cap the nodes fit
  * under) and the distributed operator
  * (`spark.graft.local.edges=0`) return the same rows. The graphs come
  * from `org.scalacheck.Gen` under fixed seeds, so a failure names the
  * seed that reproduces it.
  */
class CutoverSpec extends SparkTestBase {

  import spark.implicits._

  private def underCap[T](cap: Long)(body: => T): T = {
    spark.conf.set(Cutover.LocalEdgesKey, cap.toString)
    try body
    finally spark.conf.unset(Cutover.LocalEdgesKey)
  }

  private def distributed[T](body: => T): T = underCap(0L)(body)

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

  /** (node, comp) rows of [[Procedures.minLabelComponents]]. */
  private def components(nodes: Seq[Long], edges: Seq[(Long, Long)]) =
    Procedures
      .minLabelComponents(nodes.toDF("node"), edges.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("a cap of Long.MaxValue runs the local pass on every row") {
    val edges = Seq((0L, 1L), (1L, 2L), (3L, 4L))
    val nodes = Seq(0L, 3L, 5L)
    val local = underCap(Long.MaxValue)(components(nodes, edges))
    assert(local.nonEmpty)
    assert(local == distributed(components(nodes, edges)))
  }

  test("property: minLabelComponents agrees at the default cap, between " +
    "the node and edge counts, and at 0") {
    forAllGraphs { edges =>
      val endpoints = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      // omit every third endpoint, add two isolated nodes
      val nodes = endpoints.zipWithIndex.collect {
        case (v, i) if i % 3 != 1 => v
      } ++ Seq(100L, 101L)
      // the nodes and the partial forests (at most every endpoint) fit
      // while the edges do not, so the forest folds a partition in more
      // than one chunk
      val between = edges.size - 1L
      assert(nodes.size < between && endpoints.size <= between)
      val local = components(nodes, edges)
      assert(local.exists(_._1 == 100L) && local.size > nodes.size)
      assert(underCap(between)(components(nodes, edges)) == local)
      assert(distributed(components(nodes, edges)) == local)
    }
  }

  test("minLabelComponents: a partial forest above the cap bails to the " +
    "fixpoint") {
    val nodes = Seq(0L, 1L, 2L)
    val edges = Seq((0L, 1L), (2L, 1000L)) ++
      (0L until 200L).map(i => (2000L + 2 * i, 2001L + 2 * i))
    val cap = 10L
    val df = edges.toDF("src", "dst")
    assert(VertexResident.forest(df, cap).isEmpty)
    val bailed = underCap(cap)(components(nodes, edges))
    assert(bailed == Set((0L, 0L), (1L, 0L), (2L, 2L), (1000L, 2L)))
    assert(bailed == distributed(components(nodes, edges)))
  }

  test("minLabelComponents: one partition of more than cap edges over " +
    "few endpoints returns the fixpoint's rows") {
    val nodes = Seq(0L, 1L, 7L)
    val edges = (0L until 300L).map(i => (i % 5, (i + 1) % 6)) ++
      Seq((8L, 9L), (1L, 1L))
    val cap = 10L
    val df = edges.toDF("src", "dst").coalesce(1)
    assert(df.rdd.getNumPartitions == 1 && edges.size > cap)
    val forest = VertexResident.forest(df, cap)
    val endpoints = edges.flatMap(e => Seq(e._1, e._2)).toSet
    assert(forest.map(_._1.toSet) == Some(endpoints))
    def run = Procedures
      .minLabelComponents(nodes.toDF("node"), df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaForest = underCap(cap)(run)
    assert(viaForest.map(_._1) == Set(0L, 1L, 2L, 3L, 4L, 5L, 7L))
    assert(viaForest == distributed(run))
  }

  test("VertexResident.partitionForest stops reading once the forest " +
    "exceeds the cap") {
    var read = 0
    val edges = Iterator.tabulate(100000) { i =>
      read += 1
      (2L * i, 2L * i + 1)
    }
    assert(VertexResident.partitionForest(edges, 10L).isEmpty)
    assert(read <= 10)
  }

  test("property: ShortestPath.bfsAllPathsEdges local equals distributed") {
    forAllGraphs { edges =>
      val df = edgeFrame(edges).select(
        col("src").as(GraphState.SrcCol),
        col("dst").as(GraphState.DstCol),
        col("edge_id").as("__sp_eid"))
      val hub = edges.map(e => math.max(e._1, e._2)).max
      val sdf = Seq(0L, hub).toDF(ShortestPath.SeedCol)
      val (local, dist) = bothWays(
        ShortestPath.bfsAllPathsEdges(df, sdf, 6)
          .collect().map(_.toSeq.map(String.valueOf)).toSet)
      assert(local.nonEmpty)
      assert(local == dist)
    }
  }

  test("property: ShortestPath.weightedAllPaths local equals distributed") {
    forAllGraphs { edges =>
      val df = edgeFrame(edges).select(
        col("src").as(GraphState.SrcCol),
        col("dst").as(GraphState.DstCol),
        col("edge_id").as("__sp_eid"),
        (col("edge_id") * 7 % 3 + 1).cast("double")
          .as(ShortestPath.EdgeWeightCol))
      val hub = edges.map(e => math.max(e._1, e._2)).max
      val sdf = Seq(0L, hub).toDF(ShortestPath.SeedCol)
      val (local, dist) = bothWays(
        ShortestPath.weightedAllPaths(df, sdf, 6)
          .collect().map(_.toSeq.map(String.valueOf)).toSet)
      assert(local.nonEmpty)
      assert(local == dist)
    }
  }

  /** Weight of edge `i` of a generated graph: 1, 2 or 3, so equal-weight
    * ties are common. */
  private def weightOf(i: Long): Double = (i * 7 % 3 + 1).toDouble

  test("property: ShortestPath.weighted local equals distributed, and the " +
    "path carry returns its rows along paths of matching length and weight") {
    forAllGraphs { edges =>
      val df = edgeFrame(edges).select(
        col("src").as(GraphState.SrcCol),
        col("dst").as(GraphState.DstCol),
        col("edge_id").as("__sp_eid"),
        (col("edge_id") * 7 % 3 + 1).cast("double")
          .as(ShortestPath.EdgeWeightCol))
      val hub = edges.map(e => math.max(e._1, e._2)).max
      val sdf = Seq(0L, hub).toDF(ShortestPath.SeedCol)
      def key(r: org.apache.spark.sql.Row) = (
        r.getAs[Long](ShortestPath.SeedCol),
        r.getAs[Long](ShortestPath.NodeCol),
        r.getAs[Double](ShortestPath.WeightCol),
        r.getAs[Long](ShortestPath.DistCol))
      val (local, dist) = bothWays(
        ShortestPath.weighted(sdf, df, 6).collect().map(key).toSet)
      assert(local.exists(_._4 > 1))
      assert(local == dist)
      val carried =
        ShortestPath.weightedCarry(df, sdf, 6, filter = None).collect()
      assert(carried.map(key).toSet == dist)
      carried.foreach { r =>
        val (seed, node, w, d) = key(r)
        val pn = r.getAs[scala.collection.Seq[Long]](ShortestPath.PathNodesCol)
        val pe = r.getAs[scala.collection.Seq[Long]](ShortestPath.PathEdgesCol)
        assert(pe.size == d && pn.size == d + 1, r)
        assert(pn.head == seed && pn.last == node, r)
        assert(pe.map(weightOf).sum == w, r)
        assert(
          pe.indices.forall(i => edges(pe(i).toInt) == (pn(i), pn(i + 1))), r)
      }
    }
  }

  test("weighted leaves a cache its caller made in place") {
    val df = edgeFrame(Seq((0L, 1L), (1L, 2L), (2L, 0L)))
      .select(
        col("src").as(GraphState.SrcCol),
        col("dst").as(GraphState.DstCol),
        lit(1.0).as(ShortestPath.EdgeWeightCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val before = df.storageLevel
      val rows = distributed(ShortestPath
        .weighted(Seq(0L).toDF(ShortestPath.SeedCol), df, 4).collect())
      assert(rows.length == 3)
      assert(df.storageLevel == before)
    } finally df.unpersist()
  }

  test("property: a node-only step filter returns the bfsEdges rows over " +
    "the edges into passing nodes") {
    forAllGraphs { edges =>
      val df = edgeFrame(edges).select(
        col("src").as(GraphState.SrcCol),
        col("dst").as(GraphState.DstCol),
        col("edge_id").as("__sp_eid"),
        struct(col("edge_id").as("id")).as(ShortestPath.EStructCol))
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .toDF(GraphState.IdCol)
        .withColumn(
          ShortestPath.NStructCol, struct(col(GraphState.IdCol).as("id")))
      val hub = edges.map(e => math.max(e._1, e._2)).max
      val sdf = Seq(0L, hub).toDF(ShortestPath.SeedCol)
      val even = ShortestPath.PathFilter(
        nodes,
        _ => col(ShortestPath.NStructCol)("id") % 2 === 0,
        ("p_nodestructs", "p_edgestructs", "p_len"))
      val filtered =
        distributed(rowSet(ShortestPath.bfsEdges(df, sdf, 16, even)))
      val plain = distributed(rowSet(ShortestPath.bfsEdges(
        df.filter(col(GraphState.DstCol) % 2 === 0)
          .drop(ShortestPath.EStructCol),
        sdf, 16, withPaths = true)))
      assert(filtered.exists(_(2) != "0"))
      assert(filtered == plain)
    }
  }

  /** The BFS-family searches of one test, as (seed, node, dist, …) rows:
    * bfsEdges with and without paths to 16 hops, bfsAllPathsEdges to 6. */
  private def bfsFamily(
      search: ShortestPath.SearchEdges,
      seeds: org.apache.spark.sql.DataFrame,
      targets: Option[org.apache.spark.sql.DataFrame]) = Seq(
    ShortestPath.bfsEdges(search, seeds, 16, withPaths = true, targets),
    ShortestPath.bfsEdges(search, seeds, 16, withPaths = false, targets),
    ShortestPath.bfsAllPathsEdges(search, seeds, 6, targets)
  ).map(_.collect().map(_.toSeq).toSet)

  test("property: bfsEdges and bfsAllPathsEdges agree at the default cap, " +
    "under the DAG capture and at 0, with and without bound targets") {
    forAllGraphs { edges =>
      val search = ShortestPath.FrameEdges(edgeFrame(edges).select(
        col("src").as(GraphState.SrcCol),
        col("dst").as(GraphState.DstCol),
        col("edge_id").as("__sp_eid")))
      val hub = edges.map(e => math.max(e._1, e._2)).max
      val sdf = Seq(0L, hub).toDF(ShortestPath.SeedCol)
      val dist = distributed(bfsFamily(search, sdf, None))
      val depth = dist.head.map(r =>
        (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]) ->
          r(2).asInstanceOf[Long]).toMap
      // seed 0's target lies above its deepest level, so it stops early;
      // the hub also names a node outside the graph, so it searches to
      // the end
      val deepest0 = depth.collect { case ((0L, _), d) => d }.max
      val stop0 = math.max(1L, math.min(2L, deepest0 - 1))
      val target0 = depth.collect { case ((0L, v), `stop0`) => v }.min
      val near = depth.collect { case ((`hub`, v), 1L) => v }.min
      val pairs = Seq((0L, target0), (hub, near), (hub, 1000L))
      val tdf = pairs.toDF(ShortestPath.SeedCol, ShortestPath.NodeCol)
      val stop = Map(0L -> stop0, hub -> Long.MaxValue)
      def seed0Rows(rows: Set[Seq[Any]]) = rows.count(_.head == 0L)
      def onTargets(rows: Set[Seq[Any]]) =
        rows.filter(r => pairs.contains((r(0), r(1))))
      // the generated graphs' self-loops are never DAG edges, so the DAG
      // capture fits under a cap that the edge set is above
      val between = edges.size - 1L
      val dag = underCap(between)(LocalSearch.capture(search, sdf, None, 16))
      assert(dag.exists(_.edges.length <= between))
      Seq(None, Some(between), Some(0L)).foreach { cap =>
        withClue(s"under $cap: ") {
          def run[T](body: => T): T = cap.fold(body)(c => underCap(c)(body))
          assert(run(bfsFamily(search, sdf, None)) == dist)
          val stopped = run(bfsFamily(search, sdf, Some(tdf)))
          assert(stopped.map(onTargets) == dist.map(onTargets))
          assert(onTargets(stopped.head).size == 2)
          if (cap.contains(between)) {
            stopped.foreach(_.foreach(r =>
              assert(r(2).asInstanceOf[Long] <= stop(r(0).asInstanceOf[Long]), r)))
            if (deepest0 > stop0)
              assert(seed0Rows(stopped.head) < seed0Rows(dist.head))
          }
        }
      }
      // one row under the DAG-edge count: the distributed loop's rows
      val below = dag.get.edges.length - 1L
      underCap(below) {
        assert(LocalSearch.capture(search, sdf, None, 16).isEmpty)
        assert(bfsFamily(search, sdf, None).head == dist.head)
      }
    }
  }

  test("property: louvain, leiden and label propagation local equal " +
    "distributed") {
    forAllGraphs { edges =>
      Seq[(String, ProcContext => org.apache.spark.sql.DataFrame, Map[String, Any])](
        ("louvain", Procedures.louvain, Map("iterations" -> 6)),
        ("leiden", Procedures.leiden, Map("iterations" -> 6, "maxLevels" -> 4)),
        ("label propagation", Procedures.labelPropagation,
          Map("iterations" -> 10))
      ).foreach { case (name, proc, opts) =>
        withClue(s"$name: ") {
          val (local, dist) = bothWays(procRows(proc, edges, opts))
          assert(local.nonEmpty)
          assert(local == dist)
        }
      }
    }
  }

  /** A version whose one edge type "E" holds `edges`; node ids are the
    * endpoints plus one isolated node. */
  private def graphOf(edges: Seq[(Long, Long)]): GraphState = {
    val es = edges.zipWithIndex
      .map { case ((s, d), i) => (i.toLong, s, d, "E") }
      .toDF("_id", "_src", "_dst", "_type")
    val ids = (edges.flatMap(e => Seq(e._1, e._2)) :+ 1000L).distinct
    val nodes = ids.toDF("_id").withColumn("_labels", array(lit("V")))
    GraphState(Map("V" -> (() => nodes)), Map("E" -> (() => es)))
  }

  private def rowSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq.map(String.valueOf)).toSet

  test("property: memo and frame captures decide alike and return the " +
    "same bfsEdges / bfsAllPathsEdges rows at the default cap, between " +
    "the one-way and the Both counts, and at 0") {
    forAllGraphs { edges =>
      val g = graphOf(edges)
      val hub = edges.map(e => math.max(e._1, e._2)).max
      val sdf = Seq(0L, hub).toDF(ShortestPath.SeedCol)
      // one-way fits, Both (2E - loops oriented rows, with at most two
      // loops) does not
      val between = edges.size + edges.size / 2L
      // Both orients every triple both ways (a loop once), so it covers In
      // as well
      Seq(Expand.Out, Expand.Both).foreach { dir =>
        val typed = ShortestPath.TypedEdges(g, Seq("E"), dir)
        val frame = ShortestPath.FrameEdges(typed.frame)
        def results(e: ShortestPath.SearchEdges) = (
          rowSet(ShortestPath.bfsEdges(e, sdf, 16, withPaths = true, None)),
          rowSet(ShortestPath.bfsAllPathsEdges(e, sdf, 6, None)))
        val dist = distributed(results(typed))
        assert(dist._1.nonEmpty && dist._2.nonEmpty)
        Seq(None, Some(between), Some(0L)).foreach { cap =>
          withClue(s"$dir under $cap: ") {
            def run[T](body: => T): T = cap.fold(body)(c => underCap(c)(body))
            def captured(e: ShortestPath.SearchEdges) = run(
              LocalSearch.tryCollect(e, sdf, withWeight = false)
                .map(_._1.sortBy(r => (r._1, r._2, r._3)).toSeq))
            val viaMemo = captured(typed)
            assert(viaMemo == captured(frame))
            val local = cap.isEmpty || (cap.contains(between) && dir != Expand.Both)
            assert(viaMemo.isDefined == local)
            // both sources' local runs, and the memo's bail under the cap
            // between, return the distributed rows (`dist` is the memo's
            // run at 0; a frame that bails runs the same operator)
            if (local) assert(run(results(frame)) == dist)
            if (!cap.contains(0L)) assert(run(results(typed)) == dist)
          }
        }
      }
    }
  }

  /** (node, value) rows of a procedure over `graphOf(edges)`, sorted. */
  private def procRows(
      proc: ProcContext => org.apache.spark.sql.DataFrame,
      edges: Seq[(Long, Long)],
      opts: Map[String, Any]) =
    proc(ProcContext(spark, graphOf(edges),
      Seq(opts ++ Map("label" -> "V", "type" -> "E"))))
      .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])

  test("property: katz local equals distributed") {
    forAllGraphs { edges =>
      val opts = Map[String, Any]("alpha" -> 0.1, "beta" -> 1.0, "iterations" -> 10)
      val (local, dist) = bothWays(procRows(Procedures.katz, edges, opts))
      assert(local.nonEmpty)
      assert(local == dist)
    }
  }

  test("property: betweenness local equals distributed") {
    forAllGraphs { edges =>
      Seq("true", "false").foreach { directed =>
        withClue(s"directed=$directed: ") {
          val opts = Map[String, Any](
            "seedMax" -> 1000, "maxDepth" -> 8, "directed" -> directed)
          val (local, dist) =
            bothWays(procRows(Procedures.betweenness, edges, opts))
          assert(local.nonEmpty)
          assert(local == dist)
        }
      }
    }
  }

  /** E edges 0→1, 1→1, 1→2, 2→2 and 3→0: two self-loops. */
  private val loopEdges = Seq((0L, 1L), (1L, 1L), (1L, 2L), (2L, 2L), (3L, 0L))

  test("an undirected hop and *1..2 match each self-loop once") {
    val g = graphOf(loopEdges)
    def rows(q: String) =
      Cypher.run(spark, g, q, Map.empty).collect().map(_.toSeq).toSeq
    val hop = rows(
      "MATCH (a:V)-[r:E]-(b:V) RETURN id(r) AS e, id(a) AS a, id(b) AS b")
    // three edges both ways, each loop once
    assert(hop.size == 8, hop)
    assert(hop.filter(_.head == 1L) == Seq(Seq(1L, 1L, 1L)))
    // from 1: one hop to 0, over the loop to 1, and to 2; two hops 1-0-3,
    // over the loop then to 0 or 2, and 1-2 then the loop at 2
    Seq(None, Some(0L)).foreach { cap =>
      withClue(s"under $cap: ") {
        val lens = cap.fold(rows _)(c => q => underCap(c)(rows(q)))(
          "MATCH (a:V)-[rs:E *1..2]-(b:V) WHERE id(a) = 1 " +
            "RETURN size(rs) AS n")
        assert(lens.map(_.head).groupBy(identity).map { case (k, v) =>
          k -> v.size } == Map(1 -> 3, 2 -> 4), lens)
      }
    }
  }

  test("a Both search orients 2E - loops rows, in the frame and in the " +
    "memo capture, and *BFS / *ALLSHORTEST agree across placements") {
    val g = graphOf(loopEdges)
    val typed = ShortestPath.TypedEdges(g, Seq("E"), Expand.Both)
    val oriented = 2L * loopEdges.size - 2
    assert(typed.frame.count() == oriented)
    assert(LocalSearch.captureEdges(spark, typed, Seq((0L, 0.0)),
      withWeight = false).map(_.length.toLong).contains(oriented))
    // from 0 the BFS DAG is 0-1, 0-3 and 1-2: a cap of 4 admits it, not
    // the oriented edge set
    val sdf = Seq(0L).toDF(ShortestPath.SeedCol)
    assert(underCap(4L)(LocalSearch.capture(typed, sdf, None, 16))
      .exists(_.edges.length == 3))
    Seq("*BFS", "*ALLSHORTEST").foreach { mode =>
      def paths = rowSet(Cypher.run(spark, g,
        s"MATCH p = (a:V)-[:E $mode]-(b:V) WHERE id(a) = 0 " +
          "RETURN id(b) AS b, [x IN nodes(p) | id(x)] AS ns, " +
          "[r IN relationships(p) | id(r)] AS es", Map.empty))
      val dflt = paths
      assert(dflt.size == 3, dflt)
      withClue(s"$mode: ") {
        assert(underCap(4L)(paths) == dflt)
        assert(distributed(paths) == dflt)
      }
    }
  }
}
