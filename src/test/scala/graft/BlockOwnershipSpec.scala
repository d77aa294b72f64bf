package graft

import org.apache.spark.graft.StoredBlocks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.core.GraphState
import graft.cypher.Cypher

/** Block ownership: a checkpoint block lives as long as some frame that
  * reads it, and Spark's ContextCleaner frees it after that
  * (`operators.Scratch`). A drain (five rounds of `System.gc()` and
  * 200 ms) gives the cleaner the chance to free every unreachable block.
  * The specs compare sets of RDD ids with stored blocks, never counts:
  * other suites share the session, and the cleaner frees their dropped
  * blocks concurrently. Anything that must become unreachable is built
  * in a helper method, so no local of the test body keeps it alive. */
class BlockOwnershipSpec extends SparkTestBase {

  private def drain(): Unit = (1 to 5).foreach { _ =>
    System.gc()
    Thread.sleep(200)
  }

  private def stored(): Set[Int] = StoredBlocks.rddIds(spark.sparkContext)

  /** The RDD ids of the block-backed leaves that `g`'s frames read. */
  private def reads(g: GraphState): Set[Int] =
    (g.nodeLabels.map(g.nodes) ++ g.edgeTypes.map(g.edges))
      .flatMap(_.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id })
      .toSet

  private def withConf[T](k: String, v: String)(body: => T): T = {
    spark.conf.set(k, v)
    try body
    finally spark.conf.unset(k)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq

  private val chain = Seq(
    "CREATE (:P {pid: 10}), (:P {pid: 11})",
    "MATCH (a:P {pid: 4}), (b:P {pid: 10}) CREATE (a)-[:KNOWS]->(b)",
    "MATCH (a:P) WHERE a.pid < 5 SET a.tag = a.pid * 10",
    "MERGE (c:P {pid: 12})",
    "MATCH (a:P {pid: 10}), (b:P {pid: 12}) MERGE (a)-[:KNOWS]->(b)",
    "MATCH (a:P) WHERE a.pid >= 10 RETURN a.pid, a.tag ORDER BY a.pid",
    """MATCH (a:P {pid: 0}), (b:P {pid: 12})
      |MATCH p = (a)-[:KNOWS *BFS]->(b) RETURN size(p) AS len""".stripMargin,
    """CALL periodic.iterate('MATCH (n:P) WHERE n.pid < 8 RETURN n',
      |  'SET n.it = n.pid + 1', {batch_size: 3})
      |YIELD success, number_of_executed_batches
      |RETURN success, number_of_executed_batches""".stripMargin,
    "CREATE (:P:Q {pid: 13})",
    "MATCH (n) RETURN count(n) AS n",
    "MATCH (a:P {pid: 2}) DETACH DELETE a",
    "MATCH (n) RETURN n.pid ORDER BY n.pid",
    "MATCH (a:P {pid: 11}) SET a:Q",
    "MERGE (a:P {pid: 1}) ON MATCH SET a.seen = true",
    "MATCH (a:P)-[:KNOWS]->(b) RETURN a.pid, b.pid ORDER BY a.pid, b.pid",
    """MATCH (a:P {pid: 5}), (b:P {pid: 7})
      |MATCH p = (a)-[:KNOWS *BFS]->(b) RETURN size(p) AS len""".stripMargin,
    "MATCH (n:Q) RETURN n.pid ORDER BY n.pid",
    "MATCH (a:P {pid: 12}) DETACH DELETE a",
    "MATCH (n) WHERE n.pid IS NOT NULL SET n.last = true",
    """MATCH (n) RETURN n.pid, n.tag, n.it, n.seen, n.last
      |ORDER BY n.pid""".stripMargin)

  /** Every statement's rows, each statement on the previous one's
    * version; `between` runs after every statement. */
  private def runChain(between: () => Unit): Seq[Seq[String]] = {
    var g = pathGraph()
    chain.map { q =>
      val r = Cypher.execute(spark, g, q)
      val out = rows(r.result)
      g = r.graph
      between()
      out
    }
  }

  test("a write chain returns the same rows with a drain between statements") {
    // distributed fixpoints, so the BFS statements checkpoint every level
    withConf("spark.graft.local.edges", "0") {
      val plain = runChain(() => ())
      val drained = runChain(() => drain())
      chain.zip(plain.zip(drained)).foreach { case (q, (p, d)) =>
        withClue(q) { assert(d == p) }
      }
      assert(plain(6) == Seq("6"))
      assert(plain.last.size == 12)
    }
  }

  /** The stored RDD ids a distributed BFS read on `g` adds, and its rows. */
  private def bfsRead(g: GraphState): (Set[Int], Seq[String]) = {
    val before = stored()
    val out = withConf("spark.graft.local.edges", "0") {
      rows(Cypher.execute(spark, g,
        """MATCH (a:P {pid: 0}), (b:P {pid: 4})
          |MATCH p = (a)-[:KNOWS *BFS]->(b) RETURN size(p) AS len""".stripMargin).result)
    }
    (stored() -- before, out)
  }

  /** A SET keyed on a MATCH returns a version over the checkpointed key
    * frame; returns the ids it reads, which the version held until now. */
  private def droppedWrite(): Set[Int] = {
    val w = Cypher.execute(spark, pathGraph(), "MATCH (a:P) WHERE a.pid < 3 SET a.tag = 1").graph
    assert(rows(w.nodes("P").filter(col("tag") === 1).select("pid")).size == 3)
    reads(w)
  }

  test("a finished statement's checkpoints are freed; a held version's survive") {
    val g0 = pathGraph()
    val (made, out) = bfsRead(g0)
    assert(out == Seq("4"))
    assert(made.nonEmpty, "the distributed BFS checkpointed no level")
    drain()
    assert((stored() intersect made).isEmpty)

    val w = Cypher.execute(spark, g0, "MATCH (a:P) WHERE a.pid < 3 SET a.tag = 1").graph
    val held = reads(w)
    assert(held.nonEmpty, "the SET version reads no checkpointed frame")
    drain()
    assert(held subsetOf stored())
    assert(rows(Cypher.execute(spark, w,
      "MATCH (a:P) WHERE a.tag = 1 RETURN a.pid ORDER BY a.pid").result) ==
      Seq("0", "1", "2"))

    val dropped = droppedWrite()
    assert(dropped.nonEmpty)
    drain()
    assert((stored() intersect dropped).isEmpty)
  }

  /** Node frames A and B that share node 1. */
  private def overlapFrames(): (DataFrame, DataFrame) = {
    import spark.implicits._
    (Seq((1L, Seq("A", "B")), (2L, Seq("A"))).toDF("_id", "_labels"),
      Seq((1L, Seq("A", "B")), (3L, Seq("B"))).toDF("_id", "_labels"))
  }

  /** Counts an overlapping version's `allNodes` twice and drops the
    * version; returns the count and the ids its first use stored. */
  private def overlapView(a: DataFrame, b: DataFrame): (Long, Set[Int], Set[Int]) = {
    val g = GraphState(Map("A" -> (() => a), "B" -> (() => b)), Map.empty).withOverlap
    val before = stored()
    val n = g.allNodes.count()
    val first = stored() -- before
    assert(g.allNodes.count() == n)
    (n, first, stored() -- before -- first)
  }

  test("an overlapping version's allNodes view is freed with the version") {
    val (a, b) = overlapFrames()
    val (n, made, second) = overlapView(a, b)
    assert(n == 3L)
    assert(made.nonEmpty, "the deduplicated view stored no block")
    assert(second.isEmpty, "a second read of the view stored again")
    drain()
    assert((stored() intersect made).isEmpty)
    val sameView = Seq(a, b).reduce(GraphState.unionReconciled)
      .dropDuplicates(GraphState.IdCol)
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    assert(cache.lookupCachedData(
      sameView.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty)
  }

  /** A fresh RDD id: every RDD made before this call has a smaller one. */
  private def nextRddId(): Int = spark.sparkContext.emptyRDD[Int].id

  /** Runs a 50-batch periodic.iterate; returns the final version and the
    * range of RDD ids the statement made. The cleaner may free superseded
    * batches' blocks while the loop still runs, so the statement's blocks
    * are told by id, not by what is stored when it ends. */
  private def iterated(): (GraphState, Range) = {
    import spark.implicits._
    val nodes = (0L until 50L).map(i => (i, i)).toDF("_id", "pid")
      .withColumn("_labels", array(lit("P")))
      .repartition(2)
    val from = nextRddId()
    val r = Cypher.execute(spark, GraphState(Map("P" -> (() => nodes)), Map.empty),
      """CALL periodic.iterate('MATCH (n:P) RETURN n',
        |  'SET n.w = n.pid * 2', {batch_size: 1})
        |YIELD success, number_of_executed_batches
        |RETURN success, number_of_executed_batches""".stripMargin)
    assert(rows(r.result) == Seq("true|50"))
    (r.graph, from until nextRddId())
  }

  test("after a 50-batch periodic.iterate only the final version's checkpoints stay") {
    val (g, made) = iterated()
    drain()
    val left = stored().filter(made.contains)
    assert(left.nonEmpty && left.subsetOf(reads(g)), (left, reads(g)))
    assert(rows(g.nodes("P").select("pid", "w").orderBy("pid")) ==
      (0 until 50).map(i => s"$i|${2 * i}"))
  }
}
