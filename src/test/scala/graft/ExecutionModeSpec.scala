package graft

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.core.{ExecutionMode, GraphState}
import graft.cypher.Cypher
import graft.sources.{LdbcGraphLoader, TpchGraphLoader}

/** The per-version execution mode ([[ExecutionMode]]): a version with at
  * most `InterpretedEdges` edges runs on Spark's interpreted evaluators,
  * a larger one compiles; the decision is one job on a root version and
  * none on the versions derived from it; and a statement's rows do not
  * depend on the mode its result is collected under.
  */
class ExecutionModeSpec extends SparkTestBase {

  private val ModeKey = "spark.sql.codegen.factoryMode"
  private def mode: String = spark.conf.get(ModeKey)

  /** One `V` node and `edges` self-loops on it, from `spark.range`. */
  private def rangeGraph(edges: Long): GraphState = GraphState(
    Map("V" -> (() =>
      spark.range(1).select(col("id").as("_id"), array(lit("V")).as("_labels")))),
    Map("E" -> (() =>
      spark.range(edges).select(col("id").as("_id"), lit(0L).as("_src"),
        lit(0L).as("_dst"), lit("E").as("_type")))))

  /** Execution-mode decisions `body` runs: the SQL executions of the jobs
    * labelled with the decision (under AQE one count runs one job per
    * query stage). A marker job closes the window: listener events arrive
    * in order. */
  private def decisions[T](body: => T): (T, Int) = {
    val runs = mutable.Set.empty[String]
    val marker = "execution-mode-marker"
    @volatile var closed = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val props = Option(e.properties)
        val d = props.map(_.getProperty("spark.job.description"))
        if (d.contains(marker)) closed = true
        else if (d.contains("graft:execution mode"))
          runs ++= props.map(_.getProperty("spark.sql.execution.id"))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!closed && System.nanoTime() < deadline) Thread.sleep(10)
      assert(closed, "the listener never saw the marker job")
      (out, listener.synchronized(runs.size))
    } finally sc.removeSparkListener(listener)
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a version with InterpretedEdges edges plans interpreted, one more " +
    "edge plans compiled") {
    val count = "MATCH (v:V) RETURN count(*) AS n"
    val at = ExecutionMode.InterpretedEdges
    Cypher.execute(spark, rangeGraph(at), count)
    assert(mode == "NO_CODEGEN")
    Cypher.execute(spark, rangeGraph(at + 1), count)
    assert(mode == "FALLBACK")
  }

  test("the decision runs one count on a loader version and none on a " +
    "version a CREATE derives from it") {
    // a directory spelling no other suite loads: a fresh loader version
    val (g, onLoad) = decisions(TpchGraphLoader(spark, sfDir + "/."))
    assert(onLoad == 1)
    assert(g.interpreted && mode == "NO_CODEGEN")
    val (_, onWrite) = decisions {
      val w = Cypher.execute(spark, g, "CREATE (:Probe {k: 1})")
      w.result.collect()
      val r = Cypher.execute(spark, w.graph, "MATCH (p:Probe) RETURN p.k AS k")
      assert(r.result.collect().map(_.getLong(0)).toSeq == Seq(1L))
      assert(!(w.graph eq g) && w.graph.interpreted)
    }
    assert(onWrite == 0)
  }

  /** Sorted rows of `query` on `g`, collected under `factoryMode`. */
  private def rowsUnder(factoryMode: String, g: GraphState, query: String)
    : Seq[String] = {
    val df = Cypher.execute(spark, g, query).result
    spark.conf.set(ModeKey, factoryMode)
    df.collect().map(_.toString).toSeq.sorted
  }

  private def sameBothWays(g: GraphState, queries: Seq[String]): Unit = {
    val sizes = queries.map { q =>
      val compiled = rowsUnder("FALLBACK", g, q)
      withClue(q)(assert(rowsUnder("NO_CODEGEN", g, q) == compiled))
      compiled.size
    }
    assert(sizes.exists(_ > 0), "every statement returned nothing")
  }

  test("ldbc_interactive template shapes return the same rows compiled " +
    "and interpreted") {
    // the six templates of perfbench's ldbc_interactive workload, on the
    // sf0.001 fixture; person 48 and 112 have the most KNOWS edges
    val g = LdbcGraphLoader(spark, sfDir)
    sameBothWays(g, Seq(
      """MATCH (p:Person {id: 48}), (friend:Person {firstName: 'F2'})
        |WHERE NOT p=friend
        |WITH p, friend
        |MATCH path =((p)-[:KNOWS *BFS 1..3]-(friend))
        |WITH min(size(path)) AS distance, friend
        |ORDER BY distance ASC, friend.lastName ASC, toInteger(friend.id) ASC
        |LIMIT 20
        |MATCH (friend)-[:IS_LOCATED_IN]->(friendCity:City)
        |OPTIONAL MATCH (friend)-[studyAt:STUDY_AT]->(uni:University)-[:IS_LOCATED_IN]->(uniCity:City)
        |WITH friend, text.join(collections.sort(collect(
        |    CASE uni.name WHEN null THEN null
        |    ELSE uni.name + '|' + toString(studyAt.classYear) + '|' + uniCity.name END)), ';') AS unis,
        |  friendCity, distance
        |RETURN friend.id AS friendId, friend.lastName AS friendLastName,
        |  distance, toString(friend.birthday) AS birthday,
        |  friendCity.name AS city, unis
        |ORDER BY distance ASC, friendLastName ASC, toInteger(friendId) ASC
        |LIMIT 20""".stripMargin,
      """MATCH (:Person {id: 48})-[:KNOWS]-(friend:Person)<-[:HAS_CREATOR]-(message:Message)
        |WHERE message.creationDate <= localDateTime('1998-01-01T00:00:00')
        |RETURN friend.id AS personId, message.id AS postOrCommentId,
        |  coalesce(message.content, message.imageFile) AS content,
        |  toString(message.creationDate) AS creationDate
        |ORDER BY creationDate DESC, toInteger(postOrCommentId) ASC
        |LIMIT 20""".stripMargin,
      """MATCH (start:Person {id: 48})<-[:HAS_CREATOR]-(:Message)<-[:REPLY_OF]-(comment:Comment)-[:HAS_CREATOR]->(person:Person)
        |RETURN person.id AS personId, toString(comment.creationDate) AS creationDate,
        |  comment.id AS commentId, comment.content AS commentContent
        |ORDER BY creationDate DESC, commentId ASC
        |LIMIT 20""".stripMargin,
      """MATCH (root:Person {id: 48})-[:KNOWS*1..2]-(friend:Person)
        |WHERE NOT friend = root
        |WITH collect(distinct friend) as friends
        |UNWIND friends as friend
        |MATCH (friend)<-[:HAS_CREATOR]-(message:Message)
        |WHERE message.creationDate < localDateTime('1996-06-01T00:00:00')
        |RETURN friend.id AS personId, message.id AS commentOrPostId,
        |  toString(message.creationDate) AS creationDate
        |ORDER BY creationDate DESC, commentOrPostId ASC
        |LIMIT 20""".stripMargin,
      """MATCH (person:Person {id: 48})-[:KNOWS*1..2]-(friend:Person)
        |WHERE not(person=friend)
        |WITH DISTINCT friend
        |MATCH (friend)-[workAt:WORK_AT]->(company:Company)-[:IS_LOCATED_IN]->(country:Country)
        |WHERE workAt.workFrom < 2005
        |RETURN friend.id AS personId, company.name AS organizationName,
        |  workAt.workFrom AS workFrom, country.name AS country
        |ORDER BY workFrom ASC, toInteger(personId) ASC, organizationName DESC
        |LIMIT 10""".stripMargin,
      """MATCH (person1:Person {id: 48}), (person2:Person {id: 112}),
        |  path = (person1)-[:KNOWS *BFS]-(person2)
        |RETURN CASE path IS NULL WHEN true THEN -1 ELSE size(path) END
        |  AS shortestPathLength""".stripMargin))
  }

  test("a *BFS, pagerank, OPTIONAL MATCH with collect, and a read after a " +
    "CREATE return the same rows compiled and interpreted") {
    val g = rangeGraph(0L)
    val w = Cypher.execute(spark, g,
      """UNWIND range(0, 11) AS i CREATE (:P {pid: i})""").graph
    val ring = Cypher.execute(spark, w,
      """MATCH (a:P), (b:P) WHERE b.pid = (a.pid + 1) % 12 OR
        |  (a.pid % 4 = 0 AND b.pid = a.pid + 5)
        |CREATE (a)-[:K {w: a.pid}]->(b)""".stripMargin).graph
    sameBothWays(ring, Seq(
      """MATCH (a:P {pid: 0}), (b:P) WHERE b.pid > 0
        |MATCH p = (a)-[:K *BFS]->(b)
        |RETURN b.pid AS t, size(p) AS len""".stripMargin,
      """CALL pagerank.get({label: 'P', type: 'K'})
        |YIELD node, rank
        |MATCH (u:P) WHERE id(u) = node
        |RETURN u.pid AS pid, round(rank * 1000000) AS r""".stripMargin,
      """MATCH (a:P)
        |OPTIONAL MATCH (a)-[r:K]->(b:P) WHERE r.w > 3
        |RETURN a.pid AS pid, collect(b.pid) AS outs""".stripMargin,
      """MATCH (a:P)-[r:K]->(b:P) WHERE a.pid < 3
        |CREATE (b)-[:L]->(:Q {from: a.pid})
        |RETURN a.pid AS pid, b.pid AS to""".stripMargin))
    val after = Cypher.execute(spark, ring,
      "MATCH (a:P {pid: 0}) CREATE (a)-[:L]->(:Q {from: 0})").graph
    sameBothWays(after, Seq(
      "MATCH (a:P)-[:L]->(q:Q) RETURN a.pid AS pid, q.from AS f"))
  }

  test("the grouped aggregate is whole-stage codegen'd above the bound and " +
    "compiles no class below it") {
    // PlanInvariantSpec pins its partial aggregation; the mode decides
    // the codegen. The program is built over the sf0.001 loader version
    // (interpreted); ExecutionMode(big) before collect plans it compiled.
    val above = {
      val df = SparkEntry.queries("agg_pricing_summary")(spark, sfDir)
      ExecutionMode(spark, rangeGraph(ExecutionMode.InterpretedEdges + 1))
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    assert(above.contains("WholeStageCodegen") || above.contains("*("),
      s"agg_pricing_summary falls out of whole-stage codegen above the " +
        s"bound:\n$above")
    // Interpreted, Spark still generates the partial aggregate's row
    // joiner (GenerateUnsafeRowJoiner has no interpreted twin): the first
    // run compiles that one class, and every later run finds it cached
    SparkEntry.queries("agg_pricing_summary")(spark, sfDir).collect()
    val df = SparkEntry.queries("agg_pricing_summary")(spark, sfDir)
    assert(mode == "NO_CODEGEN")
    val before = compiles
    df.collect()
    assert(compiles - before == 0,
      s"agg_pricing_summary compiled ${compiles - before} classes below the " +
        s"bound:\n${df.queryExecution.executedPlan}")
  }
}
