package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{array, lit}

import graft.core.GraphState
import graft.cypher.Cypher
import graft.sources.TpchGraphLoader

/** Semantic tests for the Cypher frontend against the sf0.001 graph, checked
  * against independently-computed DataFrame results, and the lifetime of
  * the graph versions `Cypher.execute` returns, on a small path graph. */
class CypherSpec extends SparkTestBase {

  lazy val g = TpchGraphLoader(spark, sfDir)
  def run(q: String, params: Map[String, Any] = Map.empty) =
    Cypher.run(spark, g, q, params)

  test("scan by label + count") {
    val n = run("MATCH (c:Customer) RETURN count(*) AS n")
      .collect()(0).getLong(0)
    assert(n == g.nodes("Customer").count())
  }

  test("filter + projection + order + limit") {
    val rows = run(
      """MATCH (c:Customer) WHERE c.c_acctbal > 5000
        |RETURN c.c_custkey AS k, c.c_name AS name
        |ORDER BY k DESC LIMIT 3""".stripMargin).collect()
    assert(rows.length <= 3)
    val expected = g.nodes("Customer")
      .filter(org.apache.spark.sql.functions.col("c_acctbal") > 5000)
      .orderBy(org.apache.spark.sql.functions.col("c_custkey").desc)
      .limit(3)
      .select("c_custkey")
      .collect().map(_.getLong(0)).toSeq
    assert(rows.map(_.getLong(0)).toSeq == expected)
  }

  test("expand one hop with aggregation") {
    val rows = run(
      """MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)
        |RETURN n.n_name AS nation, count(*) AS cnt
        |ORDER BY nation""".stripMargin).collect()
    assert(rows.map(_.getLong(1)).sum == g.nodes("Customer").count())
  }

  test("two-hop + property map in pattern") {
    val rows = run(
      """MATCH (c:Customer {c_mktsegment: 'BUILDING'})-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->(r:Region)
        |RETURN r.r_name AS region, count(*) AS cnt ORDER BY region""".stripMargin)
      .collect()
    assert(rows.nonEmpty)
  }

  test("WITH pipeline + WHERE on aggregate (HAVING)") {
    val rows = run(
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
        |WITH c, count(o) AS n_orders
        |WHERE n_orders > 2
        |RETURN c.c_custkey AS k, n_orders ORDER BY k""".stripMargin).collect()
    assert(rows.forall(_.getLong(1) > 2))
  }

  test("UNWIND + collect + list ops") {
    val rows = run(
      "UNWIND [3, 1, 2] AS x RETURN x ORDER BY x").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("CASE + string functions") {
    val rows = run(
      """MATCH (r:Region)
        |RETURN r.r_name AS name,
        |       CASE WHEN r.r_name STARTS WITH 'A' THEN 'a-region' ELSE 'other' END AS kind
        |ORDER BY name""".stripMargin).collect()
    assert(rows.forall(r =>
      (r.getString(0).startsWith("A")) == (r.getString(1) == "a-region")))
  }

  test("OPTIONAL MATCH keeps unmatched rows with NULLs") {
    val rows = run(
      """MATCH (c:Customer)
        |OPTIONAL MATCH (c)-[:PLACED]->(o:Order)
        |RETURN c.c_custkey AS k, count(o.o_orderkey) AS n
        |ORDER BY k""".stripMargin).collect()
    assert(rows.length == g.nodes("Customer").count())
  }

  test("pattern predicate EXISTS as semi join") {
    val all = run("MATCH (n:Nation) RETURN n.n_name AS x").count()
    val some = run(
      """MATCH (n:Nation) WHERE (n)<-[:FROM_NATION]-(:Supplier)
        |RETURN n.n_name AS x""".stripMargin).count()
    val none = run(
      """MATCH (n:Nation) WHERE NOT (n)<-[:FROM_NATION]-(:Supplier)
        |RETURN n.n_name AS x""".stripMargin).count()
    assert(some + none == all && some > 0)
  }

  test("variable-length expansion over KNOWS") {
    val rows = run(
      """MATCH (a:Customer {c_custkey: 0})-[e:KNOWS*1..2]->(b:Customer)
        |RETURN b.c_custkey AS k, size(e) AS hops ORDER BY hops, k""".stripMargin)
      .collect()
    // 1 hop: customers 1 and 7; 2 hops: 2, 8, 8, 14 (two chords each)
    assert(rows.map(r => (r.getLong(1), r.getLong(0))).toSeq ==
      Seq((1L, 1L), (1L, 7L), (2L, 2L), (2L, 8L), (2L, 8L), (2L, 14L)))
  }

  test("UNION and UNION ALL") {
    val u = run(
      "MATCH (r:Region) RETURN r.r_name AS name UNION MATCH (r:Region) RETURN r.r_name AS name")
    assert(u.count() == g.nodes("Region").count())
    val ua = run(
      "MATCH (r:Region) RETURN r.r_name AS name UNION ALL MATCH (r:Region) RETURN r.r_name AS name")
    assert(ua.count() == 2 * g.nodes("Region").count())
  }

  test("list comprehension, reduce, quantifiers") {
    val r = run(
      """RETURN [x IN range(1, 5) WHERE x % 2 = 0 | x * 10] AS evens,
        |       reduce(acc = 0, x IN [1,2,3] | acc + x) AS total,
        |       all(x IN [1,2] WHERE x > 0) AS allpos,
        |       single(x IN [1,2] WHERE x = 2) AS one""".stripMargin)
      .collect()(0)
    assert(r.getAs[scala.collection.Seq[Long]]("evens").toSeq == Seq(20L, 40L))
    assert(r.getAs[Long]("total") == 6L)
    assert(r.getAs[Boolean]("allpos"))
    assert(r.getAs[Boolean]("one"))
  }

  test("parameters") {
    val n = run(
      "MATCH (c:Customer) WHERE c.c_custkey = $k RETURN c.c_name AS name",
      Map("k" -> 42L)).count()
    assert(n == 1)
  }

  test("ternary NULL semantics: WHERE null drops rows") {
    val n = run(
      "MATCH (c:Customer) WHERE c.no_such_prop > 1 RETURN c.c_custkey AS k").count()
    assert(n == 0)
  }

  test("DISTINCT") {
    val n = run(
      "MATCH (c:Customer) RETURN DISTINCT c.c_mktsegment AS seg ORDER BY seg").count()
    assert(n == 5)
  }

  test("undirected expand: (a)-[:KNOWS]-(b) counts both orientations once") {
    val rows = run(
      """MATCH (a:Customer {c_custkey: 10})-[:KNOWS]-(b:Customer)
        |RETURN b.c_custkey AS k ORDER BY k""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    // out: 11, 17; in: 9 (ring) and 3 (chord 3+7=10)
    assert(rows == Seq(3L, 9L, 11L, 17L))
  }

  test("undirected expand to existing endpoint") {
    val n = run(
      """MATCH (a:Customer {c_custkey: 10}), (b:Customer {c_custkey: 11})
        |MATCH (a)-[e:KNOWS]-(b) RETURN id(e) AS eid""".stripMargin).count()
    assert(n == 1)
  }

  test("USING HOPS LIMIT truncates subcritically, raises supercritically") {
    // subcritical typed edge set: the driver replays the reference's DFS
    // partial traversal — at most 3 edges fetched, so 1..3 paths survive
    val n = run(
      """USING HOPS LIMIT 3
        |MATCH (c:Customer {c_custkey: 1})
        |      -[:PLACED|HAS_LINE|OF_PART|BY_SUPPLIER*]->(x)
        |RETURN count(*) AS n""".stripMargin).collect()(0).getLong(0)
    assert(n >= 1 && n <= 3, s"expected 1..3 partial rows, got $n")
    // supercritical (forced): partial order is engine-specific — raise
    spark.conf.set("spark.graft.local.edges", "0")
    try {
      val e = intercept[Exception] {
        run(
          """USING HOPS LIMIT 3
            |MATCH (c:Customer {c_custkey: 1})
            |      -[:PLACED|HAS_LINE|OF_PART|BY_SUPPLIER*]->(x)
            |RETURN count(*) AS n""".stripMargin).collect()
      }
      assert(e.getMessage.contains("hops limit exceeded"))
    } finally spark.conf.unset("spark.graft.local.edges")
    // a k-shortest expansion raises like the weighted and all-shortest ones
    intercept[UnsupportedOperationException] {
      run(
        """USING HOPS LIMIT 1
          |MATCH (a:Customer {c_custkey: 0})
          |      -[:KNOWS *KSHORTEST ..4 {k: 2}]->(b:Customer)
          |RETURN b.c_custkey""".stripMargin).collect()
    }
  }

  test("kShortest returns at most k rows per pair, shortest first") {
    val rows = run(
      """MATCH (a:Customer {c_custkey: 0})
        |      -[e:KNOWS *KSHORTEST ..6 {k: 2}]->(b:Customer {c_custkey: 8})
        |RETURN size(e) AS hops ORDER BY hops""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    // 8 = 1+7 (2 hops, two orders) or 8×1 (8 hops, out of bound)
    assert(rows == Seq(2L, 2L))
  }

  test("mutating statement via execute: create then read back") {
    val r = graft.cypher.Cypher.execute(
      spark,
      g,
      "MATCH (n:Nation) CREATE (x:NTag {nm: toUpper(n.n_name)})")
    val back = graft.cypher.Cypher.run(
      spark,
      r.graph,
      "MATCH (x:NTag) RETURN count(*) AS n")
    assert(back.collect()(0).getLong(0) == g.nodes("Nation").count())
  }

  test("CALL subquery aggregates per imported row") {
    val rows = run(
      """MATCH (r:Region)
        |CALL { WITH r MATCH (r)<-[:IN_REGION]-(n:Nation) RETURN count(*) AS nn }
        |RETURN r.r_name AS name, nn ORDER BY name""".stripMargin).collect()
    assert(rows.length == 5 && rows.map(_.getLong(1)).sum == g.nodes("Nation").count())
  }

  test("start-point chooser: the smaller label side drives the expansion") {
    // Customer (large) -> Nation (25): the VariableStartPlanner analog
    // must reverse, so the LEFTMOST leaf of the optimized plan is the
    // Nation relation (n_* columns), not a full Customer scan
    val df = run(
      """MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)
        |WHERE n.n_name = 'FRANCE'
        |RETURN count(*) AS cnt""".stripMargin)
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    val firstCols = leaves.head.output.map(_.name)
    assert(
      firstCols.exists(_.contains("n_name")),
      s"expected the Nation scan to drive; leftmost leaf columns: $firstCols")
    // and the answer is still the join count
    val expected = g.nodes("Customer")
      .join(
        g.nodes("Nation")
          .filter(org.apache.spark.sql.functions.col("n_name") === "FRANCE")
          .select(org.apache.spark.sql.functions
            .col("n_nationkey").as("__nk")),
        org.apache.spark.sql.functions.col("c_nationkey") ===
          org.apache.spark.sql.functions.col("__nk"))
      .count()
    assert(df.collect()(0).getLong(0) == expected)
  }

  test("a path's IS NULL test reads the id arrays, not the entity arrays") {
    def planned(q: String) = {
      val df = run(q)
      val names = df.queryExecution.analyzed
        .collect { case n => n.output.map(_.name) }.flatten
      assert(!names.exists(_.endsWith("_nodestructs")), names.distinct)
      df.collect().map(_.toSeq).toSeq
    }
    val miss = planned(
      """MATCH (a:Customer {c_custkey: 0})
        |OPTIONAL MATCH p = (a)-[:KNOWS *BFS]->(b:Customer {c_custkey: -1})
        |RETURN p IS NULL AS miss, p IS NOT NULL AS hit""".stripMargin)
    assert(miss == Seq(Seq(true, false)))
    val hit = planned(
      """MATCH (a:Customer {c_custkey: 0})
        |OPTIONAL MATCH p = (a)-[:KNOWS *BFS]->(b:Customer {c_custkey: 8})
        |RETURN p IS NULL AS miss,
        |  CASE p IS NULL WHEN true THEN -1 ELSE size(p) END AS len""".stripMargin)
    // 8 = 1 + 7: the ring edge 0->1, then the chord 1->8
    assert(hit == Seq(Seq(false, 2L)))
  }

  /** KNOWS edges 0→1, 0→2, 1→3 twice, 2→3, 3→4, 2→4, 4→0 and 5→6:
    * shortest-path ties, a parallel edge, a cycle and a second component. */
  private def tieGraph(): GraphState = {
    import spark.implicits._
    val nodes = (0L to 6L).map(i => (i, i)).toDF("_id", "pid")
      .withColumn("_labels", array(lit("P")))
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 3L), (2L, 3L),
        (3L, 4L), (2L, 4L), (4L, 0L), (5L, 6L))
      .zipWithIndex
      .map { case ((s, d), i) => (100L + i, s, d, "KNOWS") }
      .toDF("_id", "_src", "_dst", "_type")
    GraphState(Map("P" -> (() => nodes)), Map("KNOWS" -> (() => edges)))
  }

  test("*ALLSHORTEST under a positive integer weight returns the weighted " +
    "search's paths and totals; a zero weight keeps its longer walks") {
    val tg = tieGraph()
    def paths(q: String) = Cypher.run(spark, tg, q, Map.empty).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    def unbound(arrow: String, lambda: String) =
      s"""MATCH p = (a:P {pid: 0})-[*ALLSHORTEST ..3 $lambda total_weight]$arrow(b:P)
         |RETURN b.pid AS t, total_weight AS w, [x IN nodes(p) | x.pid] AS ns,
         |  [r IN relationships(p) | id(r)] AS es""".stripMargin
    def bound(arrow: String, lambda: String) =
      s"""MATCH (a:P {pid: 0}), (b:P {pid: 3}) WITH a, b
         |MATCH p = (a)-[*ALLSHORTEST ..3 $lambda total_weight]$arrow(b)
         |RETURN total_weight AS w, [r IN relationships(p) | id(r)] AS es""".stripMargin
    // under a cap of 8 the 9 edges do not fit, while the DAG edges from 0
    // do (6 one-way, 7 oriented rows undirected): the DAG capture answers
    Seq(None, Some(8L), Some(0L)).foreach { cap =>
      cap.foreach(c => spark.conf.set("spark.graft.local.edges", c.toString))
      try Seq("->", "-").foreach { arrow =>
        Seq(unbound _, bound _).foreach { q =>
          withClue(s"$arrow under $cap: ") {
            val unit = paths(q(arrow, "(r, v | 1)"))
            assert(unit.nonEmpty)
            assert(unit == paths(q(arrow, "(r, v | coalesce(r.nope, 1))")))
          }
        }
      } finally spark.conf.unset("spark.graft.local.edges")
    }
    // to 4 the shortest path is 0→2→4; a zero weight ties the 3-hop walks
    val zero = paths(unbound("->", "(r, v | 0)")).filter(_.startsWith("4|"))
    assert(zero.contains("4|0.0|ArraySeq(0, 1, 3, 4)|ArraySeq(100, 102, 105)"))
    assert(paths(unbound("->", "(r, v | 1)")).filter(_.startsWith("4|")) ==
      Seq("4|2.0|ArraySeq(0, 2, 4)|ArraySeq(101, 106)"))
  }

  /** Two KNOWS components, 0-1-2-3-4 and 5-6-7, plus isolated 8 and 9;
    * partitioned, so every count and collect over them is a Spark job. */
  private def pathGraph(): GraphState = {
    import spark.implicits._
    val nodes = (0L to 9L).map(i => (i, i)).toDF("_id", "pid")
      .withColumn("_labels", array(lit("P")))
      .repartition(2)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L))
      .zipWithIndex
      .map { case ((s, d), i) => (100L + i, s, d, "KNOWS") }
      .toDF("_id", "_src", "_dst", "_type")
      .repartition(2)
    GraphState(Map("P" -> (() => nodes)), Map("KNOWS" -> (() => edges)))
  }

  private def pathLen(from: Long, to: Long) =
    s"""MATCH (a:P {pid: $from}), (b:P {pid: $to})
       |MATCH p = (a)-[:KNOWS *BFS]-(b)
       |RETURN CASE p IS NULL WHEN true THEN -1 ELSE size(p) END AS len""".stripMargin

  private def lens(r: Cypher.ExecResult): Seq[Long] =
    r.result.collect().map(_.getLong(0)).toSeq

  /** Call sites (stage and SQL-execution stack traces) of every Spark job
    * `body` starts. A marker job closes the window: listener events
    * arrive in order, so once its start is seen every earlier job's is. */
  private def jobSites[T](body: => T): (T, Seq[String]) = {
    val sites = mutable.ArrayBuffer.empty[String]
    val executions = mutable.HashMap.empty[Long, String]
    @volatile var closed = false
    val marker = "job-sites-marker"
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          synchronized { executions(x.executionId) = x.details }
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val props = Option(e.properties)
        if (props.exists(p => p.getProperty("spark.job.description") == marker))
          closed = true
        else {
          val viaExecution = props
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(id => executions.get(id.toLong))
          sites += (e.stageInfos.map(_.details) ++ viaExecution).mkString("\n")
        }
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
      (out, listener.synchronized(sites.toList))
    } finally sc.removeSparkListener(listener)
  }

  /** Jobs issued by the per-version memos' probes. */
  private val memoSites = Seq(
    "GraphState.labelCountEstimate", "GraphState.localTypedEdges",
    "LocalSearch$.captureEdges")
  private def memoJobs(sites: Seq[String]): Seq[String] =
    sites.filter(s => memoSites.exists(s.contains))

  test("version lifetime: a read returns the version it ran on") {
    val g0 = pathGraph()
    val r = Cypher.execute(spark, g0, pathLen(0, 4))
    assert(r.graph eq g0)
    assert(lens(r) == Seq(4L))
    assert(Cypher.execute(spark, g0, "MATCH (a:P) RETURN count(*) AS n").graph eq g0)
  }

  test("version lifetime: writes and DDL return a new version") {
    val g0 = pathGraph()
    def next(q: String) = Cypher.execute(spark, g0, q).graph
    Seq(
      "CREATE (:P {pid: 99})",
      "MATCH (a:P {pid: 1}) SET a.tag = 1",
      "MATCH (a:P {pid: 9}) DELETE a",
      "CREATE INDEX ON :P(pid)").foreach { q =>
      withClue(q) { assert(!(next(q) eq g0)) }
    }
  }

  test("version lifetime: a repeated read on the returned version starts " +
    "no label-count or edge-capture job") {
    val g0 = pathGraph()
    val (r1, first) = jobSites(Cypher.execute(spark, g0, pathLen(0, 4)))
    assert(lens(r1) == Seq(4L))
    // the first statement on a fresh version pays the probes...
    assert(first.exists(_.contains("GraphState.labelCountEstimate")), first)
    assert(first.exists(_.contains("GraphState.localTypedEdges")), first)
    // ...the second identical one, on the returned version, none of them
    val (r2, second) = jobSites(Cypher.execute(spark, r1.graph, pathLen(0, 4)))
    assert(r2.graph eq g0)
    assert(memoJobs(second).isEmpty, memoJobs(second))
    assert(lens(r2) == Seq(4L))
  }

  test("version lifetime: a write's version does not inherit the memos") {
    val g0 = pathGraph()
    val r1 = Cypher.execute(spark, g0, pathLen(0, 7))
    assert(r1.graph eq g0)
    assert(lens(r1).isEmpty) // two components: no path
    val w = Cypher.execute(spark, r1.graph,
      "MATCH (a:P {pid: 4}), (b:P {pid: 5}) CREATE (a)-[:KNOWS]->(b)")
    assert(!(w.graph eq g0))
    assert(lens(Cypher.execute(spark, w.graph, pathLen(0, 7))) == Seq(7L))
    // the memoized parent still answers from its own edges
    assert(lens(Cypher.execute(spark, g0, pathLen(0, 7))).isEmpty)
  }

  /** KNOWS edges with a category `k`, a positive cost `c` and a weight `w`
    * that is negative on the one `x` edge: 0→1, 1→2, 0→3 (b), 3→2,
    * 2→4 (b), 1→4 (x, c 5, w -1) and 4→5. Node 5 is the one with
    * age < 20. */
  private def stepGraph(): GraphState = {
    import spark.implicits._
    val nodes = Seq((0L, 30L), (1L, 50L), (2L, 20L), (3L, 40L), (4L, 60L),
        (5L, 10L))
      .map { case (i, age) => (i, i, age) }
      .toDF("_id", "pid", "age")
      .withColumn("_labels", array(lit("P")))
    val edges = Seq(
        (0L, 1L, "a", 1L, 1L), (1L, 2L, "a", 1L, 1L), (0L, 3L, "b", 1L, 1L),
        (3L, 2L, "a", 1L, 1L), (2L, 4L, "b", 2L, 2L), (1L, 4L, "x", 5L, -1L),
        (4L, 5L, "a", 1L, 1L))
      .zipWithIndex
      .map { case ((s, d, k, c, w), i) => (100L + i, s, d, k, c, w, "KNOWS") }
      .toDF("_id", "_src", "_dst", "k", "c", "w", "_type")
    GraphState(Map("P" -> (() => nodes)), Map("KNOWS" -> (() => edges)))
  }

  /** (target pid, value) rows of a search from pid 0 on [[stepGraph]],
    * sorted; the value is rendered as a string. */
  private def fromZero(hop: String, value: String): Seq[(Long, String)] =
    Cypher.run(spark, stepGraph(),
      s"MATCH p = (a:P {pid: 0})-[$hop]->(b:P) RETURN b.pid AS t, $value AS v",
      Map.empty)
      .collect().map(r => (r.getLong(0), String.valueOf(r.get(1))))
      .toSeq.sorted

  private val onlyEdge = "(r, n | r.k <> 'b')"
  private val readsNode = "(r, n | n.age >= 20)"

  test("2-var filter lambdas on *1..3, *BFS, *WSHORTEST and weighted " +
    "*ALLSHORTEST, reading the edge or the target node") {
    def ones(ts: Long*) = ts.map(t => (t, "1")).sorted
    assert(fromZero(s":KNOWS *1..3 $onlyEdge", "1") == ones(1, 2, 4, 5))
    assert(fromZero(s":KNOWS *1..3 $readsNode", "1") ==
      ones(1, 2, 2, 3, 4, 4, 4))
    assert(fromZero(s":KNOWS *BFS $onlyEdge", "size(p)") ==
      Seq((1L, "1"), (2L, "2"), (4L, "2"), (5L, "3")))
    assert(fromZero(s":KNOWS *BFS $readsNode", "size(p)") ==
      Seq((1L, "1"), (2L, "2"), (3L, "1"), (4L, "2")))
    assert(fromZero(s":KNOWS *WSHORTEST (e, v | e.c) tw $onlyEdge", "tw") ==
      Seq((1L, "1.0"), (2L, "2.0"), (4L, "6.0"), (5L, "7.0")))
    assert(fromZero(s":KNOWS *WSHORTEST (e, v | e.c) tw $readsNode", "tw") ==
      Seq((1L, "1.0"), (2L, "2.0"), (3L, "1.0"), (4L, "4.0")))
    assert(fromZero(s":KNOWS *ALLSHORTEST (e, v | e.c) tw $onlyEdge", "tw") ==
      Seq((1L, "1.0"), (2L, "2.0"), (4L, "6.0"), (5L, "7.0")))
    // to 2 and to 4 two paths tie: 0→1→2 / 0→3→2 and on over 2→4
    assert(fromZero(s":KNOWS *ALLSHORTEST (e, v | e.c) tw $readsNode", "tw") ==
      Seq((1L, "1.0"), (2L, "2.0"), (2L, "2.0"), (3L, "1.0"), (4L, "4.0"),
        (4L, "4.0")))
  }

  test("a property map and a filter lambda on the same hop both apply") {
    // k = 'a' keeps 0→1, 1→2, 3→2 and 4→5; the lambda drops 4→5
    val both = s"{k: 'a'} $readsNode"
    assert(fromZero(s":KNOWS *1..3 $both", "1") == Seq((1L, "1"), (2L, "1")))
    assert(fromZero(s":KNOWS *BFS $both", "size(p)") ==
      Seq((1L, "1"), (2L, "2")))
    assert(fromZero(s":KNOWS *WSHORTEST {k: 'a'} (e, v | e.c) tw $readsNode",
      "tw") == Seq((1L, "1.0"), (2L, "2.0")))
  }

  test("*WSHORTEST raises on a negative weight only when its filter " +
    "keeps that edge") {
    assert(fromZero(":KNOWS *WSHORTEST (e, v | e.w) tw (r, n | r.k <> 'x')",
      "tw") == Seq((1L, "1.0"), (2L, "2.0"), (3L, "1.0"), (4L, "4.0"),
        (5L, "5.0")))
    val err = intercept[Exception](
      fromZero(s":KNOWS *WSHORTEST (e, v | e.w) tw $onlyEdge", "tw"))
    val msgs = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
    assert(msgs.exists(_.contains("negative or non-numeric weight")), err)
  }

  test("a filter lambda captures an outer variable with one value, and " +
    "raises on two") {
    def targets(head: String) =
      Cypher.run(spark, stepGraph(),
        s"""$head
           |MATCH (a:P {pid: 0})-[:KNOWS *BFS (r, n | r.k = kk)]->(b:P)
           |RETURN b.pid AS t""".stripMargin, Map.empty)
        .collect().map(_.getLong(0)).toSeq.sorted
    assert(targets("WITH 'a' AS kk") == Seq(1L, 2L))
    val err = intercept[UnsupportedOperationException](
      targets("UNWIND ['a', 'b'] AS kk"))
    assert(err.getMessage.contains("more than one distinct binding"), err)
  }
}
