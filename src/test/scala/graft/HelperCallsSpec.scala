package graft

import graft.core.GraphState
import graft.cypher.Cypher

/** MAGE helper-module write/read procedures (create/merge/nodes/node/map
  * modules) + the gated frontier broadcast. */
class HelperCallsSpec extends SparkTestBase {

  private def empty = GraphState(Map.empty, Map.empty)

  private def run(g: GraphState, q: String) = Cypher.execute(spark, g, q)

  test("create.node / set_property / remove_labels round-trip by id") {
    val r1 = run(empty, "CALL create.node(['A', 'B'], {x: 1}) YIELD node RETURN node.x AS x")
    assert(r1.result.collect().map(_.getLong(0)).toSeq == Seq(1L))
    val id = Cypher.run(spark, r1.graph, "MATCH (n:A) RETURN id(n) AS i")
      .collect().head.getLong(0)
    val r2 = run(
      r1.graph,
      s"CALL create.set_property([$id], 'y', 'set') YIELD node RETURN node.y AS y")
    assert(r2.result.collect().map(_.getString(0)).toSeq == Seq("set"))
    val r3 = run(
      r2.graph,
      s"CALL create.remove_labels([$id], ['B']) YIELD node RETURN node")
    val labels = Cypher.run(spark, r3.graph, "MATCH (n:A) RETURN labels(n) AS l")
      .collect().head.getSeq[String](0)
    assert(labels == Seq("A"))
    // set_properties + remove_properties
    val r4 = run(
      r3.graph,
      s"CALL create.set_properties([$id], ['p', 'q'], [10, 'v']) YIELD node " +
        "RETURN node.p AS p, node.q AS q")
    val row4 = r4.result.collect().head
    assert(row4.getLong(0) == 10L && row4.getString(1) == "v")
    val r5 = run(
      r4.graph,
      s"CALL create.remove_properties([$id], ['p']) YIELD node RETURN node.p AS p")
    assert(r5.result.collect().head.isNullAt(0))
  }

  test("nodes.link chains, nodes.delete detaches") {
    val g1 = run(
      empty,
      "CALL create.nodes(['L'], [{i: 1}, {i: 2}, {i: 3}]) YIELD node RETURN node").graph
    val ids = Cypher.run(spark, g1, "MATCH (n:L) RETURN id(n) AS i ORDER BY n.i")
      .collect().map(_.getLong(0))
    val g2 = run(
      g1,
      s"CALL nodes.link([${ids.mkString(", ")}], 'NEXT') YIELD relationships RETURN relationships").graph
    val hops = Cypher.run(
      spark, g2,
      "MATCH (a:L)-[:NEXT]->(b:L) RETURN a.i AS x, b.i AS y ORDER BY x")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(hops == Seq((1L, 2L), (2L, 3L)))
    val g3 = run(g2, s"CALL nodes.delete([${ids(1)}])").graph
    assert(Cypher.run(spark, g3, "MATCH (n:L) RETURN count(*) AS c")
      .collect().head.getLong(0) == 2L)
    assert(Cypher.run(spark, g3, "MATCH (:L)-[r:NEXT]->(:L) RETURN count(r) AS c")
      .collect().head.getLong(0) == 0L)
  }

  test("node.relationship_types / relationship_exists by id") {
    val g1 = run(
      empty,
      """CREATE (a:P {k: 1})-[:KNOWS]->(b:P {k: 2}), (b)-[:LIKES]->(a)""").graph
    val aId = Cypher.run(spark, g1, "MATCH (n:P {k: 1}) RETURN id(n) AS i")
      .collect().head.getLong(0)
    val types = Cypher.run(
      spark, g1,
      s"CALL node.relationship_types([$aId], []) YIELD relationship_types RETURN relationship_types")
      .collect().head.getSeq[String](0)
    assert(types == Seq("KNOWS", "LIKES"))
    val exOut = Cypher.run(
      spark, g1,
      s"CALL node.relationship_exists([$aId], ['KNOWS>']) YIELD exists AS ex RETURN ex")
      .collect().head.getBoolean(0)
    assert(exOut)
    val exIn = Cypher.run(
      spark, g1,
      s"CALL node.relationship_exists([$aId], ['<KNOWS']) YIELD exists AS ex RETURN ex")
      .collect().head.getBoolean(0)
    assert(!exIn)
  }

  test("merge.relationship creates once then matches") {
    val g0 = run(empty, "CREATE (:M {k: 1}), (:M {k: 2})").graph
    val q =
      """MATCH (a:M {k: 1}) MATCH (b:M {k: 2})
        |CALL merge.relationship(a, 'R', {}, {created: true}, b, {matched: true})
        |YIELD rel RETURN rel.created AS c, rel.matched AS m""".stripMargin
    val r1 = run(g0, q)
    val row1 = r1.result.collect().head
    assert(row1.getBoolean(0) && row1.isNullAt(1))
    val r2 = run(r1.graph, q)
    val row2 = r2.result.collect().head
    assert(row2.getBoolean(0) && row2.getBoolean(1))
    assert(Cypher.run(spark, r2.graph, "MATCH (:M)-[r:R]->(:M) RETURN count(r) AS c")
      .collect().head.getLong(0) == 1L)
  }

  test("frontier broadcast is gated by the counted size") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(10).toDF("n")
    val under = graft.operators.Scratch.gatedBroadcast(df, 10L)
    val over = graft.operators.Scratch.gatedBroadcast(df, 200000L)
    def hasHint(d: org.apache.spark.sql.DataFrame): Boolean =
      d.queryExecution.logical.toString.contains("ResolvedHint")
    assert(hasHint(under.select(col("n"))) || under.queryExecution.analyzed
      .toString.contains("ResolvedHint"))
    assert(!over.queryExecution.analyzed.toString.contains("ResolvedHint"))
  }
}
