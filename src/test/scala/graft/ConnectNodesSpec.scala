package graft

import graft.core.GraphState
import graft.cypher.Cypher

/** `graph_util.connect_nodes` reads the version's edge frames, so after
  * every kind of edge write it returns exactly the edges the equivalent
  * MATCH finds between the given nodes: one row per edge instance,
  * parallel edges and self-loops included. */
class ConnectNodesSpec extends SparkTestBase {

  private def run(g: GraphState, q: String, ps: Map[String, Any] = Map.empty) =
    Cypher.execute(spark, g, q, ps)

  // V nodes k = 0..5; E edges 0→1, 1→2 twice, 2→2, 2→3, 3→4
  private lazy val base = run(
    GraphState(Map.empty, Map.empty),
    """CREATE (v0:V {k: 0}), (v1:V {k: 1}), (v2:V {k: 2}), (v3:V {k: 3}),
      |       (v4:V {k: 4}), (v5:V {k: 5}),
      |       (v0)-[:E]->(v1), (v1)-[:E]->(v2), (v1)-[:E]->(v2),
      |       (v2)-[:E]->(v2), (v2)-[:E]->(v3), (v3)-[:E]->(v4)""".stripMargin)
    .graph

  // (write kind, its statements, rows among every node but k = 4 after it)
  private val writes: Seq[(String, Seq[String], Int)] = Seq(
    ("an append",
      Seq("MATCH (a:V {k: 3}), (b:V {k: 5}) CREATE (a)-[:E]->(b), (b)-[:E]->(a)"), 7),
    ("a new-type append",
      Seq("MATCH (a:V {k: 0}), (b:V {k: 3}) CREATE (a)-[:F]->(b)"), 6),
    ("an edge DELETE",
      Seq("MATCH (:V {k: 2})-[r:E]->(:V {k: 3}) DELETE r"), 4),
    ("an edge SET",
      Seq("MATCH (:V {k: 1})-[r:E]->(:V {k: 2}) SET r.w = 9"), 5),
    ("a DETACH DELETE",
      Seq("MATCH (n:V {k: 1}) DETACH DELETE n"), 2),
    ("a delete-then-append",
      Seq("MATCH (:V {k: 0})-[r:E]->() DELETE r",
        "MATCH (a:V {k: 0}), (b:V {k: 5}) CREATE (a)-[:E]->(b)"), 5))

  writes.foreach { case (kind, statements, expected) =>
    test(s"connect_nodes after $kind returns the MATCH rows") {
      val g = statements.foldLeft(base)((g, q) => run(g, q).graph)
      val ids = Cypher.run(spark, g, "MATCH (n:V) WHERE n.k <> 4 RETURN id(n)")
        .collect().map(_.getLong(0)).toSeq
      def rows(q: String) = run(g, q, Map("ids" -> ids)).result.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted
      val connected = rows(
        """CALL graph_util.connect_nodes({nodes: $ids})
          |YIELD src, dst, rel_type RETURN src, dst, rel_type""".stripMargin)
      val matched = rows(
        """MATCH (a)-[r]->(b) WHERE id(a) IN $ids AND id(b) IN $ids
          |RETURN id(a), id(b), type(r)""".stripMargin)
      assert(matched.length == expected)
      assert(connected == matched)
    }
  }
}
