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

  test("every helper write agrees given constants, per-row values or a bound target") {
    val seed = run(
      empty,
      "CREATE (:M {k: 1, v: 'old'})-[:E {w: 1}]->(:M:X {k: 2, v: 'old'})").graph
    def idOf(q: String) = Cypher.run(spark, seed, q).collect().head.getLong(0)
    val m1 = idOf("MATCH (n:M {k: 1}) RETURN id(n) AS i")
    val m2 = idOf("MATCH (n:M {k: 2}) RETURN id(n) AS i")
    val e = idOf("MATCH ()-[r:E]->() RETURN id(r) AS i")
    def rows(g: GraphState, q: String) =
      Cypher.run(spark, g, q).collect().map(_.toString).sorted.toSeq
    def graphRows(g: GraphState) =
      rows(g, "MATCH (n) RETURN labels(n) AS l, properties(n) AS p") ++
        rows(g, "MATCH ()-[r]->() RETURN type(r) AS t, properties(r) AS p")
    // the arguments as literals; those at `perRow` as fields of a one-row
    // UNWIND; a one-id target (argument 0) as a variable a MATCH binds
    def agree(ret: String, call: String, perRow: Set[Int], args: String*): Unit = {
      val unwound = "UNWIND [{" +
        perRow.toSeq.sorted.map(i => s"a$i: ${args(i)}").mkString(", ") +
        s"}] AS r CALL $call(" +
        args.indices.map(i => if (perRow(i)) s"r.a$i" else args(i))
          .mkString(", ") + ")"
      val bound = args.headOption.filter(_.forall(_.isDigit)).map { id =>
        val pattern = if (call.contains("_rel_")) "()-[t]->()" else "(t)"
        s"MATCH $pattern WHERE id(t) = $id CALL $call(" +
          ("t" +: args.tail).mkString(", ") + ")"
      }
      val constant = run(seed, s"CALL $call(${args.mkString(", ")})" + ret)
      val cRows = constant.result.collect().map(_.toString).sorted.toSeq
      assert(cRows.nonEmpty, call)
      (unwound +: bound.toSeq).foreach { q =>
        val other = run(seed, q + ret)
        val oRows = other.result.collect().map(_.toString).sorted.toSeq
        assert(cRows == oRows, s"$q: $cRows vs $oRows")
        assert(graphRows(constant.graph) == graphRows(other.graph), q)
      }
    }
    val node = " YIELD node RETURN labels(node) AS l, properties(node) AS p"
    val rel = " YIELD relationship RETURN type(relationship) AS t, " +
      "properties(relationship) AS p"
    agree(node, "merge.node", Set(1, 2, 3),
      "['M']", "{k: 1}", "{v: 'created'}", "{v: 'matched'}")
    agree(node, "merge.node", Set(1, 2, 3),
      "['M']", "{k: 3}", "{v: 'created'}", "{v: 'matched'}")
    agree(node, "create.node", Set(0, 1), "['M', 'X']", "{k: 3, v: 'new'}")
    agree(node, "create.nodes", Set(0, 1),
      "['N']", "[{k: 5, v: 'a'}, {k: 6, v: 'b'}]")
    agree(node, "create.set_property", Set(0, 2), s"[$m1, $m2]", "'v'", "'new'")
    agree(node, "create.set_property", Set(0, 2), s"$m1", "'v'", "42")
    agree(node, "create.set_properties", Set(0, 2),
      s"$m1", "['p', 'q']", "[10, 20]")
    agree(node, "create.remove_properties", Set(0), s"[$m1]", "['v']")
    agree(node, "create.remove_labels", Set(0), s"$m2", "['X']")
    agree(rel, "create.set_rel_property", Set(0, 2), s"$e", "'w'", "5")
    agree(rel, "create.set_rel_properties", Set(0, 2),
      s"[$e]", "['w', 'z']", "[5, 6]")
    agree(rel, "create.remove_rel_properties", Set(0), s"$e", "['w']")
    agree(" YIELD relationships RETURN type(relationships) AS t",
      "nodes.link", Set(0), s"[$m2, $m1]", "'L'")
    agree(" RETURN 1 AS one", "nodes.delete", Set(0), s"[$m1]")
  }

  /** `CREATE (:A {k:1})-[:T]->(:B {k:2}), (:Keep {k:3})` and A's id. */
  private def abKeep(): (GraphState, Long) = {
    val g = run(empty, "CREATE (:A {k: 1})-[:T]->(:B {k: 2}), (:Keep {k: 3})").graph
    (g, Cypher.run(spark, g, "MATCH (n:A) RETURN id(n) AS i")
      .collect().head.getLong(0))
  }

  private def graphOf(g: GraphState): Seq[String] =
    Cypher.run(spark, g, "MATCH (n) RETURN labels(n) AS l, properties(n) AS p")
      .collect().map(_.toString).sorted.toSeq ++
      Cypher.run(spark, g, "MATCH (a)-[r]->(b) RETURN a.k, type(r), b.k")
        .collect().map(_.toString).toSeq

  test("a label is a name: it cannot splice a clause into the statement") {
    val (g, a) = abKeep()
    val label = "Z` DETACH DELETE n //"
    val out = run(g, s"CALL create.remove_labels([$a], ['$label']) YIELD node RETURN node")
    out.result.collect()
    assert(graphOf(out.graph) == graphOf(g))
  }

  test("a key and a label with a backtick are written and read back literally") {
    val (g, a) = abKeep()
    val g1 = run(g, s"CALL create.set_property([$a], 'we`ird', 5) YIELD node RETURN node").graph
    assert(Cypher.run(spark, g1, "MATCH (n:A) RETURN properties(n)['we`ird'] AS w")
      .collect().head.getLong(0) == 5L)
    val g2 = run(g1, "CALL create.nodes(['L`b'], [{k: 9}]) YIELD node RETURN node").graph
    assert(Cypher.run(spark, g2, "MATCH (n {k: 9}) RETURN labels(n) AS l")
      .collect().head.getSeq[String](0) == Seq("L`b"))
  }

  test("create.set_property writes a value computed from each row") {
    val g = run(empty, "UNWIND [1, 2, 3] AS k CREATE (:A {k: k})").graph
    val out = run(g, "MATCH (n:A) CALL create.set_property(n, 'x', n.k + 1) " +
      "YIELD node RETURN node.k AS k, node.x AS x, n.x AS nx")
    assert(out.result.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq == Seq((1L, 2L, 2L), (2L, 3L, 3L), (3L, 4L, 4L)))
    assert(Cypher.run(spark, out.graph, "MATCH (n:A) RETURN n.k AS k, n.x AS x")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((1L, 2L), (2L, 3L), (3L, 4L)))
  }

  test("create.relationship takes its properties from each row") {
    val g = run(empty, "CREATE (:A {k: 1}), (:A {k: 2}), (:B {k: 9})").graph
    val g1 = run(g, "MATCH (a:A), (b:B) CALL create.relationship(a, 'R', {w: a.k}, b) " +
      "YIELD relationship RETURN relationship").graph
    assert(Cypher.run(spark, g1, "MATCH (a:A)-[r:R]->(:B) RETURN a.k AS k, r.w AS w")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((1L, 1L), (2L, 2L)))
  }

  test("a constant create.set_property yields a node binding") {
    val (g, a) = abKeep()
    val p = run(g, s"CALL create.set_property([$a], 'y', 1) YIELD node " +
      "RETURN properties(node) AS p").result.collect().head.getStruct(0)
    assert(p.schema.fieldNames.filterNot(f => p.isNullAt(p.fieldIndex(f)))
      .toSet == Set("k", "y"))
  }

  test("create.nodes stores each map as the CREATE of that map does") {
    def stored(g: GraphState) = Cypher.run(spark, g,
      "MATCH (n) RETURN labels(n)[0] AS l, n.a AS a, valueType(n.a) AS t")
      .collect().map(_.toString).sorted.toSeq
    val maps = Seq(
      "Q" -> Seq("{a: 1}", "{a: 2.5}"),
      "P" -> Seq("{a: 1}", "{a: 'x'}"),
      "R" -> Seq("{a: {x: 1}}", "{a: {y: 2}}"))
    val viaHelper = maps.foldLeft(empty) { case (g, (l, ms)) =>
      val out = run(g, s"CALL create.nodes(['$l'], [${ms.mkString(", ")}]) " +
        "YIELD node RETURN node.a AS a")
      assert(out.result.collect().length == 2, l)
      out.graph
    }
    val viaCreate = maps.foldLeft(empty) { case (g, (l, ms)) =>
      run(g, "CREATE " + ms.map(m => s"(:$l $m)").mkString(", ")).graph
    }
    assert(stored(viaHelper) == stored(viaCreate))
    // the string keeps its type beside the integer; each nested map keeps
    // its own field
    assert(stored(viaHelper).filter(r => r.startsWith("[P") || r.startsWith("[R")) ==
      Seq("[P,\"x\",variant]", "[P,1,variant]",
        "[R,{\"x\":1},variant]", "[R,{\"y\":2},variant]"), stored(viaHelper))
  }

  test("nodes.link raises on fewer than two nodes, constant or per row") {
    val (g, a) = abKeep()
    Seq(s"CALL nodes.link([$a], 'L')",
      s"UNWIND [[$a]] AS ids CALL nodes.link(ids, 'L')").foreach { q =>
      val e = intercept[Exception](
        run(g, q + " YIELD relationships RETURN relationships").result.collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("need at least two nodes")), q)
    }
  }

  test("graph.dump statements replay to the same graph") {
    // names that are no plain identifiers, strings with a backslash and a
    // quote; the edge is a self-loop, so its MATCH finds the replayed node
    val g = run(empty,
      """CREATE (a:`My Label` {`the key`: 'a\\', k: 1}),
        |  (a)-[:`RE L` {`w w`: 'it\'s', `b``t`: 2}]->(a)""".stripMargin).graph
    val stmts = Cypher.run(spark, g,
      "CALL graph.dump({label: 'My Label', type: 'RE L'}) YIELD stmt " +
        "RETURN stmt ORDER BY stmt").collect().map(_.getString(0))
    assert(stmts.length == 2 && stmts.head.startsWith("CREATE"), stmts.toSeq)
    val replayed = stmts.foldLeft(empty)((cur, q) => run(cur, q).graph)
    def props(p: org.apache.spark.sql.Row) = p.schema.fieldNames.sorted
      .map(f => s"$f=${p.get(p.fieldIndex(f))}").mkString(", ")
    def rows(x: GraphState) = Seq(
      "MATCH (n) RETURN labels(n) AS l, properties(n) AS p",
      "MATCH (a)-[r]->(b) RETURN type(r) AS t, properties(r) AS p")
      .flatMap(q => Cypher.run(spark, x, q).collect()
        .map(r => s"${r.get(0)} {${props(r.getStruct(1))}}"))
    assert(rows(replayed) == rows(g))
    assert(rows(g).exists(_.contains("a\\")) && rows(g).exists(_.contains("it's")))
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
