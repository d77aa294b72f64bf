package graft.queries

import org.apache.spark.sql.SparkSession

import graft.core.GraphState
import graft.cypher.Cypher
import graft.sources.TpchGraphLoader

/** The MAGE module-name surface ([[graft.procedures.MageAliases]]):
  * `pagerank.get`-style names with the reference's YIELD columns, plus the
  * two newly-covered modules `distance_calculator` and `knn`. Gates run
  * either on self-contained CREATE'd graphs (closed-form answers) or on
  * the tpch-derived graph with an exact DuckDB oracle.
  */
object MageSurfaceQueries {

  private def empty = GraphState(Map.empty, Map.empty)

  private val EmbBase = TpchGraphLoader.nodeId("Embedding", 0L)

  /** Two directed triangles {0,1,2} and {3,4,5} joined by nothing, plus a
    * 6→7→8 path — components, degrees, and bridges all closed-form. */
  private def knGraph(s: SparkSession) =
    Cypher.execute(
      s, empty,
      """CREATE (a:KnV {k: 0}), (b:KnV {k: 1}), (c:KnV {k: 2}),
        |       (d:KnV {k: 3}), (e:KnV {k: 4}), (f:KnV {k: 5}),
        |       (g:KnV {k: 6}), (h:KnV {k: 7}), (i:KnV {k: 8}),
        |       (a)-[:KnE]->(b), (b)-[:KnE]->(c), (c)-[:KnE]->(a),
        |       (d)-[:KnE]->(e), (e)-[:KnE]->(f), (f)-[:KnE]->(d),
        |       (g)-[:KnE]->(h), (h)-[:KnE]->(i)""".stripMargin).graph

  val defs: Seq[QueryDef] = Seq(

    // weakly_connected_components.get — reference yield (node,
    // component_id), connectivity_module. Three components: two
    // triangles and the path.
    QueryDef(
      "call_mage_wcc",
      (s, dir) => Cypher.run(
        s, knGraph(s),
        """CALL weakly_connected_components.get({label: 'KnV', type: 'KnE'})
          |YIELD node, component_id
          |WITH component_id, count(*) AS sz
          |RETURN sz, count(*) AS n_comp ORDER BY sz""".stripMargin),
      Some("""SELECT CAST(sz AS BIGINT) AS sz, CAST(n AS BIGINT) AS n_comp
             |FROM (VALUES (3, 3)) v(sz, n) ORDER BY sz""".stripMargin)),

    // degree_centrality.get — (node, degree), undirected default =
    // in + out (degree_centrality_module).
    QueryDef(
      "call_mage_degree",
      (s, dir) => Cypher.run(
        s, knGraph(s),
        """CALL degree_centrality.get({label: 'KnV', type: 'KnE'})
          |YIELD node, degree
          |MATCH (v:KnV) WHERE id(v) = node
          |RETURN v.k AS k, degree ORDER BY k""".stripMargin),
      Some("""SELECT CAST(k AS BIGINT) AS k, CAST(d AS DOUBLE) AS degree
             |FROM (VALUES (0, 2), (1, 2), (2, 2), (3, 2), (4, 2), (5, 2),
             |             (6, 1), (7, 2), (8, 1)) v(k, d)
             |ORDER BY k""".stripMargin)),

    // bridges.get — (node_from, node_to); only the path edges are bridges
    QueryDef(
      "call_mage_bridges",
      (s, dir) => Cypher.run(
        s, knGraph(s),
        """CALL bridges.get({type: 'KnE'}) YIELD node_from, node_to
          |MATCH (a:KnV), (b:KnV)
          |WHERE id(a) = node_from AND id(b) = node_to
          |RETURN a.k AS x, b.k AS y ORDER BY x""".stripMargin),
      Some("""SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y
             |FROM (VALUES (6, 7), (7, 8)) v(x, y) ORDER BY x""".stripMargin)),

    // community_detection.get — (node, community_id), Louvain; the two
    // triangles each converge to one 3-community; the 2-edge path splits
    // deterministically into a pair + a singleton (the smallest-id
    // tie-break of the deterministic variant)
    QueryDef(
      "call_mage_community",
      (s, dir) => Cypher.run(
        s, knGraph(s),
        """CALL community_detection.get({label: 'KnV', type: 'KnE'})
          |YIELD node, community_id
          |WITH community_id, count(*) AS sz
          |RETURN sz, count(*) AS n ORDER BY sz""".stripMargin),
      Some("""SELECT CAST(sz AS BIGINT) AS sz, CAST(n AS BIGINT) AS n
             |FROM (VALUES (1, 1), (2, 1), (3, 2)) v(sz, n)
             |ORDER BY sz""".stripMargin)),

    // node_similarity.overlap / cosine — |∩|/min and |∩|/√(d1·d2) over
    // out-neighbor sets (node_similarity_module). 0→{2,3}, 1→{2,3,4}:
    // common 2, overlap 2/2 = 1, cosine 2/√6
    QueryDef(
      "call_mage_overlap",
      (s, dir) => Cypher.run(
        s,
        Cypher.execute(
          s, empty,
          """CREATE (a:SimV {k: 0}), (b:SimV {k: 1}), (c:SimV {k: 2}),
            |       (d:SimV {k: 3}), (e:SimV {k: 4}),
            |       (a)-[:SimE]->(c), (a)-[:SimE]->(d),
            |       (b)-[:SimE]->(c), (b)-[:SimE]->(d), (b)-[:SimE]->(e)
            |""".stripMargin).graph,
        """CALL node_similarity.overlap({label: 'SimV', type: 'SimE'})
          |YIELD node1, node2, similarity
          |WITH similarity AS ov
          |CALL node_similarity.cosine({label: 'SimV', type: 'SimE'})
          |YIELD similarity
          |RETURN ov, round(similarity, 6) AS cos""".stripMargin),
      Some("SELECT CAST(1.0 AS DOUBLE) AS ov, " +
        "round(2.0 / sqrt(6.0), 6) AS cos")),

    // distance_calculator.single — haversine over lat/lng node properties
    // (distance_calculator.cpp:38-62); oracle recomputes the formula in
    // DuckDB (R = 6371000, half-angle form, rounded to `decimals`)
    QueryDef(
      "call_distance_single",
      (s, dir) => Cypher.run(
        s,
        Cypher.execute(
          s, empty,
          """CREATE (:Place {name: 'zagreb', lat: 45.8150, lng: 15.9819}),
            |       (:Place {name: 'split', lat: 43.5081, lng: 16.4402})
            |""".stripMargin).graph,
        """MATCH (a:Place {name: 'zagreb'}), (b:Place {name: 'split'})
          |CALL distance_calculator.single(a, b, 'km', 3) YIELD distance
          |RETURN distance""".stripMargin),
      Some("""WITH p AS (SELECT 45.8150 AS lat1, 15.9819 AS lng1,
             |                  43.5081 AS lat2, 16.4402 AS lng2,
             |                  pi() / 180.0 AS rad)
             |SELECT round(
             |  6371000.0 * 2 * atan2(
             |    sqrt(pow(sin((lat2 - lat1) * rad / 2), 2) +
             |         cos(lat1 * rad) * cos(lat2 * rad) *
             |         pow(sin((lng2 - lng1) * rad / 2), 2)),
             |    sqrt(1 - (pow(sin((lat2 - lat1) * rad / 2), 2) +
             |              cos(lat1 * rad) * cos(lat2 * rad) *
             |              pow(sin((lng2 - lng1) * rad / 2), 2)))) * 0.001,
             |  3) AS distance
             |FROM p""".stripMargin)),

    // distance_calculator.multiple — list-pairwise form, metres default
    QueryDef(
      "call_distance_multiple",
      (s, dir) => Cypher.run(
        s,
        Cypher.execute(
          s, empty,
          """CREATE (:Pt {k: 0, lat: 0.0, lng: 0.0}),
            |       (:Pt {k: 1, lat: 0.0, lng: 1.0}),
            |       (:Pt {k: 2, lat: 1.0, lng: 0.0})""".stripMargin).graph,
        """MATCH (a:Pt {k: 0}), (b:Pt {k: 1}), (c:Pt {k: 2})
          |CALL distance_calculator.multiple([a, a], [b, c], 'm', 0)
          |YIELD distances
          |RETURN distances[0] AS d1, distances[1] AS d2""".stripMargin),
      // one degree of arc = R * pi/180 ≈ 111194813 mm; equal along a
      // meridian and along the equator from (0,0)
      Some("""WITH p AS (SELECT 6371000.0 * 2 *
             |  atan2(sqrt(pow(sin(pi() / 360.0), 2)),
             |        sqrt(1 - pow(sin(pi() / 360.0), 2))) AS d)
             |SELECT round(d, 0) AS d1, round(d, 0) AS d2 FROM p""".stripMargin)),

    // knn.get — cosine top-2 over the Embedding nodes' vector property
    // (knn_module.cpp:21-46). Exact path at gate scale (below the
    // 1024-vector exact gate); the sign-code bucket path takes over above
    // it (knn_graph's measured-recall scheme). similarityCutoff 0 drops
    // negative-cosine candidates in BOTH engines.
    QueryDef(
      "call_knn_get",
      (s, dir) => Cypher.run(
        s, TpchGraphLoader(s, dir),
        s"""CALL knn.get({nodeProperties: 'embedding', topK: 2})
           |YIELD node, neighbour, similarity
           |RETURN node - $EmbBase AS q, neighbour - $EmbBase AS c,
           |       round(similarity, 6) AS sim
           |ORDER BY q, c""".stripMargin),
      Some("""WITH n AS MATERIALIZED (
             |  SELECT vec_id, embedding::DOUBLE[] AS v,
             |         sqrt(list_sum(list_transform(embedding::DOUBLE[],
             |                                      x -> x*x))) AS nrm
             |  FROM embeddings)
             |SELECT q, c, round(s, 6) AS sim FROM (
             |  SELECT q, c, s FROM (
             |    SELECT a.vec_id AS q, b.vec_id AS c,
             |           list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS s
             |    FROM n a JOIN n b ON b.vec_id <> a.vec_id)
             |  WHERE s >= 0
             |  QUALIFY row_number() OVER (PARTITION BY q
             |                             ORDER BY s DESC, c) <= 2)
             |ORDER BY q, c""".stripMargin)),

    // knn.get on a corpus in the BUCKETED range: the knn.get exact gate
    // moved 8192 -> 1024 (r16), silently switching 1k-8k corpora
    // from exact pairwise top-k to the sign-code approximate path. This
    // gate pins that path's recall@2 against the in-engine exact answer
    // on a 1,500-vector corpus (3 deterministically-perturbed copies of
    // the embeddings table), so a recall regression in the bucketing
    // breaks a hash-checked gate instead of shipping silently. The
    // oracle pins the measured constant (the whole pipeline is
    // deterministic for a fixed dir).
    QueryDef(
      "call_knn_recall",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        // vec_id < 500 pins the SAME 1,500-vector corpus at every scale
        // factor (sf0.01 has exactly ids 0..499, so this is a no-op
        // there and the measured 0.976 constant holds everywhere): the
        // gate measures bucketing recall, and its exact baseline is a
        // deliberate O(n²) crossJoin that must not grow with sf (253 s
        // at sf0.1 unpinned)
        val base = TpchGraphLoader.table(s, dir, "embeddings")
          .filter(col("vec_id") < 500)
          .select(
            col("vec_id").cast("long").as("vec_id"),
            col("embedding").cast("array<double>").as("embedding"))
        val corpus = (0 until 3)
          .map { k =>
            base.select(
              (col("vec_id") + lit(k * 500000L)).as("vec_id"),
              transform(
                col("embedding"),
                (x, i) => x + lit(k * 0.001) * cos(i + lit(k)))
                .as("embedding"))
          }
          .reduce(_ unionByName _)
        val g = graft.core.GraphState(
          Map("Embedding" -> (() =>
            corpus.select(
              TpchGraphLoader.nodeId("Embedding", col("vec_id"))
                .as(graft.core.GraphState.IdCol),
              array(lit("Embedding"))
                .as(graft.core.GraphState.LabelsCol),
              col("vec_id"),
              col("embedding")))),
          Map.empty)
        val approx = Cypher.run(
          s, g,
          """CALL knn.get({nodeProperties: 'embedding', topK: 2})
            |YIELD node, neighbour RETURN node AS q, neighbour AS c"""
            .stripMargin)
        val n = corpus
          .select(
            TpchGraphLoader.nodeId("Embedding", col("vec_id")).as("id"),
            col("embedding").as("v"))
          .withColumn("nrm", graft.llm.LlmOps.l2norm(col("v")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q").orderBy(col("sim").desc, col("c"))
        // spread the O(n²) pair compute across the cluster: the 1,500-row
        // corpus arrives in ~3 scan partitions, so the 2.25M dot products
        // otherwise run on 3 cores while the rest idle. Per-pair values
        // (and thus ranks) are unchanged — only placement moves.
        val exact = n
          .repartition(s.sparkContext.defaultParallelism).as("a")
          .crossJoin(n.select(
            col("id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm")))
          .filter(col("id") =!= col("cid"))
          .select(
            col("id").as("q"), col("cid").as("c"),
            (graft.llm.LlmOps.dot(col("v"), col("cv")) /
              (col("nrm") * col("cnrm"))).as("sim"))
          .filter(col("sim") >= 0)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select(col("q"), col("c"))
        // hit and tot in ONE action so the O(n²) exact pipeline runs once
        val row = exact
          .join(
            approx.withColumn("__hit", lit(1)),
            Seq("q", "c"),
            "left_outer")
          .agg(
            count(lit(1)).as("tot"),
            sum(coalesce(col("__hit"), lit(0))).as("hit"))
          .head()
        s.range(1).select(
          round(
            lit(row.getLong(1).toDouble / row.getLong(0)), 4).as("recall"))
      },
      // measured constant for the derived 1,500-vector corpus; see gate
      // comment (regression tripwire, re-measure only on an intentional
      // bucketing change)
      Some("SELECT 0.976 AS recall")),

    // node2vec.get_embeddings — (node, embedding): shape + unit-norm
    // invariants (bucket hashes aren't portable to SQL; the walk layer
    // itself is oracle-checked via algo.node2vec's gate)
    QueryDef(
      "call_n2v_embeddings",
      (s, dir) => Cypher.run(
        s, knGraph(s),
        """CALL node2vec.get_embeddings({label: 'KnV', type: 'KnE',
          |                              vector_size: 16, length: 3,
          |                              seedMax: 1000000})
          |YIELD node, embedding
          |WITH size(embedding) AS d,
          |     reduce(acc = 0.0, x IN embedding | acc + x * x) AS n2
          |RETURN count(*) AS n, min(d) AS dlo, max(d) AS dhi,
          |       max(abs(n2 - 1.0)) < 1e-9 AS unit""".stripMargin),
      Some("SELECT CAST(9 AS BIGINT) AS n, CAST(16 AS BIGINT) AS dlo, " +
        "CAST(16 AS BIGINT) AS dhi, true AS unit")),

    // max_flow.get_paths — every augmenting path of the capacity-scaling
    // run with the flow it pushed (max_flow.py:41-66). Path enumeration
    // order follows DFS edge order, so the gate pins order-free
    // invariants: total pushed flow = max flow, every path source→sink.
    QueryDef(
      "call_maxflow_paths",
      (s, dir) => {
        val g = Cypher.execute(
          s, empty,
          """CREATE (s:FlV {k: 0}), (a:FlV {k: 1}), (b:FlV {k: 2}),
            |       (t:FlV {k: 3}),
            |       (s)-[:FlE {weight: 3.0}]->(a),
            |       (s)-[:FlE {weight: 2.0}]->(b),
            |       (a)-[:FlE {weight: 1.0}]->(b),
            |       (a)-[:FlE {weight: 2.0}]->(t),
            |       (b)-[:FlE {weight: 3.0}]->(t)""".stripMargin).graph
        Cypher.run(
          s, g,
          """MATCH (src:FlV {k: 0}), (snk:FlV {k: 3})
            |CALL max_flow.get_paths(src, snk, 'weight')
            |YIELD path, flow
            |WITH src, snk, path, flow
            |RETURN round(sum(flow), 6) AS total,
            |       count(*) >= 2 AS multi,
            |       min(CASE WHEN path[0] = id(src) THEN 1 ELSE 0 END) = 1
            |         AS from_src,
            |       min(CASE WHEN path[size(path) - 1] = id(snk)
            |                THEN 1 ELSE 0 END) = 1 AS to_sink""".stripMargin)
      },
      // min cut = the source side (3 + 2) = the sink side (2 + 3) = 5
      Some("SELECT CAST(5.0 AS DOUBLE) AS total, true AS multi, " +
        "true AS from_src, true AS to_sink")),

    // kmeans.set_clusters — the write form: the Lloyd's assignment lands
    // as a node property, visible to the rest of the statement
    QueryDef(
      "call_kmeans_set",
      (s, dir) => Cypher.run(
        s, TpchGraphLoader(s, dir),
        """CALL kmeans.set_clusters(4, 'embedding', 'km_cid')
          |YIELD node, cluster_id
          |WITH count(*) AS set_n
          |MATCH (e:Embedding) WHERE e.km_cid IS NOT NULL
          |RETURN set_n, count(*) AS n_set""".stripMargin),
      Some("""SELECT count(*) AS set_n, count(*) AS n_set
             |FROM embeddings""".stripMargin)),

    // text module functions (text_module/algorithm/text.cpp): replace
    // (literal find loop), regreplace (std::regex_replace), distance
    // (Levenshtein), indexOf (bounded substring search), compare_cleaned
    // (ASCII-alnum lowercase normalization)
    QueryDef(
      "fn_text_tail",
      (s, dir) => Cypher.run(
        s, empty,
        """RETURN text.replace('hello world', 'l', 'L') AS rep,
          |       text.regreplace('a1b22c333', '[0-9]+', '#') AS rre,
          |       text.distance('kitten', 'sitting') AS dist,
          |       text.indexOf('abcabc', 'bc', 2) AS idx,
          |       text.indexOf('abc', 'z') AS miss,
          |       text.compare_cleaned('Hello, World!', 'helloworld') AS eq,
          |       text.compare_cleaned('a-1', 'a2') AS ne""".stripMargin),
      Some("""SELECT 'heLLo worLd' AS rep, 'a#b#c#' AS rre,
             |       CAST(3 AS BIGINT) AS dist, CAST(4 AS BIGINT) AS idx,
             |       CAST(-1 AS BIGINT) AS miss, true AS eq,
             |       false AS ne""".stripMargin)),

    // node.degree_in / node.degree_out with and without a type filter
    // (node_module.cpp:192): 0→1 X, 0→2 Y, 1→0 X
    QueryDef(
      "fn_node_degree_dir",
      (s, dir) => Cypher.run(
        s,
        Cypher.execute(
          s, empty,
          """CREATE (a:DgV {k: 0}), (b:DgV {k: 1}), (c:DgV {k: 2}),
            |       (a)-[:X]->(b), (a)-[:Y]->(c), (b)-[:X]->(a)
            |""".stripMargin).graph,
        """MATCH (n:DgV)
          |RETURN n.k AS k,
          |       node.degree_out(n) AS dout,
          |       node.degree_in(n) AS din,
          |       node.degree_out(n, 'X') AS dout_x,
          |       node.degree_in(n, 'Y') AS din_y
          |ORDER BY k""".stripMargin),
      Some("""SELECT CAST(k AS BIGINT) AS k, CAST(o AS BIGINT) AS dout,
             |       CAST(i AS BIGINT) AS din, CAST(ox AS BIGINT) AS dout_x,
             |       CAST(iy AS BIGINT) AS din_y
             |FROM (VALUES (0, 2, 1, 1, 0), (1, 1, 1, 1, 0),
             |             (2, 0, 1, 0, 1)) v(k, o, i, ox, iy)
             |ORDER BY k""".stripMargin)),

    // node.relationships_exist / nodes.relationships_exist — per-spec
    // existence maps with <T / T> direction prefixes (node_module.cpp:97,
    // nodes_module.cpp:41)
    QueryDef(
      "call_rels_exist",
      (s, dir) => Cypher.run(
        s,
        Cypher.execute(
          s, empty,
          """CREATE (a:ReV {k: 0}), (b:ReV {k: 1}),
            |       (a)-[:R]->(b)""".stripMargin).graph,
        """MATCH (a:ReV {k: 0})
          |CALL node.relationships_exist(a, ['R>', '<R', 'Q']) YIELD result
          |RETURN result['R>'] AS has_out, result['<R'] AS has_in,
          |       result['Q'] AS has_q""".stripMargin),
      Some("SELECT true AS has_out, false AS has_in, false AS has_q")),
    QueryDef(
      "call_nodes_rels_exist",
      (s, dir) => {
        val g = Cypher.execute(
          s, empty,
          """CREATE (a:RsV {k: 0}), (b:RsV {k: 1}),
            |       (a)-[:R]->(b)""".stripMargin).graph
        val ids = Cypher.run(s, g, "MATCH (n:RsV) RETURN id(n) AS i ORDER BY i")
          .collect().map(_.getLong(0))
        Cypher.run(
          s, g,
          s"""CALL nodes.relationships_exist([${ids.mkString(", ")}], ['R'])
             |YIELD result
             |RETURN result.status['R'] AS has_r ORDER BY has_r""".stripMargin)
      },
      Some("SELECT has_r FROM (VALUES (true), (true)) v(has_r) " +
        "ORDER BY has_r")),

    // create.set_rel_properties / create.remove_rel_properties — the
    // plural relationship write forms (create_module)
    QueryDef(
      "call_rel_props_bulk",
      (s, dir) => {
        val g0 = Cypher.execute(
          s, empty,
          """CREATE (a:RpV {k: 0}), (b:RpV {k: 1}),
            |       (a)-[:R {w: 1}]->(b)""".stripMargin).graph
        val rid = Cypher.run(
          s, g0, "MATCH ()-[r:R]->() RETURN id(r) AS i")
          .collect()(0).getLong(0)
        val g1 = Cypher.execute(
          s, g0,
          s"CALL create.set_rel_properties([$rid], ['p1', 'p2'], [10, 'x']) " +
            "YIELD relationship RETURN relationship").graph
        val g2 = Cypher.execute(
          s, g1,
          s"CALL create.remove_rel_properties([$rid], ['w']) " +
            "YIELD relationship RETURN relationship").graph
        Cypher.run(
          s, g2,
          """MATCH ()-[r:R]->()
            |RETURN r.p1 AS p1, r.p2 AS p2, r.w IS NULL AS w_gone
            |""".stripMargin)
      },
      Some("SELECT CAST(10 AS BIGINT) AS p1, 'x' AS p2, true AS w_gone")),

    // ANALYZE GRAPH over a composite label+property index: per-prefix
    // (count, groups, avg group size, chi², avg degree) rows
    // (interpreter.cpp:4413); DELETE STATISTICS clears the stamps
    QueryDef(
      "cy_analyze_graph",
      (s, dir) => {
        var g = Cypher.execute(
          s, empty, "CREATE INDEX ON :AgV(a, b)").graph
        g = Cypher.execute(
          s, g,
          """CREATE (:AgV {a: 1, b: 1}), (:AgV {a: 1, b: 2}),
            |       (:AgV {a: 2, b: 1}), (:AgV {a: 2})""".stripMargin).graph
        val res = Cypher.execute(s, g, "ANALYZE GRAPH;")
        val stats = res.result
        val cleared = Cypher.execute(
          s, res.graph, "ANALYZE GRAPH DELETE STATISTICS;")
        import org.apache.spark.sql.functions._
        stats
          .select(
            col("label"),
            concat_ws(",", col("property")).as("prop"),
            col("num estimation nodes").as("n"),
            col("num groups").as("groups"),
            round(col("avg group size"), 6).as("avg_sz"),
            round(col("chi-squared value"), 6).as("chi"))
          .crossJoin(
            cleared.result.agg(count(lit(1)).as("n_deleted")))
      },
      // prefix [a]: 4 counted (a never null), groups {1: 2, 2: 2} →
      // avg 2.0, chi 0; prefix [a, b]: 4 counted (not all-null), tuples
      // (1,1) (1,2) (2,1) (2,null) all distinct → 4 groups, avg 1.0,
      // chi 0. DELETE STATISTICS reports the one stamped index.
      Some("""SELECT label, prop, CAST(n AS BIGINT) AS n,
             |       CAST(groups AS BIGINT) AS groups,
             |       CAST(avg_sz AS DOUBLE) AS avg_sz,
             |       CAST(chi AS DOUBLE) AS chi,
             |       CAST(1 AS BIGINT) AS n_deleted
             |FROM (VALUES ('AgV', 'a', 4, 2, 2.0, 0.0),
             |             ('AgV', 'a,b', 4, 4, 1.0, 0.0))
             |  v(label, prop, n, groups, avg_sz, chi)""".stripMargin)),

    // meta.update / meta.reset — the reference's online stat-cache
    // maintenance hooks; stats here recompute per call, so the contract
    // is arity + zero rows, then a live stats read
    QueryDef(
      "call_meta_update_reset",
      (s, dir) => {
        var g = Cypher.execute(s, empty, "CREATE (:MuV), (:MuV)").graph
        g = Cypher.execute(
          s, g, "CALL meta.update([], [], [], [], [], [])").graph
        g = Cypher.execute(s, g, "CALL meta.reset()").graph
        Cypher.run(
          s, g, "CALL meta.stats() YIELD nodeCount RETURN nodeCount")
      },
      Some("SELECT CAST(2 AS BIGINT) AS nodeCount")),

    // refactor.from / refactor.to — endpoint redirect re-creates the
    // relationship (new id, same type + properties, refactor.cpp:38/60)
    QueryDef(
      "call_refactor_redirect",
      (s, dir) => {
        val g0 = Cypher.execute(
          s, empty,
          """CREATE (a:RfV {k: 0}), (b:RfV {k: 1}), (c:RfV {k: 2}),
            |       (a)-[:R {w: 7}]->(b)""".stripMargin).graph
        def ids(g: graft.core.GraphState) = Cypher.run(
          s, g,
          """MATCH (x:RfV)-[r:R]->() WITH r LIMIT 1
            |MATCH (c:RfV {k: 2}) RETURN id(r) AS r, id(c) AS c""".stripMargin)
          .collect()(0)
        val i0 = ids(g0)
        val g1 = Cypher.execute(
          s, g0,
          s"CALL refactor.from(${i0.getLong(0)}, ${i0.getLong(1)}) " +
            "YIELD relationship RETURN relationship").graph
        val i1 = ids(g1)
        val g2 = Cypher.execute(
          s, g1,
          s"CALL refactor.to(${i1.getLong(0)}, ${i1.getLong(1)}) " +
            "YIELD relationship RETURN relationship").graph
        Cypher.run(
          s, g2,
          """MATCH (x)-[r:R]->(y)
            |RETURN x.k AS src_k, y.k AS dst_k, r.w AS w,
            |       count(*) AS n""".stripMargin)
      },
      Some("SELECT CAST(2 AS BIGINT) AS src_k, CAST(2 AS BIGINT) AS dst_k," +
        " CAST(7 AS BIGINT) AS w, CAST(1 AS BIGINT) AS n")),

    // refactor.clone_nodes — labels + properties copied (minus
    // skipProperties), withRelationships clones the TOPOLOGY only
    // (refactor.cpp:397: CreateRelationship without property copy)
    QueryDef(
      "call_refactor_clone",
      (s, dir) => {
        val g0 = Cypher.execute(
          s, empty,
          """CREATE (a:ClV {k: 0, secret: 'x'}), (b:ClV {k: 1}),
            |       (a)-[:R {w: 1}]->(b)""".stripMargin).graph
        val aId = Cypher.run(s, g0, "MATCH (a:ClV {k: 0}) RETURN id(a) AS i")
          .collect()(0).getLong(0)
        val g1 = Cypher.execute(
          s, g0,
          s"CALL refactor.clone_nodes([$aId], true, ['secret']) " +
            "YIELD input, output, error RETURN input, output, error").graph
        Cypher.run(
          s, g1,
          """MATCH (n:ClV {k: 0})
            |WITH count(*) AS n_clones,
            |     sum(CASE WHEN n.secret IS NULL THEN 1 ELSE 0 END)
            |       AS n_no_secret
            |MATCH (:ClV {k: 0})-[r:R]->(:ClV {k: 1})
            |RETURN n_clones, n_no_secret, count(*) AS n_edges,
            |       sum(CASE WHEN r.w IS NULL THEN 1 ELSE 0 END)
            |         AS n_bare""".stripMargin)
      },
      // original + clone; the clone lacks `secret`; its cloned edge
      // carries no properties
      Some("SELECT CAST(2 AS BIGINT) AS n_clones, CAST(1 AS BIGINT) AS " +
        "n_no_secret, CAST(2 AS BIGINT) AS n_edges, CAST(1 AS BIGINT) " +
        "AS n_bare")),

    // refactor.merge_nodes — combine strategy lists colliding values,
    // labels union, mergeRels redirects the source's relationships,
    // source detach-deleted (refactor.cpp:923)
    QueryDef(
      "call_refactor_merge",
      (s, dir) => {
        val g0 = Cypher.execute(
          s, empty,
          """CREATE (a:MgA {p: [1]}), (b:MgB {p: 2, q: 'only'}),
            |       (c:MgC {k: 9}), (b)-[:R {w: 3}]->(c)""".stripMargin).graph
        val ids = Cypher.run(
          s, g0,
          "MATCH (a:MgA), (b:MgB) RETURN id(a) AS a, id(b) AS b")
          .collect()(0)
        val g1 = Cypher.execute(
          s, g0,
          s"CALL refactor.merge_nodes([${ids.getLong(0)}, " +
            s"${ids.getLong(1)}], {properties: 'combine', mergeRels: true})" +
            " YIELD node RETURN node").graph
        Cypher.run(
          s, g1,
          """MATCH (a:MgA)
            |OPTIONAL MATCH (a)-[r:R]->(c:MgC)
            |RETURN a.p IS NOT NULL AS has_p, a.q AS q,
            |       'MgB' IN labels(a) AS has_b,
            |       r.w AS w, count(*) AS n""".stripMargin)
      },
      // a.p combined to the list [1, 2] — variant-encoded by the mixed
      // frame union, so the oracle pins presence; q / labels / the
      // redirected edge (with properties) / cardinality pin the rest
      Some("SELECT true AS has_p, 'only' AS q, " +
        "true AS has_b, CAST(3 AS BIGINT) AS w, CAST(1 AS BIGINT) AS n")),

    // refactor.collapse_node then refactor.extract_node — inverse-ish
    // structural rewrites: collapse a 1-in/1-out node into a typed
    // relationship carrying its properties (refactor.cpp:502), then
    // extract that relationship back into a labeled node spliced as
    // from -[inType]-> node -[outType]-> to (refactor.cpp:805)
    QueryDef(
      "call_refactor_collapse_extract",
      (s, dir) => {
        val g0 = Cypher.execute(
          s, empty,
          """CREATE (a:CxV {k: 0}), (m:CxM {tag: 'mid'}), (c:CxV {k: 2}),
            |       (a)-[:S]->(m), (m)-[:S]->(c)""".stripMargin).graph
        val mId = Cypher.run(s, g0, "MATCH (m:CxM) RETURN id(m) AS i")
          .collect()(0).getLong(0)
        val g1 = Cypher.execute(
          s, g0,
          s"CALL refactor.collapse_node($mId, 'LINK') " +
            "YIELD id_collapsed, new_relationship " +
            "RETURN id_collapsed, new_relationship").graph
        val linkId = Cypher.run(
          s, g1, "MATCH ()-[r:LINK]->() RETURN id(r) AS i")
          .collect()(0).getLong(0)
        val g2 = Cypher.execute(
          s, g1,
          s"CALL refactor.extract_node([$linkId], ['CxM'], 'OUT', 'IN') " +
            "YIELD input, output, error RETURN input, output, error").graph
        Cypher.run(
          s, g2,
          """MATCH (a:CxV {k: 0})-[:IN]->(m:CxM)-[:OUT]->(c:CxV {k: 2})
            |RETURN count(*) AS n, min(m.tag) AS tag""".stripMargin)
      },
      Some("SELECT CAST(1 AS BIGINT) AS n, 'mid' AS tag")),

    // the full module-name surface is registered: every MAGE alias shows
    // up in mg.procedures() (module.cpp registry introspection)
    QueryDef(
      "call_mage_names",
      (s, dir) => Cypher.run(
        s, empty,
        """CALL mg.procedures() YIELD name
          |WITH name WHERE name IN [
          |  'pagerank.get', 'weakly_connected_components.get',
          |  'degree_centrality.get', 'katz_centrality.get',
          |  'betweenness_centrality.get', 'community_detection.get',
          |  'leiden_community_detection.get', 'bridges.get', 'cycles.get',
          |  'biconnected_components.get', 'node_similarity.jaccard',
          |  'node_similarity.overlap', 'node_similarity.cosine',
          |  'node2vec.get_embeddings', 'distance_calculator.single',
          |  'distance_calculator.multiple', 'knn.get',
          |  'max_flow.get_paths', 'kmeans.set_clusters']
          |RETURN count(*) AS n""".stripMargin),
      Some("SELECT CAST(19 AS BIGINT) AS n"))
  )
}
