package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cypher.Cypher
import graft.sources.{FileLoaders, TpchGraphLoader}

/** CALL-procedure algorithms (pagerank / WCC / degree via the Cypher
  * `CALL … YIELD` surface), LOAD CSV/JSONL roundtrips, COLLECT_MAP, and
  * unbounded variable-length expansion — each with a DuckDB oracle.
  * Iterative-algorithm oracles are generated chained-CTE dynamic programs
  * (same technique as [[ShortestPathQueries]]).
  */
object ProcedureQueries {

  private def g(s: SparkSession, dir: String) = TpchGraphLoader(s, dir)

  private def cq(name: String, cypher: String, oracle: String): QueryDef =
    QueryDef(name, (s, dir) => Cypher.run(s, g(s, dir), cypher), Some(oracle))

  private val CustBase = TpchGraphLoader.nodeId("Customer", 0L)

  /** DuckDB-side text normalization, same as the LLM area's. */
  private val oNormDoc = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** Reconstructed KNOWS edges with weights, filtered at `minW`. */
  private def knowsEdges(minW: Int): String =
    s"""nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n,
       |                           max(c_custkey) + 1 AS m FROM customer),
       |e AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT c_custkey AS src, (c_custkey + 1) % (SELECT m FROM nn) AS dst,
       |           (c_custkey * 7 + 1) % 10 + 1 AS w FROM customer
       |    UNION ALL
       |    SELECT c_custkey, (c_custkey + 7) % (SELECT m FROM nn),
       |           (c_custkey * 7 + 7) % 10 + 1 FROM customer)
       |  WHERE w >= $minW)""".stripMargin

  /** PageRank DP: simple variant, mirrors Procedures.pagerank exactly
    * (including the (1-0.85) float expression). */
  private def pagerankOracle(iters: Int): String = {
    val levels = (1 to iters).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT a.node,
         |    (1 - 0.85) / (SELECT n FROM nn) + 0.85 * coalesce(sum(t.c), 0) AS rank
         |  FROM allp a LEFT JOIN (
         |    SELECT e.dst, p.rank / od.deg AS c
         |    FROM e JOIN p${i - 1} p ON p.node = e.src
         |           JOIN od ON od.src = e.src) t
         |  ON t.dst = a.node
         |  GROUP BY a.node)""".stripMargin
    }
    s"""WITH ${knowsEdges(6)},
       |od AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS deg
       |                    FROM e GROUP BY src),
       |allp AS MATERIALIZED (SELECT c_custkey AS node FROM customer),
       |p0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM allp),
       |${levels.mkString(",\n")}
       |SELECT node AS k, round(rank, 6) AS pr FROM p$iters
       |WHERE node < 50 ORDER BY k""".stripMargin
  }

  /** WCC DP: undirected min-label propagation, enough rounds to pass the
    * largest component diameter (engine iterates to convergence; both reach
    * the same fixpoint). */
  private def wccOracle(rounds: Int): String = {
    val levels = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT node, min(comp) AS comp FROM (
         |    SELECT node, comp FROM c${i - 1}
         |    UNION ALL
         |    SELECT u.dst AS node, p.comp FROM c${i - 1} p
         |    JOIN und u ON u.src = p.node)
         |  GROUP BY node)""".stripMargin
    }
    s"""WITH ${knowsEdges(8)},
       |und AS MATERIALIZED (
       |  SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |c0 AS MATERIALIZED (
       |  SELECT c_custkey AS node, c_custkey AS comp FROM customer),
       |${levels.mkString(",\n")},
       |sizes AS (SELECT comp, count(*) AS sz FROM c$rounds GROUP BY comp)
       |SELECT count(*) AS n_comp, CAST(sum(sz) AS BIGINT) AS n_nodes,
       |       max(sz) AS max_size,
       |       count(CASE WHEN sz = 1 THEN 1 END) AS n_singletons
       |FROM sizes""".stripMargin
  }

  /** Brandes betweenness DP: forward per-seed BFS levels (dist + path
    * counts), shortest-path successor DAG, then backward dependency
    * accumulation one CTE per level — mirrors Procedures.betweenness
    * exactly (incl. the DECIMAL(38,12) sum discipline). */
  private def betweennessOracle(seedMax: Int, maxDepth: Int): String = {
    val fwd = (1 to maxDepth).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT f.s, e.dst AS node, $i AS dist, CAST(sum(f.np) AS BIGINT) AS np
         |  FROM f${i - 1} f JOIN e ON e.src = f.node
         |  LEFT JOIN d${i - 1} d ON d.s = f.s AND d.node = e.dst
         |  WHERE d.node IS NULL
         |  GROUP BY f.s, e.dst),
         |d$i AS MATERIALIZED (SELECT * FROM d${i - 1} UNION ALL SELECT * FROM f$i)""".stripMargin
    }
    val bwd = (maxDepth to 1 by -1).map { l =>
      s"""a$l AS MATERIALIZED (
         |  SELECT s, node, delta FROM a${l + 1}
         |  UNION ALL
         |  SELECT g.s, g.v AS node,
         |    CAST(sum(CAST(g.npv / g.npw * (1 + coalesce(a.delta, 0))
         |                  AS DECIMAL(38,12))) AS DOUBLE) AS delta
         |  FROM dag g LEFT JOIN a${l + 1} a ON a.s = g.s AND a.node = g.w
         |  WHERE g.dw = $l
         |  GROUP BY g.s, g.v)""".stripMargin
    }
    s"""WITH ${knowsEdges(6)},
       |s0 AS MATERIALIZED (SELECT c_custkey AS s FROM customer
       |                    WHERE c_custkey < $seedMax),
       |f0 AS MATERIALIZED (SELECT s, s AS node, 0 AS dist,
       |                           CAST(1 AS BIGINT) AS np FROM s0),
       |d0 AS MATERIALIZED (SELECT * FROM f0),
       |${fwd.mkString(",\n")},
       |dag AS MATERIALIZED (
       |  SELECT v.s, v.node AS v, v.np AS npv, w.node AS w, w.np AS npw,
       |         w.dist AS dw
       |  FROM d$maxDepth v JOIN e ON e.src = v.node
       |  JOIN d$maxDepth w ON w.s = v.s AND w.node = e.dst
       |                   AND w.dist = v.dist + 1),
       |a${maxDepth + 1} AS MATERIALIZED (
       |  SELECT s, v AS node, CAST(0 AS DOUBLE) AS delta FROM dag WHERE 1=0),
       |${bwd.mkString(",\n")},
       |bc AS (SELECT node, CAST(sum(CAST(delta AS DECIMAL(38,12))) AS DOUBLE) AS bc
       |       FROM a1 WHERE node <> s GROUP BY node)
       |SELECT c_custkey AS k,
       |       floor(coalesce(bc.bc, 0) * 10000) / 10000 AS bc
       |FROM customer LEFT JOIN bc ON bc.node = c_custkey
       |WHERE c_custkey < 40 ORDER BY k""".stripMargin
  }

  /** Synchronous label-propagation DP: one CTE per round — per-(node,label)
    * neighbor votes, argmax by (count desc, label asc), isolated nodes keep
    * their label. Mirrors Procedures.labelPropagation exactly. */
  private def lpaOracle(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT a.node, coalesce(b.community, p.community) AS community
         |  FROM allp a
         |  JOIN l${i - 1} p ON p.node = a.node
         |  LEFT JOIN (
         |    SELECT node, community FROM (
         |      SELECT node, community,
         |             row_number() OVER (PARTITION BY node
         |                                ORDER BY cnt DESC, community ASC) AS rn
         |      FROM (SELECT u.dst AS node, p.community, count(*) AS cnt
         |            FROM l${i - 1} p JOIN und u ON u.src = p.node
         |            GROUP BY u.dst, p.community))
         |    WHERE rn = 1) b ON b.node = a.node)""".stripMargin
    }
    s"""WITH ${knowsEdges(8)},
       |und AS MATERIALIZED (
       |  SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |allp AS MATERIALIZED (SELECT c_custkey AS node FROM customer),
       |l0 AS MATERIALIZED (SELECT node, node AS community FROM allp),
       |${rounds.mkString(",\n")},
       |sizes AS (SELECT community, count(*) AS sz FROM l$iters GROUP BY community)
       |SELECT count(*) AS n_comm, CAST(sum(sz) AS BIGINT) AS n_nodes,
       |       max(sz) AS max_sz, min(sz) AS min_sz,
       |       count(CASE WHEN sz = 1 THEN 1 END) AS n_single
       |FROM sizes""".stripMargin
  }

  /** Katz DP: c₀=0; cᵢ₊₁(v) = β + α·(DECIMAL-summed in-neighbor cᵢ) —
    * mirrors Procedures.katz exactly. */
  private def katzOracle(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""k$i AS MATERIALIZED (
         |  SELECT a.node,
         |    1.0 + 0.1 * coalesce(CAST(t.s AS DOUBLE), 0) AS c
         |  FROM allp a LEFT JOIN (
         |    SELECT e.dst, sum(CAST(p.c AS DECIMAL(38,12))) AS s
         |    FROM e JOIN k${i - 1} p ON p.node = e.src
         |    GROUP BY e.dst) t
         |  ON t.dst = a.node)""".stripMargin
    }
    s"""WITH ${knowsEdges(6)},
       |allp AS MATERIALIZED (SELECT c_custkey AS node FROM customer),
       |k0 AS MATERIALIZED (SELECT node, CAST(0 AS DOUBLE) AS c FROM allp),
       |${rounds.mkString(",\n")}
       |SELECT node AS k, floor(c * 1000000) / 1000000 AS c FROM k$iters
       |WHERE node < 50 ORDER BY k""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    // CALL + MAGE pagerank (operator.hpp:2891; src/mage/cpp/pagerank_module)
    // on the weight-filtered KNOWS subgraph (irregular degrees).
    cq(
      "call_pagerank",
      s"""CALL algo.pagerank({label: 'Customer', type: 'KNOWS', iterations: 15,
         |                   damping: 0.85, weightProp: 'k_weight', minWeight: 6.0})
         |YIELD node, rank
         |WITH node - $CustBase AS k, rank WHERE k < 50
         |RETURN k, round(rank, 6) AS pr ORDER BY k""".stripMargin,
      pagerankOracle(15)),

    // CALL + connected components (src/mage/cpp/connected_components) on a
    // sparser KNOWS subgraph (threshold 8 → multiple components).
    cq(
      "call_wcc",
      """CALL algo.wcc({label: 'Customer', type: 'KNOWS',
        |               weightProp: 'k_weight', minWeight: 8.0})
        |YIELD node, comp
        |WITH comp, count(*) AS sz
        |RETURN count(*) AS n_comp, sum(sz) AS n_nodes, max(sz) AS max_size,
        |       count(CASE WHEN sz = 1 THEN 1 END) AS n_singletons""".stripMargin,
      wccOracle(30)),

    // CALL + degree (awesome_memgraph_functions.cpp:2063-2065 degree
    // scalars, as a table-valued procedure).
    cq(
      "call_degree",
      s"""CALL algo.degree({label: 'Customer', type: 'PLACED'})
         |YIELD node, out_deg, in_deg
         |WITH node - $CustBase AS k, out_deg, in_deg WHERE k < 100
         |RETURN k, out_deg, in_deg ORDER BY k""".stripMargin,
      """SELECT c_custkey AS k, count(o_orderkey) AS out_deg,
        |  CAST(0 AS BIGINT) AS in_deg
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |WHERE c_custkey < 100 GROUP BY c_custkey ORDER BY k""".stripMargin),

    // CALL + Brandes betweenness (src/mage/cpp/betweenness_centrality_module)
    // on the weight-filtered KNOWS subgraph: 20 seeds, depth-8 DAG, exact
    // dependency accumulation — per-node values checked at 4dp (floor-
    // truncated; DECIMAL sums make both engines bit-stable).
    cq(
      "call_betweenness",
      s"""CALL algo.betweenness({label: 'Customer', type: 'KNOWS',
         |                      weightProp: 'k_weight', minWeight: 6.0,
         |                      seedMax: 20, maxDepth: 8})
         |YIELD node, centrality
         |WITH node - $CustBase AS k, centrality WHERE k < 40
         |RETURN k, floor(centrality * 10000) / 10000.0 AS bc
         |ORDER BY k""".stripMargin,
      betweennessOracle(seedMax = 20, maxDepth = 8)),

    // CALL + label propagation (src/mage/cpp/community_detection_module,
    // deterministic synchronous variant) on the sparse KNOWS subgraph:
    // community-size histogram after 10 fixed rounds.
    cq(
      "call_lpa",
      """CALL algo.label_propagation({label: 'Customer', type: 'KNOWS',
        |                            weightProp: 'k_weight', minWeight: 8.0,
        |                            iterations: 10})
        |YIELD node, community
        |WITH community, count(*) AS sz
        |RETURN count(*) AS n_comm, sum(sz) AS n_nodes, max(sz) AS max_sz,
        |       min(sz) AS min_sz,
        |       count(CASE WHEN sz = 1 THEN 1 END) AS n_single""".stripMargin,
      lpaOracle(10)),

    // CALL + Katz centrality (src/mage/cpp/katz_centrality_module):
    // 10 neighbor-sum rounds on the weight-filtered KNOWS subgraph,
    // DECIMAL-stable sums, values floor-truncated at 6dp.
    cq(
      "call_katz",
      s"""CALL algo.katz({label: 'Customer', type: 'KNOWS',
         |               weightProp: 'k_weight', minWeight: 6.0,
         |               alpha: 0.1, beta: 1.0, iterations: 10})
         |YIELD node, centrality
         |WITH node - $CustBase AS k, centrality WHERE k < 50
         |RETURN k, floor(centrality * 1000000) / 1000000.0 AS c
         |ORDER BY k""".stripMargin,
      katzOracle(10)),

    // CALL + neighbor-set Jaccard similarity
    // (src/mage/cpp/node_similarity_module): pairs keyed on the shared
    // out-neighbor — never an all-pairs join.
    cq(
      "call_node_similarity",
      s"""CALL algo.node_similarity({label: 'Customer', type: 'KNOWS'})
         |YIELD node1, node2, similarity
         |WITH node1 - $CustBase AS a, node2 - $CustBase AS b, similarity
         |WHERE a < 40 AND b < 40
         |RETURN a, b, floor(similarity * 10000) / 10000.0 AS sim
         |ORDER BY a, b""".stripMargin,
      """WITH nn AS (SELECT max(c_custkey) + 1 AS m FROM customer),
        |e AS MATERIALIZED (
        |  SELECT c_custkey AS src, (c_custkey + 1) % (SELECT m FROM nn) AS dst
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, (c_custkey + 7) % (SELECT m FROM nn)
        |  FROM customer),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
        |com AS (
        |  SELECT a.src AS a, b.src AS b, count(*) AS c
        |  FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
        |  GROUP BY a.src, b.src)
        |SELECT com.a, com.b,
        |  floor(CAST(c AS DOUBLE) / (d1.d + d2.d - c) * 10000) / 10000 AS sim
        |FROM com JOIN deg d1 ON d1.src = com.a JOIN deg d2 ON d2.src = com.b
        |WHERE com.a < 40 AND com.b < 40
        |ORDER BY com.a, com.b""".stripMargin),

    // SHOW SCHEMA INFO analog (SchemaInfoQuery ast.hpp:4302): every label
    // and edge type with count + sorted property list.
    cq(
      "schema_info",
      """CALL schema.info() YIELD kind, name, n, props
        |RETURN kind, name, n, props ORDER BY kind, name""".stripMargin,
      """SELECT * FROM (VALUES
        |  ('edge', 'BY_SUPPLIER', (SELECT count(*) FROM lineitem), ''),
        |  ('edge', 'FROM_NATION',
        |   (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier), ''),
        |  ('edge', 'HAS_LINE', (SELECT count(*) FROM lineitem), ''),
        |  ('edge', 'IN_REGION', (SELECT count(*) FROM nation), ''),
        |  ('edge', 'KNOWS', 2 * (SELECT count(*) FROM customer), 'k_weight'),
        |  ('edge', 'NEAR',
        |   (SELECT count(*) FROM customer WHERE c_custkey % 4 < 3
        |    AND c_custkey + 1 <= (SELECT max(c_custkey) FROM customer)) +
        |   (SELECT count(*) FROM customer WHERE c_custkey % 4 < 2
        |    AND c_custkey + 2 <= (SELECT max(c_custkey) FROM customer)), ''),
        |  ('edge', 'OF_PART', (SELECT count(*) FROM lineitem), ''),
        |  ('edge', 'PLACED', (SELECT count(*) FROM orders), ''),
        |  ('node', 'Customer', (SELECT count(*) FROM customer),
        |   'c_acctbal,c_custkey,c_mktsegment,c_name,c_nationkey'),
        |  ('node', 'Document', (SELECT count(*) FROM documents),
        |   'doc_id,lang,n_chars,source,text'),
        |  ('node', 'Embedding', (SELECT count(*) FROM embeddings),
        |   'embedding,label,vec_id'),
        |  ('node', 'Event', (SELECT count(*) FROM events),
        |   'event_id,event_type,props,ts,user_id,value'),
        |  ('node', 'Lineitem', (SELECT count(*) FROM lineitem),
        |   'l_discount,l_extendedprice,l_linenumber,l_linestatus,l_orderkey,l_partkey,l_quantity,l_returnflag,l_shipdate,l_suppkey,l_tax'),
        |  ('node', 'Nation', (SELECT count(*) FROM nation),
        |   'n_name,n_nationkey,n_regionkey'),
        |  ('node', 'Order', (SELECT count(*) FROM orders),
        |   'o_custkey,o_orderdate,o_orderkey,o_orderpriority,o_orderstatus,o_totalprice'),
        |  ('node', 'Part', (SELECT count(*) FROM part),
        |   'p_brand,p_name,p_partkey,p_retailprice,p_size,p_type'),
        |  ('node', 'Region', (SELECT count(*) FROM region),
        |   'r_name,r_regionkey'),
        |  ('node', 'Supplier', (SELECT count(*) FROM supplier),
        |   's_acctbal,s_name,s_nationkey,s_suppkey')
        |) AS t(kind, name, n, props) ORDER BY kind, name""".stripMargin),

    // ANALYZE GRAPH analog (ast.hpp:3997): per-property planner stats —
    // counts, min/max, DECIMAL-stable average.
    cq(
      "call_analyze",
      """CALL graph.analyze({label: 'Customer',
        |                    props: ['c_acctbal', 'c_custkey', 'c_nationkey']})
        |YIELD label, prop, n, n_nonnull, n_distinct, min_v, max_v, avg_v
        |RETURN label, prop, n, n_nonnull, n_distinct, min_v, max_v, avg_v
        |ORDER BY prop""".stripMargin,
      """SELECT 'Customer' AS label, prop, n, n_nonnull, n_distinct,
        |       min_v, max_v, avg_v
        |FROM (
        |  SELECT 'c_acctbal' AS prop, count(*) AS n, count(c_acctbal) AS n_nonnull,
        |    count(DISTINCT c_acctbal) AS n_distinct,
        |    CAST(min(c_acctbal) AS DOUBLE) AS min_v,
        |    CAST(max(c_acctbal) AS DOUBLE) AS max_v,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(38,4))) AS DOUBLE)
        |      / count(c_acctbal) AS avg_v
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_custkey', count(*), count(c_custkey),
        |    count(DISTINCT c_custkey), CAST(min(c_custkey) AS DOUBLE),
        |    CAST(max(c_custkey) AS DOUBLE),
        |    CAST(sum(CAST(c_custkey AS DECIMAL(38,4))) AS DOUBLE)
        |      / count(c_custkey)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_nationkey', count(*), count(c_nationkey),
        |    count(DISTINCT c_nationkey), CAST(min(c_nationkey) AS DOUBLE),
        |    CAST(max(c_nationkey) AS DOUBLE),
        |    CAST(sum(CAST(c_nationkey AS DECIMAL(38,4))) AS DOUBLE)
        |      / count(c_nationkey)
        |  FROM customer)
        |ORDER BY prop""".stripMargin),

    // COLLECT_MAP (aggregation.hpp:27): collect(k, v) → map; checked via
    // size + element lookup (portable scalars, no cross-engine map codec).
    cq(
      "cy_collect_map",
      """MATCH (r:Region)<-[:IN_REGION]-(n:Nation)
        |WITH r, collect(n.n_name, n.n_nationkey) AS m
        |RETURN r.r_name AS r_name, size(m) AS n_keys,
        |       m['ALGERIA'] AS algeria
        |ORDER BY r_name""".stripMargin,
      """SELECT r_name, count(DISTINCT n_name) AS n_keys,
        |  max(CASE WHEN n_name = 'ALGERIA' THEN n_nationkey END) AS algeria
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),

    // Unbounded variable-length expansion over the order DAG — fixpoint
    // iteration, no silent hop cap (ExpandVariable, operator.hpp:1172).
    cq(
      "varexpand_unbounded",
      """MATCH (c:Customer {c_custkey: 1})
        |      -[:PLACED|HAS_LINE|OF_PART|BY_SUPPLIER*]->(x)
        |RETURN count(*) AS n_paths""".stripMargin,
      """SELECT (SELECT count(*) FROM orders WHERE o_custkey = 1)
        |     + 3 * (SELECT count(*) FROM lineitem
        |            JOIN orders ON l_orderkey = o_orderkey
        |            WHERE o_custkey = 1) AS n_paths""".stripMargin),

    // LOAD CSV roundtrip (operator.hpp:2935): export → loadCsv → aggregate.
    QueryDef(
      "load_csv_roundtrip",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val out = s"/root/repo/target/roundtrip/csv_$tag"
        TpchGraphLoader.table(s, dir, "region")
          .coalesce(1)
          .write.mode("overwrite").option("header", "true").csv(out)
        FileLoaders.loadCsv(s, out, TpchGraphLoader.schemas("region"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("r_regionkey")).cast("long").as("key_sum"),
            array_join(sort_array(collect_list(col("r_name"))), ",").as("names"))
      },
      Some("""SELECT count(*) AS n, CAST(sum(r_regionkey) AS BIGINT) AS key_sum,
             |  array_to_string(list_sort(list(r_name)), ',') AS names
             |FROM region""".stripMargin)),

    // LOAD CSV as a Cypher CLAUSE (LoadCsv ast.hpp:3431 → the parser's
    // loadCsvClause → schema-on-read string columns, row bound as a
    // map<string,string>): export → LOAD CSV … WITH HEADER AS row →
    // aggregate row fields.
    QueryDef(
      "cy_load_csv",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val out = s"/root/repo/target/roundtrip/cycsv_$tag"
        TpchGraphLoader.table(s, dir, "region")
          .coalesce(1)
          .write.mode("overwrite").option("header", "true").csv(out)
        Cypher.run(
          s,
          g(s, dir),
          s"""LOAD CSV FROM '$out' WITH HEADER AS row
             |RETURN count(*) AS n,
             |       sum(toInteger(row.r_regionkey)) AS key_sum,
             |       text.join(collections.sort(collect(row.r_name)), ',')
             |         AS names""".stripMargin)
      },
      Some("""SELECT count(*) AS n, CAST(sum(r_regionkey) AS BIGINT) AS key_sum,
             |  array_to_string(list_sort(list(r_name)), ',') AS names
             |FROM region""".stripMargin)),

    // LOAD JSONL roundtrip (operator.hpp:3000).
    QueryDef(
      "load_jsonl_roundtrip",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val out = s"/root/repo/target/roundtrip/jsonl_$tag"
        TpchGraphLoader.table(s, dir, "nation")
          .coalesce(1)
          .write.mode("overwrite").json(out)
        FileLoaders.loadJsonl(s, out, TpchGraphLoader.schemas("nation"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("n_nationkey")).cast("long").as("key_sum"),
            array_join(sort_array(collect_list(col("n_name"))), ",").as("names"))
      },
      Some("""SELECT count(*) AS n, CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
             |  array_to_string(list_sort(list(n_name)), ',') AS names
             |FROM nation""".stripMargin)),

    // Triangle counting (compact-forward enumeration over the canonical
    // a<b edge view) on the NEAR blocks — 2 triangles per full block of 4,
    // reconstructed exactly by the oracle's two equi-joins.
    cq(
      "call_triangles",
      """CALL algo.triangle_count({type: 'NEAR'}) YIELD node, triangles
        |RETURN node % 281474976710656 AS k, triangles
        |ORDER BY k""".stripMargin,
      """WITH mk AS (SELECT max(c_custkey) AS m FROM customer),
        |e AS MATERIALIZED (
        |  SELECT c_custkey AS a, c_custkey + 1 AS b FROM customer
        |  WHERE c_custkey % 4 < 3 AND c_custkey + 1 <= (SELECT m FROM mk)
        |  UNION ALL
        |  SELECT c_custkey, c_custkey + 2 FROM customer
        |  WHERE c_custkey % 4 < 2 AND c_custkey + 2 <= (SELECT m FROM mk)),
        |tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |cnt AS (
        |  SELECT node, count(*) AS t FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri)
        |  GROUP BY node)
        |SELECT c_custkey AS k, CAST(coalesce(t, 0) AS BIGINT) AS triangles
        |FROM customer LEFT JOIN cnt ON node = c_custkey
        |ORDER BY k""".stripMargin),

    // Deterministic random walks (node2vec sampling, p=q=1): 20 walks of
    // length 4 over KNOWS; each step's md5-argmin choice is replayed by
    // the oracle's chained per-step CTEs.
    cq(
      "call_walks",
      """CALL algo.walks({length: 4, seedMax: 20}) YIELD walk, step, node
        |RETURN walk, step, node % 281474976710656 AS k
        |ORDER BY walk, step""".stripMargin, {
        val steps = (1 to 4).map { s =>
          s"""s$s AS MATERIALIZED (
             |  SELECT walk, dst AS cur FROM (
             |    SELECT w.walk, adj.dst,
             |      row_number() OVER (PARTITION BY w.walk
             |        ORDER BY md5(CAST(w.walk AS VARCHAR) || ':$s:' ||
             |                     CAST(adj.dst AS VARCHAR)), adj.dst) AS rk
             |    FROM s${s - 1} w JOIN adj ON adj.src = w.cur)
             |  WHERE rk = 1)""".stripMargin
        }
        s"""WITH nn AS (SELECT max(c_custkey) + 1 AS m FROM customer),
           |adj AS MATERIALIZED (
           |  SELECT c_custkey AS src, (c_custkey + 1) % (SELECT m FROM nn) AS dst
           |  FROM customer
           |  UNION ALL
           |  SELECT c_custkey, (c_custkey + 7) % (SELECT m FROM nn)
           |  FROM customer),
           |s0 AS MATERIALIZED (
           |  SELECT c_custkey AS walk, c_custkey AS cur FROM customer
           |  WHERE c_custkey < 20),
           |${steps.mkString(",\n")}
           |SELECT walk, step, k FROM (
           |  SELECT walk, 0 AS step, cur AS k FROM s0
           |  ${(1 to 4).map(s => s"UNION ALL SELECT walk, $s, cur FROM s$s").mkString("\n  ")})
           |ORDER BY walk, step""".stripMargin
      }),

    // p/q-biased (second-order) node2vec walks over NEAR (the
    // triangle-bearing block graph): q = 0.25 biases AWAY from
    // prev-adjacent candidates (forward bias 1/q = 4 dominates), so the
    // oracle's chained CTEs replay the same class-then-md5-argmin choice
    // with the prev-adjacency LEFT JOIN deciding the class.
    cq(
      "call_node2vec",
      """CALL algo.node2vec({type: 'NEAR', length: 3, seedMax: 12,
        |                    p: 4.0, q: 0.25}) YIELD walk, step, node
        |RETURN walk, step, node % 281474976710656 AS k
        |ORDER BY walk, step""".stripMargin, {
        val steps = (1 to 3).map { s =>
          s"""s$s AS MATERIALIZED (
             |  SELECT walk, cur, prev FROM (
             |    SELECT w.walk, a.dst AS cur, w.cur AS prev,
             |      row_number() OVER (PARTITION BY w.walk ORDER BY
             |        (CASE WHEN w.prev IS NULL THEN -1.0
             |              WHEN a.dst = w.prev THEN -0.25
             |              WHEN pa.src IS NOT NULL THEN -1.0
             |              ELSE -4.0 END),
             |        md5(CAST(w.walk AS VARCHAR) || ':$s:' ||
             |            CAST(a.dst AS VARCHAR)),
             |        a.dst) AS rk
             |    FROM s${s - 1} w JOIN adj a ON a.src = w.cur
             |    LEFT JOIN adj pa ON pa.src = w.prev AND pa.dst = a.dst)
             |  WHERE rk = 1)""".stripMargin
        }
        s"""WITH mk AS (SELECT max(c_custkey) AS m FROM customer),
           |adj AS MATERIALIZED (
           |  SELECT c_custkey AS src, c_custkey + 1 AS dst FROM customer
           |  WHERE c_custkey % 4 < 3 AND c_custkey + 1 <= (SELECT m FROM mk)
           |  UNION ALL
           |  SELECT c_custkey, c_custkey + 2 FROM customer
           |  WHERE c_custkey % 4 < 2 AND c_custkey + 2 <= (SELECT m FROM mk)),
           |s0 AS MATERIALIZED (
           |  SELECT c_custkey AS walk, c_custkey AS cur,
           |         CAST(NULL AS BIGINT) AS prev
           |  FROM customer WHERE c_custkey < 12),
           |${steps.mkString(",\n")}
           |SELECT walk, step, k FROM (
           |  SELECT walk, 0 AS step, cur AS k FROM s0
           |  ${(1 to 3)
              .map(s => s"UNION ALL SELECT walk, $s, cur FROM s$s")
              .mkString("\n  ")})
           |ORDER BY walk, step""".stripMargin
      }),

    // `do` module conditional execution (do.when / do.case, apoc
    // heritage): constant conditions select a Cypher query at plan time;
    // both fall through to their else branch here.
    cq(
      "call_do",
      """CALL do.when(false, 'RETURN 1 AS a',
        |             'MATCH (n:Nation) RETURN count(*) AS a') YIELD a
        |CALL do.case([false, 'RETURN -1 AS b'],
        |             'MATCH (r:Region) RETURN count(*) AS b') YIELD b
        |RETURN a, b""".stripMargin,
      """SELECT (SELECT count(*) FROM nation) AS a,
        |       (SELECT count(*) FROM region) AS b""".stripMargin),

    // bipartite_matching.max (cpp/bipartite_matching_module) over the
    // Customer→Nation bipartite graph: every nation with ≥1 customer can
    // be matched (customers are plentiful), so the maximum matching size
    // is the distinct-nation count — closed form.
    cq(
      "call_bipartite",
      """CALL bipartite_matching.max({type: 'FROM_NATION'})
        |YIELD maximum_bipartite_matching
        |RETURN maximum_bipartite_matching""".stripMargin,
      """SELECT CAST(count(DISTINCT c_nationkey) AS BIGINT)
        |         AS maximum_bipartite_matching
        |FROM customer""".stripMargin),

    // periodic.iterate (cpp/periodic_module): batch-driver bulk update —
    // 5 regions in batches of 2 → 3 batches, every row SET by the
    // running query (the post-CALL MATCH observes the writes).
    cq(
      "call_periodic",
      """CALL periodic.iterate(
        |  'MATCH (n:Region) RETURN n',
        |  'SET n.r_visited = 1',
        |  {batch_size: 2}) YIELD success, number_of_executed_batches
        |MATCH (n:Region) WHERE n.r_visited = 1
        |RETURN success, number_of_executed_batches,
        |       count(*) AS marked""".stripMargin,
      """SELECT true AS success,
        |       CAST(3 AS BIGINT) AS number_of_executed_batches,
        |       (SELECT count(*) FROM region) AS marked""".stripMargin),

    // DUMP DATABASE analog (src/query/dump.cpp): recreate-Cypher text for
    // Nation nodes + IN_REGION edges, byte-identical to the oracle's
    // string construction (props name-sorted, strings \'-quoted).
    cq(
      "graph_dump",
      """CALL graph.dump({label: 'Nation', type: 'IN_REGION'}) YIELD stmt
        |RETURN stmt ORDER BY stmt""".stripMargin,
      """SELECT stmt FROM (
        |  SELECT 'CREATE (:Nation {n_name: ''' || n_name ||
        |         ''', n_nationkey: ' || CAST(n_nationkey AS VARCHAR) ||
        |         ', n_regionkey: ' || CAST(n_regionkey AS VARCHAR) || '});'
        |         AS stmt
        |  FROM nation
        |  UNION ALL
        |  SELECT 'MATCH (u), (v) WHERE id(u) = ' ||
        |         CAST((2 * 281474976710656) + n_nationkey AS VARCHAR) ||
        |         ' AND id(v) = ' ||
        |         CAST((1 * 281474976710656) + n_regionkey AS VARCHAR) ||
        |         ' CREATE (u)-[:IN_REGION]->(v);'
        |  FROM nation)
        |ORDER BY stmt""".stripMargin),

    // ---- text / vector search through the Cypher CALL surface ----
    // (reference: `CALL text_search.search(...)` over the tantivy index,
    // text_index.hpp:37-48; vector queries over usearch,
    // vector_index.hpp:125-129; e2e tests/e2e/text_search_*,
    // vector_search_*). Oracles are the proven inverted-index /
    // brute-force-cosine DuckDB programs from the LLM query area — the
    // point of these gates is the full parse→CALL→DataFrame path.

    cq(
      "cy_call_text",
      """CALL text.search({terms: 'data table scan', limit: 15})
        |YIELD doc_id, score
        |RETURN doc_id, score ORDER BY score DESC, doc_id""".stripMargin,
      s"""SELECT doc_id, CAST(score AS BIGINT) AS score FROM (
         |  SELECT doc_id, count(DISTINCT w) AS n_terms, sum(tf) AS score
         |  FROM (
         |    SELECT doc_id, w, count(*) AS tf FROM (
         |      SELECT doc_id, unnest(string_split($oNormDoc, ' ')) AS w
         |      FROM documents)
         |    WHERE w IN ('data', 'table', 'scan')
         |    GROUP BY doc_id, w)
         |  GROUP BY doc_id)
         |WHERE n_terms = 3
         |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin),

    cq(
      "cy_call_bm25",
      """CALL text.bm25({terms: 'hash scan vector', limit: 10})
        |YIELD doc_id, score, n_terms
        |RETURN doc_id, score, n_terms ORDER BY score DESC, doc_id""".stripMargin,
      s"""WITH wx AS MATERIALIZED (
         |  SELECT doc_id, unnest(string_split($oNormDoc, ' ')) AS w
         |  FROM documents),
         |p AS MATERIALIZED (
         |  SELECT doc_id, w AS word, count(*) AS tf FROM wx
         |  GROUP BY doc_id, w),
         |lens AS MATERIALIZED (
         |  SELECT doc_id, len(string_split($oNormDoc, ' ')) AS len
         |  FROM documents),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |              CAST(sum(len) AS DOUBLE) / count(*) AS avgdl
         |       FROM lens),
         |dft AS (SELECT word, CAST(count(*) AS DOUBLE) AS df FROM p
         |        WHERE word IN ('hash', 'scan', 'vector') GROUP BY word)
         |SELECT doc_id, floor(score * 10000) / 10000 AS score, n_terms
         |FROM (
         |  SELECT p.doc_id,
         |    CAST(sum(CAST(
         |      ln(1.0 + (st.n_docs - dft.df + 0.5) / (dft.df + 0.5))
         |        * (p.tf * 2.2)
         |        / (p.tf + 1.2 * (0.25 + 0.75 * lens.len / st.avgdl))
         |      AS DECIMAL(38,12))) AS DOUBLE) AS score,
         |    count(*) AS n_terms
         |  FROM p JOIN dft USING (word) JOIN lens USING (doc_id)
         |  CROSS JOIN st
         |  GROUP BY p.doc_id)
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),

    cq(
      "cy_call_phrase",
      """CALL text.phrase({phrase: 'table hash'}) YIELD doc_id, n_occ
        |RETURN doc_id, n_occ ORDER BY doc_id""".stripMargin,
      s"""WITH d AS MATERIALIZED (
         |  SELECT doc_id, string_split($oNormDoc, ' ') AS ws FROM documents),
         |p AS MATERIALIZED (
         |  SELECT doc_id, i, ws[i] AS w FROM (
         |    SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
         |    FROM d))
         |SELECT p0.doc_id, count(*) AS n_occ
         |FROM p p0 JOIN p p1 ON p1.doc_id = p0.doc_id AND p1.i = p0.i + 1
         |WHERE p0.w = 'table' AND p1.w = 'hash'
         |GROUP BY p0.doc_id ORDER BY p0.doc_id""".stripMargin),


    cq(
      "cy_call_vector",
      """CALL vector.search({k: 3, qmax: 5}) YIELD q, c, sim
        |RETURN q, c, sim ORDER BY q, c""".stripMargin,
      """WITH n AS MATERIALIZED (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
        |  FROM embeddings)
        |SELECT q, c, sim FROM (
        |  SELECT a.vec_id AS q, b.vec_id AS c,
        |         round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS sim
        |  FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id <> a.vec_id
        |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
        |                             ORDER BY sim DESC, b.vec_id) <= 3)
        |ORDER BY q, c""".stripMargin),

    // CALL + Louvain-class modularity communities
    // (src/mage/cpp/leiden_community_detection_module): deterministic
    // synchronous local-move rounds with the integer-exact gain score
    // 2m·w(v,C) − deg(v)·vol(C∖v); community-size histogram after 6
    // rounds on the weight-thresholded KNOWS subgraph.
    cq(
      "call_louvain",
      """CALL algo.louvain({label: 'Customer', type: 'KNOWS',
        |                   weightProp: 'k_weight', minWeight: 6.0,
        |                   iterations: 6})
        |YIELD node, community
        |WITH community, count(*) AS sz
        |RETURN count(*) AS n_comm, sum(sz) AS n_nodes, max(sz) AS max_sz,
        |       min(sz) AS min_sz,
        |       count(CASE WHEN sz = 1 THEN 1 END) AS n_single""".stripMargin,
      louvainOracle(6)),

    // Hierarchical Leiden (leiden_community_detection_module): louvain
    // local-move + contraction to convergence, deterministic tie-breaks.
    // Closed-form communities: three cliques (K4, K5, K3), the first two
    // joined by a single bridge — modularity keeps each clique whole
    // (the bridge merge loses at every level once intra-clique weight is
    // folded into contracted self-loops), so community = clique whatever
    // representative ids the hierarchy picks; the query canonicalizes to
    // min member offset.
    QueryDef(
      "call_leiden",
      (s, dir) => {
        val e1 = Cypher.execute(
          s,
          g(s, dir),
          """CREATE (a0:LdV)-[:LdE]->(a1:LdV), (a0)-[:LdE]->(a2:LdV),
            |       (a0)-[:LdE]->(a3:LdV), (a1)-[:LdE]->(a2),
            |       (a1)-[:LdE]->(a3), (a2)-[:LdE]->(a3),
            |       (a3)-[:LdE]->(b0:LdV),
            |       (b0)-[:LdE]->(b1:LdV), (b0)-[:LdE]->(b2:LdV),
            |       (b0)-[:LdE]->(b3:LdV), (b0)-[:LdE]->(b4:LdV),
            |       (b1)-[:LdE]->(b2), (b1)-[:LdE]->(b3), (b1)-[:LdE]->(b4),
            |       (b2)-[:LdE]->(b3), (b2)-[:LdE]->(b4), (b3)-[:LdE]->(b4),
            |       (c0:LdV)-[:LdE]->(c1:LdV), (c0)-[:LdE]->(c2:LdV),
            |       (c1)-[:LdE]->(c2)""".stripMargin)
        Cypher.run(
          s,
          e1.graph,
          """CALL algo.leiden({label: 'LdV', type: 'LdE'})
            |YIELD node, community
            |WITH community, min(node % 281474976710656) AS rep,
            |     collect(node % 281474976710656) AS ms
            |UNWIND ms AS nk
            |RETURN nk, rep ORDER BY nk""".stripMargin)
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(0 AS BIGINT), CAST(0 AS BIGINT)), (1, 0), (2, 0),
             |  (3, 0), (4, 4), (5, 4), (6, 4), (7, 4), (8, 4),
             |  (9, 9), (10, 9), (11, 9)) AS t(nk, rep)
             |ORDER BY nk""".stripMargin)),

    // CALL + bridges (src/mage/cpp/bridges_module): exact bridges via
    // Biconnected (BFS forest + chord-to-LCA walk). At minWeight 8 the
    // thresholded KNOWS subgraph is a forest (periodic weight pattern →
    // components of ≤ 4 nodes at ANY scale factor), so every edge is a
    // bridge. Cyclic-graph behavior is covered by BiconnectedSpec and
    // call_bridges_dense.
    cq(
      "call_bridges",
      s"""CALL algo.bridges({type: 'KNOWS',
         |                   weightProp: 'k_weight', minWeight: 8.0})
         |YIELD src, dst
         |RETURN src - $CustBase AS a, dst - $CustBase AS b
         |ORDER BY a, b""".stripMargin,
      s"""WITH ${knowsEdges(8)}
         |SELECT least(src, dst) AS a, greatest(src, dst) AS b FROM e
         |ORDER BY a, b""".stripMargin),

    // Fundamental cycles (cycles_module/algorithm/cycles.hpp: spanning
    // tree + one cycle per non-tree edge) on a created graph whose
    // cycles are tree-independent: two vertex-disjoint rings — each ring
    // IS its fundamental cycle whatever spanning tree BFS picks — plus
    // an acyclic tail that must contribute nothing. Node ids recover
    // their creation offsets mod 2^48.
    QueryDef(
      "call_cycles",
      (s, dir) => {
        val e1 = Cypher.execute(
          s,
          g(s, dir),
          """CREATE (a0:CycV)-[:CycE]->(a1:CycV)-[:CycE]->(a2:CycV)
            |       -[:CycE]->(a3:CycV)-[:CycE]->(a0),
            |       (b0:CycV)-[:CycE]->(b1:CycV)-[:CycE]->(b2:CycV)
            |       -[:CycE]->(b0),
            |       (a0)-[:CycE]->(t1:CycV)-[:CycE]->(t2:CycV)""".stripMargin)
        Cypher.run(
          s,
          e1.graph,
          """CALL algo.cycles({type: 'CycE'}) YIELD cycle_id, node
            |RETURN cycle_id, node % 281474976710656 AS nk
            |ORDER BY cycle_id, nk""".stripMargin)
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(0 AS BIGINT), CAST(0 AS BIGINT)), (0, 1), (0, 2),
             |  (0, 3), (1, 4), (1, 5), (1, 6)) AS t(cycle_id, nk)
             |ORDER BY cycle_id, nk""".stripMargin)),

    // Biconnected components (biconnected_components_module) on the same
    // created graph: each ring is one component, each tail edge its own
    // singleton — closed-form whatever the contraction order.
    QueryDef(
      "call_biconnected",
      (s, dir) => {
        val e1 = Cypher.execute(
          s,
          g(s, dir),
          """CREATE (a0:BccV)-[:BccE]->(a1:BccV)-[:BccE]->(a2:BccV)
            |       -[:BccE]->(a3:BccV)-[:BccE]->(a0),
            |       (b0:BccV)-[:BccE]->(b1:BccV)-[:BccE]->(b2:BccV)
            |       -[:BccE]->(b0),
            |       (a0)-[:BccE]->(t1:BccV)-[:BccE]->(t2:BccV)""".stripMargin)
        Cypher.run(
          s,
          e1.graph,
          """CALL algo.biconnected({type: 'BccE'}) YIELD bcc_id, src, dst
            |RETURN bcc_id, src % 281474976710656 AS a,
            |       dst % 281474976710656 AS b
            |ORDER BY bcc_id, a, b""".stripMargin)
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)),
             |  (0, 0, 3), (0, 1, 2), (0, 2, 3),
             |  (1, 4, 5), (1, 4, 6), (1, 5, 6),
             |  (2, 0, 7), (3, 7, 8)) AS t(bcc_id, a, b)
             |ORDER BY bcc_id, a, b""".stripMargin)),

    // Biconnected components on shapes OUTSIDE the r7 contraction class —
    // the r8 generality gate (Biconnected: BFS forest + chord-to-LCA aux
    // components). One graph exercises all the former failure modes at
    // once: a K4 (dense 2-core — the old operator raised), a bridge into
    // a THETA graph (one true component that resolves across multiple
    // contraction events — the old labeling split it), and a parallel
    // edge pair (the old proc rejected parallel input outright).
    // Closed-form whatever spanning tree BFS picks.
    QueryDef(
      "call_biconnected_dense",
      (s, dir) => {
        val e1 = Cypher.execute(
          s,
          g(s, dir),
          """CREATE (a0:DnV)-[:DnE]->(a1:DnV), (a0)-[:DnE]->(a2:DnV),
            |       (a0)-[:DnE]->(a3:DnV), (a1)-[:DnE]->(a2),
            |       (a1)-[:DnE]->(a3), (a2)-[:DnE]->(a3),
            |       (a3)-[:DnE]->(c0:DnV),
            |       (c0)-[:DnE]->(x:DnV)-[:DnE]->(c1:DnV),
            |       (c0)-[:DnE]->(y:DnV)-[:DnE]->(c1),
            |       (c0)-[:DnE]->(z1:DnV)-[:DnE]->(z2:DnV)-[:DnE]->(c1),
            |       (c1)-[:DnE]->(d0:DnV), (c1)-[:DnE]->(d0)""".stripMargin)
        Cypher.run(
          s,
          e1.graph,
          """CALL algo.biconnected({type: 'DnE'}) YIELD bcc_id, src, dst
            |RETURN bcc_id, src % 281474976710656 AS a,
            |       dst % 281474976710656 AS b
            |ORDER BY bcc_id, a, b""".stripMargin)
      },
      // K4 = one bcc; the a3→c0 bridge a singleton; the theta (three
      // disjoint c0→c1 paths of lengths 2, 2, 3) = ONE bcc; the doubled
      // c1→d0 pair = one 2-cycle bcc (two identical output rows)
      Some("""SELECT * FROM (VALUES
             |  (CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)),
             |  (0, 0, 2), (0, 0, 3), (0, 1, 2), (0, 1, 3), (0, 2, 3),
             |  (1, 3, 4),
             |  (2, 4, 5), (2, 4, 7), (2, 4, 8), (2, 5, 6), (2, 6, 7),
             |  (2, 6, 9), (2, 8, 9),
             |  (3, 6, 10), (3, 6, 10)) AS t(bcc_id, a, b)
             |ORDER BY bcc_id, a, b""".stripMargin)),

    // Bridges on the same dense graph (K4 core, theta, parallel pair):
    // exactly one bridge, the K4→theta connector.
    QueryDef(
      "call_bridges_dense",
      (s, dir) => {
        val e1 = Cypher.execute(
          s,
          g(s, dir),
          """CREATE (a0:DbV)-[:DbE]->(a1:DbV), (a0)-[:DbE]->(a2:DbV),
            |       (a0)-[:DbE]->(a3:DbV), (a1)-[:DbE]->(a2),
            |       (a1)-[:DbE]->(a3), (a2)-[:DbE]->(a3),
            |       (a3)-[:DbE]->(c0:DbV),
            |       (c0)-[:DbE]->(x:DbV)-[:DbE]->(c1:DbV),
            |       (c0)-[:DbE]->(y:DbV)-[:DbE]->(c1),
            |       (c0)-[:DbE]->(z1:DbV)-[:DbE]->(z2:DbV)-[:DbE]->(c1),
            |       (c1)-[:DbE]->(d0:DbV), (c1)-[:DbE]->(d0)""".stripMargin)
        Cypher.run(
          s,
          e1.graph,
          """CALL algo.bridges({type: 'DbE'}) YIELD src, dst
            |RETURN src % 281474976710656 AS a, dst % 281474976710656 AS b
            |ORDER BY a, b""".stripMargin)
      },
      Some("""SELECT CAST(3 AS BIGINT) AS a, CAST(4 AS BIGINT) AS b""")),

    // neighbors.at_hop (neighbors_module/algorithm/neighbors.cpp:53):
    // nodes at EXACTLY the given hop under direction-marked types, layers
    // excluding everything seen earlier. From m0 via outgoing NgA /
    // incoming NgB: hop 1 = {m1, m5}, hop 2 = {m2, m3, m4} (the m2→m0
    // back-edge may not resurface m0).
    QueryDef(
      "call_neighbors",
      (s, dir) => {
        val e1 = Cypher.execute(
          s,
          g(s, dir),
          """CREATE (m0:NgV)-[:NgA]->(m1:NgV)-[:NgA]->(m2:NgV),
            |       (m1)-[:NgA]->(m3:NgV),
            |       (m4:NgV)-[:NgB]->(m1),
            |       (m5:NgV)-[:NgB]->(m0),
            |       (m2)-[:NgA]->(m0)""".stripMargin)
        val start = Cypher
          .run(s, e1.graph, "MATCH (n:NgV) RETURN id(n) AS i ORDER BY i")
          .collect()(0).getLong(0)
        Cypher.run(
          s,
          e1.graph,
          s"""CALL neighbors.at_hop({node: $start,
             |  rel_types: ['NgA>', '<NgB'], distance: 2})
             |YIELD node RETURN node % 281474976710656 AS nk
             |ORDER BY nk""".stripMargin)
      },
      Some("""SELECT * FROM (VALUES (CAST(2 AS BIGINT)), (3), (4)) t(nk)
             |ORDER BY nk""".stripMargin)),

    // neighbors.by_hop (neighbors.cpp:107): one record per hop 1..d.
    QueryDef(
      "call_neighbors_by",
      (s, dir) => {
        val e1 = Cypher.execute(
          s,
          g(s, dir),
          """CREATE (m0:NhV)-[:NhA]->(m1:NhV)-[:NhA]->(m2:NhV),
            |       (m1)-[:NhA]->(m3:NhV),
            |       (m4:NhV)-[:NhB]->(m1),
            |       (m5:NhV)-[:NhB]->(m0),
            |       (m2)-[:NhA]->(m0)""".stripMargin)
        val start = Cypher
          .run(s, e1.graph, "MATCH (n:NhV) RETURN id(n) AS i ORDER BY i")
          .collect()(0).getLong(0)
        Cypher.run(
          s,
          e1.graph,
          s"""CALL neighbors.by_hop({node: $start,
             |  rel_types: ['NhA>', '<NhB'], distance: 2})
             |YIELD hop, nodes
             |UNWIND nodes AS n
             |RETURN hop, n % 281474976710656 AS nk
             |ORDER BY hop, nk""".stripMargin)
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT)), (1, 5),
             |  (2, 2), (2, 3), (2, 4)) t(hop, nk)
             |ORDER BY hop, nk""".stripMargin)),

    // path.expand (path_module/algorithm/path.cpp PathExpand::DFS):
    // whitelist `+PgW` gates continuation, blacklist `-PgB` prunes its
    // branch, end-label `>PgE` restricts EMISSION to terminal hits while
    // expansion keeps going; edge-instance uniqueness, start node exempt
    // from the continuation filter. Emits (via w1): e2 at hop 2 and e at
    // hop 3; the b-branch never fires.
    QueryDef(
      "call_path_expand",
      (s, dir) => {
        val e1 = Cypher.execute(
          s,
          g(s, dir),
          """CREATE (s:PgS)-[:PgR]->(w1:PgW)-[:PgR]->(w2:PgW)
            |       -[:PgR]->(e:PgE),
            |       (s)-[:PgR]->(b:PgB)-[:PgR]->(w2),
            |       (w1)-[:PgR]->(e2:PgE),
            |       (w1)-[:PgR]->(t:PgT)""".stripMargin)
        val start = Cypher
          .run(s, e1.graph, "MATCH (n:PgS) RETURN id(n) AS i")
          .collect()(0).getLong(0)
        Cypher.run(
          s,
          e1.graph,
          s"""CALL path.expand({node: $start, relationships: ['PgR>'],
             |  labels: ['+PgW', '-PgB', '>PgE'], minHops: 0, maxHops: 4})
             |YIELD last, hops
             |RETURN last % 281474976710656 AS nk, hops
             |ORDER BY nk, hops""".stripMargin)
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(3 AS BIGINT), CAST(3 AS BIGINT)), (5, 2)) t(nk, hops)
             |ORDER BY nk, hops""".stripMargin)),

    // path.subgraph_nodes (path.cpp PathSubgraph::BFS): first-discovery
    // BFS; a blacklisted node is neither returned nor expanded, the
    // unfiltered start bypasses its own label check, maxHops truncates.
    QueryDef(
      "call_path_subgraph",
      (s, dir) => {
        val e1 = Cypher.execute(
          s,
          g(s, dir),
          """CREATE (s:PhS)-[:PhR]->(w1:PhW)-[:PhR]->(w2:PhW)
            |       -[:PhR]->(e:PhE),
            |       (s)-[:PhR]->(b:PhB)-[:PhR]->(w2),
            |       (w1)-[:PhR]->(e2:PhE),
            |       (w1)-[:PhR]->(t:PhT)""".stripMargin)
        val start = Cypher
          .run(s, e1.graph, "MATCH (n:PhS) RETURN id(n) AS i")
          .collect()(0).getLong(0)
        Cypher.run(
          s,
          e1.graph,
          s"""CALL path.subgraph_nodes({node: $start,
             |  relationshipFilter: ['PhR>'], labelFilter: ['-PhB'],
             |  maxHops: 2})
             |YIELD node, hop
             |RETURN node % 281474976710656 AS nk, hop
             |ORDER BY nk""".stripMargin)
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(0 AS BIGINT), CAST(0 AS BIGINT)), (1, 1), (2, 2),
             |  (5, 2), (6, 2)) t(nk, hop)
             |ORDER BY nk""".stripMargin)),

    // refactor_module chain: rename_label → rename_type → invert →
    // rename_node_property → normalize_as_boolean, observed through the
    // final graph version (write procedures thread GraphState through the
    // planner). After inverting, edges run b→a and c→b; both RfNew nodes
    // carry the normalized boolean q.
    QueryDef(
      "call_refactor",
      (s, dir) => {
        var st = Cypher.execute(
          s,
          g(s, dir),
          """CREATE (a:RfOld {p: 'yes'})-[:RfT]->(b:RfOld {p: 'no'}),
            |       (b)-[:RfT]->(c:RfKeep {p: 'maybe'})""".stripMargin).graph
        Seq(
          """CALL refactor.rename_label({old: 'RfOld', new: 'RfNew'})
            |YIELD nodes_changed RETURN nodes_changed""".stripMargin,
          """CALL refactor.rename_type({old: 'RfT', new: 'RfS'})
            |YIELD relationships_changed RETURN relationships_changed""".stripMargin,
          """CALL refactor.invert({type: 'RfS'})
            |YIELD relationships_changed RETURN relationships_changed""".stripMargin,
          """CALL refactor.rename_node_property({old: 'p', new: 'q',
            |  label: 'RfNew'}) YIELD properties_changed
            |RETURN properties_changed""".stripMargin,
          """CALL refactor.normalize_as_boolean({prop: 'q',
            |  true_values: ['yes'], false_values: ['no'],
            |  label: 'RfNew'})
            |YIELD entities_changed RETURN entities_changed""".stripMargin
        ).foreach(q => st = Cypher.execute(s, st, q).graph)
        Cypher.run(
          s,
          st,
          """MATCH (x)-[:RfS]->(y:RfNew)
            |RETURN y.q AS q ORDER BY q""".stripMargin)
      },
      Some("SELECT * FROM (VALUES (false), (true)) t(q) ORDER BY q")),

    // union_find.connected (src/mage/python/union_find.py): pairwise
    // same-component tests backed by the WCC fixpoint. Components
    // {u0,u1,u2} and {u3,u4}.
    QueryDef(
      "call_union_find",
      (s, dir) => {
        val e1 = Cypher.execute(
          s,
          g(s, dir),
          """CREATE (u0:UfV)-[:UfE]->(u1:UfV)-[:UfE]->(u2:UfV),
            |       (u3:UfV)-[:UfE]->(u4:UfV)""".stripMargin)
        val ids = Cypher
          .run(s, e1.graph, "MATCH (n:UfV) RETURN id(n) AS i ORDER BY i")
          .collect().map(_.getLong(0))
        Cypher.run(
          s,
          e1.graph,
          s"""CALL union_find.connected({
             |  nodes1: [${ids(0)}, ${ids(0)}, ${ids(3)}],
             |  nodes2: [${ids(2)}, ${ids(3)}, ${ids(4)}],
             |  mode: 'pairwise', label: 'UfV', type: 'UfE'})
             |YIELD node1, node2, connected
             |RETURN node1 % 281474976710656 AS a,
             |       node2 % 281474976710656 AS b, connected
             |ORDER BY a, b""".stripMargin)
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(0 AS BIGINT), CAST(2 AS BIGINT), true),
             |  (0, 3, false), (3, 4, true)) t(a, b, connected)
             |ORDER BY a, b""".stripMargin)),

    // max_flow.get_flow (src/mage/python/max_flow.py): Ford-Fulkerson
    // with capacity scaling. Source f0, sink f3, caps 3/2/1/2/3 →
    // max flow 5 (both source edges saturate).
    QueryDef(
      "call_max_flow",
      (s, dir) => {
        val e1 = Cypher.execute(
          s,
          g(s, dir),
          """CREATE (f0:FmV)-[:FmE {w: 3}]->(f1:FmV),
            |       (f0)-[:FmE {w: 2}]->(f2:FmV),
            |       (f1)-[:FmE {w: 1}]->(f2),
            |       (f1)-[:FmE {w: 2}]->(f3:FmV),
            |       (f2)-[:FmE {w: 3}]->(f3)""".stripMargin)
        val ids = Cypher
          .run(s, e1.graph, "MATCH (n:FmV) RETURN id(n) AS i ORDER BY i")
          .collect().map(_.getLong(0))
        Cypher.run(
          s,
          e1.graph,
          s"""CALL max_flow.get_flow({source: ${ids(0)}, sink: ${ids(3)},
             |  weightProp: 'w', type: 'FmE'})
             |YIELD max_flow RETURN max_flow""".stripMargin)
      },
      Some("SELECT CAST(5.0 AS DOUBLE) AS max_flow")),

    // graph_util.topological_sort (graph_util_module/algorithms/
    // topological_sort.hpp) as deterministic level-peeling. Edges
    // v2→v0→v3→v1 with skips v2→v3, v0→v1: the topological order is
    // UNIQUE ([2,0,3,1]), so any correct Kahn variant must produce it.
    QueryDef(
      "call_topo_sort",
      (s, dir) => {
        val e1 = Cypher.execute(
          s,
          g(s, dir),
          """CREATE (v0:TsV), (v1:TsV), (v2:TsV), (v3:TsV),
            |       (v2)-[:TsE]->(v0), (v0)-[:TsE]->(v3),
            |       (v3)-[:TsE]->(v1), (v2)-[:TsE]->(v3),
            |       (v0)-[:TsE]->(v1)""".stripMargin)
        Cypher.run(
          s,
          e1.graph,
          """CALL graph_util.topological_sort({label: 'TsV', type: 'TsE'})
            |YIELD sorted_nodes
            |RETURN sorted_nodes[0] % 281474976710656 AS p0,
            |       sorted_nodes[1] % 281474976710656 AS p1,
            |       sorted_nodes[2] % 281474976710656 AS p2,
            |       sorted_nodes[3] % 281474976710656 AS p3""".stripMargin)
      },
      Some("""SELECT CAST(2 AS BIGINT) AS p0, CAST(0 AS BIGINT) AS p1,
             |       CAST(3 AS BIGINT) AS p2, CAST(1 AS BIGINT) AS p3""".stripMargin)),

    // graph_util.ancestors / descendants (ancestors.hpp/descendants.hpp):
    // full reachability, start excluded. d4→d0→{d1→d2, d3}.
    QueryDef(
      "call_gu_reach",
      (s, dir) => {
        val e1 = Cypher.execute(
          s,
          g(s, dir),
          """CREATE (d0:GuV)-[:GuE]->(d1:GuV)-[:GuE]->(d2:GuV),
            |       (d0)-[:GuE]->(d3:GuV),
            |       (d4:GuV)-[:GuE]->(d0)""".stripMargin)
        val id0 = Cypher
          .run(s, e1.graph, "MATCH (n:GuV) RETURN id(n) AS i ORDER BY i")
          .collect()(0).getLong(0)
        Cypher.run(
          s,
          e1.graph,
          s"""CALL graph_util.descendants({node: $id0, type: 'GuE'})
             |YIELD descendants
             |CALL graph_util.ancestors({node: $id0, type: 'GuE'})
             |YIELD ancestors
             |UNWIND descendants AS dn
             |RETURN dn % 281474976710656 AS nk, size(ancestors) AS n_anc,
             |       ancestors[0] % 281474976710656 AS anc0
             |ORDER BY nk""".stripMargin)
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(4 AS BIGINT)),
             |  (2, 1, 4), (3, 1, 4)) t(nk, n_anc, anc0)
             |ORDER BY nk""".stripMargin)),

    // graph_util.connect_nodes: edge instances whose both endpoints are
    // in the given list.
    QueryDef(
      "call_gu_connect",
      (s, dir) => {
        val e1 = Cypher.execute(
          s,
          g(s, dir),
          """CREATE (c0:GcV)-[:GcE]->(c1:GcV)-[:GcE]->(c2:GcV),
            |       (c0)-[:GcE]->(c3:GcV)""".stripMargin)
        val ids = Cypher
          .run(s, e1.graph, "MATCH (n:GcV) RETURN id(n) AS i ORDER BY i")
          .collect().map(_.getLong(0))
        Cypher.run(
          s,
          e1.graph,
          s"""CALL graph_util.connect_nodes({
             |  nodes: [${ids(0)}, ${ids(1)}, ${ids(3)}]})
             |YIELD src, dst, rel_type
             |RETURN src % 281474976710656 AS a, dst % 281474976710656 AS b,
             |       rel_type
             |ORDER BY a, b""".stripMargin)
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(0 AS BIGINT), CAST(1 AS BIGINT), 'GcE'),
             |  (0, 3, 'GcE')) t(a, b, rel_type)
             |ORDER BY a, b""".stripMargin))
  )

  /** Louvain DP: one CTE chain per round — community volumes, per-(node,
    * candidate-community) edge counts (own community always a candidate at
    * w ≥ 0), integer gain score, argmax by (score desc, community asc).
    * Mirrors Procedures.louvain exactly. */
  private def louvainOracle(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      val p = s"c${i - 1}"
      s"""vol$i AS MATERIALIZED (
         |  SELECT community, sum(deg) AS vol FROM $p GROUP BY community),
         |cd$i AS MATERIALIZED (
         |  SELECT node, cand, max(w) AS w FROM (
         |    SELECT u.src AS node, q.community AS cand, count(*) AS w
         |    FROM und u JOIN $p q ON q.node = u.dst
         |    GROUP BY u.src, q.community
         |    UNION ALL
         |    SELECT node, community, 0 FROM $p)
         |  GROUP BY node, cand),
         |c$i AS MATERIALIZED (
         |  SELECT node, deg, community FROM (
         |    SELECT d.node, q.deg, d.cand AS community,
         |      row_number() OVER (PARTITION BY d.node ORDER BY
         |        (SELECT m2 FROM mm) * d.w
         |          - q.deg * (v.vol - CASE WHEN d.cand = q.community
         |                                  THEN q.deg ELSE 0 END) DESC,
         |        d.cand ASC) AS rn
         |    FROM cd$i d
         |    JOIN $p q ON q.node = d.node
         |    JOIN vol$i v ON v.community = d.cand)
         |  WHERE rn = 1)""".stripMargin
    }
    s"""WITH ${knowsEdges(6)},
       |und AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)
       |  WHERE src <> dst),
       |mm AS (SELECT greatest(count(*), 1) AS m2 FROM und),
       |allp AS MATERIALIZED (SELECT c_custkey AS node FROM customer),
       |degs AS MATERIALIZED (
       |  SELECT a.node, coalesce(d.deg, 0) AS deg FROM allp a
       |  LEFT JOIN (SELECT src AS node, count(*) AS deg FROM und
       |             GROUP BY src) d ON d.node = a.node),
       |c0 AS MATERIALIZED (SELECT node, deg, node AS community FROM degs),
       |${rounds.mkString(",\n")},
       |sizes AS (
       |  SELECT community, count(*) AS sz FROM c$iters GROUP BY community)
       |SELECT count(*) AS n_comm, CAST(sum(sz) AS BIGINT) AS n_nodes,
       |       max(sz) AS max_sz, min(sz) AS min_sz,
       |       count(CASE WHEN sz = 1 THEN 1 END) AS n_single
       |FROM sizes""".stripMargin
  }
}
