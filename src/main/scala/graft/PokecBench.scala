package graft

import org.apache.spark.sql.SparkSession

import graft.cypher.Cypher
import graft.sources.PokecGraphLoader

/** mgbench pokec workload bench (reference
  * `tests/mgbench/workloads/pokec.py` + `benchmark.py`): runs the
  * reference's query groups against a pokec-profile power-law graph
  * (`tools/pokec_gen.py`, small = 10k users / 122k edges, medium = 100k /
  * 1.77M — the reference's SIZES at pokec.py:37-41) and prints one JSON
  * line per BASELINE.md's reporting shape: per-group seconds + effective
  * queries/sec.
  *
  * Per BASELINE.md §Interpretation, the point-read/write groups are
  * evaluated in their BATCHED form — one vectorized statement over a
  * deterministic parameter sequence (mgbench's analog: a deterministic
  * random-argument stream fanned over `--num-workers` Bolt clients;
  * Spark's unit of concurrency is the job, not the client, so the batch
  * IS the workload). Single-pair BFS queries run per-pair like the
  * reference client does (Spark's per-job floor is part of the honest
  * number). Analytical/aggregate groups run single-shot min-of-N.
  *
  * Env: POKEC_DIR (default /tmp/pokec_small), SPARK_GRAFT_CPUS,
  * POKEC_PASSES (default 3), POKEC_BENCH_OUT (optional file copy).
  */
object PokecBench {

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("POKEC_DIR", "/tmp/pokec_small")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val passes = sys.env.get("POKEC_PASSES").map(_.toInt).getOrElse(3).max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    val g = PokecGraphLoader(spark, dir)
    val nUsers = g.nodes("User").count()
    val nEdges = g.edges("FRIEND").count()
    g.allEdges.count() // read every edge frame once before the timed groups

    val n = nUsers
    def lcg(k: Long, a: Long, c: Long): Long = (k * a + c) % n

    // Batched point-read groups: one vectorized statement over B sources.
    def batched(hops: String, b: Int, filter: Boolean = false): String = {
      val ageCond = if (filter) "n.age >= 18 AND " else ""
      s"""MATCH (u:User) WITH count(u) AS nn
         |UNWIND range(0, ${b - 1}) AS k
         |WITH (k * 97 + 13) % nn AS tid
         |MATCH (s:User)$hops(n:User) WHERE ${ageCond}s.id = tid
         |RETURN tid AS src, count(DISTINCT n.id) AS cnt""".stripMargin
    }

    // (query name, group, batch size for qps, thunk)
    val entries: Seq[(String, String, Long, () => Long)] = {
      def run(q: String): () => Long = () => Cypher.run(spark, g, q).count()
      Seq(
        ("expansion_1", "expansion", 500L,
          run(batched("-->", 500))),
        ("expansion_1_with_filter", "expansion", 500L,
          run(batched("-->", 500, filter = true))),
        ("expansion_2", "expansion", 100L,
          run(batched("-->()-->", 100))),
        ("expansion_2_with_filter", "expansion", 100L,
          run(batched("-->()-->", 100, filter = true))),
        ("expansion_3", "expansion", 20L,
          run(batched("-->()-->()-->", 20))),
        ("expansion_3_with_filter", "expansion", 20L,
          run(batched("-->()-->()-->", 20, filter = true))),
        ("expansion_4", "expansion", 10L,
          run(batched("-->()-->()-->()-->", 10))),
        ("expansion_4_with_filter", "expansion", 10L,
          run(batched("-->()-->()-->()-->", 10, filter = true))),
        ("neighbours_2", "neighbours", 100L,
          run(batched("-[*1..2]->", 100))),
        ("neighbours_2_with_filter", "neighbours", 100L,
          run(batched("-[*1..2]->", 100, filter = true))),
        ("neighbours_2_with_data", "neighbours", 100L, run(
          """MATCH (u:User) WITH count(u) AS nn
            |UNWIND range(0, 99) AS k
            |WITH (k * 97 + 13) % nn AS tid
            |MATCH (s:User)-[*1..2]->(n:User) WHERE s.id = tid
            |RETURN DISTINCT tid AS src, n.id AS id, n.age AS age,
            |       n.gender AS gender, n.completion_percentage AS cp""".stripMargin)),
        ("neighbours_2_with_data_and_filter", "neighbours", 100L, run(
          """MATCH (u:User) WITH count(u) AS nn
            |UNWIND range(0, 99) AS k
            |WITH (k * 97 + 13) % nn AS tid
            |MATCH (s:User)-[*1..2]->(n:User) WHERE n.age >= 18 AND s.id = tid
            |RETURN DISTINCT tid AS src, n.id AS id, n.age AS age,
            |       n.gender AS gender, n.completion_percentage AS cp""".stripMargin)),
        ("pattern_cycle", "match", 100L, run(
          """MATCH (u:User) WITH count(u) AS nn
            |UNWIND range(0, 99) AS k
            |WITH (k * 97 + 13) % nn AS tid
            |MATCH (s:User)-[e1]->(m)-[e2]->(s2:User)
            |WHERE s.id = tid AND s2.id = tid
            |RETURN tid AS src, count(*) AS n_cycles""".stripMargin)),
        ("pattern_short", "match", 500L, run(
          """MATCH (u:User) WITH count(u) AS nn
            |UNWIND range(0, 499) AS k
            |WITH (k * 97 + 13) % nn AS tid
            |MATCH (s:User)-[e]->(m) WHERE s.id = tid
            |RETURN tid AS src, min(m.id) AS id""".stripMargin)),
        // The reference's pattern_long is `RETURN n5 LIMIT 1` — an
        // existence PROBE that a lazy engine answers after the first
        // match. A batched count(*) would instead enumerate the full
        // quartic path volume (36 s at medium, 28x the small point —
        // measured before this change). Run it per-source with LIMIT 1
        // like the reference client: Spark's LocalLimit(1) stops each
        // partition's iterator after one row, so the probe early-exits.
        ("pattern_long", "match", 20L, () => {
          var rows = 0L
          for (k <- 0 until 20) {
            val tid = lcg(k.toLong, 97L, 13L)
            rows += Cypher.run(
              spark, g,
              s"""MATCH (n1:User)-[e1]->(n2)-[e2]->(n3)-[e3]->(n4)<-[e4]-(n5)
                 |WHERE n1.id = $tid
                 |RETURN n5.id AS id LIMIT 1""".stripMargin).count()
          }
          rows
        }),
        ("vertex_on_label_property_index", "match", 500L, run(
          """MATCH (u:User) WITH count(u) AS nn
            |UNWIND range(0, 499) AS k
            |WITH (k * 97 + 13) % nn AS tid
            |MATCH (s:User) WHERE s.id = tid
            |RETURN s.id AS id, s.age AS age""".stripMargin)),
        ("aggregation_count", "aggregation", 1L,
          run("MATCH (s) RETURN count(s) AS cnt, count(s.age) AS cnt_age")),
        ("aggregation_min_max_avg", "aggregation", 1L,
          run("MATCH (s) RETURN min(s.age) AS mn, max(s.age) AS mx, avg(s.age) AS av")),
        ("aggregate", "aggregation", 1L,
          run("MATCH (s:User) RETURN s.age AS age, count(*) AS cnt")),
        ("aggregate_with_filter", "aggregation", 1L,
          run("MATCH (s:User) WHERE s.age >= 18 RETURN s.age AS age, count(*) AS cnt")),
        // BFS pairs run per-pair like the reference's client (each is one
        // job; the per-job floor is part of Spark's honest number here).
        ("shortest_path", "shortest_path", 10L, () => {
          var rows = 0L
          for (k <- 0 until 10) {
            val from = lcg(k.toLong, 9973L, 31L)
            val to = lcg(k.toLong, 7919L, 57L)
            if (from != to) {
              rows += Cypher.run(
                spark, g,
                s"""MATCH (a:User), (b:User) WHERE a.id = $from AND b.id = $to
                   |MATCH p = (a)-[*BFS..15]->(b)
                   |RETURN size(nodes(p)) - 1 AS hops""".stripMargin).count()
            }
          }
          rows
        }),
        ("shortest_path_with_filter", "shortest_path", 10L, () => {
          var rows = 0L
          for (k <- 0 until 10) {
            val from = lcg(k.toLong, 9973L, 31L)
            val to = lcg(k.toLong, 7919L, 57L)
            if (from != to) {
              rows += Cypher.run(
                spark, g,
                s"""MATCH (a:User), (b:User) WHERE a.id = $from AND b.id = $to
                   |MATCH p = (a)-[*BFS..15 (e, v | v.age >= 18)]->(b)
                   |RETURN size(nodes(p)) - 1 AS hops""".stripMargin).count()
            }
          }
          rows
        }),
        ("allshortest_paths", "shortest_path", 10L, () => {
          var rows = 0L
          for (k <- 0 until 10) {
            val from = lcg(k.toLong, 9973L, 31L)
            val to = lcg(k.toLong, 7919L, 57L)
            if (from != to) {
              rows += Cypher.run(
                spark, g,
                s"""MATCH (a:User), (b:User) WHERE a.id = $from AND b.id = $to
                   |MATCH p = (a)-[*ALLSHORTEST ..2 (r, v | 1) w]->(b)
                   |RETURN count(*) AS n_paths""".stripMargin).count()
            }
          }
          rows
        }),
        // Write groups, batched (each pass mutates a FRESH snapshot off the
        // shared base state — GraphState is immutable, so passes don't
        // accumulate).
        ("create_edge", "write", 500L, () => {
          Cypher.execute(
            spark, g,
            """MATCH (u:User) WITH count(u) AS nn
              |UNWIND range(0, 499) AS k
              |WITH (k * 97 + 13) % nn AS aid, (k * 211 + 7) % nn AS bid
              |MATCH (a:User), (b:User) WHERE a.id = aid AND b.id = bid
              |CREATE (a)-[:TempEdge]->(b)""".stripMargin).graph
            .edges("TempEdge").count()
        }),
        ("create_vertex", "write", 500L, () => {
          Cypher.execute(
            spark, g,
            """UNWIND range(0, 499) AS k
              |CREATE (:UserTemp {id: 1000000 + k})""".stripMargin).graph
            .nodes("UserTemp").count()
        }),
        ("update_property", "write", 500L, () => {
          Cypher.execute(
            spark, g,
            """MATCH (u:User) WITH count(u) AS nn
              |UNWIND range(0, 499) AS k
              |WITH (k * 97 + 13) % nn AS tid
              |MATCH (s:User) WHERE s.id = tid SET s.property = -1""".stripMargin)
            .graph.nodes("User").filter("property = -1").count()
        }))
    }

    def loadavg: Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+").head.toDouble
      catch { case _: Throwable => -1.0 }

    var failed = List.empty[String]
    val results = entries.map { case (name, grp, batch, thunk) =>
      var best = Double.MaxValue
      for (_ <- 1 to passes if !failed.contains(name)) {
        val t0 = System.nanoTime()
        try thunk()
        catch {
          case e: Throwable =>
            failed ::= name
            System.err.println(s"[pokec-bench] $name FAILED: ${e.getMessage}")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        if (sec < best) best = sec
        graft.operators.Scratch.sweep()
      }
      (name, grp, batch, best)
    }

    def r3(v: Double): String = "%.3f".format(v)
    val byGroup = results.groupBy(_._2).toSeq.sortBy(_._1).map {
      case (grp, rs) => s"\"" + grp + "\":" + r3(rs.map(_._4).sum)
    }.mkString("{", ",", "}")
    val qs = results.map { case (name, _, batch, sec) =>
      val qps = if (sec > 0) batch / sec else 0.0
      s"\"$name\":{\"sec\":${r3(sec)},\"batch\":$batch,\"qps\":${r3(qps)}}"
    }.mkString("{", ",", "}")
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._4).sum
    val json =
      s"""{"workload":"pokec","dir":"$dir","n_users":$nUsers,"n_edges":$nEdges,"metric":"total","value":${r3(total)},"unit":"sec","groups":$byGroup,"queries":$qs,"errors":$errs,"passes":$passes,"loadavg":$loadavg}"""
    sys.env.get("POKEC_BENCH_OUT").foreach { out =>
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(out), json.getBytes("UTF-8"))
      catch { case _: Throwable => () }
    }
    println(json)
    spark.stop()
  }
}
