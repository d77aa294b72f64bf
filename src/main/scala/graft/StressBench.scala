package graft

import org.apache.spark.sql.SparkSession

import graft.cypher.Cypher
import graft.sources.StressGraphLoader

/** Supernode/cartesian stress bench (reference
  * `tests/mgbench/workloads/supernode.py` / `cartesian.py`): runs the
  * hub-vertex MERGE/UNWIND shapes at the reference's CARDINALITY (50k)
  * AND at a ~1M-incident-edge hub, plus the cartesian join shapes at 1k
  * and 10k nodes, printing per-size seconds so the scale curve is in the
  * artifact — the point is that a 20× hub produces ~linear (never
  * quadratic) time, because MERGE anti-joins on the per-row-unique edge
  * identity and SET collapses same-node updates map-side before its
  * 1-row join.
  *
  * Env: STRESS_PASSES (default 3), STRESS_BENCH_OUT (optional file copy).
  */
object StressBench {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.get("STRESS_PASSES").map(_.toInt).getOrElse(3).max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    def time(thunk: () => Long): Double = {
      var best = Double.MaxValue
      for (_ <- 1 to passes) {
        val t0 = System.nanoTime()
        thunk()
        val sec = (System.nanoTime() - t0) / 1e9
        if (sec < best) best = sec
      }
      best
    }

    def supernode(n: Long): Seq[(String, Double)] = {
      val g = StressGraphLoader.supernode(spark, n)
      Seq(
        "merge_supernode_edges" -> time(() =>
          Cypher.execute(
            spark, g, "MATCH (s:Supernode), (n:Node) MERGE (s)<-[:EDGE]-(n)")
            .graph.edges("EDGE").count()),
        "merge_supernode_edges_other_way" -> time(() =>
          Cypher.execute(
            spark, g, "MATCH (s:Supernode), (n:Node) MERGE (n)-[:EDGE]->(s)")
            .graph.edges("EDGE").count()),
        "unwind_supernode_with_writes" -> time(() =>
          Cypher.execute(
            spark, g,
            s"UNWIND range(1, $n) AS x MATCH (s:Supernode) SET s.prop = x")
            .graph.nodes("Supernode").count()))
    }

    def cartesian(n: Long): Seq[(String, Double)] = {
      val g = StressGraphLoader.cartesian(spark, n)
      def run(q: String): () => Long = () => Cypher.run(spark, g, q).count()
      Seq(
        "plain_cartesian_filtering" -> time(run(
          """MATCH (n1:Node), (n2:Node) WHERE n1.id < 100 AND n2.id < 100
            |RETURN n1.id AS id1, n2.id AS id2""".stripMargin)),
        "plain_cartesian_join" -> time(run(
          "MATCH (n1:Node), (n2:Node) WHERE n1.id = n2.id RETURN n1.id AS i, n2.id2 AS j")),
        "plain_cartesian_different_props_join" -> time(run(
          "MATCH (n1:Node), (n2:Node) WHERE n1.id = n2.id2 RETURN n1.id AS i, n2.id AS j")))
    }

    def loadavg: Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+").head.toDouble
      catch { case _: Throwable => -1.0 }

    def r3(v: Double): String = "%.3f".format(v)
    def fmt(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"$k\":${r3(v)}" }.mkString("{", ",", "}")

    val sizes = Seq(
      "supernode_50k" -> supernode(50000L),
      "supernode_1m" -> supernode(1000000L),
      "cartesian_1k" -> cartesian(1000L),
      "cartesian_10k" -> cartesian(10000L))
    val body = sizes
      .map { case (k, rs) => s"\"$k\":${fmt(rs)}" }
      .mkString("{", ",", "}")
    val json =
      s"""{"workload":"stress","sizes":$body,"passes":$passes,"loadavg":$loadavg}"""
    sys.env.get("STRESS_BENCH_OUT").foreach { out =>
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(out), json.getBytes("UTF-8"))
      catch { case _: Throwable => () }
    }
    println(json)
    spark.stop()
  }
}
