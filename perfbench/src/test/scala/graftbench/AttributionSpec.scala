package graftbench

import java.util.{LinkedHashMap => JMap}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraphState
import graft.cypher.Cypher

class AttributionSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  private def graph: GraphState =
    Cypher.execute(spark, GraphState(Map.empty, Map.empty),
      "CREATE (a:P {k: 1})-[:R]->(b:P {k: 2}), (b)-[:R]->(:Q {k: 3})").graph

  test("jobs CALL meta.stats() submits from pooled futures count for the statement") {
    val g = graph
    val spans = new Spans
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val o = new Main.Client(spark, Some(spans))
      .run(0, "CALL meta.stats() YIELD labelCount RETURN labelCount", g)
    org.apache.spark.graftbench.BusAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    assert(o.error.isEmpty, o.error)
    val rec = new JMap[String, AnyRef]()
    rec.put("i", Int.box(0))
    Attribution.attach(spans, listener, Seq(rec))
    def jobs(k: String) = Option(rec.get(k)).fold(0.0)(_.asInstanceOf[Double])
    assert(jobs("jobs_total") > 0, rec)
    assert(jobs("jobs_procedures") > 0, rec)
    assert(spans.all.exists(_.name == "job.procedures"))
  }

  test("the layer-by-layer path matches Cypher.execute along a write chain") {
    val stmts = Seq(
      "CREATE (:P {k: 10})",
      "MATCH (p:P {k: 10}) SET p.k = 11",
      "MATCH (a:P)-[:R]->(b) RETURN a.k AS a, b.k AS b",
      "MERGE (p:P {k: 12})",
      "MATCH (p:P) RETURN p.k AS k ORDER BY k")
    val plain = new Main.Client(spark, None)
    val traced = new Main.Client(spark, Some(new Spans))
    var (pg, tg) = (graph, graph)
    stmts.zipWithIndex.foreach { case (s, i) =>
      val a = plain.run(i, s, pg)
      val b = traced.run(i, s, tg)
      assert(a.error.isEmpty && b.error.isEmpty, s"$s: ${a.error} ${b.error}")
      assert(Canonical.digest(a.rows) == Canonical.digest(b.rows), s)
      assert(a.next.idBase == b.next.idBase, s)
      pg = a.next
      tg = b.next
    }
    assert(traced.layerTimes(2).map(_._1).contains("plan_nodes"))
  }

  test("a job's module is the first engine frame of its call site") {
    val site = "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)\n" +
      "graft.operators.LocalSearch$.tryCollect(LocalSearch.scala:56)\n" +
      "graft.cypher.Planner.plan(Planner.scala:180)"
    assert(JobListener.engineModule(site).contains("operators"))
    assert(JobListener.engineModule("graftbench.Main$.main(Main.scala:1)").isEmpty)
  }
}
