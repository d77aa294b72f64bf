package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{array, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraphState

/** One shared local session per suite. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** Ten P nodes (pid = id) in two KNOWS components, 0-1-2-3-4 and 5-6-7,
    * plus isolated 8 and 9; partitioned, so every count and collect over
    * them is a Spark job. */
  protected def pathGraph(): GraphState = {
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
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
