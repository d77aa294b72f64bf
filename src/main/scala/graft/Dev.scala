package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.core.GraphState
import graft.cypher.Cypher

/** Dev tool for single catalog queries and ad-hoc Cypher:
  *
  * {{{
  * runMain graft.Dev time [--jobs] <sfDir> <name>...  time, rows, jobs, tasks
  * runMain graft.Dev explain <sfDir> <name>...        explain("formatted")
  * runMain graft.Dev show <sfDir> <name>...           schema and 100 rows
  * runMain graft.Dev cypher [--analyzed] [stmt]...    every statement but the
  *     last runs as set-up; the last prints its result (and, with
  *     --analyzed, its verbose analyzed tree). GRAFT_GRAPH=tpch:<dir> |
  *     pokec:<dir> | ldbc:<dir> starts from a loader graph, else empty.
  * runMain graft.Dev plans <outDir> <suffix> <n1,n2,...> [sfDir]
  *     writes <outDir>/<name>_<suffix>.txt, each query's formatted plan
  * runMain graft.Dev joins "<cypher>" [sfDir]          the physical join
  *     operators of a statement on the TPC-H graph: expansion joins must
  *     stay hash/broadcast joins; a BroadcastNestedLoopJoin or Cartesian
  *     belongs only to a 1-row-aggregate combiner
  * }}}
  *
  * A missing trailing sfDir is `$SPARK_GRAFT_SF_DIR`. The session runs
  * `local[$SPARK_GRAFT_CPUS]` (default 4). Spark confs
  * (plan-change logging, excluded optimizer rules, engine keys) come in
  * as `-Dspark.…` system properties, through `GRAFT_JAVA_OPTS` under sbt
  * or `JAVA_TOOL_OPTIONS` elsewhere. */
object Dev {
  /** An optional trailing sfDir, else the one `graft.Bench` reads. */
  private def sfDirOr(more: Seq[String]): String =
    more.headOption.orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("pass an sfDir or set SPARK_GRAFT_SF_DIR"))

  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.toSeq.partition(_.startsWith("--"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try rest match {
      case Seq("time", sfDir, names @ _*) =>
        time(spark, sfDir, names, flags.contains("--jobs"))
      case Seq("explain", sfDir, names @ _*) =>
        names.foreach { n =>
          println(s"===== $n =====")
          SparkEntry.queries(n)(spark, sfDir).explain("formatted")
        }
      case Seq("show", sfDir, names @ _*) =>
        names.foreach { n =>
          println(s"===== $n =====")
          val df = SparkEntry.queries(n)(spark, sfDir)
          println(df.schema.simpleString)
          df.show(100, truncate = false)
        }
      case Seq("cypher", stmts @ _*) =>
        cypher(spark, stmts, flags.contains("--analyzed"))
      case Seq("plans", outDir, suffix, names, more @ _*) =>
        plans(spark, outDir, suffix, names, sfDirOr(more))
      case Seq("joins", query, more @ _*) =>
        val g = graft.sources.TpchGraphLoader(spark, sfDirOr(more))
        Cypher.run(spark, g, query).queryExecution.executedPlan.toString
          .split("\n")
          .filter(l => l.contains("Join") || l.contains("Cartesian"))
          .foreach(println)
      case _ =>
        System.err.println(
          "usage: graft.Dev time [--jobs]|explain|show <sfDir> <name>... | " +
            "cypher [--analyzed] [stmt]... | " +
            "plans <outDir> <suffix> <n1,n2,...> [sfDir] | joins \"<cypher>\" [sfDir]")
    } finally spark.stop()
  }

  /** Per query: rows, plan-build vs execution seconds, and Spark job and
    * task counts (the driver round-trips that dominate sub-second
    * queries); `--jobs` also prints each job's time and description. */
  private def time(
      spark: SparkSession, sfDir: String, names: Seq[String], perJob: Boolean): Unit = {
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      private val started =
        new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (perJob) {
          def prop(k: String) =
            Option(j.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("-")
          started.put(j.jobId, (System.nanoTime(),
            s"${prop("spark.job.description")} scope=${prop("spark.rdd.scope").take(60)}"))
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(started.remove(j.jobId)).foreach { case (t0, desc) =>
          System.err.println(f"[job ${j.jobId}] ${(System.nanoTime() - t0) / 1e6}%.0fms $desc")
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
      }
    })
    names.foreach { n =>
      val t0 = System.nanoTime()
      val (j0, k0) = (jobs.get, tasks.get)
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val tPlan = (System.nanoTime() - t0) / 1e9
        val rows = df.count()
        val tAll = (System.nanoTime() - t0) / 1e9
        Thread.sleep(150) // let the listener bus drain before reading
        println(
          f"[dev] $n rows=$rows secs=$tAll%.2f (build=$tPlan%.2f exec=${tAll - tPlan}%.2f) " +
            f"jobs=${jobs.get - j0}%d tasks=${tasks.get - k0}%d")
      } catch {
        case e: Throwable =>
          println(s"[dev] $n FAILED after ${(System.nanoTime() - t0) / 1e9}: $e")
          e.printStackTrace()
      }
    }
  }

  private def cypher(spark: SparkSession, stmts: Seq[String], analyzed: Boolean): Unit = {
    var g = sys.env.get("GRAFT_GRAPH") match {
      case Some(s"ldbc:$dir") => graft.sources.LdbcGraphLoader(spark, dir)
      case Some(s"pokec:$dir") => graft.sources.PokecGraphLoader(spark, dir)
      case Some(s"tpch:$dir") => graft.sources.TpchGraphLoader(spark, dir)
      case _ => GraphState(Map.empty, Map.empty)
    }
    stmts.dropRight(1).foreach { q =>
      g = Cypher.execute(spark, g, q, Map.empty).graph
    }
    stmts.lastOption.foreach { q =>
      val res = Cypher.execute(spark, g, q, Map.empty)
      if (analyzed)
        // verbose tree: data types + nullability per attribute
        println(res.result.queryExecution.analyzed.treeString(verbose = true))
      res.result.show(100, truncate = false)
    }
  }

  /** The optimization-round plan artifacts under `plans/`. Driver-steered
    * fixpoints (BFS, var-expand) show as the final result plan over their
    * checkpointed round leaves; the per-round job structure is code, not
    * plan. */
  private def plans(
      spark: SparkSession, outDir: String, suffix: String, names: String,
      sfDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      try {
        val txt = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        System.err.println(s"[dev] wrote $name ($suffix)")
      } catch {
        case e: Throwable =>
          System.err.println(s"[dev] $name failed: ${e.getMessage}")
      }
    }
  }
}
