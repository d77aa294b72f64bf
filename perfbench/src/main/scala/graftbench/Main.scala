package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{Row, SparkSession}

import graft.core.GraphState
import graft.cypher.{Cypher, CypherParser, Planner}
import graft.sources.{LdbcGraphLoader, PokecGraphLoader}

/** Closed-loop, single-client Cypher benchmark runner.
  *
  * `Main <runDir>` reads `run.conf` (key=value lines), `warmup.tsv` and
  * `stream.tsv` (one `kind<TAB>template<TAB>statement` per line), all
  * written by `run.py`, and writes `result.json` (plus `spans.jsonl` when
  * traced). It calls only what a user session calls —
  * `Cypher.execute(spark, g, stmt)`, then collecting the result rows —
  * and passes each statement's `ExecResult.graph` on to the next one.
  *
  * The traced run calls the layers one by one instead (parse, plan,
  * Catalyst, collect) and times each; its next graph is built exactly as
  * `Cypher.execute` builds it. Outputs are checked by `run.py`, outside
  * the timed phase.
  */
object Main {
  final case class Stmt(kind: String, template: String, text: String)

  final class Outcome(
      val rows: Array[Row], val next: GraphState, val error: Option[String])

  def main(args: Array[String]): Unit = {
    val dir = new File(args(0))
    val conf = readConf(new File(dir, "run.conf"))
    val cores = conf("cores").toInt
    val trace = conf("trace") == "1"
    val seconds = conf("seconds").toDouble
    val cycle = conf("cycle").toInt
    val graphDirs = conf("graph_dirs").split(",").toSeq
    val warmup = readStmts(new File(dir, "warmup.tsv"))
    val stream = readStmts(new File(dir, "stream.tsv"))

    val t0 = Clock.now
    val session = SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
    conf.keys.filter(_.startsWith("spark.")).foreach(k => session.config(k, conf(k)))
    val spark = session.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = Clock.ms(t0, Clock.now) / 1e3

    // Set-up is repeated; each repetition loads from its own directory
    // name, so no loader memo from an earlier repetition serves it.
    var g: GraphState = null
    val reps = graphDirs.zipWithIndex.map { case (gd, i) =>
      if (i > 0) clearStorage(spark)
      val a = Clock.now
      g = conf("graph") match {
        case "ldbc" => LdbcGraphLoader(spark, gd)
        case "pokec" => PokecGraphLoader(spark, gd)
      }
      val b = Clock.now
      g.adjacencyBySrc.count()
      val c = Clock.now
      (Clock.ms(a, b) / 1e3, Clock.ms(b, c) / 1e3)
    }
    val loaded = g

    val spans = new Spans
    val client = new Client(spark, if (trace) Some(spans) else None)

    // Warm-up: parameters disjoint from the timed stream; writes are
    // discarded, the timed phase starts from the loaded graph.
    val w0 = Clock.now
    val checks = new JList[AnyRef]()
    var wg = loaded
    warmup.zipWithIndex.foreach { case (s, i) =>
      val o = client.run(-1 - i, s.text, wg)
      o.error.foreach(e => System.err.println(s"[graftbench] warm-up ${s.template} failed: $e"))
      if (trace) checks.add(checkEquivalent(spark, s, wg, o))
      wg = o.next
    }
    val warmupS = Clock.ms(w0, Clock.now) / 1e3

    val listener = new JobListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val gcBefore = gcMillis()
    val (_, storageMbStart) = storage(spark)
    HeapWatch.install()

    val records = mutable.ArrayBuffer.empty[JMap[String, AnyRef]]
    var state = loaded
    var versions = 0L
    val start = Clock.now
    var i = 0
    def elapsed = Clock.ms(start, Clock.now) / 1e3
    while (i < stream.length && !(elapsed >= seconds && i % cycle == 0)) {
      val s = stream(i)
      val a = Clock.now
      val o = client.run(i, s.text, state)
      val b = Clock.now
      val rec = new JMap[String, AnyRef]()
      rec.put("i", Int.box(i))
      rec.put("template", s.template)
      rec.put("kind", s.kind)
      rec.put("ms", Double.box(Clock.ms(a, b)))
      rec.put("start_ms", Double.box(Clock.epochMs(a)))
      rec.put("end_ms", Double.box(Clock.epochMs(b)))
      rec.put("error", o.error.orNull)
      rec.put("rows", rowsJson(o.rows))
      if (o.next.indexTag != state.indexTag || o.next.idBase != state.idBase) versions += 1
      state = o.next
      if (trace) {
        val (blocks, mb) = storage(spark)
        rec.put("storage_blocks", Long.box(blocks))
        rec.put("storage_mb", Double.box(mb))
        client.layerTimes(i).foreach { case (k, v) => rec.put(k, v) }
      }
      records += rec
      i += 1
    }
    val timedS = Clock.ms(start, Clock.now) / 1e3
    val gcMs = gcMillis() - gcBefore
    val (blocksEnd, storageMbEnd) = storage(spark)
    val peakHeapMb = HeapWatch.peakBytes / 1048576.0

    val out = new JMap[String, AnyRef]()
    if (trace) {
      org.apache.spark.graftbench.BusAccess.drain(spark.sparkContext)
      val outside = Attribution.attach(spans, listener, records.toSeq)
      out.put("jobs_outside", Long.box(outside))
      out.put("equivalence_checks", checks)
      writeSpans(new File(dir, "spans.jsonl"), spans)
    }

    out.put("spark_version", spark.version)
    out.put("java_version", System.getProperty("java.version"))
    out.put("max_heap_mb", Double.box(Runtime.getRuntime.maxMemory / 1048576.0))
    out.put("session_s", Double.box(sessionS))
    out.put("load_s", javaDoubles(reps.map(_._1)))
    out.put("adjacency_s", javaDoubles(reps.map(_._2)))
    out.put("warmup_s", Double.box(warmupS))
    out.put("timed_s", Double.box(timedS))
    out.put("gc_ms", Double.box(gcMs.toDouble))
    out.put("versions", Long.box(versions))
    out.put("storage_mb_start", Double.box(storageMbStart))
    out.put("storage_mb_end", Double.box(storageMbEnd))
    out.put("storage_blocks_end", Long.box(blocksEnd))
    out.put("peak_heap_mb", Double.box(peakHeapMb))
    out.put("graft_conf", javaMap(spark.conf.getAll.filter(_._1.startsWith("spark.graft."))))
    val c0 = Clock.now
    out.put("node_counts", javaMap(loaded.nodeLabels.map(l => l -> Long.box(loaded.nodes(l).count()))))
    out.put("edge_counts", javaMap(loaded.edgeTypes.map(t => t -> Long.box(loaded.edges(t).count()))))
    out.put("counts_s", Double.box(Clock.ms(c0, Clock.now) / 1e3))
    out.put("statements", new JList[AnyRef](records.asJava))
    new ObjectMapper().writeValue(new File(dir, "result.json"), out)
    spark.stop()
  }

  /** Runs statements the way a user session does, or layer by layer when
    * a span recorder is given. */
  final class Client(spark: SparkSession, spans: Option[Spans]) {
    private val layers = mutable.HashMap.empty[Int, Seq[(String, AnyRef)]]
    def layerTimes(stmt: Int): Seq[(String, AnyRef)] = layers.getOrElse(stmt, Nil)

    def run(stmt: Int, text: String, g: GraphState): Outcome =
      try spans.fold(plain(text, g))(traced(_, stmt, text, g))
      catch {
        case e: Throwable =>
          new Outcome(Array.empty, g, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }

    private def plain(text: String, g: GraphState): Outcome = {
      val r = Cypher.execute(spark, g, text)
      new Outcome(r.result.collect(), r.graph, None)
    }

    /** Same work as [[plain]], one public entry point at a time: the
      * parameter merge and the next-graph rule are `Cypher.execute`'s. */
    private def traced(sp: Spans, stmt: Int, text: String, g: GraphState): Outcome =
      sp(stmt, "statement") {
        val q = sp(stmt, "parse")(CypherParser.parse(text))
        val (planner, df) = sp(stmt, "plan") {
          val p = new Planner(spark, g, g.serverParams.map { case (k, (v, _)) => k -> v })
          (p, p.plan(q))
        }
        sp(stmt, "catalyst")(df.queryExecution.executedPlan)
        val rows = sp(stmt, "collect")(df.collect())
        val phases = df.queryExecution.tracker.phases
        def phase(n: String): Double = phases.get(n).fold(0.0)(_.durationMs.toDouble)
        val byName = sp.all.reverseIterator.filter(_.stmt == stmt).map(s => s.name -> s).toMap
        for ((n, parent) <- Seq("analysis" -> "plan", "optimization" -> "catalyst",
            "planning" -> "catalyst"); ph <- phases.get(n))
          sp.add(stmt, s"catalyst.$n", byName(parent).id, ph.startTimeMs.toDouble,
            ph.endTimeMs.toDouble)
        val analyzed = df.queryExecution.analyzed
        layers(stmt) = Seq(
          "parse_ms" -> Double.box(byName("parse").ms),
          "plan_ms" -> Double.box(byName("plan").ms),
          "catalyst_ms" -> Double.box(byName("catalyst").ms),
          "collect_ms" -> Double.box(byName("collect").ms),
          "analysis_ms" -> Double.box(phase("analysis")),
          "optimization_ms" -> Double.box(phase("optimization")),
          "planning_ms" -> Double.box(phase("planning")),
          "plan_nodes" -> Int.box(analyzed.collectWithSubqueries { case p => p }.size))
        new Outcome(rows, planner.currentState.withIdBase(planner.idHighWater), None)
      }
  }

  /** Traced runs re-check, on every warm-up statement, that the layer-by-
    * layer path returns the same rows and the same next graph version as
    * `Cypher.execute` from the same starting graph. */
  private def checkEquivalent(
      spark: SparkSession, s: Stmt, g: GraphState, traced: Outcome): JMap[String, AnyRef] = {
    val plain = new Client(spark, None).run(0, s.text, g)
    def digest(o: Outcome) = Canonical.digest(o.rows)
    val same = plain.error.isEmpty && traced.error.isEmpty &&
      digest(plain) == digest(traced) &&
      plain.next.idBase == traced.next.idBase &&
      plain.next.nodeLabels == traced.next.nodeLabels &&
      plain.next.edgeTypes == traced.next.edgeTypes
    val m = new JMap[String, AnyRef]()
    m.put("template", s.template)
    m.put("same", Boolean.box(same))
    m
  }

  private def clearStorage(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Block-manager bytes held by persisted and checkpointed RDDs. */
  private def storage(spark: SparkSession): (Long, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.numCachedPartitions.toLong).sum,
      infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Largest heap in use right after a collection, from GC notifications. */
  object HeapWatch {
    @volatile var peakBytes = 0L
    def install(): Unit = {
      val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case em: NotificationEmitter =>
          em.addNotificationListener((n: Notification, _: AnyRef) =>
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if heap(pool) => u.getUsed }.sum
              if (used > peakBytes) peakBytes = used
            }, null, null)
        case _ => ()
      }
    }
  }

  private def rowsJson(rows: Array[Row]): JList[AnyRef] = {
    val l = new JList[AnyRef]()
    rows.foreach(r => l.add(Canonical.cell(r)))
    l
  }

  private def javaDoubles(xs: Seq[Double]): JList[AnyRef] = {
    val l = new JList[AnyRef]()
    xs.foreach(x => l.add(Double.box(x)))
    l
  }

  private def javaMap(kv: Iterable[(String, AnyRef)]): JMap[String, AnyRef] = {
    val m = new JMap[String, AnyRef]()
    kv.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def writeSpans(f: File, spans: Spans): Unit = {
    val mapper = new ObjectMapper()
    val w = new PrintWriter(f, "UTF-8")
    try spans.all.foreach { s =>
      val m = new JMap[String, AnyRef]()
      m.put("id", Int.box(s.id))
      m.put("stmt", Int.box(s.stmt))
      m.put("name", s.name)
      m.put("parent", Int.box(s.parent))
      m.put("start_ms", Double.box(s.startMs))
      m.put("end_ms", Double.box(s.endMs))
      w.println(mapper.writeValueAsString(m))
    }
    finally w.close()
  }

  private def readConf(f: File): Map[String, String] =
    scala.io.Source.fromFile(f, "UTF-8").getLines()
      .filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i).trim -> l.drop(i + 1).trim }
      .toMap

  private def readStmts(f: File): IndexedSeq[Stmt] =
    scala.io.Source.fromFile(f, "UTF-8").getLines()
      .filter(_.nonEmpty)
      .map { l => val Array(k, t, s) = l.split("\t", 3); Stmt(k, t, s) }
      .toIndexedSeq
}

/** JSON-ready cell values, and a rounding digest for comparing two runs
  * of one statement. */
object Canonical {
  def cell(v: Any): AnyRef = v match {
    case null => null
    case r: Row => val l = new JList[AnyRef](); r.toSeq.foreach(x => l.add(cell(x))); l
    case s: scala.collection.Map[_, _] =>
      val m = new JMap[String, AnyRef]()
      s.toSeq.map { case (k, x) => String.valueOf(k) -> x }.sortBy(_._1)
        .foreach { case (k, x) => m.put(k, cell(x)) }
      m
    case s: scala.collection.Iterable[_] =>
      val l = new JList[AnyRef](); s.foreach(x => l.add(cell(x))); l
    case d: java.lang.Double if d.isNaN || d.isInfinite => d.toString
    case f: java.lang.Float => Double.box(f.doubleValue)
    case n: java.lang.Number => n
    case b: java.lang.Boolean => b
    case t: java.sql.Timestamp => t.toLocalDateTime.toString
    case other => other.toString
  }

  def digest(rows: Array[Row]): String = {
    def norm(x: AnyRef): String = x match {
      case d: java.lang.Double =>
        new java.math.BigDecimal(d).round(new java.math.MathContext(6)).toString
      case l: JList[_] => l.asScala.map(y => norm(y.asInstanceOf[AnyRef])).mkString("[", ",", "]")
      case m: JMap[_, _] =>
        m.asScala.map { case (k, y) => s"$k:${norm(y.asInstanceOf[AnyRef])}" }.mkString("{", ",", "}")
      case other => String.valueOf(other)
    }
    rows.map(r => norm(cell(r))).sorted.mkString("\n")
  }
}
