package graft.procedures

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.GraphState
import graft.core.GraphState.{DstCol, IdCol, SrcCol}
import graft.operators.Cutover

/** Deterministic Spark-native variants of the remaining Python MAGE
  * modules (`src/mage/python/`): `tsp.py`, `vrp.py`,
  * `graph_coloring.py`, `temporal.py`, `json_util.py`, `embeddings.py`.
  *
  *   - `tsp.solve(points, method)` (tsp.py:15): greedy /
  *     MST-preorder 2-approx over the haversine distance matrix
  *     (`mage/geography/travelling_salesman.py:35-95`,
  *     `distance_calculator.py:10`). The point list is driver-sized by
  *     contract (it arrives as a collected literal list, same as
  *     set_cover), so the tour search runs in Scala; the lat/lng lookup
  *     is a pruned distributed scan. `1.5_approx` delegates to the
  *     2-approx (a blossom matcher is out of scope; the approximation
  *     contract weakens, the tour-validity contract is identical).
  *     Returns node IDS (this engine's tabular CALL protocol), not
  *     vertex objects.
  *   - `vrp.route(depot, n_vehicles)` (vrp.py:65): the reference solves
  *     with a GEKKO CP model; here a deterministic sweep heuristic —
  *     non-depot points sorted by bearing around the depot, split into
  *     n contiguous sectors, each sector routed greedily from the depot.
  *     Same (from_vertex, to_vertex) leg contract, every vehicle's route
  *     starts and ends at the depot.
  *   - `graph_coloring.color_graph({params}, edge_property)`
  *     (graph_coloring.py:10): the reference runs a population
  *     metaheuristic; here DISTRIBUTED Jones–Plassmann greedy coloring —
  *     per round, nodes whose hash-priority is a local max among
  *     uncolored neighbours take the smallest colour unused next to
  *     them. One shuffle per round, `localCheckpoint` lineage
  *     truncation, deterministic (priority = xxhash64(id), id
  *     tiebreak). Produces a VALID coloring of the same shape
  *     (node, color); chromatic minimality is best-effort in both.
  *   - `temporal.format(temporal, format)` (temporal.py:8): strftime
  *     formatting — lowered to `date_format` with the strftime→Spark
  *     pattern translation done once on the driver.
  *   - `json_util.load_from_str/load_from_path` (json_util.py:85-112):
  *     parse JSON into rows — a file path reads through
  *     `spark.read.json` (distributed), a literal string through
  *     `from_json` schema inference on the driver.
  *   - `embeddings.compute(label, prop, dimensions)` (embeddings.py):
  *     the reference encodes node text with a sentence-transformer;
  *     torch models are out of scope, so this is a DETERMINISTIC
  *     feature-hashing encoder (hashing trick, public Weinberger et al.
  *     2009): token → xxhash64 bucket, signed by a second hash,
  *     L2-normalised. Fully distributed, no collect; the plumbing
  *     (schema, partitioning, downstream ANN compatibility) is real.
  */
object PyTailProcs {

  // ---------------- shared: lat/lng lookup ----------------

  /** Haversine metres (distance_calculator.py:10 — R=6371e3). */
  private def haversine(
      lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double = {
    val rad = math.Pi / 180.0
    val dPhi = (lat2 - lat1) * rad
    val dLam = (lng2 - lng1) * rad
    val a = math.pow(math.sin(dPhi / 2), 2) +
      math.cos(lat1 * rad) * math.cos(lat2 * rad) *
      math.pow(math.sin(dLam / 2), 2)
    6371e3 * 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a))
  }

  private def idsOf(v: Any, what: String): Seq[Long] = v match {
    case l: Long => Seq(l)
    case i: Int => Seq(i.toLong)
    // a bound entity arriving through the per-row CALL protocol (struct →
    // map keyed by column name): its id column IS the id
    case m: Map[_, _] =>
      m.collectFirst { case (k, x) if String.valueOf(k) == IdCol => x }
        .map(idsOf(_, what))
        .getOrElse(throw new IllegalArgumentException(
          s"$what: need node ids, got a map without $IdCol"))
    case xs: Seq[_] => xs.flatMap(idsOf(_, what))
    case other =>
      throw new IllegalArgumentException(s"$what: need node ids, got $other")
  }

  /** Collect (id, lat, lng) for the given ids — pruned scan over the
    * label frames that carry both coordinates. Driver-sized by the
    * caller's contract (collected vertex list / all-points VRP graphs). */
  private def collectPoints(
      g: GraphState, ids: Option[Seq[Long]]): Array[(Long, Double, Double)] = {
    val frames = g.nodeLabels.map(g.nodes)
      .filter(f => f.columns.contains("lat") && f.columns.contains("lng"))
    require(frames.nonEmpty, "no nodes carry lat/lng coordinates")
    val all = frames
      .map(_.select(
        col(IdCol),
        col("lat").cast("double").as("lat"),
        col("lng").cast("double").as("lng")))
      .reduce(_ unionByName _)
      .filter(col("lat").isNotNull && col("lng").isNotNull)
    val pruned = ids match {
      case Some(xs) => all.filter(col(IdCol).isin(xs.map(Long.box): _*))
      case None => all
    }
    pruned.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
  }

  // ---------------- tsp ----------------

  /** `tsp.solve(points, method)` → one row (sources, destinations):
    * consecutive tour legs as paired id arrays (tsp.py:15-52). */
  def tspSolve(ctx: ProcContext): DataFrame = {
    val ids = idsOf(ctx.args.head, "tsp.solve points")
    val method = ctx.args.lift(1).map(_.toString.toLowerCase)
      .getOrElse("1.5_approx")
    val ptById = collectPoints(ctx.g, Some(ids)).map(p => p._1 -> p).toMap
    val pts = ids.map(i => ptById.getOrElse(
      i, throw new IllegalArgumentException(s"tsp: node $i has no lat/lng")))
    val n = pts.length
    require(n >= 2, "tsp: need at least two points")
    val dm = Array.tabulate(n, n)((i, j) =>
      haversine(pts(i)._2, pts(i)._3, pts(j)._2, pts(j)._3))
    val order: Seq[Int] = method match {
      case "greedy" => greedyTour(dm)
      case "2_approx" | "1.5_approx" | _ => mstPreorderTour(dm)
    }
    val cyc = order :+ order.head // travelling_salesman.py:44 closes the tour
    val spark = ctx.spark
    import spark.implicits._
    Seq((
      cyc.init.map(i => pts(i)._1),
      cyc.tail.map(i => pts(i)._1)))
      .toDF("sources", "destinations")
  }

  /** Nearest-unvisited-neighbour walk from index 0
    * (travelling_salesman.py:69-95; ties → lowest index). */
  private def greedyTour(dm: Array[Array[Double]]): Seq[Int] = {
    val n = dm.length
    val visited = Array.fill(n)(false)
    val path = collection.mutable.ArrayBuffer(0)
    visited(0) = true
    while (path.length < n) {
      val last = path.last
      val next = (0 until n)
        .filter(!visited(_))
        .minBy(j => (dm(last)(j), j))
      visited(next) = true
      path += next
    }
    path.toSeq
  }

  /** Prim MST + DFS preorder (travelling_salesman.py:35-46). */
  private def mstPreorderTour(dm: Array[Array[Double]]): Seq[Int] = {
    val n = dm.length
    val inTree = Array.fill(n)(false)
    val parent = Array.fill(n)(-1)
    val best = Array.fill(n)(Double.MaxValue)
    best(0) = 0.0
    for (_ <- 0 until n) {
      val u = (0 until n).filter(!inTree(_)).minBy(i => (best(i), i))
      inTree(u) = true
      for (v <- 0 until n if !inTree(v) && dm(u)(v) < best(v)) {
        best(v) = dm(u)(v); parent(v) = u
      }
    }
    val children = (0 until n).groupBy(parent).withDefaultValue(Seq.empty)
    val out = collection.mutable.ArrayBuffer.empty[Int]
    def dfs(u: Int): Unit = { out += u; children(u).sorted.foreach(dfs) }
    dfs(0)
    out.toSeq
  }

  // ---------------- vrp ----------------

  /** `vrp.route(depot, n_vehicles)` → (from_vertex, to_vertex) legs
    * (vrp.py:65): sweep-partition by bearing, greedy route per sector. */
  def vrpRoute(ctx: ProcContext): DataFrame = {
    val depot = idsOf(ctx.args.head, "vrp.route depot").head
    val nVehicles = ctx.args.lift(1) match {
      case Some(l: Long) => l.toInt
      case Some(i: Int) => i
      case Some(null) | None => 1
      case Some(other) => other.toString.toInt
    }
    require(nVehicles > 0, "Number of vehicles must be greater than 0.")
    val pts = collectPoints(ctx.g, None)
    val dep = pts.find(_._1 == depot).getOrElse(
      throw new IllegalArgumentException(s"vrp: depot $depot has no lat/lng"))
    val rest = pts.filter(_._1 != depot)
    // sweep: sort by bearing around the depot (id tiebreak), cut into
    // n contiguous sectors of near-equal size
    val byAngle = rest.sortBy(p =>
      (math.atan2(p._2 - dep._2, p._3 - dep._3), p._1))
    val sectors: Seq[Array[(Long, Double, Double)]] =
      if (byAngle.isEmpty) Seq.empty
      else {
        val size = math.ceil(byAngle.length.toDouble / nVehicles).toInt
        byAngle.grouped(size).toSeq
      }
    val legs = sectors.flatMap { sector =>
      // greedy nearest-neighbour within the sector, from the depot
      val route = collection.mutable.ArrayBuffer(dep)
      val left = collection.mutable.Set(sector.toIndexedSeq: _*)
      while (left.nonEmpty) {
        val last = route.last
        val next = left.minBy(p =>
          (haversine(last._2, last._3, p._2, p._3), p._1))
        left -= next
        route += next
      }
      route += dep // close at the depot
      route.init.zip(route.tail).map { case (a, b) => (a._1, b._1) }
    }
    val spark = ctx.spark
    import spark.implicits._
    legs.toDF("from_vertex", "to_vertex")
  }

  // ---------------- graph_coloring ----------------

  /** Driver-colouring ceiling on the directed conflict-edge count. */
  private val ColoringLocalEdges = 100000L

  /** `graph_coloring.color_graph({params}, edge_property)` → (node,
    * color): distributed Jones–Plassmann greedy, deterministic. */
  def colorGraph(ctx: ProcContext): DataFrame = {
    val edgeTypes: Seq[String] = ctx.opts.get("edge_types") match {
      case Some(xs: Seq[_]) => xs.map(_.toString)
      case _ => Nil
    }
    val g = ctx.g
    // undirected, deduped, no self-loops — conflict edges
    val e0 = g.edgesOfTypes(edgeTypes)
      .select(col(SrcCol).as("a"), col(DstCol).as("b"))
      .filter(col("a") =!= col("b"))
    val und = e0
      .unionByName(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    import graft.operators.Scratch
    // Only nodes INCIDENT to a conflict edge enter the fixpoint — an
    // isolated node conflicts with nobody and takes colour 0 in one
    // map-side pass (the loop would spend |V| work per round deciding
    // the obvious; at 100 TB most nodes are outside any one edge-type
    // subgraph). Valid by construction: colours only constrain across
    // `und` edges.
    val touched = und.select(col("a")).distinct()
    val isolated = g.allNodes.select(col(IdCol).as("a"))
      .join(touched, Seq("a"), "left_anti")
      .withColumn("color", lit(0L))
    // Subcritical conflict subgraph: colour on the driver (the reference
    // colours in-memory on one node too — graph_coloring.py's population
    // runs against a collected QA matrix); the distributed JP fixpoint
    // below is the scale path. Deterministic: ascending-id greedy.
    Cutover.collect(und, ColoringLocalEdges).foreach { rows =>
      val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
      val nbrs = pairs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val colorOf = collection.mutable.LongMap.empty[Long]
      pairs.map(_._1).distinct.sorted.foreach { v =>
        val used =
          nbrs(v).flatMap(colorOf.get).toSet
        colorOf(v) = Iterator.iterate(0L)(_ + 1L).find(!used(_)).get
      }
      und.unpersist(false)
      val spark = ctx.spark
      import spark.implicits._
      return colorOf.toSeq.toDF("a", "color")
        .unionByName(isolated)
        .select(col("a").as("node"), col("color"))
    }
    var uncolored = g.allNodes.select(col(IdCol).as("a"))
      .join(touched, Seq("a"), "left_semi")
      .withColumn("prio", xxhash64(col("a")))
      .transform(Scratch.cp)
    // per-round checkpointed leaves, unioned lazily (append-only
    // accumulator — see ShortestPath.bfsEdges)
    var coloredRounds: List[DataFrame] = List(
      ctx.spark.createDataFrame(
        ctx.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "a", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(
            "color", org.apache.spark.sql.types.LongType)))))
    def colored: DataFrame = coloredRounds.reduce(_ unionByName _)
    var remaining = uncolored.count()
    var round = 0
    while (remaining > 0) {
      round += 1
      require(round <= 512, "graph_coloring: did not converge")
      // neighbour view restricted to still-uncolored endpoints
      val nbr = und
        .join(uncolored.select(col("a")), Seq("a"), "left_semi")
        .join(
          uncolored.select(col("a").as("b"), col("prio").as("nprio")),
          Seq("b"))
      // winners: local priority maxima among uncolored neighbours
      // (isolated / all-neighbours-colored nodes win by default)
      val maxNbr = nbr.groupBy(col("a"))
        .agg(max(struct(col("nprio"), col("b"))).as("m"))
      val winners = uncolored
        .join(maxNbr, Seq("a"), "left_outer")
        .filter(
          col("m").isNull ||
            struct(col("prio").as("nprio"), col("a").as("b")) > col("m"))
        .select(col("a"))
      // smallest colour not used by an already-colored neighbour
      val used = und
        .join(winners, Seq("a"), "left_semi")
        .join(
          colored.select(col("a").as("b"), col("color")),
          Seq("b"))
        .groupBy(col("a"))
        .agg(sort_array(collect_set(col("color"))).as("used"))
      val assigned = winners
        .join(used, Seq("a"), "left_outer")
        .withColumn(
          "color",
          // first gap in the sorted used-colour list (aggregate with a
          // (next-candidate, found) accumulator — codegen'd, no UDF)
          when(col("used").isNull, lit(0L)).otherwise(
            aggregate(
              col("used"),
              struct(lit(0L).as("cand"), lit(false).as("done")),
              (acc, u) => struct(
                when(!acc("done") && u === acc("cand"),
                  acc("cand") + 1L).otherwise(acc("cand")).as("cand"),
                (acc("done") || u > acc("cand")).as("done")),
              acc => acc("cand"))))
        .select(col("a"), col("color"))
      val assignedCp = assigned.transform(Scratch.cp)
      coloredRounds ::= assignedCp
      uncolored = uncolored
        .join(assignedCp.select("a"), Seq("a"), "left_anti")
        .transform(Scratch.cp)
      remaining = uncolored.count()
    }
    und.unpersist(false)
    colored.unionByName(isolated)
      .select(col("a").as("node"), col("color"))
  }

  // ---------------- temporal ----------------

  /** strftime → java.time pattern (the subset temporal.py documents;
    * %z/%Z raise exactly like temporal.py:20). */
  private[procedures] def strftimeToJava(fmt: String): String = {
    require(
      !fmt.contains("%z") && !fmt.contains("%Z"),
      "UTC only: '%Z' in format is not supported")
    val sb = new StringBuilder
    var i = 0
    var lit = new StringBuilder
    def flush(): Unit = {
      if (lit.nonEmpty) {
        val s = lit.toString
        if (s.exists(_.isLetter)) sb.append("'").append(s).append("'")
        else sb.append(s)
        lit = new StringBuilder
      }
    }
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%' && i + 1 < fmt.length) {
        flush()
        fmt.charAt(i + 1) match {
          case 'Y' => sb.append("yyyy")
          case 'y' => sb.append("yy")
          case 'm' => sb.append("MM")
          case 'd' => sb.append("dd")
          case 'H' => sb.append("HH")
          case 'I' => sb.append("hh")
          case 'M' => sb.append("mm")
          case 'S' => sb.append("ss")
          case 'f' => sb.append("SSSSSS")
          case 'p' => sb.append("a")
          case 'A' => sb.append("EEEE")
          case 'a' => sb.append("EEE")
          case 'B' => sb.append("MMMM")
          case 'b' => sb.append("MMM")
          case 'j' => sb.append("DDD")
          case '%' => sb.append("'%'")
          case other =>
            throw new IllegalArgumentException(
              s"temporal.format: unsupported directive %$other")
        }
        i += 2
      } else { lit.append(fmt.charAt(i)); i += 1 }
    }
    flush()
    sb.toString
  }

  /** `temporal.format(temporal, format)` → formatted (temporal.py:8). */
  def temporalFormat(ctx: ProcContext): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    val fmt = ctx.args.lift(1).map(_.toString).getOrElse("ISO")
    val in = Seq(Tuple1(ctx.args.head match {
      case s: String => s
      case other => String.valueOf(other)
    })).toDF("t")
    val c: Column =
      if (fmt == "ISO")
        // isoformat: date stays a date, datetime keeps the 'T' separator
        when(col("t").rlike("^\\d{4}-\\d{2}-\\d{2}$"), col("t"))
          .otherwise(date_format(
            col("t").cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss"))
      else
        date_format(col("t").cast("timestamp"), strftimeToJava(fmt))
    in.select(c.as("formatted"))
  }

  // ---------------- json_util ----------------

  /** `json_util.load_from_str(json)` → one row per top-level object
    * (json_util.py:99): driver-parsed via the Spark JSON datasource on a
    * literal dataset (schema inference included). */
  def jsonLoadFromStr(ctx: ProcContext): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    val s = ctx.args.head.toString.trim
    // a top-level array explodes into its elements (json_util.py:74-82)
    val ds = spark.createDataset(Seq(s))
    val df = spark.read.option("multiLine", "true").json(ds)
    df.select(struct(df.columns.map(col): _*).as("objects"))
  }

  /** `json_util.load_from_path(path)` → one row per object
    * (json_util.py:85): the DISTRIBUTED read — spark.read.json. */
  def jsonLoadFromPath(ctx: ProcContext): DataFrame = {
    val path = ctx.args.head.toString
    val df = ctx.spark.read.option("multiLine", "true").json(path)
    df.select(struct(df.columns.map(col): _*).as("objects"))
  }

  // ---------------- embeddings ----------------

  /** `embeddings.compute({label, property, dimensions, target})` →
    * (node, embedding): deterministic hashing-trick text encoder over a
    * string property, written as the target property's stand-in column.
    * Token → bucket via xxhash64(token, seed=dim), sign via a second
    * hash bit, L2-normalised — one distributed pass, no UDF, no collect. */
  def embeddingsCompute(ctx: ProcContext): DataFrame = {
    val prop = ctx.optString("property", "text")
    val dims = ctx.optInt("dimensions", 16)
    val label = ctx.opts.get("label").map(_.toString)
    require(dims >= 1 && dims <= 4096, "embeddings: 1 <= dimensions <= 4096")
    val g = ctx.g
    val frames = (label match {
      case Some(l) => Seq(g.nodes(l))
      case None => g.nodeLabels.map(g.nodes)
    }).filter(_.columns.contains(prop))
    require(frames.nonEmpty, s"embeddings: no nodes carry '$prop'")
    val toks = frames
      .map(_.select(col(IdCol), col(prop).cast("string").as("__t")))
      .reduce(_ unionByName _)
      .filter(col("__t").isNotNull)
      .select(
        col(IdCol),
        explode(split(lower(col("__t")), "\\W+")).as("tok"))
      .filter(length(col("tok")) > 0)
    // hashing trick: bucket = h(tok) mod dims, sign = bit of a second hash
    val contrib = toks.select(
      col(IdCol),
      pmod(xxhash64(col("tok")), lit(dims.toLong)).cast("int").as("b"),
      when(pmod(xxhash64(col("tok"), lit(1)), lit(2)) === 0, lit(1.0))
        .otherwise(lit(-1.0)).as("s"))
    val byBucket = contrib
      .groupBy(col(IdCol), col("b"))
      .agg(sum(col("s")).as("v"))
    // dense vector: map_from_entries → positional array lookup
    val vec = byBucket
      .groupBy(col(IdCol))
      .agg(map_from_entries(collect_list(struct(col("b"), col("v"))))
        .as("m"))
      .select(
        col(IdCol).as("node"),
        transform(
          sequence(lit(0), lit(dims - 1)),
          i => coalesce(element_at(col("m"), i), lit(0.0))).as("raw"))
    vec.withColumn(
      "__n",
      sqrt(aggregate(col("raw"), lit(0.0), (acc, y) => acc + y * y)))
      .select(
        col("node"),
        transform(
          col("raw"),
          x => when(col("__n") > 0, x / col("__n")).otherwise(x))
          .as("embedding"))
  }

  val registry: Map[String, ProcContext => DataFrame] = Map(
    "tsp.solve" -> tspSolve,
    "vrp.route" -> vrpRoute,
    "graph_coloring.color_graph" -> colorGraph,
    "temporal.format" -> temporalFormat,
    "json_util.load_from_str" -> jsonLoadFromStr,
    "json_util.load_from_path" -> jsonLoadFromPath,
    "embeddings.compute" -> embeddingsCompute)
}
