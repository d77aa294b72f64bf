package graft.procedures

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.GraphState
import graft.llm.LlmOps

/** The MAGE module-name surface: a user of the reference calls
  * `CALL pagerank.get(...)`, `CALL weakly_connected_components.get()`,
  * `CALL knn.get({config})` — the per-module names of
  * `/root/reference/src/mage/cpp/<module>_module`. This registers those
  * exact names (with the reference's YIELD column names) over the engine's
  * `algo.*` implementations, plus the two modules the algo namespace
  * lacked: `distance_calculator` (haversine over lat/lng node properties,
  * distance_calculator.cpp:38-62) and `knn` (cosine kNN over node property
  * vectors, knn_module.cpp:21-46).
  */
object MageAliases {

  import GraphState.IdCol

  private type Proc = ProcContext => DataFrame

  /** `distance_calculator.single(start, end, metrics='m', decimals=2)` —
    * haversine distance between the two nodes' (lat, lng) properties
    * (distance_calculator.cpp:38-62: R=6371000, rounded to `decimals`).
    * Yields (distance). */
  private def distanceSingle(ctx: ProcContext): DataFrame = {
    val (useKm, dec) = distanceTail(ctx, 2)
    val d = haversine(
      latLng(ctx, ctx.args.lift(0)), latLng(ctx, ctx.args.lift(1)),
      useKm, dec)
    val spark = ctx.spark
    import spark.implicits._
    Seq(Tuple1(d)).toDF("distance")
  }

  /** `distance_calculator.multiple(starts, ends, metrics, decimals)` —
    * pairwise distances of two equal-length node lists; yields
    * (distances) in argument order (distance_calculator.cpp:86-115). */
  private def distanceMultiple(ctx: ProcContext): DataFrame = {
    val starts = listArg(ctx, 0)
    val ends = listArg(ctx, 1)
    require(
      starts.length == ends.length,
      "Both arrays must be of equal length.")
    val (useKm, dec) = distanceTail(ctx, 2)
    val ds = starts.zip(ends).map { case (a, b) =>
      haversine(latLng(ctx, Some(a)), latLng(ctx, Some(b)), useKm, dec)
    }
    val spark = ctx.spark
    import spark.implicits._
    Seq(Tuple1(ds)).toDF("distances")
  }

  private def distanceTail(ctx: ProcContext, at: Int): (Boolean, Int) = {
    val metrics = ctx.args.lift(at).map(_.toString).getOrElse("m")
    val decimals = ctx.args.lift(at + 1) match {
      case Some(n: Long) => n.toInt
      case Some(n: Int) => n
      case _ => 2
    }
    (metrics == "km", decimals)
  }

  /** A node argument's (lat, lng): entity structs carry the properties
    * directly (the reference's node.GetProperty); a bare id falls back to
    * one pruned lookup over the label frames carrying both. */
  private def latLng(ctx: ProcContext, arg: Option[Any]): (Double, Double) =
    arg match {
      case Some(m: Map[_, _]) =>
        val mm = m.map { case (k, v) => k.toString -> v }
        (asDouble(mm.get("lat")), asDouble(mm.get("lng")))
      case Some(id: Long) =>
        val g = ctx.g
        val frames = g.nodeLabels
          .map(g.nodes)
          .filter(f => f.columns.contains("lat") && f.columns.contains("lng"))
        require(frames.nonEmpty, "distance_calculator: no nodes carry lat/lng")
        val rows = frames
          .map(_.filter(col(IdCol) === id).select(
            col("lat").cast("double"), col("lng").cast("double")))
          .reduce(_ unionByName _)
          .collect()
        require(rows.nonEmpty, s"distance_calculator: unknown node $id")
        (rows(0).getDouble(0), rows(0).getDouble(1))
      case other => throw new IllegalArgumentException(
        s"distance_calculator: need a node, got $other")
    }

  private def asDouble(v: Option[Any]): Double = v match {
    case Some(d: Double) => d
    case Some(l: Long) => l.toDouble
    case Some(i: Int) => i.toDouble
    case Some(f: Float) => f.toDouble
    case Some(d: java.math.BigDecimal) => d.doubleValue()
    case other => throw new IllegalArgumentException(
      s"distance_calculator: node lacks numeric lat/lng, got $other")
  }

  private def listArg(ctx: ProcContext, i: Int): Seq[Any] =
    ctx.args.lift(i) match {
      case Some(xs: Seq[_]) => xs
      case other => throw new IllegalArgumentException(
        s"distance_calculator: need node lists, got $other")
    }

  /** Haversine, reference constants (distance_calculator.cpp:35-62). */
  private def haversine(
      p1: (Double, Double), p2: (Double, Double),
      useKm: Boolean, decimals: Int): Double = {
    val piRad = math.Pi / 180.0
    val (lat1, lng1) = p1
    val (lat2, lng2) = p2
    val sdp = math.sin((lat2 - lat1) * piRad / 2)
    val sdl = math.sin((lng2 - lng1) * piRad / 2)
    val a = sdp * sdp +
      math.cos(lat1 * piRad) * math.cos(lat2 * piRad) * sdl * sdl
    var d = 6371000.0 * 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a))
    if (useKm) d *= 0.001
    val r = math.pow(10, decimals)
    math.round(d * r) / r
  }

  /** Vector count up to which [[knnGet]] scores the exact pair space. */
  private val KnnExactNodes = 1024L

  /** `knn.get({nodeProperties, topK, similarityCutoff, …})` — cosine
    * top-k neighbours over per-node property vectors (knn_module.cpp:
    * 21-46; the reference's NN-Descent is approximate, sampleRate knob).
    * Deterministic variant: below [[KnnExactNodes]] nodes (1024) the
    * candidate set is the exact pair space; above, candidates
    * are sign-code LSH buckets (the measured-recall scheme of
    * `knn_graph` — shuffle both sides by code, search bucket-locally, the
    * 100 TB plan). The exact pair space is quadratic AND its cosine runs
    * through interpreted higher-order functions, so the gate sits just
    * above the oracle corpus (sf0.01 = 500 vectors, exact = the DuckDB
    * comparison) — 2,000 vectors at sf0.1 already cost 26 s exact vs
    * ~1 s bucketed, and the reference's own knn module is approximate
    * (NN-Descent, knn_module sampleRate). Yields
    * (node, neighbour, similarity). */
  private def knnGet(ctx: ProcContext): DataFrame = {
    val props: Seq[String] = ctx.opts.get("nodeProperties") match {
      case Some(s: String) => Seq(s)
      case Some(xs: Seq[_]) => xs.map(_.toString)
      case other => throw new IllegalArgumentException(
        "nodeProperties must be a string or list of strings defining " +
          s"properties to be used for similarity calculation, got $other")
    }
    require(props.nonEmpty, "Property list cannot be empty")
    val topK = ctx.optInt("topK", 1)
    require(topK > 0, s"topK must be a positive integer, got $topK")
    val cutoff = ctx.optDouble("similarityCutoff").getOrElse(0.0)
    require(
      cutoff >= 0.0 && cutoff <= 1.0,
      s"similarityCutoff must be between 0 and 1, got $cutoff")
    val g = ctx.g
    val frames = g.nodeLabels
      .map(g.nodes)
      .filter(f => props.forall(f.columns.contains))
    require(
      frames.nonEmpty,
      s"knn.get: no nodes carry ${props.mkString(", ")}")
    // vector = the listed properties concatenated, scalars as 1-vectors
    def asVec(f: DataFrame)(p: String): Column = f.schema(p).dataType match {
      case _: org.apache.spark.sql.types.ArrayType =>
        LlmOps.vecD(col(p))
      case _ => array(col(p).cast("double"))
    }
    val v = frames
      .map(f => f.select(
        col(IdCol).as("node"),
        flatten(array(props.map(asVec(f)): _*)).as("vec")))
      .reduce(_ unionByName _)
      .filter(!exists(col("vec"), _.isNull))
      .withColumn("nrm", LlmOps.l2norm(col("vec")))
      .filter(col("nrm") > 0)
    val nVec = v.count()
    val q = v.select(
      col("node").as("__qn"), col("vec").as("__qv"), col("nrm").as("__qd"))
    val candidates =
      if (nVec <= KnnExactNodes) q.crossJoin(v)
      else {
        // adaptive code width, bucket size ≈ constant (knn_graph scheme)
        val bits = math.max(
          8,
          math.min(
            24,
            math.ceil(math.log(nVec / 64.0) / math.log(2.0)).toInt))
        val coded = v.withColumn("__c", LlmOps.signCode(col("vec"), bits))
        coded
          .select(
            col("node").as("__qn"), col("vec").as("__qv"),
            col("nrm").as("__qd"), col("__c"))
          .join(coded, Seq("__c"))
          .drop("__c")
      }
    candidates
      .filter(col("__qn") =!= col("node"))
      .select(
        col("__qn").as("node"),
        col("node").as("neighbour"),
        (LlmOps.dot(col("__qv"), col("vec")) / (col("__qd") * col("nrm")))
          .as("similarity"))
      .filter(col("similarity") >= cutoff)
      .withColumn(
        "__rk",
        row_number().over(
          Window.partitionBy("node")
            .orderBy(col("similarity").desc, col("neighbour"))))
      .filter(col("__rk") <= topK)
      .drop("__rk")
  }

  /** `node2vec.get_embeddings(...)` — (node, embedding). Deterministic
    * variant of the walk+word2vec pipeline (node2vec_module): the same
    * biased walks as `algo.node2vec`, then embedding(v) = L2-normalised
    * walk-context histogram (bucket = hash(walk) mod dims) — nodes that
    * share walks land near each other in cosine space, the property
    * word2vec's training objective optimizes for. One groupBy over the
    * walk rows. */
  private def node2vecEmbeddings(ctx: ProcContext): DataFrame = {
    val dims = ctx.optInt("vector_size", 16)
    require(dims >= 1 && dims <= 4096, "node2vec: 1 <= vector_size <= 4096")
    val walks = Procedures.node2vec(ctx)
    val byBucket = walks
      .select(
        col("node"),
        pmod(xxhash64(col("walk")), lit(dims.toLong)).cast("int").as("__b"))
      .groupBy(col("node"), col("__b"))
      .agg(count(lit(1)).cast("double").as("__v"))
    byBucket
      .groupBy(col("node"))
      .agg(map_from_entries(collect_list(struct(col("__b"), col("__v"))))
        .as("__m"))
      .select(
        col("node"),
        transform(
          sequence(lit(0), lit(dims - 1)),
          i => coalesce(element_at(col("__m"), i), lit(0.0))).as("__raw"))
      .withColumn("__n", LlmOps.l2norm(col("__raw")))
      .select(
        col("node"),
        transform(col("__raw"), x => x / col("__n")).as("embedding"))
  }

  /** Module-name → implementation, with the reference's YIELD columns. */
  val registry: Map[String, Proc] = Map(
    "pagerank.get" ->
      ((ctx: ProcContext) => Procedures.pagerank(ctx)),
    "weakly_connected_components.get" ->
      ((ctx: ProcContext) =>
        Procedures.wcc(ctx).withColumnRenamed("comp", "component_id")),
    "degree_centrality.get" -> ((ctx: ProcContext) => {
      // degree_centrality_module: type option in/out/undirected (default)
      val kind = ctx.optString("degreeType", "undirected")
      val d = Procedures.degree(ctx)
      val expr = kind match {
        case "in" => col("in_deg")
        case "out" => col("out_deg")
        case _ => col("in_deg") + col("out_deg")
      }
      d.select(col("node"), expr.cast("double").as("degree"))
    }),
    "katz_centrality.get" ->
      ((ctx: ProcContext) =>
        Procedures.katz(ctx).withColumnRenamed("centrality", "rank")),
    "betweenness_centrality.get" ->
      ((ctx: ProcContext) =>
        Procedures.betweenness(ctx)
          .withColumnRenamed("centrality", "betweenness_centrality")),
    "community_detection.get" ->
      ((ctx: ProcContext) =>
        Procedures.louvain(ctx)
          .withColumnRenamed("community", "community_id")),
    "leiden_community_detection.get" ->
      ((ctx: ProcContext) =>
        // the reference also yields the per-level hierarchy (`communities`);
        // this engine returns the converged level only, exposed as a
        // single-entry hierarchy
        Procedures.leiden(ctx)
          .withColumnRenamed("community", "community_id")
          .withColumn("communities", array(col("community_id")))),
    "bridges.get" ->
      ((ctx: ProcContext) =>
        Procedures.bridgesProc(ctx).select(
          col("src").as("node_from"), col("dst").as("node_to"))),
    "cycles.get" -> ((ctx: ProcContext) => Procedures.cyclesProc(ctx)),
    "biconnected_components.get" ->
      ((ctx: ProcContext) =>
        Procedures.biconnectedProc(ctx).select(
          col("bcc_id"),
          col("src").as("node_from"), col("dst").as("node_to"))),
    "node_similarity.jaccard" ->
      ((ctx: ProcContext) => Procedures.nodeSimilarityMetric(ctx, "jaccard")),
    "node_similarity.overlap" ->
      ((ctx: ProcContext) => Procedures.nodeSimilarityMetric(ctx, "overlap")),
    "node_similarity.cosine" ->
      ((ctx: ProcContext) => Procedures.nodeSimilarityMetric(ctx, "cosine")),
    "node2vec.get_embeddings" -> (node2vecEmbeddings _),
    "distance_calculator.single" -> (distanceSingle _),
    "distance_calculator.multiple" -> (distanceMultiple _),
    "knn.get" -> (knnGet _))
}
