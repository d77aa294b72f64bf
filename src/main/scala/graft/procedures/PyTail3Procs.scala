package graft.procedures

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraphState
import graft.core.GraphState.{DstCol, IdCol, LabelsCol, SrcCol, TypeCol}
import graft.operators.Scratch

/** Third python-MAGE tranche (reference `src/mage/python/`): `tgn.py`
  * (temporal graph networks) and `gnn.py` (PyG / TF-GNN export-import) —
  * the [[PyTailProcs]]/[[PyTail2Procs]] recipe: torch internals become
  * DETERMINISTIC Spark-native variants behind identical call/yield
  * surfaces.
  *
  *   - `tgn.*` (tgn.py:834-1160): the reference trains a torch TGN
  *     (memory + message passing) over a stream of edge batches. Torch is
  *     out of scope, so the "model" is deterministic message passing:
  *     node embeddings seed from an id-hash unit vector
  *     (`memory_dimension` wide) and take `num_of_layers` rounds of
  *     mean-neighbor aggregation + renormalization — one
  *     posexplode+groupBy+avg shuffle per layer, linear in |E|·dim.
  *     Link scores are `sigmoid(dot)` of the endpoint embeddings
  *     (get_link_score, tgn.py:286-297); batch "precision" is the
  *     fraction of batch edges whose positive score beats a
  *     deterministic negative (the same src against the NEXT batch
  *     edge's dst — a seedless stand-in for tgn.py:393 sample_negative).
  *     There is no gradient path, so precision is identical across
  *     epochs — reproducible by construction, same contract as the
  *     node_classification variant. Batch records carry the reference's
  *     exact yield shape (epoch_num, batch_num, batch_process_time,
  *     precision, batch_type); batch_process_time is 0.0 (deterministic).
  *   - `gnn.*` (gnn.py:451-634): pure export/import between the graph
  *     and PyG / TF-GNN JSON payloads. The contract is ONE json string,
  *     so the export funnels through the driver like export_util.json —
  *     gated by [[GnnMaxExport]] rows (raise above, never silently
  *     truncate); imports allocate a fresh id base and append frames
  *     distributed, exactly the import_util.json path.
  */
object PyTail3Procs {

  // ---------------- tgn ----------------

  private val tgnDefaults: Map[String, Any] = Map(
    // DEFAULT_VALUES, tgn.py:150-170 (learning_rate/weight_decay/device
    // and the memgraph property names)
    "learning_type" -> "self_supervised",
    "batch_size" -> 200L,
    "num_of_layers" -> 2L,
    "layer_type" -> "graph_attn",
    "memory_dimension" -> 100L,
    "time_dimension" -> 100L,
    "num_edge_features" -> 50L,
    "num_node_features" -> 50L,
    "message_dimension" -> 100L,
    "num_neighbors" -> 15L,
    "edge_message_function_type" -> "identity",
    "message_aggregator_type" -> "last",
    "memory_updater_type" -> "gru",
    "num_attention_heads" -> 1L,
    "learning_rate" -> 1e-4,
    "weight_decay" -> 5e-5,
    "device_type" -> "cpu",
    "node_features_property" -> "features",
    "edge_features_property" -> "features",
    "node_label_property" -> "label")

  private final class TgnState {
    var params: Map[String, Any] = tgnDefaults
    var mode: String = "train" // "train" | "eval"
    var globalEdgeCount: Long = 0L
    var trainEvalIndexSplit: Long = 0L
    var currentBatch: Vector[Long] = Vector.empty // buffered edge ids
    var currentEpoch: Int = 0
    var batchesInEpoch: Int = 0
    /** (epoch_num, batch_num, batch_process_time, precision, batch_type) */
    val results =
      scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Double, Double, String)]
    def batchSize: Int = params("batch_size").toString.toDouble.toInt
    def dim: Int = params("memory_dimension").toString.toDouble.toInt
    def layers: Int = params("num_of_layers").toString.toDouble.toInt
  }

  private var tgn: Option[TgnState] = None

  private def tgnOrRaise: TgnState = tgn.getOrElse(
    throw new IllegalStateException(
      "TGN is not initialized still. Call `set_params` function in order " +
        "to initialize it."))

  /** Deterministic node embeddings: id-hash unit seed + `layers` rounds
    * of undirected mean-neighbor aggregation, renormalized per round.
    * Columns: `_id`, `emb: array<double>`. One groupBy shuffle per layer
    * (|E|·dim rows exploded — dim is bounded by the config, ≤ a few
    * hundred), so the pass scales linearly with the edge corpus. */
  private def tgnEmbeddings(
      spark: SparkSession, g: GraphState, dim: Int, layers: Int)
    : DataFrame = {
    def normalized(emb: Column): Column = {
      val norm = sqrt(aggregate(
        emb, lit(0.0), (acc, x) => acc + x * x))
      transform(emb, x => x / greatest(norm, lit(1e-12)))
    }
    val seed = transform(
      sequence(lit(0), lit(dim - 1)),
      d =>
        (pmod(xxhash64(col(IdCol), d), lit(10000L)).cast("double") /
          lit(5000.0)) - lit(1.0))
    var emb = g.allNodes
      .select(col(IdCol), normalized(seed).as("emb"))
      .transform(Scratch.cp)
    if (layers > 0) {
      val und = g.allEdges
        .select(col(SrcCol).as("__a"), col(DstCol).as("__b"))
        .unionByName(g.allEdges
          .select(col(DstCol).as("__a"), col(SrcCol).as("__b")))
        .transform(Scratch.cp)
      for (_ <- 1 to layers) {
        val neigh = und
          .join(emb.select(col(IdCol).as("__b"), col("emb")), Seq("__b"))
          .select(col("__a"), posexplode(col("emb")).as(Seq("__d", "__v")))
          .groupBy("__a", "__d")
          .agg(avg("__v").as("__m"))
          .groupBy("__a")
          .agg(transform(
            array_sort(collect_list(struct(col("__d"), col("__m")))),
            s => s.getField("__m")).as("__nemb"))
          .select(col("__a").as(IdCol), col("__nemb"))
        emb = emb
          .join(neigh, Seq(IdCol), "left_outer")
          .select(
            col(IdCol),
            normalized(when(
              col("__nemb").isNotNull,
              zip_with(col("emb"), col("__nemb"), (a, b) => a + b))
              .otherwise(col("emb"))).as("emb"))
          .transform(Scratch.cp)
      }
    }
    emb
  }

  private var tgnEmbCache: Option[(GraphState, DataFrame)] = None
  private def embeddingsFor(
      spark: SparkSession, g: GraphState, st: TgnState): DataFrame =
    tgnEmbCache match {
      case Some((gv, df)) if gv eq g => df
      case _ =>
        val df = tgnEmbeddings(spark, g, st.dim, st.layers)
        tgnEmbCache = Some((g, df))
        df
    }

  private def sigmoidDot(a: Column, b: Column): Column =
    lit(1.0) / (lit(1.0) +
      exp(-aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0),
        (acc, x) => acc + x)))

  /** Per-batch link-prediction precision over an ORDERED edge frame:
    * positive = sigmoid(dot(src,dst)); negative = same src against the
    * next edge's dst (cyclic — the deterministic negative sample);
    * precision = fraction of rows with pos > neg, grouped by batch. One
    * distributed pass for every batch at once. Returns
    * (batch_num, precision) rows sorted by batch. */
  private def batchPrecisions(
      spark: SparkSession,
      g: GraphState,
      st: TgnState,
      edgeRows: DataFrame, // _id, _src, _dst
      batchSize: Int): Seq[(Long, Double)] = {
    val emb = embeddingsFor(spark, g, st)
    val ranked = graft.operators.Ranks
      .orderedIds(edgeRows.select(IdCol, SrcCol, DstCol), "__rn", IdCol)
    val n = ranked.count()
    if (n == 0) return Nil
    val negDst = ranked.select(
      pmod(col("__rn") + 1, lit(n)).as("__rn2"), col(DstCol).as("__neg"))
    val scored = ranked
      .join(negDst, ranked("__rn") === negDst("__rn2"))
      .join(emb.select(col(IdCol).as(SrcCol), col("emb").as("__es")),
        Seq(SrcCol))
      .join(emb.select(col(IdCol).as(DstCol), col("emb").as("__ed")),
        Seq(DstCol))
      .join(emb.select(col(IdCol).as("__neg"), col("emb").as("__en")),
        Seq("__neg"))
      .select(
        (col("__rn") / batchSize).cast("long").as("__batch"),
        (sigmoidDot(col("__es"), col("__ed")) >
          sigmoidDot(col("__es"), col("__en"))).cast("double").as("__ok"))
    scored.groupBy("__batch").agg(avg("__ok").as("__p"))
      .orderBy("__batch")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq
  }

  private def emptyRecord(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(Tuple1("")).toDF("__void").select()
  }

  def tgnSetParams(ctx: ProcContext): DataFrame = {
    val st = new TgnState
    st.params = tgnDefaults ++ ctx.opts
    val known = tgnDefaults.keySet
    val unknown = ctx.opts.keySet.diff(known)
    require(unknown.isEmpty,
      s"Input dictionary is not correctly typed: unknown keys $unknown")
    tgn = Some(st)
    tgnEmbCache = None
    emptyRecord(ctx.spark)
  }

  /** Extract entity ids from a list argument (edges arrive as structs /
    * maps carrying `_id`, or as raw ids). */
  private def entityIds(v: Any): Seq[Long] = v match {
    case s: Seq[_] => s.flatMap(entityIds)
    case r: org.apache.spark.sql.Row
        if r.schema != null && r.schema.fieldNames.contains(IdCol) =>
      Seq(r.getAs[Number](IdCol).longValue())
    case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]].get(IdCol).toSeq
        .map(x => x.asInstanceOf[Number].longValue())
    case n: Number => Seq(n.longValue())
    case null => Nil
    case other =>
      throw new IllegalArgumentException(
        s"tgn.update: cannot read an edge id from $other")
  }

  def tgnUpdate(ctx: ProcContext): DataFrame = {
    val st = tgnOrRaise
    val ids = ctx.args.headOption.map(entityIds).getOrElse(Nil)
    st.globalEdgeCount += ids.length
    st.currentBatch ++= ids
    if (st.currentBatch.length >= st.batchSize) {
      val batchIds = st.currentBatch
      st.currentBatch = Vector.empty
      val rows = ctx.g.allEdges
        .filter(col(IdCol).isin(batchIds: _*))
        .select(IdCol, SrcCol, DstCol)
      val ps = batchPrecisions(ctx.spark, ctx.g, st, rows, batchIds.length)
      val p = ps.headOption.map(_._2).getOrElse(0.0)
      st.results += ((
        st.currentEpoch.toLong, st.batchesInEpoch.toLong, 0.0, p,
        if (st.mode == "train") "Train" else "Eval"))
      st.batchesInEpoch += 1
    }
    emptyRecord(ctx.spark)
  }

  def tgnSetEval(ctx: ProcContext): DataFrame = {
    val st = tgnOrRaise
    st.trainEvalIndexSplit = st.globalEdgeCount
    st.mode = "eval"
    import ctx.spark.implicits._
    Seq("TGN mode changed to 'eval'.").toDF("message")
  }

  private def resultsDf(spark: SparkSession, st: TgnState): DataFrame = {
    import spark.implicits._
    st.results.toSeq.toDF(
      "epoch_num", "batch_num", "batch_process_time", "precision",
      "batch_type")
  }

  def tgnTrainAndEval(ctx: ProcContext): DataFrame = {
    val st = tgnOrRaise
    val epochs = ctx.args.headOption.map(_.toString.toDouble.toInt)
      .getOrElse(throw new IllegalArgumentException(
        "tgn.train_and_eval: need num_epochs"))
    if (st.trainEvalIndexSplit == 0)
      throw new IllegalStateException(
        "Can't call train and eval if you didn't change TGN mode to 'eval'")
    // all edges, ordered by id (tgn.py:893 sorts by edge id), batch
    // precisions computed in ONE distributed pass; epochs replicate the
    // records (the deterministic model has no gradient path)
    val all = graft.operators.Ranks.orderedIds(
      ctx.g.allEdges.select(IdCol, SrcCol, DstCol), "__rn", IdCol)
      .transform(Scratch.cp)
    val split = st.trainEvalIndexSplit
    val bs = st.batchSize
    val train = all.filter(col("__rn") < split).drop("__rn")
    val eval = all.filter(col("__rn") >= split).drop("__rn")
    val trainPs = batchPrecisions(ctx.spark, ctx.g, st, train, bs)
    val evalPs = batchPrecisions(ctx.spark, ctx.g, st, eval, bs)
    for (e <- 0 until epochs) {
      trainPs.foreach { case (b, p) =>
        st.results += ((e.toLong, b, 0.0, p, "Train"))
      }
      evalPs.foreach { case (b, p) =>
        st.results += ((e.toLong, b, 0.0, p, "Eval"))
      }
    }
    resultsDf(ctx.spark, st)
  }

  def tgnGetResults(ctx: ProcContext): DataFrame =
    resultsDf(ctx.spark, tgnOrRaise)

  def tgnGet(ctx: ProcContext): DataFrame = {
    val st = tgnOrRaise
    embeddingsFor(ctx.spark, ctx.g, st)
      .select(col(IdCol).as("node"), col("emb").as("embedding"))
  }

  def tgnPredictLinkScore(ctx: ProcContext): DataFrame = {
    val st = tgnOrRaise
    val src = entityIds(ctx.args.headOption.getOrElse(
      throw new IllegalArgumentException(
        "tgn.predict_link_score: need src and dest"))).headOption
    val dst = ctx.args.lift(1).map(entityIds).getOrElse(Nil).headOption
    require(src.isDefined && dst.isDefined,
      "tgn.predict_link_score: need src and dest vertices")
    val emb = embeddingsFor(ctx.spark, ctx.g, st)
    val pair = emb.filter(col(IdCol) === src.get).select(col("emb").as("a"))
      .crossJoin(
        emb.filter(col(IdCol) === dst.get).select(col("emb").as("b")))
      .select(sigmoidDot(col("a"), col("b")).as("prediction"))
    require(!pair.isEmpty,
      "tgn.predict_link_score: unknown vertex (no embedding)")
    pair
  }

  def tgnReset(ctx: ProcContext): DataFrame = {
    tgn.foreach { st =>
      val bs = st.batchSize
      val params = st.params
      val fresh = new TgnState
      fresh.params = params
      fresh.currentBatch = Vector.empty
      tgn = Some(fresh)
      locally { val _ = bs }
    }
    tgnEmbCache = None
    import ctx.spark.implicits._
    Seq("Reset was successful.").toDF("message")
  }

  private def notImplemented(what: String)(ctx: ProcContext): DataFrame =
    throw new UnsupportedOperationException(
      s"$what: You can check what is implemented at our docs page " +
        "(the reference raises NotImplementedError too, tgn.py:955-973)")

  // ---------------- gnn ----------------

  /** Node + edge rows a gnn export may funnel through the driver. */
  private val GnnMaxExport = 1000000L

  private def gnnExportGate(spark: SparkSession, g: GraphState): Unit = {
    val probe = (GnnMaxExport + 1L).toInt
    val n = g.allNodes.limit(probe).count() + g.allEdges.limit(probe).count()
    if (n > GnnMaxExport)
      throw new UnsupportedOperationException(
        s"gnn export: graph exceeds $GnnMaxExport rows — " +
          "the contract is ONE driver-side JSON string; export frames " +
          "with export_util.json instead")
  }

  /** Collected (ordered) vertices/edges for the driver-side JSON build:
    * nodes by id; edges by id, restricted to endpoints present. */
  private def collectGraph(spark: SparkSession, g: GraphState)
    : (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) = {
    gnnExportGate(spark, g)
    val nodes = g.allNodes.orderBy(IdCol).collect().toSeq
    val edges = g.allEdges.orderBy(IdCol).collect().toSeq
    (nodes, edges)
  }

  private def metaNames = Set(IdCol, LabelsCol, SrcCol, DstCol, TypeCol)

  private def propsOf(r: org.apache.spark.sql.Row): Map[String, Any] =
    r.schema.fieldNames.filterNot(metaNames)
      .flatMap(f => Option(r.getAs[Any](f)).map(f -> _)).toMap

  private def toNumeric(v: Any): Option[Double] = v match {
    case null => None
    case b: Boolean => Some(if (b) 1.0 else 0.0)
    case n: Number => Some(n.doubleValue())
    case s: String => s.toDoubleOption
    case _ => None
  }

  private def isNumericSeq(v: Any): Boolean = v match {
    case s: Seq[_] => s.forall(_.isInstanceOf[Number])
    case _ => false
  }

  /** gnn.py:77 `_extract_features`: per entity, numeric lists splice in,
    * scalars coerce (missing/non-numeric → 0.0). */
  private def extractFeatures(
      rows: Seq[org.apache.spark.sql.Row],
      names: Seq[String]): Seq[Seq[Double]] =
    rows.map { r =>
      val props = propsOf(r)
      names.flatMap { n =>
        props.get(n) match {
          case Some(s: Seq[_]) if isNumericSeq(s) =>
            s.map(_.asInstanceOf[Number].doubleValue())
          case v => Seq(v.flatMap(toNumeric).getOrElse(0.0))
        }
      }
    }

  private def jsonV(v: Any): Any = v match {
    case s: Seq[_] => s.map(jsonV).toList
    case m: Map[_, _] =>
      m.map { case (k, x) => k.toString -> jsonV(x) }
    case r: org.apache.spark.sql.Row =>
      r.schema.fieldNames.map(f => f -> jsonV(r.getAs[Any](f))).toMap
    case other => other
  }

  private def argList(v: Any): Option[Seq[String]] = v match {
    case null => None
    case s: Seq[_] => if (s.isEmpty) None else Some(s.map(_.toString))
    case other => Some(Seq(other.toString))
  }

  def gnnPygExport(ctx: ProcContext): DataFrame = {
    val spark = ctx.spark
    val (nodes, edges0) = collectGraph(spark, ctx.g)
    val idToIdx = nodes.map(_.getAs[Long](IdCol)).zipWithIndex.toMap
    val edges = edges0.filter(e =>
      idToIdx.contains(e.getAs[Long](SrcCol)) &&
        idToIdx.contains(e.getAs[Long](DstCol)))
    val nodeProps = ctx.args.headOption.flatMap(argList)
    val edgeProps = ctx.args.lift(1).flatMap(argList)
    val yProp = ctx.args.lift(2).flatMap(v => Option(v)).map(_.toString)
      .filter(_.nonEmpty)
    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "edge_index" -> List(
        edges.map(e => idToIdx(e.getAs[Long](SrcCol))).toList,
        edges.map(e => idToIdx(e.getAs[Long](DstCol))).toList),
      "num_nodes" -> nodes.length)
    nodeProps.foreach(ns =>
      result += ("x" -> extractFeatures(nodes, ns).map(_.toList).toList))
    edgeProps.foreach(es =>
      result += ("edge_attr" ->
        extractFeatures(edges, es).map(_.toList).toList))
    yProp.foreach(p =>
      result += ("y" -> nodes.map(n => jsonV(propsOf(n).getOrElse(p, null)))
        .toList))
    result += ("node_id_mapping" ->
      idToIdx.map { case (k, v) => k.toString -> v })
    result += ("idx_to_node_id" ->
      idToIdx.map { case (k, v) => v.toString -> k })
    result += ("labels" ->
      nodes.map(n => Option(n.getAs[Seq[String]](LabelsCol))
        .getOrElse(Nil).toList).toList)
    result += ("edge_types" -> edges.map(_.getAs[String](TypeCol)).toList)
    import spark.implicits._
    Seq(JsonCodec.write(result.toMap)).toDF("json_data")
  }

  def gnnTfExport(ctx: ProcContext): DataFrame = {
    val spark = ctx.spark
    val (nodes, edges0) = collectGraph(spark, ctx.g)
    val idToIdx = nodes.map(_.getAs[Long](IdCol)).zipWithIndex.toMap
    val edges = edges0.filter(e =>
      idToIdx.contains(e.getAs[Long](SrcCol)) &&
        idToIdx.contains(e.getAs[Long](DstCol)))
    val nodeProps = ctx.args.headOption.flatMap(argList)
    val edgeProps = ctx.args.lift(1).flatMap(argList)
    val nodeSet = ctx.args.lift(2).map(_.toString).filter(_.nonEmpty)
      .getOrElse("node")
    val edgeSet = ctx.args.lift(3).map(_.toString).filter(_.nonEmpty)
      .getOrElse("edge")
    def featureValues(
        rows: Seq[org.apache.spark.sql.Row], names: Seq[String])
      : Map[String, List[Any]] =
      names.map(n =>
        n -> rows.map(r => jsonV(propsOf(r).getOrElse(n, null))).toList)
        .toMap
    val nodeFeatures =
      nodeProps.map(featureValues(nodes, _)).getOrElse(Map.empty)
    val edgeFeatures =
      edgeProps.map(featureValues(edges, _)).getOrElse(Map.empty)
    // gnn.py:249-299 dtype/shape inference
    def dtypeOf(vals: List[Any]): String = {
      val flat = vals.flatMap {
        case s: Seq[_] => s
        case v => Seq(v)
      }.filter(_ != null)
      if (flat.exists(_.isInstanceOf[String])) "DT_STRING"
      else if (flat.exists(v =>
        v.isInstanceOf[Double] || v.isInstanceOf[Float])) "DT_FLOAT"
      else if (flat.isEmpty) "DT_FLOAT"
      else if (flat.forall(_.isInstanceOf[Boolean])) "DT_BOOL"
      else "DT_INT64"
    }
    def shapeOf(vals: List[Any]): List[Int] = {
      val lengths = vals.collect {
        case s: Seq[_] if s.exists(_.isInstanceOf[Seq[_]]) => return List(-1)
        case s: Seq[_] => s.length
      }
      if (lengths.isEmpty) Nil
      else if (lengths.forall(_ == lengths.head)) List(lengths.head)
      else List(-1)
    }
    def schemaOf(fs: Map[String, List[Any]]): Map[String, Any] =
      fs.map { case (n, vs) =>
        n -> Map("dtype" -> dtypeOf(vs), "shape" -> shapeOf(vs))
      }
    val schema = Map(
      "node_sets" -> Map(nodeSet -> Map("features" -> schemaOf(nodeFeatures))),
      "edge_sets" -> Map(edgeSet -> Map(
        "source" -> nodeSet, "target" -> nodeSet,
        "features" -> schemaOf(edgeFeatures))),
      "context" -> Map("features" -> Map.empty))
    val graph = Map(
      "node_sets" -> Map(nodeSet -> Map(
        "features" -> nodeFeatures, "sizes" -> List(nodes.length))),
      "edge_sets" -> Map(edgeSet -> Map(
        "features" -> edgeFeatures,
        "sizes" -> List(edges.length),
        "adjacency" -> Map(
          "source" -> Map(
            "node_set_name" -> nodeSet,
            "indices" -> edges.map(e =>
              idToIdx(e.getAs[Long](SrcCol))).toList),
          "target" -> Map(
            "node_set_name" -> nodeSet,
            "indices" -> edges.map(e =>
              idToIdx(e.getAs[Long](DstCol))).toList)))),
      "context" -> Map("features" -> Map.empty))
    import spark.implicits._
    Seq(JsonCodec.write(Map("schema" -> schema, "graph" -> graph)))
      .toDF("json_data")
  }

  /** Shared node/edge creation from parsed import payloads: allocate a
    * fresh id base, append per-label / per-type frames distributed —
    * the import_util.json path. */
  private def createFromImport(
      g0: GraphState,
      spark: SparkSession,
      nodesData: Seq[(Seq[String], Map[String, Any])],
      edgesData: Seq[(Int, Int, String, Map[String, Any])])
    : (GraphState, Long, Long) = {
    val base = g0.idBase + 2
    import spark.implicits._
    val nodeIds = nodesData.indices.map(i => (base << 48) + i)
    var g = g0
    val byLabelSets = nodesData.zipWithIndex.groupBy(_._1._1)
    byLabelSets.foreach { case (labels, members) =>
      val propKeys = members.flatMap(_._1._2.keys).distinct.sorted
      val propTypes = propKeys.map(k =>
        k -> JsonCodec.sparkTypeOf(members.flatMap(_._1._2.get(k)))).toMap
      val rows = members.map { case ((_, props), i) =>
        org.apache.spark.sql.Row.fromSeq(
          nodeIds(i) +: labels +: propKeys.map(k =>
            props.get(k).map(JsonCodec.coerceTo(_, propTypes(k))).orNull))
      }
      val schema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField(IdCol,
          org.apache.spark.sql.types.LongType) +:
          org.apache.spark.sql.types.StructField(LabelsCol,
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType)) +:
          propKeys.map(k => org.apache.spark.sql.types.StructField(
            k, propTypes(k))))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      labels.foreach { l =>
        g = graft.operators.Mutations.createNodes(g, l, df)
      }
      if (labels.size > 1) g = g.withOverlap
    }
    var edgesCreated = 0L
    val byType = edgesData.zipWithIndex.groupBy(_._1._3)
    byType.foreach { case (tpe, members) =>
      val propKeys = members.flatMap(_._1._4.keys).distinct.sorted
      val propTypes = propKeys.map(k =>
        k -> JsonCodec.sparkTypeOf(members.flatMap(_._1._4.get(k)))).toMap
      val rows = members.map { case ((si, di, _, props), i) =>
        org.apache.spark.sql.Row.fromSeq(
          ((base << 48) + (1L << 47) + i) +: nodeIds(si) +: nodeIds(di) +:
            tpe +: propKeys.map(k =>
              props.get(k).map(JsonCodec.coerceTo(_, propTypes(k))).orNull))
      }
      val schema = org.apache.spark.sql.types.StructType(
        Seq(
          org.apache.spark.sql.types.StructField(IdCol,
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(SrcCol,
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(DstCol,
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(TypeCol,
            org.apache.spark.sql.types.StringType)) ++
          propKeys.map(k => org.apache.spark.sql.types.StructField(
            k, propTypes(k))))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      g = graft.operators.Mutations.createEdges(g, tpe, df)
      edgesCreated += members.length
    }
    (g.withIdBase(base), nodesData.length.toLong, edgesCreated)
  }

  def gnnPygImport(g0: GraphState, ctx: ProcContext)
    : (GraphState, DataFrame) = {
    val spark = ctx.spark
    val json = ctx.args.headOption.map(_.toString).getOrElse(
      throw new IllegalArgumentException("gnn.pyg_import: need json_data"))
    val defLabel = ctx.args.lift(1).map(_.toString).getOrElse("PyGNode")
    val defType = ctx.args.lift(2).map(_.toString).getOrElse("CONNECTS")
    val nodeProps = ctx.args.lift(3).flatMap(argList)
    val edgeProps = ctx.args.lift(4).flatMap(argList)
    val updateExisting = ctx.args.lift(5).exists(_.toString.toBoolean)
    val d = JsonCodec.parse(json).asInstanceOf[Map[String, Any]]
    def li(k: String): Seq[Any] =
      d.get(k).collect { case s: Seq[_] => s }.getOrElse(Nil)
    val numNodes = d.get("num_nodes").map(_.toString.toDouble.toInt)
      .getOrElse(0)
    val x = d.get("x").collect { case s: Seq[_] => s }
    import spark.implicits._

    def resolveProps(idx: Int): Map[String, Any] = {
      // gnn.py:111 _resolve_named_props + :126 feature fallback
      var props = nodeProps.map(_.flatMap { n =>
        d.get(n).collect {
          case s: Seq[_] if idx < s.length => n -> s(idx)
        }
      }.toMap).getOrElse(Map.empty[String, Any])
      x.filter(_ => idx < x.get.length).map(_(idx)).foreach { fv =>
        val feats = fv.asInstanceOf[Seq[Any]]
        nodeProps match {
          case Some(names) =>
            names.zipWithIndex.foreach { case (n, ci) =>
              if (!props.contains(n) && ci < feats.length)
                props += (n -> feats(ci))
            }
          case None if props.isEmpty => props += ("features" -> feats)
          case _ => ()
        }
      }
      props
    }

    if (updateExisting) {
      // write-back: set the resolved props on existing vertices by id
      val idxToId = d.get("idx_to_node_id")
        .collect { case m: Map[_, _] =>
          m.map { case (k, v) => k.toString.toInt ->
            v.toString.toDouble.toLong }
        }.getOrElse(Map.empty[Int, Long])
      var g = ctx.g
      var updated = 0L
      val known = g.allNodes.select(col(IdCol)).collect()
        .map(_.getLong(0)).toSet
      (0 until numNodes).foreach { idx =>
        idxToId.get(idx).filter(known).foreach { id =>
          val props = resolveProps(idx)
          props.foreach { case (k, v) =>
            val sv = JsonCodec.toSparkValue(v)
            val lit0 = sv match {
              case s: Seq[_] => typedLit(s.map(_.toString.toDouble))
              case other => lit(other)
            }
            g = graft.operators.Mutations.setPropertyByIds(
              g, Seq(Tuple1(id)).toDF(IdCol)
                .withColumn("__nv", lit0), k, None)
          }
          updated += 1
        }
      }
      (g, Seq((0L, 0L, updated))
        .toDF("nodes_created", "edges_created", "nodes_updated"))
    } else {
      val labels = d.get("labels").collect { case s: Seq[_] => s }
      val y = d.get("y").collect { case s: Seq[_] => s }
      val idxToId = d.get("idx_to_node_id")
        .collect { case m: Map[_, _] =>
          m.map { case (k, v) => k.toString.toInt -> v }
        }.getOrElse(Map.empty[Int, Any])
      val nodesData = (0 until numNodes).map { idx =>
        val ls = labels.flatMap(l =>
          if (idx < l.length) Some(l(idx)) else None) match {
          case Some(s: Seq[_]) if s.nonEmpty => s.map(_.toString)
          case _ => Seq(defLabel)
        }
        var props = resolveProps(idx)
        y.filter(s => idx < s.length && s(idx) != null)
          .foreach(s => props += ("y" -> s(idx)))
        idxToId.get(idx).foreach(oid => props += ("_original_id" -> oid))
        (ls, props)
      }
      val edgeIndex = li("edge_index")
      val src = edgeIndex.headOption.collect { case s: Seq[_] => s }
        .getOrElse(Nil)
      val dst = edgeIndex.lift(1).collect { case s: Seq[_] => s }
        .getOrElse(Nil)
      val edgeAttr = d.get("edge_attr").collect { case s: Seq[_] => s }
      val edgeTypes = d.get("edge_types").collect { case s: Seq[_] => s }
      val edgesData = src.zip(dst).zipWithIndex.map { case ((s, t), ei) =>
        var props = edgeProps.map(_.flatMap { n =>
          d.get(n).collect {
            case vs: Seq[_] if ei < vs.length => n -> vs(ei)
          }
        }.toMap).getOrElse(Map.empty[String, Any])
        edgeAttr.filter(a => ei < a.length).map(_(ei)).foreach { fv =>
          val feats = fv.asInstanceOf[Seq[Any]]
          edgeProps match {
            case Some(names) =>
              names.zipWithIndex.foreach { case (n, ci) =>
                if (!props.contains(n) && ci < feats.length)
                  props += (n -> feats(ci))
              }
            case None if props.isEmpty => props += ("features" -> feats)
            case _ => ()
          }
        }
        val tpe = edgeTypes.flatMap(ts =>
          if (ei < ts.length) Some(ts(ei).toString) else None)
          .getOrElse(defType)
        (s.toString.toDouble.toInt, t.toString.toDouble.toInt, tpe, props)
      }
      val (g, nc, ec) =
        createFromImport(ctx.g, spark, nodesData, edgesData)
      (g, Seq((nc, ec, 0L))
        .toDF("nodes_created", "edges_created", "nodes_updated"))
    }
  }

  def gnnTfImport(g0: GraphState, ctx: ProcContext)
    : (GraphState, DataFrame) = {
    val spark = ctx.spark
    val json = ctx.args.headOption.map(_.toString).getOrElse(
      throw new IllegalArgumentException("gnn.tf_import: need json_data"))
    val defLabel = ctx.args.lift(1).map(_.toString).getOrElse("TfGnnNode")
    val defType = ctx.args.lift(2).map(_.toString).getOrElse("CONNECTS")
    val root = JsonCodec.parse(json).asInstanceOf[Map[String, Any]]
    val graph = root.get("graph")
      .collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      .getOrElse(root)
    def mapOf(m: Any): Map[String, Any] = m match {
      case mm: Map[_, _] => mm.map { case (k, v) => k.toString -> v }
      case _ => Map.empty
    }
    val nodeSets = mapOf(graph.getOrElse("node_sets", Map.empty))
    val edgeSets = mapOf(graph.getOrElse("edge_sets", Map.empty))
    // (node_set, idx) -> position in nodesData (tf_import keys lookups
    // by set+idx, gnn.py:598)
    var nodesData = Vector.empty[(Seq[String], Map[String, Any])]
    var lookup = Map.empty[(String, Int), Int]
    nodeSets.foreach { case (ns, nd0) =>
      val nd = mapOf(nd0)
      val feats = mapOf(nd.getOrElse("features", Map.empty))
      val size0 = nd.get("sizes").collect {
        case s: Seq[_] if s.nonEmpty => s.head.toString.toDouble.toInt
      }.getOrElse(0)
      val size =
        if (size0 == 0 && feats.nonEmpty)
          feats.values.collect { case s: Seq[_] => s.length }
            .maxOption.getOrElse(0)
        else size0
      (0 until size).foreach { idx =>
        val props = feats.flatMap { case (k, vs0) =>
          vs0 match {
            case vs: Seq[_] if idx < vs.length && vs(idx) != null =>
              Some(k -> vs(idx))
            case _ => None
          }
        } ++ Map("_tfgnn_idx" -> idx.toLong) ++
          (if (ns.nonEmpty) Map("_tfgnn_node_set" -> ns) else Map.empty)
        lookup += ((ns, idx) -> nodesData.length)
        nodesData :+= ((Seq(defLabel), props))
      }
    }
    var edgesData = Vector.empty[(Int, Int, String, Map[String, Any])]
    edgeSets.foreach { case (_, ed0) =>
      val ed = mapOf(ed0)
      val feats = mapOf(ed.getOrElse("features", Map.empty))
      val adj = mapOf(ed.getOrElse("adjacency", Map.empty))
      val srcA = mapOf(adj.getOrElse("source", Map.empty))
      val dstA = mapOf(adj.getOrElse("target", Map.empty))
      val srcSet = srcA.get("node_set_name").map(_.toString).getOrElse("")
      val dstSet = dstA.get("node_set_name").map(_.toString).getOrElse("")
      def idxs(a: Map[String, Any]): Seq[Int] =
        a.get("indices").collect { case s: Seq[_] =>
          s.map(_.toString.toDouble.toInt)
        }.getOrElse(Nil)
      idxs(srcA).zip(idxs(dstA)).zipWithIndex.foreach {
        case ((si, di), ei) =>
          (lookup.get((srcSet, si)), lookup.get((dstSet, di))) match {
            case (Some(sp), Some(dp)) =>
              val props = feats.flatMap { case (k, vs0) =>
                vs0 match {
                  case vs: Seq[_] if ei < vs.length && vs(ei) != null =>
                    Some(k -> vs(ei))
                  case _ => None
                }
              }
              edgesData :+= ((sp, dp, defType, props.toMap))
            case _ => ()
          }
      }
    }
    import spark.implicits._
    val (g, nc, ec) = createFromImport(ctx.g, spark, nodesData, edgesData)
    (g, Seq((nc, ec)).toDF("nodes_created", "edges_created"))
  }

  val registry: Map[String, ProcContext => DataFrame] = Map(
    "tgn.set_params" -> tgnSetParams,
    "tgn.update" -> tgnUpdate,
    "tgn.set_eval" -> tgnSetEval,
    "tgn.train_and_eval" -> tgnTrainAndEval,
    "tgn.get_results" -> tgnGetResults,
    "tgn.get" -> tgnGet,
    "tgn.predict_link_score" -> tgnPredictLinkScore,
    "tgn.reset" -> tgnReset,
    "tgn.revert_from_database" ->
      notImplemented("tgn.revert_from_database") _,
    "tgn.save_tgn_params" -> notImplemented("tgn.save_tgn_params") _,
    "gnn.pyg_export" -> gnnPygExport,
    "gnn.tf_export" -> gnnTfExport)

  val writeRegistry: Map[String, ProcContext => (GraphState, DataFrame)] =
    Map(
      "gnn.pyg_import" -> (ctx => gnnPygImport(ctx.g, ctx)),
      "gnn.tf_import" -> (ctx => gnnTfImport(ctx.g, ctx)))
}

/** Minimal JSON writer/reader for the gnn payload contract (the project
  * has no JSON library dependency; Spark's Jackson is shaded). Writer
  * emits maps in insertion order where given; reader produces
  * Map/Seq/String/Double/Boolean/null. */
private[procedures] object JsonCodec {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => "\\u%04x".format(c.toInt)
        case c => c.toString
      }
    def go(x: Any): Unit = x match {
      case null => sb.append("null")
      case None => sb.append("null")
      case Some(y) => go(y)
      case b: Boolean => sb.append(b.toString)
      case i: Int => sb.append(i.toString)
      case l: Long => sb.append(l.toString)
      // python json emits floats with a fractional part ("1.0", not "1")
      // — keeping it distinguishes Double from Long across a roundtrip
      case d: Double => sb.append(d.toString)
      case f: Float => go(f.toDouble)
      case n: Number => sb.append(n.toString)
      case s: String => sb.append('"').append(esc(s)).append('"')
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        var first = true
        m.foreach { case (k, v2) =>
          if (!first) sb.append(',')
          first = false
          sb.append('"').append(esc(k.toString)).append("\":")
          go(v2)
        }
        sb.append('}')
      case s: Iterable[_] =>
        sb.append('[')
        var first = true
        s.foreach { e =>
          if (!first) sb.append(',')
          first = false
          go(e)
        }
        sb.append(']')
      case other => go(other.toString)
    }
    go(v)
    sb.toString
  }

  /** Recursive-descent JSON parser (payloads are driver-bounded by the
    * export gate). Integral literals (no '.'/'e'/'E') parse as Long so a
    * dump→import roundtrip preserves integer-typed properties; anything
    * fractional or exponent-form parses as Double. */
  def parse(s: String): Any = {
    var i = 0
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def fail(msg: String) =
      throw new IllegalArgumentException(s"JSON parse error at $i: $msg")
    def value(): Any = {
      ws()
      if (i >= s.length) fail("eof")
      s.charAt(i) match {
        case '{' =>
          i += 1
          var m = Map.empty[String, Any]
          ws()
          if (i < s.length && s.charAt(i) == '}') { i += 1; m }
          else {
            var done = false
            while (!done) {
              ws()
              val k = str()
              ws()
              if (s.charAt(i) != ':') fail("expected :")
              i += 1
              m += (k -> value())
              ws()
              s.charAt(i) match {
                case ',' => i += 1
                case '}' => i += 1; done = true
                case _ => fail("expected , or }")
              }
            }
            m
          }
        case '[' =>
          i += 1
          var out = Vector.empty[Any]
          ws()
          if (i < s.length && s.charAt(i) == ']') { i += 1; out }
          else {
            var done = false
            while (!done) {
              out :+= value()
              ws()
              s.charAt(i) match {
                case ',' => i += 1
                case ']' => i += 1; done = true
                case _ => fail("expected , or ]")
              }
            }
            out
          }
        case '"' => str()
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _ =>
          val start = i
          while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0)
            i += 1
          val lit = s.substring(start, i)
          if (lit.indexOf('.') < 0 && lit.indexOf('e') < 0 &&
              lit.indexOf('E') < 0)
            try lit.toLong
            catch { case _: NumberFormatException => lit.toDouble }
          else lit.toDouble
      }
    }
    def str(): String = {
      if (s.charAt(i) != '"') fail("expected string")
      i += 1
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          i += 1
          s.charAt(i) match {
            case '"' => sb.append('"')
            case '\\' => sb.append('\\')
            case '/' => sb.append('/')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'u' =>
              sb.append(
                Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar)
              i += 4
            case other => fail(s"bad escape \\$other")
          }
        } else sb.append(c)
        i += 1
      }
      i += 1
      sb.toString
    }
    val v = value()
    ws()
    v
  }

  /** JSON value → a Spark-friendly scalar/array (parse yields Doubles;
    * integral doubles stay Double for schema stability). */
  def toSparkValue(v: Any): Any = v match {
    case s: Seq[_] => s.map(toSparkValue)
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toSparkValue(x) }
    case other => other
  }

  /** Coerce a parsed JSON value to the column type `sparkTypeOf` picked —
    * a column may mix integral and fractional literals (promoted to
    * DoubleType), so individual Longs must widen to Double at row build. */
  def coerceTo(v: Any, dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    (v, dt) match {
      case (null, _) => null
      case (n: java.lang.Number, DoubleType) => n.doubleValue()
      case (n: java.lang.Number, LongType) => n.longValue()
      case (s: Seq[_], ArrayType(et, _)) => s.map(coerceTo(_, et))
      case (other, _) => toSparkValue(other)
    }
  }

  /** Infer a Spark DataType for a column of parsed JSON values. */
  def sparkTypeOf(vals: Seq[Any]): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val nonNull = vals.filter(_ != null)
    nonNull.headOption match {
      case Some(_: String) => StringType
      case Some(_: Boolean) => BooleanType
      case Some(_: Long) | Some(_: Int) | Some(_: Double) =>
        if (nonNull.exists(_.isInstanceOf[Double])) DoubleType else LongType
      case Some(s: Seq[_]) =>
        ArrayType(sparkTypeOf(s ++ nonNull.collect {
          case q: Seq[_] => q
        }.flatten))
      case Some(m: Map[_, _]) =>
        MapType(StringType, StringType)
      case _ => StringType
    }
  }
}
