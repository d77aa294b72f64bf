package graft.procedures

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.GraphState
import graft.core.GraphState.{DstCol, IdCol, LabelsCol, SrcCol, TypeCol}
import graft.operators.Scratch

/** Second python-MAGE tranche (reference `src/mage/python/`):
  * `node_classification.py`, `xml_module.py`, `export_util.py`,
  * `import_util.py` — same recipe as [[PyTailProcs]]: the torch/igraph
  * internals are replaced by DETERMINISTIC variants with identical
  * call/yield surfaces, and the data movement is Spark-native.
  *
  *   - `node_classification.*` (node_classification.py:284-713): the
  *     reference trains a GATJK torch module; torch is out of scope, so
  *     the model is a deterministic NEAREST-CENTROID classifier over the
  *     `features_name` array property with `class_name` ground truth —
  *     per-class centroids come from one distributed
  *     posexplode+groupBy+avg (k·dim scalars cross the driver, nothing
  *     else), the train/validation split is a deterministic id hash at
  *     `split_ratio`, and the logged loss is the split's
  *     misclassification rate (same every epoch — the model has no
  *     gradient path, which is exactly what makes it reproducible).
  *   - `xml_module.parse(xml, simple, path)` (xml_module.py:47): JDK DOM
  *     parse on the driver (the argument is a literal / parameter by the
  *     mgp contract) into the reference's `_type`/`_text`/`_children`
  *     map shape, surfaced through the same literal-dataset JSON
  *     inference as `json_util.load_from_str`.
  *   - `export_util.json(path, config)` (export_util.py:523): the
  *     node/relationship JSON objects are built DISTRIBUTED via
  *     `to_json` over the label/type frames (field order matches the
  *     reference's dicts: id/labels/properties/type and
  *     end/id/label/properties/start/type; null properties drop); only
  *     the final file append streams through the driver
  *     (`toLocalIterator`) because the contract is one JSON array file —
  *     same single-file funnel as the reference.
  *   - `import_util.json(path)` (import_util.py:310): distributed JSON
  *     read → id remap (dense ranks over the file's ids under a fresh
  *     id-namespace base) → per-label / per-type frame appends. A WRITE
  *     procedure: returns the next graph version.
  */
object PyTail2Procs {

  /** meta_util.schema output shapes (meta_util.py:112-146). */
  final case class SchemaNode(
      id: Long, labels: Seq[String],
      properties: Map[String, Long], `type`: String)
  final case class SchemaRel(
      id: Long, start: Long, end: Long, label: String,
      properties: Map[String, Long], `type`: String)

  /** llm_util.schema raw-form shapes (llm_util.py:106-124). */
  final case class PropEntry(property: String, `type`: String)
  final case class RelTriple(start: String, `type`: String, end: String)

  // ---------------- node_classification ----------------

  private val ncDefaults: Map[String, Any] = Map(
    "hidden_features_size" -> Seq(16L, 16L),
    "layer_type" -> "GATJK",
    "num_epochs" -> 100L,
    "learning_rate" -> 0.1,
    "weight_decay" -> 5e-4,
    "split_ratio" -> 0.8,
    "node_id_property" -> "id",
    "device_type" -> "cpu",
    "console_log_freq" -> 5L,
    "checkpoint_freq" -> 5L,
    "aggregator" -> "mean",
    "metrics" -> Seq("loss", "accuracy"),
    "features_name" -> "features",
    "class_name" -> "class",
    "observed_attribute" -> "",
    "path_to_model" -> "")

  private var ncParams: Map[String, Any] = ncDefaults
  /** class → centroid (the whole "model"). */
  private var ncModel: Option[Seq[(Long, Seq[Double])]] = None

  private def ncStr(k: String): String = ncParams(k).toString
  private def ncNum(k: String): Double = ncParams(k).toString.toDouble

  def ncSetModelParameters(ctx: ProcContext): DataFrame = {
    val user = ctx.args.headOption match {
      case Some(m: Map[_, _]) => m.map { case (k, v) => k.toString -> v }
      case _ => Map.empty[String, Any]
    }
    val unknown = user.keySet.diff(ncDefaults.keySet)
    require(unknown.isEmpty,
      s"node_classification.set_model_parameters: unknown parameters $unknown")
    ncParams = ncDefaults ++ user
    val spark = ctx.spark
    import spark.implicits._
    Seq((
      ncParams("hidden_features_size").asInstanceOf[Seq[Long]],
      ncStr("layer_type"), ncStr("aggregator"),
      ncNum("learning_rate"), ncNum("weight_decay"), ncNum("split_ratio"),
      ncParams("metrics").asInstanceOf[Seq[String]],
      ncStr("node_id_property"), ncNum("num_epochs").toLong,
      ncNum("console_log_freq").toLong, ncNum("checkpoint_freq").toLong,
      ncStr("device_type"), ncStr("path_to_model")))
      .toDF(
        "hidden_features_size", "layer_type", "aggregator",
        "learning_rate", "weight_decay", "split_ratio", "metrics",
        "node_id_property", "num_epochs", "console_log_freq",
        "checkpoint_freq", "device_type", "path_to_model")
  }

  /** Labeled training frame: (_id, class, features) for nodes carrying
    * BOTH configured properties (optionally restricted to the
    * `observed_attribute` label, the reference's hetero-graph knob). */
  private def ncData(ctx: ProcContext): DataFrame = {
    val fName = ncStr("features_name")
    val cName = ncStr("class_name")
    val observed = ncStr("observed_attribute")
    val base =
      if (observed.nonEmpty) ctx.g.nodesOrEmpty(observed) else ctx.g.allNodes
    require(base.columns.contains(fName) && base.columns.contains(cName),
      s"node_classification: nodes need '$fName' and '$cName' properties")
    base
      .filter(col(fName).isNotNull && col(cName).isNotNull)
      .select(
        col(IdCol),
        col(cName).cast("long").as("__cls"),
        expr(s"transform(`$fName`, x -> cast(x as double))").as("__f"))
  }

  private def ncAssign(data: DataFrame, model: Seq[(Long, Seq[Double])])
    : DataFrame = {
    // squared euclidean to each centroid, argmin by (dist, class id)
    val scored = model.map { case (cls, cen) =>
      val c = array(cen.map(lit): _*)
      struct(
        aggregate(
          zip_with(col("__f"), c, (a, b) => (a - b) * (a - b)),
          lit(0.0), _ + _).as("d"),
        lit(cls).as("cls"))
    }
    data.withColumn("__pred", array_min(array(scored: _*)).getField("cls"))
  }

  def ncTrain(ctx: ProcContext): DataFrame = {
    val numEpochs = ctx.args.headOption match {
      case Some(n: java.lang.Number) => n.intValue()
      case _ => ncNum("num_epochs").toInt
    }
    val data = Scratch.cp(ncData(ctx))
    require(!data.isEmpty, "node_classification.train: graph is empty")
    // deterministic split: xxhash64(id) mod 10 under split_ratio*10
    val cut = math.round(ncNum("split_ratio") * 10).toInt
    val withSplit = data.withColumn(
      "__train", pmod(xxhash64(col(IdCol)), lit(10)) < cut)
    val model: Seq[(Long, Seq[Double])] = withSplit
      .filter(col("__train"))
      .select(col("__cls"), posexplode(col("__f")).as(Seq("__p", "__x")))
      .groupBy("__cls", "__p").agg(avg(col("__x")).as("__m"))
      .groupBy("__cls")
      .agg(array_sort(collect_list(struct(col("__p"), col("__m")))).as("__c"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getDouble(1)).toSeq)
      .sortBy(_._1).toSeq
    require(model.nonEmpty,
      "node_classification.train: no rows on the training side of the split")
    ncModel = Some(model)
    val err = ncAssign(withSplit, model)
      .groupBy(col("__train"))
      .agg(
        avg(when(col("__pred") =!= col("__cls"), 1.0).otherwise(0.0)).as("e"))
      .collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    val loss = err.getOrElse(true, 0.0)
    val valLoss = err.getOrElse(false, loss)
    val freq = math.max(1, ncNum("console_log_freq").toInt)
    val spark = ctx.spark
    import spark.implicits._
    val epochs =
      (1 to numEpochs).filter(e => e % freq == 0 || e == numEpochs).distinct
    epochs
      .map(e => (e, loss, valLoss, Seq(1.0 - loss), Seq(1.0 - valLoss)))
      .toDF("epoch", "loss", "val_loss", "train_log", "val_log")
  }

  def ncPredict(ctx: ProcContext): DataFrame = {
    val id = ctx.args.headOption match {
      case Some(n: java.lang.Number) => n.longValue()
      case other => throw new IllegalArgumentException(
        s"node_classification.predict: need a node id, got $other")
    }
    val model = ncModel.getOrElse(
      throw new IllegalStateException("Load a model before predicting."))
    val spark = ctx.spark
    import spark.implicits._
    val row = ncAssign(ncData(ctx).filter(col(IdCol) === id), model)
      .select(col("__pred")).collect()
    require(row.nonEmpty,
      s"node_classification.predict: node $id has no feature/class properties")
    Seq((row.head.getLong(0), "Prediction complete."))
      .toDF("predicted_class", "status")
  }

  def ncReset(ctx: ProcContext): DataFrame = {
    ncParams = ncDefaults
    ncModel = None
    val spark = ctx.spark
    import spark.implicits._
    Seq("Global parameters and models are reset.").toDF("status")
  }

  def ncSaveModel(ctx: ProcContext): DataFrame = {
    val model = ncModel.getOrElse(
      throw new IllegalStateException("Train a model before saving."))
    val dir = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_nc_models")
    dir.mkdirs()
    val f = new java.io.File(dir, "model.json")
    val json = model.map { case (c, cen) =>
      s"""{"class": $c, "centroid": [${cen.mkString(", ")}]}"""
    }.mkString("[", ", ", "]")
    java.nio.file.Files.writeString(f.toPath, json)
    val spark = ctx.spark
    import spark.implicits._
    Seq((f.getAbsolutePath, "Model saved")).toDF("path", "status")
  }

  def ncLoadModel(ctx: ProcContext): DataFrame = {
    val dir = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_nc_models")
    val f = new java.io.File(dir, "model.json")
    require(f.exists(), "node_classification.load_model: no saved model")
    val spark = ctx.spark
    val df = spark.read.option("multiLine", "true")
      .json(f.getAbsolutePath)
    ncModel = Some(
      df.select(col("class"), col("centroid")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq)
        .sortBy(_._1).toSeq)
    import spark.implicits._
    Seq((f.getAbsolutePath, "Model loaded")).toDF("path", "status")
  }

  // ---------------- xml_module ----------------

  /** XML element → the reference's map shape (xml_module.py:11-29),
    * rendered as a JSON object string. */
  private def xmlToJson(
      el: org.w3c.dom.Element, simple: Boolean): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val fields = scala.collection.mutable.ArrayBuffer[String](
      s"${q("_type")}: ${q(el.getTagName)}")
    val atts = el.getAttributes
    (0 until atts.getLength).foreach { i =>
      val a = atts.item(i)
      fields += s"${q(a.getNodeName)}: ${q(a.getNodeValue)}"
    }
    val kids = el.getChildNodes
    val elems = (0 until kids.getLength).map(kids.item)
      .collect { case e: org.w3c.dom.Element => e }
    val text = (0 until kids.getLength).map(kids.item)
      .collect { case t: org.w3c.dom.Text => t.getData }
      .mkString("").trim
    if (text.nonEmpty) fields += s"${q("_text")}: ${q(text)}"
    if (elems.nonEmpty) {
      val key = if (simple) "_" + el.getTagName else "_children"
      fields += s"${q(key)}: [${elems.map(xmlToJson(_, simple)).mkString(", ")}]"
    }
    fields.mkString("{", ", ", "}")
  }

  /** `xml_module.parse(xml, simple, path)` → result (parsed object).
    * `path` selects a child list by dot-path like the reference's
    * xpath-lite argument is out of scope — non-empty path raises. */
  def xmlParse(ctx: ProcContext): DataFrame = {
    val xml = ctx.args.headOption.map(_.toString).getOrElse(
      throw new IllegalArgumentException("xml_module.parse: need xml input"))
    val simple = ctx.args.lift(1) match {
      case Some(b: Boolean) => b
      case _ => false
    }
    require(
      ctx.args.lift(2).forall(p => p == null || p.toString.isEmpty),
      "xml_module.parse: the xpath `path` argument is not supported")
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    // defusedxml analog: no DTDs, no external entities
    dbf.setFeature(
      "http://apache.org/xml/features/disallow-doctype-decl", true)
    val doc = dbf.newDocumentBuilder()
      .parse(new org.xml.sax.InputSource(new java.io.StringReader(xml)))
    val json = xmlToJson(doc.getDocumentElement, simple)
    val spark = ctx.spark
    import spark.implicits._
    val df = spark.read.option("multiLine", "true")
      .json(spark.createDataset(Seq(json)))
    df.select(struct(df.columns.map(col).toSeq: _*).as("result"))
  }

  // ---------------- export_util / import_util ----------------

  /** One JSON object string per node / relationship, reference field
    * order, null properties dropped (to_json default). */
  private def graphObjects(g: GraphState): (DataFrame, DataFrame) = {
    def propsStruct(df: DataFrame, meta: Seq[String]) = {
      val props = df.columns.filterNot(meta.contains).toSeq.sorted
      if (props.isEmpty) lit(null).cast("string")
      else to_json(struct(props.map(col): _*))
    }
    val nodes = g.allNodes
    val nodeJson = nodes.select(
      col(IdCol).as("__id"),
      concat(
        lit("{\"id\": "), col(IdCol),
        lit(", \"labels\": "), to_json(col(LabelsCol)),
        lit(", \"properties\": "),
        coalesce(propsStruct(nodes, GraphState.nodeMeta), lit("{}")),
        lit(", \"type\": \"node\"}")).as("__j"))
    val edges = g.allEdges
    val relJson = edges.select(
      col(IdCol).as("__id"),
      concat(
        lit("{\"end\": "), col(DstCol),
        lit(", \"id\": "), col(IdCol),
        lit(", \"label\": \""), col(TypeCol),
        lit("\", \"properties\": "),
        coalesce(propsStruct(edges, GraphState.edgeMeta), lit("{}")),
        lit(", \"start\": "), col(SrcCol),
        lit(", \"type\": \"relationship\"}")).as("__j"))
    (nodeJson, relJson)
  }

  /** `export_util.json(path, config)` → (path, data). */
  def exportJson(ctx: ProcContext): DataFrame = {
    val path = ctx.args.headOption.map(String.valueOf).filter(
      s => s.nonEmpty && s != "null").getOrElse("")
    val config = ctx.args.lift(1) match {
      case Some(m: Map[_, _]) => m.map { case (k, v) => k.toString -> v }
      case _ => Map.empty[String, Any]
    }
    val stream = config.get("stream").exists(_.toString.toBoolean)
    val (nodeJson, relJson) = graphObjects(ctx.g)
    val ordered = nodeJson.orderBy("__id").select("__j")
      .unionAll(relJson.orderBy("__id").select("__j"))
    if (path.nonEmpty) {
      val w = java.nio.file.Files.newBufferedWriter(
        java.nio.file.Paths.get(path))
      try {
        w.write("[")
        var first = true
        // driver streams row-by-row — the contract is ONE json array
        // file, the same funnel the reference's json.dump pays
        val it = ordered.toLocalIterator()
        while (it.hasNext) {
          if (!first) w.write(", ")
          w.write(it.next().getString(0))
          first = false
        }
        w.write("]")
      } finally w.close()
    }
    val data =
      if (stream)
        ordered.collect().map(_.getString(0)).mkString("[", ", ", "]")
      else ""
    val spark = ctx.spark
    import spark.implicits._
    Seq((path, data)).toDF("path", "data")
  }

  /** `import_util.json(path)` — WRITE proc: recreate the exported graph
    * under a fresh id-namespace base (old ids remap densely). */
  def importJson(g0: GraphState, ctx: ProcContext): (GraphState, DataFrame) = {
    val path = ctx.args.headOption.map(_.toString).getOrElse(
      throw new IllegalArgumentException("import_util.json: need a path"))
    val spark = ctx.spark
    val df = spark.read.option("multiLine", "true").json(path)
    require(
      Seq("id", "type", "properties").forall(df.columns.contains),
      s"import_util.json: $path is not an export_util.json file")
    val base = g0.idBase + 2 // the running statement owns idBase+1
    def flatProps(d: DataFrame): Seq[(String, org.apache.spark.sql.Column)] =
      d.schema.find(_.name == "properties").map(_.dataType) match {
        case Some(s: org.apache.spark.sql.types.StructType) =>
          s.fieldNames.toSeq.map(f => f -> col("properties").getField(f))
        case _ => Nil
      }
    val nodes0 = df.filter(col("type") === "node")
    val nodes = graft.operators.Ranks.orderedIds(
      nodes0.select(
        (col("id").as("__old") +:
          col("labels").cast("array<string>").as(LabelsCol) +:
          flatProps(nodes0).map { case (k, c) => c.as(k) }): _*),
      "__idx", "__old")
      .withColumn(IdCol, (lit(base) * lit(1L << 48) + col("__idx")).cast("long"))
      .transform(Scratch.cp)
    val idMap = nodes.select(col("__old"), col(IdCol))
    var g = g0
    val labels = nodes.select(explode(col(LabelsCol)).as("l"))
      .distinct().collect().map(_.getString(0))
    labels.foreach { l =>
      g = graft.operators.Mutations.createNodes(
        g, l,
        nodes.filter(array_contains(col(LabelsCol), l))
          .drop("__old", "__idx"))
    }
    val unlabeled = nodes.filter(size(col(LabelsCol)) === 0)
    if (!unlabeled.isEmpty)
      g = graft.operators.Mutations.createNodes(
        g, "_", unlabeled.drop("__old", "__idx"))
    if (nodes.filter(size(col(LabelsCol)) > 1).limit(1).count() > 0)
      g = g.withOverlap
    val rels0 = df.filter(col("type") === "relationship")
    if (rels0.limit(1).count() > 0) {
      val rels = graft.operators.Ranks.orderedIds(
        rels0.select(
          (col("id").as("__old") +: col("label").as(TypeCol) +:
            col("start").as("__s") +: col("end").as("__e") +:
            flatProps(rels0).map { case (k, c) => c.as(k) }): _*),
        "__idx", "__old")
        .withColumn(
          IdCol,
          (lit(base) * lit(1L << 48) + lit(1L << 47) + col("__idx"))
            .cast("long"))
        .join(
          idMap.select(col("__old").as("__s"), col(IdCol).as(SrcCol)),
          Seq("__s"))
        .join(
          idMap.select(col("__old").as("__e"), col(IdCol).as(DstCol)),
          Seq("__e"))
        .transform(Scratch.cp)
      val types = rels.select(col(TypeCol)).distinct()
        .collect().map(_.getString(0))
      types.foreach { t =>
        g = graft.operators.Mutations.createEdges(
          g, t,
          rels.filter(col(TypeCol) === t).drop("__old", "__idx", "__s", "__e"))
      }
    }
    import spark.implicits._
    (g.withIdBase(base), Seq("success").toDF("status"))
  }

  // ---------------- meta_util / csv_utils ----------------

  /** `meta_util.schema(include_properties)` (meta_util.py:33): one map
    * per distinct LABEL SET with entity/property counts, one per
    * (source labels, type, target labels) triple. Tallies run as grouped
    * counts — the node side in one scan keyed by the sorted label array;
    * the edge side through the same id-namespace-base fast path as
    * `meta.stats` (labels are a function of `id >> 48` when every base
    * carries one label set), falling back to explicit label joins.
    * Ordering is deterministic (sorted label tuples), unlike the
    * reference's iteration order. */
  def metaUtilSchema(ctx: ProcContext): DataFrame = {
    val includeProps = ctx.args.headOption match {
      case Some(b: Boolean) => b
      case Some(s: String) => s.toBoolean
      case _ => false
    }
    val spark = ctx.spark
    val g = ctx.g
    val nodes = g.allNodes
    val nProps =
      nodes.columns.filterNot(GraphState.nodeMeta.contains).toSeq.sorted
    val nodeGroups: Array[(Seq[String], Long, Map[String, Long])] = nodes
      .groupBy(array_sort(col(LabelsCol)).as("__ls"))
      .agg(
        count(lit(1)).as("__n"),
        nProps.map(p => count(col(p)).as(s"__p_$p")): _*)
      .collect()
      .map { r =>
        val props = nProps
          .map(p => p -> r.getAs[Long](s"__p_$p"))
          .filter(_._2 > 0).toMap
        (Option(r.getSeq[String](0)).getOrElse(Nil).toSeq,
          r.getAs[Long]("__n"), props)
      }
      .sortBy(_._1.mkString("\u0000"))
    require(nodeGroups.nonEmpty,
      "Can't generate a graph schema since there is no data in the database.")
    val nodeIdx: Map[Seq[String], Long] =
      nodeGroups.zipWithIndex.map { case (gp, i) => gp._1 -> i.toLong }.toMap

    val edges = g.allEdges
    val eProps =
      edges.columns.filterNot(GraphState.edgeMeta.contains).toSeq.sorted
    def propMap(r: org.apache.spark.sql.Row): Map[String, Long] =
      eProps.map(p => p -> r.getAs[Long](s"__p_$p")).filter(_._2 > 0).toMap
    // base → label set (fast path when unique per base)
    val baseLabels = nodes
      .select(shiftright(col(IdCol), 48).as("__b"),
        array_sort(col(LabelsCol)).as("__ls"))
      .distinct().collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[String](1)).getOrElse(Nil).toSeq)
    val uniform = baseLabels.groupBy(_._1).valuesIterator.forall(_.length == 1)
    val relGroups0: Seq[((Seq[String], String, Seq[String]), (Long, Map[String, Long]))] =
      if (uniform) {
        val labelsOf = baseLabels.toMap
        edges
          .groupBy(
            col(TypeCol),
            shiftright(col(SrcCol), 48).as("__sb"),
            shiftright(col(DstCol), 48).as("__db"))
          .agg(
            count(lit(1)).as("__n"),
            eProps.map(p => count(col(p)).as(s"__p_$p")): _*)
          .collect().toSeq
          .flatMap { r =>
            for {
              sl <- labelsOf.get(r.getLong(1))
              dl <- labelsOf.get(r.getLong(2))
            } yield
              ((sl, r.getString(0), dl), (r.getAs[Long]("__n"), propMap(r)))
          }
      } else {
        val nl = nodes.select(
          col(IdCol), array_sort(col(LabelsCol)).as("__ls"))
        edges
          .join(nl.select(col(IdCol).as(SrcCol), col("__ls").as("__sl")), Seq(SrcCol))
          .join(nl.select(col(IdCol).as(DstCol), col("__ls").as("__dl")), Seq(DstCol))
          .groupBy(col("__sl"), col(TypeCol), col("__dl"))
          .agg(
            count(lit(1)).as("__n"),
            eProps.map(p => count(col(p)).as(s"__p_$p")): _*)
          .collect().toSeq
          .map(r =>
            ((Option(r.getSeq[String](0)).getOrElse(Nil).toSeq,
              r.getString(1),
              Option(r.getSeq[String](2)).getOrElse(Nil).toSeq),
              (r.getAs[Long]("__n"), propMap(r))))
      }
    // several base pairs can share one label triple — merge their tallies
    val relGroups = relGroups0
      .groupBy(_._1)
      .map { case (k, xs) =>
        val n = xs.map(_._2._1).sum
        val pm = xs.flatMap(_._2._2).groupBy(_._1)
          .map { case (p, vs) => p -> vs.map(_._2).sum }
        (k, n, pm)
      }
      .toSeq
      .sortBy { case ((sl, t, dl), _, _) =>
        (sl.mkString("\u0000"), t, dl.mkString("\u0000"))
      }

    def counterMap(n: Long, pm: Map[String, Long]): Map[String, Long] =
      Map("count" -> n) ++ (if (includeProps) pm else Map.empty)
    import spark.implicits._
    val nodeMaps = nodeGroups.toSeq.map { case (ls, n, pm) =>
      SchemaNode(nodeIdx(ls), ls, counterMap(n, pm), "node")
    }
    val relMaps = relGroups.zipWithIndex.flatMap {
      case (((sl, t, dl), n, pm), i) =>
        for (s <- nodeIdx.get(sl); d <- nodeIdx.get(dl))
          yield SchemaRel(i.toLong, s, d, t, counterMap(n, pm), "relationship")
    }
    Seq((nodeMaps, relMaps)).toDF("nodes", "relationships")
  }

  /** python `type(...).__name__` for a property value of this Spark
    * type (llm_util.py:143 raw-schema entries). */
  private def pyTypeName(t: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    t match {
      case ByteType | ShortType | IntegerType | LongType => "int"
      case FloatType | DoubleType | _: DecimalType => "float"
      case StringType => "str"
      case BooleanType => "bool"
      case _: ArrayType => "list"
      case _: MapType | _: StructType => "dict"
      case DateType => "Date"
      case _: DayTimeIntervalType => "Duration"
      case TimestampType | TimestampNTZType => "LocalDateTime"
      case other => other.simpleString
    }
  }

  /** `llm_util.schema(output_type)` (llm_util.py:133): 'prompt_ready'
    * yields the reference's LLM-prompt string (observed per-label /
    * per-type property lists + the single-label relationship triples);
    * 'raw' yields the structured form. Property observation = one
    * count-per-column aggregate per frame; relationship triples reuse
    * the id-namespace-base fast path with a label-join fallback. */
  def llmUtilSchema(ctx: ProcContext): DataFrame = {
    val outputType = ctx.args.headOption.map(_.toString).getOrElse("prompt_ready")
    require(outputType == "prompt_ready" || outputType == "raw",
      "llm_util.schema: output_type must be 'prompt_ready' or 'raw'")
    val spark = ctx.spark
    val g = ctx.g
    require(g.nodeLabels.nonEmpty && !g.allNodes.isEmpty,
      "Can't generate a graph schema since there is no data in the database.")
    def observed(df: DataFrame, meta: Seq[String]): Seq[PropEntry] = {
      val props = df.columns.filterNot(meta.contains).toSeq
      if (props.isEmpty) Nil
      else {
        val row = df.agg(
          count(col(props.head)).as(props.head),
          props.tail.map(p => count(col(p)).as(p)): _*).collect()(0)
        props.filter(p => row.getAs[Long](p) > 0).sorted
          .map(p => PropEntry(p, pyTypeName(df.schema(p).dataType)))
      }
    }
    val nodeProps: Map[String, Seq[PropEntry]] = g.nodeLabels
      .map(l => l -> observed(g.nodes(l), GraphState.nodeMeta))
      .filter(_._2.nonEmpty).toMap
    val relProps: Map[String, Seq[PropEntry]] = g.edgeTypes
      .map(t => t -> observed(g.edges(t), GraphState.edgeMeta))
      .filter(_._2.nonEmpty).toMap
    // single-label (start, type, end) triples
    val nodes = g.allNodes
    val baseLabels = nodes
      .select(shiftright(col(IdCol), 48).as("__b"), col(LabelsCol))
      .distinct().collect()
      .map(r => r.getLong(0) ->
        Option(r.getSeq[String](1)).getOrElse(Nil).toSeq)
    val uniform = baseLabels.groupBy(_._1).valuesIterator.forall(_.length == 1)
    val triples: Seq[RelTriple] =
      (if (uniform) {
         val labelsOf = baseLabels.toMap
         g.allEdges
           .groupBy(
             col(TypeCol),
             shiftright(col(SrcCol), 48).as("__sb"),
             shiftright(col(DstCol), 48).as("__db"))
           .count().collect().toSeq
           .flatMap { r =>
             for {
               sl <- labelsOf.getOrElse(r.getLong(1), Nil)
               dl <- labelsOf.getOrElse(r.getLong(2), Nil)
             } yield RelTriple(sl, r.getString(0), dl)
           }
       } else {
         val nl = nodes.select(col(IdCol), col(LabelsCol))
         g.allEdges
           .join(nl.select(col(IdCol).as(SrcCol),
             col(LabelsCol).as("__sl")), Seq(SrcCol))
           .join(nl.select(col(IdCol).as(DstCol),
             col(LabelsCol).as("__dl")), Seq(DstCol))
           .select(
             explode(col("__sl")).as("__s"), col(TypeCol), col("__dl"))
           .select(col("__s"), col(TypeCol), explode(col("__dl")).as("__d"))
           .distinct().collect().toSeq
           .map(r => RelTriple(r.getString(0), r.getString(1), r.getString(2)))
       }).distinct.sortBy(t => (t.start, t.`type`, t.end))
    import spark.implicits._
    if (outputType == "raw")
      Seq((nodeProps, relProps, triples))
        .toDF("__np", "__rp", "__rel")
        .select(struct(
          col("__np").as("node_props"),
          col("__rp").as("rel_props"),
          col("__rel").as("relationships")).as("schema"))
    else {
      def pyList(es: Seq[PropEntry]): String =
        es.map(e => s"{'property': '${e.property}', 'type': '${e.`type`}'}")
          .mkString("[", ", ", "]")
      val sb = new StringBuilder("Node properties are the following:\n")
      nodeProps.toSeq.sortBy(_._1).foreach { case (l, es) =>
        sb.append(s"Node name: '$l', Node properties: ${pyList(es)}\n")
      }
      sb.append("\nRelationship properties are the following:\n")
      relProps.toSeq.sortBy(_._1).foreach { case (t, es) =>
        sb.append(
          s"Relationship name: '$t', Relationship properties: ${pyList(es)}\n")
      }
      sb.append("\nThe relationships are the following:\n")
      triples.foreach(t =>
        sb.append(s"['(:${t.start})-[:${t.`type`}]->(:${t.end})']\n"))
      Seq(sb.toString).toDF("schema")
    }
  }

  /** `csv_utils.create_csv_file(filepath, content, is_append)` /
    * `delete_csv_file(filepath)` (csv_utils_module.cpp:17-56) — driver
    * file utilities (the reference writes through std::ofstream; pair
    * with LOAD CSV for the read side). */
  def csvCreate(ctx: ProcContext): DataFrame = {
    val path = ctx.args.headOption.map(_.toString).getOrElse(
      throw new IllegalArgumentException("create_csv_file: need a filepath"))
    val content = ctx.args.lift(1).map(_.toString).getOrElse("")
    val append = ctx.args.lift(2) match {
      case Some(b: Boolean) => b
      case _ => false
    }
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    if (append)
      java.nio.file.Files.writeString(
        p, content,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    else java.nio.file.Files.writeString(p, content)
    val spark = ctx.spark
    import spark.implicits._
    Seq(path).toDF("filepath")
  }

  def csvDelete(ctx: ProcContext): DataFrame = {
    val path = ctx.args.headOption.map(_.toString).getOrElse(
      throw new IllegalArgumentException("delete_csv_file: need a filepath"))
    if (!new java.io.File(path).delete())
      throw new IllegalStateException("Failed to delete CSV file")
    val spark = ctx.spark
    import spark.implicits._
    Seq(path).toDF("filepath")
  }

  val registry: Map[String, ProcContext => DataFrame] = Map(
    "meta_util.schema" -> metaUtilSchema,
    "llm_util.schema" -> llmUtilSchema,
    "csv_utils.create_csv_file" -> csvCreate,
    "csv_utils.delete_csv_file" -> csvDelete,
    "node_classification.set_model_parameters" -> ncSetModelParameters,
    "node_classification.train" -> ncTrain,
    "node_classification.predict" -> ncPredict,
    "node_classification.reset" -> ncReset,
    "node_classification.save_model" -> ncSaveModel,
    "node_classification.load_model" -> ncLoadModel,
    "xml_module.parse" -> xmlParse,
    "export_util.json" -> exportJson)

  val writeRegistry: Map[String, ProcContext => (GraphState, DataFrame)] =
    Map("import_util.json" -> (ctx => importJson(ctx.g, ctx)))
}
