package graft.core

import org.apache.spark.sql.DataFrame

/** Property-graph state, Spark-native.
  *
  * The reference (memgraph/memgraph) stores one record per vertex/edge in
  * concurrent skip lists with a packed row-oriented `PropertyStore`
  * (`src/storage/v2/inmemory/storage.hpp:892,924`,
  * `src/storage/v2/property_store.hpp:38-181`). We deliberately invert that:
  * nodes are **label-partitioned columnar DataFrames** and edges are
  * **type-partitioned DataFrames**, so that
  *   - `ScanAllByLabel` (`src/query/plan/operator.hpp:607`) is partition
  *     pruning — only the frames for the requested label are touched;
  *   - property access is column access (Parquet column pruning + min/max
  *     skipping stands in for the reference's label+property indexes,
  *     `src/storage/v2/indices/`);
  *   - every scan is parallel by partition, which makes the reference's
  *     enterprise `ScanParallel` family (`operator.hpp:2055-2323`) a no-op.
  *
  * Frames are lazily constructed (and memoized) per label/type: a query that
  * never touches label L never reads L's parquet footers — the DataFrame
  * analog of partition pruning at the catalog level.
  *
  * Schema conventions:
  *   - node frame:  `_id: LONG`, `_labels: ARRAY<STRING>`, then one typed
  *     column per property ("promoted columns"; dynamic/schemaless properties
  *     observed at load time, per-label — mirrors the reference's observed,
  *     not declared, schema, `SHOW SCHEMA INFO`, ast.hpp:4302).
  *   - edge frame:  `_id: LONG`, `_src: LONG`, `_dst: LONG`, `_type: STRING`,
  *     then property columns.
  *
  * At 100 TB these maps are backed by label/type-partitioned Parquet
  * directories; a mutation batch produces a new immutable `GraphState`
  * (snapshot semantics instead of MVCC delta chains,
  * `src/storage/v2/delta_action.hpp:27-41`).
  */
final class GraphState(
    private val nodeThunks: Map[String, () => DataFrame],
    private val edgeThunks: Map[String, () => DataFrame],
    /** High-water mark of the id-namespace bases consumed by statements run
      * against (ancestors of) this version. Each statement's Planner starts
      * allocating above it, so chained `Cypher.execute` calls never reuse an
      * id base (ids are `base<<48 + sequential offset` — nodes from 0,
      * edges from 2^47, zipWithIndex-assigned so creation order gives
      * consecutive ids like the reference's allocators). Loader bases live
      * in 1..899. */
    val idBase: Long = 900L,
    /** True once a node row may live in MORE than one label frame
      * (multi-label CREATE or SET :Label across frames): frames act as a
      * label index — scans re-filter on `_labels`, and [[allNodes]] dedups
      * by id. False for loader graphs, so the flag costs nothing on the
      * hot analytical paths. */
    val mayOverlap: Boolean = false,
    /** Enum registry (`CREATE ENUM`, reference enum_store.hpp): name →
      * ordered member list. Values are represented as `Name::Member`
      * strings — orderable, oracle-friendly, validated at plan time. */
    val enums: Map[String, Seq[String]] = Map.empty,
    /** Content-version tag for PERSISTED index keys (`spark.graft.index
      * .dir`). Loader graphs carry the stable `"base"` tag, so a fresh
      * session over the same corpus reuses persisted indexes; every
      * frame-replacing mutation ([[withNodes]]/[[withEdges]]) mints a
      * session-unique tag, so a post-mutation CALL can never be served a
      * stale persisted table (it re-persists under the new tag —
      * invalidation by key, the reference's index-rebuild-on-write
      * analog). */
    val indexTag: String = "base",
    /** Declared index registry (`CREATE [POINT|TEXT|VECTOR|EDGE] INDEX`,
      * reference `src/storage/v2/indices/`): drives `SHOW INDEX INFO` /
      * `SHOW VECTOR INDEX INFO` and the `text_search.*` /
      * `vector_search.*` procedure surface. Scans do NOT need it —
      * Catalyst predicate pushdown over the columnar frames is this
      * engine's access path — so the registry is metadata plus the
      * procedures' label/property routing. */
    val indexes: Seq[GraphState.IndexDef] = Nil,
    /** Schema-description registry (`SET DESCRIPTION ON …` /
      * `SHOW DESCRIPTIONS`, reference server-side descriptions):
      * documentation metadata keyed by target. */
    val descriptions: Seq[GraphState.DescEntry] = Nil,
    /** Server-side parameter store (`SET [GLOBAL] PARAMETER` /
      * `SHOW PARAMETERS`): name → (value, scope). Client-supplied
      * parameters shadow these at lowering time. */
    val serverParams: Map[String, (Any, String)] = Map.empty,
    /** The execution-mode decision of the version this one derives from
      * ([[interpreted]]); None on a root (loader or literal) version. */
    inheritedMode: Option[ExecutionMode.Decision] = None) {

  private val nodeCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private val edgeCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  val nodeLabels: Seq[String] = nodeThunks.keys.toSeq.sorted
  val edgeTypes: Seq[String] = edgeThunks.keys.toSeq.sorted

  def nodes(label: String): DataFrame =
    nodeCache.getOrElseUpdate(
      label,
      vectorDecorate(
        label,
        nodeThunks
          .getOrElse(
            label,
            throw new IllegalArgumentException(
              s"unknown node label '$label' (have: ${nodeLabels.mkString(", ")})"))
          .apply(),
        "vector"))

  def edges(tpe: String): DataFrame =
    edgeCache.getOrElseUpdate(
      tpe,
      vectorDecorate(
        tpe,
        edgeThunks
          .getOrElse(
            tpe,
            throw new IllegalArgumentException(
              s"unknown edge type '$tpe' (have: ${edgeTypes.mkString(", ")})"))
          .apply(),
        "vector-edge"))

  /** Vector-indexed properties read back at the index's storage precision
    * (usearch default scalar f32; `src/storage/v2/indices/vector_index
    * .cpp`): the read path casts through FLOAT, and a declared dimension
    * is enforced per row. Identity when no vector index covers the
    * label/type — the common case costs nothing. */
  private def vectorDecorate(
      lbl: String, df: DataFrame, kind: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val covering = indexes.filter(d =>
      d.kind == kind && d.props.nonEmpty &&
        d.label.exists(GraphState.LabelSpec.coversFrame(_, lbl)))
    covering.foldLeft(df) { (f, d) =>
      val p = d.props.head
      // composite specs gate per row: an AND combo only covers rows
      // carrying EVERY label; wildcard covers all
      val rowGate: org.apache.spark.sql.Column = d.label match {
        case Some(spec)
            if kind == "vector" &&
              (GraphState.LabelSpec.isWildcard(spec) ||
                GraphState.LabelSpec.parts(spec).size > 1) =>
          GraphState.LabelSpec.rowPredicate(spec, col(GraphState.LabelsCol))
        case _ => lit(true)
      }
      if (!f.columns.contains(p)) f
      else {
        val scalar =
          d.config.get("scalar_kind").map(_.toString).getOrElse("f32")
        val arr = col(p).cast("array<double>")
        val dimOk = d.config.get("dimension").map(_.toString.toLong) match {
          case Some(n) =>
            when(
              size(arr) =!= n,
              raise_error(lit(
                s"vector index ${d.name.getOrElse(p)}: property $p has " +
                  s"the wrong dimension (expected $n)"))
                .cast("array<double>"))
          case None => when(lit(false), arr)
        }
        val stored =
          if (scalar == "f64") arr
          else transform(arr, x => x.cast("float").cast("double"))
        f.withColumn(
          p,
          when(!rowGate, col(p).cast("array<double>"))
            .when(col(p).isNull, lit(null).cast("array<double>"))
            .otherwise(coalesce(dimOk, stored)))
      }
    }
  }

  def hasLabel(label: String): Boolean = nodeThunks.contains(label)
  def hasType(tpe: String): Boolean = edgeThunks.contains(tpe)

  /** All nodes; schema is the union of per-label schemas (missing → NULL).
    * This is the `ScanAll` path (`operator.hpp:569`) — unavoidable full scan.
    *
    * mayOverlap states pay a full union + dedup-by-id per evaluation, and
    * every UNLABELED pattern node binds against this frame — one LDBC
    * query can hit it several times (ic5's plan carried TWO complete
    * union+SortAggregate subtrees). The deduped view is therefore
    * checkpointed once per version, on first use: the version owns its
    * blocks, and the ContextCleaner frees them once neither the version
    * nor a frame read from the view is reachable. */
  private lazy val allNodesOverlap: DataFrame =
    graft.operators.Scratch.cp(
      nodeLabels
        .map(nodes)
        .reduce(GraphState.unionReconciled)
        .dropDuplicates(GraphState.IdCol))

  def allNodes: DataFrame =
    if (nodeLabels.isEmpty) GraphState.emptyNodeFrame
    else if (mayOverlap) allNodesOverlap
    else nodeLabels.map(nodes).reduce(GraphState.unionReconciled)

  def allEdges: DataFrame =
    if (edgeTypes.isEmpty) GraphState.emptyEdgeFrame
    else
      edgeTypes.map(edges).reduce(GraphState.unionReconciled)

  /** Memoized per-label node-count estimates — the planner's
    * VariableStartPlanner analog costs MATCH start alternatives with them
    * (reference `plan/vertex_count_cache.hpp`). A plain label-frame count
    * is footer-metadata cheap on parquet scans, but still one Spark job;
    * memoized per version, and since a read returns the version it ran on
    * ([[withIdBase]]), a session pays each label's count once per version
    * rather than once per statement. */
  private val countCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  def labelCountEstimate(label: String): Long =
    if (!hasLabel(label)) 0L
    else countCache.getOrElseUpdate(label, nodes(label).count())

  def totalNodeEstimate: Long =
    countCache.getOrElseUpdate(
      " all", nodeLabels.map(labelCountEstimate).sum)

  private val mode: ExecutionMode.Decision = inheritedMode.getOrElse(
    new ExecutionMode.Decision(() => Option.when(edgeTypes.nonEmpty)(allEdges)))

  /** Whether work on this version runs on Spark's interpreted evaluators
    * ([[ExecutionMode]]): at most [[ExecutionMode.InterpretedEdges]]
    * edges. Memoized like [[labelCountEstimate]]: a root version decides
    * once, with one early-stopping count of its edges, and a version
    * derived from it by a write, DDL or id mint shares that decision and
    * runs no job. */
  def interpreted: Boolean = mode.interpreted

  /** [[allEdges]], for the benchmark's set-up (perfbench
    * `graftbench.Main`), which counts it once after each load. The engine
    * reads the edge frames themselves and pushes its filters into the
    * scans. */
  def adjacencyBySrc: DataFrame = allEdges

  /** Scan by label, Cypher-style: a label nothing carries matches nothing
    * (no error) — the planner's `ScanAllByLabel` entry point. */
  def nodesOrEmpty(label: String): DataFrame =
    if (hasLabel(label)) nodes(label) else GraphState.emptyNodeFrame

  /** Edge frames for a (possibly empty = all) set of requested types —
    * the `ScanAllByEdgeType` access path (`operator.hpp:667`). */
  def edgesOfTypes(types: Seq[String]): DataFrame =
    if (types.isEmpty) allEdges
    else {
      val present = types.filter(hasType)
      if (present.isEmpty) GraphState.emptyEdgeFrame
      else
        present.map(edges).reduce(GraphState.unionReconciled)
    }

  // Collected (eid, src, dst) triples per requested type set — the input
  // of every driver-local traversal cutover (LocalHops / LocalSearch),
  // probed under [[graft.operators.Cutover]]'s session cap. Memoized on
  // every version and shared by every statement the session runs on it
  // (hops-limit replays, subcritical var-expands, path searches): a
  // version's frames never change — a write makes a new version with an
  // empty memo — so a capture cannot go stale. One entry per distinct type
  // set, each holding at most cap triples. Right = the whole set; Left(cap)
  // = more than `cap` triples, which answers any later probe under a cap
  // no larger without a job and is probed again under a larger one.
  private val localEdgesMemo = scala.collection.concurrent.TrieMap
    .empty[String, Either[Long, Array[(Long, Long, Long)]]]
  def localTypedEdges(types: Seq[String]): Option[Array[(Long, Long, Long)]] = {
    import org.apache.spark.sql.functions.col
    import graft.operators.Cutover
    val key = types.sorted.mkString(",")
    val cap = Cutover.cap(org.apache.spark.sql.SparkSession.active)
    localEdgesMemo.get(key) match {
      case Some(Right(all)) => Some(all).filter(a => Cutover.fits(a.length, cap))
      case Some(Left(above)) if cap <= above => None
      case _ =>
        val triples = edgesOfTypes(types).select(
          col(GraphState.IdCol), col(GraphState.SrcCol), col(GraphState.DstCol))
        val res = Cutover.within(triples, cap)
          .map(_.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
        localEdgesMemo.put(key, res.toRight(cap))
        res
    }
  }

  /** A derived version: the given fields replaced, the rest carried over,
    * and this version's execution-mode decision inherited. */
  private def copy(
      nodeThunks: Map[String, () => DataFrame] = nodeThunks,
      edgeThunks: Map[String, () => DataFrame] = edgeThunks,
      idBase: Long = idBase,
      mayOverlap: Boolean = mayOverlap,
      enums: Map[String, Seq[String]] = enums,
      indexTag: String = indexTag,
      indexes: Seq[GraphState.IndexDef] = indexes,
      descriptions: Seq[GraphState.DescEntry] = descriptions,
      serverParams: Map[String, (Any, String)] = serverParams): GraphState =
    new GraphState(
      nodeThunks, edgeThunks, idBase, mayOverlap, enums, indexTag, indexes,
      descriptions, serverParams, Some(mode))

  /** New graph version with one node frame replaced/added — the snapshot
    * step every mutation funnels through (our Accumulate barrier analog,
    * `operator.hpp:1870`: writes become visible as a whole new state, never
    * mid-read). */
  def withNodes(label: String, mk: () => DataFrame): GraphState =
    copy(
      nodeThunks = nodeThunks + (label -> mk),
      indexTag = GraphState.freshTag())

  def withEdges(tpe: String, mk: () => DataFrame): GraphState =
    withEdges(Map(tpe -> mk))

  /** Replace several type frames at once — the multi-frame form every
    * id-keyed edge mutation (delete / SET / REMOVE across types) funnels
    * through. No frame to replace returns this very version. */
  def withEdges(updates: Map[String, () => DataFrame]): GraphState =
    if (updates.isEmpty) this
    else
      copy(
        edgeThunks = edgeThunks ++ updates,
        indexTag = GraphState.freshTag())

  /** Materialize ([[graft.operators.Scratch.cp]]) every frame whose thunk
    * CHANGED vs `prev` — the per-batch commit step of periodic.iterate:
    * (a) a failing write expression surfaces inside ITS batch (the thunks
    * are lazy; without forcing, the error would escape to the first later
    * read), and (b) thousands of driver-sequenced batches would otherwise
    * layer thunk-over-thunk into an exploding logical plan. Untouched
    * frames carry over for free (reference-equality compare). A batch's
    * checkpoint is freed by the ContextCleaner once a later batch's
    * version supersedes it. */
  private[graft] def materializeChangesFrom(prev: GraphState): GraphState = {
    import graft.operators.Scratch
    var out = this
    nodeThunks.foreach { case (l, th) =>
      if (!prev.nodeThunks.get(l).exists(_ eq th)) {
        val d = Scratch.cp(nodes(l))
        out = out.withNodes(l, () => d)
      }
    }
    edgeThunks.foreach { case (t, th) =>
      if (!prev.edgeThunks.get(t).exists(_ eq th)) {
        val d = Scratch.cp(edges(t))
        out = out.withEdges(t, () => d)
      }
    }
    out
  }

  /** The version with the id high-water mark advanced to `base` (never
    * lowered). A base at or below [[idBase]] mints no id, so the result is
    * this very version: a read returns the graph it ran on, and its memos
    * (label counts, typed-edge captures, frames, text indexes) serve the
    * session's next statement. A higher base is a new version with empty
    * memos; no frame content changes, so the index tag carries over. */
  def withIdBase(base: Long): GraphState =
    if (base <= idBase) this
    else copy(idBase = base)

  /** Mark that node rows may now live in more than one label frame. */
  def withOverlap: GraphState =
    copy(mayOverlap = true)

  /** Register (or replace) an enum type (`CREATE ENUM`). */
  def withEnum(name: String, values: Seq[String]): GraphState =
    copy(enums = enums + (name -> values))

  /** Register an index (CREATE ... INDEX). */
  def withIndex(d: GraphState.IndexDef): GraphState =
    copy(indexes = indexes :+ d)

  /** Upsert a schema description (same-key SET replaces). */
  def withDescription(d: GraphState.DescEntry): GraphState =
    copy(descriptions = descriptions.filterNot(_.sameKey(d)) :+ d)

  /** Delete every description matching the predicate. */
  def dropDescriptions(p: GraphState.DescEntry => Boolean): GraphState =
    copy(descriptions = descriptions.filterNot(p))

  /** Set / unset a server-side parameter. */
  def withServerParam(name: String, value: Any, scope: String): GraphState =
    copy(serverParams = serverParams + (name -> ((value, scope))))

  def withoutServerParam(name: String): GraphState =
    copy(serverParams = serverParams - name)

  /** Transform every index entry in place (ANALYZE GRAPH stamps/clears
    * per-index statistics kept in `IndexDef.config`). */
  def mapIndexes(
      f: GraphState.IndexDef => GraphState.IndexDef): GraphState =
    copy(indexes = indexes.map(f))

  /** Drop every index matching the predicate. */
  def dropIndexes(p: GraphState.IndexDef => Boolean): GraphState =
    copy(indexes = indexes.filterNot(p))
}

object GraphState {

  /** Composite index label specs (reference vector-index modes,
    * `src/storage/v2/indices/vector_index.hpp`): a plain label "A", an
    * OR combo "A|B" (any label), an AND combo "A&B" (all labels), or the
    * wildcard "*" (every node / edge type). */
  object LabelSpec {
    def isWildcard(s: String): Boolean = s == "*"
    def isAnd(s: String): Boolean = s.contains("&")
    def parts(s: String): Seq[String] =
      if (isWildcard(s)) Nil
      else s.split("[|&]").map(_.trim).filter(_.nonEmpty).toSeq
    /** Could label `l`'s frame hold rows of this spec? (AND combos still
      * need the row-level predicate.) */
    def coversFrame(spec: String, l: String): Boolean =
      isWildcard(spec) || parts(spec).contains(l)
    /** Row-level membership test against a node `_labels` array. */
    def rowPredicate(spec: String, labels: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions.{array_contains, lit}
      if (isWildcard(spec)) lit(true)
      else {
        val ps = parts(spec).map(p => array_contains(labels, p))
        if (isAnd(spec)) ps.reduce(_ && _) else ps.reduce(_ || _)
      }
    }
    /** Row-level test for an edge `_type` column. */
    def edgePredicate(spec: String, tpe: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions.lit
      if (isWildcard(spec)) lit(true)
      else parts(spec).map(p => tpe === p).reduce(_ || _)
    }
  }

  /** One declared index (reference `src/storage/v2/indices/` families).
    * `kind`: "label" | "label+property" | "point" | "text" | "edge" |
    * "edge-property" (global) | "vector" | "vector-edge". `label` is the
    * node label or edge type (None for global edge-property indexes);
    * `props` may be nested paths ("a.b.c"); `name` for named (text /
    * vector) indexes; `config` the vector CONFIG map (dimension,
    * capacity, metric, scalar_kind, resize_coefficient). */
  final case class IndexDef(
      kind: String,
      label: Option[String],
      props: Seq[String],
      name: Option[String] = None,
      config: Map[String, Any] = Map.empty)

  /** One schema description (`SET DESCRIPTION ON …`): kind ∈ label,
    * label property, edge type, edge type property, database, property.
    * Labels hold the (ordered) combo; edge-pattern forms carry start/end
    * label lists. */
  final case class DescEntry(
      kind: String,
      labels: Seq[String] = Nil,
      edgeType: Option[String] = None,
      startLabels: Option[Seq[String]] = None,
      endLabels: Option[Seq[String]] = None,
      prop: Option[String] = None,
      db: Option[String] = None,
      description: String = "") {
    def sameKey(o: DescEntry): Boolean =
      kind == o.kind && labels == o.labels && edgeType == o.edgeType &&
        startLabels == o.startLabels && endLabels == o.endLabels &&
        prop == o.prop && db == o.db
  }

  def apply(
      nodeThunks: Map[String, () => DataFrame],
      edgeThunks: Map[String, () => DataFrame]): GraphState =
    new GraphState(nodeThunks, edgeThunks)

  /** Session-unique version tags for mutated states: a JVM nonce keeps two
    * sessions sharing one `spark.graft.index.dir` from colliding on the
    * counter (their mutation histories may differ), the counter orders
    * versions within the session. */
  private val tagCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private val tagNonce =
    java.lang.Long.toHexString(new java.security.SecureRandom().nextLong())
  private[graft] def freshTag(): String =
    s"v${tagCounter.incrementAndGet()}-$tagNonce"

  /** Reserved column names on node frames. */
  val IdCol = "_id"
  val LabelsCol = "_labels"

  /** Reserved column names on edge frames. */
  val SrcCol = "_src"
  val DstCol = "_dst"
  val TypeCol = "_type"

  /** Variant encoding of one value column — the engine's mixed-type
    * property representation (same JSON round-trip the heterogeneous
    * list literal lowering uses). */
  private def asVariant(c: org.apache.spark.sql.Column)
    : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    try_variant_get(parse_json(to_json(struct(c.as("v")))), "$.v", "variant")
  }

  /** unionByName with TYPE RECONCILIATION: a property column typed
    * differently on the two sides (string vs boolean, struct vs long, …)
    * would make Spark insert an implicit cast that throws under ANSI on
    * the first non-castable value (or silently coerce). Cypher properties
    * are dynamically typed, so conflicting columns variant-encode on both
    * sides instead; numeric↔numeric (and element-wise array) widening is
    * native and left alone. Used by the write path (create/merge append)
    * AND the read path (allNodes/allEdges/edgesOfTypes label-frame
    * unions). */
  def unionReconciled(a: DataFrame, b: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, DataType, NullType, NumericType, VariantType}
    val at = a.schema.fields.map(f => f.name -> f.dataType).toMap
    val bt = b.schema.fields.map(f => f.name -> f.dataType).toMap
    def ok(x: DataType, y: DataType): Boolean = (x, y) match {
      case _ if x == y || x == NullType || y == NullType => true
      case (_: NumericType, _: NumericType) => true
      case (xa: ArrayType, ya: ArrayType) =>
        ok(xa.elementType, ya.elementType)
      case _ => false
    }
    val conflicts = at.keySet.intersect(bt.keySet)
      .filter(k => !ok(at(k), bt(k)))
    if (conflicts.isEmpty) a.unionByName(b, allowMissingColumns = true)
    else {
      def fix(d: DataFrame, t: Map[String, DataType]) =
        conflicts.foldLeft(d)((x, k) =>
          if (t(k) == VariantType) x
          else x.withColumn(k, asVariant(col(k))))
      fix(a, at).unionByName(fix(b, bt), allowMissingColumns = true)
    }
  }

  val nodeMeta: Seq[String] = Seq(IdCol, LabelsCol)
  val edgeMeta: Seq[String] = Seq(IdCol, SrcCol, DstCol, TypeCol)

  import org.apache.spark.sql.{Row, SparkSession}
  import org.apache.spark.sql.types._

  /** Zero-row node frame (meta columns only) — the scan result for an
    * empty graph or an unused label. */
  def emptyNodeFrame: DataFrame = {
    val s = SparkSession.active
    s.createDataFrame(
      s.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField(IdCol, LongType),
        StructField(LabelsCol, ArrayType(StringType)))))
  }

  def emptyEdgeFrame: DataFrame = {
    val s = SparkSession.active
    s.createDataFrame(
      s.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField(IdCol, LongType),
        StructField(SrcCol, LongType),
        StructField(DstCol, LongType),
        StructField(TypeCol, StringType))))
  }
}
