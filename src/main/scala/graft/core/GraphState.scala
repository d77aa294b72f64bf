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
    /** Src-sorted adjacency cache, SHARED across GraphState versions whose
      * edge frames are unchanged (node-only mutations carry it through;
      * [[withEdges]] mints the derived version a fresh one and leaves this
      * version's view intact). The reference builds its edge index at
      * ingest (`src/storage/v2/indices/`), so the loader runs the build as
      * a bounded load-time step rather than on first probe. */
    private val adjCache: GraphState.AdjacencyCache =
      new GraphState.AdjacencyCache,
    /** Adjacency-base builder inherited from the version that OWNS
      * [[adjCache]] (None = this version builds from its own frames).
      * Append-derived versions keep serving the ancestor's sorted view —
      * see [[withEdgesAppended]]. */
    private val adjBase: Option[() => DataFrame] = None,
    /** Adjacency-view op log since the cache-owning ancestor, in
      * statement order: appended edge rows ([[GraphState.AdjAppend]]) and
      * removed/replaced edge ids ([[GraphState.AdjRemove]] tombstones).
      * The adjacency probe folds these over the base view — the reference
      * maintains its edge index incrementally per delta for ALL delta
      * kinds (`src/storage/v2/inmemory/storage.hpp:892`), never a full
      * rebuild per write. Tombstones apply to the base ∪ the PRIOR
      * appends only (fold order), so an update (= remove + re-append of
      * the same id) stays correct. */
    private val adjOps: Seq[GraphState.AdjOp] = Nil) {

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
    * memoized per state version with the [[buildAdjacency]] lifetime
    * rules: session-persisted on pinned (loader) graphs, sweep-tracked
    * (persist-only, recompute-safe) on mutation-derived versions. */
  // (gen, frame): non-pinned (mutation-derived) states register the
  // persist with Scratch, so a sweep() unpersists it — the memo re-keys on
  // Scratch.generation and rebuilds after a sweep instead of serving an
  // unpersisted frame (bookkeeping cost, zero reuse) for the rest of the
  // state's life. Pinned loader states ignore the generation (never swept).
  private var allNodesOverlapMemo: Option[(Long, DataFrame)] = None
  private def allNodesOverlapCached: DataFrame = synchronized {
    val gen = graft.operators.Scratch.generation
    allNodesOverlapMemo match {
      case Some((g, df)) if adjCache.pinned || g == gen => df
      case _ =>
        val df = nodeLabels
          .map(nodes)
          .reduce(GraphState.unionReconciled)
          .dropDuplicates(GraphState.IdCol)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        if (!adjCache.pinned) graft.operators.Scratch.trackPersisted(df)
        allNodesOverlapMemo = Some((gen, df))
        df
    }
  }

  def allNodes: DataFrame =
    if (nodeLabels.isEmpty) GraphState.emptyNodeFrame
    else if (mayOverlap) allNodesOverlapCached
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

  /** Point-adjacency access path: the edge union range-partitioned and
    * sorted by `_src`, persisted in the columnar cache. Cached batches
    * keep min/max stats, so a tiny-id-list probe prunes batches instead
    * of rescanning every type frame end-to-end — the single-node analog
    * of sorting/bucketing the edge materialization by src at load on a
    * real cluster (the reference's O(deg) adjacency fetch). Built lazily
    * on the first probe of this state version and shared afterwards. */
  def adjacencyBySrc: DataFrame = {
    val base = adjCache.getOrBuild(
      adjBase.map(_.apply()).getOrElse(buildAdjacency()))
    // mutation-derived versions: serve the ancestor's sorted+persisted
    // view (min/max batch pruning intact) plus the op log — NEVER a
    // full-corpus re-sort per mutated version. Src predicates push below
    // both the unions and the anti-joins (left-side pushdown), so the
    // probe still prunes the persisted base; tombstone anti-joins touch
    // only the rows surviving that pruning, and AQE broadcasts the
    // (statement-sized) id frames at runtime.
    import org.apache.spark.sql.functions.col
    adjOps.foldLeft(base) {
      case (acc, GraphState.AdjAppend(mk)) =>
        GraphState.unionReconciled(acc, mk())
      case (acc, GraphState.AdjRemove(mk)) =>
        val ids = mk()
        acc.join(
          ids.select(col(ids.columns.head).as(GraphState.IdCol)),
          Seq(GraphState.IdCol), "left_anti")
      case (acc, GraphState.AdjRemoveIncident(mk)) =>
        val ids = mk()
        val c = col(ids.columns.head)
        acc
          .join(ids.select(c.as(GraphState.SrcCol)),
            Seq(GraphState.SrcCol), "left_anti")
          .join(ids.select(c.as(GraphState.DstCol)),
            Seq(GraphState.DstCol), "left_anti")
    }
  }

  private def buildAdjacency(): DataFrame = {
    import org.apache.spark.sql.functions.col
    val df = allEdges
      .repartitionByRange(col(GraphState.SrcCol))
      .sortWithinPartitions(GraphState.SrcCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // mutation-derived views are query-lifetime: let the harness sweep
    // free their blocks (persist-only — a premature sweep just recomputes)
    if (!adjCache.pinned) graft.operators.Scratch.trackPersisted(df)
    df
  }

  /** Ingest-time adjacency build (load/ANALYZE — where the reference pays
    * for its edge index): bounded background materialization; a probe
    * arriving mid-build awaits it instead of racing a duplicate sort.
    * Pins this version's cache for the session. Idempotent; errors are
    * swallowed (a later probe rebuilds synchronously and surfaces them). */
  def prewarmAdjacency(): Unit = {
    adjCache.pin()
    adjCache.warm(buildAdjacency())
  }

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

  /** New graph version with one node frame replaced/added — the snapshot
    * step every mutation funnels through (our Accumulate barrier analog,
    * `operator.hpp:1870`: writes become visible as a whole new state, never
    * mid-read). */
  def withNodes(label: String, mk: () => DataFrame): GraphState =
    new GraphState(
      nodeThunks + (label -> mk), edgeThunks, idBase, mayOverlap, enums,
      GraphState.freshTag(), indexes, descriptions, serverParams, adjCache,
      adjBase, adjOps)

  def withEdges(tpe: String, mk: () => DataFrame): GraphState =
    // arbitrary edge rewrite (delete / update): the src-sorted adjacency
    // view is stale FOR THE NEW VERSION only — mint it a fresh cache and
    // leave this (possibly still-live, possibly prewarmed-base) version's
    // view alone. Append-only writes go through [[withEdgesAppended]],
    // which keeps the base view and chains a delta instead.
    new GraphState(
      nodeThunks, edgeThunks + (tpe -> mk), idBase, mayOverlap, enums,
      GraphState.freshTag(), indexes, descriptions, serverParams,
      new GraphState.AdjacencyCache)

  /** New version whose `tpe` frame is replaced by an APPEND of exactly
    * `delta` rows: the derived version serves the cache-owning ancestor's
    * sorted base view ∪ the accumulated deltas instead of rebuilding the
    * full-corpus sort (the reference maintains its in-memory edge index
    * incrementally per delta, storage.hpp:892). A chain longer than
    * `spark.graft.adjacency.maxDeltas` (default 32) falls back to a fresh
    * rebuild-on-probe — the union plan must not grow unboundedly under
    * thousands of driver-sequenced appends. */
  private def adjMaxDeltas: Int =
    try org.apache.spark.sql.SparkSession.active.conf
      .get("spark.graft.adjacency.maxDeltas", "32").toInt
    catch { case _: Throwable => 32 }

  def withEdgesAppended(
      tpe: String, mk: () => DataFrame, delta: DataFrame): GraphState = {
    if (adjOps.size >= adjMaxDeltas)
      withEdges(tpe, mk)
    else {
      val parent = this
      new GraphState(
        nodeThunks, edgeThunks + (tpe -> mk), idBase, mayOverlap, enums,
        GraphState.freshTag(), indexes, descriptions, serverParams,
        adjCache,
        adjBase.orElse(Some(() => parent.buildAdjacency())),
        adjOps :+ GraphState.AdjAppend(() => delta))
    }
  }

  /** New version whose `tpe` frame is replaced such that ONLY rows with
    * `_id ∈ changedIds()` differ from the current frame: removed
    * (delete), or — with `readdChanged` — updated in place (SET on edge
    * properties). The derived version serves the ancestor's sorted
    * adjacency view with the changed ids tombstoned out, plus the changed
    * rows re-read from the NEW frame for updates; a chain past
    * `spark.graft.adjacency.maxDeltas` falls back to a fresh
    * rebuild-on-probe. The reference maintains its in-memory edge index
    * per delta for every delta kind (storage.hpp:892) — replace-type
    * writes must not re-sort the corpus either. */
  def withEdgesMutated(
      tpe: String,
      mk: () => DataFrame,
      changedIds: () => DataFrame, // single column of edge ids
      readdChanged: Boolean): GraphState =
    withEdgesOps(
      Map(tpe -> mk),
      GraphState.AdjRemove(changedIds) +: (
        if (!readdChanged) Nil
        else Seq(GraphState.AdjAppend(() =>
          mk().join(
            changedIds().select(
              org.apache.spark.sql.functions
                .col(changedIds().columns.head).as(GraphState.IdCol)),
            Seq(GraphState.IdCol), "left_semi")))))

  /** Replace several type frames at once and extend the adjacency op log
    * with the given ops — the multi-frame form every id-keyed edge
    * mutation (delete / SET / REMOVE across types) funnels through. Falls
    * back to plain replacement + fresh rebuild-on-probe past
    * `spark.graft.adjacency.maxDeltas`. */
  private[graft] def withEdgesOps(
      updates: Map[String, () => DataFrame],
      ops: Seq[GraphState.AdjOp]): GraphState = {
    if (adjOps.size + ops.size > adjMaxDeltas)
      new GraphState(
        nodeThunks, edgeThunks ++ updates, idBase, mayOverlap, enums,
        GraphState.freshTag(), indexes, descriptions, serverParams,
        new GraphState.AdjacencyCache)
    else {
      val parent = this
      new GraphState(
        nodeThunks, edgeThunks ++ updates, idBase, mayOverlap, enums,
        GraphState.freshTag(), indexes, descriptions, serverParams,
        adjCache,
        adjBase.orElse(Some(() => parent.buildAdjacency())),
        adjOps ++ ops)
    }
  }

  /** Materialize (localCheckpoint) every frame whose thunk CHANGED vs
    * `prev` — the per-batch commit step of periodic.iterate: (a) a
    * failing write expression surfaces inside ITS batch (the thunks are
    * lazy; without forcing, the error would escape to the first later
    * read), and (b) thousands of driver-sequenced batches would
    * otherwise layer thunk-over-thunk into an exploding logical plan.
    * Untouched frames carry over for free (reference-equality compare). */
  private[graft] def materializeChangesFrom(prev: GraphState): GraphState =
    materializeChangesTracked(prev)._1

  /** As [[materializeChangesFrom]], also returning the freshly
    * checkpointed frames keyed by kind:name. Callers sequencing thousands
    * of batches (periodic.iterate) unpersist a key's PREVIOUS batch
    * checkpoint once a later batch supersedes it — superseded blocks
    * otherwise pile up in executor storage until a GC-driven
    * ContextCleaner pass. */
  private[graft] def materializeChangesTracked(
      prev: GraphState): (GraphState, Map[String, DataFrame]) = {
    var out = this
    var fresh = Map.empty[String, DataFrame]
    nodeThunks.foreach { case (l, th) =>
      if (!prev.nodeThunks.get(l).exists(_ eq th)) {
        val d = nodes(l).localCheckpoint(true)
        fresh += (s"n:$l" -> d)
        out = out.withNodes(l, () => d)
      }
    }
    edgeThunks.foreach { case (t, th) =>
      if (!prev.edgeThunks.get(t).exists(_ eq th)) {
        val d = edges(t).localCheckpoint(true)
        fresh += (s"e:$t" -> d)
        out = out.withEdgesRebound(t, () => d)
      }
    }
    (out, fresh)
  }

  /** Replace a frame's thunk with an EQUAL-CONTENT (checkpointed) frame:
    * the adjacency chain carries over untouched — the view's rows did not
    * change, only the plan backing them. */
  private def withEdgesRebound(tpe: String, mk: () => DataFrame): GraphState =
    new GraphState(
      nodeThunks, edgeThunks + (tpe -> mk), idBase, mayOverlap, enums,
      GraphState.freshTag(), indexes, descriptions, serverParams,
      adjCache, adjBase, adjOps)

  /** Post-batch adjacency hygiene for checkpoint-sequenced callers
    * (periodic.iterate): the op-log entries added SINCE `prev` hold plans
    * over this batch's pre-checkpoint frames — frames whose own
    * checkpoints the caller unpersists once a later batch supersedes
    * them. Checkpoint those (batch-sized) op frames now so a later probe
    * never recomputes through a swept block. A chain whose cache lineage
    * diverged from `prev` (maxDeltas fallback mid-batch) resets to a
    * fresh rebuild-on-probe — the pre-fallback contract. */
  private[graft] def checkpointAdjTail(prev: GraphState): GraphState = {
    if (!(adjCache eq prev.adjCache))
      return if (adjOps.isEmpty && adjBase.isEmpty) this
      else new GraphState(
        nodeThunks, edgeThunks, idBase, mayOverlap, enums, indexTag,
        indexes, descriptions, serverParams, new GraphState.AdjacencyCache)
    val shared = prev.adjOps.length
    if (adjOps.length == shared) return this
    if (!adjOps.take(shared).zip(prev.adjOps).forall { case (a, b) => a eq b })
      return new GraphState(
        nodeThunks, edgeThunks, idBase, mayOverlap, enums, indexTag,
        indexes, descriptions, serverParams, new GraphState.AdjacencyCache)
    // an adjBase thunk minted THIS batch closes over prev's frames, whose
    // checkpoints the caller is about to sweep — only safe if the shared
    // cache is already built (the thunk will never run); otherwise reset
    // to rebuild-on-probe from this version's own checkpointed frames
    val baseSafe = (adjBase, prev.adjBase) match {
      case (None, _) => true
      case (Some(a), Some(b)) if a eq b => true
      case _ => adjCache.isBuilt
    }
    if (!baseSafe)
      return new GraphState(
        nodeThunks, edgeThunks, idBase, mayOverlap, enums, indexTag,
        indexes, descriptions, serverParams, new GraphState.AdjacencyCache)
    val tail = adjOps.drop(shared).map {
      case GraphState.AdjAppend(mk) =>
        val d = mk().localCheckpoint(true); GraphState.AdjAppend(() => d)
      case GraphState.AdjRemove(mk) =>
        val d = mk().localCheckpoint(true); GraphState.AdjRemove(() => d)
      case GraphState.AdjRemoveIncident(mk) =>
        val d = mk().localCheckpoint(true)
        GraphState.AdjRemoveIncident(() => d)
    }
    new GraphState(
      nodeThunks, edgeThunks, idBase, mayOverlap, enums, indexTag,
      indexes, descriptions, serverParams, adjCache, adjBase,
      adjOps.take(shared) ++ tail)
  }

  /** The version with the id high-water mark advanced to `base` (never
    * lowered). A base at or below [[idBase]] mints no id, so the result is
    * this very version: a read returns the graph it ran on, and its memos
    * (label counts, typed-edge captures, frames, text indexes) serve the
    * session's next statement. A higher base is a new version with empty
    * memos; no frame content changes, so the index tag carries over. */
  def withIdBase(base: Long): GraphState =
    if (base <= idBase) this
    else new GraphState(
      nodeThunks, edgeThunks, base, mayOverlap, enums,
      indexTag, indexes, descriptions, serverParams, adjCache, adjBase, adjOps)

  /** Mark that node rows may now live in more than one label frame. */
  def withOverlap: GraphState =
    new GraphState(
      nodeThunks, edgeThunks, idBase, mayOverlap = true, enums, indexTag,
      indexes, descriptions, serverParams, adjCache, adjBase, adjOps)

  /** Register (or replace) an enum type (`CREATE ENUM`). */
  def withEnum(name: String, values: Seq[String]): GraphState =
    new GraphState(
      nodeThunks, edgeThunks, idBase, mayOverlap,
      enums + (name -> values), indexTag, indexes, descriptions,
      serverParams, adjCache, adjBase, adjOps)

  /** Register an index (CREATE ... INDEX). */
  def withIndex(d: GraphState.IndexDef): GraphState =
    new GraphState(
      nodeThunks, edgeThunks, idBase, mayOverlap, enums, indexTag,
      indexes :+ d, descriptions, serverParams, adjCache, adjBase, adjOps)

  /** Upsert a schema description (same-key SET replaces). */
  def withDescription(d: GraphState.DescEntry): GraphState =
    new GraphState(
      nodeThunks, edgeThunks, idBase, mayOverlap, enums, indexTag, indexes,
      descriptions.filterNot(_.sameKey(d)) :+ d, serverParams, adjCache, adjBase, adjOps)

  /** Delete every description matching the predicate. */
  def dropDescriptions(p: GraphState.DescEntry => Boolean): GraphState =
    new GraphState(
      nodeThunks, edgeThunks, idBase, mayOverlap, enums, indexTag, indexes,
      descriptions.filterNot(p), serverParams, adjCache, adjBase, adjOps)

  /** Set / unset a server-side parameter. */
  def withServerParam(name: String, value: Any, scope: String): GraphState =
    new GraphState(
      nodeThunks, edgeThunks, idBase, mayOverlap, enums, indexTag, indexes,
      descriptions, serverParams + (name -> ((value, scope))), adjCache,
      adjBase, adjOps)

  def withoutServerParam(name: String): GraphState =
    new GraphState(
      nodeThunks, edgeThunks, idBase, mayOverlap, enums, indexTag, indexes,
      descriptions, serverParams - name, adjCache, adjBase, adjOps)

  /** Transform every index entry in place (ANALYZE GRAPH stamps/clears
    * per-index statistics kept in `IndexDef.config`). */
  def mapIndexes(
      f: GraphState.IndexDef => GraphState.IndexDef): GraphState =
    new GraphState(
      nodeThunks, edgeThunks, idBase, mayOverlap, enums, indexTag,
      indexes.map(f), descriptions, serverParams, adjCache, adjBase, adjOps)

  /** Drop every index matching the predicate. */
  def dropIndexes(p: GraphState.IndexDef => Boolean): GraphState =
    new GraphState(
      nodeThunks, edgeThunks, idBase, mayOverlap, enums, indexTag,
      indexes.filterNot(p), descriptions, serverParams, adjCache, adjBase, adjOps)
}

object GraphState {

  /** One entry of the incremental-adjacency op log (see [[GraphState]]'s
    * `adjOps`): appended edge rows, or a tombstone frame of removed /
    * replaced edge ids (single column). Thunks, so an op over a
    * not-yet-materialized mutation stays lazy until a probe needs it. */
  sealed trait AdjOp
  final case class AdjAppend(rows: () => DataFrame) extends AdjOp
  final case class AdjRemove(ids: () => DataFrame) extends AdjOp
  /** Tombstone every edge INCIDENT to the given node ids (DETACH DELETE):
    * two anti-joins against the statement-sized id frame — never a scan
    * of the edge corpus to enumerate edge ids. */
  final case class AdjRemoveIncident(nodeIds: () => DataFrame) extends AdjOp

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

  /** Mutable holder for the src-sorted adjacency view. One instance is
    * shared by every GraphState version with identical edge frames, so a
    * node-only mutation does NOT trigger a rebuild; an edge write mints
    * the DERIVED version a fresh cache and leaves this one untouched —
    * prior versions are still live and their view is still correct
    * (unpersisting it here would silently re-charge every later reader
    * of the base graph for a full rebuild).
    *
    * [[pin]] marks the loader's base-graph instance: pinned views live for
    * the session (the ingest-time index); unpinned (mutation-derived)
    * views are query-lifetime and get registered with
    * [[graft.operators.Scratch]] so the harness sweep frees their blocks —
    * they are `persist`ed, not checkpointed, so an early sweep only costs
    * a recompute, never correctness.
    *
    * [[warm]] is the bounded ingest-time build: one background thread
    * materializes the view, and any probe arriving meanwhile AWAITS that
    * build (in [[getOrBuild]]) instead of racing it for cores with a
    * duplicate sort. */
  final class AdjacencyCache {
    @volatile private var cached: Option[DataFrame] = None
    @volatile private var warmLatch: Option[java.util.concurrent.CountDownLatch] = None
    @volatile var pinned: Boolean = false
    def pin(): Unit = pinned = true
    def isBuilt: Boolean = cached.nonEmpty
    def getOrBuild(build: => DataFrame): DataFrame = {
      warmLatch.foreach(
        _.await(10, java.util.concurrent.TimeUnit.MINUTES))
      synchronized {
        cached.getOrElse { val d = build; cached = Some(d); d }
      }
    }
    def warm(build: => DataFrame): Unit = {
      val latch = new java.util.concurrent.CountDownLatch(1)
      val mine = synchronized {
        if (cached.nonEmpty || warmLatch.nonEmpty) false
        else { warmLatch = Some(latch); true }
      }
      if (mine) {
        val t = new Thread(() =>
          try {
            val d = synchronized {
              cached.getOrElse { val b = build; cached = Some(b); b }
            }
            d.count()
            ()
          } catch { case _: Throwable => () }
          finally latch.countDown())
        t.setName("graft-adjacency-prewarm")
        t.setDaemon(true)
        t.start()
      }
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
