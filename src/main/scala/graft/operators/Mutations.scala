package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, MapType, NullType, StringType, StructType}

import graft.core.{Frames, GraphState}

/** Graph mutations (SURVEY.md §2.6) — each produces a **new immutable
  * GraphState version** instead of the reference's MVCC delta chains
  * (`src/storage/v2/delta_action.hpp:27-41`): snapshot-at-statement
  * semantics, which is also the Accumulate barrier (`operator.hpp:1870`) —
  * a statement's reads never see its own partial writes.
  *
  * All updates are declarative column transforms or anti/outer joins, so at
  * 100 TB each mutation compiles to one scan + (at most) one shuffle of the
  * touched frames; untouched label/type frames are carried by reference and
  * cost nothing.
  *
  * Reference operators mapped here:
  *   - `CreateNode` operator.hpp:411 → [[createNodes]]
  *   - `CreateExpand` operator.hpp:494 → [[createEdges]]
  *   - `Delete` (+DETACH) operator.hpp:1396 → [[deleteNodes]], [[deleteEdges]]
  *   - `SetProperty` operator.hpp:1448 → [[setProperty]]
  *   - `RemoveProperty` operator.hpp:1630 → [[removeProperty]]
  *   - `SetLabels`/`RemoveLabels` operator.hpp:1590,1715 → [[setLabels]],
  *     [[removeLabels]]
  *   - `Merge` operator.hpp:2579 → [[mergeNodes]]
  */
object Mutations {

  import GraphState.{DstCol, IdCol, LabelsCol, SrcCol}

  /** Frames a by-id mutation must touch. The planner knows which label/type
    * frame a matched variable's rows came from (`Planner.frameHints`), so
    * `only=Some(frames)` prunes the per-frame update loop to the owning
    * frame(s) — on an 8-label graph that is an 8× cut in joins, forced
    * analyses, and broadcast builds per SET/REMOVE/DELETE statement.
    * `None` (no hint, or `mayOverlap` graphs where a row can live in
    * several frames) falls back to every frame — always correct. */
  private def prune(
      all: Seq[String],
      only: Option[Seq[String]]): Seq[String] =
    only match {
      case Some(o) => all.filter(o.contains)
      case None => all
    }

  /** unionByName with mixed-type reconciliation — see
    * [[GraphState.unionReconciled]] (shared with the read-path unions). */
  def unionReconciled(a: DataFrame, b: DataFrame): DataFrame =
    GraphState.unionReconciled(a, b)

  /** Append nodes (schema: `_id`, `_labels`, props). New labels allowed.
    * A declared vector index over the label validates the property's
    * dimension EAGERLY (the reference raises at write, vector_index.cpp)
    * — one bounded probe, only when an index covers the label. */
  def createNodes(g: GraphState, label: String, rows: DataFrame): GraphState = {
    g.indexes.foreach { d =>
      if (d.kind == "vector" && d.props.nonEmpty &&
        d.label.exists(GraphState.LabelSpec.coversFrame(_, label))) {
        val p = d.props.head
        d.config.get("dimension").map(_.toString.toLong).foreach { n =>
          if (rows.columns.contains(p)) {
            // AND-combo / wildcard specs only cover rows carrying EVERY
            // listed label (same row gate as the read path)
            val rowGate = d.label
              .map(spec =>
                GraphState.LabelSpec.rowPredicate(spec, col(LabelsCol)))
              .getOrElse(lit(true))
            // a non-list property type is the index's type-mismatch write
            // error, not a raw cast AnalysisException (the cast below only
            // analyzes for array-typed columns)
            val dt = rows.schema(rows.schema.fieldIndex(p)).dataType
            val badPred = dt match {
              case _: org.apache.spark.sql.types.ArrayType =>
                size(Frames.named(p).cast("array<double>")) =!= n
              case _: org.apache.spark.sql.types.NullType => lit(false)
              case _ => lit(true) // wrong type entirely
            }
            val bad = rows
              .filter(rowGate && Frames.named(p).isNotNull && badPred)
              .limit(1)
            if (!bad.isEmpty)
              throw new IllegalArgumentException(
                s"vector index ${d.name.getOrElse(p)}: property $p has " +
                  s"the wrong type or dimension (expected a list of " +
                  s"$n numbers)")
          }
        }
      }
    }
    if (g.hasLabel(label))
      g.withNodes(label, () => unionReconciled(g.nodes(label), rows))
    else g.withNodes(label, () => rows)
  }

  /** Append edges (schema: `_id`, `_src`, `_dst`, `_type`, props): the
    * type's frame becomes the old frame ∪ `rows`. */
  def createEdges(g: GraphState, tpe: String, rows: DataFrame): GraphState =
    if (g.hasType(tpe))
      g.withEdges(tpe, () => unionReconciled(g.edges(tpe), rows))
    else g.withEdges(tpe, () => rows)

  /** Delete nodes by id. `detach=true` also removes incident edges (DETACH
    * DELETE); without it, dangling edges are the caller's responsibility
    * (the reference raises mid-transaction instead — a runtime check a
    * batch engine defers to validation). */
  def deleteNodes(
      g: GraphState,
      ids: DataFrame, // single column: _id
      detach: Boolean,
      only: Option[Seq[String]] = None): GraphState = {
    val keyG = new GatedKey(ids.select(col(ids.columns.head).as(IdCol)))
    var out = g
    prune(g.nodeLabels, only).foreach { l =>
      out = out.withNodes(
        l,
        () => g.nodes(l).join(keyG(), Seq(IdCol), "left_anti"))
    }
    if (detach) {
      val updates = g.edgeTypes.map { t =>
        t -> (() =>
          g.edges(t)
            .join(
              keyG(_.select(col(IdCol).as(SrcCol))),
              Seq(SrcCol),
              "left_anti")
            .join(
              keyG(_.select(col(IdCol).as(DstCol))),
              Seq(DstCol),
              "left_anti"))
      }.toMap
      out = out.withEdges(updates)
    }
    out
  }

  /** Delete edges of one type by edge id. */
  def deleteEdges(g: GraphState, tpe: String, ids: DataFrame): GraphState = {
    val keyG = new GatedKey(ids.select(col(ids.columns.head).as(IdCol)))
    g.withEdges(tpe, () => g.edges(tpe).join(keyG(), Seq(IdCol), "left_anti"))
  }

  /** SET n.prop = expr for every node of a label (expr over the node
    * frame's columns) — a pure column transform, no shuffle. */
  def setProperty(
      g: GraphState,
      label: String,
      prop: String,
      value: Column): GraphState =
    g.withNodes(label, () => g.nodes(label).withColumn(prop, value))

  /** REMOVE n.prop — drops the promoted column. */
  def removeProperty(g: GraphState, label: String, prop: String): GraphState =
    g.withNodes(label, () => g.nodes(label).drop(prop))

  def setLabels(g: GraphState, label: String, add: Seq[String]): GraphState =
    g.withNodes(
      label,
      () =>
        g.nodes(label).withColumn(
          LabelsCol,
          array_union(col(LabelsCol), array(add.map(lit): _*))))

  def removeLabels(g: GraphState, label: String, rm: Seq[String]): GraphState =
    g.withNodes(
      label,
      () =>
        g.nodes(label).withColumn(
          LabelsCol,
          array_except(col(LabelsCol), array(rm.map(lit): _*))))

  /** MERGE: idempotent upsert — rows whose `_id` is absent are created,
    * existing ones are left untouched (ON MATCH updates compose via
    * [[setProperty]] afterwards). Anti-join on the id is the exact analog
    * of the reference's match-miss branch. */
  def mergeNodes(g: GraphState, label: String, rows: DataFrame): GraphState =
    if (!g.hasLabel(label)) g.withNodes(label, () => rows)
    else
      g.withNodes(
        label,
        () =>
          unionReconciled(
            g.nodes(label),
            rows.join(
              g.nodes(label).select(IdCol),
              Seq(IdCol),
              "left_anti")))

  /** SET n.prop = value for a set of (_id, __nv) updates, across every
    * label — id namespaces are per-label, so only the owning frame actually
    * changes; the others join against zero matching keys. */
  /** CASE branches must share one type; a SET whose new value's type
    * conflicts with the stored column (a long property becoming a list
    * under refactor.merge_nodes' combine, …) variant-encodes both sides —
    * the engine's mixed-type property representation. */
  private def reconciled(
      existing: Column,
      existingT: org.apache.spark.sql.types.DataType,
      nv: Column,
      nvT: org.apache.spark.sql.types.DataType): (Column, Column) = {
    import org.apache.spark.sql.types.NullType
    if (existingT == nvT || existingT == NullType || nvT == NullType)
      (existing, nv)
    else {
      def enc(c: Column): Column = try_variant_get(
        parse_json(to_json(struct(c.as("v")))), "$.v", "variant")
      (enc(existing), enc(nv))
    }
  }

  def setPropertyByIds(
      g: GraphState,
      updates: DataFrame, // columns: _id, __nv
      prop: String,
      only: Option[Seq[String]] = None): GraphState = {
    val upG = new GatedKey(updates.withColumn("__hit", lit(true)))
    var out = g
    prune(g.nodeLabels, only).foreach { l =>
      out = out.withNodes(
        l,
        () => {
          val n = g.nodes(l)
          val vtype = updates.schema("__nv").dataType
          val base =
            if (n.columns.contains(prop)) n
            else n.withColumn(prop, lit(null).cast(vtype))
          // matched rows take the NEW value even when it is NULL —
          // `SET n.p = null` REMOVES the property (reference SetProperty
          // null semantics); a coalesce would silently keep the old value
          val (oldC, newC) = reconciled(
            Frames.named(prop), base.schema(prop).dataType, col("__nv"), vtype)
          base
            .join(upG(), Seq(IdCol), "left_outer")
            .withColumn(prop, when(col("__hit"), newC).otherwise(oldC))
            .drop("__nv", "__hit")
        })
    }
    out
  }

  /** SET e.prop = value for edge-id-keyed updates, across every type. */
  def setEdgePropertyByIds(
      g: GraphState,
      updates: DataFrame, // columns: _id, __nv
      prop: String,
      only: Option[Seq[String]] = None): GraphState = {
    val upG = new GatedKey(updates.withColumn("__hit", lit(true)))
    val mks = prune(g.edgeTypes, only).map { t =>
      t -> (() => {
        val e = g.edges(t)
        val vtype = updates.schema("__nv").dataType
        val base =
          if (e.columns.contains(prop)) e
          else e.withColumn(prop, lit(null).cast(vtype))
        // matched rows take the NEW value even when it is NULL —
        // `SET n.p = null` REMOVES the property (reference SetProperty
        // null semantics); a coalesce would silently keep the old value
        base
          .join(upG(), Seq(IdCol), "left_outer")
          .withColumn(
            prop, when(col("__hit"), col("__nv")).otherwise(Frames.named(prop)))
          .drop("__nv", "__hit")
      })
    }.toMap
    g.withEdges(mks)
  }

  /** SetProperties (operator.hpp:1539): `SET n = {map}` (replace=true) /
    * `SET n += {map}` (replace=false) for id-keyed update rows. REPLACE
    * nulls every pre-existing property on matched rows before applying the
    * map; UPDATE touches only the map's keys. A NULL map value removes the
    * key in both modes. One broadcast join + column rebuild per frame. */
  def setNodePropertiesByIds(
      g: GraphState,
      updates: DataFrame, // columns: _id, __hit, __nv_<key>…
      keys: Seq[String],
      replace: Boolean,
      only: Option[Seq[String]] = None): GraphState = {
    val upG = new GatedKey(updates)
    var out = g
    prune(g.nodeLabels, only).foreach { l =>
      out = out.withNodes(
        l,
        () => applyProps(g.nodes(l), GraphState.nodeMeta, upG, keys, replace))
    }
    out
  }

  def setEdgePropertiesByIds(
      g: GraphState,
      updates: DataFrame,
      keys: Seq[String],
      replace: Boolean,
      only: Option[Seq[String]] = None): GraphState = {
    val upG = new GatedKey(updates)
    val mks = prune(g.edgeTypes, only).map { t =>
      t -> (() =>
        applyProps(g.edges(t), GraphState.edgeMeta, upG, keys, replace))
    }.toMap
    g.withEdges(mks)
  }

  private def applyProps(
      frame: DataFrame,
      meta: Seq[String],
      updatesG: GatedKey,
      keys: Seq[String],
      replace: Boolean): DataFrame = {
    val updates = updatesG.df
    val joined = frame.join(updatesG(), Seq(IdCol), "left_outer")
    val hit = col("__hit").isNotNull
    var out = joined
    if (replace)
      frame.columns
        .filterNot(meta.contains)
        .filterNot(keys.contains)
        .foreach { p =>
          out = out.withColumn(
            p,
            when(hit, lit(null).cast(frame.schema(p).dataType)).otherwise(Frames.named(p)))
        }
    keys.foreach { k =>
      val nv = col(s"__nv_$k")
      val old =
        if (frame.columns.contains(k)) Frames.named(k)
        else lit(null).cast(updates.schema(s"__nv_$k").dataType)
      out = out.withColumn(k, when(hit, nv).otherwise(old))
    }
    out.drop("__hit" +: keys.map(k => s"__nv_$k"): _*)
  }

  /** `SET n.p.k1…kn = v` (`SetNestedProperty`, operator.hpp:1490): the
    * top-level property is a MAP column; intermediate maps are created on
    * demand (including the property itself when absent — synthesized as
    * nested `map<string, …>` around the value type); the value is cast to
    * the map's value type. One broadcast join + column rebuild per frame —
    * same cost shape as a flat SET. */
  /** Null-safe value access along a nested `path` (missing segment or
    * non-record intermediate → NULL of NullType). */
  def nestedGet(
      cur: Column,
      t: DataType,
      path: Seq[String]): (Column, DataType) =
    path.foldLeft((cur, t)) {
      case ((c, s: StructType), k) =>
        s.fields.find(_.name == k) match {
          case Some(f) => (c.getField(k), f.dataType)
          case None => (lit(null), NullType)
        }
      case ((c, m: MapType), k) => (element_at(c, lit(k)), m.valueType)
      case _ => (lit(null), NullType)
    }

  /** Rebuild a RECORD column with `path` set to `v`: sibling fields carry
    * over, missing intermediates are created, and — unlike
    * `Column.withField` — a NULL struct still yields a populated record
    * (getField on NULL is NULL per field), which is what `SET n.p.k`
    * against an absent property needs. Maps literals lower to structs
    * (ExprLowering MapLit), so records are the canonical nested shape. */
  def nestedSet(
      cur: Column,
      t: DataType,
      path: Seq[String],
      v: Column): Column = path match {
    case Seq(last) =>
      t match {
        case s: StructType =>
          val others = s.fields.toSeq.filter(_.name != last)
            .map(f => cur.getField(f.name).as(f.name))
          struct(others :+ v.as(last): _*)
        case NullType => struct(v.as(last))
        case other =>
          throw new IllegalArgumentException(
            s"nested SET walks through a non-map value ($other) — " +
              "intermediate path segments must be maps/records")
      }
    case head +: rest =>
      t match {
        case s: StructType =>
          val subT = s.fields.find(_.name == head)
            .map(_.dataType).getOrElse(NullType)
          val sub =
            if (s.fieldNames.contains(head)) cur.getField(head) else lit(null)
          val others = s.fields.toSeq.filter(_.name != head)
            .map(f => cur.getField(f.name).as(f.name))
          struct(others :+ nestedSet(sub, subT, rest, v).as(head): _*)
        case NullType =>
          struct(nestedSet(lit(null), NullType, rest, v).as(head))
        case other =>
          // a SCALAR intermediate (SET n.details.age.dummy … where age is
          // a number) is a type error in the reference, not a silent
          // record rebuild
          throw new IllegalArgumentException(
            s"nested SET walks through a non-map value ($other) — " +
              "intermediate path segments must be maps/records")
      }
  }

  /** One frame's nested-path update: hit rows get `__nv` at `path`,
    * others keep their value — the record is rebuilt uniformly (column
    * schemas are per-frame, not per-row), with never-set NULL rows kept
    * NULL. Legacy map-typed properties keep map upsert semantics. */
  private def nestedApply(
      frame: DataFrame,
      updatesG: GatedKey, // columns: _id, __nv, __hit
      prop: String,
      path: Seq[String]): DataFrame = {
    val joined = frame.join(updatesG(), Seq(IdCol), "left_outer")
    val t: DataType =
      if (frame.columns.contains(prop)) frame.schema(prop).dataType
      else NullType
    t match {
      case m: MapType =>
        def upsert(c: Column, mt: DataType, p: Seq[String], v: Column): Column = {
          val valueT = mt match {
            case MapType(_, vt, _) => vt
            case other =>
              throw new IllegalArgumentException(
                s"nested SET on non-map intermediate: $other")
          }
          val base = coalesce(c, map().cast(mt))
          p match {
            case Seq(last) =>
              map_concat(
                map_filter(base, (k, _) => k =!= last),
                map(lit(last), v.cast(valueT)))
            case head +: rest =>
              map_concat(
                map_filter(base, (k, _) => k =!= head),
                map(
                  lit(head),
                  upsert(element_at(base, lit(head)), valueT, rest, v)))
          }
        }
        joined
          .withColumn(
            prop,
            when(
              col("__hit").isNotNull,
              upsert(Frames.named(prop), m, path, col("__nv")))
              .otherwise(Frames.named(prop)))
          .drop("__hit", "__nv")
      case NullType | _: StructType =>
        val cur =
          if (frame.columns.contains(prop)) Frames.named(prop) else lit(null)
        val (oldV, _) = nestedGet(cur, t, path)
        val perRow =
          when(col("__hit").isNotNull, col("__nv")).otherwise(oldV)
        val merged = nestedSet(cur, t, path, perRow)
        // NullType literal coerces to `merged`'s struct type in the
        // CaseWhen — no forced analyzer pass to discover the merged type
        // (the previous `joined.select(merged).schema` probe cost a full
        // analysis per frame per statement)
        joined
          .withColumn(
            prop,
            when(cur.isNull && col("__hit").isNull, lit(null))
              .otherwise(merged))
          .drop("__hit", "__nv")
      case other =>
        // scalar-typed property: rebuilding it as a struct would destroy
        // the value for every non-hit row — the reference raises a type
        // error here (nested writes need a map/record), so do we
        throw new IllegalArgumentException(
          s"nested SET/REMOVE needs a map- or record-typed property; " +
            s"'$prop' is $other")
    }
  }

  def setNestedPropertyByIds(
      g: GraphState,
      updates: DataFrame, // columns: _id, __nv, __hit
      prop: String,
      path: Seq[String],
      only: Option[Seq[String]] = None): GraphState = {
    require(path.nonEmpty, "nested SET needs at least two path segments")
    val upG = new GatedKey(updates)
    var out = g
    prune(g.nodeLabels, only).foreach { l =>
      out = out.withNodes(l, () => nestedApply(g.nodes(l), upG, prop, path))
    }
    out
  }

  /** SET e.p.k1…kn on edge frames (same semantics as the node form). */
  def setEdgeNestedPropertyByIds(
      g: GraphState,
      updates: DataFrame, // columns: _id, __nv, __hit
      prop: String,
      path: Seq[String],
      only: Option[Seq[String]] = None): GraphState = {
    require(path.nonEmpty, "nested SET needs at least two path segments")
    val upG = new GatedKey(updates)
    val mks = prune(g.edgeTypes, only).map { t =>
      t -> (() => nestedApply(g.edges(t), upG, prop, path))
    }.toMap
    g.withEdges(mks)
  }

  /** `REMOVE n.p.k1…kn` (`RemoveNestedProperty`, operator.hpp:1671):
    * record-typed properties NULL the field (column schemas are per-frame,
    * so true key removal is a per-row schema change — NULL ≡ absent in the
    * value model); map-typed properties drop the key. Missing
    * intermediates are no-ops. */
  def removeNestedPropertyByIds(
      g: GraphState,
      ids: DataFrame,
      prop: String,
      path: Seq[String],
      only: Option[Seq[String]] = None): GraphState = {
    require(path.nonEmpty, "nested REMOVE needs at least two path segments")
    val frames = prune(g.nodeLabels, only)
    // the reference raises when the TOP-LEVEL property does not exist on
    // any targeted entity (`REMOVE n.nonexistent.nonexistent`); frames
    // that merely lack the column while a sibling frame has it no-op
    if (frames.nonEmpty && !frames.exists(l => g.nodes(l).columns.contains(prop)))
      throw new IllegalArgumentException(
        s"nested REMOVE: property '$prop' does not exist")
    val (rmG, upG) = nestedRemoveKeys(ids)
    var out = g
    frames.foreach { l =>
      out = out.withNodes(
        l, () => nestedRemove(g.nodes(l), rmG, upG, prop, path))
    }
    out
  }

  /** REMOVE e.p.k1…kn on edge frames. */
  def removeEdgeNestedPropertyByIds(
      g: GraphState,
      ids: DataFrame,
      prop: String,
      path: Seq[String],
      only: Option[Seq[String]] = None): GraphState = {
    require(path.nonEmpty, "nested REMOVE needs at least two path segments")
    val frames = prune(g.edgeTypes, only)
    if (frames.nonEmpty && !frames.exists(t => g.edges(t).columns.contains(prop)))
      throw new IllegalArgumentException(
        s"nested REMOVE: property '$prop' does not exist")
    val (rmG, upG) = nestedRemoveKeys(ids)
    val mks = frames.map { t =>
      t -> (() => nestedRemove(g.edges(t), rmG, upG, prop, path))
    }.toMap
    g.withEdges(mks)
  }

  /** The two key shapes nested REMOVE can need (map-typed frames filter by
    * `__rm`; record-typed frames reuse the nested-SET-to-NULL path), both
    * gated once per statement regardless of how many frames they touch. */
  private def nestedRemoveKeys(ids: DataFrame): (GatedKey, GatedKey) = {
    val key = ids.select(col(ids.columns.head).as(IdCol))
    (
      new GatedKey(key.withColumn("__rm", lit(1))),
      new GatedKey(
        key.withColumn("__nv", lit(null)).withColumn("__hit", lit(1))))
  }

  private def nestedRemove(
      frame: DataFrame,
      rmG: GatedKey, // columns: _id, __rm
      upG: GatedKey, // columns: _id, __nv(null), __hit
      prop: String,
      path: Seq[String]): DataFrame = {
    if (!frame.columns.contains(prop)) return frame
    frame.schema(prop).dataType match {
      case mType: MapType =>
        def dropAt(m: Column, mt: DataType, p: Seq[String]): Column = {
          val valueT = mt match {
            case MapType(_, vt, _) => vt
            case other =>
              throw new IllegalArgumentException(
                s"nested REMOVE on non-map intermediate: $other")
          }
          p match {
            case Seq(last) => map_filter(m, (k, _) => k =!= last)
            case head +: rest =>
              when(
                element_at(m, lit(head)).isNotNull,
                map_concat(
                  map_filter(m, (k, _) => k =!= head),
                  map(
                    lit(head),
                    dropAt(element_at(m, lit(head)), valueT, rest))))
                .otherwise(m)
          }
        }
        frame.join(rmG(), Seq(IdCol), "left_outer")
          .withColumn(
            prop,
            when(col("__rm").isNotNull, dropAt(Frames.named(prop), mType, path))
              .otherwise(Frames.named(prop)))
          .drop("__rm")
      case _ =>
        nestedApply(frame, upG, prop, path)
    }
  }

  /** REMOVE n.prop for the given ids: property → NULL on matched nodes. */
  def removePropertyByIds(
      g: GraphState,
      ids: DataFrame,
      prop: String,
      only: Option[Seq[String]] = None): GraphState = {
    val keyG = new GatedKey(
      ids.select(col(ids.columns.head).as(IdCol)).withColumn("__rm", lit(1)))
    var out = g
    prune(g.nodeLabels, only).foreach { l =>
      out = out.withNodes(
        l,
        () => {
          val n = g.nodes(l)
          if (!n.columns.contains(prop)) n
          else {
            val t = n.schema(prop).dataType
            n.join(keyG(), Seq(IdCol), "left_outer")
              .withColumn(
                prop,
                when(col("__rm").isNotNull, lit(null).cast(t))
                  .otherwise(Frames.named(prop)))
              .drop("__rm")
          }
        })
    }
    out
  }

  /** REMOVE e.prop for the given edge ids: property → NULL on matched
    * edges (the node form's exact mirror over type frames). */
  def removeEdgePropertyByIds(
      g: GraphState,
      ids: DataFrame,
      prop: String,
      only: Option[Seq[String]] = None): GraphState = {
    val keyG = new GatedKey(
      ids.select(col(ids.columns.head).as(IdCol)).withColumn("__rm", lit(1)))
    val mks = prune(g.edgeTypes, only).map { t =>
      t -> (() => {
        val e = g.edges(t)
        if (!e.columns.contains(prop)) e
        else {
          val vt = e.schema(prop).dataType
          e.join(keyG(), Seq(IdCol), "left_outer")
            .withColumn(
              prop,
              when(col("__rm").isNotNull, lit(null).cast(vt))
                .otherwise(Frames.named(prop)))
            .drop("__rm")
        }
      })
    }.toMap
    g.withEdges(mks)
  }

  /** SET n:Label / REMOVE n:Label for the given ids. */
  def updateLabelsByIds(
      g: GraphState,
      ids: DataFrame,
      labels: Seq[String],
      add: Boolean,
      only: Option[Seq[String]] = None): GraphState = {
    val keyG = new GatedKey(
      ids.select(col(ids.columns.head).as(IdCol)).withColumn("__hit", lit(1)))
    var out = g
    prune(g.nodeLabels, only).foreach { l =>
      out = out.withNodes(
        l,
        () => {
          val n = g.nodes(l)
          val alter =
            if (add) array_union(col(LabelsCol), array(labels.map(lit): _*))
            else array_except(col(LabelsCol), array(labels.map(lit): _*))
          n.join(keyG(), Seq(IdCol), "left_outer")
            .withColumn(
              LabelsCol,
              when(col("__hit").isNotNull, alter).otherwise(col(LabelsCol)))
            .drop("__hit")
        })
    }
    // Adding labels must also make the rows visible to scans of the added
    // labels: frames are the label index, so append the matched rows (with
    // updated label arrays) into each target frame. Removal needs no row
    // deletion — scans re-filter on `_labels`, which the in-place update
    // above already shrank. Frames may disagree on a shared property's
    // TYPE (a list-valued p arriving in a frame whose p is long) — those
    // columns variant-encode on both sides instead of failing the union.
    if (add) {
      val matched = prune(g.nodeLabels, only)
        .map(src =>
          g.nodes(src)
            .join(keyG(_.drop("__hit")), Seq(IdCol), "left_semi"))
        .reduceOption(unionReconciled)
        .map(
          _.dropDuplicates(IdCol)
            .withColumn(
              LabelsCol,
              array_union(col(LabelsCol), array(labels.map(lit): _*)))
            .transform(Scratch.cp))
      matched.foreach { mc =>
        labels.foreach { l =>
          val cur = out
          out = out.withNodes(
            l,
            () =>
              if (cur.hasLabel(l))
                unionReconciled(
                  cur.nodes(l),
                  mc.join(
                    cur.nodes(l).select(IdCol),
                    Seq(IdCol),
                    "left_anti"))
              else mc)
        }
        out = out.withOverlap
      }
    }
    out
  }


  /** DELETE e for edge-variable bindings: anti-join every type by edge id. */
  def deleteEdgesAllTypes(
      g: GraphState,
      ids: DataFrame,
      only: Option[Seq[String]] = None): GraphState = {
    val keyG = new GatedKey(ids.select(col(ids.columns.head).as(IdCol)))
    val mks = prune(g.edgeTypes, only).map { t =>
      t -> (() => g.edges(t).join(keyG(), Seq(IdCol), "left_anti"))
    }.toMap
    g.withEdges(mks)
  }

  /** `CALL { … } IN TRANSACTIONS OF n ROWS` / `USING PERIODIC COMMIT`
    * (operator.hpp:3242, :3215): split a driver DataFrame into row batches
    * and fold a mutation function over them — each batch commits as its own
    * state version, so a failure loses at most one batch (the reference's
    * periodic-commit contract). Batch assignment is deterministic
    * (row_number over the given ordering). */
  def periodicBatches(
      g: GraphState,
      rows: DataFrame,
      batchSize: Int,
      orderCols: Seq[String])(
      apply: (GraphState, DataFrame) => GraphState): GraphState = {
    // Ranks.orderedIds, NOT row_number over an unpartitioned Window —
    // batch loads are exactly the big-input path, and a global window
    // funnels every row through one partition (Spark warns); the
    // range-partitioned sort + zipWithIndex gives the same deterministic
    // numbering in parallel.
    val numbered = Ranks.orderedIds(rows, "__rn", orderCols: _*)
      .withColumn("__batch", (col("__rn") / batchSize).cast("int"))
      .drop("__rn")
      .transform(Scratch.cp)
    val batches = numbered.select("__batch").distinct()
      .orderBy("__batch").collect().map(_.getInt(0))
    batches.foldLeft(g) { (state, b) =>
      apply(state, numbered.filter(col("__batch") === b).drop("__batch"))
    }
  }

  /** Row gate of [[GatedKey]]: a mutation's key or updates frame of at
    * most this many rows is broadcast-hinted. */
  val BroadcastKeys = 100000L

  /** Count-gated broadcast hint for a mutation statement's key/updates
    * frame. Mutation key-sets are usually tiny relative to the frames they
    * prune, and broadcasting keeps DELETE/SET from shuffling the whole
    * graph — but the frames are MATCH-derived, so `MATCH (n:BigLabel)
    * SET …` makes them the whole label: an unconditional hint is a forced
    * multi-GB broadcast at cluster scale (8 GB limit / driver OOM). The
    * gate is an early-exit `limit(max+1).count()` probe, run lazily at
    * most ONCE per statement (memoized across the per-frame loops, first
    * thunk force). Above the gate the join falls back to shuffle, where
    * AQE may still pick broadcast from real runtime stats. */
  private final class GatedKey(df0: DataFrame) {
    // The key frame is consumed several times per statement: the gate
    // probe plus one join per touched label/type frame. Left lazy, each
    // consumer re-executed the (MATCH-shaped) plan from scratch. Resolve
    // it ONCE instead: a plan whose row count is boundable from the
    // optimized plan alone (literal CREATE chains end in LocalRelations)
    // stays lazy and gates with zero jobs; anything else is
    // localCheckpointed so the probe and every thunk read stored blocks.
    private lazy val resolved: (DataFrame, Boolean) = {
      val max = BroadcastKeys
      Scratch.boundedRows(df0.queryExecution.optimizedPlan) match {
        case Some(n) => (df0, n <= max)
        case None =>
          val cp = Scratch.cp(df0)
          val n =
            cp.limit(math.min(max + 1L, Int.MaxValue.toLong).toInt).count()
          (cp, n <= max)
      }
    }
    def df: DataFrame = resolved._1
    private def small: Boolean = resolved._2
    /** The key frame, broadcast-hinted only under the gate. */
    def apply(): DataFrame = if (small) broadcast(df) else df
    /** A projection of the key frame, same (memoized) gate decision. */
    def apply(tx: DataFrame => DataFrame): DataFrame = {
      val t = tx(df); if (small) broadcast(t) else t
    }
  }
}
