package graft.cypher

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Frames
import Ast._

/** Lowers a Cypher expression tree to a Spark `Column` against the current
  * frame — the analog of the reference's tree-walking `ExpressionEvaluator`
  * (`src/query/interpret/eval.hpp:279`), except ours compiles to Catalyst
  * expressions once per query instead of interpreting per row; whole-stage
  * codegen then fuses them.
  *
  * Cypher's ternary NULL logic coincides with Spark SQL's for comparisons,
  * AND/OR/NOT, and WHERE (NULL ⇒ row dropped), so most operators map 1:1.
  */
final class ExprLowering(
    df: DataFrame,
    scope: Scope,
    params: Map[String, Any],
    lambdaVars: Map[String, Column] = Map.empty,
    /** Enum registry for `Name::Value` literals / toEnum (GraphState
      * enums; empty where no graph is in scope). */
    val enums: Map[String, Seq[String]] = Map.empty,
    /** getHopsCounter() value when statically known (statement plans no
      * expansion → 0); None = reference's lazy pull count, unsupported. */
    val hopsCounter: Option[Long] = None,
    /** Static element types of lambda variables (typeOf cannot resolve a
      * namedlambdavariable, so `n.key` over `[n IN nodes(p) | …]` needs
      * the list's element type carried in). */
    lambdaTypes: Map[String, DataType] = Map.empty,
    /** Declared index registry (GraphState.indexes) — propertySize needs
      * the vector-index coverage of a property to mirror the reference's
      * external-storage encoding. */
    val indexes: Seq[graft.core.GraphState.IndexDef] = Nil) {

  /** Sort keys the current aggregation's collect() must observe (set by
    * the planner when the previous clause ended in ORDER BY — memgraph's
    * aggregation pulls the sorted stream, so `WITH ... ORDER BY` + 
    * `collect(...)` is ordered there). Empty = plain collect_list. */
  var collectOrder: Seq[(Column, Boolean)] = Nil

  private def withLambda(
      name: String, c: Column, t: Option[DataType] = None) =
    new ExprLowering(df, scope, params, lambdaVars + (name -> c), enums,
      hopsCounter,
      t.map(x => lambdaTypes + (name -> x)).getOrElse(lambdaTypes - name),
      indexes)

  /** Zero-row frame with `df`'s schema: resolving a column against this
    * LocalRelation costs a constant-size analyzer pass instead of
    * re-analyzing the statement's whole operator tree — `typeOf` runs on
    * every comparison/arithmetic lowering, so probing the real `df` made
    * plan time grow with plan size (measured 3-6× statement overhead). */
  private lazy val typeProbe: DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), df.schema)

  /** Best-effort static type of a lowered column (None inside lambdas). */
  def typeOf(c: Column): Option[DataType] =
    Try(typeProbe.select(c).schema.head.dataType).toOption

  /** The column whose NULL marks an unbound path `n`: its node-id array,
    * else its length. */
  private def pathWitness(n: String): Option[Column] =
    Seq("_nodes", "_len")
      .find(k => df.columns.contains(s"$n${Frames.Sep}$k"))
      .map(Frames.f(n, _))

  /** A driver value as a literal Column. `lit` only takes scalars —
    * parameter maps lower to RECORDS (same as MapLit: every value keeps
    * its own type) and lists to arrays, recursively, so `$m.k` / `$xs[0]`
    * work exactly like the literal forms. */
  def literalColumn(v: Any): Column = v match {
    case null => lit(null)
    case xs: Seq[_] =>
      if (xs.isEmpty) array()
      else array(xs.map(literalColumn): _*)
    case m: Map[_, _] =>
      val sm = m.map { case (k, x) => k.toString -> x }
      // driver-protocol enum encoding ({__type: 'mg_enum', __value:
      // 'Name::Value'}) — lowers like EnumLit, to the canonical string
      if (sm.get("__type").contains("mg_enum"))
        lit(String.valueOf(sm.getOrElse("__value", "")))
      else if (m.isEmpty) map()
      else
        struct(sm.toSeq.map { case (k, x) =>
          literalColumn(x).as(k)
        }: _*)
    case other => lit(other)
  }

  def lower(e: Expr): Column = e match {
    case Lit(null) => lit(null)
    case Lit(v) => lit(v)
    case ListLit(items) if items.nonEmpty =>
      // heterogeneous list literals ([[1], 2, 3], [1, 'a']) cannot share
      // one Spark element type — encode each element as a VARIANT
      // (reference TypedValue lists are heterogeneous, typed_value.hpp
      // TVector). Homogeneous lists keep the plain (codegen-friendly)
      // array; the switch happens only when the array probe fails with a
      // type mismatch (lambda-scoped lists keep the plain form).
      val cols = items.map(lower)
      val plain = array(cols: _*)
      def baseKind(t: DataType): String = t match {
        case _: NumericType => "num"
        case NullType => "null"
        case StringType => "str"
        case BooleanType => "bool"
        case _ => "other"
      }
      val kinds = cols.flatMap(typeOf).map(baseKind).filterNot(_ == "null")
      def variantEnc = array(cols.map(c =>
        try_variant_get(
          parse_json(to_json(struct(c.as("v")))), "$.v", "variant")): _*)
      // mixed SCALAR kinds would silently coerce (num + str → array of
      // strings) — variant-encode before Spark gets the chance
      if (kinds.size == items.size && kinds.distinct.size > 1 &&
        kinds.forall(k => k == "num" || k == "str" || k == "bool"))
        variantEnc
      else
        Try(typeProbe.select(plain).schema) match {
          case scala.util.Failure(ex)
              if String.valueOf(ex.getMessage).contains("DATA_DIFF_TYPES") =>
            variantEnc
          case _ => plain
        }
    case ListLit(items) => array(items.map(lower): _*)
    case MapLit(items) =>
      // Cypher maps are heterogeneous RECORDS — lower to a named struct so
      // every value keeps its own type ({a: 1, b: 'x'} must yield a LONG
      // and a STRING; the earlier map<string,string> normalization
      // stringified mixed-type values). Empty {} stays an empty map.
      if (items.isEmpty) map()
      else struct(items.map { case (k, v) => lower(v).as(k) }: _*)
    case Param(name) =>
      literalColumn(params.getOrElse(
        name,
        throw new IllegalArgumentException(s"missing parameter $$$name")))

    case Var(n) if lambdaVars.contains(n) => lambdaVars(n)
    case Var(n) =>
      scope.get(n) match {
        case Some(Binding.ValueB) => Frames.f(n, "_val")
        case Some(Binding.EdgeListB) =>
          // a var-length binding IS a list of relationships — prefer the
          // entity structs when the planner materialized them (`(r[0]).id`
          // needs values); the id array answers length-only shapes
          if (df.columns.contains(s"$n${Frames.Sep}_structs"))
            Frames.f(n, "_structs")
          else Frames.f(n, "_ids")
        case Some(Binding.PathB) =>
          // path VALUE {nodes, edges} when the entity arrays exist;
          // the length otherwise (id-array paths are materialized by the
          // planner at projection time, not in expression position)
          if (df.columns.contains(s"$n${Frames.Sep}_nodestructs") &&
            df.columns.contains(s"$n${Frames.Sep}_edgestructs"))
            // an OPTIONAL MATCH miss leaves the path UNBOUND — NULL, not
            // a struct of null arrays (the node-id array witnesses the
            // bind, same contract as entity structs)
            when(Frames.f(n, "_nodes").isNull, lit(null))
              .otherwise(struct(
                Frames.f(n, "_nodestructs").as("nodes"),
                Frames.f(n, "_edgestructs").as("edges")))
          else Frames.f(n, "_len")
        case Some(Binding.NodeB) | Some(Binding.EdgeB) => varStruct(n)
        case None =>
          throw new IllegalArgumentException(s"unbound variable: $n")
      }

    case Prop(Var(n), key)
        if scope.get(n).exists(b => b == Binding.NodeB || b == Binding.EdgeB) =>
      if (df.columns.contains(s"$n${Frames.Sep}$key")) {
        val c = Frames.f(n, key)
        temporalOrSelf(c, key, typeOf(c))
      } else lit(null)
    case Prop(of, key) =>
      val c = lower(of)
      val tHint = typeOf(c).orElse(of match {
        case Var(n) => lambdaTypes.get(n)
        case _ => None
      })
      tHint match {
        case Some(_: MapType) => element_at(c, lit(key))
        case Some(s: StructType)
            if Functions.isPointStruct(s) && Functions.isPointAccessor(key) =>
          Functions.pointField(c, key)
        case Some(s: StructType) if s.fieldNames.contains(key) => c.getField(key)
        case Some(t) if isTemporalComponent(key, t) =>
          temporalComponent(c, key, t)
        case Some(_: StructType) => lit(null)
        case _ => element_at(c, lit(key)) // dynamic map access fallback
      }

    case BinOp(op, l, r) => binOp(op, l, r)
    case Not(x) => !lower(x)
    case Neg(x) => -lower(x)
    // An entity variable is NULL iff it didn't bind (OPTIONAL MATCH miss):
    // its columns lower to a struct, which is never null itself — test the
    // id column instead.
    case IsNull(Var(n), neg)
        if scope.get(n).exists(b =>
          b == Binding.NodeB || b == Binding.EdgeB) =>
      if (neg) Frames.id(n).isNotNull else Frames.id(n).isNull
    // A path is NULL iff it didn't bind: its node-id array witnesses the
    // bind (the same contract as the path VALUE above), or its length when
    // it carries no id arrays — so the test needs no entity arrays.
    case IsNull(Var(n), neg)
        if scope.get(n).contains(Binding.PathB) && pathWitness(n).nonEmpty =>
      val w = pathWitness(n).get
      if (neg) w.isNotNull else w.isNull
    case IsNull(x, false) => lower(x).isNull
    case IsNull(x, true) => lower(x).isNotNull

    case DeletedGuard(inner, vs) =>
      // any still-bound deleted variable on this row → runtime error;
      // null bindings yield NULL (a bare deleted entity projects as the
      // null VALUE, not a struct of null fields)
      val anyBound = vs
        .map(v => Frames.colsOf(df, v).headOption
          .map(c => col(c).isNotNull).getOrElse(lit(false)))
        .reduce(_ || _)
      val innerCol = inner match {
        case Var(n) if scope.get(n).exists(b =>
            b == Binding.NodeB || b == Binding.EdgeB ||
              b == Binding.PathB) =>
          lit(null)
        case _ => lower(inner)
      }
      when(
        anyBound,
        raise_error(lit(
          s"Trying to use a deleted object (variable `${vs.head}`).")))
        .otherwise(innerCol)

    case CaseExpr(subject, whens, default) =>
      val branches = subject match {
        case Some(s) =>
          val sc = lower(s)
          whens.map { case (w, t) => (sc === lower(w), lower(t)) }
        case None => whens.map { case (w, t) =>
          // a missing-property condition lowers to an UNTYPED null
          // literal; CASE needs a boolean (ANSI rejects VOID conditions)
          val c = lower(w)
          val typed =
            if (typeOf(c).contains(NullType)) c.cast("boolean") else c
          (typed, lower(t))
        }
      }
      val start = when(branches.head._1, branches.head._2)
      val chained = branches.tail.foldLeft(start) { case (acc, (c, v)) =>
        acc.when(c, v)
      }
      default.map(d => chained.otherwise(lower(d))).getOrElse(chained)

    // `n['nam' + 'e']` — dynamic property access on a bound entity
    // (reference eval.hpp SubscriptOperator on a vertex): CASE over the
    // variable's PROP columns (meta columns are not properties)
    case Subscript(Var(n), idx)
        if scope.get(n).exists(b =>
          b == Binding.NodeB || b == Binding.EdgeB) =>
      idx match {
        case Lit(k: String) => lower(Prop(Var(n), k))
        case _ =>
          val i = lower(idx)
          val props = Frames.colsOf(df, n)
            .map(_.substring(n.length + Frames.Sep.length))
            .filterNot(_.startsWith("_"))
          if (props.isEmpty) lit(null)
          else {
            // CASE branches must coerce to one type; entity properties are
            // dynamically typed, so incompatible columns (string vs
            // struct, …) variant-encode per branch instead of failing
            // analysis (the engine's mixed-type representation)
            val types = props.flatMap(k => typeOf(Frames.f(n, k))).distinct
            def numeric(t: DataType): Boolean = t match {
              case _: org.apache.spark.sql.types.NumericType => true
              case _ => false
            }
            val uniform = types.size <= 1 || types.forall(numeric)
            def branch(k: String): Column = {
              val c = Frames.f(n, k)
              if (uniform) c
              else
                try_variant_get(
                  parse_json(to_json(struct(c.as("v")))), "$.v", "variant")
            }
            props.tail
              .foldLeft(when(i === props.head, branch(props.head)))(
                (acc, k) => acc.when(i === k, branch(k)))
              .otherwise(lit(null))
          }
      }

    case Subscript(of, idx) =>
      val c = lower(of)
      val i = lower(idx)
      val idxT = typeOf(i)
      def requireStringIndex(): Unit = idxT.foreach {
        case StringType | NullType => ()
        case other =>
          throw new IllegalArgumentException(
            s"maps must be indexed with a string, got $other")
      }
      def requireIntIndex(): Unit = idxT.foreach {
        case LongType | IntegerType | ShortType | ByteType | NullType => ()
        case other =>
          throw new IllegalArgumentException(
            s"lists must be indexed with an integer, got $other")
      }
      typeOf(c) match {
        case Some(_: MapType) =>
          requireStringIndex()
          element_at(c, i)
        case Some(s: StructType) =>
          idx match {
            case Lit(k: String) if s.fieldNames.contains(k) => c.getField(k)
            case Lit(_: String) => lit(null)
            case _ =>
              // dynamic key over a RECORD-typed map: CASE chain per field
              // (n['nam' + 'e'], expr[$idx] — one branch per static field;
              // mixed-type records only coerce when Spark can unify them,
              // same contract as CASE itself)
              requireStringIndex()
              if (s.fields.isEmpty) lit(null)
              else {
                val first =
                  when(i === s.fields.head.name, c.getField(s.fields.head.name))
                s.fields.tail
                  .foldLeft(first)((acc, f) =>
                    acc.when(i === f.name, c.getField(f.name)))
                  .otherwise(lit(null))
              }
          }
        // a VARIANT value (heterogeneous-list element) indexes through a
        // JSON path for literal indexes
        case Some(VariantType) =>
          idx match {
            case Lit(n: Long) if n >= 0 =>
              try_variant_get(c, s"$$[$n]", "variant")
            case _ =>
              throw new UnsupportedOperationException(
                "dynamic index into a heterogeneous-list element")
          }
        case Some(_: ArrayType) =>
          // Cypher lists are 0-based, element_at is 1-based; negatives
          // from the end; out-of-range (incl. any index into an empty
          // list) is NULL, never an error — but a non-integer index IS
          // one (reference eval.hpp subscript type checks)
          requireIntIndex()
          try_element_at(c, when(i >= 0, i + 1).otherwise(i).cast("int"))
        case Some(t @ (_: NumericType | StringType | BooleanType)) =>
          throw new IllegalArgumentException(
            s"expected a map or a list to index, got $t")
        case _ =>
          try_element_at(c, when(i >= 0, i + 1).otherwise(i).cast("int"))
      }

    case Slice(of, fromE, toE) =>
      val c = lower(of)
      val n = size(c)
      def norm(e: Option[Expr], dflt: Column): Column =
        e.map { x =>
          val v = lower(x)
          when(v < 0, n + v).otherwise(v)
        }.getOrElse(dflt)
      val a = norm(fromE, lit(0))
      val b = norm(toE, n.cast("long"))
      slice(c, (a + 1).cast("int"), greatest(b - a, lit(0)).cast("int"))

    case ListComprehension(v, listE, whereE, projE) =>
      val listC = lower(listE)
      val elemT = typeOf(listC).collect { case ArrayType(et, _) => et }
      val filtered = whereE match {
        case Some(p) => filter(listC, x => withLambda(v, x, elemT).lower(p))
        case None => listC
      }
      projE match {
        case Some(p) =>
          transform(filtered, x => withLambda(v, x, elemT).lower(p))
        case None => filtered
      }

    case Quantifier(kind, v, listE, predE) =>
      // Ternary NULL logic per the reference evaluator (eval.hpp:928-1084):
      // count true/false/null predicate outcomes, then
      //   all    = F>0 → false; N>0 → null; else true
      //   any    = T>0 → true;  N>0 → null; else false
      //   none   = T>0 → false; N>0 → null; else true
      //   single = T≥2 → false; T=0 ∧ N>0 → null; else T=1
      // (empty list falls out naturally: all counts 0).
      //
      // A LITERAL list is unrolled element-by-element so each element keeps
      // its own static type — Spark's array() would coerce [1, 2, '3'] to
      // array<string>, silently changing 1 < 3 into '1' < 3; Cypher instead
      // makes the cross-type comparison NULL (see binOp orderable check).
      val nullB = lit(null).cast("boolean")
      val (tCnt, nCnt, fCnt, listNull) = listE match {
        case ListLit(items) =>
          val preds = items.map(e => withLambda(v, lower(e)).lower(predE))
          def cnt(f: Column => Column): Column =
            preds.map(p => when(f(p), 1).otherwise(0)).reduceOption(_ + _)
              .getOrElse(lit(0))
          (cnt(_ <=> lit(true)), cnt(_.isNull), cnt(_ <=> lit(false)),
            lit(false))
        case _ =>
          val listC = lower(listE)
          val elemT = typeOf(listC).collect { case ArrayType(et, _) => et }
          def pred(x: Column) = withLambda(v, x, elemT).lower(predE)
          (size(filter(listC, x => pred(x) <=> lit(true))),
            size(filter(listC, x => pred(x).isNull)),
            size(filter(listC, x => pred(x) <=> lit(false))),
            listC.isNull)
      }
      val res = kind match {
        case "all" =>
          when(fCnt > 0, lit(false)).when(nCnt > 0, nullB).otherwise(lit(true))
        case "any" =>
          when(tCnt > 0, lit(true)).when(nCnt > 0, nullB).otherwise(lit(false))
        case "none" =>
          when(tCnt > 0, lit(false)).when(nCnt > 0, nullB).otherwise(lit(true))
        case "single" =>
          when(tCnt >= 2, lit(false))
            .when(tCnt === 0 && nCnt > 0, nullB)
            .otherwise(tCnt === 1)
      }
      when(listNull, nullB).otherwise(res)

    case Reduce(acc, initE, v, listE, stepE) =>
      val listC = lower(listE)
      val initC = lower(initE)
      val elemT = typeOf(listC).collect { case ArrayType(et, _) => et }
      val accT = typeOf(initC)
      aggregate(
        listC,
        initC,
        (a, x) => new ExprLowering(df, scope, params,
          lambdaVars + (acc -> a) + (v -> x), enums, hopsCounter,
          lambdaTypes ++ accT.map(acc -> _) ++ elemT.map(v -> _),
          indexes)
          .lower(stepE))

    // `n:Label` label test (LabelsTest): membership in the entity's
    // label array; NULL entity -> NULL (ternary logic via array_contains)
    case HasLabel(x, l) =>
      x match {
        case Var(n) if isNodeOrEdgeVar(n) =>
          when(Frames.id(n).isNull, lit(null).cast("boolean"))
            .otherwise(array_contains(Frames.f(n, "_labels"), l))
        case _ => array_contains(lower(x).getField("_labels"), l)
      }

    // `Name::Value` — resolved against the enum store at plan time
    // (enum_store.hpp ToEnum): unknown name/member is a plan error, the
    // value itself is the stable `Name::Value` string.
    case EnumLit(name, value) =>
      val members = enums.getOrElse(
        name,
        throw new IllegalArgumentException(s"unknown enum '$name'"))
      require(
        members.contains(value),
        s"enum '$name' has no member '$value' (members: ${members.mkString(", ")})")
      lit(s"$name::$value")

    // Map projection (ast.hpp map-projection nodes): struct over the
    // variable's promoted property columns — `.*` splices all properties
    // (meta columns excluded), missing `.k` selectors yield NULL. A NULL
    // subject (OPTIONAL MATCH miss) projects to NULL, not a record.
    case MapProjection(v, items) =>
      val metaKeys = Set("_id", "_labels", "_src", "_dst", "_type")
      val entity = isNodeOrEdgeVar(v)
      // MAP-valued subjects project too (map_projection.feature: `WITH
      // {…} AS actor RETURN actor {.*, .name}`) — fields come off the
      // record/map value instead of promoted columns
      lazy val subj = lower(Var(v))
      lazy val subjT = typeOf(subj)
      val fields: Seq[Column] = items.flatMap {
        case ProjAll if entity =>
          Frames.colsOf(df, v)
            .map(_.substring(v.length + Frames.Sep.length))
            .filterNot(metaKeys)
            .map(k => Frames.f(v, k).as(k))
        case ProjAll =>
          subjT match {
            case Some(s: StructType) =>
              s.fieldNames.toSeq.map(f => subj.getField(f).as(f))
            case other =>
              throw new IllegalArgumentException(
                s"$v {.*}: $v is not a node/edge/map (got $other)")
          }
        case ProjProp(k) if entity =>
          val c =
            if (df.columns.contains(s"$v${Frames.Sep}$k")) Frames.f(v, k)
            else lit(null)
          Seq(c.as(k))
        case ProjProp(k) =>
          Seq((subjT match {
            case Some(s: StructType) if s.fieldNames.contains(k) =>
              subj.getField(k)
            case Some(_: MapType) => try_element_at(subj, lit(k))
            case _ => lit(null)
          }).as(k))
        case ProjKV(k, e) => Seq(lower(e).as(k))
        case ProjVar(n) => Seq(lower(Var(n)).as(n))
      }
      when(lower(Var(v)).isNull, lit(null)).otherwise(struct(fields: _*))

    case CountStar() => count(lit(1))

    case FnCall(name, distinct, args) =>
      Functions.lower(this, name, distinct, args)

    case p: PatternPredicate =>
      throw new UnsupportedOperationException(
        "pattern predicates are only supported as top-level WHERE conjuncts")
    case p: PatternComprehension =>
      throw new UnsupportedOperationException(
        "pattern comprehensions are only supported in WITH/RETURN items")
    case _: ExistsSubquery =>
      throw new UnsupportedOperationException(
        "EXISTS { subquery } is only supported as a WHERE conjunct")
  }

  /** Is `n` bound to a node or edge (vs a plain value / lambda var)? */
  def isNodeOrEdgeVar(n: String): Boolean =
    scope.get(n).exists(b => b == Binding.NodeB || b == Binding.EdgeB)

  /** Is `n` bound to an edge? */
  def isEdgeVar(n: String): Boolean =
    scope.get(n).contains(Binding.EdgeB)

  /** Is `n` a named shortest-path binding? */
  def isPathVar(n: String): Boolean =
    scope.get(n).contains(Binding.PathB)

  /** Whole node/edge value as a struct (for RETURN n, n = m).
    * An unbound entity (OPTIONAL MATCH miss) is NULL, not a struct of NULL
    * fields — its id column is the bind witness. */
  def varStruct(n: String): Column = {
    val cols = Frames.colsOf(df, n)
    val s = struct(cols.map(c =>
      Frames.named(c).as(c.substring(n.length + Frames.Sep.length))): _*)
    when(Frames.id(n).isNull, lit(null)).otherwise(s)
  }

  /** PROPERTY map of an entity (`properties(n)`) — meta columns excluded
    * (the reference returns only the property store, not id/labels);
    * NULL when unbound, empty map when the entity has no properties. */
  def varPropsStruct(n: String): Column = {
    val meta = Set("_id", "_labels", "_src", "_dst", "_type")
    val cols = Frames.colsOf(df, n).filterNot(c =>
      meta(c.substring(n.length + Frames.Sep.length)))
    val s =
      if (cols.isEmpty) map()
      else struct(cols.map(c =>
        Frames.named(c).as(c.substring(n.length + Frames.Sep.length))): _*)
    when(Frames.id(n).isNull, lit(null)).otherwise(s)
  }

  def varCols(n: String): Seq[String] = Frames.colsOf(df, n)

  /** Array of entity structs over a set of bound vars with a UNIFIED
    * schema (field union, NULL-padded) — `project([x, z], …)` needs
    * heterogeneous entities in one array. Unbound entities (OPTIONAL
    * MATCH misses) become NULL elements. */
  def entityValuesArray(vars: Seq[String]): Column = {
    val suffixes = scala.collection.mutable.LinkedHashSet.empty[String]
    vars.foreach(v =>
      Frames.colsOf(df, v).foreach(c =>
        suffixes += c.substring(v.length + Frames.Sep.length)))
    val fields = suffixes.toSeq
    array(vars.map { v =>
      val s = struct(fields.map { f =>
        val cn = s"$v${Frames.Sep}$f"
        (if (df.columns.contains(cn)) col(cn) else lit(null)).as(f)
      }: _*)
      when(Frames.id(v).isNull, lit(null)).otherwise(s)
    }: _*)
  }

  private def isNodeOrEdge(e: Expr): Option[String] = e match {
    case Var(n)
        if scope.get(n).exists(b => b == Binding.NodeB || b == Binding.EdgeB) =>
      Some(n)
    case _ => None
  }

  private def binOp(op: String, l: Expr, r: Expr): Column = {
    // node/edge equality compares identity (reference: TypedValue vertex
    // equality is by Gid).
    (op, isNodeOrEdge(l), isNodeOrEdge(r)) match {
      case ("=", Some(a), Some(b)) => return Frames.id(a) === Frames.id(b)
      case ("<>", Some(a), Some(b)) => return Frames.id(a) =!= Frames.id(b)
      case _ => ()
    }
    // enum values support equality only — the reference rejects ordering
    // comparisons on them (enum domains are unordered)
    if (Set("<", "<=", ">", ">=")(op) &&
      (l.isInstanceOf[EnumLit] || r.isInstanceOf[EnumLit]))
      throw new IllegalArgumentException(
        s"enum values only support = and <>, not '$op'")
    lazy val lc = lower(l)
    lazy val rc = lower(r)
    op match {
      case "+" =>
        // Entity/record-list concat chains (`[a] + collect(n) + [b]`)
        // whose element STRUCTS disagree (a.prop string vs n.prop long):
        // concat needs ONE exact element type, and the INTERMEDIATE
        // concat of a chain cannot even be type-probed (aggregate and
        // non-aggregate leaves mix) — so flatten the whole `+` chain,
        // type each leaf alone, and align every leaf to the union struct
        // (conflicting fields variant-encode, the engine's mixed-type
        // representation).
        val alignedChain: Option[Column] = {
          def flat(e: Expr): Seq[Expr] = e match {
            case BinOp("+", x, y) => flat(x) ++ flat(y)
            case o => Seq(o)
          }
          val leaves = flat(l) ++ flat(r)
          val leafCols = leaves.map(lower)
          val structs = leafCols.map(typeOf).map {
            case Some(ArrayType(s: StructType, _)) => Some(s)
            case _ => None
          }
          if (leaves.size < 2 || structs.exists(_.isEmpty) ||
            structs.flatten.distinct.size <= 1) None
          else {
            val ss = structs.flatten
            val names = ss.flatMap(_.fieldNames).distinct
            def tsOf(f: String): Seq[DataType] =
              ss.flatMap(_.fields.find(_.name == f).map(_.dataType))
                .distinct
            def enc(c: Column): Column = try_variant_get(
              parse_json(to_json(struct(c.as("v")))), "$.v", "variant")
            val aligned = leafCols.zip(ss).map { case (c, s) =>
              transform(c, x => struct(names.map { f =>
                val all = tsOf(f)
                s.fields.find(_.name == f) match {
                  case Some(_) if all.size == 1 => x.getField(f).as(f)
                  case Some(_) => enc(x.getField(f)).as(f)
                  case None if all.size == 1 =>
                    lit(null).cast(all.head).as(f)
                  case None => enc(lit(null)).as(f)
                }
              }: _*))
            }
            Some(concat(aligned: _*))
          }
        }
        if (alignedChain.isDefined) alignedChain.get
        else (typeOf(lc), typeOf(rc)) match {
          case (Some(StringType), _) | (_, Some(StringType)) => concat(lc.cast("string"), rc.cast("string"))
          case (Some(_: ArrayType), Some(_: ArrayType)) => concat(lc, rc)
          // list + scalar appends — but list + NULL is NULL (Cypher null
          // propagation), not an appended null element ([x] + null ≠
          // [x, null]; the latter is spelled [x] + [null]).
          case (Some(_: ArrayType), _) =>
            when(rc.isNull, lit(null)).otherwise(concat(lc, array(rc)))
          case (_, Some(_: ArrayType)) =>
            when(lc.isNull, lit(null)).otherwise(concat(array(lc), rc))
          case _ => lc + rc
        }
      case "-" => lc - rc
      case "*" => lc * rc
      case "/" =>
        (typeOf(lc), typeOf(rc)) match {
          case (Some(a), Some(b)) if integral(a) && integral(b) =>
            try_divide(lc, rc).cast("long") // Cypher int/int truncates; /0 → null? reference errors, we yield null
          case _ => lc / rc
        }
      case "%" => lc % rc
      case "^" => pow(lc, rc)
      case "=" | "<>" =>
        // Equality across type families is FALSE in Cypher (1 = 'a',
        // typed_value.cpp operator== — not an error, not a coercion),
        // with standard null propagation. Spark would insert an ANSI
        // cast that throws on the first malformed value. String↔temporal
        // casts the string side (literals against temporal columns);
        // variant sides keep Spark's variant equality.
        def tempo(t: DataType): Boolean = t match {
          case DateType | TimestampType | TimestampNTZType => true
          case _ => false
        }
        def eq(a: Column, b: Column): Column =
          if (op == "=") a === b else a =!= b
        (typeOf(lc), typeOf(rc)) match {
          case (Some(StringType), Some(t)) if tempo(t) => eq(lc.cast(t), rc)
          case (Some(t), Some(StringType)) if tempo(t) => eq(lc, rc.cast(t))
          // a VARIANT side (mixed-type property column) compares through
          // the other side's type — a wrong-kind variant extracts NULL,
          // and cross-family (in)equality on non-null values is a definite
          // false/true in Cypher (typed_value.cpp operator==), not NULL
          case (Some(VariantType), Some(t2))
              if t2 != VariantType && !tempo(t2) =>
            val ext = variantAs(lc, t2)
            when(lc.isNull || rc.isNull, lit(null).cast("boolean"))
              .otherwise(
                when(ext.isNull, lit(op != "=")).otherwise(eq(ext, rc)))
          case (Some(t2), Some(VariantType))
              if t2 != VariantType && !tempo(t2) =>
            val ext = variantAs(rc, t2)
            when(lc.isNull || rc.isNull, lit(null).cast("boolean"))
              .otherwise(
                when(ext.isNull, lit(op != "=")).otherwise(eq(lc, ext)))
          case (Some(a), Some(b))
              if a != VariantType && b != VariantType && !orderable(a, b) =>
            when(lc.isNull || rc.isNull, lit(null).cast("boolean"))
              .otherwise(lit(op != "="))
          case _ => eq(lc, rc)
        }
      // Ordering across type families is NULL in Cypher ('3' < 3 is NULL,
      // typed_value.cpp operator< — "Invalid 'less' operand types" surfaces
      // as NULL through the ternary logic); Spark would coerce instead.
      case "<" | "<=" | ">" | ">=" =>
        def cmp(a: Column, b: Column): Column = op match {
          case "<" => a < b
          case "<=" => a <= b
          case ">" => a > b
          case _ => a >= b
        }
        def temporal(t: DataType): Boolean = t match {
          case DateType | TimestampType | TimestampNTZType => true
          case _ => false
        }
        (typeOf(lc).orElse(hintOf(l)), typeOf(rc).orElse(hintOf(r))) match {
          // string literal vs temporal column: cast the string side (the
          // reference parses the literal into the temporal type; silently
          // NULLing would drop all rows of a valid date predicate)
          case (Some(StringType), Some(t)) if temporal(t) =>
            cmp(lc.cast(t), rc)
          case (Some(t), Some(StringType)) if temporal(t) =>
            cmp(lc, rc.cast(t))
          // a VARIANT side (heterogeneous-list element) compares through
          // the other side's type; wrong-kind variants compare NULL
          case (Some(VariantType), Some(t2)) if !temporal(t2) =>
            cmp(variantAs(lc, t2), rc)
          case (Some(t2), Some(VariantType)) if !temporal(t2) =>
            cmp(lc, variantAs(rc, t2))
          case (Some(a), Some(b)) if !orderable(a, b) =>
            lit(null).cast("boolean")
          case _ => cmp(lc, rc)
        }
      case "AND" => lc && rc
      case "OR" => lc || rc
      case "XOR" => lc =!= rc
      case "IN" =>
        r match {
          case ListLit(items) if items.forall(_.isInstanceOf[Lit]) =>
            // Cypher cross-type equality is false (2 = '2' is not a match),
            // but Spark's isin coerces — drop list elements whose type
            // can't equal the left side before building the isin.
            val vals = items.collect { case Lit(v) => v }
            val compatible = typeOf(lc) match {
              case Some(_: NumericType) =>
                vals.filter(v =>
                  v.isInstanceOf[Long] || v.isInstanceOf[Double] ||
                    v.isInstanceOf[Int])
              case Some(StringType) => vals.filter(_.isInstanceOf[String])
              case Some(BooleanType) => vals.filter(_.isInstanceOf[Boolean])
              case _ => vals
            }
            if (compatible.isEmpty) lit(false)
            else lc.isin(compatible: _*)
          case ListLit(items) =>
            // general list literal (nested/mixed/expression elements):
            // element-wise unrolled membership so each element keeps its
            // own static type — array() would coerce or reject
            // `[1] IN [[1], 2, 3]`. Ternary: any true → true, else any
            // null-valued comparison → null, else false; statically
            // type-incompatible pairs compare false (cross-type equality
            // is false, matching the isin branch).
            if (items.isEmpty) lit(false)
            else {
              val eqs = items.map { e =>
                val ec = lower(e)
                (typeOf(lc), typeOf(ec)) match {
                  case (Some(a2), Some(b2)) if !orderable(a2, b2) =>
                    lit(false)
                  case _ => binOp("=", l, e)
                }
              }
              val anyTrue = eqs.map(c => c <=> lit(true)).reduce(_ || _)
              val anyNull = eqs.map(_.isNull).reduce(_ || _)
              when(anyTrue, lit(true))
                .when(anyNull, lit(null).cast("boolean"))
                .otherwise(lit(false))
            }
          case _ =>
            typeOf(rc) match {
              // membership over a VARIANT-encoded heterogeneous list:
              // per-element typed comparison (numbers compare as doubles,
              // lists/maps by canonical JSON)
              case Some(ArrayType(VariantType, _)) =>
                val eq: Column => Column = x => typeOf(lc) match {
                  case Some(_: NumericType) =>
                    schema_of_variant(x).rlike(
                      "^(TINYINT|SMALLINT|INT|BIGINT|FLOAT|DOUBLE|DECIMAL.*)$") &&
                      try_variant_get(x, "$", "double") === lc.cast("double")
                  case Some(StringType) =>
                    schema_of_variant(x) === "STRING" &&
                      try_variant_get(x, "$", "string") === lc
                  case Some(BooleanType) =>
                    schema_of_variant(x) === "BOOLEAN" &&
                      try_variant_get(x, "$", "boolean") === lc
                  case _ => to_json(x) === to_json(lc)
                }
                when(lc.isNull, lit(null).cast("boolean"))
                  .otherwise(exists(rc, eq))
              // STATIC null operands break array_contains resolution;
              // Cypher ternary: x IN null → null, null IN [] → false,
              // null IN [..] → null
              case Some(NullType) => lit(null).cast("boolean")
              case _ if typeOf(lc).contains(NullType) =>
                when(size(rc) === 0, lit(false))
                  .otherwise(lit(null).cast("boolean"))
              // node/edge IN list-of-entities compares by IDENTITY
              // (Cypher entity equality is id equality): collected
              // entity structs carry whatever property schema their
              // provenance had, so a raw struct array_contains would
              // type-mismatch whenever the two sides saw different
              // label frames.
              case Some(ArrayType(st: StructType, _))
                  if st.fieldNames.contains("_id") &&
                    typeOf(lc).exists {
                      case s: StructType => s.fieldNames.contains("_id")
                      case _ => false
                    } =>
                val lid = lc.getField("_id")
                when(
                  lid.isNull,
                  when(size(rc) === 0, lit(false))
                    .otherwise(lit(null).cast("boolean")))
                  .otherwise(array_contains(
                    transform(rc, x => x.getField("_id")), lid))
              case _ => array_contains(rc, lc)
            }
        }
      case "=~" => lc.rlike_(rc)
      case "CONTAINS" | "STARTS WITH" | "ENDS WITH" =>
        // NULL operands are ternary-NULL; a non-null NON-STRING operand
        // is a TYPE ERROR (reference TypedValue::operator semantics —
        // `name STARTS WITH 1` raises, it does not filter to empty).
        // Non-string VARIANT elements stay NULL (dynamic kinds are the
        // engine's mixed-type representation, not a static type error).
        def strSide(c: Column, t: Option[DataType]): Column = t match {
          case Some(StringType) => c
          case Some(VariantType) =>
            when(
              schema_of_variant(c) === "STRING",
              try_variant_get(c, "$", "string"))
          case Some(NullType) => lit(null).cast("string")
          case Some(_) =>
            when(c.isNull, lit(null).cast("string"))
              .otherwise(raise_error(lit(
                s"'$op' requires string operands")).cast("string"))
          case None => c
        }
        val ls = strSide(lc, typeOf(lc))
        val rs = strSide(rc, typeOf(rc))
        op match {
          case "CONTAINS" => ls.contains(rs)
          case "STARTS WITH" => ls.startsWith(rs)
          case _ => ls.endsWith(rs)
        }
      case other =>
        throw new UnsupportedOperationException(s"operator $other")
    }
  }

  /** Static type hint for a lambda variable (typeOf cannot resolve a
    * namedlambdavariable). */
  private[cypher] def hintOf(e: Expr): Option[DataType] = e match {
    case Var(n) => lambdaTypes.get(n)
    case _ => None
  }

  /** A VARIANT value narrowed to `t`'s comparison kind; other kinds are
    * NULL (cypher cross-type comparison). */
  private def variantAs(c: Column, t: DataType): Column = t match {
    case _: NumericType =>
      when(
        schema_of_variant(c).rlike(
          "^(TINYINT|SMALLINT|INT|BIGINT|FLOAT|DOUBLE|DECIMAL.*)$"),
        try_variant_get(c, "$", "double"))
    case StringType =>
      when(schema_of_variant(c) === "STRING", try_variant_get(c, "$", "string"))
    case BooleanType =>
      when(
        schema_of_variant(c) === "BOOLEAN",
        try_variant_get(c, "$", "boolean"))
    case _ => lit(null)
  }

  private implicit class RichCol(c: Column) {
    /** rlike with a (possibly) non-literal pattern. */
    def rlike_(p: Column): Column = regexp_like(c, p)
  }

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Can values of these two static types be ordered against each other in
    * Cypher? Same family only: number↔number, string↔string, bool↔bool,
    * temporal↔temporal. NullType is vacuously orderable (NULL propagates). */
  private def orderable(a: DataType, b: DataType): Boolean = {
    def fam(t: DataType): Int = t match {
      case _: NumericType => 1
      case StringType => 2
      case BooleanType => 3
      case DateType | TimestampType | TimestampNTZType => 4
      case _: DayTimeIntervalType => 5
      case _ => 0 // arrays/structs/null — leave to Spark
    }
    val (fa, fb) = (fam(a), fam(b))
    fa == 0 || fb == 0 || fa == fb
  }

  private val temporalKeys =
    Set("year", "month", "day", "hour", "minute", "second", "quarter",
      "week", "dayofweek")

  private def isTemporalComponent(key: String, t: DataType): Boolean = t match {
    case TimestampType | DateType | TimestampNTZType =>
      temporalKeys(key.toLowerCase)
    case _: DayTimeIntervalType =>
      Set("day", "hour", "minute", "second")(key.toLowerCase)
    case _ => false
  }

  private def temporalOrSelf(c: Column, key: String, t: Option[DataType]): Column = c

  /** Temporal component lookup (`d.year` — PropertyLookup on temporals,
    * `awesome_memgraph_functions.cpp` temporal accessors). Durations
    * (`utils/temporal.hpp` Duration members) use interval field
    * extraction — `dur.day` is the days part, not a total. */
  def temporalComponent(c: Column, key: String, t: DataType): Column = t match {
    case _: DayTimeIntervalType =>
      date_part(lit(key.toUpperCase), c).cast("long")
    case _ => key.toLowerCase match {
      case "year" => year(c).cast("long")
      case "month" => month(c).cast("long")
      case "day" => dayofmonth(c).cast("long")
      case "hour" => hour(c).cast("long")
      case "minute" => minute(c).cast("long")
      case "second" => second(c).cast("long")
      case "quarter" => quarter(c).cast("long")
      case "week" => weekofyear(c).cast("long")
      case "dayofweek" => dayofweek(c).cast("long")
      case other =>
        throw new UnsupportedOperationException(s"temporal component $other")
    }
  }

  /** Does this expression contain an aggregation call? */
  def hasAgg(e: Expr): Boolean = ExprLowering.hasAgg(e)
}

object ExprLowering {
  /** Does this expression contain an aggregation call? */
  def hasAgg(e: Expr): Boolean = e match {
    case CountStar() => true
    case FnCall(n, _, args) =>
      Functions.isAggregate(n) || args.exists(hasAgg)
    case BinOp(_, a, b) => hasAgg(a) || hasAgg(b)
    case Not(x) => hasAgg(x)
    case Neg(x) => hasAgg(x)
    case IsNull(x, _) => hasAgg(x)
    case Prop(x, _) => hasAgg(x)
    case Subscript(a, b) => hasAgg(a) || hasAgg(b)
    case Slice(a, b, c) =>
      hasAgg(a) || b.exists(hasAgg) || c.exists(hasAgg)
    case CaseExpr(s, ws, d) =>
      s.exists(hasAgg) || ws.exists { case (a, b) => hasAgg(a) || hasAgg(b) } ||
        d.exists(hasAgg)
    case ListLit(items) => items.exists(hasAgg)
    case MapLit(items) => items.exists(kv => hasAgg(kv._2))
    case MapProjection(_, items) =>
      items.exists { case ProjKV(_, e) => hasAgg(e); case _ => false }
    case ListComprehension(_, l, w, p) =>
      hasAgg(l) || w.exists(hasAgg) || p.exists(hasAgg)
    case Quantifier(_, _, l, p) => hasAgg(l) || hasAgg(p)
    case HasLabel(x, _) => hasAgg(x)
    case Reduce(_, i, _, l, s) => hasAgg(i) || hasAgg(l) || hasAgg(s)
    case _: PatternComprehension => false // rolled up before lowering
    case DeletedGuard(inner, _) => hasAgg(inner)
    case _ => false
  }
}
