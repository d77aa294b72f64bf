package graft.cypher

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Frames, GraphState}
import graft.operators.{Expand, Scratch, ShortestPath, VarExpand}
import Ast._

/** Clause-by-clause lowering of a Cypher query to a DataFrame program — our
  * analog of the reference's `RuleBasedPlanner`
  * (`src/query/plan/rule_based_planner.cpp`), with Catalyst playing the role
  * of the rewrite pipeline (`plan/planner.hpp:73-97`): filter pushdown,
  * column pruning, join selection and reordering all happen below the
  * DataFrame line, so this planner only has to emit a *correct* declarative
  * plan, not an optimal one.
  *
  * Frame discipline: one DataFrame whose columns are namespaced per bound
  * variable (see [[graft.core.Frames]]); `Scope` tracks what each variable
  * denotes. Pattern-predicate EXISTS and OPTIONAL MATCH are decorrelated into
  * semi/anti/outer joins seeded from the distinct binding columns — the same
  * shape Catalyst's own subquery decorrelation produces.
  */
final class Planner(
    spark: SparkSession,
    g: GraphState,
    params: Map[String, Any]) {

  private var counter = 0
  private def fresh(p: String): String = { counter += 1; s"__$p$counter" }

  /** Current graph version. Mutation clauses replace it (snapshot-per-
    * statement — the Accumulate barrier, operator.hpp:1870): reads planned
    * after a mutation clause see the new version, never partial writes. */
  private var state: GraphState = g
  def currentState: GraphState = state

  /** Id allocation: ONE namespace base per statement (`myBase<<48`), with
    * SEQUENTIAL offsets — nodes count up from 0, edges from 2^47 — so ids
    * are consecutive in creation order per entity kind (the reference's
    * sequential allocators, storage.hpp `vertex_id_`/`edge_id_`; the gql
    * corpus observes `id(n) - first` = 0,1,2…) while staying globally
    * unique across statements. Offsets are assigned by zipWithIndex
    * (per-partition counts + driver prefix-sum — scale-safe, no
    * single-partition shuffle) and pinned by an eager localCheckpoint, so
    * ids exist exactly once. Sub-planners (do.when, CALL subqueries) get a
    * re-based state so they allocate strictly above this statement. */
  private val myBase: Long = g.idBase + 1
  private var nodeCursor = 0L
  private var edgeCursor = 0L
  private var subHigh: Long = g.idBase

  /** Variables DELETEd earlier in this statement: later SET/REMOVE on
    * them is a plan-time error and their frame columns are poisoned
    * (reference "Trying to use a deleted object" runtime errors). A name
    * leaves the set when it leaves scope (a WITH that drops it — a later
    * fresh binding of the same name is a different variable). */
  private var deletedVars: Set[String] = Set.empty
  /** Entities created in the CURRENT query part (reset at WITH/RETURN):
    * a variable-length pattern comprehension over one is rejected like
    * the reference (pattern_comprehensions.feature — the snapshot the
    * comprehension would scan cannot see the same part's writes). */
  private var createdVars: Set[String] = Set.empty

  /** True under a `USING PERIODIC COMMIT` prefix: per-batch commits make
    * deletions visible to later clauses, so a write to a deleted entity
    * raises; the same-transaction form silently no-ops instead
    * (delete.feature vs periodic_delete.feature). */
  private var periodicMode: Boolean = false
  def idHighWater: Long =
    math.max(
      if (nodeCursor > 0 || edgeCursor > 0) myBase else g.idBase,
      subHigh)

  /** State snapshot for a sub-planner: allocates above everything so far. */
  private def rebased: GraphState =
    state.withIdBase(math.max(idHighWater, myBase))

  /** ONE statement-wide hops quota shared by every emulated partial
    * traversal (the reference's single `USING HOPS LIMIT` counter —
    * hops_limit.hpp; a statement with several expansions must not get a
    * fresh budget per expansion). */
  private var lhQuotaCache: Option[graft.operators.LocalHops.Quota] = None
  private def lhQuota(cap: Long): graft.operators.LocalHops.Quota =
    lhQuotaCache.getOrElse {
      val q = new graft.operators.LocalHops.Quota(cap)
      lhQuotaCache = Some(q)
      q
    }

  /** Append a sequential id column `start, start+1, …` in row order, PIN
    * the result (ids exist exactly once), and return its row count.
    *
    * Small frames (≤ [[MintLocalRows]], 20k — every
    * statement-literal gate graph and typical merge-miss set) take ONE
    * Spark job: collect the rows (partition-order = zipWithIndex order)
    * and mint the ids driver-side into a LocalRelation, which also
    * carries exact size stats so later joins/unions against the created
    * rows broadcast. The old path (checkpoint + zipWithIndex partition
    * count + checkpoint + count = 4 driver round-trips) remains for
    * larger frames — per-partition counts + driver prefix-sum, no
    * single-partition shuffle, scale-safe. The overflow probe costs one
    * bounded take() before falling back. */
  private def withSeqIdPinned(
      df: DataFrame, idCol: String, start: Long): (DataFrame, Long) = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(
      df.schema.fields :+ StructField(idCol, LongType, nullable = false))
    val head = Scratch.labeled(spark, s"graft:mint $idCol")(
      graft.operators.Cutover.within(df, MintLocalRows))
    head match {
      case Some(small) =>
        val rows = small.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (start + i))
        }
        val local = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema)
        (local, small.length.toLong)
      case None =>
        Scratch.labeled(spark, s"graft:mint $idCol") {
          val cp = Scratch.cp(df)
          val rdd = cp.rdd.zipWithIndex().map { case (r, i) =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (start + i))
          }
          val pinned =
            Scratch.cp(spark.createDataFrame(rdd, schema))
          (pinned, pinned.count())
        }
    }
  }

  /** Row cap of [[withSeqIdPinned]]'s one-job driver mint. */
  private val MintLocalRows = 20000L

  final case class LF(
      df: DataFrame,
      scope: Scope,
      /** ORDER BY of the clause that produced this frame, rewritten to the
        * frame's aliases: the NEXT clause's aggregation re-derives it so
        * collect() observes the ordered stream (the reference guarantees
        * aggregation input order after `WITH ... ORDER BY` — its Aggregate
        * cursor just pulls the sorted stream, operator.hpp:1910). Reset by
        * every non-projection clause. */
      pendingOrder: Seq[(Expr, Boolean)] = Nil)

  private def initial: LF = LF(spark.range(1).drop("id"), Scope.empty)

  /** `USING HOPS LIMIT n` for this statement (Query prefix). */
  private var hopsLimit: Option[Long] = None
  /** True while planning a FOREACH body (Unwind skips the comprehension
    * rewrite there — see ForeachCl). */

  /** Owning-frame hints: which label frames (node vars) / type frames
    * (edge vars) a bound variable's rows can live in. A by-id mutation
    * (SET/REMOVE/DELETE) then only rewrites those frames instead of
    * looping every frame of the graph — the other frames cannot contain
    * the matched ids. Absent entry = unknown = all frames (always safe);
    * node hints are disabled wholesale on `mayOverlap` graphs, where one
    * row may live in several label frames. */
  private var frameHints: Map[String, Set[String]] = Map.empty
  private def setHint(v: String, frames: Option[Set[String]]): Unit =
    frames match {
      case Some(f) if f.nonEmpty => frameHints += (v -> f)
      case _ => frameHints -= v // re-bound without a label: clear stale hint
    }
  private def nodeHint(v: String): Option[Seq[String]] =
    if (state.mayOverlap) None else frameHints.get(v).map(_.toSeq.sorted)
  private def edgeHint(v: String): Option[Seq[String]] =
    frameHints.get(v).map(_.toSeq.sorted)

  def plan(q: Query): DataFrame = {
    graft.core.ExecutionMode(spark, g)
    hopsLimit = q.hopsLimit
    periodicMode = q.periodic
    // getHopsCounter() (hops_limit.hpp counter): exactly 0 for statements
    // that plan no expansion at all; a statement that DOES traverse
    // reports the reference's LAZY pull count, which batch execution
    // cannot reproduce — those raise (skip), never a wrong number.
    hopsCounterStatic = if (statementTraverses(q)) None else Some(0L)
    // the reference rejects mixing UNION and UNION ALL in one statement
    // (symbol_generator: "Invalid combination of UNION and UNION ALL")
    if (q.unions.map(_._1).distinct.size > 1)
      throw new IllegalArgumentException(
        "Invalid combination of UNION and UNION ALL.")
    val first = planSingle(q.first)
    q.unions.foldLeft(first) { case (acc, (all, sq)) =>
      val u = acc.unionByName(planSingle(sq))
      if (all) u else u.dropDuplicates()
    }
  }

  def planSingle(sq: SingleQuery): DataFrame = {
    val out = sq.clauses.foldLeft(initial) { (lf, c) =>
      val next = planClause(lf, c)
      // deleted-name tracking follows scope: once a projection drops the
      // name, a later binding of it is a fresh variable
      if (deletedVars.nonEmpty)
        deletedVars = deletedVars.filter(next.scope.contains)
      next
    }.df
    flushDanglingCheck()
    out
  }

  /** Commit-time connection probe for plain (non-DETACH) node DELETEs:
    * two semi-joins of the accumulated deleted ids against the FINAL edge
    * state of the statement. */
  private var pendingDangling: Seq[DataFrame] = Nil
  private def flushDanglingCheck(): Unit = {
    if (pendingDangling.isEmpty) return
    val ids = pendingDangling.reduce(_ unionByName _).distinct()
    pendingDangling = Nil
    val e = state.allEdges
    val srcHit = !e.join(
      ids.select(col("__id").as(GraphState.SrcCol)),
      Seq(GraphState.SrcCol), "left_semi").isEmpty
    lazy val dstHit = !e.join(
      ids.select(col("__id").as(GraphState.DstCol)),
      Seq(GraphState.DstCol), "left_semi").isEmpty
    if (srcHit || dstHit)
      throw new IllegalStateException(
        "Failed to remove node because of it's existing connections. " +
          "Consider using DETACH DELETE.")
  }

  /** Plan a SingleQuery from a caller-provided seed frame — the
    * periodic.iterate batch driver's entry point. `hints` carries the
    * input query's frame hints for the re-bound entities, so the batch's
    * by-id writes touch only the owning frames instead of every frame of
    * the graph. */
  def planSeeded(
      df: DataFrame,
      scope: Scope,
      sq: SingleQuery,
      hints: Map[String, Set[String]] = Map.empty): DataFrame = {
    hints.foreach { case (v, f) => setHint(v, Some(f)) }
    val out = sq.clauses.foldLeft(LF(df, scope))(planClause).df
    flushDanglingCheck()
    out
  }

  /** Frame hints of this planner's output entities (periodic.iterate
    * threads them into each batch's sub-planner). */
  private[cypher] def hintsSnapshot: Map[String, Set[String]] = frameHints

  private def lowering(lf: LF) = new ExprLowering(
    lf.df, lf.scope, params, enums = state.enums,
    hopsCounter = hopsCounterStatic, indexes = state.indexes)

  /** Whether any clause of the statement expands relationships (incl.
    * pattern predicates / comprehensions and CALL subqueries) — the
    * getHopsCounter() = 0 precondition. */
  private var hopsCounterStatic: Option[Long] = None

  private def statementTraverses(q: Query): Boolean = {
    def inPart(p: PatternPart): Boolean =
      p.hops.nonEmpty ||
        (p.start.props ++ p.hops.flatMap { case (r, n) =>
          r.props ++ n.props
        }).exists { case (_, e) => inExpr(e) }
    // FULL recursive walk: a pattern comprehension / exists() / EXISTS { }
    // ANYWHERE in an expression tree (nested inside OR/CASE/lists, in
    // projection bodies, UNWIND lists, SET values) is a traversal —
    // conservative: a false positive only skips getHopsCounter(), never
    // mis-answers it
    def inExpr(e: Expr): Boolean = e match {
      case PatternPredicate(p, _, _) => p.hops.nonEmpty
      case _: PatternComprehension => true
      case _: ExistsSubquery => true
      case BinOp(_, a, b) => inExpr(a) || inExpr(b)
      case Not(a) => inExpr(a)
      case Neg(a) => inExpr(a)
      case IsNull(a, _) => inExpr(a)
      case Prop(a, _) => inExpr(a)
      case FnCall(_, _, as) => as.exists(inExpr)
      case CaseExpr(s, ws, d) =>
        s.exists(inExpr) ||
          ws.exists { case (a, b) => inExpr(a) || inExpr(b) } ||
          d.exists(inExpr)
      case Subscript(a, b) => inExpr(a) || inExpr(b)
      case Slice(a, b, c) =>
        inExpr(a) || b.exists(inExpr) || c.exists(inExpr)
      case ListLit(is) => is.exists(inExpr)
      case MapLit(is) => is.exists(kv => inExpr(kv._2))
      case MapProjection(_, is) =>
        is.exists { case ProjKV(_, x) => inExpr(x); case _ => false }
      case Reduce(_, i, _, l, st) => inExpr(i) || inExpr(l) || inExpr(st)
      case ListComprehension(_, l, w, p) =>
        inExpr(l) || w.exists(inExpr) || p.exists(inExpr)
      case Quantifier(_, _, l, p) => inExpr(l) || inExpr(p)
      case HasLabel(a, _) => inExpr(a)
      case _ => false
    }
    def inBody(b: ProjectionBody): Boolean =
      b.items.exists(i => inExpr(i.expr)) ||
        b.orderBy.exists { case (e, _) => inExpr(e) }
    def inSetItem(s: SetItem): Boolean = s match {
      case SetProp(_, _, e) => inExpr(e)
      case SetNestedProp(_, _, e, _) => inExpr(e)
      case SetAllProps(_, e, _) => inExpr(e)
      case _ => false
    }
    def inClause(c: Clause): Boolean = c match {
      case m: Match =>
        m.patterns.exists(inPart) || m.where.exists(inExpr)
      case m: MergeCl =>
        inPart(m.pattern) || (m.onCreate ++ m.onMatch).exists(inSetItem)
      case With(b, w) => inBody(b) || w.exists(inExpr)
      case Return(b) => inBody(b)
      case Unwind(e, _) => inExpr(e)
      case SetCl(items) => items.exists(inSetItem)
      case CreateCl(ps) =>
        // creating a chain is not an expansion — only its property
        // EXPRESSIONS can traverse
        ps.exists(p =>
          (p.start.props ++ p.hops.flatMap { case (r, n) =>
            r.props ++ n.props
          }).exists { case (_, e) => inExpr(e) })
      case cs: CallSubquery =>
        (cs.inner +: cs.unions.map(_._2)).exists(inSingle)
      case f: ForeachCl =>
        inExpr(f.list) || f.updates.exists(inClause)
      case _ => false
    }
    def inSingle(sq: SingleQuery): Boolean = sq.clauses.exists(inClause)
    inSingle(q.first) || q.unions.exists { case (_, sq) => inSingle(sq) }
  }

  /** `(n:$label)` / `SET n:$label` — parameter-valued labels
    * (parameters.feature; the reference's LabelIx parameter lookup): the
    * parser marks them `$name`, resolved against params where consumed. */
  /** `$.var.k1.k2` — a dynamic label/type marker from the parser: a
    * property-path expression evaluated per row (CREATE/SET/REMOVE only). */
  private def isDynLabel(l: String): Boolean = l.startsWith("$.")
  private def dynLabelExpr(l: String): Expr = {
    val parts = l.stripPrefix("$.").split("\\.")
    parts.tail.foldLeft(Var(parts.head): Expr)((acc, k) => Prop(acc, k))
  }
  private def rejectDynLabels(p: PatternPart, where: String): Unit = {
    val ls = (p.start.labels ++ p.start.orLabels) ++
      p.hops.flatMap { case (r, nn) =>
        r.types ++ nn.labels ++ nn.orLabels
      }
    ls.find(isDynLabel).foreach { l =>
      throw new IllegalArgumentException(
        s"dynamic label/type ${l.stripPrefix("$.")} is not allowed in " +
          s"$where (CREATE/SET/REMOVE only)")
    }
  }

  /** A pattern variable bound to an entity-STRUCT VALUE (`WITH
    * coalesce(b, c) AS x MATCH (x)-->(d)`, OptionalMatchAcceptance)
    * rebinds as the node/edge it holds: the struct's fields promote to
    * the frame namespace. A NULL struct leaves NULL id columns, which
    * match nothing — exactly the reference's null-entity semantics. */
  private def rebindEntityValues(lf0: LF, vars: Seq[String]): LF = {
    import org.apache.spark.sql.types.StructType
    var cur = lf0
    vars.distinct.foreach { v =>
      if (cur.scope.get(v).contains(Binding.ValueB)) {
        val c = s"$v${Frames.Sep}_val"
        if (cur.df.columns.contains(c)) {
          cur.df.schema(c).dataType match {
            case s: StructType
                if s.fieldNames.contains(GraphState.IdCol) &&
                  !s.fieldNames.contains("_startNode") &&
                  (s.fieldNames.contains(GraphState.LabelsCol) ||
                    (s.fieldNames.contains(GraphState.SrcCol) &&
                      s.fieldNames.contains(GraphState.DstCol) &&
                      s.fieldNames.contains(GraphState.TypeCol))) =>
              val isEdge = s.fieldNames.contains(GraphState.SrcCol)
              var d2 = cur.df
              s.fieldNames.foreach { f =>
                d2 = d2.withColumn(
                  s"$v${Frames.Sep}$f", col(c).getField(f))
              }
              d2 = d2.drop(c)
              cur = LF(
                d2,
                cur.scope +
                  (v -> (if (isEdge) Binding.EdgeB else Binding.NodeB)))
            case _ => ()
          }
        }
      }
    }
    cur
  }

  private def resolveLabel(l: String): String =
    if (!l.startsWith("$") || isDynLabel(l)) l
    else params.getOrElse(
      l.drop(1),
      throw new IllegalArgumentException(
        s"missing parameter $$${l.drop(1)}")) match {
      case s: String => s
      case other =>
        throw new IllegalArgumentException(
          s"label parameter $$${l.drop(1)} must be a string, got $other")
    }
  private def resolveNp(n: NodePattern): NodePattern =
    if ((n.labels ++ n.orLabels).exists(_.startsWith("$")))
      n.copy(
        labels = n.labels.map(resolveLabel),
        orLabels = n.orLabels.map(resolveLabel))
    else n
  private def resolvePart(p: PatternPart): PatternPart =
    p.copy(
      start = resolveNp(p.start),
      hops = p.hops.map { case (r, nn) => (r, resolveNp(nn)) })
  private def resolveClause(c: Clause): Clause = c match {
    case m: Match =>
      m.patterns.foreach(rejectDynLabels(_, "MATCH"))
      m.copy(patterns = m.patterns.map(resolvePart))
    case CreateCl(ps) => CreateCl(ps.map(resolvePart))
    case m: MergeCl =>
      rejectDynLabels(m.pattern, "MERGE")
      m.copy(pattern = resolvePart(m.pattern))
    case SetCl(items) => SetCl(items.map {
      case SetLabelsItem(v, ls) => SetLabelsItem(v, ls.map(resolveLabel))
      case o => o
    })
    case RemoveCl(items) => RemoveCl(items.map {
      case RemoveLabelsItem(v, ls) =>
        RemoveLabelsItem(v, ls.map(resolveLabel))
      case o => o
    })
    case o => o
  }

  private def planClause(lf: LF, c0: Clause): LF = resolveClause(c0) match {
    case Match(false, patterns0, where) =>
      // pattern variables holding an entity-STRUCT VALUE (`WITH
      // coalesce(b, c) AS x MATCH (x)-->(d)`) rebind as that entity first
      val lfM = rebindEntityValues(
        lf,
        patterns0.flatMap(p =>
          p.start.variable.toSeq ++ p.hops.flatMap { case (r, n2) =>
            r.variable.toSeq ++ n2.variable.toSeq
          }))
      // Comma patterns are join-order free (they conjunct through shared
      // variables + edge uniqueness): plan the CHEAPEST-starting pattern
      // first, so its variables are bound before the expensive ones plan
      // and each later pattern drives from an already-bound side — the
      // reference's VariableStartPlanner costs all per-pattern start
      // alternatives the same way (variable_start_planner.hpp:161-204).
      // Shortest/path-named/quota'd patterns keep written order (their
      // planning depends on what is bound when they run).
      // a pattern whose property expressions read a SIBLING pattern's
      // variable pins the written order (the dependency must bind first)
      lazy val siblingBound: Set[String] = patterns0.flatMap(p =>
        p.start.variable.toSeq ++ p.hops.flatMap { case (r, n) =>
          r.variable.toSeq ++ n.variable.toSeq
        }).toSet
      lazy val crossRefs = patterns0.exists { p =>
        (p.start.props ++ p.hops.flatMap(h => h._1.props ++ h._2.props))
          .flatMap { case (_, e) => varsIn(e) }
          .exists(v => siblingBound.contains(v) && !lfM.scope.contains(v))
      }
      val patterns =
        if (patterns0.size <= 1 || hopsLimit.isDefined ||
          patterns0.exists(p =>
            p.shortest.isDefined || p.pathVar.isDefined ||
              p.hops.exists(_._1.mode != "DFS")) || crossRefs)
          patterns0
        else {
          def nodeEst(n: NodePattern): Double = {
            val base =
              if (n.variable.exists(lfM.scope.contains)) 1.0
              else
                n.labels.headOption
                  .map(l => state.labelCountEstimate(l).toDouble)
                  .getOrElse(state.totalNodeEstimate.toDouble)
            // a property map is a point-ish lookup — same 1/16 discount
            // shape the reference's filter-selectivity estimate applies
            if (n.props.nonEmpty) base / 16.0 else base
          }
          def cost(p: PatternPart): Double =
            (p.start +: p.hops.map(_._2)).map(nodeEst).min
          patterns0.sortBy(cost) // stable: ties keep written order
        }
      var cur = lfM
      var newEdges = Vector.empty[String]
      // cardinality upper bound of everything planned so far: exact for
      // single-node patterns (the label count), unknown (∞) once a
      // pattern expands edges. Drives the small-side broadcast below.
      var curEstimate: Double =
        if (lfM.df.columns.isEmpty) 1.0 else Double.MaxValue
      patterns.foreach { p =>
        val pVars = (p.start.variable.toSeq ++ p.hops.flatMap { case (r, nd) =>
          r.variable.toSeq ++ nd.variable.toSeq
        }).toSet
        val disconnected =
          cur.df.columns.nonEmpty && !pVars.exists(cur.scope.contains)
        // `MATCH (a:Small), (b:Big)`: the cheapest pattern planned first,
        // so when the NEXT pattern is disconnected and the accumulated
        // side is provably small, broadcast the accumulated side into the
        // Cartesian (reference variable_start_planner.hpp:161-204 costing;
        // a small dim side must not shuffle the fact side at scale)
        val seed =
          if (disconnected && curEstimate <= BroadcastNodeScanRows)
            LF(broadcast(cur.df), cur.scope)
          else cur
        val (next, edges) = planPattern(seed, p, where)
        cur = next
        newEdges ++= edges
        curEstimate =
          if (p.hops.nonEmpty || curEstimate == Double.MaxValue)
            Double.MaxValue
          else curEstimate * math.max(1.0, {
            val n = p.start
            if (n.variable.exists(lfM.scope.contains)) 1.0
            else if (n.orLabels.nonEmpty)
              n.orLabels.map(l => state.labelCountEstimate(l).toDouble).sum
            else n.labels.headOption
              .map(l => state.labelCountEstimate(l).toDouble)
              .getOrElse(state.totalNodeEstimate.toDouble)
          })
      }
      cur = edgeUniqueness(cur, newEdges)
      where.map(w => planWhere(cur, w)).getOrElse(cur)

    case Match(true, patterns, where) => planOptional(lf, patterns, where)

    case Unwind(listE, v) =>
      // pattern comprehensions / degree calls in the UNWIND list lower
      // through the same frame rewrite WITH/RETURN items use (a FOREACH
      // list too — it evaluates against the pre-body state)
      var (lf1, items) =
        rewritePatternComprehensions(lf, Seq(("__u", listE)))
      // `UNWIND nodes(p)` / `FOREACH (n IN nodes(p) | …)` need path
      // ENTITY arrays (ids alone can't rebind the loop var as a node)
      varsIn(items.head._2, skipLengthOnly = true).foreach { n =>
        lf1.scope.get(n) match {
          case Some(Binding.PathB) => lf1 = materializePathEntities(lf1, n)
          case Some(Binding.EdgeListB) =>
            lf1 = materializeEdgeListEntities(lf1, n)
          case _ => ()
        }
      }
      val c1 = lowering(lf1).lower(items.head._2)
      // UNWIND NULL yields zero rows (typed null array explodes to none)
      val c0 = lf1.df.select(c1).schema.head.dataType match {
        case org.apache.spark.sql.types.NullType =>
          lit(null).cast("array<int>")
        case _ => c1
      }
      val out = s"$v${Frames.Sep}_val"
      // an inner FOREACH/UNWIND may SHADOW an outer variable — replace
      // rather than duplicate its columns
      val keepCols = lf1.df.columns.filterNot(
        c => c == out || c.startsWith(s"$v${Frames.Sep}"))
      val df0 =
        if (lf1.df.columns.isEmpty) lf1.df.select(explode(c0).as(out))
        else lf1.df.select(keepCols.map(col) :+ explode(c0).as(out): _*)
      // exploding a list of ENTITIES rebinds the loop var as a node/edge
      // (reference FOREACH/UNWIND loop vars are typed values —
      // `FOREACH (n IN nodes(p) | SET n.x = 1)` mutates the node)
      import org.apache.spark.sql.types.StructType
      df0.schema(out).dataType match {
        // virtual (derive()) edges embed _startNode/_endNode VALUES —
        // they stay plain values (Functions resolves their accessors)
        case s: StructType
            if s.fieldNames.contains(GraphState.IdCol) &&
              !s.fieldNames.contains("_startNode") &&
              // require the FULL entity signature — a plain map literal
              // like {_id: 1, name: 'x'} must stay a value, not rebind
              (s.fieldNames.contains(GraphState.LabelsCol) ||
                (s.fieldNames.contains(GraphState.SrcCol) &&
                  s.fieldNames.contains(GraphState.DstCol) &&
                  s.fieldNames.contains(GraphState.TypeCol))) =>
          val isEdge = s.fieldNames.contains(GraphState.SrcCol) ||
            s.fieldNames.contains(GraphState.TypeCol)
          var d2 = df0
          s.fieldNames.foreach { f =>
            d2 = d2.withColumn(s"$v${Frames.Sep}$f", col(out).getField(f))
          }
          d2 = d2.drop(out)
          LF(
            d2,
            lf1.scope +
              (v -> (if (isEdge) Binding.EdgeB else Binding.NodeB)))
        case _ =>
          LF(df0, lf1.scope + (v -> Binding.ValueB))
      }

    case With(body, where) =>
      createdVars = Set.empty // a projection starts a new query part
      project(lf, body, where, isReturn = false)
    case Return(body) => project(lf, body, None, isReturn = true)

    case CallProc(name, args, yieldsRaw, callWhere)
        if name == "do.when" || name == "do.case" =>
      val yields = yieldsRaw.map { case (n, a) => a.getOrElse(n) }
      require(
        yieldsRaw.forall { case (n, a) => a.forall(_ == n) } &&
          callWhere.isEmpty,
        s"$name does not support YIELD aliases / WHERE")
      // `do` module (`src/mage/cpp/do_module`, apoc heritage): conditional
      // execution of a Cypher query. Conditions/query texts are constant
      // procedure args, so dispatch happens at plan time; the chosen query
      // may mutate (its new state + id high-water thread through).
      val cv = args.map(constValue)
      val chosen: Option[String] = name match {
        case "do.when" =>
          val cond = cv.head match { case b: Boolean => b; case x => x != null }
          (if (cond) cv.lift(1) else cv.lift(2))
            .map(_.toString).filter(_.nonEmpty)
        case _ =>
          cv.head match {
            case alts: Seq[_] =>
              alts.grouped(2).collectFirst {
                case Seq(c: Boolean, q) if c => q.toString
              }.orElse(cv.lift(1).map(_.toString).filter(_.nonEmpty))
            case other =>
              throw new IllegalArgumentException(
                s"do.case expects [cond, query, …] list, got $other")
          }
      }
      chosen match {
        case None =>
          // no condition matched and no else branch: zero rows (apoc
          // semantics), yield columns present but empty.
          val zero = yields.foldLeft(lf.df.filter(lit(false)))((d, y) =>
            d.withColumn(s"$y${Frames.Sep}_val", lit(null).cast("string")))
          LF(
            zero,
            yields.foldLeft(lf.scope)((sc, y) => sc + (y -> Binding.ValueB)))
        case Some(q) =>
          val sub = new Planner(spark, rebased, params)
          val out = sub.plan(CypherParser.parse(q))
          state = sub.currentState
          subHigh = math.max(subHigh, sub.idHighWater)
          val missing = yields.filterNot(out.columns.contains)
          require(missing.isEmpty, s"$name query does not yield: $missing")
          val selected = out.select(
            yields.map(y => col(y).as(s"$y${Frames.Sep}_val")): _*)
          val df =
            if (lf.df.columns.isEmpty) selected
            else lf.df.crossJoin(selected)
          LF(
            df,
            yields.foldLeft(lf.scope)((sc, y) => sc + (y -> Binding.ValueB)))
      }

    case CallProc(name, args, yieldsRaw, callWhere)
        if name == "periodic.iterate" =>
      // `periodic.iterate(input_query, running_query, {batch_size})`
      // (reference `src/mage/cpp/periodic_module/periodic.cpp`): run the
      // input query, split its rows into batches, and execute the running
      // query once per batch with the input's columns bound (entities
      // rebind by id, primitives as values). Batches run statement-serial
      // (the reference's own contract); a failing batch rolls back to its
      // pre-batch snapshot and reports success=false.
      val cv = args.map(constValue)
      require(cv.size >= 2,
        "periodic.iterate(input_query, running_query[, config])")
      val inputQ = cv(0).toString
      val runningQ = cv(1).toString
      val cfg: Map[String, Any] = cv.lift(2) match {
        case Some(m: Map[_, _]) => m.map { case (k, v) => k.toString -> v }
        case _ => Map.empty
      }
      val batchSize =
        cfg.get("batch_size").map(_.toString.toDouble.toInt).getOrElse(1000)
      require(batchSize > 0, "batch_size must be > 0")
      val inP = new Planner(spark, rebased, params)
      val inDf0 = inP.plan(CypherParser.parse(inputQ))
      val inHints = inP.hintsSnapshot
      state = inP.currentState
      subHigh = math.max(subHigh, inP.idHighWater)
      val (inDf, total) = withSeqIdPinned(inDf0, "__pb_row", 0L)
      val nBatches = (total + batchSize - 1) / batchSize
      require(
        nBatches <= 10000,
        s"periodic.iterate would run $nBatches driver-sequenced batches — " +
          "raise batch_size")
      val runParsed = CypherParser.parse(runningQ)
      require(
        runParsed.unions.isEmpty,
        "periodic.iterate running query cannot contain UNION")
      val fields = inDf0.schema.fields
      var success = true
      var executed = 0L
      var b = 0L
      while (success && b < nBatches) {
        val preBatch = state
        try {
          val batch = inDf
            .filter(
              col("__pb_row") >= b * batchSize.toLong &&
                col("__pb_row") < (b + 1) * batchSize.toLong)
            .drop("__pb_row")
          var df = batch
          var scope = Scope.empty
          fields.foreach { f =>
            f.dataType match {
              case s: org.apache.spark.sql.types.StructType
                  if s.fieldNames.contains(GraphState.IdCol) =>
                val isEdge = s.fieldNames.contains(GraphState.SrcCol) ||
                  s.fieldNames.contains(GraphState.TypeCol)
                s.fieldNames.foreach { sf =>
                  df = df.withColumn(
                    s"${f.name}${Frames.Sep}$sf", col(f.name).getField(sf))
                }
                df = df.drop(f.name)
                scope = scope +
                  (f.name -> (if (isEdge) Binding.EdgeB else Binding.NodeB))
              case _ =>
                df = df.withColumnRenamed(
                  f.name, s"${f.name}${Frames.Sep}_val")
                scope = scope + (f.name -> Binding.ValueB)
            }
          }
          val sub = new Planner(spark, rebased, params)
          sub.planSeeded(df, scope, runParsed.first, inHints)
          // per-batch commit: force the batch's writes NOW so a failing
          // write expression fails (and rolls back) THIS batch, and so
          // thousands of batches don't layer thunks into one huge plan
          state = sub.currentState.materializeChangesFrom(preBatch)
          subHigh = math.max(subHigh, sub.idHighWater)
          executed += 1
        } catch {
          case _: Exception =>
            state = preBatch
            success = false
        }
        b += 1
      }
      val yields = yieldsRaw.map { case (n2, a) => a.getOrElse(n2) }
      import spark.implicits._
      val out0 = Seq((success, executed))
        .toDF("success", "number_of_executed_batches")
      val avail = Seq("success", "number_of_executed_batches")
      val ys = if (yields.isEmpty) avail else yields
      val missing0 = (if (yieldsRaw.isEmpty) Nil
        else yieldsRaw.map(_._1)).filterNot(avail.contains)
      require(missing0.isEmpty, s"periodic.iterate does not yield: $missing0")
      val selected = out0.select(
        (if (yieldsRaw.isEmpty) avail.map(c => (c, c))
         else yieldsRaw.map { case (n2, a) => (n2, a.getOrElse(n2)) })
          .map { case (n2, a) => col(n2).as(s"$a${Frames.Sep}_val") }: _*)
      val dfOut =
        if (lf.df.columns.isEmpty) selected else lf.df.crossJoin(selected)
      val lfOut = LF(
        dfOut,
        ys.foldLeft(lf.scope)((sc, y) => sc + (y -> Binding.ValueB)))
      callWhere
        .map(w => LF(lfOut.df.filter(lowering(lfOut).lower(w)), lfOut.scope))
        .getOrElse(lfOut)

    case CallProc(name @ ("create.node" | "merge.node"), args, yieldsRaw,
        callWhere) =>
      planHelperNodeWrite(lf, name, args, yieldsRaw, callWhere)

    case CallProc(name, args, yieldsRaw, callWhere)
        if HelperCalls.textForms.contains(name) &&
          (lf.df.columns.nonEmpty || args.exists(constValueOpt(_).isEmpty)) =>
      // PER-ROW helper write: id-targeted property/label writes are
      // idempotent, so the one-batch constant rewrite IS the per-row
      // result; anything else has no per-row form here.
      name match {
        case "create.set_property" | "create.set_properties" |
            "create.remove_properties" | "create.remove_labels" |
            "create.set_rel_property" | "create.set_rel_properties" |
            "create.remove_rel_properties" | "nodes.delete"
            if args.forall(constValueOpt(_).isDefined) =>
          planHelperTextForm(lf, name, args, yieldsRaw, callWhere)
        case other =>
          throw new UnsupportedOperationException(
            s"$other: per-row / non-constant argument form not supported — " +
              "use a standalone CALL with constant arguments")
      }

    case CallProc(name, args, yieldsRaw, callWhere)
        if HelperCalls.textForms.contains(name) =>
      // Standalone CALL with constant args: re-expressed as the
      // equivalent Cypher statement at plan time and run through a
      // sub-planner — one batch plan over the normal mutation path
      // (HelperCalls).
      planHelperTextForm(lf, name, args, yieldsRaw, callWhere)

    case CallProc(name, args, yieldsRaw, callWhere)
        if HelperCalls.entityForms.contains(name) =>
      planHelperRelationship(lf, name, args, yieldsRaw, callWhere)

    case CallProc(name, args, yieldsRaw, callWhere)
        if name.startsWith("set_property.copyproperty") =>
      // set_property module (set_property_module.cpp:220-262): copy
      // properties between BOUND entities, once per input row — lowered
      // to the equivalent per-row SET items (one batch plan; the
      // Node2Node/Node2Rel/Rel2Node/Rel2Rel variants only differ in the
      // binding kinds, which planSet dispatches on anyway)
      val srcVar = args.headOption match {
        case Some(Var(v)) => v
        case other =>
          throw new IllegalArgumentException(
            s"$name: source must be a bound entity variable, got $other")
      }
      val dstVar = args.lift(2) match {
        case Some(Var(v)) => v
        case other =>
          throw new IllegalArgumentException(
            s"$name: target must be a bound entity variable, got $other")
      }
      def propNames(e: Option[Expr], what: String): Seq[String] =
        e.map(constValue) match {
          case Some(s: String) => Seq(s)
          case Some(xs: Seq[_]) => xs.map(_.toString)
          case other =>
            throw new IllegalArgumentException(
              s"$name $what: need property name(s), got $other")
        }
      val sp = propNames(args.lift(1), "source_properties")
      val tp = propNames(args.lift(3), "target_properties")
      require(
        sp.size == tp.size,
        s"$name: source/target property lists must match in length")
      val lf2 = planSet(
        lf,
        sp.zip(tp).map { case (s, t) =>
          SetProp(dstVar, t, Prop(Var(srcVar), s))
        })
      val alias = yieldsRaw match {
        case Nil => "result"
        case Seq(("result", a)) => a.getOrElse("result")
        case other =>
          throw new IllegalArgumentException(
            s"$name yields only `result`, got ${other.map(_._1)}")
      }
      val lf3 = LF(
        lf2.df.withColumn(s"$alias${Frames.Sep}_val", lit(true)),
        lf2.scope + (alias -> Binding.ValueB))
      callWhere
        .map(w => LF(lf3.df.filter(lowering(lf3).lower(w)), lf3.scope))
        .getOrElse(lf3)

    case CallProc(name, args, yields, callWhere)
        if lf.df.columns.nonEmpty && args.exists(constValueOpt(_).isEmpty) =>
      // expression-valued args after a row-producing clause (`WITH
      // collect(n.id) AS pts CALL tsp.solve(pts)`) — the mgp contract
      // runs the procedure once per input row
      planCallPerRow(lf, name, args, yields, callWhere)

    case CallProc(name, args, yields, callWhere) =>
      val cargs = args.map(constValue)
      // refactor.* procedures WRITE: they return the next graph version
      // alongside their yield table (the reference's write-type mgp_proc)
      val out = graft.procedures.ApocProcs.writeRegistry.get(name) match {
        case Some(wp) =>
          val (ng, df) = wp(graft.procedures.ProcContext(spark, state, cargs))
          state = ng
          df
        case None =>
          val proc = graft.procedures.Procedures.registry.getOrElse(
            name,
            throw new IllegalArgumentException(s"unknown procedure: $name"))
          proc(graft.procedures.ProcContext(spark, state, cargs))
      }
      // YIELD * (parsed as an empty list) binds every output column;
      // `YIELD c AS alias` renames
      val yields1: Seq[(String, String)] =
        if (yields.isEmpty) out.columns.toSeq.map(c => (c, c))
        else yields.map { case (n, a) => (n, a.getOrElse(n)) }
      val missing = yields1.map(_._1).filterNot(out.columns.contains)
      require(missing.isEmpty, s"procedure $name does not yield: $missing")
      val selected = out.select(
        yields1.map { case (n, a) => col(n).as(s"$a${Frames.Sep}_val") }: _*)
      val df =
        if (lf.df.columns.isEmpty) selected
        else lf.df.crossJoin(selected)
      val lf2 = LF(
        df,
        yields1.foldLeft(lf.scope)((sc, y) => sc + (y._2 -> Binding.ValueB)))
      // `YIELD … WHERE pred` post-filter (procedure_call.feature)
      callWhere
        .map(w => LF(lf2.df.filter(lowering(lf2).lower(w)), lf2.scope))
        .getOrElse(lf2)

    case CreateEnumCl(name, values) =>
      // enum_store.hpp: register the domain on the graph version; reads
      // planned after this clause validate Name::Value literals against it
      state = state.withEnum(name, values)
      lf

    case IndexDdlCl(create, kind0, label, props, name, cfg) =>
      // scans don't consult the registry (Catalyst pushdown is this
      // engine's access path) — the registry drives SHOW INDEX INFO and
      // the text/vector search procedures. Validation mirrors the
      // reference's: duplicate keys and nested-path prefix conflicts
      // raise (indices.feature).
      if (props.distinct.size != props.size)
        throw new IllegalArgumentException(
          s"duplicate index keys: ${props.mkString(", ")}")
      for (a <- props; b <- props if a != b)
        if (b.startsWith(a + "."))
          throw new IllegalArgumentException(
            s"index key '$a' is a path prefix of '$b'")
      val kind =
        if (kind0 == "label" && props.nonEmpty) "label+property" else kind0
      // `{"order": ASC|DESC}` on label+property indexes: a distinct index
      // per order (indices.feature DROP WITH CONFIG scenarios)
      def orderOf(config: Map[String, Any]): Option[String] =
        config.get("order").map { v =>
          val o = v.toString.toUpperCase
          if (o != "ASC" && o != "DESC")
            throw new IllegalArgumentException(
              s"index order must be ASC or DESC, got $v")
          o
        }
      if (create) {
        val config: Map[String, Any] = cfg
          .map(indexConfig)
          .getOrElse(Map.empty)
        if (kind.startsWith("vector")) {
          require(name.isDefined, "vector indexes are named")
          require(
            label.isDefined && props.size == 1,
            "vector index needs ON :Label(property)")
          require(
            config.contains("dimension"),
            "vector index CONFIG needs a dimension")
          // an edge carries exactly ONE type — an AND combo can never
          // match (vector_edge_search.feature rejects it)
          if (kind == "vector-edge" && label.exists(_.contains("&")))
            throw new IllegalArgumentException(
              "a vector edge index cannot use an AND (&) type combination" +
                " — an edge has exactly one type")
        }
        if (kind == "text" || kind == "text-edge")
          require(name.isDefined, "text indexes are named")
        if (kind == "label" && cfg.isDefined)
          throw new IllegalArgumentException(
            "WITH CONFIG is not supported on a label-only index")
        if (kind == "label+property") orderOf(config) // validate
        state = state.withIndex(
          graft.core.GraphState.IndexDef(kind, label, props, name, config))
      } else {
        // DROP … WITH CONFIG is only meaningful on label+property
        // indexes and only understands the "order" key (indices.feature)
        if (kind == "label" && cfg.isDefined)
          throw new IllegalArgumentException(
            "WITH CONFIG is not supported on a label-only index")
        cfg.map(indexConfig).foreach(_.keys.foreach { k =>
          if (k != "order")
            throw new IllegalArgumentException(
              s"unknown DROP INDEX config key '$k' (only \"order\")")
        })
        val dropOrder = cfg.map(indexConfig).flatMap(orderOf)
        state = state.dropIndexes { d =>
          if (kind == "vector" || kind == "vector-edge")
            d.kind.startsWith("vector") && d.name == name
          else if (kind == "text" || kind == "text-edge")
            d.kind.startsWith("text") && d.name == name
          else
            d.kind == kind && d.label == label && d.props == props &&
              dropOrder.forall(o =>
                orderOf(d.config).getOrElse("ASC") == o)
        }
      }
      lf

    case ServerParamCl(set, global, pname, value) =>
      // server-side parameter store: `$x` falls back to it when the
      // client supplied no binding (Cypher.execute merges)
      state =
        if (set)
          state.withServerParam(
            pname, constValue(value.get),
            if (global) "global" else "database")
        else state.withoutServerParam(pname)
      lf

    case DescriptionCl(set, kind, labels, edgeType, sL, eL, prop, db, text) =>
      // server-side descriptions: schema documentation metadata keyed by
      // target (descriptions.feature); only the active database name is
      // valid
      if (kind == "database" && !db.contains("memgraph"))
        throw new IllegalArgumentException(
          s"unknown database: ${db.getOrElse("")}")
      val entry = graft.core.GraphState.DescEntry(
        kind, labels, edgeType, sL, eL, prop, db,
        text.getOrElse(""))
      state =
        if (set) state.withDescription(entry)
        else state.dropDescriptions(_.sameKey(entry))
      lf

    case MaintenanceCl(_) =>
      // FREE MEMORY / ANALYZE GRAPH DELETE STATISTICS: storage GC and
      // index statistics are Catalyst/parquet concerns here — accepted
      // no-ops with an empty result
      lf

    case LoadCsvCl(file, withHeader, ignoreBad, delim, quote, nullif, v) =>
      // LoadCsv (operator.hpp:2935): schema-on-read, all-string columns —
      // the reference's row values are strings too; no inference pass.
      // WITH HEADER binds the row as map<string,string> (row.field /
      // row['field']); NO HEADER binds an array<string> (row[i]).
      val path = constValue(file).toString
      var reader = spark.read
        .option("header", withHeader.toString)
        .option("delimiter", delim.map(constValue(_).toString).getOrElse(","))
        .option("quote", quote.map(constValue(_).toString).getOrElse("\""))
      nullif.foreach(n =>
        reader = reader.option("nullValue", constValue(n).toString))
      if (ignoreBad) reader = reader.option("mode", "DROPMALFORMED")
      val raw = reader.csv(path)
      val rowCol =
        if (withHeader)
          map_from_arrays(
            array(raw.columns.map(lit).toSeq: _*),
            array(raw.columns.map(col).toSeq: _*))
        else array(raw.columns.map(col).toSeq: _*)
      val csvDf = raw.select(rowCol.as(s"$v${Frames.Sep}_val"))
      val df =
        if (lf.df.columns.isEmpty) csvDf else lf.df.crossJoin(csvDf)
      LF(df, lf.scope + (v -> Binding.ValueB))

    case CreateCl(patterns) =>
      // a CREATE whose input frame is empty stays EXACTLY ONE row through
      // every node/edge of every pattern part (columns are added, rows
      // never are) — ids become literals, skipping the per-entity
      // zipWithIndex + checkpoint + count jobs (a literal 9-node CREATE
      // used to cost ~27 driver jobs)
      val oneRow = lf.df.columns.isEmpty
      // only variables this CREATE actually MINTS: a bound endpoint
      // reused as an attachment point (`MATCH (a) CREATE (a)-[:S]->()`)
      // stays a pre-existing entity — comprehensions over it still see
      // the snapshot (pattern_comprehensions.feature "over a matched node
      // a write clause reuses")
      createdVars ++= patterns.flatMap(p =>
        p.start.variable.toSeq ++ p.hops.flatMap { case (r, nd) =>
          r.variable.toSeq ++ nd.variable.toSeq
        }).filterNot(lf.scope.contains)
      patterns.foldLeft(lf)((cur, p) => planCreate(cur, p, oneRow))
    case SetCl(items) => planSet(lf, items)
    case DeleteCl(detach, exprs) =>
      val plainNodeIds = planDelete(lf, detach, exprs)
      // reference DELETE (without DETACH) refuses to remove a node that
      // still has edges — but the check is DEFERRED to end of statement
      // (the reference accumulates deltas and probes connections at
      // commit, storage delete path): `MATCH (n)-[r]->() DELETE n
      // DELETE r` succeeds because r is gone by then. Accumulate the
      // plain-deleted ids; [[flushDanglingCheck]] probes the final edge
      // state once per statement — only paid by plain node DELETEs.
      pendingDangling ++= plainNodeIds
      // reference runtime semantics: a LATER projection/filter that uses
      // a deleted entity raises ("Trying to use a deleted object").
      // Tracked per variable; project/planWhere wrap referencing
      // expressions in a row-level guard (NULL bindings stay NULL — the
      // OPTIONAL MATCH no-op delete must still return null), while
      // internal frame plumbing (CREATE reuse, checkpoints) stays
      // untouched. SET/REMOVE on deleted vars no-op (or raise under
      // PERIODIC COMMIT) — see planSet/planRemove.
      deletedVars ++= exprs.collect {
        case Var(v) if lf.scope.get(v).exists(b =>
          b == Binding.NodeB || b == Binding.EdgeB || b == Binding.PathB) => v
      }
      lf
    case RemoveCl(items) => planRemove(lf, items)
    case m: MergeCl => planMerge(lf, m)
    case ForeachCl(v, listE, updates) =>
      // Foreach (operator.hpp:3032): run the update clauses against the
      // exploded frame; the outer frame and scope are unchanged. The list
      // (and any comprehension in it) evaluates against the pre-body
      // state; body clauses run statement-serially, so a comprehension in
      // a later body clause sees the earlier clauses' writes — the
      // reference's read-your-writes at clause granularity.
      val exploded = planClause(lf, Unwind(listE, v))
      updates.foldLeft(exploded)(planClause)
      // writes to OUTER-scope entities inside the body must be visible to
      // the rest of the statement (`FOREACH (… | SET n.prop = …) RETURN
      // n.prop`): refresh those bound columns from the post-body state
      refreshSetTargets(lf, updates)

    case CallSubquery(inner0, scoped, unions) =>
      // An UNCORRELATED subquery that WRITES must still run once per input
      // row (the reference's Apply pipelines rows through it — a counter
      // pattern observes 1,2,3, operator.hpp:3061); decorrelation would
      // collapse those N executions into one. Correlated subqueries keep
      // the decorrelated join (per-distinct-binding ≡ per-row for them).
      // `CALL (a, b) { }` scoped imports desugar to the leading-WITH form;
      // `(*)` imports every outer variable, `()` none.
      val importNames: Seq[String] = scoped match {
        case Some(Seq("*")) =>
          lf.scope.vars.map(_._1).filterNot(_.startsWith("__")).toSeq
        case Some(names) => names
        case None => Nil
      }
      def addImport(sq: SingleQuery): SingleQuery =
        if (importNames.isEmpty) sq
        else
          SingleQuery(
            With(
              ProjectionBody(
                distinct = false,
                items = importNames.map(n => ReturnItem(Var(n), None)),
                star = false, orderBy = Nil, skip = None, limit = None),
              None) +: sq.clauses)
      val inner = addImport(inner0)
      val branchesAll = inner +: unions.map { case (_, sq) => addImport(sq) }
      val dedup = unions.exists(!_._1)
      if (unions.isEmpty && inner.clauses.exists(mutatesClause) &&
        callImports(inner).isEmpty)
        planCallSubqueryPerRow(lf, inner)
      else
        planCallSubquery(
          lf, branchesAll, dedup,
          carryImports = scoped.exists(_.nonEmpty))
  }

  private def mutatesClause(c: Clause): Boolean = c match {
    case _: CreateCl | _: SetCl | _: DeleteCl | _: RemoveCl | _: MergeCl =>
      true
    case ForeachCl(_, _, us) => us.exists(mutatesClause)
    case CallSubquery(inner, _, us) =>
      (inner +: us.map(_._2)).exists(_.clauses.exists(mutatesClause))
    case _ => false
  }

  /** Leading `WITH a, b` import prefix of a CALL { } body. */
  private def callImports(inner: SingleQuery): Seq[String] =
    inner.clauses.headOption match {
      case Some(With(body, None))
          if body.items.nonEmpty &&
            body.items.forall(i => i.expr.isInstanceOf[Var] && i.as.isEmpty) =>
        body.items.map(_.expr.asInstanceOf[Var].name)
      case _ => Nil
    }

  /** Generic `CALL proc(expr, …)` with expression-valued arguments after a
    * row-producing clause: the mgp contract dispatches the procedure once
    * per input row (`mgp_proc` receives one argument pack per pulled row),
    * so the outer frame is collected (bounded — every row is a full
    * driver-side procedure dispatch; aggregate first for the driver-sized
    * shapes like `WITH collect(…) CALL tsp.solve(…)`), the procedure runs
    * per row, and each result unions back tagged with its source row. */
  private def planCallPerRow(
      lf: LF,
      name: String,
      args: Seq[Expr],
      yieldsRaw: Seq[(String, Option[String])],
      callWhere: Option[Expr]): LF = {
    val low = lowering(lf)
    val outerCols = lf.df.columns.toSeq
    val argCols = args.zipWithIndex.map { case (a, i) =>
      low.lower(a).as(s"__call_arg_$i")
    }
    val maxCalls = 256
    val collected = lf.df
      .select(outerCols.map(col) ++ argCols: _*)
      .limit(maxCalls + 1)
      .collect()
    require(
      collected.length <= maxCalls,
      s"$name: dynamic-argument CALL dispatches once per input row — got " +
        s"more than $maxCalls rows; aggregate first (WITH collect(…))")
    // Spark row values → the driver-value protocol procedures consume
    def toScala(v: Any): Any = v match {
      case r: org.apache.spark.sql.Row =>
        r.schema.fieldNames.zip(r.toSeq.map(toScala)).toMap[String, Any]
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => String.valueOf(k) -> toScala(x) }.toMap
      case s: scala.collection.Seq[_] => s.map(toScala).toList
      case other => other
    }
    val writeP = graft.procedures.ApocProcs.writeRegistry.get(name)
    val readP = graft.procedures.Procedures.registry.get(name)
    require(
      writeP.isDefined || readP.isDefined, s"unknown procedure: $name")
    var yields1: Seq[(String, String)] =
      yieldsRaw.map { case (n, a) => (n, a.getOrElse(n)) }
    if (collected.isEmpty) {
      // zero input rows → zero dispatches → zero output rows (yield
      // column types are unknowable without a dispatch: string nulls)
      require(
        yields1.nonEmpty,
        s"$name: YIELD * needs at least one input row to infer columns")
      val zero = yields1.foldLeft(lf.df.filter(lit(false)))((d, y) =>
        d.withColumn(s"${y._2}${Frames.Sep}_val", lit(null).cast("string")))
      return LF(
        zero,
        yields1.foldLeft(lf.scope)((sc, y) => sc + (y._2 -> Binding.ValueB)))
    }
    val outerSchema = lf.df.schema
    val pieces = collected.toSeq.map { row =>
      val cargs =
        args.indices.map(i => toScala(row.get(outerCols.length + i)))
      val out = writeP match {
        case Some(wp) =>
          val (ng, df) =
            wp(graft.procedures.ProcContext(spark, state, cargs))
          state = ng
          df
        case None =>
          readP.get(graft.procedures.ProcContext(spark, state, cargs))
      }
      if (yields1.isEmpty) yields1 = out.columns.toSeq.map(c => (c, c))
      val missing = yields1.map(_._1).filterNot(out.columns.contains)
      require(missing.isEmpty, s"procedure $name does not yield: $missing")
      val selected = out.select(
        yields1.map { case (n, a) => col(n).as(s"$a${Frames.Sep}_val") }: _*)
      if (outerCols.isEmpty) selected
      else {
        val one = spark.createDataFrame(
          java.util.Arrays.asList(
            org.apache.spark.sql.Row.fromSeq(
              row.toSeq.take(outerCols.length))),
          outerSchema)
        one.crossJoin(selected)
      }
    }
    val lf2 = LF(
      pieces.reduce(_.unionByName(_)),
      yields1.foldLeft(lf.scope)((sc, y) => sc + (y._2 -> Binding.ValueB)))
    callWhere
      .map(w => LF(lf2.df.filter(lowering(lf2).lower(w)), lf2.scope))
      .getOrElse(lf2)
  }

  /** Pipelined per-row CALL { } for uncorrelated mutating subqueries: the
    * i-th input row's execution sees the writes of rows 0..i-1 — inherently
    * driver-sequenced (the reference's single-node cursor pipeline is too);
    * bounded so a scale misuse fails loudly instead of looping forever. */
  private def planCallSubqueryPerRow(lf: LF, inner: SingleQuery): LF = {
    val hasFrame = lf.df.columns.nonEmpty
    val (outer, n) =
      if (hasFrame) withSeqIdPinned(lf.df, "__cs_row", 0L)
      else (lf.df, 1L)
    require(
      n <= 1000,
      s"mutating CALL subquery over $n input rows — per-row write semantics " +
        "is driver-sequenced; restructure the query for batch execution")
    val returning = inner.clauses.lastOption.exists(_.isInstanceOf[Return])
    val rets = (0L until n).map { i =>
      val sub = new Planner(spark, rebased, params)
      val out = sub.planSingle(inner)
      state = sub.currentState
      subHigh = math.max(subHigh, sub.idHighWater)
      out.withColumn("__cs_row", lit(i))
    }
    if (!returning) return LF(if (hasFrame) outer.drop("__cs_row") else lf.df, lf.scope)
    val retsAll =
      if (rets.nonEmpty) rets
      else {
        // zero input rows: no executions, but the result schema must still
        // resolve — plan a throwaway (its state/effects are discarded)
        val sub = new Planner(spark, rebased, params)
        Seq(sub.planSingle(inner).limit(0).withColumn("__cs_row", lit(0L)))
      }
    val renamed = retsAll
      .map { d =>
        d.select(d.columns.map(c =>
          if (c == "__cs_row") col(c)
          else col(c).as(s"$c${Frames.Sep}_val")): _*)
      }
      .reduce(_ unionByName _)
    val newVars = renamed.columns.filterNot(_ == "__cs_row")
      .map(_.stripSuffix(s"${Frames.Sep}_val"))
    val joined =
      if (hasFrame) outer.join(renamed, Seq("__cs_row")).drop("__cs_row")
      else renamed.drop("__cs_row")
    LF(
      joined,
      newVars.foldLeft(lf.scope)((sc, v) => sc + (v -> Binding.ValueB)))
  }

  /** CALL { [WITH imports] … RETURN items } (+ UNION branches) — the
    * reference's `Apply` (operator.hpp:3061), decorrelated: each branch is
    * planned once from the distinct imported bindings and joined back,
    * instead of being pulled per input row. A body with no trailing RETURN
    * is a UNIT subquery: its writes apply, the outer frame is unchanged. */
  private def planCallSubquery(
      lf: LF,
      branches: Seq[SingleQuery],
      dedup: Boolean,
      carryImports: Boolean = false): LF = {
    // the subquery plans with this planner instance; its variable names may
    // shadow outer ones, so restore the outer hints afterwards (plus hints
    // for the vars the subquery returns)
    val savedHints = frameHints
    val imports: Seq[String] = callImports(branches.head)
    val returning =
      (if (imports.isEmpty) branches.head.clauses
       else branches.head.clauses.tail).lastOption.exists(_.isInstanceOf[Return])
    // reference frontend semantics (semantic checks the planner must
    // reproduce): scoped imports must be distinct, every non-variable
    // RETURN item must be aliased, and no returned name may shadow a
    // variable the OUTER scope already binds — in the reference these are
    // query-compile errors, not silent rebinds.
    if (imports.distinct.size != imports.size)
      throw new IllegalArgumentException(
        s"CALL subquery imports a variable twice: ${imports.mkString(", ")}")
    branches.foreach { sq =>
      (if (imports.isEmpty) sq.clauses else sq.clauses.tail).lastOption match {
        case Some(Return(b)) if !b.star =>
          b.items.foreach { it =>
            val outName = it.as.orElse(it.expr match {
              case Var(nm) => Some(nm)
              case _ => None
            }).getOrElse(throw new IllegalArgumentException(
              "Expression returned from a CALL { } subquery must be " +
                "aliased (use AS)"))
            if (lf.scope.contains(outName))
              throw new IllegalArgumentException(
                s"Variable `$outName` already declared in outer scope")
          }
        case _ => ()
      }
    }
    // `CALL (a, b) { }` scoped imports stay VISIBLE through the body's own
    // WITH projections (memgraph scoped-subquery scoping) — carry them
    def carryClauses(cs: Seq[Clause]): Seq[Clause] =
      if (!carryImports) cs
      else
        cs.map {
          case With(b, w) if !b.star =>
            val produced = b.items.zipWithIndex.map {
              case (ReturnItem(e2, as), i) => as.getOrElse(deriveAlias(e2, i))
            }
            With(
              b.copy(items = b.items ++ imports
                .filterNot(produced.contains)
                .map(n => ReturnItem(Var(n), Some(n)))),
              w)
          case c => c
        }
    if (imports.isEmpty) {
      if (!returning) {
        // unit subquery: effects only; outer bound columns its SETs
        // touched refresh from the new state
        branches.foreach(planSingle)
        frameHints = savedHints
        return refreshSetTargets(lf, branches.flatMap(_.clauses))
      }
      val subDfs = branches.map(planSingle)
      var merged = subDfs
        .map(d =>
          d.select(
            d.columns.map(c => col(c).as(s"$c${Frames.Sep}_val")).toSeq: _*))
        .reduce(_ unionByName _)
      if (dedup) merged = merged.dropDuplicates()
      val df =
        if (lf.df.columns.isEmpty) merged else lf.df.crossJoin(merged)
      frameHints = savedHints // subquery outputs re-enter as values
      refreshSetTargets(
        LF(
          df,
          subDfs.head.columns.foldLeft(lf.scope)((sc, c) =>
            sc + (c -> Binding.ValueB))),
        branches.flatMap(_.clauses))
    } else {
      require(
        imports.forall(lf.scope.contains),
        s"CALL {} imports unbound variables: $imports")
      val seedCols = imports.flatMap(v => Frames.colsOf(lf.df, v))
      val seedScope =
        Scope(lf.scope.vars.filter { case (nm, _) => imports.contains(nm) })
      val seed = LF(lf.df.select(seedCols.map(col): _*).distinct(), seedScope)
      if (!returning) {
        // unit subquery: run each branch for its writes, keep the frame
        branches.foreach(sq =>
          carryClauses(sq.clauses.tail).foldLeft(seed)(planClause))
        frameHints = savedHints
        return refreshSetTargets(lf, branches.flatMap(_.clauses.tail))
      }
      val subPs = branches.map { sq =>
        val rest = sq.clauses.tail
        val retBody = rest.lastOption match {
          case Some(Return(b)) => b
          case _ =>
            throw new IllegalArgumentException(
              "CALL { } UNION branches must all end with RETURN")
        }
        val pre = carryClauses(rest.init).foldLeft(seed)(planClause)
        // project the RETURN items plus the import keys (join-back keys)
        val body2 = retBody.copy(
          items = retBody.items ++ imports.map(v => ReturnItem(Var(v), None)),
          star = false)
        project(pre, body2, None, isReturn = false)
      }
      val subP = LF(
        {
          val u = subPs.map(_.df).reduce(_ unionByName _)
          if (dedup) u.dropDuplicates() else u
        },
        subPs.head.scope)
      val keyCols: Seq[String] = imports.map { v =>
        lf.scope.get(v) match {
          case Some(Binding.NodeB) | Some(Binding.EdgeB) =>
            s"$v${Frames.Sep}${GraphState.IdCol}"
          case _ => s"$v${Frames.Sep}_val"
        }
      }
      val renamed = keyCols.foldLeft(subP.df)((d, c) =>
        d.withColumnRenamed(c, s"__cs_$c"))
      val cleaned = renamed.drop(
        imports.flatMap(v => Frames.colsOf(renamed, v)): _*)
      val cond = keyCols.map(c => col(c) === col(s"__cs_$c")).reduce(_ && _)
      val joined =
        lf.df.join(cleaned, cond).drop(keyCols.map(c => s"__cs_$c"): _*)
      val newVars = subP.scope.vars.filterNot { case (nm, _) =>
        imports.contains(nm)
      }
      frameHints = savedHints ++ frameHints.filter { case (k, _) =>
        newVars.exists(_._1 == k)
      }
      refreshSetTargets(
        LF(joined, newVars.foldLeft(lf.scope)(_ + _)),
        branches.flatMap(_.clauses.tail))
    }
  }

  // ---------------- pattern comprehension (RollUpApply) ----------------

  /** [[rewritePatternComprehensions]] for a single expression. */
  private def rewriteOneExpr(lf: LF, e: Expr): (LF, Expr) = {
    val (lf2, items) = rewritePatternComprehensions(lf, Seq(("__r1", e)))
    (lf2, items.head._2)
  }

  /** Replace every PatternComprehension in `items` with a fresh ValueB
    * variable computed by [[planRollUp]]; returns the extended frame. */
  private def rewritePatternComprehensions(
      lf0: LF,
      items: Seq[(String, Expr)],
      /** Position admits `exists((…))` (a MATCH-WHERE expression tree):
        * the reference forbids the predicate everywhere else — WITH
        * WHERE, RETURN, SET values, CASE branches and reduce bodies all
        * reject it (memgraph_exists.feature). */
      allowExists: Boolean = false): (LF, Seq[(String, Expr)]) = {
    var cur = lf0
    // `bound` = lambda vars of enclosing comprehensions/quantifiers: a
    // pattern comprehension whose pattern references one is correlated
    // PER LIST ELEMENT — not expressible as a frame-level RollUpApply, so
    // raise instead of silently planning it uncorrelated (wrong answer)
    def rw(e: Expr, bound: Set[String], allowEx: Boolean = allowExists): Expr = e match {
      case pc: PatternComprehension =>
        val patVars = pc.pattern.start.variable.toSeq ++
          pc.pattern.hops.flatMap { case (r, nd) =>
            r.variable.toSeq ++ nd.variable.toSeq
          }
        val startLam = pc.pattern.start.variable.filter(bound)
        val tailLam = pc.pattern.hops
          .flatMap { case (r, nd) => r.variable.toSeq ++ nd.variable.toSeq }
          .exists(bound)
        val otherLamRefs = (pc.where.toSeq :+ pc.proj)
          .flatMap(e => varsIn(e))
          .filterNot(patVars.contains(_))
          .exists(bound)
        if (startLam.isDefined && !tailLam && !otherLamRefs) {
          // comprehension whose START is a comprehension/lambda variable
          // (`[x IN nodes(p) | size([(x)-->(:Y) | 1])]`,
          // PatternComprehension.feature): not expressible as one
          // frame-level RollUpApply, so roll it up for EVERY node once
          // (the lambda ranges over arbitrary node values), gather the
          // id→list map into one broadcast row, and substitute a map
          // lookup for the comprehension. Bounded by the node count, not
          // the outer row count — gated because the map lives in one row.
          val maxN = 2000000L
          if (state.totalNodeEstimate > maxN)
            throw new UnsupportedOperationException(
              "pattern comprehension correlated on a comprehension " +
                s"variable over > $maxN nodes (the id-to-list map lives " +
                "in one broadcast row)")
          val x = startLam.get
          val sx = fresh("cs")
          val pc2 = PatternComprehension(
            pc.pattern.copy(
              start = pc.pattern.start.copy(variable = Some(sx))),
            pc.where.map(substVars(_, Map(x -> sx))),
            substVars(pc.proj, Map(x -> sx)))
          val savedHints = frameHints
          val seed = LF(
            Frames.bind(sx)(state.allNodes),
            Scope.empty + (sx -> Binding.NodeB))
          val vname = fresh("cv")
          val rolled = planRollUp(seed, vname, pc2)
          frameHints = savedHints
          val mname = fresh("cm")
          val mapDf = rolled.df
            .select(
              Frames.id(sx).cast("string").as("__k"),
              col(s"$vname${Frames.Sep}_val").as("__v"))
            .agg(
              map_from_entries(collect_list(struct(col("__k"), col("__v"))))
                .as(s"$mname${Frames.Sep}_val"))
          cur = LF(
            cur.df.crossJoin(broadcast(mapDf)),
            cur.scope + (mname -> Binding.ValueB))
          FnCall(
            "coalesce", distinct = false,
            Seq(
              Subscript(
                Var(mname),
                FnCall(
                  "toString", distinct = false,
                  Seq(FnCall("id", distinct = false, Seq(Var(x)))))),
              ListLit(Nil)))
        } else {
          if (patVars.exists(bound))
            throw new UnsupportedOperationException(
              "pattern comprehension correlated on a comprehension variable")
          // a VARIABLE-LENGTH comprehension over an entity this query part
          // CREATED is rejected (pattern_comprehensions.feature "over a
          // node its own query part creates"): the comprehension scans the
          // pre-write snapshot, which cannot see the new entity
          if (pc.pattern.hops.exists(_._1.varLength.isDefined) &&
            patVars.exists(createdVars))
            throw new UnsupportedOperationException(
              "variable-length pattern comprehension over an entity " +
                "created in the same query part")
          // the reference rejects REUSING an already bound relationship
          // variable inside a comprehension pattern (a relationship appears
          // once per match — rebinding it is a semantic error)
          val reusedRel = pc.pattern.hops.flatMap(_._1.variable)
            .filter(v => cur.scope.get(v).contains(Binding.EdgeB))
          if (reusedRel.nonEmpty)
            throw new IllegalArgumentException(
              s"pattern comprehension cannot reuse the bound relationship " +
                s"variable ${reusedRel.mkString(", ")}")
          val name = fresh("pc")
          cur = planRollUp(cur, name, pc)
          Var(name)
        }
      // exists((…)) in a GENERAL expression position (inside OR / IN /
      // IS NULL / equality / RETURN — memgraph_exists.feature): same
      // RollUpApply as a comprehension, compared size > 0. Top-level
      // WHERE conjuncts keep the cheaper decorrelated semi/anti join
      // (planWhere splits them out before this rewrite runs).
      case PatternPredicate(p, negated, _) =>
        if (!allowEx)
          throw new UnsupportedOperationException(
            "exists(...) / a bare pattern predicate is only allowed " +
              "inside a MATCH ... WHERE expression")
        val patVars = p.start.variable.toSeq ++
          p.hops.flatMap { case (r, nd) =>
            r.variable.toSeq ++ nd.variable.toSeq
          }
        if (patVars.exists(bound))
          throw new UnsupportedOperationException(
            "pattern predicate correlated on a comprehension variable")
        // the RollUpApply rewrite correlates on the START node only — a
        // pattern whose LATER vars are already bound (`WHERE a.id = 0 AND
        // (a)-[:T]->(b:Label) OR (a)-[:T*]->(b:X)`, MatchAcceptance2
        // "Variable length pattern checking labels on endnodes") is
        // planned UNCORRELATED over the graph instead: project the
        // distinct id tuple of its bound variables and left-join the flag
        // back — one distributed equi-join, no per-row subquery.
        val tailBound = p.hops
          .flatMap { case (r, nd) => r.variable.toSeq ++ nd.variable.toSeq }
          .filter(cur.scope.contains)
        if (tailBound.nonEmpty) {
          val boundVs = patVars.filter(cur.scope.contains).distinct
          val savedHints = frameHints
          val (sub, subEdgeVars) =
            planPattern(LF(spark.range(1).toDF().select(), Scope.empty), p)
          val subU = edgeUniqueness(sub, subEdgeVars)
          frameHints = savedHints
          val pairs = subU.df
            .select(boundVs.map(v => Frames.id(v).as(s"__pp$v")): _*)
            .distinct()
          val name = fresh("pe")
          val flagCol = s"$name${Frames.Sep}_val"
          val joined = cur.df
            .join(
              pairs.withColumn(flagCol, lit(true)),
              boundVs
                .map(v => Frames.id(v) === col(s"__pp$v"))
                .reduce(_ && _),
              "left_outer")
            .drop(boundVs.map(v => s"__pp$v"): _*)
          cur = LF(
            joined.withColumn(flagCol, coalesce(col(flagCol), lit(false))),
            cur.scope + (name -> Binding.ValueB))
          if (negated) Not(Var(name)) else Var(name)
        } else {
          val name = fresh("pe")
          cur = planRollUp(cur, name, PatternComprehension(p, None, Lit(1L)))
          val sizeGt =
            BinOp(
              ">", FnCall("size", distinct = false, Seq(Var(name))), Lit(0L))
          if (negated) Not(sizeGt) else sizeGt
        }
      // degree/inDegree/outDegree scalars (builtin registry,
      // awesome_memgraph_functions.cpp:2063-2065): precomputed via one
      // aggregate over the edge set, equi-joined back on the node id.
      case FnCall(fn, _, Seq(Var(n)))
          if Set("degree", "indegree", "outdegree")(fn.toLowerCase) &&
            cur.scope.get(n).contains(Binding.NodeB) =>
        val name = fresh("deg")
        cur = planDegree(cur, name, n, fn.toLowerCase)
        Var(name)
      // degree(null) is null (the reference's optional-vertex overload)
      case FnCall(fn, _, Seq(Lit(null)))
          if Set("degree", "indegree", "outdegree")(fn.toLowerCase) =>
        Lit(null)
      // node.degree_in(n[, type]) / node.degree_out (node_module.cpp:192):
      // directional degree, optionally restricted to one edge type — the
      // typed form aggregates that type's edge frame only (pruned scan)
      case FnCall(fn, _, Var(n) +: rest)
          if Set("node.degree_in", "node.degree_out")(fn.toLowerCase) &&
            cur.scope.get(n).contains(Binding.NodeB) =>
        val dir =
          if (fn.toLowerCase == "node.degree_in") "indegree" else "outdegree"
        val tpe = rest.headOption match {
          case None | Some(Lit("")) | Some(Lit(null)) => None
          case Some(Lit(s: String)) => Some(s)
          case Some(other) => throw new IllegalArgumentException(
            s"$fn: the type argument must be a string literal, got $other")
        }
        val name = fresh("deg")
        cur = tpe match {
          case None => planDegree(cur, name, n, dir)
          case Some(t) => planDegreeTyped(cur, name, n, dir, t)
        }
        Var(name)
      // startNode(r)/endNode(r) of a bound edge: bind the endpoint NODE
      // (id-equi-join on src/dst), so property access and whole-entity
      // projection see the node, not a bare id
      case FnCall(fn, _, Seq(Var(n)))
          if Set("startnode", "endnode")(fn.toLowerCase) &&
            cur.scope.get(n).contains(Binding.EdgeB) &&
            !bound(n) &&
            // virtual edges (derive()) EMBED their endpoint node values —
            // Functions resolves those; only real edges join the node set
            !cur.df.columns.contains(
              s"$n${Frames.Sep}_startNode") =>
        val name = fresh("ep")
        cur = planEndpointNode(cur, name, n, fn.toLowerCase == "startnode")
        Var(name)
      case Prop(x, k) => Prop(rw(x, bound), k)
      case MapProjection(v, items) =>
        MapProjection(v, items.map {
          case ProjKV(k, x) => ProjKV(k, rw(x, bound))
          case o => o
        })
      case BinOp(o, a, b) => BinOp(o, rw(a, bound), rw(b, bound))
      case Not(x) => Not(rw(x, bound))
      case Neg(x) => Neg(rw(x, bound))
      case IsNull(x, n) => IsNull(rw(x, bound), n)
      case FnCall(n, d, as) => FnCall(n, d, as.map(rw(_, bound)))
      case CaseExpr(s, ws, d) =>
        // the reference forbids exists() inside CASE branches
        CaseExpr(
          s.map(rw(_, bound, allowEx = false)),
          ws.map { case (a, b) =>
            (rw(a, bound, allowEx = false), rw(b, bound, allowEx = false))
          },
          d.map(rw(_, bound, allowEx = false)))
      case Subscript(a, b) => Subscript(rw(a, bound), rw(b, bound))
      case Slice(a, b, c) =>
        Slice(rw(a, bound), b.map(rw(_, bound)), c.map(rw(_, bound)))
      case ListLit(is) => ListLit(is.map(rw(_, bound)))
      case MapLit(is) => MapLit(is.map { case (k, v) => (k, rw(v, bound)) })
      case Reduce(acc, i, v, l, st) =>
        // the reference forbids exists() inside reduce
        Reduce(
          acc, rw(i, bound, allowEx = false), v,
          rw(l, bound, allowEx = false),
          rw(st, bound + acc + v, allowEx = false))
      case ListComprehension(v, l, w, p) =>
        ListComprehension(
          v, rw(l, bound), w.map(rw(_, bound + v)), p.map(rw(_, bound + v)))
      case Quantifier(k, v, l, p) =>
        Quantifier(k, v, rw(l, bound), rw(p, bound + v))
      case HasLabel(x, l) => HasLabel(rw(x, bound), l)
      case DeletedGuard(inner, vs) => DeletedGuard(rw(inner, bound), vs)
      case other => other
    }
    val newItems = items.map { case (a, e) => (a, rw(e, Set.empty)) }
    (cur, newItems)
  }

  /** Memoized (node → out, in) degree frame: ONE aggregation of allEdges
    * per statement and graph version. A statement like
    * `WHERE degree(n) > k RETURN degree(n), inDegree(n), outDegree(n)`
    * used to rebuild the full-edge union + groupBy once per call site
    * (4× here); now every call site joins the same eagerly-checkpointed
    * frame. Single pass: each edge contributes (src, out=1, in=0) and
    * (dst, out=0, in=1) rows, then one shuffle sums both counts. */
  private var degreeCache: Option[(GraphState, DataFrame)] = None
  private def degreeFrame: DataFrame = degreeCache match {
    case Some((s, df)) if s eq state => df
    case _ =>
      val df = state.allEdges
        .select(explode(array(
          struct(
            col(GraphState.SrcCol).as("__dn"),
            lit(1L).as("__do"), lit(0L).as("__di")),
          struct(
            col(GraphState.DstCol).as("__dn"),
            lit(0L).as("__do"), lit(1L).as("__di")))).as("__d"))
        .select(col("__d.__dn").as("__dn"),
          col("__d.__do").as("__do"), col("__d.__di").as("__di"))
        .groupBy("__dn")
        .agg(sum("__do").as("__dout"), sum("__di").as("__din"))
        .transform(Scratch.cp)
      degreeCache = Some((state, df))
      df
  }

  /** startNode(e)/endNode(e) (awesome_memgraph_functions.cpp:2066): bind
    * the edge's endpoint node under `name` by an id-equi-join on the
    * src/dst column. Left join: an unbound edge (OPTIONAL miss) yields a
    * NULL node. */
  private def planEndpointNode(
      lf: LF,
      name: String,
      e: String,
      start: Boolean): LF = {
    val endId = if (start) Frames.src(e) else Frames.dst(e)
    val bound = Frames.bind(name)(state.allNodes)
    val joined = lf.df.join(bound, endId === Frames.id(name), "left_outer")
    LF(joined, lf.scope + (name -> Binding.NodeB))
  }

  /** degree(n) = in+out over ALL edge types (reference counts the full
    * incidence list, vertex.hpp in_edges/out_edges). Left join keeps
    * isolated nodes at 0. */
  private def planDegree(lf: LF, name: String, v: String, fn: String): LF = {
    val idc = s"$v${Frames.Sep}${GraphState.IdCol}"
    val dcol = fn match {
      case "outdegree" => col("__dout")
      case "indegree" => col("__din")
      case _ => col("__dout") + col("__din")
    }
    val outCol = s"$name${Frames.Sep}_val"
    val joined = lf.df
      .join(degreeFrame, col(idc) === col("__dn"), "left_outer")
      .withColumn(outCol, coalesce(dcol, lit(0L)))
      .drop("__dn", "__dout", "__din")
    LF(joined, lf.scope + (name -> Binding.ValueB))
  }

  /** [[planDegree]] restricted to ONE edge type: aggregates that type's
    * edge frame only (node.degree_in/out's type argument — a pruned scan
    * instead of the all-types memo). */
  private def planDegreeTyped(
      lf: LF, name: String, v: String, fn: String, tpe: String): LF = {
    val idc = s"$v${Frames.Sep}${GraphState.IdCol}"
    val keyCol =
      if (fn == "outdegree") GraphState.SrcCol else GraphState.DstCol
    val degDf = state.edgesOfTypes(Seq(tpe))
      .groupBy(col(keyCol).as("__tdn"))
      .agg(count(lit(1)).as("__td"))
    val outCol = s"$name${Frames.Sep}_val"
    val joined = lf.df
      .join(degDf, col(idc) === col("__tdn"), "left_outer")
      .withColumn(outCol, coalesce(col("__td"), lit(0L)))
      .drop("__tdn", "__td")
    LF(joined, lf.scope + (name -> Binding.ValueB))
  }

  /** Comprehension projection column: path/edge-list values materialize
    * their entity arrays first (the projection of `[p = (a)-->(b) | p]`
    * is the PATH value, not its length). */
  private def rollUpProj(sub0: LF, proj: Expr): (LF, Column) = {
    var sub = sub0
    varsIn(proj, skipLengthOnly = true).foreach { n =>
      sub.scope.get(n) match {
        case Some(Binding.PathB) => sub = materializePathEntities(sub, n)
        case Some(Binding.EdgeListB) =>
          sub = materializeEdgeListEntities(sub, n)
        case _ => ()
      }
    }
    val low = new ExprLowering(sub.df, sub.scope, params, enums = state.enums)
    val c = proj match {
      case Var(n)
          if sub.scope.get(n).contains(Binding.PathB) &&
            sub.df.columns.contains(s"$n${Frames.Sep}_nodestructs") =>
        struct(
          col(s"$n${Frames.Sep}_nodestructs").as("nodes"),
          col(s"$n${Frames.Sep}_edgestructs").as("edges"))
      case Var(n)
          if sub.scope.get(n).contains(Binding.EdgeListB) &&
            sub.df.columns.contains(s"$n${Frames.Sep}_structs") =>
        col(s"$n${Frames.Sep}_structs")
      case e => low.lower(e)
    }
    (sub, c)
  }

  /** RollUpApply (operator.hpp:3185): plan the comprehension's pattern from
    * the distinct shared bindings, collect the projection per binding, and
    * left-join the list back (no match → empty list, per Cypher).
    * Correlation runs through the pattern's bound variables AND any frame
    * variable its WHERE/projection references (a FOREACH loop var, a WITH
    * alias); nested comprehensions in the projection recurse through the
    * same rewrite against the sub-frame. */
  private def planRollUp(lf: LF, name: String, pc: PatternComprehension): LF = {
    val patVars = pc.pattern.start.variable.toSeq ++
      pc.pattern.hops.flatMap { case (r, n) =>
        r.variable.toSeq ++ n.variable.toSeq
      }
    // local (shadowing) names: the pattern's own vars + its path var
    val localVars = patVars.toSet ++ pc.pattern.pathVar
    val exprShared = (pc.where.toSeq :+ pc.proj)
      .flatMap(e => varsIn(e))
      .filterNot(localVars)
    val shared =
      (patVars ++ exprShared).distinct.filter(lf.scope.contains)
    val outCol = s"$name${Frames.Sep}_val"
    if (shared.isEmpty) {
      // UNCORRELATED comprehension: one list over the whole pattern match,
      // cross-joined in (a single row either way — empty match gives [])
      var (sub, subEdges) = planPattern(initial, pc.pattern)
      sub = edgeUniqueness(sub, subEdges)
      pc.where.foreach { w => sub = planWhere(sub, w) }
      val (sub2, projItems) =
        rewritePatternComprehensions(sub, Seq(("__rp", pc.proj)))
      sub = sub2
      val (sub3, projCol) = rollUpProj(sub, projItems.head._2)
      sub = sub3
      val listDf = sub.df.agg(collect_list(projCol).as(outCol))
      val df =
        if (lf.df.columns.isEmpty) listDf else lf.df.crossJoin(listDf)
      return LF(df, lf.scope + (name -> Binding.ValueB))
    }
    val seedCols = shared.flatMap(v => Frames.colsOf(lf.df, v))
    val seedScope =
      Scope(lf.scope.vars.filter { case (nm, _) => shared.contains(nm) })
    // entity vars dedupe on id alone (thin shuffle key; variant-typed
    // payload columns are not hashable in set operations)
    val seedKeys = shared.flatMap { v =>
      lf.scope.get(v) match {
        case Some(Binding.NodeB) | Some(Binding.EdgeB) =>
          Seq(s"$v${Frames.Sep}${GraphState.IdCol}")
        case _ => Frames.colsOf(lf.df, v)
      }
    }
    val seed0 =
      lf.df.select(seedCols.map(col): _*).dropDuplicates(seedKeys)
    // A comprehension that PROJECTS its named path (`[p = (a)-->(b) |
    // size(nodes(p))]`) builds array-of-entity-struct columns over the
    // seed's attributes. The optimizer rewrites the seed's Deduplicate
    // into Aggregate(first(...)) — flipping those attributes' nullability
    // mid-optimization — and Spark's UpdateAttributeNullability pass then
    // invalidates the already-resolved struct casts ("the plan was
    // previously resolved and now became unresolved",
    // list_operations.feature "Function inside pattern comprehension's
    // expression"). Cutting the seed's lineage here (an RDD-backed frame
    // has FIXED attribute nullability) removes the flip; the dedup
    // shuffle was being paid anyway, so the only extra cost is caching
    // the (narrow) seed — charged only to the rare path-projecting shape.
    val pathProjected = pc.pattern.pathVar.exists(pv =>
      (pc.where.toSeq :+ pc.proj).exists(e => varsIn(e).contains(pv)))
    val seed = LF(
      if (pathProjected) Scratch.cp(seed0) else seed0,
      seedScope)
    var (sub, subEdges) = planPattern(seed, pc.pattern)
    sub = edgeUniqueness(sub, subEdges)
    pc.where.foreach { w => sub = planWhere(sub, w) }
    val (sub2, projItems) =
      rewritePatternComprehensions(sub, Seq(("__rp", pc.proj)))
    sub = sub2
    val (sub3, projCol) = rollUpProj(sub, projItems.head._2)
    sub = sub3
    val keyCols = shared.map(v => varKeyCol(seed.df, v))
    val grouped = sub.df
      .groupBy(keyCols.map(col): _*)
      .agg(collect_list(projCol).as(outCol))
    val renamed = keyCols.foldLeft(grouped)((d, c) =>
      d.withColumnRenamed(c, s"__rc_$c"))
    // null-safe equality: a NULL-valued correlation key (value vars) still
    // joins its list back
    val cond = keyCols.map(c => col(c) <=> col(s"__rc_$c")).reduce(_ && _)
    var joined = lf.df
      .join(renamed, cond, "left_outer")
      .drop(keyCols.map(c => s"__rc_$c"): _*)
    val t = joined.schema(outCol).dataType
    joined = joined.withColumn(
      outCol,
      when(col(outCol).isNotNull, col(outCol))
        .otherwise(array().cast(t)))
    LF(joined, lf.scope + (name -> Binding.ValueB))
  }

  // ---------------- mutations (SURVEY.md §2.6) ----------------

  import graft.operators.Mutations

  /** Base frame for standalone (frame-less) mutation clauses. */
  private def oneRow(lf: LF): DataFrame =
    if (lf.df.columns.isEmpty) spark.range(1).toDF() else lf.df

  /** CREATE (v:L {props}) — one node per input row — or
    * CREATE (a)-[:T {props}]->(b) with bound endpoints — one edge per row.
    * Created frames are localCheckpoint-ed: ids are assigned exactly once,
    * and the new state version is materialized (Accumulate barrier). */
  private def planCreate(
      lf: LF,
      part: PatternPart,
      oneRow: Boolean = false): LF = {
    // General CREATE pattern: each node is bound-or-created (fresh nodes
    // get one id per input row and are BOUND into the frame, so
    // CREATE ... RETURN works standalone and correlated), then one edge
    // per hop — multi-hop chains like CREATE (a)-[:X]->(b)-[:Y]->(c)
    // compose `CreateNode` (operator.hpp:411) + `CreateExpand` (:494).
    // Unlabeled nodes store under the internal "_" frame with an empty
    // label array — visible to unlabeled MATCH, invisible to label scans.
    def ensureNode(cur: LF, n: NodePattern): (LF, String) = {
      val name = n.variable.getOrElse(fresh("cn"))
      if (n.variable.exists(cur.scope.contains)) {
        // reference frontend: reusing a bound variable in CREATE must be
        // a BARE `(n)` — any label or property map (even `{}`) is a
        // compile error, not a silent no-op (LabelsAcceptance TCK)
        if (n.labels.nonEmpty || n.orLabels.nonEmpty || n.hasPropsToken)
          throw new IllegalArgumentException(
            s"CREATE cannot add labels or properties to the already " +
              s"bound variable `$name`")
        (cur, name)
      }
      else {
        // `CREATE (n:A|B)` — a label ALTERNATION cannot create (which
        // label would the node get?); the reference rejects it
        if (n.orLabels.nonEmpty)
          throw new IllegalArgumentException(
            "Label alternation (|) is not allowed in CREATE")
        val base0 =
          if (cur.df.columns.isEmpty) spark.range(1).toDF().select()
          else cur.df
        // pattern comprehensions in CREATE properties evaluate against the
        // pre-create state (reference CreateNode pulls operand exprs first)
        val (baseLf, propItems) = rewritePatternComprehensions(
          LF(base0, cur.scope), n.props)
        val base = baseLf.df
        val low = new ExprLowering(
          base, baseLf.scope, params, enums = state.enums)
        val hasDyn = n.labels.exists(isDynLabel)
        // a dynamic label evaluates to one label or to a list of them
        // (`create.node(r.labels, …)`)
        val labelsArr =
          if (n.labels.isEmpty) array().cast("array<string>")
          else if (!hasDyn) array(n.labels.map(lit): _*)
          else
            concat(n.labels.map { l =>
              if (!isDynLabel(l)) array(lit(l))
              else {
                val c = low.lower(dynLabelExpr(l))
                low.typeOf(c) match {
                  case Some(_: org.apache.spark.sql.types.ArrayType) =>
                    c.cast("array<string>")
                  case _ => array(c.cast("string"))
                }
              }
            }: _*)
        var withNew = base
          .withColumn(s"$name${Frames.Sep}${GraphState.LabelsCol}", labelsArr)
        propItems.foreach { case (k, e) =>
          withNew = withNew.withColumn(s"$name${Frames.Sep}$k", low.lower(e))
        }
        if (oneRow) {
          // literal single-row chain: the id is a constant — no
          // zipWithIndex, no checkpoint, no count job
          withNew = withNew.withColumn(
            s"$name${Frames.Sep}${GraphState.IdCol}",
            lit((myBase << 48) + nodeCursor))
          nodeCursor += 1
        } else {
          val (minted, n) = withSeqIdPinned(
            withNew,
            s"$name${Frames.Sep}${GraphState.IdCol}",
            (myBase << 48) + nodeCursor)
          withNew = minted // ids assigned exactly once
          nodeCursor += n
        }
        val rows = withNew.select(
          col(s"$name${Frames.Sep}${GraphState.IdCol}")
            .as(GraphState.IdCol) +:
            col(s"$name${Frames.Sep}${GraphState.LabelsCol}")
              .as(GraphState.LabelsCol) +:
            n.props.map { case (k, _) =>
              col(s"$name${Frames.Sep}$k").as(k)
            }: _*)
        // multi-label create: the row goes into EVERY label frame (frames
        // are the label index; scans re-filter on _labels, allNodes dedups)
        if (hasDyn) {
          // per-row DYNAMIC labels (with.feature 17-24): rows group by
          // their evaluated label array, one frame append per distinct
          // set — bounded driver loop, the reference evaluates per row
          val rcp = Scratch.cp(rows)
          val distinctArrs = rcp
            .select(col(GraphState.LabelsCol)).distinct().limit(65).collect()
          require(
            distinctArrs.length <= 64,
            "dynamic CREATE labels: more than 64 distinct label sets")
          var all = Set.empty[String]
          distinctArrs.foreach { r =>
            require(
              !r.isNullAt(0) && r.getSeq[String](0).forall(_ != null),
              "dynamic label evaluated to NULL")
            val arr = r.getSeq[String](0)
            val subset = rcp.filter(
              if (arr.isEmpty) size(col(GraphState.LabelsCol)) === 0
              else
                col(GraphState.LabelsCol) === array(arr.map(lit): _*))
            val targets = if (arr.isEmpty) Seq("_") else arr
            targets.foreach(l =>
              state = Mutations.createNodes(state, l, subset))
            if (targets.size > 1) state = state.withOverlap
            all ++= targets
          }
          setHint(name, Some(all))
        } else {
          val targets = if (n.labels.isEmpty) Seq("_") else n.labels
          targets.foreach(l => state = Mutations.createNodes(state, l, rows))
          if (targets.size > 1) state = state.withOverlap
          setHint(name, Some(targets.toSet))
        }
        (LF(withNew, cur.scope + (name -> Binding.NodeB)), name)
      }
    }
    def mkEdge(
        cur: LF, rel: RelPattern, aName: String, bName: String): (LF, String) = {
      require(rel.types.size == 1, "CREATE edge requires exactly one type")
      require(rel.varLength.isEmpty, "CREATE edge cannot be var-length")
      require(
        rel.direction != BothDir,
        "CREATE edge needs a direction")
      val tpe = rel.types.head
      val dynT = isDynLabel(tpe)
      val (src, dst) =
        if (rel.direction == InDir) (Frames.id(bName), Frames.id(aName))
        else (Frames.id(aName), Frames.id(bName))
      val eName = rel.variable.getOrElse(fresh("ce"))
      val (curLf, propItems) =
        rewritePatternComprehensions(cur, rel.props)
      val low = new ExprLowering(
        curLf.df, curLf.scope, params, enums = state.enums)
      // dynamic edge type (`-[:node.name]->`, with.feature 23-24):
      // evaluated per row, rows grouped by type value below
      val tpeCol =
        if (dynT) low.lower(dynLabelExpr(tpe)).cast("string") else lit(tpe)
      var withE = curLf.df
        .withColumn(s"$eName${Frames.Sep}${GraphState.SrcCol}", src)
        .withColumn(s"$eName${Frames.Sep}${GraphState.DstCol}", dst)
        .withColumn(s"$eName${Frames.Sep}${GraphState.TypeCol}", tpeCol)
      propItems.foreach { case (k, e) =>
        withE = withE.withColumn(s"$eName${Frames.Sep}$k", low.lower(e))
      }
      if (oneRow) {
        withE = withE.withColumn(
          s"$eName${Frames.Sep}${GraphState.IdCol}",
          lit((myBase << 48) + (1L << 47) + edgeCursor))
        edgeCursor += 1
      } else {
        val (minted, n) = withSeqIdPinned(
          withE,
          s"$eName${Frames.Sep}${GraphState.IdCol}",
          (myBase << 48) + (1L << 47) + edgeCursor)
        withE = minted
        edgeCursor += n
      }
      val rows = withE.select(
        col(s"$eName${Frames.Sep}${GraphState.IdCol}").as(GraphState.IdCol) +:
          col(s"$eName${Frames.Sep}${GraphState.SrcCol}")
            .as(GraphState.SrcCol) +:
          col(s"$eName${Frames.Sep}${GraphState.DstCol}")
            .as(GraphState.DstCol) +:
          col(s"$eName${Frames.Sep}${GraphState.TypeCol}")
            .as(GraphState.TypeCol) +:
          rel.props.map { case (k, _) =>
            col(s"$eName${Frames.Sep}$k").as(k)
          }: _*)
      if (dynT) {
        val rcp = Scratch.cp(rows)
        val distinctTs = rcp
          .select(col(GraphState.TypeCol)).distinct().limit(65).collect()
        require(
          distinctTs.length <= 64,
          "dynamic CREATE edge type: more than 64 distinct types")
        val ts = distinctTs.map(_.getString(0))
        require(ts.forall(_ != null), "dynamic edge type evaluated to NULL")
        ts.foreach { t =>
          state = Mutations.createEdges(
            state, t, rcp.filter(col(GraphState.TypeCol) === t))
        }
        setHint(eName, Some(ts.toSet))
      } else {
        state = Mutations.createEdges(state, tpe, rows)
        setHint(eName, Some(Set(tpe)))
      }
      (LF(withE, cur.scope + (eName -> Binding.EdgeB)), eName)
    }
    val (lf1, startName) = ensureNode(lf, part.start)
    var cur = lf1
    var prev = startName
    var nodeSeq = Vector(startName)
    var edgeSeq = Vector.empty[String]
    part.hops.foreach { case (rel, node) =>
      val (lf2, name) = ensureNode(cur, node)
      val (lf3, eName) = mkEdge(lf2, rel, prev, name)
      cur = lf3
      nodeSeq :+= name
      edgeSeq :+= eName
      prev = name
    }
    // ConstructNamedPath over a CREATE pattern (`CREATE p0=()-[:T0]->()`):
    // the reference binds the path symbol exactly as a MATCH pattern does
    // (operator.hpp:1255 runs above CreateExpand too) — later clauses may
    // read size(p0)/nodes(p0)
    part.pathVar.foreach { pv =>
      var df = cur.df
        .withColumn(
          s"$pv${Frames.Sep}_nodes", array(nodeSeq.map(Frames.id): _*))
        .withColumn(
          s"$pv${Frames.Sep}_edges",
          if (edgeSeq.isEmpty) array().cast("array<long>")
          else array(edgeSeq.map(Frames.id): _*))
        .withColumn(
          s"$pv${Frames.Sep}_len",
          size(col(s"$pv${Frames.Sep}_edges")).cast("long"))
      scala.util.Try {
        df = df.withColumn(
          s"$pv${Frames.Sep}_nodestructs", entityArray(cur.df, nodeSeq))
        df = df.withColumn(
          s"$pv${Frames.Sep}_edgestructs",
          if (edgeSeq.nonEmpty) entityArray(cur.df, edgeSeq)
          else
            array().cast(
              "array<struct<_id:bigint,_src:bigint,_dst:bigint,_type:string>>"))
        df.schema
      }.recover { case _ =>
        df = df.drop(
          s"$pv${Frames.Sep}_nodestructs", s"$pv${Frames.Sep}_edgestructs")
      }
      scala.util.Try {
        df = df.withColumn(
          s"$pv${Frames.Sep}_endpoints",
          entityArray(cur.df, Seq(nodeSeq.head, nodeSeq.last)))
        df.schema
      }.recover { case _ =>
        df = df.drop(s"$pv${Frames.Sep}_endpoints")
      }
      cur = LF(df, cur.scope + (pv -> Binding.PathB))
    }
    cur
  }

  /** SET through a container VALUE holding an entity (`WITH {vertex: n} AS
    * map SET map.vertex.id = 1`): the reference's TypedValue map holds live
    * accessors, so the write lands on the vertex itself
    * (nested_property_update.feature "Vertex inside map base property
    * update"). Resolves the shortest path prefix that is an entity struct
    * inside the value; the remainder is that entity's property path —
    * mutates the store AND patches the in-frame value. */
  private def setThroughValue(
      cur: LF,
      v: String,
      path: Seq[String],
      value: Column): LF = {
    import org.apache.spark.sql.types.{DataType, MapType, StructType}
    val valCol = s"$v${Frames.Sep}_val"
    if (!cur.df.columns.contains(valCol))
      throw new UnsupportedOperationException(s"SET on unbound $v")
    def fieldType(t: DataType, k: String): Option[DataType] = t match {
      case s: StructType => s.fields.find(_.name == k).map(_.dataType)
      case _ => None
    }
    def isEntity(t: DataType): Boolean = t match {
      case s: StructType => s.fieldNames.contains(GraphState.IdCol)
      case _ => false
    }
    var j = 0
    var t: Option[DataType] = Some(cur.df.schema(valCol).dataType)
    while (j < path.size && t.isDefined && !t.exists(isEntity)) {
      t = t.flatMap(fieldType(_, path(j))); j += 1
    }
    if (!t.exists(isEntity) || j >= path.size)
      throw new UnsupportedOperationException(
        s"SET $v.${path.mkString(".")}: no entity inside the value at " +
          "this path")
    val entT = t.get.asInstanceOf[StructType]
    val remaining = path.drop(j)
    val entCol = path.take(j).foldLeft(col(valCol))(_.getField(_))
    val base = cur.df
      .select(
        entCol.getField(GraphState.IdCol).as(GraphState.IdCol),
        value.as("__nv"))
      .filter(col(GraphState.IdCol).isNotNull)
    val aggFn = base.schema("__nv").dataType match {
      case _: MapType => first(col("__nv"))
      case _ => max(col("__nv"))
    }
    val updates = base.groupBy(GraphState.IdCol).agg(aggFn.as("__nv"))
    val isEdge = entT.fieldNames.contains(GraphState.SrcCol) ||
      entT.fieldNames.contains(GraphState.TypeCol)
    if (remaining.size == 1) {
      if (isEdge)
        state = Mutations.setEdgePropertyByIds(
          state, updates, remaining.head, None)
      else
        state = Mutations.setPropertyByIds(
          state, updates, remaining.head, None)
    } else {
      if (isEdge)
        state = Mutations.setEdgeNestedPropertyByIds(
          state, updates.withColumn("__hit", lit(1)),
          remaining.head, remaining.tail, None)
      else
        state = Mutations.setNestedPropertyByIds(
          state, updates.withColumn("__hit", lit(1)),
          remaining.head, remaining.tail, None)
    }
    LF(
      cur.df.withColumn(
        valCol, col(valCol).withField(path.mkString("."), value)),
      cur.scope)
  }

  /** One (_id, __nv) row per updated entity — max() picks a deterministic
    * value when the match yields multiple rows per id; unorderable value
    * types (maps) fall back to first(). */
  private def dedupUpdates(
      lf: LF,
      low: ExprLowering,
      v: String,
      value: org.apache.spark.sql.Column): DataFrame = {
    val base = lf.df.select(
      Frames.id(v).as(GraphState.IdCol),
      value.as("__nv"))
    val agg = base.schema("__nv").dataType match {
      case _: org.apache.spark.sql.types.MapType => first(col("__nv"))
      case _ => max(col("__nv"))
    }
    base.groupBy(GraphState.IdCol).agg(agg.as("__nv"))
  }

  /** SET/REMOVE label items with optional DYNAMIC members (`SET
    * n:node.name:Static`, with.feature 18-21): static labels update in one
    * batch; each dynamic label expression evaluates per row and rows group
    * by value — bounded driver loop over the distinct values. */
  private def planLabelsUpdate(
      cur: LF, v: String, labels: Seq[String], add: Boolean): LF = {
    val (dyn, static) = labels.partition(isDynLabel)
    if (static.nonEmpty)
      state = Mutations.updateLabelsByIds(
        state,
        cur.df.select(Frames.id(v)).distinct(),
        static,
        add,
        only = nodeHint(v))
    val low = lowering(cur)
    if (dyn.nonEmpty) {
      val pairs = dyn
        .map(d =>
          cur.df.select(
            Frames.id(v),
            low.lower(dynLabelExpr(d)).cast("string").as("__dl")))
        .reduce(_ unionByName _)
        .filter(col("__dl").isNotNull)
        .distinct()
        .transform(Scratch.cp)
      val distinctLs = pairs
        .select(col("__dl")).distinct().limit(65).collect().map(_.getString(0))
      require(
        distinctLs.length <= 64,
        "dynamic SET/REMOVE labels: more than 64 distinct values")
      distinctLs.foreach { l =>
        state = Mutations.updateLabelsByIds(
          state,
          pairs.filter(col("__dl") === l).drop("__dl"),
          Seq(l),
          add,
          only = if (add) nodeHint(v) else None)
      }
    }
    val lcol = s"$v${Frames.Sep}${GraphState.LabelsCol}"
    if (cur.df.columns.contains(lcol)) {
      val labelCols = labels.map(l =>
        if (isDynLabel(l)) low.lower(dynLabelExpr(l)).cast("string")
        else lit(l))
      LF(
        cur.df.withColumn(
          lcol,
          if (add) array_union(col(lcol), array(labelCols: _*))
          else array_except(col(lcol), array(labelCols: _*))),
        cur.scope)
    } else cur
  }

  /** Plans SET items against the state AND reflects the writes into the
    * current frame's bound columns, so a RETURN later in the same statement
    * sees them — the reference's Accumulate visibility (operator.hpp:1870).
    */
  private def planSet(lf: LF, items: Seq[SetItem]): LF = {
    // write to a DELETEd variable: raises under PERIODIC COMMIT (the
    // per-batch commit made the delete visible); silent no-op in the
    // same-transaction form — both per delete.feature/periodic_delete
    val live = items.filter { it =>
      val v = it match {
        case SetProp(v0, _, _) => v0
        case SetLabelsItem(v0, _) => v0
        case SetAllProps(v0, _, _) => v0
        case SetNestedProp(v0, _, _, _) => v0
      }
      if (deletedVars.contains(v) && periodicMode)
        throw new IllegalStateException(
          s"Trying to set properties on a deleted object (variable `$v`).")
      !deletedVars.contains(v)
    }
    planSetItems(lf, live)
  }

  private def planSetItems(lf: LF, items: Seq[SetItem]): LF = items.foldLeft(lf) {
    case (cur0, SetProp(v, key, e0)) =>
      // pattern comprehensions / degree calls in SET values go through the
      // same frame rewrite as WITH/RETURN items (evaluated against the
      // pre-SET state, reference Merge/SetProperty operand order)
      val (cur, e) = rewriteOneExpr(cur0, e0)
      val low = lowering(cur)
      val value = low.lower(e)
      cur.scope.get(v) match {
        case Some(Binding.NodeB) =>
          state = Mutations.setPropertyByIds(
            state, dedupUpdates(cur, low, v, value), key, nodeHint(v))
        case Some(Binding.EdgeB) =>
          state = Mutations.setEdgePropertyByIds(
            state, dedupUpdates(cur, low, v, value), key, edgeHint(v))
        case other =>
          throw new UnsupportedOperationException(s"SET on $other binding")
      }
      LF(cur.df.withColumn(s"$v${Frames.Sep}$key", value), cur.scope)
    // SetNestedProperty (operator.hpp:1490): SET n.p.k1…kn = v, and the
    // `+=` merge form (SET n.p += {…} — existing keys kept, new keys
    // appended, colliding keys overwritten; a missing/null existing map
    // takes the new value whole).
    case (cur0, SetNestedProp(v, path, e0, mergeV)) =>
      val (cur, e) = rewriteOneExpr(cur0, e0)
      val low = lowering(cur)
      val newV = low.lower(e)
      val value =
        if (!mergeV) newV
        else {
          val existing = low.lower(
            path.foldLeft(Var(v): Expr)((acc, k) => Prop(acc, k)))
          (low.typeOf(existing), low.typeOf(newV)) match {
            case (Some(s1: org.apache.spark.sql.types.StructType),
                  Some(s2: org.apache.spark.sql.types.StructType)) =>
              // record-typed maps merge field-wise; a null existing record
              // contributes all-null kept fields (≡ absent in the value
              // model, so the result reads as the new map alone)
              val keep =
                s1.fieldNames.filterNot(s2.fieldNames.contains).toSeq
              struct(
                keep.map(f => existing.getField(f).as(f)) ++
                  s2.fieldNames.toSeq.map(f => newV.getField(f).as(f)): _*)
            case (Some(_: org.apache.spark.sql.types.MapType), _) =>
              when(existing.isNull, newV).otherwise(
                map_concat(
                  map_filter(
                    existing, (k, _) => !map_contains_key(newV, k)),
                  newV))
            case (et, nt) =>
              // `+=` is a map merge — a primitive on either side is the
              // reference's runtime type error, not an overwrite
              def prim(t: Option[org.apache.spark.sql.types.DataType]) =
                t.exists {
                  case _: org.apache.spark.sql.types.NumericType |
                      org.apache.spark.sql.types.StringType |
                      org.apache.spark.sql.types.BooleanType => true
                  case _ => false
                }
              if (prim(et) || prim(nt))
                throw new IllegalArgumentException(
                  s"SET $v.${path.mkString(".")} += expects map values")
              newV
          }
        }
      // SET through a container VALUE holding an entity (`WITH {vertex: n}
      // AS map SET map.vertex.id = 1`): the reference's TypedValue map
      // holds live accessors, so the write lands on the vertex itself
      // (nested_property_update.feature "Vertex inside map base property
      // update"). Resolve the shortest path prefix that is an entity
      // struct inside the value; the remainder is that entity's property
      // path — mutate the store AND patch the in-frame value.
      if (cur.scope.get(v).contains(Binding.ValueB)) setThroughValue(cur, v, path, value)
      else if (path.size == 1) {
        // single-segment `SET n.p += m`: property-level merge through the
        // plain SetProperty machinery
        val key = path.head
        cur.scope.get(v) match {
          case Some(Binding.NodeB) =>
            state = Mutations.setPropertyByIds(
              state, dedupUpdates(cur, low, v, value), key, nodeHint(v))
          case Some(Binding.EdgeB) =>
            state = Mutations.setEdgePropertyByIds(
              state, dedupUpdates(cur, low, v, value), key, edgeHint(v))
          case other =>
            throw new UnsupportedOperationException(s"SET on $other binding")
        }
        LF(cur.df.withColumn(s"$v${Frames.Sep}$key", value), cur.scope)
      } else {
        val updates = dedupUpdates(cur, low, v, value)
          .withColumn("__hit", lit(1))
        cur.scope.get(v) match {
          case Some(Binding.NodeB) =>
            state = Mutations.setNestedPropertyByIds(
              state, updates, path.head, path.tail, nodeHint(v))
          case Some(Binding.EdgeB) =>
            state = Mutations.setEdgeNestedPropertyByIds(
              state, updates, path.head, path.tail, edgeHint(v))
          case other =>
            throw new UnsupportedOperationException(s"nested SET on $other")
        }
        // in-frame visibility (Accumulate): rebuild the bound record column
        val colName = s"$v${Frames.Sep}${path.head}"
        val (curCol, t) =
          if (cur.df.columns.contains(colName))
            (col(colName), cur.df.schema(colName).dataType)
          else
            (lit(null),
              org.apache.spark.sql.types.NullType
                : org.apache.spark.sql.types.DataType)
        LF(
          cur.df.withColumn(
            colName, Mutations.nestedSet(curCol, t, path.tail, value)),
          cur.scope)
      }

    case (cur, SetLabelsItem(v, labels)) =>
      planLabelsUpdate(cur, v, labels, add = true)

    // SetProperties (operator.hpp:1539): SET n = {map} / SET n += {map}.
    // The map must have statically-known keys (a literal map or a map
    // parameter) — each key becomes one update column, so the whole item is
    // a single broadcast-join column rebuild per touched frame.
    case (cur, SetAllProps(v, value, update)) =>
      val lf = cur
      val entries: Seq[(String, Column)] = value match {
        case MapLit(items) =>
          val low = lowering(lf)
          items.map { case (k, e) => k -> low.lower(e) }
        // SET a = b / SET a += b with b a bound entity: the keys are b's
        // promoted property columns (statically known from the frame)
        case Var(src)
            if lf.scope.get(src).exists(b =>
              b == Binding.NodeB || b == Binding.EdgeB) =>
          val meta = Set(
            GraphState.IdCol, GraphState.LabelsCol, GraphState.TypeCol,
            GraphState.SrcCol, GraphState.DstCol)
          Frames.colsOf(lf.df, src)
            .map(_.substring(src.length + Frames.Sep.length))
            .filterNot(meta)
            .map(k => k -> Frames.f(src, k))
        case Param(name) =>
          params.getOrElse(
            name,
            throw new IllegalArgumentException(s"missing parameter $$$name")) match {
            case m: Map[_, _] =>
              m.toSeq.map { case (k, x) => k.toString -> lit(x) }
            case other =>
              throw new IllegalArgumentException(
                s"SET $v ${if (update) "+=" else "="} $$$name: not a map ($other)")
          }
        case other =>
          throw new UnsupportedOperationException(
            s"SET $v ${if (update) "+=" else "="} requires a literal or parameter map, got $other")
      }
      val keys = entries.map(_._1)
      val updates = lf.df
        .select(
          Frames.id(v).as(GraphState.IdCol) +:
            entries.map { case (k, c) => c.as(s"__nv_$k") }: _*)
        .groupBy(GraphState.IdCol)
        .agg(max(lit(1)).as("__hit"), keys.map(k => max(s"__nv_$k").as(s"__nv_$k")): _*)
      lf.scope.get(v) match {
        case Some(Binding.NodeB) =>
          state = Mutations.setNodePropertiesByIds(
            state, updates, keys, replace = !update, only = nodeHint(v))
        case Some(Binding.EdgeB) =>
          state = Mutations.setEdgePropertiesByIds(
            state, updates, keys, replace = !update, only = edgeHint(v))
        case other =>
          throw new UnsupportedOperationException(s"SET map on $other binding")
      }
      // in-frame visibility: write the map's columns first (their
      // expressions still see pre-SET values), then for REPLACE null out
      // every other property column of the binding
      val metaSuffix =
        Set(GraphState.IdCol, GraphState.LabelsCol, GraphState.TypeCol,
          GraphState.SrcCol, GraphState.DstCol).map(m => s"$v${Frames.Sep}$m")
      var df2 = lf.df
      entries.foreach { case (k, c) =>
        df2 = df2.withColumn(s"$v${Frames.Sep}$k", c)
      }
      if (!update)
        lf.df.columns
          .filter(_.startsWith(s"$v${Frames.Sep}"))
          .filterNot(metaSuffix.contains)
          .filterNot(c => keys.contains(c.stripPrefix(s"$v${Frames.Sep}")))
          .foreach { c =>
            df2 = df2.withColumn(c, lit(null).cast(df2.schema(c).dataType))
          }
      LF(df2, lf.scope)
  }

  /** Apply the deletions; returns the id frames (`__id` column) of nodes
    * deleted WITHOUT DETACH — the caller's dangling-edge check input. */
  private def planDelete(
      lf: LF, detach: Boolean, exprs: Seq[Expr]): Seq[DataFrame] = {
    val plainNodeIds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    exprs.foreach {
      case Var(v) if lf.scope.get(v).exists(b =>
          b == Binding.NodeB || b == Binding.EdgeB || b == Binding.PathB) =>
        lf.scope.get(v).get match {
          case Binding.NodeB =>
            val ids = lf.df.select(Frames.id(v)).distinct()
            state = Mutations.deleteNodes(state, ids, detach, nodeHint(v))
            if (!detach)
              plainNodeIds += ids.select(Frames.id(v).as("__id"))
          case Binding.EdgeB =>
            state = Mutations.deleteEdgesAllTypes(
              state, lf.df.select(Frames.id(v)).distinct(), edgeHint(v))
          case _ =>
            // DELETE p (a path): its relationships and nodes — a null
            // path (OPTIONAL MATCH miss) explodes to zero rows. Under
            // PERIODIC COMMIT the reference raises (periodic_delete
            // .feature "Periodic detach deleting paths"): a path from an
            // earlier batch may span entities another batch already
            // committed away.
            if (periodicMode)
              throw new UnsupportedOperationException(
                "DELETE of a path is not allowed under PERIODIC COMMIT")
            val nCol = s"$v${Frames.Sep}_nodes"
            val eCol = s"$v${Frames.Sep}_edges"
            if (lf.df.columns.contains(eCol))
              state = Mutations.deleteEdgesAllTypes(
                state,
                lf.df.select(explode(col(eCol)).as("__id")).distinct(),
                None)
            if (lf.df.columns.contains(nCol)) {
              val ids = lf.df.select(explode(col(nCol)).as("__id")).distinct()
              state = Mutations.deleteNodes(state, ids, detach, None)
              if (!detach) plainNodeIds += ids
            }
        }
      case e =>
        // entity-VALUED expression (`DELETE friends[0]`, `DELETE map.k`,
        // TCK DeleteAcceptance): dispatch on the value's static shape,
        // recursing through lists/maps/paths
        val low = lowering(lf)
        plainNodeIds ++=
          deleteValueFrame(lf.df.select(low.lower(e).as("__del")), detach)
    }
    plainNodeIds.toSeq
  }

  /** Delete the entities held in a VALUE column: structs with the
    * node/edge signature delete by id, arrays recurse element-wise, path
    * values ({nodes, edges}) delete both sides. Returns the id frames of
    * nodes deleted without DETACH (dangling-edge check input). */
  private def deleteValueFrame(
      df: DataFrame, detach: Boolean): Seq[DataFrame] = {
    import org.apache.spark.sql.types.{ArrayType, NullType, StructType}
    df.schema("__del").dataType match {
      case NullType => Nil
      case ArrayType(_, _) =>
        deleteValueFrame(
          df.select(explode(col("__del")).as("__del")), detach)
      case s: StructType
          if s.fieldNames.contains("nodes") &&
            s.fieldNames.contains("edges") =>
        deleteValueFrame(
          df.select(col("__del").getField("edges").as("__del")), detach) ++
          deleteValueFrame(
            df.select(col("__del").getField("nodes").as("__del")), detach)
      case s: StructType
          if s.fieldNames.contains(GraphState.SrcCol) ||
            s.fieldNames.contains(GraphState.TypeCol) =>
        state = Mutations.deleteEdgesAllTypes(
          state,
          df.select(col("__del").getField(GraphState.IdCol).as("__id"))
            .filter(col("__id").isNotNull).distinct(),
          None)
        Nil
      case s: StructType if s.fieldNames.contains(GraphState.IdCol) =>
        val ids = df
          .select(col("__del").getField(GraphState.IdCol).as("__id"))
          .filter(col("__id").isNotNull).distinct()
        state = Mutations.deleteNodes(state, ids, detach, None)
        if (detach) Nil else Seq(ids)
      case other =>
        throw new UnsupportedOperationException(s"DELETE on $other value")
    }
  }

  /** Plans REMOVE items; like [[planSet]], writes are reflected into the
    * frame's bound columns (Accumulate visibility). */
  private def planRemove(lf: LF, items0: Seq[RemoveItem]): LF = {
    // same deleted-variable split as [[planSet]]
    val items = items0.filter { it =>
      val v = it match {
        case RemoveProp(v0, _) => v0
        case RemoveNestedProp(v0, _) => v0
        case RemoveLabelsItem(v0, _) => v0
      }
      if (deletedVars.contains(v) && periodicMode)
        throw new IllegalStateException(
          s"Trying to remove properties from a deleted object " +
            s"(variable `$v`).")
      !deletedVars.contains(v)
    }
    items.foldLeft(lf) {
      case (cur, RemoveProp(v, key)) =>
        state =
          if (cur.scope.get(v).contains(Binding.EdgeB))
            Mutations.removeEdgePropertyByIds(
              state,
              cur.df.select(Frames.id(v)).distinct(),
              key,
              edgeHint(v))
          else
            Mutations.removePropertyByIds(
              state,
              cur.df.select(Frames.id(v)).distinct(),
              key,
              nodeHint(v))
        val c = s"$v${Frames.Sep}$key"
        if (cur.df.columns.contains(c))
          LF(
            cur.df.withColumn(c, lit(null).cast(cur.df.schema(c).dataType)),
            cur.scope)
        else cur
      // RemoveNestedProperty (operator.hpp:1671): REMOVE n.p.k1…kn.
      case (cur, RemoveNestedProp(v, path)) =>
        val ids = cur.df.select(Frames.id(v)).distinct()
        cur.scope.get(v) match {
          case Some(Binding.EdgeB) =>
            state = Mutations.removeEdgeNestedPropertyByIds(
              state, ids, path.head, path.tail, edgeHint(v))
          case _ =>
            state = Mutations.removeNestedPropertyByIds(
              state, ids, path.head, path.tail, nodeHint(v))
        }
        // in-frame visibility: NULL the field on the bound record column
        val colName = s"$v${Frames.Sep}${path.head}"
        if (cur.df.columns.contains(colName))
          LF(
            cur.df.withColumn(
              colName,
              Mutations.nestedSet(
                col(colName),
                cur.df.schema(colName).dataType,
                path.tail,
                lit(null))),
            cur.scope)
        else cur
      case (cur, RemoveLabelsItem(v, labels)) =>
        planLabelsUpdate(cur, v, labels, add = false)
    }
  }

  /** MERGE (`Merge` operator.hpp:2579). The reference pulls one input row
    * at a time: the first row whose pattern matches nothing creates it,
    * later rows match what earlier rows created, and ON CREATE / ON MATCH
    * SET run with their own row in scope. A node MERGE plans that as one
    * batch: the ident join splits rows that hit existing nodes from rows
    * that miss, [[classifyMergeRows]] pins them once with a row id, the
    * first row of each missing ident creates the node through
    * [[planCreate]] and runs ON CREATE SET, and every other row (a hit,
    * or a later row of a just-created ident) runs ON MATCH SET. Rows that
    * write one node resolve as [[dedupUpdates]] does. Each input row is
    * then re-bound to its node(s) by id against the post-merge state
    * ([[mergedIds]]). A prop-less
    * `MERGE (n:L)` is the one-ident case: all its rows share the empty
    * ident, so it creates at most one node. */
  private def planMerge(lf: LF, m: MergeCl): LF = {
    if ((m.pattern.start +: m.pattern.hops.map(_._2))
        .exists(_.orLabels.nonEmpty))
      throw new IllegalArgumentException(
        "Label alternation (|) is not allowed in MERGE")
    if (m.pattern.hops.nonEmpty) return planMergeRel(lf, m)
    val n = m.pattern.start
    n.variable.filter(lf.scope.contains).foreach { v =>
      throw new IllegalArgumentException(
        s"MERGE cannot reuse the bound variable $v")
    }
    val v = n.variable.getOrElse(fresh("mn"))
    // ON CREATE SET a:Foo adds labels to CREATED rows only — they join
    // the pattern labels in the stored row and its frame placement
    val onCreateLabels = m.onCreate.collect {
      case SetLabelsItem(sv, ls) if sv == v => ls
    }.flatten
    // the ident values (pattern comprehensions included) are evaluated
    // against the pre-merge state; the row id orders rows sharing an ident
    val (wl, items) = rewritePatternComprehensions(lf, n.props)
    val wLow = lowering(wl)
    val keyVars = items.map(_ => fresh("mk"))
    val keyCols = keyVars.map(k => s"$k${Frames.Sep}_val")
    val keyed = keyCols.zip(items).foldLeft(
      wl.df.withColumn("__mg_row", monotonically_increasing_id())) {
      case (d, (c, (_, e))) => d.withColumn(c, mergePropNotNull(wLow.lower(e)))
    }
    val scope =
      keyVars.foldLeft(wl.scope)((sc, k) => sc + (k -> Binding.ValueB))
    // label is optional (unlabeled MERGE matches/creates "_"-frame nodes)
    def nodeFrame: DataFrame = {
      val base = n.labels.headOption
        .map(state.nodesOrEmpty)
        .getOrElse(state.allNodes)
      n.labels.foldLeft(base)((d, l) =>
        d.filter(array_contains(col(GraphState.LabelsCol), l)))
    }
    // the scan may lack some ident columns entirely (e.g. unlabeled MERGE
    // against frames that never saw the property) — pad with NULLs
    val existing = nodeFrame
    val eKeyed = existing.select(
      col(GraphState.IdCol).as("__mg_eid") +:
        items.zip(keyCols).map { case ((p, _), k) =>
          (if (existing.columns.contains(p)) col(p)
           else lit(null).cast(keyed.schema(k).dataType)).as(k)
        }: _*)
    // pin the input ONCE, classified: a hit row carries the node it matched
    // (several nodes sharing one ident fan it out — Cypher MERGE
    // multi-match); a missing row carries the first row of its ident
    val classified = classifyMergeRows(
      keyed.join(eKeyed, keyCols, "left_outer"),
      keyCols.map(col),
      col("__mg_eid").isNotNull)
    val created = planCreate(
      LF(classified.filter(mergeCreates), scope),
      PatternPart(
        None,
        NodePattern(
          Some(v),
          (n.labels ++ onCreateLabels).distinct,
          items.zip(keyVars).map { case ((p, _), k) => p -> Var(k) }),
        Nil))
    val onCreateProps = m.onCreate.filterNot(_.isInstanceOf[SetLabelsItem])
    if (onCreateProps.nonEmpty) planSet(created, onCreateProps)
    def bindRows(rows: DataFrame): LF = {
      setHint(
        v,
        if (state.mayOverlap) None else n.labels.headOption.map(Set(_)))
      LF(
        bindById(
          mergedIds(rows, created.df, Seq("__mg_eid" -> Frames.id(v))),
          "__mg_eid", v, nodeFrame),
        scope + (v -> Binding.NodeB))
    }
    val matching = classified.filter(!mergeCreates)
    if (m.onMatch.nonEmpty && !matching.isEmpty)
      planSet(bindRows(matching), m.onMatch)
    val bound = bindRows(classified)
    val keep = n.variable.isDefined || m.pattern.pathVar.isDefined
    val kept =
      lf.df.columns.toSet ++ (if (keep) Frames.colsOf(bound.df, v) else Nil)
    val out = LF(
      bound.df.drop(bound.df.columns.filterNot(kept).toSeq: _*),
      if (keep) lf.scope + (v -> Binding.NodeB) else lf.scope)
    m.pattern.pathVar.fold(out) { _ =>
      planPattern(
        out,
        m.pattern.copy(start = NodePattern(Some(v), Nil, Nil)))._1
    }
  }

  /** Reference MERGE rejects NULL property values at runtime ("Can't
    * have null literal properties inside merge!") — null never matches,
    * so the row would mint an unfindable entity. */
  private def mergePropNotNull(c: Column): Column =
    when(
      c.isNull,
      raise_error(lit("Can't have null literal properties inside merge!")))
      .otherwise(c)

  /** Eager variant for the relationship-merge path: one probe over the
    * distinct inputs (exprs that need the comprehension rewrite validate
    * downstream instead). */
  private def assertMergePropsNotNull(lf: LF, part: PatternPart): Unit = {
    val props = part.start.props ++ part.hops.flatMap {
      case (r, nd) => r.props ++ nd.props
    }
    if (props.isEmpty) return
    val base = oneRow(lf)
    val low = new ExprLowering(base, lf.scope, params, enums = state.enums)
    val cols = props.zipWithIndex.flatMap { case ((_, e), i) =>
      scala.util.Try(low.lower(e).as(s"__mp$i")).toOption
    }
    if (cols.isEmpty) return
    val probe = base.select(cols: _*)
    val anyNull = probe
      .filter(probe.columns.map(col(_).isNull).reduce(_ || _))
      .limit(1)
    if (!anyNull.isEmpty)
      throw new IllegalArgumentException(
        "Can't have null literal properties inside merge!")
  }

  /** MERGE's row rule (`Merge` operator.hpp:2579) over one batch: of the
    * rows whose merge key matched nothing, the first creates, and every
    * other row matches. `rows` carries a `__mg_row` id assigned in its own
    * plan, and `hit` holds on a row whose key matched before the merge.
    * The frame is pinned, so the ids are assigned once, with `__mg_first`:
    * on a missed row the least `__mg_row` of the missed rows of its `key`,
    * NULL on a hit. An empty key is one key that every row shares. */
  private def classifyMergeRows(
      rows: DataFrame, key: Seq[Column], hit: Column): DataFrame = {
    val keyWindow = org.apache.spark.sql.expressions.Window
      .partitionBy((if (key.isEmpty) Seq(lit(0)) else key): _*)
    Scratch.cp(
      rows.withColumn(
        "__mg_first",
        when(!hit, min(when(!hit, col("__mg_row"))).over(keyWindow))))
  }

  /** The rows of a [[classifyMergeRows]] frame that create. */
  private def mergeCreates: Column =
    coalesce(col("__mg_row") === col("__mg_first"), lit(false))

  /** The entity ids each classified row is bound to after the merge: a hit
    * keeps the ids of its match in the `ids` frame columns; any other row
    * takes the ids its key's first row created, read from `created` (the
    * created rows carry their `__mg_row`). */
  private def mergedIds(
      rows: DataFrame,
      created: DataFrame,
      ids: Seq[(String, Column)]): DataFrame = {
    val news = ids.indices.map(i => s"__mg_new$i")
    val made = created.select(
      col("__mg_row").as("__mg_first") +:
        ids.zip(news).map { case ((_, c), nc) => c.as(nc) }: _*)
    ids.zip(news).foldLeft(rows.join(made, Seq("__mg_first"), "left_outer")) {
      case (d, ((c, _), nc)) =>
        d.withColumn(c, coalesce(col(c), col(nc))).drop(nc)
    }
  }

  /** Binds entity variable `v` on `rows` to the row of `frame` whose id is
    * in column `idCol`. */
  private def bindById(
      rows: DataFrame, idCol: String, v: String, frame: DataFrame): DataFrame =
    rows.join(Frames.bind(v)(frame), col(idCol) === Frames.id(v)).drop(idCol)

  /** Relationship MERGE (`Merge` operator.hpp:2579 on a pattern with ≥1
    * hop), with the row rule of [[planMerge]]: the merge key is the
    * pattern's already-bound variables plus the frame variables its
    * property expressions read. The WHOLE pattern is matched once per
    * distinct key, and each input row is pinned together with its key's
    * matches ([[classifyMergeRows]]). The first row of a key with no match
    * creates the pattern (bound vars reused, everything else created —
    * openCypher MERGE semantics; an undirected hop creates outgoing) and
    * runs ON CREATE SET. Every other row runs ON MATCH SET, its new named
    * variables re-bound by id to what it matched or what its key's first
    * row created (the path variable is not bound there). Both SETs see
    * their own input row. Finally the pattern is re-matched from the input
    * rows against the post-merge state, binding every pattern variable
    * (edge vars, endpoints, named path) with post-SET property values —
    * the reference streams matched-or-created rows; after the merge the
    * two sets ARE the re-match. */
  private def planMergeRel(lf: LF, m: MergeCl): LF = {
    val part = m.pattern
    val nodes = part.start +: part.hops.map(_._2)
    val rels = part.hops.map(_._1)
    val patVars = part.start.variable.toSeq ++ part.hops.flatMap {
      case (r, n) => r.variable.toSeq ++ n.variable.toSeq
    }
    // a MERGE pattern may not reuse a bound relationship/path variable
    (part.pathVar.toSeq ++ rels.flatMap(_.variable))
      .filter(lf.scope.contains)
      .foreach { v =>
        throw new IllegalArgumentException(
          s"MERGE cannot reuse the bound variable $v")
      }
    // the merge key: bound pattern vars + frame vars its property
    // expressions consume (each distinct key is one match-or-create unit)
    val propExprVars =
      (nodes.flatMap(_.props) ++ rels.flatMap(_.props))
        .flatMap { case (_, e) => varsIn(e) }
    val shared =
      (patVars ++ propExprVars).distinct.filter(lf.scope.contains)
    val seedCols = shared.flatMap(v => Frames.colsOf(lf.df, v))
    val seedScope =
      Scope(lf.scope.vars.filter { case (nm, _) => shared.contains(nm) })
    val seed =
      if (shared.nonEmpty)
        LF(lf.df.select(seedCols.map(col): _*).distinct(), seedScope)
      else initial
    val keyCols = shared.map(v => varKeyCol(seed.df, v))

    // 1. match branch against the pre-merge state, joined to the input
    //    rows on the key and pinned with them
    val (sub0, subEdges) = planPattern(seed, part)
    val sub = edgeUniqueness(sub0, subEdges)
    // the pattern's new named variables: ON MATCH re-binds them by id
    val newVars = (nodes.flatMap(n => n.variable.map(_ -> n)) ++
      rels.flatMap(r => r.variable.map(_ -> r)))
      .filterNot { case (v, _) => lf.scope.contains(v) }
      .distinctBy(_._1)
    val matches = sub.df.select(
      keyCols.map(col) ++ newVars.map(nv => Frames.id(nv._1)) :+
        lit(true).as("__mg_hit"): _*)
    // an UNDIRECTED single-hop merge sees (a,b) and (b,a) as the same
    // pattern: the reference's second pull matches what the first created
    // (read-your-writes) — symmetric pairs share one key, so the batch
    // creates one edge per unordered pair
    val ends = part.hops match {
      case Seq((r, nd)) if r.direction == BothDir =>
        (part.start.variable.toSeq ++ nd.variable)
          .filter(shared.contains).distinct match {
          case Seq(a, b) => Some((a, b))
          case _ => None
        }
      case _ => None
    }
    val groupKey = ends.fold(keyCols.map(col)) { case (a, b) =>
      val endCols = Set(a, b).map(varKeyCol(seed.df, _))
      val (aId, bId) = (Frames.id(a), Frames.id(b))
      keyCols.filterNot(endCols).map(col) :+ least(aId, bId) :+
        greatest(aId, bId)
    }
    val classified = classifyMergeRows(
      lf.df.withColumn("__mg_row", monotonically_increasing_id())
        .join(matches, keyCols, "left_outer"),
      groupKey,
      col("__mg_hit").isNotNull)
    val inputCols = (lf.df.columns :+ "__mg_row").map(col)
    assertMergePropsNotNull(LF(classified, lf.scope), part)

    // 2. the first row of each missed key creates (undirected hops create
    //    outgoing, the openCypher MERGE direction rule)
    val partOut = part.copy(hops = part.hops.map { case (r, n) =>
      (if (r.direction == BothDir) r.copy(direction = OutDir) else r, n)
    })
    val created = planCreate(
      LF(classified.filter(mergeCreates).select(inputCols: _*), lf.scope),
      partOut)
    if (m.onCreate.nonEmpty && !created.df.isEmpty)
      planSet(created, m.onCreate)

    // 3. ON MATCH SET on every other row: rows whose key matched before
    //    the merge, and later rows of a key the first row just created
    val matching = classified.filter(!mergeCreates)
    if (m.onMatch.nonEmpty && !matching.isEmpty) {
      val ids = newVars.indices.map(i => s"__mg_id$i")
      val rows = mergedIds(
        matching.select(inputCols ++ (col("__mg_first") +:
          newVars.zip(ids).map { case ((v, _), i) => Frames.id(v).as(i) }): _*),
        created.df,
        ids.zip(newVars).map { case (i, (v, _)) => i -> Frames.id(v) })
      val bound = newVars.zip(ids).foldLeft(LF(rows, lf.scope)) {
        case (cur, ((v, el), i)) =>
          val (frame, binding) = el match {
            case n: NodePattern =>
              setHint(v, n.labels.headOption.map(Set(_)))
              (n.labels.headOption.fold(state.allNodes)(state.nodesOrEmpty),
                Binding.NodeB)
            case r: RelPattern =>
              setHint(v, Option.when(r.types.nonEmpty)(r.types.toSet))
              (state.edgesOfTypes(r.types), Binding.EdgeB)
          }
          LF(bindById(cur.df, i, v, frame), cur.scope + (v -> binding))
      }
      planSet(bound, m.onMatch)
    }

    // 4. bind: re-match from the input rows against the post-merge state
    //    (every input row now has ≥1 match; SET writes are visible)
    val (bound0, newEdges) = planPattern(
      LF(classified.select(inputCols: _*).dropDuplicates("__mg_row"), lf.scope),
      part)
    val bound = edgeUniqueness(bound0, newEdges)
    LF(bound.df.drop("__mg_row"), bound.scope)
  }

  /** Refresh the outer frame's bound columns for every (var, key) a body's
    * SET clauses touched — FOREACH / unit-CALL visibility. */
  private def refreshSetTargets(lf: LF, body: Seq[Clause]): LF = {
    def setTargets(cs: Seq[Clause]): Seq[(String, String)] = cs.flatMap {
      case SetCl(items) => items.collect {
        case SetProp(sv, k, _) => (sv, k)
        case SetNestedProp(sv, path, _, _) => (sv, path.head)
      }
      case ForeachCl(_, _, us) => setTargets(us)
      case CallSubquery(inner, _, us) =>
        setTargets(inner.clauses) ++ us.flatMap(u => setTargets(u._2.clauses))
      case mc: MergeCl =>
        (mc.onCreate ++ mc.onMatch).collect {
          case SetProp(sv, k, _) => (sv, k)
          case SetNestedProp(sv, path, _, _) => (sv, path.head)
        }
      case _ => Nil
    }
    setTargets(body)
      .distinct
      .filter { case (sv, _) =>
        lf.scope.get(sv).exists(b =>
          b == Binding.NodeB || b == Binding.EdgeB)
      }
      .foldLeft(lf) { case (cur, (sv, k)) => refreshVarProp(cur, sv, k) }
  }

  /** Re-read one bound property column from the current state (post-body
    * FOREACH visibility): id-equi-join against the node/edge set. */
  private def refreshVarProp(lf: LF, v: String, key: String): LF = {
    val isNode = lf.scope.get(v).contains(Binding.NodeB)
    val src0 = if (isNode) state.allNodes else state.allEdges
    val src =
      if (src0.columns.contains(key))
        src0.select(col(GraphState.IdCol).as("__rfid"), col(key).as("__rfval"))
      else
        src0.select(
          col(GraphState.IdCol).as("__rfid"), lit(null).as("__rfval"))
    val colName = s"$v${Frames.Sep}$key"
    val df = lf.df
      .drop(colName)
      .join(src, Frames.id(v) === col("__rfid"), "left_outer")
      .withColumnRenamed("__rfval", colName)
      .drop("__rfid")
    LF(df, lf.scope)
  }

  /** The single join-key column of a bound variable: `_id` for entities,
    * the value column otherwise. */
  private def varKeyCol(df: DataFrame, v: String): String = {
    val idc = s"$v${Frames.Sep}${GraphState.IdCol}"
    if (df.columns.contains(idc)) idc
    else {
      val valc = s"$v${Frames.Sep}_val"
      if (df.columns.contains(valc)) valc
      else Frames.colsOf(df, v).headOption.getOrElse(valc)
    }
  }

  /** Constant evaluation for procedure arguments (literals, maps, lists,
    * params) — procedures run at plan time, not per row. */
  /** `WITH CONFIG` map — literal or map-valued parameter; anything else
    * raises (vector_search.feature "not a map raises"). */
  private def indexConfig(e: Expr): Map[String, Any] = constValue(e) match {
    case m: Map[_, _] => m.map { case (k, v) => k.toString -> v }
    case other =>
      throw new IllegalArgumentException(
        s"WITH CONFIG must be a map, got: $other")
  }

  /** constValue without the throw — None means "not a constant". */
  private def constValueOpt(e: Expr): Option[Any] =
    try Some(constValue(e)) catch { case _: IllegalArgumentException => None }

  private def constValue(e: Expr): Any = e match {
    case Lit(v) => v
    case Neg(Lit(v: Long)) => -v
    case Neg(Lit(v: Double)) => -v
    case ListLit(items) => items.map(constValue)
    case MapLit(items) =>
      items.map { case (k, v) => k -> constValue(v) }.toMap
    case Param(n) =>
      params.getOrElse(
        n,
        throw new IllegalArgumentException(s"missing parameter $$$n"))
    case other =>
      throw new IllegalArgumentException(
        s"procedure arguments must be constant, got $other")
  }

  // ---------------- patterns ----------------

  /** Plans one comma-separated pattern part; returns new single-edge vars
    * bound in it (for the cyphermorphism filter). */
  private def planPattern(
      lf: LF,
      part0: PatternPart,
      pushWhere: Option[Expr] = None): (LF, Seq[String]) = {
    if (part0.shortest.isDefined || part0.hops.exists(_._1.mode != "DFS"))
      return (planShortest(lf, part0, pushWhere), Nil)
    val part1 = choosePatternOrientation(lf, part0)
    // property-map entries that reference ANOTHER variable of this same
    // pattern bound later (`MATCH (n {x: m.y})-[]-(m {y: n.x})`) cannot
    // filter at bind time — strip them here and re-attach as post-pattern
    // filters, where the reference's planner places a filter once all its
    // symbols are bound (plan/rule_based_planner filter placement).
    val patternVarsAll: Set[String] =
      (part1.start.variable.toSeq ++ part1.hops.flatMap { case (r, n) =>
        r.variable.toSeq ++ n.variable.toSeq
      }).toSet
    val deferredProps =
      scala.collection.mutable.ArrayBuffer.empty[(String, String, Expr)]
    def splitCrossProps(
        owner: Option[String],
        props: Seq[(String, Expr)]): Seq[(String, Expr)] = owner match {
      case Some(v) =>
        props.filter { case (k, e) =>
          val crossRef = varsIn(e).exists(x =>
            x != v && !lf.scope.contains(x) && patternVarsAll.contains(x))
          if (crossRef) { deferredProps += ((v, k, e)); false } else true
        }
      case None => props
    }
    val part = part1.copy(
      start = part1.start.copy(
        props = splitCrossProps(part1.start.variable, part1.start.props)),
      hops = part1.hops.map { case (r, n) =>
        (if (r.varLength.isEmpty)
           r.copy(props = splitCrossProps(r.variable, r.props))
         else r,
          n.copy(props = splitCrossProps(n.variable, n.props)))
      })
    val (cur0, startName) = bindNode(lf, part.start)
    var cur = cur0
    var srcVar = startName
    var edgeVars = Vector.empty[String]
    var nodeSeq = Vector(startName)
    var edgeSeq = Vector.empty[(String, Boolean)] // (var, isEdgeList)
    // USING HOPS LIMIT over single-hop expansions: frames to count, checked
    // ONCE after the whole part is planned (one union-all job) instead of a
    // materializing count() per hop
    var hopCheckFrames = Vector.empty[DataFrame]
    // (pre-expansion src-id frame, srcVar, eVar, types, dir, dstBound) per
    // single hop — the LocalHops partial emulation's inputs
    var hopMeta =
      Vector.empty[(DataFrame, String, String, Seq[String], Expand.Direction, Boolean)]

    part.hops.foreach { case (rel, node) =>
      val eVar = rel.variable.getOrElse(fresh("e"))
      val dstName = node.variable.getOrElse(fresh("n"))
      val dstBound = node.variable.exists(cur.scope.contains)
      val types = rel.types
      val dir = rel.direction match {
        case OutDir => Expand.Out
        case InDir => Expand.In
        case BothDir => Expand.Both
      }

      // Push already-lowerable WHERE conjuncts below a VAR-LENGTH hop: the
      // fixpoint localCheckpoints every round, so Catalyst cannot move
      // filters through that barrier — an unfiltered frontier walks the
      // closure of rows the WHERE discards afterwards (ldbc_bi9's post
      // date window seeds the REPLY_OF walk with every post of 7 years;
      // bi12's message predicates likewise). Re-applying the same conjunct
      // in planWhere later is a no-op filter — the same rule
      // planShortest already uses for its seed set.
      if (rel.varLength.isDefined)
        pushWhere.foreach(w => cur = applyPushable(cur, w))

      // per-step filter lambda and property map: pre-filter the oriented
      // edge set ([[stepEdges]]; reference ExpandVariable applies a
      // `-[r:T*1..2 {k: v}]-` map to every traversed edge); the
      // accumulated-path form (e, n, p | …) on a DFS var-length expansion
      // applies per-prefix AFTER the expansion instead
      val pathLam: Option[StepLambda] = rel.filterLambda.filter(l =>
        l.path.isDefined && l.weightVar.isEmpty && rel.varLength.isDefined)
      val stepLam = rel.filterLambda.filterNot(pathLam.contains)
      val stepProps = if (rel.varLength.isEmpty) Nil else rel.props
      val edgesOv: Option[DataFrame] =
        Option.when(stepLam.isDefined || stepProps.nonEmpty)(
          stepEdges(types, dir, stepLam, stepProps, cur)._1
            .withColumnRenamed("__sp_eid", GraphState.IdCol))

      if (hopsLimit.isDefined && rel.varLength.isEmpty)
        hopMeta :+= ((
          cur.df.select(Frames.id(srcVar)).distinct(),
          srcVar, eVar, types, dir, dstBound))

      rel.varLength match {
        case None if rel.variable.exists(v =>
              cur.scope.get(v).contains(Binding.EdgeB)) =>
          // re-match of an ALREADY-BOUND relationship variable
          // (`MATCH (a)-[r]->(b) … MATCH (x)-[r]->(y)`): the reference
          // frame holds one symbol per variable, so the second pattern
          // VALIDATES r's endpoints/type against the new pattern instead
          // of re-binding — constrain, don't re-join the edge frame.
          val e = eVar
          var df = cur.df
          if (types.nonEmpty)
            df = df.filter(
              Frames.f(e, GraphState.TypeCol).isin(types.map(x => x: Any): _*))
          val srcId = Frames.id(srcVar)
          val eSrc = Frames.src(e)
          val eDst = Frames.dst(e)
          if (dstBound) {
            val dstId = Frames.id(dstName)
            val cond = dir match {
              case Expand.Out => eSrc === srcId && eDst === dstId
              case Expand.In => eDst === srcId && eSrc === dstId
              case Expand.Both =>
                (eSrc === srcId && eDst === dstId) ||
                  (eDst === srcId && eSrc === dstId)
            }
            cur = LF(df.filter(cond), cur.scope)
            cur = nodeConstraints(cur, dstName, node.labels, node.props, node.orLabels)
          } else {
            val (nearCond, farCol) = dir match {
              case Expand.Out => (eSrc === srcId, eDst)
              case Expand.In => (eDst === srcId, eSrc)
              case Expand.Both => (
                eSrc === srcId || eDst === srcId,
                when(eSrc === srcId, eDst).otherwise(eSrc))
            }
            val filtered = df.filter(nearCond).withColumn("__farid", farCol)
            val nodesDf = Frames.bind(dstName)(
              node.labels.headOption
                .map(state.nodesOrEmpty)
                .getOrElse(state.allNodes))
            val joined = filtered
              .join(nodesDf, col("__farid") === Frames.id(dstName))
              .drop("__farid")
            cur = LF(joined, cur.scope + (dstName -> Binding.NodeB))
            setHint(dstName, node.labels.headOption.map(Set(_)))
            cur = nodeConstraints(cur, dstName, node.labels, node.props, node.orLabels)
          }
          cur = relConstraints(cur, e, rel.props)
          // no new edge binding → not part of this MATCH's cyphermorphism

        case None =>
          if (dstBound) {
            val df = Expand.toExisting(cur.df, state, srcVar, eVar, types, dir, dstName)
            cur = LF(df, cur.scope + (eVar -> Binding.EdgeB))
            setHint(eVar, if (types.nonEmpty) Some(types.toSet) else None)
          } else {
            val dstLabel = node.labels.headOption
            val df =
              Expand(cur.df, state, srcVar, eVar, types, dir, dstName, dstLabel)
            cur = LF(
              df,
              cur.scope + (eVar -> Binding.EdgeB) + (dstName -> Binding.NodeB))
            setHint(eVar, if (types.nonEmpty) Some(types.toSet) else None)
            setHint(dstName, dstLabel.map(Set(_)))
            cur = nodeConstraints(cur, dstName, node.labels, node.props, node.orLabels)
          }
          cur = relConstraints(cur, eVar, rel.props)
          edgeVars :+= eVar
          // USING HOPS LIMIT counts single-hop expansions too (reference
          // hops counter, ast.hpp:2086). A partial prefix is traversal-
          // order-dependent — no deterministic batch meaning — so a
          // breach RAISES (VarExpand's contract); under the limit the
          // full result is returned, identical to the reference. The
          // count is deferred: all of the part's hop frames go into one
          // union-all count after planning (each prefix re-runs inside
          // the later hops' lineage anyway — pipelined codegen, cheaper
          // than a materializing count() per hop).
          if (hopsLimit.isDefined) hopCheckFrames :+= cur.df

        case Some((lo, hi)) if rel.variable.exists(cur.scope.contains) =>
          // `-[rs*]->` with rs ALREADY bound to a relationship LIST:
          // traverse a FRESH variable and keep exactly the rows whose
          // edge-id sequence equals the bound list (MatchAcceptance2
          // "matching variable length using the list" — the
          // wrong-direction variant falls out of the equality). The hop
          // count is bounded by the longest list present (one tiny
          // driver probe), so the expansion never runs unbounded.
          val rsVar = rel.variable.get
          val rsIds: Column = cur.scope.get(rsVar).get match {
            case Binding.EdgeListB => col(s"$rsVar${Frames.Sep}_ids")
            case Binding.ValueB =>
              transform(
                col(s"$rsVar${Frames.Sep}_val"),
                x => x.getField(GraphState.IdCol))
            case other =>
              throw new UnsupportedOperationException(
                s"variable-length expansion over a bound $other variable")
          }
          val minH = lo.getOrElse(1)
          val hiList: Int = {
            val r = cur.df.select(max(size(rsIds))).head()
            if (r.isNullAt(0)) 0 else r.getInt(0)
          }
          val hiB = Some(math.min(
            hi.map(_.toLong).getOrElse(Long.MaxValue),
            hiList.toLong).toInt)
          if (dstBound) {
            val tmp = fresh("n")
            val df0 = VarExpand(
              cur.df, state, srcVar, rsVar + "__rse", types, dir, minH,
              hiB, tmp, dstLabel = None)
            val idsC = col(s"${rsVar}__rse${Frames.Sep}_ids")
            val df = df0
              .filter(Frames.id(tmp) === Frames.id(dstName) && idsC === rsIds)
              .drop(Frames.colsOf(df0, tmp): _*)
              .drop(s"${rsVar}__rse${Frames.Sep}_ids")
            cur = LF(df, cur.scope)
          } else {
            val df0 = VarExpand(
              cur.df, state, srcVar, rsVar + "__rse", types, dir, minH,
              hiB, dstName, node.labels.headOption)
            val idsC = col(s"${rsVar}__rse${Frames.Sep}_ids")
            val df = df0.filter(idsC === rsIds)
              .drop(s"${rsVar}__rse${Frames.Sep}_ids")
            cur = LF(df, cur.scope + (dstName -> Binding.NodeB))
            setHint(dstName, node.labels.headOption.map(Set(_)))
            cur = nodeConstraints(
              cur, dstName, node.labels, node.props, node.orLabels)
          }

        case Some((lo, hi)) =>
          val minH = lo.getOrElse(1)
          val maxH = hi // None = unbounded → fixpoint iteration
          // USING HOPS LIMIT over a subcritical typed edge set: replay the
          // reference's exact DFS traversal on the driver
          // ([[graft.operators.LocalHops.dfs]]) — exact whether or not
          // the quota truncates (the reference's own cursor is this
          // single-threaded DFS), and the emitted row count is bounded by
          // the cap itself (each row consumes ≥1 fetched edge), so the
          // driver pass is memory-safe up to [[LocalHopsMaxCap]].
          // Supercritical or huge-cap inputs keep the distributed
          // operator and its raise-on-breach contract.
          def runLocalDfs(
              le: Array[(Long, Long, Long)],
              q: graft.operators.LocalHops.Quota,
              seedCap: Long): Option[graft.operators.LocalHops.Emu] = {
            val srcs = cur.df.select(Frames.id(srcVar)).distinct()
            graft.operators.Cutover.collect(srcs, seedCap).map { srcRows =>
              val srcIds = srcRows.map(_.getLong(0)).sorted.toSeq
              val allowedIds = edgesOv.map(
                _.select(col(GraphState.IdCol))
                  .collect()
                  .map(_.getLong(0))
                  .toSet)
              graft.operators.LocalHops.dfs(
                le, srcIds,
                dirOut = dir != Expand.In, dirIn = dir != Expand.Out,
                minH, maxH.map(_.toLong).getOrElse(Long.MaxValue),
                q, allowedIds)
            }
          }
          val lhEmu: Option[graft.operators.LocalHops.Emu] =
            hopsLimit.filter(_ <= LocalHopsMaxCap).flatMap { cap =>
              state.localTypedEdges(types).flatMap(le =>
                runLocalDfs(le, lhQuota(cap), cap))
            }.orElse {
              // GENERAL subcritical cutover (no USING HOPS LIMIT): the
              // distributed fixpoint pays cp+count+join per round; when
              // the typed edge set collects (spark.graft.local.edges) the
              // reference's own single-threaded DFS enumerates the same
              // distinct-edge paths on the driver in one pass. A fetch
              // budget bounds driver work and memory (each emitted row
              // consumes ≥1 fetched edge); breaching it — a supercritical
              // closure — discards the pass and keeps the distributed
              // walk, so scale inputs never depend on driver memory.
              // 250k is the measured break-even: ldbc_bi12's ~500k-row
              // closure lost to encode+join-back (9.9 s vs 8.4 s
              // distributed) while bi9/bi3-sized walks (≤100k) win 2x.
              val budget = 250000L
              if (hopsLimit.isDefined) None
              else state.localTypedEdges(types).flatMap { le =>
                runLocalDfs(
                  le, new graft.operators.LocalHops.Quota(budget), budget)
                  .filterNot(_.breached)
              }
            }
          lhEmu match {
            case Some(emu) =>
              import spark.implicits._
              // row-count-gated: a near-budget emulation result (up to 2M
              // path rows) must shuffle-join, not force-broadcast
              val rowsDf = Scratch.gatedBroadcast(
                emu.rows
                  .map(r => (r.src, r.dst, r.eids))
                  .toDF("__lh_src", "__lh_dst", "__lh_eids"),
                emu.rows.size.toLong)
              if (dstBound) {
                val df = cur.df
                  .join(rowsDf, Frames.id(srcVar) === col("__lh_src"))
                  .filter(col("__lh_dst") === Frames.id(dstName))
                  .withColumn(s"$eVar${Frames.Sep}_ids", col("__lh_eids"))
                  .drop("__lh_src", "__lh_dst", "__lh_eids")
                cur = LF(df, cur.scope + (eVar -> Binding.EdgeListB))
              } else {
                val nodesDf = node.labels.headOption
                  .map(state.nodesOrEmpty)
                  .getOrElse(state.allNodes)
                val df = cur.df
                  .join(rowsDf, Frames.id(srcVar) === col("__lh_src"))
                  .join(
                    Frames.bind(dstName)(nodesDf),
                    col("__lh_dst") === Frames.id(dstName))
                  .withColumn(s"$eVar${Frames.Sep}_ids", col("__lh_eids"))
                  .drop("__lh_src", "__lh_dst", "__lh_eids")
                cur = LF(
                  df,
                  cur.scope + (eVar -> Binding.EdgeListB) +
                    (dstName -> Binding.NodeB))
                setHint(dstName, node.labels.headOption.map(Set(_)))
                cur = nodeConstraints(cur, dstName, node.labels, node.props, node.orLabels)
              }
            case None =>
              // no emulation possible (supercritical / cap too large for
              // a driver pass): VarExpand keeps its raise-on-breach
              // contract
              if (dstBound) {
                val tmp = fresh("n")
                val df0 = VarExpand(
                  cur.df, state, srcVar, eVar, types, dir, minH, maxH, tmp,
                  dstLabel = None, hopsLimit = hopsLimit,
                  edgesOverride = edgesOv)
                val df = df0
                  .filter(Frames.id(tmp) === Frames.id(dstName))
                  .drop(Frames.colsOf(df0, tmp): _*)
                cur = LF(df, cur.scope + (eVar -> Binding.EdgeListB))
              } else {
                val df = VarExpand(
                  cur.df, state, srcVar, eVar, types, dir, minH, maxH, dstName,
                  node.labels.headOption, hopsLimit = hopsLimit,
                  edgesOverride = edgesOv)
                cur = LF(
                  df,
                  cur.scope + (eVar -> Binding.EdgeListB) +
                    (dstName -> Binding.NodeB))
                setHint(dstName, node.labels.headOption.map(Set(_)))
                cur = nodeConstraints(cur, dstName, node.labels, node.props, node.orLabels)
              }
          }
      }
      // DFS accumulated-path filter lambda: per-prefix pruning evaluated
      // over the materialized edge-struct arrays
      if (pathLam.isDefined &&
        cur.scope.get(eVar).contains(Binding.EdgeListB))
        cur = applyDfsPathLambda(cur, eVar, pathLam.get)

      // `<-[*…]->` both-arrow var-length: steps go either way, but the
      // FIRST edge must point into the left endpoint and the LAST edge
      // into the right one (TCK VarLengthAcceptance mixed-direction
      // semantics; a zero-length path has no edge to constrain)
      if (rel.bothArrows && rel.varLength.isDefined &&
        cur.scope.get(eVar).contains(Binding.EdgeListB)) {
        val idsC = col(s"$eVar${Frames.Sep}_ids")
        def endpointOk(pickFirst: Boolean, nodeId: Column): LF = {
          val tag = if (pickFirst) "f" else "l"
          val eds = state.edgesOfTypes(types).select(
            col(GraphState.IdCol).as(s"__ba${tag}_id"),
            col(GraphState.DstCol).as(s"__ba${tag}_dst"))
          val pick = expr(
            s"try_element_at(`$eVar${Frames.Sep}_ids`, ${if (pickFirst) 1 else -1})")
          val df = cur.df
            .join(eds, pick === col(s"__ba${tag}_id"), "left_outer")
            .filter(
              size(idsC) === 0 || col(s"__ba${tag}_dst") === nodeId)
            .drop(s"__ba${tag}_id", s"__ba${tag}_dst")
          LF(df, cur.scope)
        }
        cur = endpointOk(pickFirst = true, Frames.id(srcVar))
        cur = endpointOk(pickFirst = false, Frames.id(dstName))
      }

      edgeSeq :+= ((eVar, rel.varLength.isDefined))
      nodeSeq :+= dstName
      srcVar = dstName
    }

    // deferred single-hop USING HOPS LIMIT check. One single-hop over a
    // subcritical typed edge set replays the reference's exact partial
    // traversal ([[graft.operators.LocalHops.singleHop]]) and re-filters
    // the planned frame to the surviving (vertex, edge) pairs; anything
    // else falls back to one union-all traversal count that RAISES on
    // breach (partial order is engine-specific — never silent).
    hopsLimit.foreach { lim =>
      if (hopCheckFrames.nonEmpty) {
        val emulated: Boolean =
          if (hopMeta.size == 1 && hopCheckFrames.size == 1 &&
            lim <= LocalHopsMaxCap && !hopMeta.head._6) {
            val (preSrc, sV, eV, tps, d, _) = hopMeta.head
            val local = for {
              le <- state.localTypedEdges(tps)
              srcRows <- graft.operators.Cutover.collect(preSrc)
            } yield (le, srcRows.map(_.getLong(0)).sorted.toSeq)
            local match {
              case Some((le, srcIds)) =>
                val emu = graft.operators.LocalHops.singleHop(
                  le, srcIds,
                  dirOut = d != Expand.In, dirIn = d != Expand.Out,
                  lhQuota(lim))
                if (emu.breached) {
                  import spark.implicits._
                  val allowedDf = emu.rows
                    .map(r => (r.src, r.eids.head))
                    .toDF("__lh_s", "__lh_e")
                  cur = LF(
                    cur.df.join(
                      broadcast(allowedDf),
                      Frames.id(sV) === col("__lh_s") &&
                        Frames.id(eV) === col("__lh_e"),
                      "left_semi"),
                    cur.scope)
                }
                true
              case None => false
            }
          } else false
        if (!emulated) {
          val traversals = hopCheckFrames
            .map(_.select(lit(1L).as("__hops_probe")))
            .reduce(_ unionAll _)
            .count()
          if (traversals > lim)
            throw new UnsupportedOperationException(
              s"USING HOPS LIMIT $lim exceeded by single-hop expansions " +
                s"($traversals traversals); partial results are " +
                "unsupported in batch")
        }
      }
    }

    // ConstructNamedPath (operator.hpp:1255): p = (a)-[e]->(b)… binds
    // p@_nodes / p@_edges (id arrays) + p@_len. Fixed-length paths also
    // carry full entity-struct arrays so nodes(p)/relationships(p) return
    // VALUES, not ids (the reference's Path holds whole accessors).
    part.pathVar.foreach { pv =>
      val nodesArr = array(nodeSeq.map(Frames.id): _*)
      val edgesArr =
        if (edgeSeq.isEmpty) array().cast("array<long>")
        else
          edgeSeq
            .map { case (e, isList) =>
              if (isList) Frames.f(e, "_ids") else array(Frames.id(e))
            }
            .reduce(concat(_, _))
      var df = cur.df
        .withColumn(s"$pv${Frames.Sep}_nodes", nodesArr)
        .withColumn(s"$pv${Frames.Sep}_edges", edgesArr)
        .withColumn(
          s"$pv${Frames.Sep}_len",
          size(col(s"$pv${Frames.Sep}_edges")).cast("long"))
      if (edgeSeq.forall(!_._2)) {
        // entity arrays need a homogeneous struct schema — union the
        // constituents' property columns, NULL-padding the gaps; a prop
        // name colliding at two incompatible types falls back to ids only
        scala.util.Try {
          df = df.withColumn(
            s"$pv${Frames.Sep}_nodestructs",
            entityArray(cur.df, nodeSeq))
          if (edgeSeq.nonEmpty)
            df = df.withColumn(
              s"$pv${Frames.Sep}_edgestructs",
              entityArray(cur.df, edgeSeq.map(_._1)))
          else
            df = df.withColumn(
              s"$pv${Frames.Sep}_edgestructs",
              array().cast(
                "array<struct<_id:bigint,_src:bigint,_dst:bigint,_type:string>>"))
          df.schema // force analysis so a coercion error lands in the Try
        }.recover { case _ =>
          df = df.drop(
            s"$pv${Frames.Sep}_nodestructs", s"$pv${Frames.Sep}_edgestructs")
        }
      }
      // endpoint entity pair for ALL path shapes (derive() collapses a
      // path to its endpoints — first/last nodes are always frame vars,
      // var-length included)
      scala.util.Try {
        df = df.withColumn(
          s"$pv${Frames.Sep}_endpoints",
          entityArray(cur.df, Seq(nodeSeq.head, nodeSeq.last)))
        df.schema
      }.recover { case _ =>
        df = df.drop(s"$pv${Frames.Sep}_endpoints")
      }
      cur = LF(df, cur.scope + (pv -> Binding.PathB))
    }
    // re-attach cross-referencing property-map entries now that every
    // pattern variable is bound
    deferredProps.foreach { case (v, k, e0) =>
      val (cur2, e) = rewriteOneExpr(cur, e0)
      cur = cur2
      val low = new ExprLowering(cur.df, cur.scope, params, enums = state.enums)
      cur = LF(
        cur.df.filter(low.lower(BinOp("=", Prop(Var(v), k), e)) <=> lit(true)),
        cur.scope)
    }
    (cur, edgeVars)
  }

  /** Array of homogeneous entity structs over bound vars: the field set is
    * the union of every var's promoted columns, NULL where a var lacks one. */
  private def entityArray(df: DataFrame, vars: Seq[String]): Column = {
    val suffixes = scala.collection.mutable.LinkedHashSet.empty[String]
    vars.foreach(v =>
      Frames.colsOf(df, v).foreach(c =>
        suffixes += c.substring(v.length + Frames.Sep.length)))
    val fields = suffixes.toSeq
    val elems = vars.map { v =>
      struct(fields.map { f =>
        val cn = s"$v${Frames.Sep}$f"
        (if (df.columns.contains(cn)) col(cn) else lit(null)).as(f)
      }: _*)
    }
    // Pin every element to ONE explicit fully-nullable struct type.
    // Leaving the analyzer to insert implicit casts is fragile: when the
    // optimizer constant-folds one element to a literal and a later
    // UpdateAttributeNullability pass flips another element's child
    // nullability, the array's element types diverge and the plan
    // "previously resolved, now became unresolved" (hit by
    // list_operations.feature "Function inside pattern comprehension's
    // expression"). An explicit cast target is immune: its dataType never
    // moves with child nullability. Fields with CONFLICTING types across
    // vars (rare — reconciled at load) keep the analyzer-coercion path.
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, NullType, StructField, StructType}
    def nullAll(dt: DataType): DataType = dt match {
      case s: StructType =>
        StructType(s.fields.map(f =>
          StructField(f.name, nullAll(f.dataType), nullable = true, f.metadata)))
      case a: ArrayType => ArrayType(nullAll(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(nullAll(m.keyType), nullAll(m.valueType), valueContainsNull = true)
      case other => other
    }
    val schemaByName = df.schema.fields.map(sf => sf.name -> sf.dataType).toMap
    val fieldTypes: Seq[Option[DataType]] = fields.map { f =>
      val ts = vars.flatMap { v =>
        schemaByName.get(s"$v${Frames.Sep}$f")
      }.map(nullAll).distinct
      ts match {
        case Nil => Some(NullType)
        case one :: Nil => Some(one)
        case _ => None
      }
    }
    if (fieldTypes.forall(_.isDefined) &&
      fieldTypes.forall(_.get != NullType)) {
      val target = StructType(fields.zip(fieldTypes).map {
        case (f, dt) => StructField(f, dt.get, nullable = true)
      })
      array(elems.map(_.cast(target)): _*)
    } else array(elems: _*)
  }

  /** One traversal step's edges, the input of every filtered or weighted
    * expansion (var-length DFS, the BFS family, `*KSHORTEST`,
    * `*WSHORTEST`, weighted `*ALLSHORTEST`): the typed edges bound under
    * one edge variable and oriented by [[Expand.oriented]], joined to the
    * target node only when the filter or the weight reads it.
    *
    * The 2-var filter lambda `(e, n | pred)` (`filter_lambda_`,
    * ast.hpp:1899; applied per expansion in `operator.cpp:2458` region)
    * and the relationship's property map see only the traversed edge and
    * its target node, so they lower to ONE predicate over one pass instead
    * of a per-step re-evaluation (same semantics, and the search loops
    * stay single-equi-join rounds); [[substVars]] renames the lambdas'
    * variables to the one (edge, node) pair. The filter applies before the
    * weight projection: the reference filters an expansion before weighing
    * it, so a negative weight on an excluded edge never raises. The
    * accumulated-path form routes through the searches that take a
    * [[ShortestPath.PathFilter]] instead; a lambda here that names a path
    * or weight variable raises (an accepted-but-ignored lambda would be a
    * silent wrong answer).
    *
    * @return (src, dst in traversal orientation, `__sp_eid`
    *         [, [[ShortestPath.EdgeWeightCol]]][, [[ShortestPath.EStructCol]]]),
    *         and whether the weight is a duration
    */
  private def stepEdges(
      types: Seq[String],
      dir: Expand.Direction,
      filter: Option[StepLambda],
      props: Seq[(String, Expr)],
      outer: LF,
      weight: Option[(String, String, Expr)] = None,
      withStruct: Boolean = false): (DataFrame, Boolean) = {
    if (filter.exists(l => l.path.isDefined || l.weightVar.isDefined))
      throw new UnsupportedOperationException(
        "filter lambdas over the accumulated path (e, n, p | …) are only " +
          "supported on BFS/WSHORTEST expansions")
    val ev = fresh("se")
    val nv = fresh("sn")
    def renamed(e: String, n: String, x: Expr) =
      substVars(x, Map(e -> ev, n -> nv))
    val pred = (filter.map(l => renamed(l.e, l.n, l.pred)).toSeq ++
      props.map { case (k, x) => BinOp("=", Prop(Var(ev), k), x): Expr })
      .reduceOption(BinOp("AND", _, _))
    val wexpr = weight.map { case (e, n, x) => renamed(e, n, x) }
    val o = Expand.oriented(
      Frames.bind(ev)(state.edgesOfTypes(types)), dir,
      s"$ev${Frames.Sep}${GraphState.SrcCol}",
      s"$ev${Frames.Sep}${GraphState.DstCol}")
    // the common edge-only shapes keep the slim edge frame: no node join
    // in a search loop's cached input
    val needsNode = (pred ++ wexpr).exists(x => varsIn(x).contains(nv))
    val withTarget =
      if (needsNode)
        o.df.join(Frames.bind(nv)(state.allNodes), col(o.far) === Frames.id(nv))
      else o.df
    // a lambda may close over OUTER bindings (`WITH ['x'] AS d MATCH
    // …-[*BFS (r, n | r.p IN d)]->…`): when the outer frame holds ONE
    // distinct value for them, broadcast it into the edge pre-filter
    // (the statement-constant case; a per-row-varying capture would make
    // the admissible edge set row-dependent — unsupported, raise)
    val captured = pred
      .map(p => (varsIn(p) - ev - nv).filter(outer.scope.contains).toSeq.sorted)
      .getOrElse(Nil)
    val joined =
      if (captured.isEmpty) withTarget
      else {
        val cols = captured.flatMap(v => Frames.colsOf(outer.df, v))
        val vals = outer.df.select(cols.map(col): _*).distinct()
        if (vals.count() != 1L)
          throw new UnsupportedOperationException(
            "filter lambda captures an outer variable with more than one " +
              s"distinct binding: ${captured.mkString(", ")}")
        withTarget.crossJoin(broadcast(vals))
      }
    val edgeScope = Scope.empty + (ev -> Binding.EdgeB)
    val scope = captured.foldLeft(
      if (needsNode) edgeScope + (nv -> Binding.NodeB) else edgeScope)(
      (sc, v) => sc + (v -> outer.scope.get(v).get))
    val low = new ExprLowering(joined, scope, params, enums = state.enums)
    val kept = pred.fold(joined)(x => joined.filter(low.lower(x)))
    val wRaw = wexpr.map(low.lower)
    val isDur = wRaw.exists(w =>
      low.typeOf(w).exists(_.isInstanceOf[org.apache.spark.sql.types.DayTimeIntervalType]))
    // the reference raises on negative/non-numeric weights
    // (operator.cpp:3000 region) — validated per ROW inside the weight
    // column itself (raise_error), so no extra probe job on any path:
    // the relaxation's first round materializes the full frame and with
    // it every edge's check
    val wChecked = wRaw.map { raw =>
      val w = weightAsDouble(raw, isDur)
      when(
        w.isNull || w < 0,
        raise_error(lit(
          "weight lambda produced a negative or non-numeric weight"))
          .cast("double"))
        .otherwise(w)
        .as(ShortestPath.EdgeWeightCol)
    }
    val struct =
      if (withStruct) Some(varStructCol(kept, ev).as(ShortestPath.EStructCol))
      else None
    (o.copy(df = kept).steps(
      Seq(Frames.id(ev).as("__sp_eid")) ++ wChecked ++ struct: _*), isDur)
  }

  /** A weight column as double; DURATION weights (reference weights.cpp
    * duration branch) order and sum as exact decimal seconds. */
  private def weightAsDouble(c: Column, isDur: Boolean): Column =
    if (isDur)
      c.cast(org.apache.spark.sql.types.DecimalType(28, 6)).cast("double")
    else c.cast("double")

  /** DFS `(e, n, p | pred)` filter lambda over the ACCUMULATED path
    * (ast.hpp:1899): a path survives iff EVERY prefix satisfied the
    * predicate when its last edge was traversed — exactly the reference's
    * per-step pruning, evaluated here as a per-prefix `forall` over the
    * materialized edge-struct array (executor-side higher-order function;
    * no driver loop). Predicates may read the traversed edge `e` and the
    * path's RELATIONSHIPS (`size(p)`, `relationships(p)`); node access
    * raises (the id array alone can't answer it). */
  private def applyDfsPathLambda(
      lf0: LF,
      eVar: String,
      lam: StepLambda): LF = {
    val pv = lam.path.get
    val lamE = "__lamE"
    def rw(x: Expr): Expr = x match {
      case FnCall(f, d, Seq(Var(`pv`)))
          if Set("relationships", "rels")(f.toLowerCase) =>
        Var(lamE)
      case FnCall(f, d, Seq(Var(`pv`)))
          if Set("size", "length")(f.toLowerCase) =>
        FnCall("size", d, Seq(Var(lamE)))
      case FnCall(f, _, Seq(Var(`pv`))) if f.toLowerCase == "nodes" =>
        throw new UnsupportedOperationException(
          "DFS path filter lambdas may read the path's relationships, " +
            "not its nodes")
      case Var(`pv`) =>
        throw new UnsupportedOperationException(
          "whole-path value in a DFS filter lambda is not supported")
      case BinOp(o, a2, b2) => BinOp(o, rw(a2), rw(b2))
      case Not(a2) => Not(rw(a2))
      case Neg(a2) => Neg(rw(a2))
      case IsNull(a2, n2) => IsNull(rw(a2), n2)
      case Prop(a2, k) => Prop(rw(a2), k)
      case FnCall(n2, d, as) => FnCall(n2, d, as.map(rw))
      case CaseExpr(s2, ws, d2) =>
        CaseExpr(
          s2.map(rw), ws.map { case (a2, b2) => (rw(a2), rw(b2)) },
          d2.map(rw))
      case Subscript(a2, b2) => Subscript(rw(a2), rw(b2))
      case Slice(a2, b2, c2) => Slice(rw(a2), b2.map(rw), c2.map(rw))
      case ListLit(is) => ListLit(is.map(rw))
      case Quantifier(k, v2, l2, p2) => Quantifier(k, v2, rw(l2), rw(p2))
      case ListComprehension(v2, l2, w2, p2) =>
        ListComprehension(v2, rw(l2), w2.map(rw), p2.map(rw))
      case other => other
    }
    val pred = rw(lam.pred)
    val lf = materializeEdgeListEntities(lf0, eVar)
    val structsCol = col(s"$eVar${Frames.Sep}_structs")
    val elemT = lf.df.schema(s"$eVar${Frames.Sep}_structs")
      .dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType
    val ok = forall(
      sequence(lit(1), size(structsCol)),
      k => {
        val low = new ExprLowering(
          lf.df, lf.scope, params,
          lambdaVars = Map(
            lam.e -> element_at(structsCol, k.cast("int")),
            lamE -> slice(structsCol, lit(1), k.cast("int"))),
          enums = state.enums,
          lambdaTypes = Map(
            lam.e -> elemT,
            lamE -> org.apache.spark.sql.types.ArrayType(elemT)))
        low.lower(pred) <=> lit(true)
      })
    LF(lf.df.filter(size(structsCol) === 0 || ok), lf.scope)
  }

  /** Largest USING HOPS LIMIT the driver replay accepts: emitted rows are
    * bounded by the cap (each row consumes ≥1 fetched-edge quota), so
    * this bounds driver memory for the emulation's result. */
  private val LocalHopsMaxCap = 2000000L

  /** Label-count estimate under which a node scan entering a Cartesian
    * product (and an accumulated side ahead of a disconnected pattern)
    * is broadcast. */
  private val BroadcastNodeScanRows = 100000L

  /** Struct of every column of bound var `v`, field names unprefixed —
    * the whole-entity value the step-filtered operators carry. */
  private def varStructCol(df: DataFrame, v: String): Column =
    struct(Frames.colsOf(df, v).map(c =>
      col(c).as(c.substring(v.length + Frames.Sep.length))): _*)

  /** Per-step filter for the accumulated-path lambda `(e, n, p [, w] |
    * pred)`: lowers pred against the operators' candidate frame — `e`/`n`
    * bind to the carried entity structs, `p` to the path arrays
    * (exposed under the lambda's own path-var naming so the standard
    * PathB lowering, `nodes(p)`/`relationships(p)`/`size(p)`, resolves),
    * `w` to the accumulated weight (WSHORTEST; converted back to an
    * interval for duration-weighted searches).
    */
  private def pathStepFilter(
      lam: StepLambda,
      isDurationWeight: Boolean = false): ShortestPath.PathFilter = {
    val pv = lam.path.getOrElse(fresh("p"))
    val nframe = Frames.bind(lam.n)(state.allNodes)
    val nodes = nframe.select(
      Frames.id(lam.n).as(GraphState.IdCol),
      varStructCol(nframe, lam.n).as(ShortestPath.NStructCol))
    val pathCols = (
      s"$pv${Frames.Sep}_nodestructs",
      s"$pv${Frames.Sep}_edgestructs",
      s"$pv${Frames.Sep}_len")
    val fScope = Scope.empty + (pv -> Binding.PathB)
    val mk: DataFrame => Column = df => {
      val wCol: Column =
        if (isDurationWeight)
          col(ShortestPath.WeightCol)
            .cast(org.apache.spark.sql.types.DecimalType(28, 6))
            .cast(org.apache.spark.sql.types.DayTimeIntervalType())
        else col(ShortestPath.WeightCol)
      val lvars = Map(
        lam.e -> col(ShortestPath.EStructCol),
        lam.n -> col(ShortestPath.NStructCol)) ++
        lam.weightVar.map(_ -> wCol).toMap
      new ExprLowering(df, fScope, params, lvars, state.enums)
        .lower(lam.pred)
    }
    ShortestPath.PathFilter(nodes, mk, pathCols)
  }

  /** The seeds of a weighted search with their initial weight. The weight
    * lambda sees the traversed edge AND its target node (`(e, v | v.w)`
    * vertex-based weights are legal, ast.hpp weight_lambda_; the edges
    * come from [[stepEdges]]), and it also fires once at each seed with a
    * NULL edge (vertex weights count the source; `coalesce(r.id, 0)` in
    * the corpus), NULL init → 0. Edge-only weight lambdas (`e.w`) have a
    * 0 init for every seed, so they skip the init join entirely (the
    * common, gate-scale shape).
    */
  private def weightedSeeds(
      rel: RelPattern,
      seeds: DataFrame,
      isDur: Boolean): DataFrame = {
    val (wev, wnv, wexpr) = rel.weight.get
    if (!varsIn(wexpr).contains(wnv)) return seeds
    // NULL edge struct for the seed's init evaluation — derived from the
    // edge frame's own columns
    val eframe = Frames.bind(wev)(state.edgesOfTypes(rel.types))
    val eStructT =
      eframe.select(varStructCol(eframe, wev)).schema.head.dataType
    val nframe = Frames.bind(wnv)(state.allNodes)
    val initLow = new ExprLowering(
      nframe,
      Scope.empty + (wnv -> Binding.NodeB),
      params,
      lambdaVars = Map(wev -> lit(null).cast(eStructT)),
      enums = state.enums)
    seeds
      .join(
        nframe.select(
          Frames.id(wnv).as("__sp_initn"),
          coalesce(weightAsDouble(initLow.lower(wexpr), isDur), lit(0.0))
            .as(ShortestPath.InitWeightCol)),
        col(ShortestPath.SeedCol) === col("__sp_initn"),
        "left_outer")
      .drop("__sp_initn")
  }

  /** Duration-weighted search results carry seconds — surface the total
    * back as a day-time interval. */
  private def durationWeightOut(res: DataFrame): DataFrame =
    res.withColumn(
      ShortestPath.WeightCol,
      col(ShortestPath.WeightCol)
        .cast(org.apache.spark.sql.types.DecimalType(28, 6))
        .cast(org.apache.spark.sql.types.DayTimeIntervalType()))

  /** Shortest-path pattern — `p = shortestPath((a)-[:T*..h]->(b))`,
    * `allShortestPaths(...)`, or the reference's inline modes
    * `-[e:T *BFS|*WSHORTEST ...]->` (`operator.cpp:2458,2726,3000,3309`).
    *
    * Lowered to the multi-source batched BFS / weighted-rounds operators in
    * [[graft.operators.ShortestPath]]: seeds = distinct bound source ids,
    * one shuffle per level, result re-joined to the frame. `allShortestPaths`
    * has two lowerings: WITHOUT a bound path variable, rows are multiplied
    * by the shortest-path count (`npaths` explode) — same cardinality and
    * lengths as the reference's per-path rows, no vertex lists materialized;
    * WITH one, [[graft.operators.ShortestPath.bfsAllPathsEdges]] enumerates each
    * path's own vertex/edge chain by walking the shortest-path DAG.
    */
  private def planShortest(
      lf: LF,
      part: PatternPart,
      pushWhere: Option[Expr] = None): LF = {
    require(
      part.hops.size == 1,
      "shortest-path pattern must be a single variable-length relationship")
    // USING HOPS LIMIT truncates the reference's traversal MID-SEARCH —
    // handled below via the LocalHops driver replay for subcritical BFS
    // modes; weighted/kshortest modes (and supercritical inputs) raise.
    val (rel, node) = part.hops.head
    // A non-var-length relationship inside shortestPath(...) keeps its
    // single-edge semantics (exactly one hop), matching the reference's
    // pattern typing — only `*lo..hi` widens the search.
    val (lo0, hi0) = rel.varLength.getOrElse((Some(1), Some(1)))
    // inline shortest modes read a bare `*allShortest n` as an UPPER
    // bound (reference grammar), unlike DFS's exactly-n; an explicit
    // `*BFS n..n` keeps its lower bound (exactly-n)
    val (lo, hi) =
      if (rel.mode != "DFS" && rel.bareBound && lo0.isDefined) (None, hi0)
      else (lo0, hi0)
    val minH = lo.getOrElse(1)
    val maxH = hi.getOrElse(Int.MaxValue) // fixpoint-terminated, not capped
    val dir = rel.direction match {
      case OutDir => Expand.Out
      case InDir => Expand.In
      case BothDir => Expand.Both
    }
    // Push already-answerable WHERE conjuncts below the search: the seed
    // set must reflect filters on the source node (a BFS from every node
    // of the label when the statement keeps one seed is the single
    // biggest avoidable cost here) — the reference's planner pushes
    // filters below Expand the same way.
    val (cur0raw, srcName) = bindNode(lf, part.start)
    val cur0 = pushWhere.map(applyPushable(cur0raw, _)).getOrElse(cur0raw)
    val dstName = node.variable.getOrElse(fresh("n"))
    val dstBound = node.variable.exists(cur0.scope.contains)
    val seeds = cur0.df
      .select(Frames.id(srcName).as(ShortestPath.SeedCol))
      .distinct()

    // 2-var (edge, node) lambdas and the relationship's property map are
    // path-independent → ONE pre-filter of the oriented edge set
    // ([[stepEdges]]; raises on the unsupported 3-var form instead of
    // ignoring it); the accumulated-path/weight forms must run per
    // expansion instead (pathLambda below). A `*KSHORTEST` map holds k.
    val pathLambda: Option[StepLambda] =
      rel.filterLambda.filter(l => l.path.isDefined || l.weightVar.isDefined)
    val stepLambda = rel.filterLambda.filterNot(pathLambda.contains)
    val stepProps = if (rel.mode == "KSHORTEST") Nil else rel.props
    def steps(weight: Option[(String, String, Expr)], withStruct: Boolean) =
      stepEdges(rel.types, dir, stepLambda, stepProps, cur0, weight, withStruct)
    lazy val edgesOv: Option[DataFrame] =
      Option.when(stepLambda.isDefined || stepProps.nonEmpty)(
        steps(None, withStruct = false)._1)
    // an unweighted search's traversal edges: the filtered frame when the
    // pattern filters its edges, else the version's typed edge set, whose
    // driver capture is memoized on the version
    def searchEdges: ShortestPath.SearchEdges =
      edgesOv
        .map(ShortestPath.FrameEdges)
        .getOrElse(ShortestPath.TypedEdges(state, rel.types, dir))
    // a weighted search's edges and seeds, and whether it weighs durations
    def weightedFrames(): (DataFrame, DataFrame, Boolean) = {
      val weight = rel.weight.getOrElse(
        throw new IllegalArgumentException(
          "weighted shortest-path mode requires a weight lambda (e, n | expr)"))
      val (edges, isDur) = steps(Some(weight), pathLambda.isDefined)
      (edges, weightedSeeds(rel, seeds, isDur), isDur)
    }

    // the (seed, target) pairs a bound destination reads: the searches
    // that can stop once these are settled take them (their probe and the
    // k-shortest walk take duplicates as they come)
    val targets =
      if (dstBound)
        Some(cur0.df.select(
          Frames.id(srcName).as(ShortestPath.SeedCol),
          Frames.id(dstName).as(ShortestPath.NodeCol)))
      else None

    val all = part.shortest.contains("all") || rel.mode == "ALLSHORTEST"

    // USING HOPS LIMIT on a BFS-family search: replay the reference's
    // partial traversal on the driver when the typed edge set is
    // subcritical — SingleSource (LIFO level pops) for an unconstrained
    // target, bidirectional ST when the target is pinned by binding or
    // property (the reference plans STShortestPath exactly when the
    // sink is scannable, `operator.cpp:2590` FindPath). Breach-free
    // emulation falls through to the distributed operator (identical
    // result); weighted/kshortest modes and supercritical inputs raise.
    lazy val lhShortest: Option[DataFrame] = hopsLimit.flatMap { cap =>
      def unsupported(msg: String) =
        throw new UnsupportedOperationException(
          s"USING HOPS LIMIT $msg — partial traversal order is " +
            "engine-specific, so this engine raises instead of returning " +
            "nondeterministic partial results")
      if (all || rel.mode == "WSHORTEST" || rel.mode == "KSHORTEST")
        unsupported("with weighted/all/k-shortest expansions is unsupported")
      if (cap > LocalHopsMaxCap)
        unsupported(s"above $LocalHopsMaxCap exceeds the driver-replay bound")
      val le = state.localTypedEdges(rel.types).getOrElse(
        unsupported(
          "over a supercritical edge set cannot be replayed exactly"))
      def capped(df: DataFrame, what: String): Seq[Long] =
        graft.operators.Cutover.collect(df)
          .getOrElse(unsupported(
            s"over more $what than the local cutover holds cannot be replayed"))
          .map(_.getLong(0)).sorted.toSeq
      val srcIds = capped(seeds, "seeds")
      val allowedIds = edgesOv.map(
        _.select(col("__sp_eid")).collect().map(_.getLong(0)).toSet)
      val dirOut = dir != Expand.In
      val dirIn = dir != Expand.Out
      val maxHL = if (maxH == Int.MaxValue) Long.MaxValue else maxH.toLong
      val emu =
        if (dstBound || node.props.nonEmpty) {
          val sinkIds: Seq[Long] =
            if (dstBound)
              capped(cur0.df.select(Frames.id(dstName)).distinct(), "sinks")
            else {
              val (sinkLf, sinkVar) =
                bindNode(initial, node.copy(variable = Some(fresh("sink"))))
              capped(sinkLf.df.select(Frames.id(sinkVar)), "sinks")
            }
          graft.operators.LocalHops.st(
            le,
            for (s <- srcIds; t <- sinkIds) yield (s, t),
            dirOut, dirIn, minH, maxHL, lhQuota(cap), allowedIds)
        } else
          graft.operators.LocalHops.bfs(
            le, srcIds, dirOut, dirIn, minH, maxHL, lhQuota(cap), allowedIds)
      if (!emu.breached) None
      else {
        import spark.implicits._
        Some(
          emu.rows
            .map(r => (r.src, r.dst, r.eids.size.toLong, r.nodes, r.eids))
            .toDF(
              ShortestPath.SeedCol, ShortestPath.NodeCol,
              ShortestPath.DistCol, ShortestPath.PathNodesCol,
              ShortestPath.PathEdgesCol))
      }
    }
    // NOTE on path materialization: an after-the-fact DAG reconstruction
    // of representative paths (array-free BFS, then backward-mark +
    // forward-walk restricted to surviving pairs) was implemented and
    // measured here — it DOUBLES the sequential round count, and each
    // round carries a fixed driver/job cost that dominates these
    // fixpoints (bfs_shortest regressed 3×, eager and lazy checkpoint
    // variants both). The winning fix is the WHERE pushdown above: once
    // the seed set reflects the statement's filters, carrying the arrays
    // through the (now small) BFS is strictly cheaper than re-deriving
    // them in extra rounds.

    // a positive integer weight literal (`(r, v | 1)`) weighs every path
    // by its hop count, so the all-shortest search is the unweighted one.
    // `| 0` ties walks of every length and a fractional constant meets the
    // weighted DAG test's tolerance, so neither takes this path.
    val unitWeight = rel.weight.collect {
      case (_, _, Lit(c: Long)) if c > 0 && pathLambda.isEmpty => c
    }
    val res: DataFrame = rel.mode match {
      // first, so that every mode under USING HOPS LIMIT replays or raises
      case _ if lhShortest.isDefined => lhShortest.get
      // KShortestPathsCursor (operator.cpp:3716): k shortest paths by hop
      // count, via [[ShortestPath.kShortest]] — a k-truncated BFS whose
      // frontier is bounded by k per (seed, node) (the distributed Yen
      // analog; the pre-r6 plan enumerated EVERY path up to the bound and
      // ranked afterwards — exponential on hub graphs). k comes from the
      // relationship map: `*KSHORTEST ..h {k: 3}`. Its path variable binds
      // the length only. The tail's endpoint constraints select which
      // pairs survive; per-pair ranks are unaffected, so filtering after
      // the rank-k cut is equivalent.
      case "KSHORTEST" =>
        val k = rel.props.collectFirst { case ("k", Lit(n: Long)) => n.toInt }
          .getOrElse(1)
        val hiB = hi.getOrElse(
          throw new IllegalArgumentException(
            "*KSHORTEST requires an upper hop bound"))
        ShortestPath
          .kShortest(searchEdges, seeds, k, math.max(minH, 1), hiB, targets)
          .drop(ShortestPath.PathNodesCol)
      case "ALLSHORTEST" if unitWeight.isDefined =>
        // the seed weight is 0: the lambda reads no node
        ShortestPath.bfsAllPathsEdges(searchEdges, seeds, maxH, targets)
          .withColumn(
            ShortestPath.WeightCol,
            (col(ShortestPath.DistCol) * unitWeight.get).cast("double"))
      // inline `*allShortest (e, n | w) total`: ALL minimum-WEIGHT paths
      // (the reference's ExpandAllShortestPathsCursor is weighted)
      case "ALLSHORTEST" if rel.weight.isDefined =>
        val (oriented, wSeeds, isDur) = weightedFrames()
        val aRes = pathLambda match {
          case Some(l) =>
            // path-dependent admissibility invalidates the shortest-path
            // DAG factorization — direct enumeration with dominance
            // pruning ([[ShortestPath.weightedAllCarry]])
            ShortestPath.weightedAllCarry(
              oriented, wSeeds, maxH,
              pathStepFilter(l, isDurationWeight = isDur))
          case None =>
            ShortestPath.weightedAllPaths(
              oriented.drop(ShortestPath.EStructCol), wSeeds, maxH)
        }
        if (isDur) durationWeightOut(aRes) else aRes
      case "WSHORTEST" =>
        val (oriented, wSeeds, isDur) = weightedFrames()
        val needCarry = pathLambda.isDefined ||
          rel.variable.isDefined || part.pathVar.isDefined
        val wRes =
          if (!needCarry)
            ShortestPath.weighted(
              wSeeds,
              oriented.drop("__sp_eid", ShortestPath.EStructCol),
              maxRounds = maxH)
          else
            ShortestPath.weightedCarry(
              oriented, wSeeds, maxH,
              pathLambda.map(pathStepFilter(_, isDurationWeight = isDur)))
        if (isDur) durationWeightOut(wRes) else wRes
      case _ if pathLambda.isDefined =>
        // accumulated-path filter: per-expansion evaluation in the
        // distributed BFS (entity structs ride the fixpoint — the price of
        // path-dependent admissibility; only these queries pay it)
        if (all)
          throw new UnsupportedOperationException(
            "allShortestPaths with an accumulated-path filter lambda is " +
              "not supported")
        val l = pathLambda.get
        if (l.weightVar.isDefined)
          throw new UnsupportedOperationException(
            "accumulated-weight lambda variable requires *WSHORTEST")
        ShortestPath.bfsEdges(
          steps(None, withStruct = true)._1, seeds, maxH, pathStepFilter(l))

      case _ =>
        // allShortestPaths with a bound path variable needs every distinct
        // path's own vertex/edge chain (operator.cpp:3309) — the DAG
        // enumeration. Without a path var the multiplicity explode below is
        // equivalent and cheaper (no arrays carried through the rounds).
        val wantPaths = part.pathVar.isDefined || rel.variable.isDefined
        if (all && wantPaths)
          ShortestPath.bfsAllPathsEdges(searchEdges, seeds, maxH, targets)
        else
          ShortestPath.bfsEdges(
            searchEdges, seeds, maxH, withPaths = wantPaths, targets)
    }

    var joined = cur0.df
      .join(res, Frames.id(srcName) === col(ShortestPath.SeedCol))
      .filter(col(ShortestPath.DistCol) >= minH)
      .drop(ShortestPath.SeedCol)
    var scope = cur0.scope

    if (dstBound) {
      joined = joined
        .filter(col(ShortestPath.NodeCol) === Frames.id(dstName))
        .drop(ShortestPath.NodeCol)
    } else {
      val nodesDf =
        node.labels.headOption.map(state.nodesOrEmpty).getOrElse(state.allNodes)
      joined = joined
        .join(
          Frames.bind(dstName)(nodesDf),
          col(ShortestPath.NodeCol) === Frames.id(dstName))
        .drop(ShortestPath.NodeCol)
      scope += (dstName -> Binding.NodeB)
      setHint(dstName, node.labels.headOption.map(Set(_)))
    }

    if (all && joined.columns.contains(ShortestPath.NPathsCol))
      joined = joined
        .withColumn(
          "__sp_dup",
          explode(sequence(lit(1L), col(ShortestPath.NPathsCol))))
        .drop("__sp_dup")
    if (joined.columns.contains(ShortestPath.NPathsCol))
      joined = joined.drop(ShortestPath.NPathsCol)

    // bind the relationship's edge-list variable (`-[le *bfs..]->`:
    // le = traversed edge ids, EdgeUniquenessFilter-compatible); a
    // k-shortest search binds one whether it is named or not
    val edgeList =
      rel.variable.orElse(Option.when(rel.mode == "KSHORTEST")(fresh("e")))
    edgeList.foreach { ev2 =>
      if (joined.columns.contains(ShortestPath.PathEdgesCol)) {
        joined = joined.withColumn(
          s"$ev2${Frames.Sep}_ids", col(ShortestPath.PathEdgesCol))
        scope += (ev2 -> Binding.EdgeListB)
      }
    }
    part.pathVar.foreach { pv =>
      joined = joined.withColumn(
        s"$pv${Frames.Sep}_len",
        col(ShortestPath.DistCol))
      // real path values (operator.cpp:2458): nodes(p)/relationships(p)
      // work on BFS shortest-path bindings, not just DFS named paths
      if (joined.columns.contains(ShortestPath.PathNodesCol))
        joined = joined
          .withColumn(s"$pv${Frames.Sep}_nodes", col(ShortestPath.PathNodesCol))
          .withColumn(s"$pv${Frames.Sep}_edges", col(ShortestPath.PathEdgesCol))
      scope += (pv -> Binding.PathB)
    }
    joined = joined.drop(ShortestPath.PathNodesCol, ShortestPath.PathEdgesCol)
    rel.totalVar.foreach { tv =>
      joined = joined.withColumn(
        s"$tv${Frames.Sep}_val",
        col(ShortestPath.WeightCol))
      scope += (tv -> Binding.ValueB)
    }
    joined = joined.drop(ShortestPath.DistCol, ShortestPath.WeightCol)

    var out = LF(joined, scope)
    if (!dstBound)
      out = nodeConstraints(out, dstName, node.labels, node.props, node.orLabels)
    out
  }

  /** VariableStartPlanner analog (reference
    * plan/variable_start_planner.hpp + cost_estimator.hpp): a MATCH chain
    * whose textual start would SCAN a big side while the other end is
    * already bound (cost 0) or carries a much smaller label reverses, so
    * the cheap side drives the expansion. Estimates come from memoized
    * label-frame counts ([[GraphState.labelCountEstimate]] — the
    * VertexCountCache analog). Reversal is skipped whenever orientation
    * is observable: named paths (node order), per-step lambdas (their
    * per-step target flips), USING HOPS LIMIT (the reference's partial
    * order is traversal-order-defined). */
  private def choosePatternOrientation(lf: LF, p: PatternPart): PatternPart = {
    if (p.hops.isEmpty || p.pathVar.isDefined) return p
    if (p.hops.exists { case (r, _) =>
        r.filterLambda.isDefined || r.weight.isDefined || r.bothArrows ||
          r.variable.exists(lf.scope.contains) ||
          // a NAMED var-length list's element order is observable and
          // orientation-defined — don't flip it
          (r.varLength.isDefined && r.variable.isDefined)
      }) return p
    if (hopsLimit.isDefined) return p
    val startBound = p.start.variable.exists(lf.scope.contains)
    if (startBound) return p
    val endNode = p.hops.last._2
    val endBound = endNode.variable.exists(lf.scope.contains)
    def est(n: NodePattern): Double =
      n.labels.headOption
        .map(l => state.labelCountEstimate(l).toDouble)
        .getOrElse(state.totalNodeEstimate.toDouble)
    val doReverse =
      endBound || (endNode.labels.nonEmpty &&
        est(endNode) * 2 < est(p.start))
    if (!doReverse) p
    else {
      val nodes = p.start +: p.hops.map(_._2)
      val rels = p.hops.map(_._1)
      def flip(r: RelPattern): RelPattern = r.direction match {
        case OutDir => r.copy(direction = InDir)
        case InDir => r.copy(direction = OutDir)
        case BothDir => r
      }
      p.copy(
        start = nodes.last,
        hops = rels.indices.reverse.map(i => (flip(rels(i)), nodes(i))))
    }
  }

  /** Bind (or re-constrain) the first node of a pattern part. */
  private def bindNode(lf: LF, n: NodePattern): (LF, String) = {
    val name = n.variable.getOrElse(fresh("n"))
    if (n.variable.exists(lf.scope.contains)) {
      // re-matching from a DELETEd binding is a use of the deleted object
      // (memgraph.feature "Use deleted node": … DETACH DELETE a WITH a
      // MATCH (a)-[r]->() raises)
      if (deletedVars.contains(name))
        throw new IllegalStateException(
          s"Trying to use a deleted object (variable `$name`).")
      // already bound: apply label/prop constraints as filters
      (nodeConstraints(lf, name, n.labels, n.props, n.orLabels), name)
    } else {
      val scan =
        if (n.orLabels.nonEmpty)
          // label ALTERNATION: union of the label frames (the label
          // index), deduped by id (multi-label rows live in every frame)
          n.orLabels
            .map(state.nodesOrEmpty)
            .reduce(_.unionByName(_, allowMissingColumns = true))
            .dropDuplicates(GraphState.IdCol)
        else
          n.labels.headOption match {
            case Some(l) => state.nodesOrEmpty(l)
            case None => state.allNodes
          }
      val bound = Frames.bind(name)(scan)
      // Cartesian with an already-bound frame (disconnected patterns,
      // `MATCH (a:Big), (b:Small)`): when THIS scan's label estimate is
      // small, broadcast it — the reference costs per-pattern starts
      // (variable_start_planner.hpp:161-204) and a small dimension side
      // must never shuffle the big side at cluster scale. Estimates are
      // memoized real label counts, so the hint can't blow the 8 GB
      // broadcast ceiling on a mis-guess.
      def scanEst: Double =
        if (n.orLabels.nonEmpty)
          n.orLabels.map(l => state.labelCountEstimate(l).toDouble).sum
        else n.labels.headOption
          .map(l => state.labelCountEstimate(l).toDouble)
          .getOrElse(state.totalNodeEstimate.toDouble)
      val df =
        if (lf.df.columns.isEmpty) bound // first scan replaces Once
        else if (scanEst <= BroadcastNodeScanRows)
          lf.df.crossJoin(broadcast(bound))
        else lf.df.crossJoin(bound) // Cartesian (operator.hpp:2797)
      val lf2 = LF(df, lf.scope + (name -> Binding.NodeB))
      setHint(name, n.labels.headOption.map(Set(_)))
      (nodeConstraints(lf2, name, n.labels, n.props, n.orLabels), name)
    }
  }

  private def nodeConstraints(
      lf: LF,
      v: String,
      extraLabels: Seq[String],
      props: Seq[(String, Expr)],
      orLabels: Seq[String] = Nil): LF = {
    var cur = lf
    if (orLabels.nonEmpty)
      cur = LF(
        cur.df.filter(arrays_overlap(
          Frames.f(v, GraphState.LabelsCol),
          array(orLabels.sorted.map(lit): _*))),
        cur.scope)
    extraLabels.foreach { l =>
      cur = LF(
        cur.df.filter(array_contains(Frames.f(v, GraphState.LabelsCol), l)),
        cur.scope)
    }
    props.foreach { case (k, e0) =>
      // property patterns may hold pattern comprehensions
      // (`MERGE (n {val: [(x)--() | 1]})` re-match) — frame rewrite first
      val (cur2, e) = rewriteOneExpr(cur, e0)
      cur = cur2
      val low = new ExprLowering(cur.df, cur.scope, params, enums = state.enums)
      // equality through the expression lowering, not a raw `===`: a
      // mixed-type (variant-encoded) property column needs the Cypher
      // cross-type rules, and Spark's variant = string comparison fails
      // analysis outright
      cur = LF(
        cur.df.filter(low.lower(BinOp("=", Prop(Var(v), k), e)) <=> lit(true)),
        cur.scope)
    }
    cur
  }

  private def relConstraints(lf: LF, v: String, props: Seq[(String, Expr)]): LF =
    if (props.isEmpty) lf
    else nodeConstraints(lf, v, Nil, props)

  /** Cyphermorphism: all single-edge vars bound in one MATCH are pairwise
    * distinct (reference `EdgeUniquenessFilter`, operator.hpp:1768). Edge ids
    * are globally unique so a plain id-inequality suffices across types. */
  private def edgeUniqueness(lf: LF, edgeVars: Seq[String]): LF = {
    val pairs = for {
      i <- edgeVars.indices
      j <- (i + 1) until edgeVars.size
    } yield (edgeVars(i), edgeVars(j))
    val df = pairs.foldLeft(lf.df) { case (d, (a, b)) =>
      d.filter(Frames.id(a) =!= Frames.id(b))
    }
    LF(df, lf.scope)
  }

  // ---------------- WHERE ----------------

  private def conjuncts(e: Expr): Seq[Expr] = e match {
    case BinOp("AND", a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  /** Apply every WHERE conjunct that already lowers against this frame
    * (all its variables bound, no pattern predicate) as a plain filter.
    * Used for pushdown into driver-steered operators (shortest paths),
    * where Catalyst cannot push through the materialization barrier
    * itself. Re-applying the same conjunct later (planWhere) is a no-op
    * filter, so pushing is always safe. */
  private def applyPushable(lf: LF, where: Expr): LF =
    conjuncts(where).foldLeft(lf) { (cur, e) =>
      e match {
        case _: PatternPredicate => cur
        case Not(_: PatternPredicate) => cur
        case _ =>
          scala.util.Try {
            val c = lowering(cur).lower(e)
            cur.df.select(c).schema // resolve now: unbound vars throw here
            LF(cur.df.filter(c), cur.scope)
          }.getOrElse(cur)
      }
    }

  /** Constant value → literal AST (helper-call props). */
  private def valueExpr(v: Any): Expr = v match {
    case m: Map[_, _] =>
      MapLit(m.toSeq.map { case (k, x) => k.toString -> valueExpr(x) })
    case xs: Seq[_] => ListLit(xs.map(valueExpr))
    case other => Lit(other)
  }

  /** The constant-argument rewrite for helper write procedures: render
    * the equivalent Cypher and run it through a sub-planner (standalone
    * CALLs, or id-targeted idempotent writes where once == per-row). */
  private def planHelperTextForm(
      lf: LF,
      name: String,
      args: Seq[Expr],
      yieldsRaw: Seq[(String, Option[String])],
      callWhere: Option[Expr]): LF = {
    val q = HelperCalls.render(name, args.map(constValue))
    val sub = new Planner(spark, rebased, params)
    val out = sub.plan(CypherParser.parse(q))
    state = sub.currentState
    subHigh = math.max(subHigh, sub.idHighWater)
    val yields1: Seq[(String, String)] =
      if (yieldsRaw.isEmpty) out.columns.toSeq.map(c => (c, c))
      else yieldsRaw.map { case (n, a) => (n, a.getOrElse(n)) }
    if (yields1.isEmpty) lf // yield-less write (nodes.delete)
    else {
      val missing = yields1.map(_._1).filterNot(out.columns.contains)
      require(missing.isEmpty, s"procedure $name does not yield: $missing")
      val selected = out.select(
        yields1.map { case (n, al) =>
          col(n).as(s"$al${Frames.Sep}_val")
        }: _*)
      val df =
        if (lf.df.columns.isEmpty) selected
        else lf.df.crossJoin(selected)
      val lf2 = LF(
        df,
        yields1.foldLeft(lf.scope)((sc, y) =>
          sc + (y._2 -> Binding.ValueB)))
      callWhere
        .map(w => LF(lf2.df.filter(lowering(lf2).lower(w)), lf2.scope))
        .getOrElse(lf2)
    }
  }

  /** The single yield alias of a helper node write (`YIELD node [AS x]`;
    * empty YIELD = the reference's declared name). */
  private def helperNodeAlias(
      name: String,
      yieldsRaw: Seq[(String, Option[String])]): String = yieldsRaw match {
    case Nil => "node"
    case Seq(("node", a)) => a.getOrElse("node")
    case other =>
      throw new IllegalArgumentException(
        s"$name yields only `node`, got ${other.map(_._1)}")
  }

  /** `create.node(labels, props)` / `merge.node(labels, identProps,
    * createProps, matchProps)` (create_module.cpp:49, merge_module.cpp:20)
    * run once per input row, so they plan as the clauses they name over
    * the current frame: `CREATE (node:labels {props})` and `MERGE
    * (node:labels {ident}) ON CREATE SET node += create ON MATCH SET node
    * += match`. Constant and per-row arguments take this one path.
    * Constant labels stay static; per-row labels (create.node only — a
    * MERGE has no per-row label key) become a dynamic label over the
    * projected label list. A property map expands to one item per key:
    * the items of a map literal, the fields of a struct, or the keys of a
    * map value (collected once). */
  private def planHelperNodeWrite(
      lf: LF,
      name: String,
      args: Seq[Expr],
      yieldsRaw: Seq[(String, Option[String])],
      callWhere: Option[Expr]): LF = {
    import org.apache.spark.sql.types.{MapType, NullType, StructType}
    val alias = helperNodeAlias(name, yieldsRaw)
    // a non-constant argument is projected once into a hidden value column
    var cur = lf
    var hidden = Vector.empty[String]
    def project(e: Expr): (String, Column) = {
      val h = fresh("hc")
      val c = s"$h${Frames.Sep}_val"
      cur = LF(
        cur.df.withColumn(c, lowering(cur).lower(e)),
        cur.scope + (h -> Binding.ValueB))
      hidden :+= h
      (h, col(c))
    }
    val labels: Seq[String] = args.headOption.fold(Seq.empty[String]) { e =>
      constValueOpt(e) match {
        case Some(null) => Nil
        case Some(l: String) => Seq(l)
        case Some(ls: Seq[_]) => ls.map(_.toString)
        case Some(other) =>
          throw new IllegalArgumentException(
            s"$name labels: need string(s), got $other")
        case None if name == "merge.node" =>
          throw new UnsupportedOperationException(
            "merge.node: labels must be constant (a per-row dynamic-label " +
              "merge has no batch key)")
        case None => Seq("$." + project(e)._1)
      }
    }
    def props(i: Int): Seq[(String, Expr)] = args.lift(i) match {
      case None => Nil
      case Some(MapLit(items)) => items
      case Some(e) => constValueOpt(e) match {
        case Some(null) => Nil
        case Some(m: Map[_, _]) =>
          m.toSeq.map { case (k, x) => k.toString -> valueExpr(x) }
        case Some(other) =>
          throw new IllegalArgumentException(
            s"$name: need a property map, got $other")
        case None =>
          val (h, c) = project(e)
          val keys = cur.df.select(c).schema.head.dataType match {
            case s: StructType => s.fieldNames.toSeq
            case _: MapType =>
              // key set collected ONCE (schema-sized, not data-sized)
              cur.df.select(explode(map_keys(c)).as("__k")).distinct()
                .collect().map(_.getString(0)).filter(_ != null).sorted.toSeq
            case NullType => Nil
            case other =>
              throw new IllegalArgumentException(
                s"$name: need a property map, got $other")
          }
          keys.map(k => k -> Prop(Var(h), k))
      }
    }
    val node =
      PatternPart(None, NodePattern(Some(alias), labels, props(1)), Nil)
    def setAll(i: Int): Seq[SetItem] = props(i) match {
      case Nil => Nil
      case kvs => Seq(SetAllProps(alias, MapLit(kvs), update = true))
    }
    val clause =
      if (name == "create.node") CreateCl(Seq(node))
      else MergeCl(node, setAll(2), setAll(3))
    val out = planClause(cur, clause)
    val lf2 = LF(
      Frames.unbind(out.df, hidden),
      Scope(out.scope.vars.filterNot { case (v, _) => hidden.contains(v) }))
    callWhere
      .map(w => LF(lf2.df.filter(lowering(lf2).lower(w)), lf2.scope))
      .getOrElse(lf2)
  }

  /** `create.relationship(from, type, props, to)` /
    * `merge.relationship(start, type, identProps, createProps, end,
    * matchProps)` (reference create_module.cpp:105, merge_module.cpp:31):
    * endpoints are BOUND node variables, so the call is synthesized as a
    * Create/Merge clause against the current frame — a single batch plan
    * per statement (the reference runs the procedure once per input row;
    * same result, one shuffle instead of a driver loop). */
  private def planHelperRelationship(
      lf: LF,
      name: String,
      args: Seq[Expr],
      yieldsRaw: Seq[(String, Option[String])],
      callWhere: Option[Expr]): LF = {
    def nodeVar(i: Int, what: String): String = args.lift(i) match {
      case Some(Var(n)) if lf.scope.get(n).contains(Binding.NodeB) => n
      case other =>
        throw new IllegalArgumentException(
          s"$name: $what must be a bound node variable, got $other")
    }
    def constMapExprs(i: Int): Seq[(String, Expr)] =
      args.lift(i).map(constValue).orNull match {
        case null => Nil
        case m: Map[_, _] =>
          m.toSeq.map { case (k, x) => k.toString -> valueExpr(x) }
        case other =>
          throw new IllegalArgumentException(s"$name: need a map, got $other")
      }
    val tpe = constValue(args(1)).toString
    val rv = fresh("hrel")
    def chain(fromV: String, toV: String, props: Seq[(String, Expr)]) =
      PatternPart(
        None,
        NodePattern(Some(fromV), Nil, Nil),
        Seq((
          RelPattern(Some(rv), Seq(tpe), props, OutDir, None),
          NodePattern(Some(toV), Nil, Nil))))
    val (lf2, dfltYield) = name match {
      case "create.relationship" =>
        val part = chain(nodeVar(0, "from"), nodeVar(3, "to"), constMapExprs(2))
        (planClause(lf, CreateCl(Seq(part))), "relationship")
      case _ => // merge.relationship
        val part =
          chain(nodeVar(0, "startNode"), nodeVar(4, "endNode"), constMapExprs(2))
        def setAll(i: Int): Seq[SetItem] = constMapExprs(i) match {
          case Nil => Nil
          case kvs => Seq(SetAllProps(rv, MapLit(kvs), update = true))
        }
        (planClause(lf, MergeCl(part, setAll(3), setAll(5))), "rel")
    }
    val alias = yieldsRaw match {
      case Seq() => dfltYield
      case Seq((n, a)) if n == dfltYield => a.getOrElse(n)
      case other =>
        throw new IllegalArgumentException(
          s"$name yields only '$dfltYield', got $other")
    }
    val renamed = Frames.colsOf(lf2.df, rv).foldLeft(lf2.df)((d, c) =>
      d.withColumnRenamed(c, alias + c.substring(rv.length)))
    val lf3 = LF(
      renamed,
      Scope(lf2.scope.vars.filterNot(_._1 == rv) :+ (alias -> Binding.EdgeB)))
    callWhere
      .map(w => LF(lf3.df.filter(lowering(lf3).lower(w)), lf3.scope))
      .getOrElse(lf3)
  }

  private def planWhere(lf: LF, where: Expr): LF =
    conjuncts(where).foldLeft(lf) {
      case (cur, PatternPredicate(p, _, bare)) =>
        patternJoin(cur, p, anti = false, bare = bare)
      case (cur, Not(PatternPredicate(p, _, bare))) =>
        patternJoin(cur, p, anti = true, bare = bare)
      case (cur, ExistsSubquery(q)) => planExistsSubquery(cur, q, anti = false)
      case (cur, Not(ExistsSubquery(q))) =>
        planExistsSubquery(cur, q, anti = true)
      case (cur, e) =>
        // frame-dependent rewrites (degree calls, pattern comprehensions)
        // apply in WHERE too; helper columns wash out at the next projection.
        // MATCH-WHERE is the one position where nested exists((…)) is
        // legal (direct CASE/reduce children still reject — the rewrite
        // flips the flag one level down, which covers the reference's
        // grammar-level restriction).
        val (cur2, items) = rewritePatternComprehensions(
          cur, Seq(("__w", guardDeleted(e))), allowExists = true)
        // entity-valued access on path / var-length bindings ((r[0]).id)
        // needs the struct materialization here too, not just in RETURN
        var cur3 = cur2
        varsIn(items.head._2, skipLengthOnly = true).foreach { n =>
          cur3.scope.get(n) match {
            case Some(Binding.PathB) => cur3 = materializePathEntities(cur3, n)
            case Some(Binding.EdgeListB) =>
              cur3 = materializeEdgeListEntities(cur3, n)
            case _ => ()
          }
        }
        LF(cur3.df.filter(lowering(cur3).lower(items.head._2)), cur3.scope)
    }

  /** EXISTS { <subquery> } (exists.hpp full form): the inner query plans
    * FROM the outer frame (inner names shared with the outer scope are the
    * same variables — cypher EXISTS correlation), tagged with a per-row
    * key; rows whose key survives any branch pass the semi (anti) join.
    * Inner WITH/RETURN projections implicitly carry the outer variables
    * (subquery scoping keeps them visible). */
  private def planExistsSubquery(lf: LF, q: Query, anti: Boolean): LF = {
    val branches = q.first +: q.unions.map(_._2)
    // the reference rejects updating clauses inside EXISTS (exists.hpp)
    require(
      !branches.exists(_.clauses.exists(mutatesClause)),
      "EXISTS { } subquery cannot contain updating clauses")
    if (lf.df.columns.isEmpty) {
      // no outer bindings: plain non-emptiness of any branch
      val any = branches.exists { sq =>
        !sq.clauses.foldLeft(initial)(planClause).df.isEmpty
      }
      return if (any != anti) lf else LF(lf.df.limit(0), lf.scope)
    }
    val kv = fresh("exk").stripPrefix("__") // no __ prefix: survives WITH *
    val keyCol = s"$kv${Frames.Sep}_val"
    // the key must be STABLE across branch re-evaluations →
    // localCheckpoint pins the assignment (general-form EXISTS only; the
    // common pattern shapes keep the cheaper decorrelated patternJoin)
    val seeded = LF(
      lf.df.withColumn(keyCol, monotonically_increasing_id())
        .transform(Scratch.cp),
      lf.scope + (kv -> Binding.ValueB))
    val outer = lf.scope.vars.map(_._1) :+ kv
    def planInner(sq: SingleQuery): DataFrame = {
      var s = seeded
      def carryInto(body: ProjectionBody): ProjectionBody =
        if (body.star) body
        else {
          val produced = body.items.zipWithIndex.map {
            case (ReturnItem(e, as), i) => as.getOrElse(deriveAlias(e, i))
          }
          val keep = outer.filter(n =>
            s.scope.contains(n) && !produced.contains(n))
          body.copy(items =
            body.items ++ keep.map(n => ReturnItem(Var(n), Some(n))))
        }
      def aggOnly(body: ProjectionBody): Boolean = {
        val l = lowering(s)
        !body.star && body.items.nonEmpty &&
          body.items.forall(it => l.hasAgg(it.expr))
      }
      // An aggregate-only projection yields exactly ONE row per outer
      // binding even when zero rows matched (count(*) = 0 still produces a
      // row, so EXISTS { … RETURN count(*) } is always true in Cypher).
      // The carried-key groupBy would drop zero-match bindings — union the
      // missing keys back with the aggregate's empty-input defaults.
      def planAggProjection(body: ProjectionBody, w: Option[Expr]): Unit = {
        val before = s
        val grouped = planClause(before, With(carryInto(body), None))
        val defaults =
          planClause(LF(before.df.limit(0), before.scope), With(body, None)).df
        val missing = seeded.df
          .join(grouped.df.select(col(keyCol)), Seq(keyCol), "left_anti")
        val carried = grouped.df.columns.filterNot(defaults.columns.contains)
        val fill = missing.select(carried.map(col): _*).crossJoin(defaults)
        s = LF(grouped.df.unionByName(fill), grouped.scope)
        w.foreach(e => s = planWhere(s, e))
      }
      sq.clauses.foreach {
        case With(body, w) if aggOnly(body) => planAggProjection(body, w)
        case Return(body) if aggOnly(body) => planAggProjection(body, None)
        case With(body, w) => s = planClause(s, With(carryInto(body), w))
        case Return(body) =>
          // a trailing RETURN cannot change row existence — plan it as a
          // carrying WITH so the key column survives
          s = planClause(s, With(carryInto(body), None))
        case c => s = planClause(s, c)
      }
      s.df
    }
    val matched = branches
      .map(sq => planInner(sq).select(col(keyCol)))
      .reduce(_ unionByName _)
      .distinct()
    val joined = seeded.df
      .join(matched, Seq(keyCol), if (anti) "left_anti" else "left_semi")
      .drop(keyCol)
    LF(joined, lf.scope)
  }

  /** Decorrelated pattern predicate: seed the sub-pattern from the distinct
    * bindings of its shared variables, expand, then semi/anti join back —
    * reference `EvaluatePatternFilter` (operator.hpp:2427) as a join. */
  private def patternJoin(
      lf: LF, part: PatternPart, anti: Boolean,
      bare: Boolean = false): LF = {
    val patVars =
      (part.start.variable.toSeq ++ part.hops.flatMap { case (r, n) =>
        r.variable.toSeq ++ n.variable.toSeq
      })
    // the reference rejects NEW named variables inside a pattern
    // predicate (`WHERE (a)-[:NEXT]->(b)` with unbound b — use an
    // anonymous node, a pattern comprehension, or a full MATCH)
    val fresh0 = patVars.filterNot(lf.scope.contains).distinct
    if (bare && fresh0.nonEmpty)
      throw new IllegalArgumentException(
        s"Invalid use of new variable(s) ${fresh0.mkString(", ")} in a " +
          "pattern expression — only bound or anonymous pattern elements " +
          "are allowed here")
    val shared = patVars.filter(lf.scope.contains).distinct
    require(
      shared.nonEmpty,
      "pattern predicate must share at least one variable with the outer query")

    val seedCols = shared.flatMap(v => Frames.colsOf(lf.df, v))
    val seedScope =
      Scope(lf.scope.vars.filter { case (n, _) => shared.contains(n) })
    val seed = LF(lf.df.select(seedCols.map(col): _*).distinct(), seedScope)

    val (sub0, subEdges) = planPattern(seed, part)
    // Cyphermorphism applies inside the predicate's own pattern too:
    // exists(()-[]->(n)<-[]-()) needs two DISTINCT edges (operator.hpp:1768)
    val sub = edgeUniqueness(sub0, subEdges)
    val keyCols = shared.map(v => s"$v${Frames.Sep}${GraphState.IdCol}")
    val matched = sub.df
      .select(keyCols.map(col): _*)
      .distinct()
    val renamed = keyCols.foldLeft(matched)((d, c) =>
      d.withColumnRenamed(c, s"__pj_$c"))
    val cond = keyCols
      .map(c => col(c) === col(s"__pj_$c"))
      .reduce(_ && _)
    val joined =
      lf.df.join(renamed, cond, if (anti) "left_anti" else "left_semi")
    LF(joined, lf.scope)
  }

  // ---------------- OPTIONAL MATCH ----------------

  private def planOptional(
      lf: LF,
      patterns: Seq[PatternPart],
      where: Option[Expr]): LF = {
    val patVars = patterns.flatMap(p =>
      p.start.variable.toSeq ++ p.hops.flatMap { case (r, n) =>
        r.variable.toSeq ++ n.variable.toSeq
      })
    // the OPTIONAL branch's WHERE may reference outer vars that are not
    // in the pattern (`OPTIONAL MATCH (a2)<-[r]-(b2) WHERE a1 = a2`) —
    // they correlate too
    val whereVars =
      where.toSeq.flatMap(w => varsIn(w)).filterNot(patVars.contains)
    val shared =
      (patVars ++ whereVars).filter(lf.scope.contains).distinct

    // plan the optional branch seeded from distinct shared bindings —
    // entity vars dedupe on their ID alone (it determines the row, the
    // shuffle key stays thin, and variant-typed property columns — which
    // Spark refuses in set operations — ride along as payload)
    val seedCols = shared.flatMap(v => Frames.colsOf(lf.df, v))
    val seedScope =
      Scope(lf.scope.vars.filter { case (n, _) => shared.contains(n) })
    val seedKeys = shared.flatMap { v =>
      lf.scope.get(v) match {
        case Some(Binding.NodeB) | Some(Binding.EdgeB) =>
          Seq(s"$v${Frames.Sep}${GraphState.IdCol}")
        case _ => Frames.colsOf(lf.df, v)
      }
    }
    val seed =
      if (shared.nonEmpty)
        LF(
          lf.df.select(seedCols.map(col): _*).dropDuplicates(seedKeys),
          seedScope)
      else initial

    var sub = seed
    patterns.foreach { p =>
      // the WHERE is part of an OPTIONAL MATCH (filters the sub before
      // the outer join), so the var-length pushdown applies here too
      val (next, edges) = planPattern(sub, p, where)
      sub = edgeUniqueness(next, edges)
    }
    sub = where.map(w => planWhere(sub, w)).getOrElse(sub)

    if (shared.isEmpty) {
      // OPTIONAL MATCH with no correlation: cross join, NULL row if empty —
      // emulate with a left join on a constant key.
      val l = lf.df.withColumn("__ok", lit(1))
      val r = sub.df.withColumn("__ok", lit(1))
      val joined = l.join(r, Seq("__ok"), "left_outer").drop("__ok")
      return LF(joined, sub.scope.vars.foldLeft(lf.scope)(_ + _))
    }

    val keyCols = shared.map(v => varKeyCol(seed.df, v))
    // drop the duplicated shared columns from the sub side, keep its new vars
    val newVars = sub.scope.vars.map(_._1).filterNot(shared.contains)
    val subKeep =
      keyCols ++ newVars.flatMap(v => Frames.colsOf(sub.df, v))
    val subRenamed = keyCols.foldLeft(sub.df.select(subKeep.distinct.map(col): _*))(
      (d, c) => d.withColumnRenamed(c, s"__om_$c"))
    // null-safe: a NULL-valued correlation key (value vars) still joins
    val cond = keyCols.map(c => col(c) <=> col(s"__om_$c")).reduce(_ && _)
    val joined = lf.df
      .join(subRenamed, cond, "left_outer")
      .drop(keyCols.map(c => s"__om_$c"): _*)
    val scope2 = sub.scope.vars
      .filter { case (n, _) => newVars.contains(n) }
      .foldLeft(lf.scope)(_ + _)
    LF(joined, scope2)
  }

  // ---------------- WITH / RETURN ----------------

  private def deriveAlias(e: Expr, i: Int): String = e match {
    case Var(n) => n
    case Prop(Var(n), k) => s"${n}_$k"
    case _ => s"col$i"
  }

  /** Join a path's node/edge ID arrays to their entity frames and rebuild
    * them as ordered entity-struct arrays (`_nodestructs`/`_edgestructs`).
    * posexplode → equi-join → per-row ordered re-collect: three shuffles,
    * only paid when a path is projected as a VALUE — the reference's
    * output path reconstruction does equivalent work per row. */
  private def materializePathEntities(lf: LF, pv: String): LF = {
    val nsCol = s"$pv${Frames.Sep}_nodestructs"
    val esCol = s"$pv${Frames.Sep}_edgestructs"
    val idsN = s"$pv${Frames.Sep}_nodes"
    val idsE = s"$pv${Frames.Sep}_edges"
    if (lf.df.columns.contains(nsCol) || !lf.df.columns.contains(idsN))
      return lf
    val keyed = withSeqIdPinned(lf.df, "__pm_row", 0L)._1
    def entsOf(frame: DataFrame): DataFrame =
      frame.select(
        col(GraphState.IdCol).as("__ent_id"),
        struct(frame.columns.map(col).toSeq: _*).as("__ent"))
    def collected(
        base: DataFrame,
        idsCol: String,
        entFrame: DataFrame,
        out: String): DataFrame =
      base
        .select(
          col("__pm_row"),
          posexplode(col(idsCol)).as(Seq("__pm_pos", "__pm_id")))
        .join(entsOf(entFrame), col("__pm_id") === col("__ent_id"))
        .groupBy("__pm_row")
        .agg(
          transform(
            array_sort(collect_list(
              struct(col("__pm_pos").as("p"), col("__ent").as("e")))),
            x => x.getField("e")).as(out))
    // edges first: var-length segments record only SEGMENT-ENDPOINT node
    // ids, so the full node sequence is recovered by WALKING the edge
    // structs from the first node (each edge contributes its other
    // endpoint — orientation-agnostic, so Both-direction hops work too)
    var out = keyed
      .join(
        collected(keyed, idsE, state.allEdges, esCol),
        Seq("__pm_row"),
        "left_outer")
    // a zero-edge path has no exploded edge rows: empty array, not NULL —
    // but an OPTIONAL-miss row (no path at all: node-id array NULL) stays
    // NULL end to end, so `RETURN p` projects the null VALUE
    out = out.withColumn(
      esCol,
      when(col(idsN).isNull, lit(null))
        .otherwise(
          coalesce(col(esCol), array().cast(out.schema(esCol).dataType))))
    out = out
      .withColumn(
        "__pm_walk",
        when(col(idsN).isNull, lit(null))
          .otherwise(aggregate(
            col(esCol),
            array(col(idsN).getItem(0)),
            (acc, e) =>
              concat(
                acc,
                array(
                  when(
                    e.getField(GraphState.SrcCol) === element_at(acc, -1),
                    e.getField(GraphState.DstCol))
                    .otherwise(e.getField(GraphState.SrcCol)))))))
      .transform(Scratch.cp)
    out = out
      .join(
        collected(out, "__pm_walk", state.allNodes, nsCol),
        Seq("__pm_row"),
        "left_outer")
      .withColumn(idsN, col("__pm_walk"))
      .drop("__pm_walk")
    LF(out.drop("__pm_row"), lf.scope)
  }

  /** Materialize a var-length relationship binding's edge ENTITIES
    * (`v@_structs` from `v@_ids`) — a var-length variable IS a list of
    * relationships in Cypher, so `RETURN r` must produce values, not ids.
    * Same explode→join→re-sort shape as [[materializePathEntities]]. */
  private def materializeEdgeListEntities(lf: LF, v: String): LF = {
    val idsCol = s"$v${Frames.Sep}_ids"
    val outCol = s"$v${Frames.Sep}_structs"
    if (lf.df.columns.contains(outCol) || !lf.df.columns.contains(idsCol))
      return lf
    val keyed = withSeqIdPinned(lf.df, "__el_row", 0L)._1
    val edges = state.allEdges
    val ents = edges.select(
      col(GraphState.IdCol).as("__ent_id"),
      struct(edges.columns.map(col).toSeq: _*).as("__ent"))
    val collected = keyed
      .select(
        col("__el_row"),
        posexplode(col(idsCol)).as(Seq("__el_pos", "__el_id")))
      .join(ents, col("__el_id") === col("__ent_id"))
      .groupBy("__el_row")
      .agg(
        transform(
          array_sort(collect_list(
            struct(col("__el_pos").as("p"), col("__ent").as("e")))),
          x => x.getField("e")).as(outCol))
    var out = keyed
      .join(collected, Seq("__el_row"), "left_outer")
    // an empty bound list materializes as [], an OPTIONAL-miss (ids
    // column NULL) stays NULL — `RETURN r` must project the null VALUE
    out = out.withColumn(
      outCol,
      when(col(idsCol).isNull, lit(null))
        .otherwise(
          coalesce(col(outCol), array().cast(out.schema(outCol).dataType))))
    LF(out.drop("__el_row"), lf.scope)
  }

  /** Free variable names referenced anywhere in an expression (pattern
    * positions included) — best-effort; construct-local lambda vars may
    * be over-included, which only costs a no-op materialization probe.
    * With `skipLengthOnly`, `length(v)` / `size(v)` / `size(nodes(v))` /
    * `size(relationships(v))` / `v IS [NOT] NULL` subtrees are NOT counted
    * — those answers come from the id arrays, no entity values required. */
  private def varsIn(
      e: Expr,
      skipLengthOnly: Boolean = false): Set[String] = {
    val out = scala.collection.mutable.Set.empty[String]
    def gPart(p: PatternPart): Unit = {
      p.start.variable.foreach(out += _)
      p.start.props.foreach { case (_, x) => g(x) }
      p.hops.foreach { case (r, n) =>
        r.variable.foreach(out += _)
        r.props.foreach { case (_, x) => g(x) }
        n.variable.foreach(out += _)
        n.props.foreach { case (_, x) => g(x) }
      }
    }
    def g(x: Expr): Unit = x match {
      case FnCall(fn, _, Seq(Var(_)))
          if skipLengthOnly && Set("length", "size")(fn.toLowerCase) =>
        ()
      case FnCall(fn, _, Seq(FnCall(inner, _, Seq(Var(_)))))
          if skipLengthOnly && fn.toLowerCase == "size" &&
            Set("nodes", "relationships")(inner.toLowerCase) =>
        ()
      case IsNull(Var(_), _) if skipLengthOnly => ()
      case Var(n) => out += n
      case Prop(a, _) => g(a)
      case BinOp(_, a, b) => g(a); g(b)
      case Not(a) => g(a)
      case Neg(a) => g(a)
      case IsNull(a, _) => g(a)
      case FnCall(_, _, as) => as.foreach(g)
      case CaseExpr(s, ws, d) =>
        s.foreach(g); ws.foreach { case (a, b) => g(a); g(b) }; d.foreach(g)
      case Subscript(a, b) => g(a); g(b)
      case Slice(a, b, c) => g(a); b.foreach(g); c.foreach(g)
      case ListLit(is) => is.foreach(g)
      case MapLit(is) => is.foreach { case (_, v) => g(v) }
      case MapProjection(v, is) =>
        out += v
        is.foreach { case ProjKV(_, a) => g(a); case ProjVar(n) => out += n
          case _ => () }
      case Reduce(_, i, _, l, st) => g(i); g(l); g(st)
      case ListComprehension(_, l, w, p) => g(l); w.foreach(g); p.foreach(g)
      case Quantifier(_, _, l, p) => g(l); g(p)
      case HasLabel(a, _) => g(a)
      case PatternPredicate(p, _, _) => gPart(p)
      case PatternComprehension(p, w, proj) => gPart(p); w.foreach(g); g(proj)
      case DeletedGuard(inner, _) => g(inner)
      case ExistsSubquery(q) =>
        (q.first.clauses ++ q.unions.flatMap(_._2.clauses)).foreach {
          case Match(_, ps, w) => ps.foreach(gPart); w.foreach(g)
          case With(b, w) =>
            b.items.foreach(i => g(i.expr)); w.foreach(g)
            b.orderBy.foreach { case (e2, _) => g(e2) }
          case Return(b) =>
            b.items.foreach(i => g(i.expr))
            b.orderBy.foreach { case (e2, _) => g(e2) }
          case Unwind(e2, _) => g(e2)
          case _ => ()
        }
      case _ => ()
    }
    g(e)
    out.toSet
  }

  /** Rename free variable references (including pattern-bound positions
    * inside comprehensions/predicates) through `m` — used to resolve
    * projection aliases back to their source vars. Variables locally
    * bound by a construct (lambda/comprehension vars) shadow naturally
    * because they are never alias keys. */
  private def substVars(e: Expr, m: Map[String, String]): Expr = {
    if (m.isEmpty) return e
    def s(x: Expr): Expr = substVars(x, m)
    def sPart(p: PatternPart): PatternPart = p.copy(
      start = sNode(p.start),
      hops = p.hops.map { case (r, n) => (sRel(r), sNode(n)) })
    def sNode(n: NodePattern): NodePattern = n.copy(
      variable = n.variable.map(v => m.getOrElse(v, v)),
      props = n.props.map { case (k, v) => (k, s(v)) })
    def sRel(r: RelPattern): RelPattern = r.copy(
      variable = r.variable.map(v => m.getOrElse(v, v)),
      props = r.props.map { case (k, v) => (k, s(v)) })
    e match {
      case Var(n) => Var(m.getOrElse(n, n))
      case Prop(x, k) => Prop(s(x), k)
      case BinOp(o, a, b) => BinOp(o, s(a), s(b))
      case Not(x) => Not(s(x))
      case Neg(x) => Neg(s(x))
      case IsNull(x, n) => IsNull(s(x), n)
      case FnCall(n, d, as) => FnCall(n, d, as.map(s))
      case CaseExpr(subj, ws, d) =>
        CaseExpr(subj.map(s), ws.map { case (a, b) => (s(a), s(b)) }, d.map(s))
      case Subscript(a, b) => Subscript(s(a), s(b))
      case Slice(a, b, c) => Slice(s(a), b.map(s), c.map(s))
      case ListLit(is) => ListLit(is.map(s))
      case MapLit(is) => MapLit(is.map { case (k, v) => (k, s(v)) })
      case MapProjection(v, items) =>
        MapProjection(m.getOrElse(v, v), items.map {
          case ProjKV(k, x) => ProjKV(k, s(x))
          case ProjVar(n) => ProjVar(m.getOrElse(n, n))
          case other => other
        })
      case Reduce(acc, i, v, l, st) => Reduce(acc, s(i), v, s(l), s(st))
      case ListComprehension(v, l, w, p) =>
        ListComprehension(v, s(l), w.map(s), p.map(s))
      case Quantifier(k, v, l, p) => Quantifier(k, v, s(l), s(p))
      case HasLabel(x, l) => HasLabel(s(x), l)
      case PatternPredicate(p, neg, b) => PatternPredicate(sPart(p), neg, b)
      case PatternComprehension(p, w, proj) =>
        PatternComprehension(sPart(p), w.map(s), s(proj))
      case DeletedGuard(inner, vs) =>
        DeletedGuard(s(inner), vs.map(v => m.getOrElse(v, v)))
      case other => other
    }
  }

  /** Wrap an expression referencing DELETEd variables in the runtime
    * guard (reference "Trying to use a deleted object"); identity when
    * none are referenced. Bare entity passthroughs in WITH stay
    * unwrapped — carrying a deleted binding is legal, using it is not. */
  private def guardDeleted(e: Expr): Expr = {
    if (deletedVars.isEmpty) return e
    def wrap(x: Expr): Expr = {
      val used = varsIn(x).filter(deletedVars).toSeq.sorted
      if (used.isEmpty) x else DeletedGuard(x, used)
    }
    // An aggregate over a deleted variable: the guard must live INSIDE
    // the aggregate's argument (a per-row expression), not around the
    // call — `when(bound, raise).otherwise(count(n))` is an invalid agg
    // plan. `count(n)`/`count(*)` stay unguarded: counting a binding
    // never dereferences the deleted object (the reference's
    // `MATCH (n) DETACH DELETE n RETURN count(*)` idiom,
    // tests/gql_behave .../delete.feature:11).
    def go(x: Expr): Expr = x match {
      case f @ FnCall(n, _, Seq(Var(_))) if n.toLowerCase == "count" => f
      case FnCall(n, d, args) if Functions.isAggregate(n) =>
        FnCall(n, d, args.map(wrap))
      case BinOp(o, a, b) => BinOp(o, go(a), go(b))
      case Not(a) => Not(go(a))
      case Neg(a) => Neg(go(a))
      case FnCall(n, d, args) => FnCall(n, d, args.map(go))
      case CaseExpr(s, ws, d) =>
        CaseExpr(s.map(go), ws.map { case (a, b) => (go(a), go(b)) },
          d.map(go))
      case other => wrap(other)
    }
    e match {
      // `type(r)` / `id(x)` of a deleted entity stay readable — the
      // reference caches both on the accessor (ReturnAcceptance2 "Do not
      // fail when returning type of deleted relationships"; labels() and
      // properties DO raise, same file)
      case f @ FnCall(n, _, Seq(Var(_)))
          if Set("type", "id")(n.toLowerCase) => f
      case _ => if (ExprLowering.hasAgg(e)) go(e) else wrap(e)
    }
  }

  private def project(
      lf0: LF,
      body: ProjectionBody,
      whereAfter: Option[Expr],
      isReturn: Boolean): LF = {
    val itemsRaw: Seq[(String, Expr)] =
      (if (body.star)
         lf0.scope.vars.collect {
           case (n, _) if !n.startsWith("__") => (n, Var(n))
         }
       else
         body.items.zipWithIndex.map { case (ReturnItem(e, as), i) =>
           (as.getOrElse(deriveAlias(e, i)), e)
         }).map { case (n, e) =>
        // RETURN evaluates (raise on deleted); a WITH passthrough only
        // carries the binding (legal)
        (n, if (isReturn || !e.isInstanceOf[Var]) guardDeleted(e) else e)
      }
    // the reference rejects aggregation calls INSIDE a CASE expression
    // (`RETURN CASE count(n) WHEN …` — aggregates must be projection
    // items, not CASE operands)
    locally {
      val l0 = lowering(lf0)
      itemsRaw.foreach {
        case (_, CaseExpr(s, ws, d))
            if (s.toSeq ++ ws.flatMap(p => Seq(p._1, p._2)) ++ d.toSeq)
              .exists(l0.hasAgg) =>
          throw new IllegalArgumentException(
            "aggregation functions are not allowed inside CASE")
        case _ => ()
      }
    }
    // RollUpApply pre-pass: pattern comprehensions (and degree() calls)
    // become computed columns — covering the projection items AND the
    // trailing WHERE / ORDER BY expressions (the reference plans one
    // RollUpApply wherever the comprehension appears). WHERE/ORDER BY see
    // the projection's ALIASES, but the pre-pass runs on the
    // PRE-projection frame — substitute entity-passthrough aliases back
    // to their source vars (`WITH p AS q WHERE …q…` evaluates against p's
    // still-unrenamed columns; without this, `(q)` inside a comprehension
    // looks unbound and would mis-plan as uncorrelated).
    val aliasBack: Map[String, String] = itemsRaw.collect {
      case (alias, Var(n)) if alias != n && lf0.scope.contains(n) => alias -> n
    }.toMap
    val obRaw = body.orderBy
    // an AGGREGATING projection rewrites its WHERE/ORDER BY comprehensions
    // against the post-aggregation frame instead (the pre-agg helper
    // columns would not survive the groupBy)
    val hasAggPre = {
      val l0 = lowering(lf0)
      itemsRaw.exists { case (_, e) => l0.hasAgg(e) }
    }
    val waRaw = whereAfter.toSeq.map(e =>
      ("__wa", guardDeleted(substVars(e, aliasBack))))
    val obItems = obRaw.zipWithIndex.map { case ((e, _), i) =>
      (s"__ob$i", guardDeleted(substVars(e, aliasBack)))
    }
    val (lfR, rewrittenAll) =
      rewritePatternComprehensions(
        lf0,
        if (hasAggPre) itemsRaw else itemsRaw ++ waRaw ++ obItems)
    val items = rewrittenAll.take(itemsRaw.size)
    // id-array paths (BFS / var-length) and var-length edge lists
    // projected as VALUES get their entity arrays materialized here — the
    // reference reconstructs Path/relationship values at output too;
    // bindings merely carried through WITH stay ids. Covers bare `RETURN
    // p` AND function positions (`nodes(p)`, `relationships(p)`, `r[0]`).
    var lf = lfR
    locally {
      // RETURN: every referenced path/edge-list var needs VALUES. WITH: a
      // bare passthrough keeps carrying cheap ids, but a var consumed
      // INSIDE an expression (`WITH nodes(p) AS ns`) needs values NOW.
      // `length(p)` / `size(nodes(p))` shapes are answered by the id
      // arrays alone — no entity join for them.
      val referenced = items.flatMap {
        case (_, Var(_)) if !isReturn => Nil
        case (_, e) => varsIn(e, skipLengthOnly = true)
      }.toSet
      referenced.foreach { n =>
        lf.scope.get(n) match {
          case Some(Binding.PathB) => lf = materializePathEntities(lf, n)
          case Some(Binding.EdgeListB) =>
            lf = materializeEdgeListEntities(lf, n)
          case _ => ()
        }
      }
    }
    val whereAfter2: Option[Expr] =
      if (hasAggPre) whereAfter
      else
        rewrittenAll
          .slice(itemsRaw.size, itemsRaw.size + waRaw.size)
          .headOption.map(_._2)
    val orderBy2: Seq[(Expr, Boolean)] =
      if (hasAggPre) obRaw
      else
        rewrittenAll
          .drop(itemsRaw.size + waRaw.size)
          .map(_._2)
          .zip(obRaw.map(_._2))
    val low0 = lowering(lf)

    val hasAgg = items.exists { case (_, e) => low0.hasAgg(e) }

    /** passthrough = bare var keeping its namespace under a (new) name */
    def passthroughOf(e: Expr): Option[(String, Binding)] = e match {
      case Var(n) =>
        lf.scope.get(n) match {
          case Some(b)
              if b == Binding.NodeB || b == Binding.EdgeB ||
                b == Binding.EdgeListB || b == Binding.PathB =>
            Some((n, b))
          case _ => None
        }
      case _ => None
    }

    var df = lf.df
    var newScope = Scope.empty
    // map alias -> either Left(oldVarName, binding) passthrough, or Right(valueCol)
    val lowered: Seq[(String, Either[(String, Binding), Column])] = items.map {
      case (alias, e) =>
        passthroughOf(e) match {
          case Some((n, b)) => (alias, Left((n, b)))
          case None => (alias, Right(low0.lower(e)))
        }
    }

    if (hasAgg) {
      val groupSide = lowered.zip(items).filterNot { case (_, (_, e)) => low0.hasAgg(e) }
      val aggSide = lowered.zip(items).filter { case (_, (_, e)) => low0.hasAgg(e) }

      // MIXED items (`WITH [a] + collect(n) + [b] AS list`): the agg-free
      // subexpressions referencing scope variables become HIDDEN group
      // keys — the reference's symbol generator groups by every
      // non-aggregate operand; Spark's agg select may only mention
      // grouping columns and aggregates, so the operands pre-project and
      // join the groupBy key list.
      var gkN = 0
      val hiddenKeys =
        scala.collection.mutable.ArrayBuffer.empty[(String, Column)]
      def splitAgg(e: Expr): Expr =
        if (!low0.hasAgg(e)) {
          if (varsIn(e).exists(lf.scope.contains)) {
            val nm = s"__gk$gkN"; gkN += 1
            hiddenKeys += ((nm, low0.lower(e)))
            Var(nm)
          } else e
        } else e match {
          case f @ FnCall(n, _, _) if Functions.isAggregate(n) => f
          case FnCall(n, d, args) => FnCall(n, d, args.map(splitAgg))
          case BinOp(o, a, b) => BinOp(o, splitAgg(a), splitAgg(b))
          case Not(x) => Not(splitAgg(x))
          case Neg(x) => Neg(splitAgg(x))
          case IsNull(x, neg) => IsNull(splitAgg(x), neg)
          case Prop(x, k) => Prop(splitAgg(x), k)
          case Subscript(a, b) => Subscript(splitAgg(a), splitAgg(b))
          case Slice(a, b, c) =>
            Slice(splitAgg(a), b.map(splitAgg), c.map(splitAgg))
          case ListLit(is) => ListLit(is.map(splitAgg))
          case MapLit(is) =>
            MapLit(is.map { case (k, v) => (k, splitAgg(v)) })
          case CaseExpr(s, ws, d) =>
            CaseExpr(
              s.map(splitAgg),
              ws.map { case (a, b) => (splitAgg(a), splitAgg(b)) },
              d.map(splitAgg))
          case DeletedGuard(inner, vs) => DeletedGuard(splitAgg(inner), vs)
          case other => other
        }
      val aggItems: Seq[(String, Expr)] =
        aggSide.map { case ((alias, _), (_, e)) => (alias, splitAgg(e)) }

      // 1) pre-project computed group keys
      var pre = df
      hiddenKeys.foreach { case (nm, c) =>
        pre = pre.withColumn(s"$nm${Frames.Sep}_val", c)
      }
      groupSide.foreach {
        case ((alias, Right(c)), _) =>
          pre = pre.withColumn(s"$alias${Frames.Sep}_val", c)
        case _ => ()
      }
      // Node/edge group keys shuffle on `_id` alone — grouping by every
      // promoted property column would make a fat shuffle key at scale; the
      // other columns are functionally determined by the id, so `first()`
      // carries them (reference `remember_` symbols, operator.hpp:1910).
      val keyCols = Vector.newBuilder[String]
      val carryCols = Vector.newBuilder[String]
      groupSide.foreach {
        case ((_, Left((n, b))), _)
            if b == Binding.NodeB || b == Binding.EdgeB =>
          val idc = s"$n${Frames.Sep}${GraphState.IdCol}"
          keyCols += idc
          carryCols ++= Frames.colsOf(pre, n).filterNot(_ == idc)
        case ((_, Left((n, _))), _) => keyCols ++= Frames.colsOf(pre, n)
        case ((alias, Right(_)), _) => keyCols += s"$alias${Frames.Sep}_val"
      }
      val groupCols: Seq[String] =
        keyCols.result() ++ hiddenKeys.map(h => s"${h._1}${Frames.Sep}_val")
      // 2) aggregate (partial+final handled by Spark)
      val scopeGk = hiddenKeys.foldLeft(lf.scope) {
        case (sc, (nm, _)) => sc + (nm -> Binding.ValueB)
      }
      val lowPre = new ExprLowering(pre, scopeGk, params, enums = state.enums)
      // ordered-aggregation contract: re-lower the previous clause's ORDER
      // BY keys against the pre-aggregation frame; if every key is still
      // expressible, collect() sorts its elements by them (Functions
      // orderedCollect). A projected-away key falls back to the unordered
      // collect (the pre-feature behavior).
      locally {
        val keys = lf.pendingOrder.flatMap { case (e, asc) =>
          scala.util.Try(lowPre.lower(e)).toOption.map(c => (c, asc))
        }
        if (keys.size == lf.pendingOrder.size) lowPre.collectOrder = keys
      }
      val aggCols = aggItems.map { case (alias, e2) =>
        lowPre.lower(e2).as(s"$alias${Frames.Sep}_val")
      } ++ carryCols.result().map(c => first(col(c)).as(c))
      // a VARIANT-typed group key (mixed-type property column) is neither
      // orderable nor hashable for Spark's aggregation — group through
      // its canonical JSON and carry the value itself via first()
      var pre2 = pre
      val gkeys: Seq[(String, Option[String])] = groupCols.map { c =>
        if (pre.schema(c).dataType ==
          org.apache.spark.sql.types.VariantType) {
          val jc = s"__vj$c"
          pre2 = pre2.withColumn(jc, to_json(col(c)))
          (jc, Some(c))
        } else (c, None)
      }
      val aggCols2 = aggCols ++
        gkeys.collect { case (_, Some(c)) => first(col(c)).as(c) }
      df =
        if (groupCols.isEmpty) pre.agg(aggCols.head, aggCols.tail: _*)
        else
          pre2.groupBy(gkeys.map(k => col(k._1)): _*)
            .agg(aggCols2.head, aggCols2.tail: _*)
            .drop(gkeys.collect { case (j, Some(_)) => j }: _*)

      // 3) rename passthrough group vars to their aliases (duplicate
      // passthroughs of one source copy the namespace)
      df = aliasEntities(
        df, groupSide.collect { case ((alias, Left((n, _))), _) => (alias, n) })
      groupSide.foreach {
        case ((alias, Left((_, b))), _) => newScope += (alias -> b)
        case ((alias, Right(_)), _) => newScope += (alias -> Binding.ValueB)
      }
      aggSide.foreach { case ((alias, _), _) =>
        newScope += (alias -> Binding.ValueB)
      }
    } else {
      // non-aggregating projection: extend, then select
      lowered.foreach {
        case (alias, Right(c)) => df = df.withColumn(s"$alias${Frames.Sep}_val", c)
        case _ => ()
      }
      lowered.foreach {
        case (alias, Left((n, b))) => newScope += (alias -> b)
        case (alias, Right(_)) => newScope += (alias -> Binding.ValueB)
      }

      // WHERE / ORDER BY may reference both old vars and new aliases —
      // an alias SHADOWS an input variable of the same name (`RETURN
      // n.prop AS n ORDER BY n + 2` sorts by the projected value,
      // OrderByAcceptance "Renaming columns before ORDER BY")
      val mergedScope =
        lf.scope.vars.foldLeft(newScope)(_ + _)
      val lowM = new ExprLowering(df, mergedScope, params, enums = state.enums)
      // WHERE applies to the WITH's OUTPUT stream — i.e. AFTER ORDER BY /
      // SKIP / LIMIT (the reference stacks Filter on top of the whole WITH
      // pipeline); evaluate the predicate here (pre-rename columns), carry
      // it as a flag, filter after the limit.
      whereAfter2.foreach { w =>
        df = df.withColumn("__waflag", lowM.lower(w))
      }
      val keepWa = if (whereAfter2.isDefined) Seq("__waflag") else Nil

      if (orderBy2.nonEmpty && !body.distinct) {
        val lowS = new ExprLowering(df, mergedScope, params, enums = state.enums)
        val sortCols = orderBy2.zipWithIndex.map { case ((e, _), i) =>
          (s"__sort$i", lowS.lower(resolveAlias(e, items)))
        }
        sortCols.foreach { case (n, c) => df = df.withColumn(n, c) }
        val order = orderBy2.zipWithIndex.map { case ((_, asc), i) =>
          if (asc) col(s"__sort$i").asc_nulls_last
          else col(s"__sort$i").desc_nulls_first
        }
        df = df.orderBy(order: _*)
        // keep sort columns until after the final select (select preserves order)
        df = selectFinal(df, lowered, keep = sortCols.map(_._1) ++ keepWa)
        df = df.drop(sortCols.map(_._1): _*)
      } else {
        df = selectFinal(df, lowered, keep = keepWa)
      }
    }

    if (hasAgg) {
      // HAVING-style WHERE + ORDER BY on the aggregated frame; their
      // pattern comprehensions rewrite HERE (post-agg) where group-key
      // entities are still bound under their aliases
      val (lfA, postItems) = rewritePatternComprehensions(
        LF(df, newScope),
        whereAfter2.toSeq.map(e => ("__wa", resolveAlias(e, items))) ++
          orderBy2.zipWithIndex.map { case ((e, _), i) =>
            (s"__ob$i", resolveAlias(e, items))
          })
      df = lfA.df
      val waPost = postItems.take(whereAfter2.size).headOption.map(_._2)
      val obPost = postItems
        .drop(whereAfter2.size)
        .map(_._2)
        .zip(orderBy2.map(_._2))
      val lowA = new ExprLowering(df, lfA.scope, params, enums = state.enums)
      waPost.foreach { w => df = df.withColumn("__waflag", lowA.lower(w)) }
      // sort keys are computed BEFORE the final select (helper columns
      // would be dropped there), carried through, then dropped
      val sortCols = obPost.zipWithIndex.map { case ((e, _), i) =>
        (s"__sorta$i", lowA.lower(e))
      }
      sortCols.foreach { case (nm, c) => df = df.withColumn(nm, c) }
      df = selectFinal(
        df, lowered,
        keep = sortCols.map(_._1) ++
          (if (waPost.isDefined) Seq("__waflag") else Nil),
        preAliased = true)
      if (obPost.nonEmpty) {
        val order = obPost.zipWithIndex.map { case (((_, asc)), i) =>
          if (asc) col(s"__sorta$i").asc_nulls_last
          else col(s"__sorta$i").desc_nulls_first
        }
        df = df.orderBy(order: _*)
      }
      df = df.drop(sortCols.map(_._1): _*)
    } else if (body.distinct) {
      df = df.dropDuplicates()
      if (orderBy2.nonEmpty) {
        val lowF = new ExprLowering(df, newScope, params, enums = state.enums)
        val order = orderBy2.map { case (e, asc) =>
          val c = lowF.lower(resolveAlias(e, items))
          if (asc) c.asc_nulls_last else c.desc_nulls_first
        }
        df = df.orderBy(order: _*)
      }
    }

    if (hasAgg && body.distinct) df = df.dropDuplicates()

    // a negative LITERAL raises at parse/plan time (OrderByAcceptance
    // "negative LIMIT should fail"), but a negative PARAMETER yields an
    // empty result, not an error ("negative parameter for LIMIT should
    // not generate errors") — the reference validates literals in the
    // frontend and clamps runtime values
    def clamped(e: Expr, what: String): Int = {
      val n = constInt(e, what)
      if (n < 0 && e.isInstanceOf[Param]) 0
      else if (n < 0)
        throw new IllegalArgumentException(s"$what must be non-negative")
      else n
    }
    body.skip.foreach { e => df = df.offset(clamped(e, "SKIP")) }
    body.limit.foreach { e => df = df.limit(clamped(e, "LIMIT")) }
    if (df.columns.contains("__waflag"))
      df = df.filter(col("__waflag")).drop("__waflag")

    // owning-frame hints survive a projection only for entity passthroughs
    // (`WITH n AS m` keeps n's frames under the name m); everything else is
    // out of scope now
    frameHints = lowered.collect {
      case (alias, Left((n, _))) if frameHints.contains(n) =>
        alias -> frameHints(n)
    }.toMap

    // a WITH item computed as a VALUE whose runtime type carries the full
    // entity signature (`WITH nodeList[i] AS n1`, `collect(n)[0] AS x`)
    // rebinds as a real node/edge — the reference's TypedValue IS a
    // Vertex however it was computed (frame.hpp TypedValue slots); a later
    // CREATE/MATCH/SET may use it as an endpoint. Mirrors the UNWIND
    // loop-var promotion (same signature test: a plain map literal with an
    // `_id` key must stay a value, and derive()'s virtual edges embed
    // _startNode values and stay plain too).
    if (!isReturn) {
      import org.apache.spark.sql.types.StructType
      newScope.vars.foreach { case (v, b) =>
        val out = s"$v${Frames.Sep}_val"
        if (b == Binding.ValueB && df.columns.contains(out))
          df.schema(out).dataType match {
            case s: StructType
                if s.fieldNames.contains(GraphState.IdCol) &&
                  !s.fieldNames.contains("_startNode") &&
                  (s.fieldNames.contains(GraphState.LabelsCol) ||
                    (s.fieldNames.contains(GraphState.SrcCol) &&
                      s.fieldNames.contains(GraphState.DstCol) &&
                      s.fieldNames.contains(GraphState.TypeCol))) =>
              val isEdge = s.fieldNames.contains(GraphState.SrcCol) ||
                s.fieldNames.contains(GraphState.TypeCol)
              s.fieldNames.foreach { f =>
                df = df.withColumn(s"$v${Frames.Sep}$f", col(out).getField(f))
              }
              df = df.drop(out)
              newScope = Scope(newScope.vars.map { case (n2, b2) =>
                if (n2 == v)
                  (n2, if (isEdge) Binding.EdgeB else Binding.NodeB)
                else (n2, b2)
              })
            case _ => ()
          }
      }
    }

    if (isReturn) {
      val outCols = lowered.map {
        case (alias, Left((n, Binding.EdgeListB))) =>
          // relationship-list VALUE when materialized, ids otherwise
          if (df.columns.contains(s"$alias${Frames.Sep}_structs"))
            col(s"$alias${Frames.Sep}_structs").as(alias)
          else col(s"$alias${Frames.Sep}_ids").as(alias)
        case (alias, Left((n, Binding.PathB))) =>
          // path VALUE: {nodes, edges} entity arrays (materialized by the
          // pre-pass when the path carried only id arrays); paths that
          // carry no id arrays at all (weighted/k-shortest) RAISE rather
          // than surface a wrong shape
          if (df.columns.contains(s"$alias${Frames.Sep}_nodestructs"))
            // an OPTIONAL MATCH miss projects the null VALUE, not a
            // struct of null arrays (node-id array witnesses the bind)
            when(col(s"$alias${Frames.Sep}_nodes").isNull, lit(null))
              .otherwise(struct(
                col(s"$alias${Frames.Sep}_nodestructs").as("nodes"),
                col(s"$alias${Frames.Sep}_edgestructs").as("edges")))
              .as(alias)
          else
            throw new UnsupportedOperationException(
              "path value unavailable for this path shape (weighted " +
                "shortest paths carry length/weight only)")
        case (alias, Left((n, _))) =>
          structOf(df, alias).as(alias)
        case (alias, Right(_)) => col(s"$alias${Frames.Sep}_val").as(alias)
      }
      LF(df.select(outCols: _*), newScope)
    } else
      LF(df, newScope,
        pendingOrder =
          body.orderBy.map { case (e, asc) => (resolveAlias(e, items), asc) })
  }

  /** ORDER BY/HAVING expressions that syntactically match a projected item
    * resolve to its alias (needed for `ORDER BY count(*)`). */
  private def resolveAlias(e: Expr, items: Seq[(String, Expr)]): Expr =
    items.find(_._2 == e).map(it => Var(it._1)).getOrElse(e)

  private def structOf(df: DataFrame, v: String): Column = {
    val cols = Frames.colsOf(df, v)
    val s =
      struct(cols.map(c => col(c).as(c.substring(v.length + Frames.Sep.length))): _*)
    // unbound entity (OPTIONAL MATCH miss) surfaces as NULL, not a struct
    // of NULL fields — the id column witnesses the bind
    when(col(s"$v${Frames.Sep}${GraphState.IdCol}").isNull, lit(null))
      .otherwise(s)
  }

  private def renameVar(df: DataFrame, from: String, to: String): DataFrame =
    Frames.colsOf(df, from).foldLeft(df) { (d, c) =>
      d.withColumnRenamed(c, s"$to${c.substring(from.length)}")
    }

  /** Rename each passthrough source namespace to its alias; a source used
    * by MULTIPLE aliases (`WITH n AS a, n AS b`) copies its columns for
    * every alias. Sources move through a fresh temp namespace first, so
    * SWAPS (`RETURN a AS node, node AS a`) never collide mid-rename, and
    * stale columns already sitting under a target name are dropped (the
    * projection shadows them; the final select would discard them anyway,
    * but left in place they make the alias ambiguous). */
  private def aliasEntities(
      df: DataFrame,
      mapping: Seq[(String, String)]): DataFrame = {
    val real: Map[String, Seq[String]] = mapping
      .groupBy(_._2)
      .map { case (src, ps) => src -> ps.map(_._1).distinct }
      .filterNot { case (src, aliases) => aliases == Seq(src) }
    if (real.isEmpty) return df
    var d = df
    val tmp = real.keys.zipWithIndex
      .map { case (src, i) => src -> s"__swap$i" }.toMap
    tmp.foreach { case (src, t) => d = renameVar(d, src, t) }
    val targets = real.values.flatten.toSet -- real.keySet
    targets.foreach { a =>
      val stale = Frames.colsOf(d, a)
      if (stale.nonEmpty) d = d.drop(stale: _*)
    }
    real.foreach { case (src, aliases) =>
      val t = tmp(src)
      aliases match {
        case Seq(one) => d = renameVar(d, t, one)
        case many =>
          many.foreach { a =>
            Frames.colsOf(d, t).foreach { c =>
              d = d.withColumn(s"$a${c.substring(t.length)}", col(c))
            }
          }
          d = d.drop(Frames.colsOf(d, t): _*)
      }
    }
    d
  }

  private def selectFinal(
      df: DataFrame,
      lowered: Seq[(String, Either[(String, Binding), Column])],
      keep: Seq[String],
      /** true when the caller ALREADY renamed passthrough namespaces to
        * their aliases (the aggregation path) — re-running the rename
        * would drop the alias's columns as stale targets. */
      preAliased: Boolean = false): DataFrame = {
    var d = df
    // rename passthroughs to their aliases first; a source projected under
    // SEVERAL aliases (`WITH n AS a, n AS b`) copies its namespace instead
    // of renaming it away from the other aliases
    if (!preAliased)
      d = aliasEntities(
        d, lowered.collect { case (alias, Left((n, _))) => (alias, n) })
    val cols: Seq[String] = lowered.flatMap {
      case (alias, Left(_)) => Frames.colsOf(d, alias)
      case (alias, Right(_)) => Seq(s"$alias${Frames.Sep}_val")
    } ++ keep
    d.select(cols.distinct.map(col): _*)
  }

  private def constInt(e: Expr, what: String): Int = e match {
    case Lit(n: Long) => n.toInt
    case Param(name) =>
      params.get(name) match {
        case Some(n: Long) => n.toInt
        case Some(n: Int) => n
        case _ => throw new IllegalArgumentException(s"$what parameter $$$name")
      }
    case _ =>
      throw new IllegalArgumentException(s"$what must be a literal or parameter")
  }
}

/** Public entry: run a Cypher query against a GraphState. */
object Cypher {
  /** `EXPLAIN <q>` / `PROFILE <q>` statement prefix
    * (`interpreter.cpp:4206,4218`). */
  private val ExplainPrefix = "(?is)^\\s*(EXPLAIN|PROFILE)\\b(.*)$".r
  private val ShowIndexR = "(?is)^\\s*SHOW\\s+INDEX\\s+INFO\\s*;?\\s*$".r
  private val AnalyzeDeleteR =
    "(?is)^\\s*ANALYZE\\s+GRAPH(?:\\s+ON\\s+LABELS\\s+(.+?))?\\s+DELETE\\s+STATISTICS\\s*;?\\s*$".r
  private val AnalyzeR =
    "(?is)^\\s*ANALYZE\\s+GRAPH(?:\\s+ON\\s+LABELS\\s+(.+?))?\\s*;?\\s*$".r
  private val ShowVectorIndexR =
    "(?is)^\\s*SHOW\\s+VECTOR\\s+INDEX\\s+INFO\\s*;?\\s*$".r
  private val ShowDescriptionsR =
    "(?is)^\\s*SHOW\\s+DESCRIPTIONS\\s*;?\\s*$".r
  private val ShowParametersR =
    "(?is)^\\s*SHOW\\s+PARAMETERS\\s*;?\\s*$".r
  private val ShowEnumsR = "(?is)^\\s*SHOW\\s+ENUMS\\s*;?\\s*$".r
  private val AlterEnumAddR =
    "(?is)^\\s*ALTER\\s+ENUM\\s+(\\w+)\\s+ADD\\s+VALUE\\s+(\\w+)\\s*;?\\s*$".r
  private val AlterEnumUpdateR =
    ("(?is)^\\s*ALTER\\s+ENUM\\s+(\\w+)\\s+UPDATE\\s+VALUE\\s+(\\w+)\\s+TO" +
      "\\s+(\\w+)\\s*;?\\s*$").r
  private val AlterEnumRemoveR =
    "(?is)^\\s*ALTER\\s+ENUM\\s+(\\w+)\\s+REMOVE\\s+VALUE\\s+.*$".r
  private val DropEnumR = "(?is)^\\s*DROP\\s+ENUM\\b.*$".r
  // trigger / stream DDL (MemgraphCypher.g4:712-767, TriggerQuery
  // ast.hpp:3577, StreamQuery ast.hpp:3741) — statement-level dispatch
  // into the GraphStream registries
  private val CreateTriggerR =
    ("(?is)^\\s*CREATE\\s+TRIGGER\\s+(\\w+)" +
      "(?:\\s+SECURITY\\s+(?:DEFINER|INVOKER))?" +
      "(?:\\s+ON\\s*(?:(\\(\\s*\\))|(--?>))?\\s*(CREATE|UPDATE|DELETE))?" +
      "\\s+(AFTER|BEFORE)\\s+COMMIT\\s+EXECUTE\\s+(.+)$").r
  private val DropTriggerR =
    "(?is)^\\s*DROP\\s+TRIGGER\\s+(\\w+)\\s*;?\\s*$".r
  private val ShowTriggersR =
    "(?is)^\\s*SHOW\\s+(?:TRIGGERS|TRIGGER\\s+INFO)\\s*;?\\s*$".r
  // FILE is a Spark-native extension (the reference grammar has
  // kafka/pulsar only, MemgraphCypher.g4:754): a Structured-Streaming
  // file source declared as `CREATE FILE STREAM s PATH '<dir>'
  // FORMAT 'json' SCHEMA '<ddl>' TRANSFORM mod.fn`
  private val CreateStreamR =
    "(?is)^\\s*CREATE\\s+(KAFKA|PULSAR|FILE)\\s+STREAM\\s+([\\w.-]+)\\b(.*)$".r
  private val DropStreamR =
    "(?is)^\\s*DROP\\s+STREAM\\s+([\\w.-]+)\\s*;?\\s*$".r
  private val StartStopStreamR =
    "(?is)^\\s*(START|STOP)\\s+STREAM\\s+([\\w.-]+)\\s*;?\\s*$".r
  private val StartStopAllStreamsR =
    "(?is)^\\s*(START|STOP)\\s+ALL\\s+STREAMS\\s*;?\\s*$".r
  private val ShowStreamsR = "(?is)^\\s*SHOW\\s+STREAMS\\s*;?\\s*$".r
  private val CheckStreamR =
    ("(?is)^\\s*CHECK\\s+STREAM\\s+([\\w.-]+)" +
      "(?:\\s+BATCH_LIMIT\\s+(\\d+))?(?:\\s+TIMEOUT\\s+\\d+)?\\s*;?\\s*$").r

  /** `CREATE KAFKA|PULSAR STREAM` config tail → (SourceSpec, TRANSFORM
    * name). Configs are keyword-introduced and order-free
    * (kafkaCreateStreamConfig / pulsarCreateStreamConfig,
    * MemgraphCypher.g4:754-767). */
  private def streamSpecOf(kind: String, tail: String)
    : (graft.streaming.GraphStream.SourceSpec, Option[String]) = {
    val kws = Seq(
      "TOPICS", "TRANSFORM", "BATCH_INTERVAL", "BATCH_SIZE",
      "CONSUMER_GROUP", "BOOTSTRAP_SERVERS", "CONFIGS", "CREDENTIALS",
      "SERVICE_URL", "PATH", "FORMAT", "SCHEMA")
    val kwRe = ("(?i)\\b(" + kws.mkString("|") + ")\\b").r
    val hits = kwRe.findAllMatchIn(tail).toSeq
    val entries: Map[String, String] = hits.zipWithIndex.map {
      case (m, i) =>
        val end =
          if (i + 1 < hits.length) hits(i + 1).start else tail.length
        m.group(1).toUpperCase ->
          tail.substring(m.end, end).trim.stripSuffix(";").trim
    }.toMap
    def unq(s: String): String = {
      val t = s.trim
      if ((t.startsWith("'") && t.endsWith("'")) ||
        (t.startsWith("\"") && t.endsWith("\"")))
        t.substring(1, t.length - 1)
      else t
    }
    def mapOf(s: String): Map[String, String] = {
      val body = s.trim.stripPrefix("{").stripSuffix("}")
      "([\\w.-]+|'[^']*'|\"[^\"]*\")\\s*:\\s*('[^']*'|\"[^\"]*\"|[^,}]+)".r
        .findAllMatchIn(body)
        .map(m => unq(m.group(1)) -> unq(m.group(2)))
        .toMap
    }
    val spec =
      if (kind == "file")
        graft.streaming.GraphStream.SourceSpec(
          format = entries.get("FORMAT").map(unq).getOrElse("json"),
          path = Some(entries.get("PATH").map(unq).getOrElse(
            throw new IllegalArgumentException(
              "CREATE FILE STREAM needs PATH '<dir>'"))),
          schema = entries.get("SCHEMA").map(s =>
            org.apache.spark.sql.types.StructType.fromDDL(unq(s))),
          batchIntervalMs = entries.get("BATCH_INTERVAL").map(unq(_).toLong),
          batchSize = entries.get("BATCH_SIZE").map(unq(_).toLong))
      else graft.streaming.GraphStream.SourceSpec(
        format = kind,
        topics = entries.get("TOPICS").toSeq
          .flatMap(_.split(",").map(unq).map(_.trim).filter(_.nonEmpty)),
        bootstrapServers = entries.get("BOOTSTRAP_SERVERS").map(unq),
        consumerGroup = entries.get("CONSUMER_GROUP").map(unq),
        serviceUrl = entries.get("SERVICE_URL").map(unq),
        batchIntervalMs = entries.get("BATCH_INTERVAL").map(unq(_).toLong),
        batchSize = entries.get("BATCH_SIZE").map(unq(_).toLong),
        configs = entries.get("CONFIGS").map(mapOf).getOrElse(Map.empty) ++
          entries.get("CREDENTIALS").map(mapOf).getOrElse(Map.empty))
    (spec, entries.get("TRANSFORM").map(unq))
  }

  /** Effective parameters: client bindings shadow server-side ones
    * (server_side_parameters.feature). */
  private def mergedParams(
      g: GraphState, params: Map[String, Any]): Map[String, Any] =
    g.serverParams.map { case (k, (v, _)) => k -> v } ++ params

  def run(
      spark: SparkSession,
      g: GraphState,
      query: String,
      params: Map[String, Any] = Map.empty): DataFrame =
    execute(spark, g, query, params).result

  /** Result of a mutating statement: the new graph version plus whatever
    * the final RETURN produced (the frame of the last clause otherwise —
    * callers treating this as EmptyResult just ignore it,
    * operator.hpp:1819). */
  final case class ExecResult(graph: GraphState, result: DataFrame)

  /** Run a (possibly mutating) Cypher statement; reads after a mutation
    * clause see the new state (statement-serial versions, not MVCC). */
  def execute(
      spark: SparkSession,
      g: GraphState,
      query: String,
      params: Map[String, Any] = Map.empty): ExecResult = query match {
    case ShowIndexR() =>
      ExecResult(g, graft.procedures.IndexProcs.showIndexInfo(spark, g))
    // ANALYZE GRAPH [ON LABELS :L, …] [DELETE STATISTICS] —
    // interpreter.cpp HandleAnalyzeGraphQuery
    case AnalyzeDeleteR(ls) =>
      val labels = Option(ls).map(
        _.split(",").map(_.trim.stripPrefix(":").trim).filter(_.nonEmpty).toSeq)
      val (g2, df) =
        graft.procedures.IndexProcs.analyzeDeleteStats(spark, g, labels)
      ExecResult(g2, df)
    case AnalyzeR(ls) =>
      val labels = Option(ls).map(
        _.split(",").map(_.trim.stripPrefix(":").trim).filter(_.nonEmpty).toSeq)
      val (g2, df) =
        graft.procedures.IndexProcs.analyzeGraph(spark, g, labels)
      ExecResult(g2, df)
    case ShowVectorIndexR() =>
      ExecResult(g, graft.procedures.IndexProcs.showVectorIndexInfo(spark, g))
    case ShowDescriptionsR() =>
      ExecResult(g, graft.procedures.IndexProcs.showDescriptions(spark, g))
    case ShowParametersR() =>
      ExecResult(g, graft.procedures.IndexProcs.showParameters(spark, g))
    // enum DDL beyond CREATE (enum_store.hpp): SHOW / ALTER ADD / ALTER
    // UPDATE; REMOVE VALUE and DROP ENUM raise like the reference
    // (values may be stored in properties — the store refuses)
    case ShowEnumsR() =>
      import spark.implicits._
      ExecResult(
        g,
        g.enums.toSeq.sortBy(_._1)
          .toDF("Enum Name", "Enum Values"))
    case AlterEnumAddR(name, value) =>
      val vs = g.enums.getOrElse(
        name,
        throw new IllegalArgumentException(s"unknown enum '$name'"))
      require(!vs.contains(value), s"enum '$name' already has '$value'")
      ExecResult(
        g.withEnum(name, vs :+ value),
        spark.range(0).toDF().select())
    case AlterEnumUpdateR(name, from, to) =>
      val vs = g.enums.getOrElse(
        name,
        throw new IllegalArgumentException(s"unknown enum '$name'"))
      require(vs.contains(from), s"enum '$name' has no value '$from'")
      require(!vs.contains(to), s"enum '$name' already has '$to'")
      ExecResult(
        g.withEnum(name, vs.map(v => if (v == from) to else v)),
        spark.range(0).toDF().select())
    case AlterEnumRemoveR(name) =>
      throw new UnsupportedOperationException(
        s"ALTER ENUM $name REMOVE VALUE is not supported (stored " +
          "properties may reference the value — the reference refuses too)")
    case DropEnumR() =>
      throw new UnsupportedOperationException(
        "DROP ENUM is not supported (stored properties may reference " +
          "its values — the reference refuses too)")
    case CreateTriggerR(name, emptyV, emptyE, event, phase, stmt) =>
      import graft.streaming.GraphStream
      require(
        !GraphStream.triggerRegistry.contains(name),
        s"trigger '$name' already exists")
      // validate the body parses NOW (the reference compiles the trigger
      // statement at CREATE time too) — predefined vars become params
      CypherParser.parse(GraphStream.rewritePredefined(stmt.trim))
      GraphStream.triggerRegistry.put(
        name,
        GraphStream.StoredTrigger(
          name,
          if (emptyV != null) Some("vertex")
          else if (emptyE != null) Some("edge")
          else None,
          Option(event).map(_.toUpperCase),
          phase.equalsIgnoreCase("BEFORE"),
          stmt.trim))
      ExecResult(g, spark.range(0).toDF().select())
    case DropTriggerR(name) =>
      require(
        graft.streaming.GraphStream.triggerRegistry.remove(name).nonEmpty,
        s"trigger '$name' does not exist")
      ExecResult(g, spark.range(0).toDF().select())
    case ShowTriggersR() =>
      import spark.implicits._
      ExecResult(
        g,
        graft.streaming.GraphStream.triggerRegistry.values.toSeq
          .sortBy(_.name)
          .map(t => (
            t.name, t.statement,
            (t.entity.map(e => if (e == "vertex") "() " else "--> ")
              .getOrElse("") + t.event.getOrElse("ANY")).trim,
            if (t.before) "BEFORE COMMIT" else "AFTER COMMIT"))
          .toDF("trigger name", "statement", "event type", "phase"))
    case CreateStreamR(kind, name, tail) =>
      import graft.streaming.GraphStream
      require(
        !GraphStream.streamRegistry.contains(name),
        s"stream '$name' already exists")
      val (spec, transform) =
        streamSpecOf(kind.toLowerCase, tail)
      GraphStream.streamRegistry.put(
        name,
        GraphStream.StoredStream(
          name, kind.toLowerCase, spec, transform, running = false))
      ExecResult(g, spark.range(0).toDF().select())
    case DropStreamR(name) =>
      require(
        graft.streaming.GraphStream.streamRegistry.remove(name).nonEmpty,
        s"stream '$name' does not exist")
      ExecResult(g, spark.range(0).toDF().select())
    case StartStopStreamR(action, name) =>
      import graft.streaming.GraphStream
      val st = GraphStream.streamRegistry.getOrElse(
        name,
        throw new IllegalArgumentException(s"stream '$name' does not exist"))
      if (action.equalsIgnoreCase("START"))
        // a real consumer run (streams.cpp:520-567): resolve the spec +
        // TRANSFORM and drain the available source data into the graph
        ExecResult(
          GraphStream.startStored(spark, g, name),
          spark.range(0).toDF().select())
      else {
        GraphStream.streamRegistry.put(name, st.copy(running = false))
        ExecResult(g, spark.range(0).toDF().select())
      }
    case StartStopAllStreamsR(action) =>
      import graft.streaming.GraphStream
      if (action.equalsIgnoreCase("START")) {
        val out = GraphStream.streamRegistry.keys.toSeq.sorted
          .foldLeft(g)((acc, n) => GraphStream.startStored(spark, acc, n))
        ExecResult(out, spark.range(0).toDF().select())
      } else {
        GraphStream.streamRegistry.keys.foreach(n =>
          GraphStream.streamRegistry.put(
            n, GraphStream.streamRegistry(n).copy(running = false)))
        ExecResult(g, spark.range(0).toDF().select())
      }
    case ShowStreamsR() =>
      import spark.implicits._
      ExecResult(
        g,
        graft.streaming.GraphStream.streamRegistry.values.toSeq
          .sortBy(_.name)
          .map(st => (
            st.name, st.kind,
            st.spec.batchIntervalMs, st.spec.batchSize,
            st.transform.orNull, st.running))
          .toDF(
            "name", "type", "batch_interval", "batch_size",
            "transformation_name", "is running"))
    case CheckStreamR(name, limit) =>
      // dry-run the transform over the available data, commit nothing
      // (streams.cpp:832-889; yield header interpreter.cpp:3277)
      ExecResult(
        g,
        graft.streaming.GraphStream.checkStored(
          spark, g, name, Option(limit).map(_.toLong)))
    case ExplainPrefix(kind, rest) =>
      val planner = new Planner(spark, g, mergedParams(g, params))
      val df = planner.plan(CypherParser.parse(rest))
      val out =
        if (kind.equalsIgnoreCase("EXPLAIN")) Profile.explainDf(spark, df)
        else Profile.profileDf(spark, df) // executes — mutations apply
      ExecResult(planner.currentState.withIdBase(planner.idHighWater), out)
    case _ =>
      val planner = new Planner(spark, g, mergedParams(g, params))
      val df = planner.plan(CypherParser.parse(query))
      ExecResult(planner.currentState.withIdBase(planner.idHighWater), df)
  }
}
