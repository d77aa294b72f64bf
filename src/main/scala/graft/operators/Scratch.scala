package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Registry of ROUND-INTERMEDIATE checkpoint blocks. Driver fixpoints
  * (`localCheckpoint(eager = true)` per round) pin their blocks in the
  * block manager until the SparkContext dies — nothing unpersists them
  * when the query's frames go out of scope, so a long bench/verify run
  * accumulates storage-memory pressure that reads as phantom per-query
  * regressions on a contended host (the r7 driver bench).
  *
  * Operators wrap per-round eager checkpoints in [[cp]]; the harness
  * mains ([[graft.Bench]], [[graft.Verify]]) call [[sweep]] BETWEEN
  * queries, after the previous query's result is fully consumed.
  * Unpersisting a locally-checkpointed RDD destroys it irrecoverably, so
  * only frames that are dead once the query's output is materialized may
  * be registered — never cross-query caches (loader frames, memoized
  * text/vector indexes) and never frames a returned GraphState retains.
  */
object Scratch {

  private val tracked =
    scala.collection.mutable.ArrayBuffer.empty[java.lang.ref.WeakReference[RDD[_]]]

  /** Exact UPPER BOUND on an optimized plan's row count, derivable on the
    * driver with no Spark job — Some(n) only when every leaf is a
    * LocalRelation (literal CREATE chains, minted id frames) under
    * row-preserving-or-shrinking operators. Callers gate "is this frame
    * small?" decisions with it, skipping a count() probe entirely. */
  def boundedRows(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan match {
      case l: LocalRelation => Some(l.data.length.toLong)
      case _: OneRowRelation => Some(1L)
      case f: Filter => boundedRows(f.child)
      case p: Project => boundedRows(p.child)
      case a: Aggregate => boundedRows(a.child)
      case d: Distinct => boundedRows(d.child)
      case s: SubqueryAlias => boundedRows(s.child)
      case g: GlobalLimit => boundedRows(g.child)
      case l: LocalLimit => boundedRows(l.child)
      case u: Union =>
        val bs = u.children.map(boundedRows)
        if (bs.forall(_.isDefined)) Some(bs.flatten.sum) else None
      case _ => None
    }
  }

  /** Run `f` with a thread-local Spark job description (guide §1.5 "label
    * your jobs"): engine-machinery actions (checkpoints, id-minting,
    * emptiness probes) become attributable in the UI / job listeners
    * instead of anonymous `count at ...` entries. Restores the previous
    * description, so nested labels compose. */
  def labeled[T](spark: org.apache.spark.sql.SparkSession, desc: String)(
      f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f
    finally sc.setJobDescription(prev)
  }

  /** Eagerly localCheckpoint `df` and register the resulting block-backed
    * RDD for the next [[sweep]]. */
  def cp(df: DataFrame): DataFrame = {
    val d = labeled(df.sparkSession, "graft:cp")(df.localCheckpoint(true))
    d.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        tracked.synchronized {
          tracked += new java.lang.ref.WeakReference[RDD[_]](lr.rdd)
        }
      case _ => ()
    }
    d
  }

  /** Known-row-count ceiling for a broadcast frontier. */
  val BroadcastFrontierRows = 100000L

  /** Broadcast `df` only when its KNOWN row count is under
    * [[BroadcastFrontierRows]] — the VarExpand frontier-loop gate,
    * shared by every driver fixpoint.
    * Above the gate the join falls back to a shuffle: a multi-million-row
    * frontier must never be force-broadcast (8 GB broadcast limit /
    * driver OOM on a supernode graph at cluster scale). The loops count
    * their frontier anyway for the emptiness probe, so the decision is
    * free. */
  def gatedBroadcast(df: DataFrame, knownCount: Long): DataFrame = {
    if (knownCount >= 0 && knownCount <= BroadcastFrontierRows)
      org.apache.spark.sql.functions.broadcast(df)
    else df
  }

  /** Destroy a `localCheckpoint`ed frame's backing blocks NOW. The caller
    * guarantees no live GraphState / result still reads the frame —
    * checkpoint blocks don't recompute, so a premature call here breaks
    * later readers (see the registry contract above). */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        try lr.rdd.unpersist(blocking = false)
        catch { case _: Throwable => () }
      case _ => ()
    }

  private val trackedDfs =
    scala.collection.mutable.ArrayBuffer
      .empty[java.lang.ref.WeakReference[DataFrame]]

  /** Register a `persist`ed (NOT checkpointed) query-lifetime DataFrame —
    * e.g. a version's deduped node union
    * (GraphState.allNodesOverlapCached) — for the next [[sweep]].
    * Safe to sweep early: persisted frames recompute, they don't die. */
  def trackPersisted(df: DataFrame): DataFrame = {
    trackedDfs.synchronized {
      trackedDfs += new java.lang.ref.WeakReference[DataFrame](df)
    }
    df
  }

  /** Monotonic sweep counter: memos holding a [[trackPersisted]] frame
    * (e.g. GraphState.allNodesOverlapCached) key themselves on this so a post-sweep read rebuilds + re-registers
    * instead of silently serving an unpersisted frame forever. */
  @volatile private var gen = 0L
  def generation: Long = gen

  /** Unpersist every registered block (non-blocking) and clear the
    * registry. Returns how many live entries were swept. */
  def sweep(): Int = {
    var n = 0
    gen += 1
    tracked.synchronized {
      tracked.foreach { ref =>
        val rdd = ref.get()
        if (rdd != null) {
          try { rdd.unpersist(blocking = false); n += 1 }
          catch { case _: Throwable => () }
        }
      }
      tracked.clear()
    }
    trackedDfs.synchronized {
      trackedDfs.foreach { ref =>
        val df = ref.get()
        if (df != null) {
          try { df.unpersist(blocking = false); n += 1 }
          catch { case _: Throwable => () }
        }
      }
      trackedDfs.clear()
    }
    n
  }
}
