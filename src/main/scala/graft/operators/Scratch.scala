package graft.operators

import org.apache.spark.sql.DataFrame

/** Engine scratch helpers, and the one way the engine materializes an
  * intermediate frame: [[cp]], an eager `localCheckpoint`.
  *
  * Block ownership: a block lives as long as some frame that reads it.
  * A checkpointed frame's plan holds its block-backed RDD, so every frame
  * derived from it, and every `GraphState` version whose thunks return
  * it, keeps the blocks alive; once none is reachable, Spark's
  * ContextCleaner unpersists them on its next GC-driven pass. A frame
  * that must live as long as a version therefore goes through [[cp]] and
  * is held by the version; nothing frees checkpoint blocks by hand,
  * because they do not recompute. A frame persisted with
  * `Dataset.persist` for one statement is unpersisted in the same scope:
  * Spark's CacheManager holds a persisted Dataset until it is
  * unpersisted, so the cleaner never frees it.
  */
object Scratch {

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

  /** Eagerly localCheckpoint `df`, as a `graft:cp` job. */
  def cp(df: DataFrame): DataFrame =
    labeled(df.sparkSession, "graft:cp")(df.localCheckpoint(true))

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
}
