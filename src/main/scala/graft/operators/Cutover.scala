package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The driver-local / distributed cutover. Below a size cutover an
  * algorithm runs the reference's single-node execution model on the
  * driver ([[LocalGraph]], [[LocalProcs]], [[LocalSearch]]); above it the
  * distributed operator runs unchanged. Every such decision goes through
  * [[collect]], and the probe IS the capture: one LIMIT(cap + 1) collect
  * answers "is it small?" and, when it is, hands the rows to the local
  * pass. The local path therefore costs one collect per input — one job
  * per query stage under AQE, so a probe over a shuffled input (a
  * `distinct` seed set) runs several — and the work a supercritical input
  * wastes is bounded at cap + 1 rows. A version memoizes the probes of its
  * own typed edge sets ([[graft.core.GraphState.localTypedEdges]]), so a
  * session pays those once per graph version.
  *
  * The cap is `min(ceiling, spark.graft.local.edges)`: a call site names
  * its own ceiling (a driver-work bound), and the session key bounds every
  * site at once, so `spark.graft.local.edges=0` forces every distributed
  * path.
  */
object Cutover {

  val LocalEdgesKey = "spark.graft.local.edges"

  /** ≈ 50 MB of collected (id, src, dst) triples. */
  private val DefaultLocalEdges = 2000000L

  def cap(spark: SparkSession, ceiling: Long = Long.MaxValue): Long =
    math.min(
      ceiling,
      spark.conf.get(LocalEdgesKey, DefaultLocalEdges.toString).toLong)

  /** `df`'s rows when there are at most `min(ceiling, local.edges)` of
    * them, else None (without a job when that cap is not positive). */
  def collect(
      df: DataFrame, ceiling: Long = Long.MaxValue): Option[Array[Row]] =
    within(df, cap(df.sparkSession, ceiling))

  /** [[collect]] under a fixed cap that `spark.graft.local.edges` does not
    * bound — for size gates that pick a cheaper plan shape rather than a
    * driver-local algorithm. */
  def within(df: DataFrame, cap: Long): Option[Array[Row]] =
    if (cap <= 0) None
    else {
      // cap + 1 saturates: at cap = Long.MaxValue it would wrap negative
      val limit = if (cap >= Int.MaxValue) Int.MaxValue else cap.toInt + 1
      Some(df.limit(limit).collect()).filter(rows => fits(rows.length, cap))
    }

  /** The cutover decision itself: `rows` rows take the local path under
    * `cap`. A cap that is not positive admits nothing, not even zero rows.
    * Callers that already hold the rows (a memoized capture) decide with
    * this, so they agree with [[within]] row for row. */
  def fits(rows: Long, cap: Long): Boolean = cap > 0 && rows <= cap
}
