package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Compiled or interpreted execution, decided per graph version.
  *
  * Spark Janino-compiles the expressions and whole-stage spans of every
  * plan it runs, and caches the generated classes in a JVM-wide cache of
  * `spark.sql.codegen.cache.maxEntries` (100) classes. That key is static:
  * it is fixed when the session is built. One cycle of short Cypher reads
  * generates about twice that many distinct classes, so the cache evicts
  * each statement's classes before they are needed again, and every
  * statement recompiles code that is byte-identical to what it compiled
  * one cycle earlier. The reference answers a short read without
  * generating code at all: literal-stripped plan caches feed interpreted
  * pull cursors (`cypher_query_interpreter.cpp:102-129,286-301`).
  *
  * So compile only where the rows pay for the compile: a version with at
  * most [[InterpretedEdges]] edges runs on Spark's interpreted evaluators
  * (`factoryMode=NO_CODEGEN`, which in Spark 4.1 also turns whole-stage
  * codegen off); every larger version runs with the mode the session was
  * built with (by default Spark's compiled mode).
  *
  * The mode is session state that the engine owns: [[apply]] is the one
  * place that writes a `spark.sql.codegen.*` key, and the engine calls it
  * whenever it hands a version to work — at the top of
  * [[graft.cypher.Planner.plan]] and in every loader's `apply` (the
  * catalog's DataFrame programs over a loader graph never reach the
  * planner). A small graph's mode therefore never leaks into a later
  * program over a large one.
  */
object ExecutionMode {

  /** Edge count at or below which a version runs interpreted. It lies
    * between two measured graphs (4 cores, per-template medians):
    * ldbc_interactive (435k edges), the largest measured faster
    * interpreted (statement geomean 409 → 272 ms), and pokec medium
    * (1.87M edges), the smallest measured slower (template medians summed
    * 3,436 ms compiled, 5,137 ms interpreted). */
  val InterpretedEdges = 1000000L

  private val FactoryModeKey = "spark.sql.codegen.factoryMode"
  private val Interpreted = "NO_CODEGEN"
  /** Spark's default: compile, and interpret only what fails to. */
  private val Compiled = "FALLBACK"

  /** Set the session's codegen mode for work on `g`, and return `g`. The
    * first call on a root version runs its one-job decision
    * ([[GraphState.interpreted]]). */
  def apply(spark: SparkSession, g: GraphState): GraphState = {
    spark.conf.set(
      FactoryModeKey,
      if (g.interpreted) Interpreted
      else spark.sparkContext.getConf.get(FactoryModeKey, Compiled))
    g
  }

  /** A root version's decision, shared by every version derived from it:
    * one early-stopping count of its edges, none for a version without
    * edges. The edge thunk is dropped once it has run, so a descendant
    * does not keep its root's frames alive. */
  private[core] final class Decision(private var edges: () => Option[DataFrame]) {
    lazy val interpreted: Boolean = {
      val out = edges().forall(e =>
        graft.operators.Scratch.labeled(e.sparkSession, "graft:execution mode")(
          e.limit(InterpretedEdges.toInt + 1).count()) <= InterpretedEdges)
      edges = null
      out
    }
  }
}
