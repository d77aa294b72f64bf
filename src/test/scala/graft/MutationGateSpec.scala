package graft

import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
import org.apache.spark.sql.functions._

import graft.core.GraphState
import graft.operators.Mutations
import graft.sources.TpchGraphLoader

/** The mutation key/updates broadcast must be COUNT-GATED
  * (`Mutations.BroadcastKeys` rows): `MATCH (n:Lineitem) SET …`
  * derives an updates frame the size of the whole label, and a forced
  * broadcast of that at cluster scale is an 8 GB-limit / driver OOM. Above
  * the gate the join must carry NO broadcast hint (AQE may still choose
  * one from real runtime stats — that is fine; a *forced* hint is not). */
class MutationGateSpec extends SparkTestBase {

  lazy val g = TpchGraphLoader(spark, sfDir)

  private def forcedBroadcastJoins(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: Join
          if j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) ||
            j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) =>
        j
    }.size

  test("big SET (updates >> gate) is NOT broadcast-hinted and stays correct") {
    val li = g.nodes("Lineitem")
    val total = li.count()
    assert(total > 10, "gate must be far below the label size")
    // the label's ids plus enough ids that match no node to pass the gate
    val updates = li.select(col(GraphState.IdCol), lit(1L).as("__nv"))
      .unionByName(spark.range(1, Mutations.BroadcastKeys + 1)
        .select((-col("id")).as(GraphState.IdCol), lit(1L).as("__nv")))
    assert(updates.count() > Mutations.BroadcastKeys)
    val g2 = Mutations.setPropertyByIds(
      g, updates, "gate_flag", Some(Seq("Lineitem")))
    val out = g2.nodes("Lineitem")
    assert(forcedBroadcastJoins(out) == 0,
      "updates above the gate must not carry a broadcast hint")
    assert(out.filter(col("gate_flag") === 1L).count() == total)
  }

  test("small DELETE key (under the gate) keeps the broadcast hint") {
    val ids = g.nodes("Region").select(col(GraphState.IdCol)).limit(2)
    val g2 = Mutations.deleteNodes(g, ids, detach = false, Some(Seq("Region")))
    val out = g2.nodes("Region")
    assert(forcedBroadcastJoins(out) == 1,
      "a key far under the gate should be broadcast-hinted")
    assert(out.count() == g.nodes("Region").count() - 2)
  }
}
