package graft

import org.apache.spark.sql.functions._

import graft.core.Frames
import graft.operators.Expand
import graft.sources.TpchGraphLoader

/** Smoke + semantic checks for the query catalog on sf0.001. The DuckDB
  * hash-oracle runs driver-side; these tests assert internal consistency the
  * oracle can't see (e.g. graph invariants). */
class CatalogSpec extends SparkTestBase {

  test("every catalog query runs and is non-empty (except known-empty)") {
    val knownEmpty = Set.empty[String]
    // Default: a deterministic 1-in-4 sample. The driver's own oracle
    // gate (Verify + DuckDB) already runs EVERY query against pinned
    // expected values, so the per-query run-and-non-empty smoke here is
    // redundant coverage; at 352 queries it pushed the whole suite past
    // the driver's test window (r17: truncated run, no summary).
    // GRAFT_FULL_CATALOG=1 restores the full pass for local use. The
    // sample rotates with the catalog size so new queries join it.
    val all = SparkEntry.catalog
    val sample =
      if (sys.env.contains("GRAFT_FULL_CATALOG")) all
      else all.zipWithIndex.collect { case (q, i) if i % 4 == 0 => q }
    sample.foreach { q =>
      val n = q.fn(spark, sfDir).count()
      if (!knownEmpty(q.name))
        assert(n > 0, s"query ${q.name} returned 0 rows")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle map keys are a subset of query names") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  test("graph invariants: expand matches raw-table join cardinality") {
    val gs = TpchGraphLoader(spark, sfDir)
    val nCust = gs.nodes("Customer").count()
    val frame = Frames.bind("c")(gs.nodes("Customer"))
    val expanded =
      Expand(frame, gs, "c", "e", Seq("FROM_NATION"), Expand.Out, "n", Some("Nation"))
    // every customer has exactly one nation
    assert(expanded.count() == nCust)
    // KNOWS is 2 edges per customer, all endpoints resolve
    val knows = Frames.bind("k")(gs.edges("KNOWS"))
    assert(knows.count() == 2 * nCust)
    val resolved = knows.join(
      Frames.bind("c2")(gs.nodes("Customer")),
      Frames.dst("k") === Frames.id("c2"))
    assert(resolved.count() == 2 * nCust)
  }

  test("node ids are globally unique") {
    val gs = TpchGraphLoader(spark, sfDir)
    val all = gs.allNodes.select(col("_id"))
    assert(all.count() == all.distinct().count())
  }
}
