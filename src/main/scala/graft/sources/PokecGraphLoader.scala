package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.GraphState

/** Pokec-profile social graph for the mgbench workload port
  * (`/root/reference/tests/mgbench/workloads/pokec.py`): a single `:User`
  * label with integer `id` / `age` / `gender` / `completion_percentage`
  * properties and an untyped friendship digraph — the exact shape the
  * reference's pokec benchmark queries (`pokec.py:613-1383`) run against
  * (`MATCH (n:User {id: $id})-->(m)` — anonymous edge, whole-graph scans),
  * which is why it gets its OWN GraphState rather than co-habiting the
  * TPC-H graph: in pokec the database contains nothing else.
  *
  * Two sources:
  *  - **derived** (correctness gates): when the dir holds the driver's
  *    TPC-H tables, users = customer and friendships come from orders as
  *    `o_custkey -> o_orderkey mod N` (distinct, loopless). That is a
  *    DuckDB-expressible derivation (the oracle replays it as a CTE) with
  *    pokec-like shape at sf0.01: 1,500 users / 14,949 edges, out-degree
  *    1..25 (mean ≈10 vs pokec small's 12.2), diameter ≈4, cycles present.
  *  - **native** (bench): when the dir holds `users.parquet` +
  *    `friendships.parquet` (emitted by `tools/pokec_gen.py` at the
  *    reference's small/medium profiles with power-law in-degrees), load
  *    them directly. PokecBench points here.
  *
  * Scale: both paths are pure DataFrame derivations — the edge list never
  * touches the driver; N comes from a broadcast 1-row aggregate exactly
  * like TpchGraphLoader.knows().
  */
object PokecGraphLoader {

  private val Shift = 48
  val userBase = 11L
  val friendBase = 111L

  def userId(key: Column): Column = lit(userBase << Shift) + key.cast("long")
  def userId(key: Long): Long = (userBase << Shift) + key

  /** age derivation shared with every pokec oracle: (id*37) mod 80 —
    * 0..79 with ~77% of users passing the workload's `age >= 18` filter. */
  def ageExpr(k: Column): Column = (k.cast("long") * 37) % 80

  // keyed by (session, dir) — see TpchGraphLoader.cache
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), GraphState]

  def apply(spark: SparkSession, dir: String): GraphState =
    cache.getOrElseUpdate((spark, dir), {
      val g =
        if (new java.io.File(s"$dir/users.parquet").exists()) native(spark, dir)
        else derived(spark, dir)
      g.prewarmAdjacency()
      g
    })

  /** Gate-path graph derived from the driver's TPC-H tables. */
  private def derived(spark: SparkSession, dir: String): GraphState = {
    def users(): DataFrame = {
      val c = TpchGraphLoader.table(spark, dir, "customer")
      val k = col("c_custkey")
      c.select(
        userId(k).as(GraphState.IdCol),
        array(lit("User")).as(GraphState.LabelsCol),
        k.cast("long").as("id"),
        ageExpr(k).as("age"),
        (k.cast("long") % 2).as("gender"),
        (k.cast("long") * 13 % 100).as("completion_percentage"))
    }
    def friendships(): DataFrame = {
      val customer = TpchGraphLoader.table(spark, dir, "customer")
      val orders = TpchGraphLoader.table(spark, dir, "orders")
      val nCust =
        customer.agg((max(col("c_custkey")).cast("long") + 1).as("__N"))
      orders
        .crossJoin(broadcast(nCust))
        .select(
          col("o_custkey").cast("long").as("srck"),
          (col("o_orderkey").cast("long") % col("__N")).as("dstk"),
          col("__N"))
        .filter(col("srck") =!= col("dstk"))
        .distinct()
        .select(
          // (src,dst) is unique after distinct → srck*N+dstk is a key
          (lit(friendBase << Shift) + col("srck") * col("__N") + col("dstk"))
            .as(GraphState.IdCol),
          userId(col("srck")).as(GraphState.SrcCol),
          userId(col("dstk")).as(GraphState.DstCol),
          lit("FRIEND").as(GraphState.TypeCol))
    }
    GraphState(
      Map("User" -> (() => users())),
      Map("FRIEND" -> (() => friendships())))
  }

  private val usersSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("age", LongType),
    StructField("gender", LongType),
    StructField("completion_percentage", LongType)))
  private val friendsSchema = StructType(Seq(
    StructField("src", LongType),
    StructField("dst", LongType)))

  /** Bench-path graph from pokec_gen.py output. */
  private def native(spark: SparkSession, dir: String): GraphState = {
    def users(): DataFrame =
      spark.read.schema(usersSchema).parquet(s"$dir/users.parquet")
        .select(
          userId(col("id")).as(GraphState.IdCol),
          array(lit("User")).as(GraphState.LabelsCol),
          col("id"), col("age"), col("gender"), col("completion_percentage"))
    def friendships(): DataFrame = {
      val f = spark.read.schema(friendsSchema)
        .parquet(s"$dir/friendships.parquet")
      // (src,dst) unique by generation; key packs both — the packing is
      // only injective for ids < 2^22, so oversized inputs fail loudly
      // instead of silently colliding edge identities
      val maxId = spark.read.schema(usersSchema)
        .parquet(s"$dir/users.parquet")
        .agg(org.apache.spark.sql.functions.max("id")).head().getLong(0)
      require(
        maxId < 4194304L,
        s"pokec native loader: user ids up to $maxId exceed the 2^22 " +
          "edge-id packing space (src*2^22+dst would collide)")
      f.select(
        (lit(friendBase << Shift) + col("src") * 4194304L + col("dst"))
          .as(GraphState.IdCol),
        userId(col("src")).as(GraphState.SrcCol),
        userId(col("dst")).as(GraphState.DstCol),
        lit("FRIEND").as(GraphState.TypeCol))
    }
    GraphState(
      Map("User" -> (() => users())),
      Map("FRIEND" -> (() => friendships())))
  }
}
