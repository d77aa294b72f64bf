package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.GraphState

/** Builds a deterministic property graph from the driver-generated TPC-H-ish
  * parquet tables (see TESTDATA.md). This is our stand-in for the reference's
  * bulk import paths (`LOAD PARQUET`, `src/query/plan/operator.hpp:2971`;
  * Arrow reader `src/query/arrow_parquet/reader.cppm:32`).
  *
  * Graph shape:
  * {{{
  *   (:Customer)-[:FROM_NATION]->(:Nation)-[:IN_REGION]->(:Region)
  *   (:Supplier)-[:FROM_NATION]->(:Nation)
  *   (:Customer)-[:PLACED]->(:Order)-[:HAS_LINE]->(:Lineitem)
  *   (:Lineitem)-[:OF_PART]->(:Part)
  *   (:Lineitem)-[:BY_SUPPLIER]->(:Supplier)
  *   (:Customer)-[:KNOWS {k_weight}]->(:Customer)   // synthetic ring+chord
  * }}}
  *
  * `KNOWS` gives the graph cycles and nontrivial BFS distances (the pokec
  * friendship analog, `tests/mgbench/workloads/pokec.py:51`): customer keys
  * are dense 0..N-1, and every customer c knows (c+1) mod N (ring) and
  * (c+7) mod N (chord). Both edges and the weight are pure functions of
  * c_custkey, so a DuckDB oracle can reconstruct them exactly.
  *
  * Ids are deterministic: `labelBase << 48 | businessKey` — no
  * monotonically_increasing_id, no shuffles, stable across runs and
  * partitionings (required for oracle parity and for idempotent re-loads at
  * 100 TB).
  *
  * Tables are read with **explicit schemas** — no footer-inference job at
  * graph-construction time. `events.ts` has shipped as both
  * TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across driver data
  * regenerations, so its unit is probed from the parquet footer (cheap
  * metadata read) and a footer-stats bound (`min ts > 2000-01-01`) fails
  * loudly on drift instead of silently landing every event in 1970.
  */
object TpchGraphLoader {

  /** 48-bit key space per label: at SF 100k the largest key
    * (lineitem = orderkey*16+line) stays < 2^48. */
  private val Shift = 48

  val nodeBases: Map[String, Long] = Map(
    "Region" -> 1L,
    "Nation" -> 2L,
    "Customer" -> 3L,
    "Supplier" -> 4L,
    "Part" -> 5L,
    "Order" -> 6L,
    "Lineitem" -> 7L,
    "Document" -> 8L,
    "Event" -> 9L,
    "Embedding" -> 10L)

  val edgeBases: Map[String, Long] = Map(
    "IN_REGION" -> 101L,
    "FROM_NATION" -> 102L,
    "PLACED" -> 103L,
    "HAS_LINE" -> 104L,
    "OF_PART" -> 105L,
    "BY_SUPPLIER" -> 106L,
    "KNOWS" -> 107L,
    "NEAR" -> 108L)

  /** Global node id for a label + business key (column form). */
  def nodeId(label: String, key: Column): Column =
    lit(nodeBases(label) << Shift) + key.cast("long")

  /** Global node id (literal form), e.g. for point lookups. */
  def nodeId(label: String, key: Long): Long = (nodeBases(label) << Shift) + key

  def edgeId(tpe: String, key: Column): Column =
    lit(edgeBases(tpe) << Shift) + key.cast("long")

  /** Lineitem business key. The synthetic data repeats (orderkey,
    * linenumber) pairs, so we disambiguate with a deterministic per-pair
    * row_number (duplicate rows are fully identical → any assignment within
    * a pair yields the same node multiset; the window is partitioned by the
    * pair, so it scales — no global sort). Key layout:
    * (orderkey*16 + linenumber)*8 + rn, which stays < 2^48 at SF 100k. */
  def withLineitemKey(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("l_orderkey"), col("l_linenumber"))
      .orderBy(col("l_partkey"), col("l_suppkey"), col("l_quantity"), col("l_extendedprice"))
    df.withColumn(
      "__lkey",
      (col("l_orderkey").cast("long") * 16 + col("l_linenumber")) * 8 +
        row_number().over(w))
  }

  // ---- explicit table schemas (TESTDATA.md; driver-generated, seed=42) ----

  val schemas: Map[String, StructType] = Map(
    "region" -> StructType(
      Seq(
        StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType))),
    "nation" -> StructType(
      Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))),
    "customer" -> StructType(
      Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))),
    "supplier" -> StructType(
      Seq(
        StructField("s_suppkey", LongType),
        StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType))),
    "part" -> StructType(
      Seq(
        StructField("p_partkey", LongType),
        StructField("p_name", StringType),
        StructField("p_brand", StringType),
        StructField("p_type", StringType),
        StructField("p_size", IntegerType),
        StructField("p_retailprice", DoubleType))),
    "orders" -> StructType(
      Seq(
        StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType),
        StructField("o_orderpriority", StringType))),
    "lineitem" -> StructType(
      Seq(
        StructField("l_orderkey", LongType),
        StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType),
        StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType),
        StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType),
        StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampType))),
    "documents" -> StructType(
      Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType),
        StructField("source", StringType),
        StructField("n_chars", LongType))),
    "embeddings" -> StructType(
      Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))),
    // ts unit is footer-probed at read time (see eventsTsProbe): the
    // driver has shipped this column as both TIMESTAMP(NANOS) and
    // TIMESTAMP(MICROS) across data regenerations.
    "events" -> StructType(
      Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("props", StringType))))

  /** Events schema as read from disk: `ts` is LongType when the file is
    * TIMESTAMP(NANOS) (Spark reads it via nanosAsLong), TimestampType for
    * MICROS/MILLIS. */
  def eventsDiskSchema(nanos: Boolean): StructType =
    if (!nanos) schemas("events")
    else
      StructType(schemas("events").map(f =>
        if (f.name == "ts") f.copy(dataType = LongType) else f))

  /** Whether the events `ts` column is TIMESTAMP(NANOS), plus the minimum
    * value across row groups in epoch micros — both straight from the
    * parquet footer (one cheap metadata read, no Spark job). */
  final case class EventsTsProbe(nanos: Boolean, minMicros: Long)

  private val tsProbeCache =
    scala.collection.concurrent.TrieMap.empty[String, EventsTsProbe]

  private val Epoch2000Micros = 946684800000000L // 2000-01-01T00:00:00Z

  def eventsTsProbe(spark: SparkSession, path: String): EventsTsProbe =
    tsProbeCache.getOrElseUpdate(path, {
      import scala.jdk.CollectionConverters._
      import org.apache.hadoop.fs.Path
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.parquet.schema.LogicalTypeAnnotation
      import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
      val conf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val file =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p)
            .map(_.getPath)
            .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
            .minBy(_.getName)
        else p
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        val footer = reader.getFooter
        val schema = footer.getFileMetaData.getSchema
        val prim = schema.getType(schema.getFieldIndex("ts")).asPrimitiveType()
        val nanos = prim.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
          case _ => false
        }
        val mins = footer.getBlocks.asScala.flatMap { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == "ts")
            .map(_.getStatistics)
            .filter(s => s != null && s.hasNonNullValue)
            .map(_.genericGetMin.asInstanceOf[Number].longValue)
        }
        val minRaw = if (mins.isEmpty) Long.MaxValue else mins.min
        val probe =
          EventsTsProbe(nanos, if (nanos) minRaw / 1000L else minRaw)
        // Loud failure on unit drift: a wrong unit assumption lands every
        // event in January 1970 and silently corrupts downstream windows.
        require(
          mins.isEmpty || probe.minMicros > Epoch2000Micros,
          s"events.ts at $file decodes below 2000-01-01 " +
            s"(min ${probe.minMicros} us, nanos=$nanos) — parquet timestamp " +
            "unit drifted again; update TpchGraphLoader.eventsTsProbe.")
        probe
      } finally reader.close()
    })

  /** Normalize a freshly-read events frame to a microsecond `ts`. */
  def decodeEventsTs(df: DataFrame, nanos: Boolean): DataFrame =
    if (nanos)
      df.withColumn("ts", timestamp_micros((col("ts") / 1000).cast("long")))
    else df

  /** Read one raw table with its explicit schema (no inference job). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      val path = s"$sfDir/events.parquet"
      val probe = eventsTsProbe(spark, path)
      if (probe.nanos)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      decodeEventsTs(
        spark.read.schema(eventsDiskSchema(probe.nanos)).parquet(path),
        probe.nanos)
    } else spark.read.schema(schemas(name)).parquet(s"$sfDir/$name.parquet")

  // GraphState is a pure-lazy bundle of DataFrames; memoize per sfDir so
  // repeated SparkEntry.queries calls don't re-read parquet footers.
  // keyed by (session, dir): the thunks capture the building session, so
  // a second SparkSession in the same JVM (multi-suite test runs) must
  // not be served a frame bound to the first, possibly stopped, one
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), GraphState]

  def apply(spark: SparkSession, sfDir: String): GraphState =
    cache.getOrElseUpdate((spark, sfDir), {
      val g = build(spark, sfDir)
      // ingest-time index build (reference: storage/v2/indices built at
      // load): kick the src-sorted adjacency view off in the background
      // so the first point-adjacency probe finds it warm instead of
      // paying a full-corpus resort inside its own timing
      g.prewarmAdjacency()
      g
    })

  private def nodeFrame(label: String, df: DataFrame, key: Column): DataFrame = {
    val props = df.columns.toSeq.filterNot(_.startsWith("__")).map(col)
    df.select(
      (nodeId(label, key).as(GraphState.IdCol) ::
        array(lit(label)).as(GraphState.LabelsCol) :: Nil) ++ props: _*)
  }

  private def edgeFrame(
      tpe: String,
      df: DataFrame,
      key: Column,
      src: Column,
      dst: Column,
      props: Seq[(String, Column)] = Nil): DataFrame =
    df.select(
      (edgeId(tpe, key).as(GraphState.IdCol) ::
        src.as(GraphState.SrcCol) ::
        dst.as(GraphState.DstCol) ::
        lit(tpe).as(GraphState.TypeCol) :: Nil) ++
        props.map { case (n, c) => c.as(n) }: _*)

  def build(spark: SparkSession, sfDir: String): GraphState = {
    def tbl(n: String) = table(spark, sfDir, n)
    // The keyed lineitem feeds the Lineitem node frame AND three edge frames
    // (HAS_LINE, OF_PART, BY_SUPPLIER). Without caching, a query touching all
    // of them pays the keying window (a shuffle+sort of the whole fact table)
    // once per frame. Persist it once per GraphState; at 100 TB the analog is
    // writing the keyed table to parquet once at load time and reading the
    // materialization everywhere.
    lazy val keyedLineitem = withLineitemKey(tbl("lineitem"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def li() = keyedLineitem
    val liKey = col("__lkey")

    val nodes: Map[String, () => DataFrame] = Map(
      "Region" -> (() => nodeFrame("Region", tbl("region"), col("r_regionkey"))),
      "Nation" -> (() => nodeFrame("Nation", tbl("nation"), col("n_nationkey"))),
      "Customer" -> (() => nodeFrame("Customer", tbl("customer"), col("c_custkey"))),
      "Supplier" -> (() => nodeFrame("Supplier", tbl("supplier"), col("s_suppkey"))),
      "Part" -> (() => nodeFrame("Part", tbl("part"), col("p_partkey"))),
      "Order" -> (() => nodeFrame("Order", tbl("orders"), col("o_orderkey"))),
      "Lineitem" -> (() => nodeFrame("Lineitem", li(), liKey)),
      "Document" -> (() => nodeFrame("Document", tbl("documents"), col("doc_id"))),
      "Event" -> (() => nodeFrame("Event", tbl("events"), col("event_id"))),
      "Embedding" -> (() => nodeFrame("Embedding", tbl("embeddings"), col("vec_id"))))

    // KNOWS: ring + chord over customers; N via a broadcast 1-row aggregate
    // (lazy, no driver-side action; at scale this is a metadata-cheap job).
    // Customer keys are dense 0..N-1 in the synthetic data; dst = (c+off) % N.
    def knows(): DataFrame = {
      val customer = tbl("customer")
      val nCust =
        customer.agg((max(col("c_custkey")).cast("long") + 1).as("__N"))
      val custWithN = customer.crossJoin(broadcast(nCust))
      def chord(offset: Int, slot: Int): DataFrame =
        edgeFrame(
          "KNOWS",
          custWithN,
          col("c_custkey") * 2 + slot,
          nodeId("Customer", col("c_custkey")),
          nodeId(
            "Customer",
            (col("c_custkey").cast("long") + offset) % col("__N")),
          Seq(
            "k_weight" ->
              ((col("c_custkey").cast("long") * 7 + offset) % 10 + 1)
                .cast("double")))
      chord(1, 0).unionByName(chord(7, 1))
    }

    // NEAR: intra-block cliquey edges over customers (block = ⌊c/4⌋):
    // c→c+1 when c%4<3, c→c+2 when c%4<2, guarded to stay inside the
    // table. KNOWS (ring+chord) is triangle-free by construction — NEAR
    // exists so triangle counting / clustering-coefficient algorithms have
    // a reconstructable graph with actual triangles (2 per full block).
    def near(): DataFrame = {
      val customer = tbl("customer")
      val maxKey =
        customer.agg(max(col("c_custkey")).cast("long").as("__MAXK"))
      val custWithMax = customer.crossJoin(broadcast(maxKey))
      def step(off: Int, slot: Int): DataFrame =
        edgeFrame(
          "NEAR",
          custWithMax.filter(
            col("c_custkey") % 4 < lit(4 - off) &&
              col("c_custkey") + off <= col("__MAXK")),
          col("c_custkey") * 2 + slot,
          nodeId("Customer", col("c_custkey")),
          nodeId("Customer", col("c_custkey") + off))
      step(1, 0).unionByName(step(2, 1))
    }

    val edges: Map[String, () => DataFrame] = Map(
      "IN_REGION" -> (() =>
        edgeFrame(
          "IN_REGION",
          tbl("nation"),
          col("n_nationkey"),
          nodeId("Nation", col("n_nationkey")),
          nodeId("Region", col("n_regionkey")))),
      "FROM_NATION" -> (() =>
        edgeFrame(
          "FROM_NATION",
          tbl("customer"),
          col("c_custkey") * 2,
          nodeId("Customer", col("c_custkey")),
          nodeId("Nation", col("c_nationkey")))
          .unionByName(
            edgeFrame(
              "FROM_NATION",
              tbl("supplier"),
              col("s_suppkey") * 2 + 1,
              nodeId("Supplier", col("s_suppkey")),
              nodeId("Nation", col("s_nationkey"))))),
      "PLACED" -> (() =>
        edgeFrame(
          "PLACED",
          tbl("orders"),
          col("o_orderkey"),
          nodeId("Customer", col("o_custkey")),
          nodeId("Order", col("o_orderkey")))),
      "HAS_LINE" -> (() =>
        edgeFrame(
          "HAS_LINE",
          li(),
          liKey,
          nodeId("Order", col("l_orderkey")),
          nodeId("Lineitem", liKey))),
      "OF_PART" -> (() =>
        edgeFrame(
          "OF_PART",
          li(),
          liKey,
          nodeId("Lineitem", liKey),
          nodeId("Part", col("l_partkey")))),
      "BY_SUPPLIER" -> (() =>
        edgeFrame(
          "BY_SUPPLIER",
          li(),
          liKey,
          nodeId("Lineitem", liKey),
          nodeId("Supplier", col("l_suppkey")))),
      "KNOWS" -> (() => knows()),
      "NEAR" -> (() => near()))

    GraphState(nodes, edges)
  }
}
