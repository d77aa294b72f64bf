package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.core.GraphState
import graft.operators.Mutations

/** Streaming ingestion, triggers, and TTL (SURVEY.md §2.9).
  *
  * The reference's streaming is *transactional ingestion*, not stream
  * analytics: `CREATE STREAM … TRANSFORM module.fn BATCH_INTERVAL ms
  * BATCH_SIZE n` (ast.hpp:3741; `CommonStreamInfo` common.hpp:34-40) pulls
  * message batches and hands them to a transformation that emits write
  * statements. Our Spark-native contract is the same shape:
  * `readStream` source → `foreachBatch` → a [[Transformation]] that turns
  * the batch DataFrame into mutations against the current [[GraphState]]
  * version.
  *
  * Delivery semantics: **at-least-once per process lifetime**. Structured
  * Streaming checkpoints source offsets durably, but the evolved
  * [[GraphState]] lives only in this JVM (`@volatile var` seeded from
  * `initial`) — restarting a run against an *existing* `checkpointDir`
  * would skip batches that committed in the previous process while their
  * mutations live only in that process's lost state. Use a fresh
  * `checkpointDir` per run (every call-site here does), or, for true
  * exactly-once across restarts, persist the state version keyed by
  * batchId alongside the offsets and make transforms idempotent on replay.
  *
  * Triggers (`CREATE TRIGGER … ON CREATE AFTER COMMIT`, trigger.hpp:93,
  * event set trigger_context.hpp:151-163): after each batch commits, every
  * registered trigger receives the batch's diff frames (created nodes /
  * created edges) — the `createdVertices`-style predefined variables — and
  * may further mutate the state.
  *
  * TTL (`TtlQuery` ast.hpp:4357, storage TTL src/storage/v2/ttl.hpp):
  * [[expire]] drops nodes whose `ttl` property (epoch seconds) is past, as
  * a scheduled filter job producing a new state version.
  */
object GraphStream {

  /** Batch transformation: (current graph, batch) → new graph + diffs. */
  type Transformation = (GraphState, DataFrame) => IngestResult

  /** Trigger event classes — the reference's event matrix
    * (trigger_context.hpp:151-163: CREATED_VERTEX/EDGE, SET/REMOVED
    * properties + labels as "update", DELETED_VERTEX/EDGE) collapsed to
    * entity-level create/update/delete, plus ANY. */
  sealed trait TriggerEvent
  object TriggerEvent {
    case object OnCreate extends TriggerEvent
    case object OnUpdate extends TriggerEvent
    case object OnDelete extends TriggerEvent
    case object Any extends TriggerEvent
  }

  /** Per-batch diff frames — the reference's predefined trigger variables
    * (trigger.hpp:103-116: createdVertices/Edges, updated objects with the
    * touched ids/properties, deletedVertices/Edges). A transformation
    * reports only what it actually changed; triggers fire on the matching
    * event class. */
  final case class IngestResult(
      graph: GraphState,
      createdNodes: Map[String, DataFrame] = Map.empty,
      createdEdges: Map[String, DataFrame] = Map.empty,
      updatedNodes: Map[String, DataFrame] = Map.empty,
      updatedEdges: Map[String, DataFrame] = Map.empty,
      deletedNodes: Map[String, DataFrame] = Map.empty,
      deletedEdges: Map[String, DataFrame] = Map.empty) {
    def has(e: TriggerEvent): Boolean = e match {
      case TriggerEvent.OnCreate =>
        createdNodes.nonEmpty || createdEdges.nonEmpty
      case TriggerEvent.OnUpdate =>
        updatedNodes.nonEmpty || updatedEdges.nonEmpty
      case TriggerEvent.OnDelete =>
        deletedNodes.nonEmpty || deletedEdges.nonEmpty
      case TriggerEvent.Any => true
    }
  }

  /** Trigger body: receives a state + the batch diffs, returns the
    * (possibly further-mutated) state. */
  type TriggerFn = (GraphState, IngestResult) => GraphState

  /** Trigger phase (`CREATE TRIGGER … BEFORE|AFTER COMMIT`,
    * trigger.hpp:93): BEFORE runs INSIDE the batch transaction, against
    * the candidate (not-yet-published) state — it may mutate the
    * candidate, and raising [[TriggerAbort]] (or any exception) aborts
    * the whole batch, exactly the reference's in-transaction contract.
    * AFTER runs against the committed state. */
  sealed trait TriggerPhase
  object TriggerPhase {
    case object Before extends TriggerPhase
    case object After extends TriggerPhase
  }

  /** Raised by a BEFORE-COMMIT trigger to abort its batch. */
  final class TriggerAbort(msg: String) extends RuntimeException(msg)

  /** Registered trigger (`CREATE TRIGGER name ON <event> BEFORE|AFTER
    * COMMIT`, trigger.hpp:93): fires only when the batch diff contains
    * its event. */
  final case class TriggerDef(
      name: String,
      event: TriggerEvent,
      fn: TriggerFn,
      phase: TriggerPhase = TriggerPhase.After)

  /** `CREATE STREAM` source declaration — the union of the reference's
    * `CommonStreamInfo` (common.hpp:34-40: batch_interval, batch_size) and
    * the Kafka `ConsumerInfo` (integrations/kafka/consumer.hpp:84-93:
    * topics, consumer_group, bootstrap_servers, public/private configs),
    * plus the file-source shape the tests drive. The Spark mapping is
    * declarative:
    *
    *  - `batch_size`      → `maxOffsetsPerTrigger` (per-batch message cap)
    *  - `batch_interval`  → `Trigger.ProcessingTime(ms)`; absent →
    *                        `Trigger.AvailableNow()` (bounded run)
    *  - `topics`          → `subscribe`
    *  - `consumer_group`  → `kafka.group.id`
    *  - `bootstrap_servers` → `kafka.bootstrap.servers`
    *  - configs           → passthrough under the `kafka.` prefix
    *
    * A Kafka batch arrives with the connector's fixed schema (key, value,
    * topic, partition, offset, timestamp, …) — the [[Transformation]] sees
    * raw messages exactly like the reference's `mgp_messages` API. */
  final case class SourceSpec(
      format: String, // "kafka" | "pulsar" | "json" | "parquet" | "csv"
      path: Option[String] = None, // file sources
      schema: Option[StructType] = None, // file sources
      topics: Seq[String] = Nil,
      bootstrapServers: Option[String] = None,
      consumerGroup: Option[String] = None,
      /** Pulsar broker URL (`src/integrations/pulsar/consumer.hpp:56`
        * `service_url`; `CREATE PULSAR STREAM … SERVICE_URL`). */
      serviceUrl: Option[String] = None,
      batchIntervalMs: Option[Long] = None,
      batchSize: Option[Long] = None,
      configs: Map[String, String] = Map.empty)

  /** Pure option mapping (unit-testable without a broker). The reference
    * consumes KAFKA and PULSAR streams through one `CommonStreamInfo`
    * (common.hpp:46 StreamSourceType); here both map declaratively onto
    * a Structured Streaming source — Pulsar via the Apache
    * pulsar-spark connector's option surface (`service.url`, `topics`,
    * `predefinedSubscription`). */
  def sourceOptions(s: SourceSpec): Map[String, String] =
    s.format match {
      case "kafka" =>
        require(s.topics.nonEmpty, "kafka source needs topics")
        require(
          s.bootstrapServers.nonEmpty, "kafka source needs bootstrap_servers")
        Map("subscribe" -> s.topics.mkString(",")) ++
          s.bootstrapServers.map("kafka.bootstrap.servers" -> _) ++
          s.consumerGroup.map("kafka.group.id" -> _) ++
          s.batchSize.map("maxOffsetsPerTrigger" -> _.toString) ++
          s.configs.map { case (k, v) =>
            (if (k.startsWith("kafka.")) k else s"kafka.$k") -> v
          }
      case "pulsar" =>
        require(s.topics.nonEmpty, "pulsar source needs topics")
        require(s.serviceUrl.nonEmpty, "pulsar source needs service_url")
        Map("topics" -> s.topics.mkString(",")) ++
          s.serviceUrl.map("service.url" -> _) ++
          s.consumerGroup.map("predefinedSubscription" -> _) ++
          s.batchSize.map("maxEntriesPerTrigger" -> _.toString) ++
          s.configs
      case _ => Map.empty
    }

  /** batch_interval → ProcessingTime; unset → AvailableNow (the bounded
    * analog the tests run; a production Kafka stream sets the interval). */
  def triggerOf(s: SourceSpec): Trigger =
    s.batchIntervalMs
      .map(ms => Trigger.ProcessingTime(ms))
      .getOrElse(Trigger.AvailableNow())

  // ---------------- DDL registries ----------------

  /** `CREATE TRIGGER name [ON ()|--> CREATE|UPDATE|DELETE] BEFORE|AFTER
    * COMMIT EXECUTE <statement>` (reference grammar
    * MemgraphCypher.g4:712, trigger.hpp:93) — the registered statement
    * runs per matching batch with the predefined trigger variables
    * (`createdVertices`, `createdEdges`, `updatedVertices`,
    * `updatedEdges`, `deletedVertices`, `deletedEdges` —
    * trigger.hpp:103-116) bound from the batch diff. `entity` narrows
    * the event to vertices (`()`) or edges (`-->`). */
  final case class StoredTrigger(
      name: String,
      entity: Option[String], // "vertex" | "edge"
      event: Option[String], // "CREATE" | "UPDATE" | "DELETE"
      before: Boolean,
      statement: String)

  /** `CREATE KAFKA|PULSAR|FILE STREAM name <configs>` (StreamQuery
    * ast.hpp:3741; FILE is the Spark-native file-source extension): the
    * declarative spec + transformation name. `START STREAM` resolves the
    * TRANSFORM in [[transformRegistry]] and runs a bounded consumer pass
    * ([[startStored]]); `CHECK STREAM` dry-runs it ([[checkStored]]). */
  final case class StoredStream(
      name: String,
      kind: String, // "kafka" | "pulsar" | "file"
      spec: SourceSpec,
      transform: Option[String],
      running: Boolean)

  val triggerRegistry =
    scala.collection.concurrent.TrieMap.empty[String, StoredTrigger]
  val streamRegistry =
    scala.collection.concurrent.TrieMap.empty[String, StoredStream]

  /** The reference's transformation contract (python mgp transformations,
    * `query/procedure/module.hpp` — each message batch yields a list of
    * (query, parameters) write statements): a batch DataFrame → the
    * statements to run, in order. DDL streams (`CREATE … STREAM …
    * TRANSFORM name`) resolve their TRANSFORM name here — the Scala-API
    * analog of dropping a transform module into the query-modules
    * directory. */
  type QueryTransform =
    (SparkSession, DataFrame) => Seq[(String, Map[String, Any])]

  val transformRegistry =
    scala.collection.concurrent.TrieMap.empty[String, QueryTransform]

  private def resolveTransform(st: StoredStream): QueryTransform = {
    val name = st.transform.getOrElse(throw new IllegalArgumentException(
      s"stream '${st.name}' has no TRANSFORM"))
    transformRegistry.getOrElse(
      name,
      throw new IllegalArgumentException(
        s"transformation '$name' is not registered (register it via " +
          "GraphStream.transformRegistry — the reference loads it from " +
          "the query-modules directory, streams.cpp CallCustomTransformation)"))
  }

  /** `START STREAM name` (reference streams.cpp:520-567 spins the
    * consumer thread): resolve the stored spec + TRANSFORM and run ONE
    * bounded consumer pass over the currently-available source data
    * (Trigger.AvailableNow — the batch analog of the reference's
    * consumer loop; a long-lived ProcessingTime consumer is the
    * Scala-API [[ingest]] path). Each batch's statements run as one
    * transaction against the evolving state; DDL triggers fire per batch.
    * Returns the post-ingestion graph version. */
  def startStored(
      spark: SparkSession, g0: GraphState, name: String): GraphState = {
    val st = streamRegistry.getOrElse(
      name,
      throw new IllegalArgumentException(s"stream '$name' does not exist"))
    val qt = resolveTransform(st)
    val transformation: Transformation = (g, batch) => {
      val after = qt(spark, batch).foldLeft(g) { case (acc, (q, ps)) =>
        graft.cypher.Cypher.execute(spark, acc, q, ps).graph
      }
      // diffs at entity granularity are not derivable from opaque
      // statements — event-narrowed (ON () CREATE …) triggers no-op for
      // DDL streams; event-ANY triggers still fire per batch
      IngestResult(after)
    }
    val ckpt = java.nio.file.Files
      .createTempDirectory(s"graft-stream-$name").toString
    // drain-the-available semantics regardless of BATCH_INTERVAL: the
    // interval paces a live broker consumer, which a statement cannot
    // block on — drop it for this bounded pass
    val bounded = st.spec.copy(batchIntervalMs = None)
    val out = ingest(spark, bounded, g0, transformation, Nil, ckpt)
    streamRegistry.put(name, st.copy(running = true))
    out
  }

  /** `CHECK STREAM name` (streams.cpp:832-889): DRY-RUN the transform
    * over the available data — per batch, one row of
    * (`queries`: the (query, parameters) list the transform produced,
    * `raw messages`: the batch payloads) — committing NOTHING. */
  def checkStored(
      spark: SparkSession,
      g0: GraphState,
      name: String,
      batchLimit: Option[Long]): DataFrame = {
    val st = streamRegistry.getOrElse(
      name,
      throw new IllegalArgumentException(s"stream '$name' does not exist"))
    val qt = resolveTransform(st)
    val rows =
      scala.collection.mutable.ArrayBuffer.empty[(Seq[String], Seq[String])]
    val ckpt = java.nio.file.Files
      .createTempDirectory(s"graft-check-$name").toString
    val bounded = st.spec.copy(batchIntervalMs = None)
    val q = reader(spark, bounded).writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (batchLimit.forall(rows.length < _)) {
          val queries = qt(spark, batch).map { case (qq, ps) =>
            if (ps.isEmpty) qq
            else s"$qq /* parameters: ${ps.toSeq.sortBy(_._1)
              .map { case (k, v) => s"$k=$v" }.mkString(", ")} */"
          }
          val payloads = batch
            .select(to_json(struct(batch.columns.map(col): _*)))
            .collect().map(_.getString(0)).toSeq
          rows += ((queries, payloads))
        }
        ()
      }
      .start()
    q.awaitTermination()
    import spark.implicits._
    rows.toSeq.toDF("queries", "raw messages")
  }

  private def eventOf(e: Option[String]): TriggerEvent = e match {
    case Some("CREATE") => TriggerEvent.OnCreate
    case Some("UPDATE") => TriggerEvent.OnUpdate
    case Some("DELETE") => TriggerEvent.OnDelete
    case _ => TriggerEvent.Any
  }

  /** Per-frame row cap of a trigger's collected batch diff. */
  private val MaxDiffRows = 100000

  /** Batch diff → predefined trigger variables, as list-of-map
    * parameters ({id} for vertices, {id, start, end} for edges). The
    * collect is batch-bounded (BATCH_SIZE caps it) and capped by
    * [[MaxDiffRows]]; the trigger statement itself is a full distributed
    * Cypher statement. */
  private def diffParams(
      spark: SparkSession, res: IngestResult): Map[String, Any] = {
    val cap = MaxDiffRows
    def vrows(m: Map[String, DataFrame]): Seq[Map[String, Any]] =
      m.values.toSeq.flatMap(
        _.select(GraphState.IdCol).limit(cap).collect()
          .map(r => Map[String, Any]("id" -> r.getLong(0))))
    def erows(m: Map[String, DataFrame]): Seq[Map[String, Any]] =
      m.values.toSeq.flatMap { df =>
        val cols = Seq(GraphState.IdCol) ++
          (if (df.columns.contains(GraphState.SrcCol))
             Seq(GraphState.SrcCol, GraphState.DstCol)
           else Nil)
        df.select(cols.map(col): _*).limit(cap).collect().map { r =>
          val base = Map[String, Any]("id" -> r.getLong(0))
          if (r.length > 2)
            base ++ Map("start" -> r.getLong(1), "end" -> r.getLong(2))
          else base
        }
      }
    Map(
      "createdVertices" -> vrows(res.createdNodes),
      "createdEdges" -> erows(res.createdEdges),
      "updatedVertices" -> vrows(res.updatedNodes),
      "updatedEdges" -> erows(res.updatedEdges),
      "deletedVertices" -> vrows(res.deletedNodes),
      "deletedEdges" -> erows(res.deletedEdges))
  }

  private[graft] val PredefinedVars = Set(
    "createdVertices", "createdEdges", "updatedVertices", "updatedEdges",
    "deletedVertices", "deletedEdges")

  /** Rewrite bare predefined trigger variables (`createdVertices` …) into
    * `$param` references. Character-scan, not regex: a property access
    * (`v.createdVertices`), an already-parameterized `$createdVertices`,
    * and occurrences inside quoted string literals are all left alone —
    * only a free identifier occurrence becomes a parameter (the
    * reference binds these through the evaluation scope,
    * query/trigger.cpp predefined names). */
  private[graft] def rewritePredefined(stmt: String): String = {
    val sb = new StringBuilder(stmt.length + 16)
    var i = 0
    val n = stmt.length
    while (i < n) {
      val c = stmt.charAt(i)
      if (c == '\'' || c == '"') {
        // copy the quoted literal verbatim (backslash escapes honored)
        sb.append(c); i += 1
        var done = false
        while (i < n && !done) {
          val ch = stmt.charAt(i)
          sb.append(ch)
          if (ch == '\\' && i + 1 < n) { sb.append(stmt.charAt(i + 1)); i += 2 }
          else { if (ch == c) done = true; i += 1 }
        }
      } else if (Character.isJavaIdentifierStart(c)) {
        val start = i
        while (i < n && Character.isJavaIdentifierPart(stmt.charAt(i))) i += 1
        val word = stmt.substring(start, i)
        val prev = if (start == 0) ' ' else stmt.charAt(start - 1)
        if (PredefinedVars.contains(word) && prev != '.' && prev != '$')
          sb.append('$').append(word)
        else sb.append(word)
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The registered DDL triggers as [[TriggerDef]]s: the statement's bare
    * predefined variables rewrite to parameters and the statement runs as
    * one Cypher batch against the candidate/committed state. An
    * entity-narrowed trigger (`ON () CREATE`) no-ops when its entity's
    * diff is empty. */
  def ddlTriggerDefs(spark: SparkSession): Seq[TriggerDef] =
    triggerRegistry.values.toSeq.sortBy(_.name).map { st =>
      val fn: TriggerFn = (g, res) => {
        val entityEmpty = (st.entity, st.event) match {
          case (Some("vertex"), Some("CREATE")) => res.createdNodes.isEmpty
          case (Some("vertex"), Some("UPDATE")) => res.updatedNodes.isEmpty
          case (Some("vertex"), Some("DELETE")) => res.deletedNodes.isEmpty
          case (Some("edge"), Some("CREATE")) => res.createdEdges.isEmpty
          case (Some("edge"), Some("UPDATE")) => res.updatedEdges.isEmpty
          case (Some("edge"), Some("DELETE")) => res.deletedEdges.isEmpty
          case _ => false
        }
        if (entityEmpty) g
        else {
          val params = diffParams(spark, res)
          val stmt = rewritePredefined(st.statement)
          val ex = graft.cypher.Cypher.execute(spark, g, stmt, params)
          // FORCE the statement's full evaluation: a read-only trigger
          // body that raises (assert guards — the reference's abort
          // idiom) must abort the batch NOW, not never (count() would
          // prune the raising projection away; toRdd evaluates it). The
          // output is batch-bounded by construction.
          ex.result.queryExecution.toRdd.count()
          ex.graph
        }
      }
      TriggerDef(
        st.name,
        eventOf(st.event),
        fn,
        if (st.before) TriggerPhase.Before else TriggerPhase.After)
    }

  /** Build the streaming reader for a spec (no action taken here). */
  def reader(spark: SparkSession, s: SourceSpec): DataFrame = {
    if (s.format == "kafka" || s.format == "pulsar") {
      sourceOptions(s).foldLeft(spark.readStream.format(s.format)) {
        case (r, (k, v)) => r.option(k, v)
      }.load()
    } else {
      val base = spark.readStream
      val withSchema = s.schema.map(base.schema).getOrElse(base)
      withSchema.format(s.format).load(s.path.getOrElse(
        throw new IllegalArgumentException("file source needs a path")))
    }
  }

  /** Run an ingestion stream for a [[SourceSpec]]; with no
    * `batch_interval` it drains the available data and returns the final
    * graph version after all batches + triggers. */
  def ingest(
      spark: SparkSession,
      source: SourceSpec,
      initial: GraphState,
      transform: Transformation,
      triggers: Seq[TriggerDef],
      checkpointDir: String): GraphState =
    ingestFrom(
      spark, reader(spark, source), triggerOf(source), initial, transform,
      triggers, checkpointDir)

  /** [[ingest]] over an already-built streaming DataFrame — the consumer
    * loop itself, factored out so a test (or an embedding application)
    * can drive it from ANY streaming source: the kafka/pulsar connector,
    * a file listing, or an in-memory stream standing in for a broker. */
  def ingestFrom(
      spark: SparkSession,
      stream: DataFrame,
      trig: Trigger,
      initial: GraphState,
      transform: Transformation,
      triggers: Seq[TriggerDef],
      checkpointDir: String): GraphState = {
    // state evolves batch-serially inside foreachBatch (the reference runs
    // each transformed batch as one transaction, streams.cpp:520-567);
    // DDL-registered triggers (CREATE TRIGGER) fire alongside the
    // API-registered ones
    @volatile var state = initial
    val allTriggers = triggers ++ ddlTriggerDefs(spark)
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trig)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val res = transform(state, batch)
        val (before, after) = allTriggers
          .filter(t => res.has(t.event))
          .partition(_.phase == TriggerPhase.Before)
        // BEFORE COMMIT: runs against the CANDIDATE version, inside the
        // batch "transaction" — a *runtime* trigger abort (raise_error in
        // the trigger body — the reference's assert/abort idiom) rolls the
        // whole batch back (state stays at the pre-batch snapshot;
        // nothing published), logged so the discard is diagnosable.
        // Planning/analysis failures (a trigger statement that doesn't
        // even plan against this batch) RETHROW and fail the query: a
        // misconfigured trigger must not masquerade as successful
        // ingestion while the checkpoint acks the offsets forever
        // (reference fails the transaction visibly, streams.cpp).
        def isPlanError(t: Throwable): Boolean = t match {
          case null => false
          case _: org.apache.spark.sql.AnalysisException => true
          case _: UnsupportedOperationException => true
          case _: IllegalArgumentException => true
          case other => isPlanError(other.getCause)
        }
        val candidate =
          try Some(before.foldLeft(res.graph)((g, t) => t.fn(g, res)))
          catch {
            case scala.util.control.NonFatal(e) if !isPlanError(e) =>
              System.err.println(
                s"[graft.stream] BEFORE-COMMIT trigger aborted batch " +
                  s"(rolled back): ${e.getMessage}")
              None
          }
        candidate.foreach { committed =>
          state = after.foldLeft(committed)((g, t) => t.fn(g, res))
        }
      }
      .start()
    q.awaitTermination()
    state
  }

  /** Run a file-source ingestion stream to completion of the available
    * data — the original surface, now a [[SourceSpec]] shorthand. */
  def ingestAvailable(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      format: String, // "json" | "parquet" | "csv"
      initial: GraphState,
      transform: Transformation,
      triggers: Seq[TriggerDef] = Nil,
      checkpointDir: String): GraphState =
    ingest(
      spark,
      SourceSpec(format, path = Some(sourceDir), schema = Some(schema)),
      initial, transform, triggers, checkpointDir)

  /** TTL sweep: detach-delete every node of `label` whose `ttl` property
    * (epoch seconds) is < `cutoff`. Scheduled periodically in production;
    * one declarative anti-join here. */
  def expire(g: GraphState, label: String, cutoff: Long): GraphState = {
    val doomed = g.nodes(label)
      .filter(col("ttl").isNotNull && col("ttl") < cutoff)
      .select(GraphState.IdCol)
    Mutations.deleteNodes(g, doomed, detach = true)
  }
}
