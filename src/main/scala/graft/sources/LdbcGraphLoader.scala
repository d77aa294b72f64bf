package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{ExecutionMode, GraphState}

/** LDBC-SNB-profile social network for the mgbench LDBC workload ports
  * (`/root/reference/tests/mgbench/workloads/ldbc_interactive.py`,
  * `ldbc_bi.py`): the full label/type surface those 24 queries touch —
  * Person / City / Country / University / Company / Tag / TagClass /
  * Forum / Post / Comment (both also :Message) over KNOWS / IS_LOCATED_IN /
  * IS_PART_OF / STUDY_AT / WORK_AT / HAS_CREATOR / HAS_TAG / HAS_TYPE /
  * IS_SUBCLASS_OF / REPLY_OF / CONTAINER_OF / HAS_MEMBER / HAS_MODERATOR /
  * LIKES / HAS_INTEREST, with the edge properties the queries read
  * (KNOWS.creationDate, STUDY_AT.classYear, WORK_AT.workFrom,
  * HAS_MEMBER.joinDate, LIKES.creationDate).
  *
  * The graph is a pure, DuckDB-replayable derivation of the driver's TPC-H
  * tables (the correctness-gate contract — the oracle replays every formula
  * as a CTE, see LdbcQueries.prelude):
  *   - Person  = customer (c_custkey 0-based);
  *   - KNOWS   = the pokec derivation (o_custkey -> o_orderkey mod N,
  *     loopless, distinct) plus a derived creationDate;
  *   - Post    = orders (creationDate = o_orderdate + intra-day offset,
  *     every 10th post is an image -> content NULL);
  *   - Comment = lineitem canonicalized per (order, linenumber) and
  *     re-ranked gapless (id = o*8+seq; seq 1 replies to the post, seq k
  *     to seq k-1 — reply chains of depth <= 7, so `REPLY_OF*0..`
  *     fixpoints converge in <= 8 rounds at ANY scale);
  *   - the org/place/tag dimensions come from supplier / nation / region /
  *     part with modular-arithmetic foreign keys.
  *
  * Posts and Comments carry BOTH their own label and :Message; the Message
  * frame is the union of the two builders (same `_id`s), so `mayOverlap`
  * is set — scans re-filter on `_labels` and `allNodes` dedups by id.
  *
  * Scale: every frame is a column-level derivation of one driver table (or
  * one equi-join for the creator-country edges) — no driver loops; the
  * only scalars (N persons, S suppliers, P parts) come from parquet
  * footer min/max stats, collected once per dir and memoized.
  */
object LdbcGraphLoader {

  private val Shift = 48
  // node-id namespaces (bases 1..899 are loader space, GraphState.idBase)
  val personBase = 21L
  val cityBase = 22L
  val countryBase = 23L
  val universityBase = 24L
  val companyBase = 25L
  val tagBase = 26L
  val tagClassBase = 27L
  val forumBase = 28L
  val postBase = 29L
  val commentBase = 30L

  def personId(k: Column): Column = lit(personBase << Shift) + k.cast("long")
  def postId(k: Column): Column = lit(postBase << Shift) + k.cast("long")
  def commentId(o: Column, ln: Column): Column =
    lit(commentBase << Shift) + o.cast("long") * 8 + ln.cast("long")

  /** Scalars shared by many formulas; parquet footer stats make the maxes
    * metadata-cheap. Memoized per dir alongside the GraphState. */
  final case class Dims(n: Long, s: Long, p: Long)

  // keyed by (session, dir) — see TpchGraphLoader.cache
  private val cache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (GraphState, Dims)]

  def apply(spark: SparkSession, dir: String): GraphState =
    ExecutionMode(spark, state(spark, dir)._1)
  def dims(spark: SparkSession, dir: String): Dims = state(spark, dir)._2

  private def state(spark: SparkSession, dir: String): (GraphState, Dims) =
    cache.getOrElseUpdate((spark, dir), {
      val t = (n: String) => TpchGraphLoader.table(spark, dir, n)
      val Array(nMax, sMax, pMax) = Seq(
        t("customer").agg(max("c_custkey")),
        t("supplier").agg(max("s_suppkey")),
        t("part").agg(max("p_partkey")))
        .map(_.head().getLong(0))
        .toArray
      val d = Dims(nMax + 1, sMax + 1, pMax + 1)
      (build(spark, dir, d), d)
    })

  // ---- shared derived columns (each mirrored in LdbcQueries.prelude) ----

  private def ts(base: String, days: Column, hours: Column): Column =
    to_timestamp(lit(base)) +
      make_dt_interval(days.cast("int"), hours.cast("int"), lit(0), lit(0))

  /** comment creator person key: (pk*7 + seq*13) mod N over the canonical
    * lineitem (see `li()`). */
  private def commentCreator(d: Dims): Column =
    (col("pk") * 7 + col("seq") * 13) % d.n

  private def build(spark: SparkSession, dir: String, d: Dims): GraphState = {
    def t(n: String) = TpchGraphLoader.table(spark, dir, n)
    /** Canonical per-(order, linenumber) lineitem row, re-ranked to a
      * gapless per-order `seq` 1..k: the driver's synthetic lineitem has
      * DUPLICATE (l_orderkey, l_linenumber) pairs and gaps in the
      * linenumber sequence, so comment identity dedups by min-aggregates
      * (deterministic, DuckDB-replayable) and threads chain on `seq`
      * (seq 1 replies to the post, seq k to seq k-1 — never dangling).
      *
      * SEVEN frames derive from this one windowed aggregate (Comment,
      * Message, REPLY_OF, the comment halves of HAS_CREATOR / HAS_TAG /
      * IS_LOCATED_IN, LIKES×2) — persist it once per GraphState exactly
      * like TpchGraphLoader's keyed-lineitem, or every ldbc_* action
      * re-pays the groupBy+window shuffle of the whole fact table per
      * frame per pass. At 100 TB the analog is writing the canonical
      * lineitem once at load and reading the materialization everywhere. */
    lazy val liCached: DataFrame = {
      import org.apache.spark.sql.expressions.Window
      t("lineitem")
        .groupBy(col("l_orderkey").cast("long").as("o"),
          col("l_linenumber").cast("long").as("lnn"))
        .agg(min("l_partkey").as("pk"), min("l_extendedprice").as("ep"),
          min("l_shipdate").as("sd"))
        .withColumn("seq",
          row_number()
            .over(Window.partitionBy(col("o")).orderBy(col("lnn")))
            .cast("long"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    def li(): DataFrame = liCached
    /** Session-lifetime persist for the shuffle-bearing edge derivations
      * (distinct / join / union+distinct): GraphState memoizes each
      * frame's PLAN, so without this every query pass re-runs the
      * distinct's exchange once per scan of the frame (an unrolled
      * KNOWS*1..2 over `-[:KNOWS]-` scans it 4×/pass). The reference
      * materializes its edge index once at ingest; this is the same
      * pay-once-at-load trade. */
    def materialized(f: => DataFrame): () => DataFrame = {
      lazy val p =
        f.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      () => p
    }
    def node(base: Long, key: Column, labels: Seq[String], props: Column*) =
      (df: DataFrame) =>
        df.select(
          (lit(base << Shift) + key.cast("long")).as(GraphState.IdCol) +:
            array(labels.map(lit): _*).as(GraphState.LabelsCol) +:
            props: _*)

    // ---- node frames -----------------------------------------------------
    def persons(): DataFrame = {
      val c = col("c_custkey").cast("long")
      node(personBase, c, Seq("Person"),
        c.as("id"),
        concat(lit("F"), (c % 19).cast("string")).as("firstName"),
        concat(lit("L"), (c % 37).cast("string")).as("lastName"),
        when(c % 2 === 0, "male").otherwise("female").as("gender"),
        date_add(lit("1980-01-01").cast("date"), (c * 83 % 7300).cast("int"))
          .as("birthday"),
        element_at(
          array(lit("Chrome"), lit("Firefox"), lit("Safari"), lit("Edge")),
          (c % 4 + 1).cast("int")).as("browserUsed"),
        concat(lit("10.0."), (c % 256).cast("string"), lit("."), (c * 7 % 256).cast("string")).as("locationIP"),
        concat(lit("p"), c.cast("string"), lit("@ldbc.org")).as("email"),
        concat(lit("L"), (c % 5).cast("string")).as("speaks"),
        ts("1994-01-01", c * 37 % 1500, c % 24).as("creationDate"))(
        t("customer"))
    }
    def cities(): DataFrame = {
      val s = col("s_suppkey").cast("long")
      node(cityBase, s, Seq("City"),
        s.as("id"), concat(lit("City_"), s.cast("string")).as("name"))(t("supplier"))
    }
    def countries(): DataFrame = {
      val n = col("n_nationkey").cast("long")
      node(countryBase, n, Seq("Country"),
        n.as("id"), col("n_name").as("name"))(t("nation"))
    }
    def universities(): DataFrame = {
      val s = col("s_suppkey").cast("long")
      node(universityBase, s, Seq("University"),
        s.as("id"), concat(lit("Uni_"), s.cast("string")).as("name"))(
        t("supplier").filter(col("s_suppkey") % 2 === 1))
    }
    def companies(): DataFrame = {
      val s = col("s_suppkey").cast("long")
      node(companyBase, s, Seq("Company"),
        s.as("id"), concat(lit("Co_"), s.cast("string")).as("name"))(
        t("supplier").filter(col("s_suppkey") % 2 === 0))
    }
    def tags(): DataFrame = {
      val p = col("p_partkey").cast("long")
      node(tagBase, p, Seq("Tag"),
        p.as("id"), concat(lit("Tag_"), p.cast("string")).as("name"))(t("part"))
    }
    def tagClasses(): DataFrame = {
      val r = col("r_regionkey").cast("long")
      node(tagClassBase, r, Seq("TagClass"),
        r.as("id"), concat(lit("TC_"), col("r_name")).as("name"))(t("region"))
    }
    def forums(): DataFrame = {
      val s = col("s_suppkey").cast("long")
      node(forumBase, s, Seq("Forum"),
        s.as("id"), concat(lit("Forum_"), s.cast("string")).as("title"))(t("supplier"))
    }
    def posts(): DataFrame = {
      val o = col("o_orderkey").cast("long")
      node(postBase, o, Seq("Post", "Message"),
        (o * 8).as("id"),
        (col("o_orderdate") +
          make_dt_interval(lit(0), lit(0), lit(0), (o % 86399).cast("int")))
          .as("creationDate"),
        when(o % 10 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("post "), (o * 8).cast("string"))).as("content"),
        when(o % 10 === 0, concat(lit("photo"), (o * 8).cast("string"), lit(".jpg")))
          .otherwise(lit(null).cast("string")).as("imageFile"),
        (floor(col("o_totalprice")).cast("long") % 240).as("length"),
        concat(lit("lang"), (o % 5).cast("string")).as("language"))(t("orders"))
    }
    def comments(): DataFrame = {
      val o = col("o")
      val ln = col("seq")
      val id = o * 8 + ln
      node(commentBase, id, Seq("Comment", "Message"),
        id.as("id"),
        (col("sd") +
          make_dt_interval(
            lit(0), lit(0), lit(0), ((o * 7 + ln * 3605) % 86399).cast("int")))
          .as("creationDate"),
        concat(lit("reply "), id.cast("string")).as("content"),
        (floor(col("ep")).cast("long") % 240).as("length"))(
        li())
    }
    def messages(): DataFrame =
      GraphState.unionReconciled(posts(), comments())

    // ---- edge frames -----------------------------------------------------
    def edge(base: Long, off: Column, src: Column, dst: Column, tpe: String,
        props: Column*)(df: DataFrame): DataFrame =
      df.select(
        (lit(base << Shift) + off).as(GraphState.IdCol) +:
          src.as(GraphState.SrcCol) +: dst.as(GraphState.DstCol) +:
          lit(tpe).as(GraphState.TypeCol) +: props: _*)

    def nid(base: Long, k: Column): Column = lit(base << Shift) + k.cast("long")

    def knows(): DataFrame = {
      val pairs = t("orders")
        .select(
          col("o_custkey").cast("long").as("srck"),
          (col("o_orderkey").cast("long") % d.n).as("dstk"))
        .filter(col("srck") =!= col("dstk"))
        .distinct()
      edge(120L, col("srck") * d.n + col("dstk"),
        nid(personBase, col("srck")), nid(personBase, col("dstk")), "KNOWS",
        ts("1995-06-01", (col("srck") * 31 + col("dstk") * 17) % 2000,
          (col("srck") + col("dstk")) % 24).as("creationDate"))(pairs)
    }
    def isPartOf(): DataFrame =
      edge(121L, col("s_suppkey").cast("long"),
        nid(cityBase, col("s_suppkey")),
        nid(countryBase, col("s_nationkey")), "IS_PART_OF")(t("supplier"))
    def isLocatedIn(): DataFrame = {
      val c = col("c_custkey").cast("long")
      val personCity = edge(122L, c,
        nid(personBase, c), nid(cityBase, c % d.s), "IS_LOCATED_IN")(
        t("customer"))
      val uniCity = edge(123L, col("s_suppkey").cast("long"),
        nid(universityBase, col("s_suppkey")),
        nid(cityBase, col("s_suppkey")), "IS_LOCATED_IN")(
        t("supplier").filter(col("s_suppkey") % 2 === 1))
      val coCountry = edge(124L, col("s_suppkey").cast("long"),
        nid(companyBase, col("s_suppkey")),
        nid(countryBase, col("s_nationkey")), "IS_LOCATED_IN")(
        t("supplier").filter(col("s_suppkey") % 2 === 0))
      // message -> country: the creator's nation spread over a 3-country
      // window by message id (IC3 needs per-creator message countries to
      // VARY — a fixed creator country would make its xCount AND yCount
      // predicate structurally empty). 25 = the fixed nation-table size
      // at every TPC-H scale factor. One equi-join to customer each.
      val postCountry = edge(125L, col("o_orderkey").cast("long"),
        nid(postBase, col("o_orderkey")),
        nid(countryBase,
          (col("c_nationkey").cast("long") +
            col("o_orderkey").cast("long") * 8 % 3) % 25),
        "IS_LOCATED_IN")(
        t("orders").join(t("customer"),
          col("o_custkey") === col("c_custkey")))
      val commentCountry = {
        val src = li().select(
          (col("o") * 8 + col("seq")).as("cid"),
          commentCreator(d).as("creatork"))
        edge(126L, col("cid"),
          nid(commentBase, col("cid")),
          nid(countryBase,
            (col("c_nationkey").cast("long") + col("cid") % 3) % 25),
          "IS_LOCATED_IN")(
          src.join(t("customer"), col("creatork") === col("c_custkey")))
      }
      Seq(personCity, uniCity, coCountry, postCountry, commentCountry)
        .reduce(GraphState.unionReconciled)
    }
    def studyAt(): DataFrame = {
      val c = col("c_custkey").cast("long")
      edge(127L, c,
        nid(personBase, c),
        nid(universityBase, ((c / lit(3)).cast("long") % (d.s / 2)) * 2 + 1), "STUDY_AT",
        (lit(1985L) + c % 30).as("classYear"))(
        t("customer").filter(col("c_custkey") % 3 === 0))
    }
    def workAt(): DataFrame = {
      val c = col("c_custkey").cast("long")
      edge(128L, c,
        nid(personBase, c),
        nid(companyBase, ((c / lit(2)).cast("long") % (d.s / 2)) * 2), "WORK_AT",
        (lit(1990L) + c % 30).as("workFrom"))(
        t("customer").filter(col("c_custkey") % 2 === 0))
    }
    def hasCreator(): DataFrame = {
      val postC = edge(129L, col("o_orderkey").cast("long"),
        nid(postBase, col("o_orderkey")),
        nid(personBase, col("o_custkey")), "HAS_CREATOR")(t("orders"))
      val commentC = {
        val id = col("o") * 8 + col("seq")
        edge(130L, id,
          nid(commentBase, id),
          nid(personBase, commentCreator(d)), "HAS_CREATOR")(li())
      }
      GraphState.unionReconciled(postC, commentC)
    }
    def hasTag(): DataFrame = {
      val pairs = t("lineitem")
        .select(
          col("l_orderkey").cast("long").as("o"),
          col("l_partkey").cast("long").as("p"))
        .distinct()
      val postTags = edge(131L, col("o") * d.p + col("p"),
        nid(postBase, col("o")), nid(tagBase, col("p")), "HAS_TAG")(pairs)
      // each comment tags its canonical partkey (BI7's related-tag shape
      // needs comments to carry tags, as LDBC comments do)
      val commentTags = edge(141L, col("o") * 8 + col("seq"),
        nid(commentBase, col("o") * 8 + col("seq")),
        nid(tagBase, col("pk")), "HAS_TAG")(li())
      GraphState.unionReconciled(postTags, commentTags)
    }
    def hasType(): DataFrame =
      edge(132L, col("p_partkey").cast("long"),
        nid(tagBase, col("p_partkey")),
        nid(tagClassBase, col("p_partkey") % 5), "HAS_TYPE")(t("part"))
    def isSubclassOf(): DataFrame =
      edge(133L, col("r_regionkey").cast("long"),
        nid(tagClassBase, col("r_regionkey")),
        nid(tagClassBase, col("r_regionkey") - 1), "IS_SUBCLASS_OF")(
        t("region").filter(col("r_regionkey") >= 1))
    def replyOf(): DataFrame = {
      val o = col("o")
      val ln = col("seq")
      val id = o * 8 + ln
      edge(134L, id,
        nid(commentBase, id),
        when(ln === 1, nid(postBase, o)).otherwise(nid(commentBase, id - 1)),
        "REPLY_OF")(li())
    }
    def containerOf(): DataFrame =
      edge(135L, col("o_orderkey").cast("long"),
        nid(forumBase, col("o_orderkey") % d.s),
        nid(postBase, col("o_orderkey")), "CONTAINER_OF")(t("orders"))
    def hasMember(): DataFrame = {
      val pairs = t("orders")
        .select(
          ((col("o_custkey") + col("o_orderkey")).cast("long") % d.s)
            .as("f"),
          col("o_custkey").cast("long").as("m"))
        .distinct()
      edge(136L, col("f") * d.n + col("m"),
        nid(forumBase, col("f")), nid(personBase, col("m")), "HAS_MEMBER",
        ts("1995-01-01", (col("m") * 13 + col("f") * 7) % 2000, lit(0))
          .as("joinDate"))(pairs)
    }
    def hasModerator(): DataFrame = {
      val s = col("s_suppkey").cast("long")
      edge(137L, s,
        nid(forumBase, s), nid(personBase, (s * 7 + 3) % d.n),
        "HAS_MODERATOR")(t("supplier"))
    }
    def likes(): DataFrame = {
      val o = col("o")
      val ln = col("seq")
      // like-time formulas run on the message-ID property space (o*8 for
      // posts, o*8+seq for comments) so the oracle replays one formula
      val onPosts = li().filter(col("seq") <= 2)
        .select(((o * 5 + ln * 11) % d.n).as("liker"), o.as("postk"),
          (o * 8).as("msg"))
        .distinct()
      val postLikes = edge(138L, col("msg") * d.n + col("liker"),
        nid(personBase, col("liker")), nid(postBase, col("postk")), "LIKES",
        ts("1999-01-01", (col("liker") * 31 + col("msg") * 7) % 900,
          (col("liker") + col("msg")) % 24).as("creationDate"))(onPosts)
      val onComments = li()
        .filter(col("seq") === 3 || col("seq") === 4)
        .select(((o * 11 + ln * 5) % d.n).as("liker"),
          (o * 8 + ln).as("msg"))
        .distinct()
      val commentLikes = edge(139L, col("msg") * d.n + col("liker"),
        nid(personBase, col("liker")), nid(commentBase, col("msg")), "LIKES",
        ts("1999-01-01", (col("liker") * 31 + col("msg") * 7) % 900,
          (col("liker") + col("msg")) % 24).as("creationDate"))(onComments)
      GraphState.unionReconciled(postLikes, commentLikes)
    }
    def hasInterest(): DataFrame = {
      val c = col("c_custkey").cast("long")
      val pairs = t("customer")
        .select(c.as("per"), (c * 17 % d.p).as("tg"))
        .union(t("customer").select(c.as("per"), ((c * 29 + 5) % d.p).as("tg")))
        .distinct()
      edge(140L, col("per") * d.p + col("tg"),
        nid(personBase, col("per")), nid(tagBase, col("tg")), "HAS_INTEREST")(
        pairs)
    }

    new GraphState(
      Map(
        "Person" -> (() => persons()),
        "City" -> (() => cities()),
        "Country" -> (() => countries()),
        "University" -> (() => universities()),
        "Company" -> (() => companies()),
        "Tag" -> (() => tags()),
        "TagClass" -> (() => tagClasses()),
        "Forum" -> (() => forums()),
        "Post" -> (() => posts()),
        "Comment" -> (() => comments()),
        "Message" -> (() => messages())),
      Map(
        // materialized: these embed a distinct/join shuffle (KNOWS,
        // HAS_TAG, HAS_MEMBER, LIKES, HAS_INTEREST pairs; IS_LOCATED_IN's
        // two customer joins); the rest are single-table projections (or,
        // once liCached is warm, projections of it) — persisting those
        // would only spend storage to save a column map.
        "KNOWS" -> materialized(knows()),
        "IS_PART_OF" -> (() => isPartOf()),
        "IS_LOCATED_IN" -> materialized(isLocatedIn()),
        "STUDY_AT" -> (() => studyAt()),
        "WORK_AT" -> (() => workAt()),
        "HAS_CREATOR" -> (() => hasCreator()),
        "HAS_TAG" -> materialized(hasTag()),
        "HAS_TYPE" -> (() => hasType()),
        "IS_SUBCLASS_OF" -> (() => isSubclassOf()),
        "REPLY_OF" -> (() => replyOf()),
        "CONTAINER_OF" -> (() => containerOf()),
        "HAS_MEMBER" -> materialized(hasMember()),
        "HAS_MODERATOR" -> (() => hasModerator()),
        "LIKES" -> materialized(likes()),
        "HAS_INTEREST" -> materialized(hasInterest())),
      mayOverlap = true)
  }
}
