package graft.procedures

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.GraphState
import graft.core.GraphState.{DstCol, IdCol, SrcCol}
import graft.operators.{Cutover, Scratch}

/** Deterministic variants of the Python MAGE analytics modules
  * (`src/mage/python/set_cover.py`, `kmeans.py`, `link_prediction.py`).
  *
  *   - `set_cover.greedy` / `cp_solve`: the reference pairs element/set
  *     vertex lists and solves set cover (greedy or Gekko CP). Procedure
  *     args are driver-sized by contract (they arrive as literal lists),
  *     so the greedy loop runs in Scala; `cp_solve` delegates to the same
  *     deterministic greedy (a CP solver is out of scope — the cover
  *     validity contract is identical, minimality is best-effort exactly
  *     like the reference's greedy entry point).
  *   - `kmeans.get_clusters`: Lloyd's algorithm, DISTRIBUTED — per round
  *     one map-side nearest-center assignment (centers ride in the plan
  *     as literals; k is small by definition) and one groupBy to
  *     re-average. Deterministic init: the k lowest-id nodes' embeddings
  *     (the reference seeds sklearn with a fixed random_state — same
  *     reproducibility contract, different seed rule).
  *   - `link_prediction.predict` / `recommend`: deterministic
  *     common-neighborhood heuristics (common_neighbors | jaccard |
  *     adamic_adar) standing in for the reference's trained GNN scorer
  *     (link_prediction.py:327) — id-probed pruned scans + semi-joins,
  *     no all-pairs work.
  */
object MlProcs {

  private def longsOf(v: Any, what: String): Seq[Long] = v match {
    case l: Long => Seq(l)
    case i: Int => Seq(i.toLong)
    case xs: Seq[_] => xs.map {
      case l: Long => l
      case i: Int => i.toLong
      case other =>
        throw new IllegalArgumentException(s"$what: need ids, got $other")
    }
    case other =>
      throw new IllegalArgumentException(s"$what: need ids, got $other")
  }

  // ---------------- set_cover ----------------

  /** `set_cover.greedy(element_vertexes, set_vertexes)` → containing_set
    * rows (set ids). Paired lists: element i is contained in set i. */
  def setCoverGreedy(ctx: ProcContext): DataFrame = {
    val elements = longsOf(ctx.args.head, "set_cover elements")
    val sets = longsOf(ctx.args(1), "set_cover sets")
    require(
      elements.size == sets.size,
      "set_cover: element and set lists must pair up")
    val bySets: Map[Long, Set[Long]] =
      elements.zip(sets).groupBy(_._2).map { case (s, xs) =>
        s -> xs.map(_._1).toSet
      }
    var uncovered = elements.toSet
    val chosen = Seq.newBuilder[Long]
    while (uncovered.nonEmpty) {
      // most new coverage; ties broken by smallest set id — deterministic
      val (best, gain) = bySets.view
        .map { case (s, es) => s -> (es & uncovered).size }
        .maxBy { case (s, n) => (n.toLong, -s) }
      require(gain > 0, "set_cover: unreachable element")
      chosen += best
      uncovered = uncovered -- bySets(best)
    }
    val spark = ctx.spark
    import spark.implicits._
    chosen.result().toDF("containing_set")
  }

  // ---------------- kmeans ----------------

  /** Driver Lloyd's ceiling on the embedded-node count. */
  private val KMeansLocalRows = 100000L

  /** `kmeans.get_clusters(n_clusters, embedding_property, …)` → (node,
    * cluster_id) over every node carrying the property (kmeans.py:45). */
  def kmeansClusters(ctx: ProcContext): DataFrame = {
    val g = ctx.g
    val prop = ctx.args.lift(1).map(_.toString).getOrElse("embedding")
    val out = kmeansAssignments(ctx)
    val entityFrames = g.nodeLabels.map(g.nodes).filter(_.columns.contains(prop))
    val entities = entityFrames
      .map(f => f.select(
        col(IdCol),
        struct(f.columns.map(col): _*).as("node")))
      .reduce(_ unionByName _)
    out.join(entities, Seq(IdCol))
      .select(col("node"), col("cluster_id"))
  }

  /** `kmeans.set_clusters(n_clusters, embedding_property,
    * cluster_property, …)` — the write form (kmeans.py:73-103): the same
    * Lloyd's run, its assignment written back as `cluster_property` on
    * every embedded node. Yields (node, cluster_id) like get_clusters. */
  def kmeansSetClusters(ctx: ProcContext): (GraphState, DataFrame) = {
    val prop = ctx.args.lift(1).map(_.toString).getOrElse("embedding")
    val clusterProp = ctx.args.lift(2).map(_.toString).getOrElse("cluster_id")
    val assigned = kmeansAssignments(ctx)
      .select(col(IdCol), col("cluster_id").as("__km_cid"))
      .transform(Scratch.cp)
    var g = ctx.g
    val base = ctx.g
    g.nodeLabels.filter(l => base.nodes(l).columns.contains(prop)).foreach {
      l =>
        g = g.withNodes(l, () =>
          base.nodes(l)
            .join(assigned, Seq(IdCol), "left_outer")
            .withColumn(clusterProp, col("__km_cid"))
            .drop("__km_cid"))
    }
    val entities = base.nodeLabels.map(base.nodes)
      .filter(_.columns.contains(prop))
      .map(f => f.select(col(IdCol), struct(f.columns.map(col): _*).as("node")))
      .reduce(_ unionByName _)
    val yielded = assigned.join(entities, Seq(IdCol))
      .select(col("node"), col("__km_cid").as("cluster_id"))
    (g, yielded)
  }

  /** The shared Lloyd's core → (id, cluster_id) for every node carrying
    * the embedding property. */
  private def kmeansAssignments(ctx: ProcContext): DataFrame = {
    val k = ctx.args.head match {
      case l: Long => l.toInt
      case i: Int => i
      case other => other.toString.toInt
    }
    val prop = ctx.args.lift(1).map(_.toString).getOrElse("embedding")
    val maxIter = ctx.args.lift(4) match {
      case Some(l: Long) => l.toInt
      case Some(i: Int) => i
      case _ => 10
    }
    require(k >= 1, "kmeans: n_clusters must be positive")
    val g = ctx.g
    val frames = g.nodeLabels.map(g.nodes)
      .filter(_.columns.contains(prop))
    require(frames.nonEmpty, s"kmeans: no nodes carry '$prop'")
    val pts0raw = frames
      .map(f => f.select(col(IdCol), col(prop).cast("array<double>").as("__v")))
      .reduce(_ unionByName _)
      .filter(col("__v").isNotNull)
    // subcritical cutover: Lloyd's is maxIter x (groupBy + collect) driver
    // round-trips for k·dim scalars each — on a corpus that collects, ONE
    // ordered collect (which the deterministic lowest-id init needs
    // anyway) runs the same fixed-point locally: same init, same
    // (distance, index) argmin, same per-cluster mean and 1e-8 movement
    // test. Above the cap the distributed loop runs unchanged.
    val ordered = pts0raw.orderBy(col(IdCol))
    Cutover.collect(ordered, KMeansLocalRows).foreach { head =>
      require(head.length >= k, s"kmeans: fewer than $k embedded nodes")
      val ids = head.map(_.getLong(0))
      val vs = head.map(_.getSeq[Double](1))
      var centersL: Array[Seq[Double]] = vs.take(k)
      val dim = centersL.head.size
      def assign(v: Seq[Double]): Int = {
        var bi = 0
        var bd = Double.MaxValue
        var i = 0
        while (i < k) {
          val c = centersL(i)
          var d = 0.0
          var j = 0
          while (j < dim) { val x = v(j) - c(j); d += x * x; j += 1 }
          if (d < bd) { bd = d; bi = i } // ties keep the lower index,
          // matching least(struct(d, c))
          i += 1
        }
        bi
      }
      var it = 0
      var moved = true
      while (moved && it < maxIter) {
        it += 1
        val sums = Array.fill(k)(new Array[Double](dim))
        val ns = new Array[Long](k)
        vs.foreach { v =>
          val c = assign(v)
          ns(c) += 1
          var j = 0
          while (j < dim) { sums(c)(j) += v(j); j += 1 }
        }
        val updated = centersL.indices.map { i =>
          if (ns(i) == 0) centersL(i)
          else sums(i).toSeq.map(_ / ns(i).toDouble)
        }.toArray
        moved = centersL.zip(updated).exists { case (a, b) =>
          a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum > 1e-8
        }
        centersL = updated
      }
      val rows = ids.zip(vs).map { case (id, v) =>
        org.apache.spark.sql.Row(id, assign(v).toLong)
      }
      return ctx.spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            IdCol, org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField(
            "cluster_id", org.apache.spark.sql.types.LongType,
            nullable = false))))
    }
    val pts0 = pts0raw.persist()
    // deterministic init: the k lowest-id embeddings
    var centers: Array[Seq[Double]] = pts0
      .orderBy(col(IdCol)).limit(k).collect()
      .map(_.getSeq[Double](1))
    require(centers.length == k, s"kmeans: fewer than $k embedded nodes")
    def assigned: DataFrame = {
      // nearest center, map-side: centers are plan literals (k is small)
      val dists = centers.zipWithIndex.map { case (c, i) =>
        val cArr = array(c.map(lit): _*)
        struct(
          aggregate(
            zip_with(col("__v"), cArr, (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x).as("d"),
          lit(i.toLong).as("c"))
      }
      pts0.withColumn("__best", least(dists: _*))
        .withColumn("cluster_id", col("__best.c"))
        .drop("__best")
    }
    val dim = centers.head.size
    var it = 0
    var moved = true
    while (moved && it < maxIter) {
      it += 1
      // per-cluster mean: one groupBy with per-dimension sums (map-side
      // partial aggregation; k·dim scalars cross the wire)
      val next = assigned
        .groupBy(col("cluster_id"))
        .agg(
          count(lit(1)).as("__n"),
          array((1 to dim).map(i =>
            sum(element_at(col("__v"), i))): _*).as("__s"))
        .collect()
        .map { r =>
          val n = r.getLong(1).toDouble
          r.getLong(0).toInt -> r.getSeq[Double](2).map(_ / n)
        }
        .toMap
      val updated = centers.indices.map(i => next.getOrElse(i, centers(i))).toArray
      moved = centers.zip(updated).exists { case (a, b) =>
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum > 1e-8
      }
      centers = updated
    }
    val res = assigned.select(col(IdCol), col("cluster_id"))
    pts0.unpersist(false)
    res
  }

  // ---------------- link_prediction ----------------

  /** Undirected neighbor frame of the probed ids over the requested
    * edge types (empty = all) — per-type pruned scans. */
  private def neighborsOf(
      g: GraphState, ids: Seq[Long], types: Seq[String]): DataFrame = {
    val boxed = ids.map(Long.box)
    val e = g.edgesOfTypes(types).select(col(SrcCol), col(DstCol))
    e.filter(col(SrcCol).isin(boxed: _*))
      .select(col(SrcCol).as("p"), col(DstCol).as("nb"))
      .unionByName(
        e.filter(col(DstCol).isin(boxed: _*))
          .select(col(DstCol).as("p"), col(SrcCol).as("nb")))
      .distinct()
  }

  /** `link_prediction.predict(src, dest, {method})` → score
    * (link_prediction.py:327; deterministic heuristic variant). */
  def linkPredict(ctx: ProcContext): DataFrame = {
    val src = longsOf(ctx.args.head, "link_prediction src").head
    val dst = longsOf(ctx.args(1), "link_prediction dest").head
    val cfg: Map[String, Any] = ctx.args.lift(2) match {
      case Some(m: Map[_, _]) => m.map { case (k, v) => k.toString -> v }
      case Some(s: String) => Map("method" -> s)
      case _ => Map.empty
    }
    val method = cfg.get("method").map(_.toString).getOrElse("common_neighbors")
    val types = cfg.get("types") match {
      case Some(xs: Seq[_]) => xs.map(_.toString)
      case _ => Nil
    }
    val nbs = neighborsOf(ctx.g, Seq(src, dst), types).persist()
    val a = nbs.filter(col("p") === src).select(col("nb"))
    val b = nbs.filter(col("p") === dst).select(col("nb"))
    val common = a.join(b, Seq("nb"), "left_semi").persist()
    val score: Double = method match {
      case "common_neighbors" => common.count().toDouble
      case "jaccard" =>
        val u = a.unionByName(b).distinct().count()
        if (u == 0) 0.0 else common.count().toDouble / u
      case "adamic_adar" =>
        // 1/ln(deg(z)) over common z — degrees via one semi-joined scan
        val e = ctx.g.edgesOfTypes(types).select(col(SrcCol), col(DstCol))
        val touched = e
          .select(col(SrcCol).as("nb")).unionByName(e.select(col(DstCol).as("nb")))
          .join(common, Seq("nb"), "left_semi")
          .groupBy(col("nb")).agg(count(lit(1)).as("deg"))
        touched
          .agg(sum(when(col("deg") > 1, lit(1.0) / log(col("deg")))
            .otherwise(lit(0.0))).as("s"))
          .collect().headOption.flatMap(r => Option(r.get(0)))
          .map(_.asInstanceOf[Double]).getOrElse(0.0)
      case other =>
        throw new IllegalArgumentException(
          s"link_prediction: unknown method '$other'")
    }
    nbs.unpersist(false); common.unpersist(false)
    val spark = ctx.spark
    import spark.implicits._
    Seq(Tuple1(score)).toDF("score")
  }

  /** `link_prediction.recommend(src, k)` → top-k (node_id, score) by
    * common-neighbor count — two pruned joins + a top-k, no all-pairs. */
  def linkRecommend(ctx: ProcContext): DataFrame = {
    val src = longsOf(ctx.args.head, "link_prediction src").head
    val k = ctx.args.lift(1) match {
      case Some(l: Long) => l.toInt
      case Some(i: Int) => i
      case _ => 10
    }
    val types = ctx.args.lift(2) match {
      case Some(m: Map[_, _]) =>
        m.map { case (kk, v) => kk.toString -> v }.get("types") match {
          case Some(xs: Seq[_]) => xs.map(_.toString)
          case _ => Nil
        }
      case _ => Nil
    }
    val nb = neighborsOf(ctx.g, Seq(src), types).select(col("nb")).persist()
    val e = ctx.g.edgesOfTypes(types).select(col(SrcCol), col(DstCol))
    // distinct: parallel edges (or one pair under several types) must
    // count once per common neighbor — mirrors linkPredict's neighbor SETS
    val und = e.select(col(SrcCol).as("z"), col(DstCol).as("cand"))
      .unionByName(e.select(col(DstCol).as("z"), col(SrcCol).as("cand")))
      .distinct()
    val scored = und
      .join(nb.withColumnRenamed("nb", "z"), Seq("z"))
      .filter(col("cand") =!= src)
      .join(nb.withColumnRenamed("nb", "cand"), Seq("cand"), "left_anti")
      .groupBy(col("cand"))
      .agg(count(lit(1)).cast("double").as("score"))
      .orderBy(col("score").desc, col("cand").asc)
      .limit(k)
      .select(col("cand").as("node_id"), col("score"))
    nb.unpersist(false)
    scored
  }

  val registry: Map[String, ProcContext => DataFrame] = Map(
    "set_cover.greedy" -> setCoverGreedy,
    "set_cover.cp_solve" -> setCoverGreedy,
    "kmeans.get_clusters" -> kmeansClusters,
    "link_prediction.predict" -> linkPredict,
    "link_prediction.recommend" -> linkRecommend)

  val writeRegistry: Map[String, ProcContext => (GraphState, DataFrame)] =
    Map("kmeans.set_clusters" -> kmeansSetClusters)
}
