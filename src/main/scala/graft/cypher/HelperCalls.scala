package graft.cypher

/** MAGE helper-module write procedures (`create`/`merge`/`nodes` modules,
  * reference `src/mage/cpp/create_module/`, `merge_module/`,
  * `nodes_module/`): dynamic labels / types / properties supplied as
  * procedure arguments.
  *
  * The reference executes these per input row against the mgp write API.
  * Here each desugars to the Cypher clause it performs and plans through
  * the normal mutation path (id allocation, label frames, overlap
  * tracking) instead of a parallel write API:
  *  - `create.node` / `merge.node` plan as a CREATE / MERGE clause over
  *    the current frame, constant and per-row arguments alike
  *    (`Planner.planHelperNodeWrite`);
  *  - `create.relationship` / `merge.relationship` take bound node
  *    variables and plan as a CREATE / MERGE clause over them
  *    (`Planner.planHelperRelationship`);
  *  - the constant-argument forms below render to a Cypher statement
  *    ([[render]]) that a sub-planner runs. */
object HelperCalls {

  /** Procedures rewritten to Cypher text (constant args only). */
  val textForms: Set[String] = Set(
    "create.nodes", "create.set_property",
    "create.set_properties", "create.remove_properties",
    "create.remove_labels", "create.set_rel_property",
    "create.set_rel_properties", "create.remove_rel_properties",
    "nodes.link", "nodes.delete")

  /** Procedures synthesized as AST against bound node variables. */
  val entityForms: Set[String] =
    Set("create.relationship", "merge.relationship")

  /** Render a constant value as a Cypher literal. */
  def lit(v: Any): String = v match {
    case null => "null"
    case s: String => "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case b: Boolean => b.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case d: Double => d.toString
    case xs: Seq[_] => xs.map(lit).mkString("[", ", ", "]")
    case m: Map[_, _] =>
      m.map { case (k, x) => s"`${k.toString}`: ${lit(x)}" }
        .mkString("{", ", ", "}")
    case other =>
      throw new IllegalArgumentException(
        s"cannot render $other as a Cypher literal")
  }

  private def strings(v: Any, what: String): Seq[String] = v match {
    case s: String => Seq(s)
    case xs: Seq[_] => xs.map(_.toString)
    case other =>
      throw new IllegalArgumentException(s"$what: need string(s), got $other")
  }

  private def longs(v: Any, what: String): Seq[Long] = v match {
    case l: Long => Seq(l)
    case i: Int => Seq(i.toLong)
    case xs: Seq[_] => xs.map {
      case l: Long => l
      case i: Int => i.toLong
      case other =>
        throw new IllegalArgumentException(s"$what: need node id(s), got $other")
    }
    case other =>
      throw new IllegalArgumentException(s"$what: need node id(s), got $other")
  }

  private def mapOf(v: Any, what: String): Map[String, Any] = v match {
    case null => Map.empty
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> x }
    case other =>
      throw new IllegalArgumentException(s"$what: need a map, got $other")
  }

  private def labelSpec(ls: Seq[String]): String =
    ls.map(l => s":`$l`").mkString

  private def idsMatch(ids: Seq[Long], v: String = "n"): String =
    s"MATCH ($v) WHERE id($v) IN [${ids.mkString(", ")}]"

  /** The Cypher statement a constant-arg helper call plans to. The yield
    * column names match the reference's Return declarations. */
  def render(name: String, cv: Seq[Any]): String = name match {
    case "create.nodes" =>
      // create.nodes(label, props) → one node per props map
      val ls = strings(cv.head, "create.nodes labels")
      val maps = cv.lift(1) match {
        case Some(xs: Seq[_]) => xs.map(mapOf(_, "create.nodes props"))
        case other =>
          throw new IllegalArgumentException(
            s"create.nodes: need a list of maps, got $other")
      }
      // one literal pattern per map (props are constants), then UNWIND
      // the created nodes back out — one row per node
      val vars = maps.indices.map(i => s"hcn$i")
      val pats = vars.zip(maps).map { case (v, m) =>
        val p = if (m.isEmpty) "" else " " + lit(m)
        s"($v${labelSpec(ls)}$p)"
      }
      s"CREATE ${pats.mkString(", ")} " +
        s"WITH [${vars.mkString(", ")}] AS hcns " +
        "UNWIND hcns AS node RETURN node"
    case "create.set_property" =>
      // create.set_property(nodes, key, value) → node; nodes by id here
      // (the reference's Any arg also accepts ids)
      val ids = longs(cv.head, name)
      val key = strings(cv(1), s"$name key").head
      s"${idsMatch(ids)} SET n.`$key` = ${lit(cv(2))} RETURN n AS node"
    case "create.set_properties" =>
      val ids = longs(cv.head, name)
      val keys = strings(cv(1), s"$name keys")
      val values = cv(2) match {
        case xs: Seq[_] => xs
        case other => throw new IllegalArgumentException(
          s"$name: need a value list, got $other")
      }
      require(keys.size == values.size, s"$name: keys/values length mismatch")
      val sets = keys.zip(values)
        .map { case (k, v) => s"n.`$k` = ${lit(v)}" }.mkString(", ")
      s"${idsMatch(ids)} SET $sets RETURN n AS node"
    case "create.remove_properties" =>
      val ids = longs(cv.head, name)
      val keys = strings(cv(1), s"$name keys")
      val rm = keys.map(k => s"n.`$k`").mkString(", ")
      s"${idsMatch(ids)} REMOVE $rm RETURN n AS node"
    case "create.remove_labels" =>
      val ids = longs(cv.head, name)
      val ls = strings(cv(1), s"$name labels")
      s"${idsMatch(ids)} REMOVE n${labelSpec(ls)} RETURN n AS node"
    case "create.set_rel_property" =>
      val ids = longs(cv.head, name)
      val key = strings(cv(1), s"$name key").head
      s"MATCH ()-[r]->() WHERE id(r) IN [${ids.mkString(", ")}] " +
        s"SET r.`$key` = ${lit(cv(2))} RETURN r AS relationship"
    case "create.set_rel_properties" =>
      // create.set_rel_properties(rels, keys, values) → relationship
      // (create_module, plural form of set_rel_property)
      val ids = longs(cv.head, name)
      val keys = strings(cv(1), s"$name keys")
      val values = cv(2) match {
        case xs: Seq[_] => xs
        case other => throw new IllegalArgumentException(
          s"$name: need a value list, got $other")
      }
      require(keys.size == values.size, s"$name: keys/values length mismatch")
      val sets = keys.zip(values)
        .map { case (k, v) => s"r.`$k` = ${lit(v)}" }.mkString(", ")
      s"MATCH ()-[r]->() WHERE id(r) IN [${ids.mkString(", ")}] " +
        s"SET $sets RETURN r AS relationship"
    case "create.remove_rel_properties" =>
      val ids = longs(cv.head, name)
      val keys = strings(cv(1), s"$name keys")
      val rm = keys.map(k => s"r.`$k`").mkString(", ")
      s"MATCH ()-[r]->() WHERE id(r) IN [${ids.mkString(", ")}] " +
        s"REMOVE $rm RETURN r AS relationship"
    case "nodes.link" =>
      // nodes.link(nodes, type): chain-link the id list in order
      // (nodes_module.cpp Link)
      val ids = longs(cv.head, name)
      val tpe = strings(cv(1), s"$name type").head
      require(ids.size >= 2, "nodes.link: need at least two nodes")
      val pairs = ids.zip(ids.tail)
        .map { case (a, b) => s"[$a, $b]" }.mkString(", ")
      s"UNWIND [$pairs] AS __pr " +
        "MATCH (a) WHERE id(a) = __pr[0] MATCH (b) WHERE id(b) = __pr[1] " +
        s"CREATE (a)-[r:`$tpe`]->(b) RETURN r AS relationships"
    case "nodes.delete" =>
      val ids = longs(cv.head, name)
      s"${idsMatch(ids)} DETACH DELETE n"
    case other =>
      throw new IllegalArgumentException(s"unknown helper call: $other")
  }
}
