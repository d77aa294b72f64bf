package graft.cypher

import scala.util.parsing.combinator.RegexParsers

import Ast._

/** openCypher parser (hand-rolled combinators — the reference uses a full
  * ANTLR4 grammar, `src/query/frontend/opencypher/grammar/`; we implement the
  * subset inventoried in SURVEY.md §2, widening per round).
  *
  * Precedence (low→high): OR, XOR, AND, NOT, comparison/IN/rlike/string-ops,
  * +/-, * / %, ^, unary-, postfix (.prop, [idx], [a..b], IS NULL).
  */
object CypherParser extends RegexParsers {

  // NBSP & friends appear in real query text (the reference lexer
  // treats unicode spaces as whitespace too)
  override protected val whiteSpace =
    ("""(\s|\u00A0|\u2007|\u202F|//[^\n]*)+""").r

  private val reserved = Set(
    "MATCH", "OPTIONAL", "WHERE", "RETURN", "WITH", "UNWIND", "AS", "UNION",
    "ALL", "ORDER", "BY", "SKIP", "LIMIT", "ASC", "ASCENDING", "DESC",
    "DESCENDING", "DISTINCT", "AND", "OR", "XOR", "NOT", "IN", "IS", "NULL",
    "TRUE", "FALSE", "CASE", "WHEN", "THEN", "ELSE", "END", "STARTS", "ENDS",
    "CONTAINS", "EXISTS", "CREATE", "MERGE", "SET", "DELETE", "DETACH",
    "REMOVE", "ON", "CALL", "YIELD")

  private def kw(s: String): Parser[String] =
    ("""(?i)""" + s + """\b""").r ^^ (_ => s.toUpperCase)

  private val identRe = """[a-zA-Z_][a-zA-Z0-9_]*""".r

  private val identP: Parser[String] = regex(identRe)

  /** `name` as Cypher text: a plain identifier as it is, anything else
    * backquoted with its backticks doubled. */
  def quoteName(name: String): String =
    if (identRe.matches(name)) name
    else "`" + name.replace("`", "``") + "`"

  def ident: Parser[String] =
    bqName |
      Parser { in =>
        identP(in) match {
          case Success(name, next) if !reserved(name.toUpperCase) =>
            Success(name, next)
          case Success(name, _) => Failure(s"reserved word '$name'", in)
          case ns: NoSuccess => Failure(ns.msg, in)
        }
      }

  /** Function names may be dotted (point.distance) and may collide with
    * non-clause keywords like exists/contains — allow raw identifiers here. */
  def fnName: Parser[String] =
    rep1sep(identP, ".") ^^ (_.mkString("."))

  // ---------- literals ----------
  def numberLit: Parser[Expr] =
    """-?(\d+\.\d+([eE][+-]?\d+)?|\d+[eE][+-]?\d+)""".r ^^ (s => Lit(s.toDouble)) |
      """-?\d+""".r ^^ (s => Lit(s.toLong))

  def stringLit: Parser[Expr] =
    ("'" + """([^'\\]|\\.)*""" + "'").r ^^ (s => Lit(unescape(s.substring(1, s.length - 1)))) |
      ("\"" + """([^"\\]|\\.)*""" + "\"").r ^^ (s => Lit(unescape(s.substring(1, s.length - 1))))

  private def unescape(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => b.append('\n'); i += 2
          case 't' => b.append('\t'); i += 2
          case 'r' => b.append('\r'); i += 2
          case 'b' => b.append('\b'); i += 2
          case 'f' => b.append('\f'); i += 2
          // \uXXXX / \UXXXXXXXX unicode escapes (openCypher string spec)
          case 'u' if i + 5 < s.length + 1 && i + 6 <= s.length =>
            b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case 'U' if i + 10 <= s.length =>
            b.appendAll(Character.toChars(
              Integer.parseInt(s.substring(i + 2, i + 10), 16)))
            i += 10
          case other => b.append(other); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  def literal: Parser[Expr] =
    kw("NULL") ^^ (_ => Lit(null)) |
      kw("TRUE") ^^ (_ => Lit(true)) |
      kw("FALSE") ^^ (_ => Lit(false)) |
      numberLit | stringLit

  def listLit: Parser[Expr] = "[" ~> repsep(expr, ",") <~ "]" ^^ ListLit.apply
  /** Map keys may also be quoted strings (`{"dimension": 2}`, the vector
    * CONFIG form) — same key space as bare identifiers. */
  private def mapKey: Parser[String] =
    (ident | identP) |
      stringLit ^^ { case Lit(s: String) => s; case _ => "" }
  def mapLit: Parser[Expr] =
    "{" ~> repsep(mapKey ~ (":" ~> expr), ",") <~ "}" ^^ (kvs =>
      MapLit(kvs.map { case k ~ v => (k, v) }))

  /** Backquoted name with `` escapes (`$`a ``b`` → parameter "a `b"). */
  private val backtickEscRe = "`(?:``|[^`])+`".r
  private def bqName: Parser[String] =
    backtickEscRe ^^ (s => s.substring(1, s.length - 1).replace("``", "`"))

  def param: Parser[Expr] =
    "$" ~> (bqName | identP | "\\d+".r) ^^ Param.apply

  /** `$name` in label position (parameters.feature label parameters) —
    * marked with the `$` prefix, resolved by the planner against params. */
  private def paramLabel: Parser[String] =
    "$" ~> (bqName | identP) ^^ ("$" + _)

  /** `:var.k1.k2` — DYNAMIC label/edge-type from a property path
    * (memgraph dynamic labels, with.feature 17-28): encoded `$.var.k1.k2`,
    * resolved per row by the planner in CREATE/SET/REMOVE positions;
    * MATCH/MERGE reject it, same as the reference. Requires ≥1 dot, so
    * plain labels never reach this branch. */
  private def dynLabel: Parser[String] =
    identP ~ rep1("." ~> identP) ^^ { case v ~ path =>
      "$." + (v +: path).mkString(".")
    }

  // ---------- expressions ----------
  def expr: Parser[Expr] = orExpr

  def orExpr: Parser[Expr] =
    xorExpr ~ rep(kw("OR") ~> xorExpr) ^^ { case h ~ t =>
      t.foldLeft(h)((a, b) => BinOp("OR", a, b))
    }
  def xorExpr: Parser[Expr] =
    andExpr ~ rep(kw("XOR") ~> andExpr) ^^ { case h ~ t =>
      t.foldLeft(h)((a, b) => BinOp("XOR", a, b))
    }
  def andExpr: Parser[Expr] =
    notExpr ~ rep(kw("AND") ~> notExpr) ^^ { case h ~ t =>
      t.foldLeft(h)((a, b) => BinOp("AND", a, b))
    }
  def notExpr: Parser[Expr] =
    kw("NOT") ~> notExpr ^^ Not.apply | comparison

  private def compOp: Parser[String] =
    "<=" ^^^ "<=" | ">=" ^^^ ">=" | "<>" ^^^ "<>" | "!=" ^^^ "<>" |
      "=~" ^^^ "=~" |
      "=" ^^^ "=" | "<" ^^^ "<" | ">" ^^^ ">" |
      kw("IN") ^^^ "IN" | kw("CONTAINS") ^^^ "CONTAINS" |
      (kw("STARTS") ~ kw("WITH")) ^^^ "STARTS WITH" |
      (kw("ENDS") ~ kw("WITH")) ^^^ "ENDS WITH"

  /** `IS [NOT] NULL` binds LOOSER than arithmetic but tighter than
    * comparison (reference Cypher.g4 expression7 over expression6 —
    * `(null + 1) * 1 IS NULL` tests the whole product). */
  def nullCheckExpr: Parser[Expr] =
    addExpr ~ rep(kw("IS") ~> opt(kw("NOT")) <~ kw("NULL")) ^^ {
      case h ~ t => t.foldLeft(h)((e, n) => IsNull(e, n.isDefined))
    }

  /** Chained comparisons (a < b <= c) fold into a conjunction, per Cypher. */
  def comparison: Parser[Expr] =
    nullCheckExpr ~ rep(compOp ~ nullCheckExpr) ^^ {
      case h ~ Nil => h
      case h ~ t =>
        val pairs = (h +: t.map(_._2)).sliding(2).toSeq.zip(t.map(_._1))
        pairs
          .map { case (Seq(a, b), op) => BinOp(op, a, b): Expr }
          .reduce((a, b) => BinOp("AND", a, b))
    }

  def addExpr: Parser[Expr] =
    mulExpr ~ rep(("+" | "-") ~ mulExpr) ^^ { case h ~ t =>
      t.foldLeft(h) { case (a, op ~ b) => BinOp(op, a, b) }
    }
  def mulExpr: Parser[Expr] =
    powExpr ~ rep(("*" | "/" | "%") ~ powExpr) ^^ { case h ~ t =>
      t.foldLeft(h) { case (a, op ~ b) => BinOp(op, a, b) }
    }
  def powExpr: Parser[Expr] =
    unaryExpr ~ rep("^" ~> unaryExpr) ^^ { case h ~ t =>
      (h +: t).reduceRight((a, b) => BinOp("^", a, b))
    }
  def unaryExpr: Parser[Expr] =
    "-" ~> postfixExpr ^^ Neg.apply | opt("+") ~> postfixExpr

  sealed private trait Post
  private case class PProp(k: String) extends Post
  private case class PSub(i: Expr) extends Post
  private case class PSlice(a: Option[Expr], b: Option[Expr]) extends Post
  private case class PIsNull(neg: Boolean) extends Post
  private case class PLabel(l: String) extends Post

  def postfixExpr: Parser[Expr] =
    atom ~ rep(
      "." ~> (ident | identP) ^^ PProp.apply |
        "[" ~> (opt(expr) ~ (".." ~> opt(expr))) <~ "]" ^^ { case a ~ b =>
          PSlice(a, b)
        } |
        "[" ~> expr <~ "]" ^^ PSub.apply |
        // `n:Label` label test (expression position; `::` is enum access)
        not("::") ~> ":" ~> (ident | identP) ^^ PLabel.apply) ^^ {
      case a ~ posts =>
        posts.foldLeft(a) {
          case (e, PProp(k)) => Prop(e, k)
          case (e, PSub(i)) => Subscript(e, i)
          case (e, PSlice(x, y)) => Slice(e, x, y)
          case (e, PIsNull(n)) => IsNull(e, n)
          case (e, PLabel(l)) => HasLabel(e, l)
        }
    }

  def caseExpr: Parser[Expr] =
    kw("CASE") ~> opt(not(kw("WHEN")) ~> expr) ~
      rep1(kw("WHEN") ~> expr ~ (kw("THEN") ~> expr)) ~
      opt(kw("ELSE") ~> expr) <~ kw("END") ^^ { case subj ~ whens ~ dflt =>
      CaseExpr(subj, whens.map { case w ~ t => (w, t) }, dflt)
    }

  def quantifier: Parser[Expr] =
    (kw("ALL") | kw("ANY") | kw("NONE") | kw("SINGLE")) ~
      ("(" ~> ident) ~ (kw("IN") ~> expr) ~ (kw("WHERE") ~> expr) <~ ")" ^^ {
      case k ~ v ~ l ~ p => Quantifier(k.toLowerCase, v, l, p)
    }

  def reduceExpr: Parser[Expr] =
    kw("REDUCE") ~> "(" ~> (ident <~ "=") ~ expr ~ ("," ~> ident) ~
      (kw("IN") ~> expr) ~ ("|" ~> expr) <~ ")" ^^ {
      case acc ~ init ~ v ~ l ~ step => Reduce(acc, init, v, l, step)
    }

  def listComprehension: Parser[Expr] =
    "[" ~> (ident <~ kw("IN")) ~ expr ~ opt(kw("WHERE") ~> expr) ~
      opt("|" ~> expr) <~ "]" ^^ { case v ~ l ~ w ~ p =>
      ListComprehension(v, l, w, p)
    }

  /** size([pattern WHERE w | 1]) > 0 — the comprehension-backed form of
    * an EXISTS subquery with a WHERE (the RollUpApply rewrite plans it). */
  private def existsViaComprehension(
      p: PatternPart, w: Option[Expr]): Expr =
    BinOp(
      ">",
      FnCall("size", distinct = false,
        Seq(PatternComprehension(p, w, Lit(1L)))),
      Lit(0L))

  def existsFn: Parser[Expr] =
    kw("EXISTS") ~> "(" ~> patternPart <~ ")" ^^ (p =>
      PatternPredicate(p, negated = false)) |
      // EXISTS { MATCH p [WHERE w] [RETURN …] } — the subquery form
      // (memgraph_exists.feature); a trailing RETURN cannot change row
      // existence, so it parses and is ignored
      kw("EXISTS") ~> "{" ~> kw("MATCH") ~> patternPart ~
        opt(kw("WHERE") ~> expr) <~
        opt(kw("RETURN") ~> rep1sep(returnItem, ",")) <~ "}" ^^ {
        case p ~ None => PatternPredicate(p, negated = false)
        case p ~ w => existsViaComprehension(p, w)
      } |
      // EXISTS { (a)-[:T]->(b) } — bare-pattern subquery
      kw("EXISTS") ~> "{" ~> patternPart <~ "}" ^^ (p =>
        PatternPredicate(p, negated = false)) |
      // EXISTS { <full subquery> } — WITH prefixes, UNION branches
      kw("EXISTS") ~> "{" ~> (singleQuery ~
        rep(kw("UNION") ~> opt(kw("ALL")) ~ singleQuery)) <~ "}" ^^ {
        case f ~ us =>
          ExistsSubquery(
            Query(f, us.map { case a ~ q => (a.isDefined, q) }))
      }

  def countStar: Parser[Expr] =
    ("""(?i)count""".r ~ "(" ~ "*" ~ ")") ^^ (_ => CountStar())

  def fnCall: Parser[Expr] =
    fnName ~ ("(" ~> opt(kw("DISTINCT")) ~ repsep(expr, ",") <~ ")") ^^ {
      case n ~ (d ~ args) => FnCall(n.toLowerCase, d.isDefined, args)
    }

  def patternPredicate: Parser[Expr] =
    patternPartWithHops ^^ (p =>
      PatternPredicate(p, negated = false, bare = true))

  def patternComprehension: Parser[Expr] =
    "[" ~> opt(ident <~ "=") ~ patternPartWithHops ~
      opt(kw("WHERE") ~> expr) ~ ("|" ~> expr) <~ "]" ^^ {
      case pv ~ p ~ w ~ proj =>
        PatternComprehension(p.copy(pathVar = pv), w, proj)
    }

  def mapProjItem: Parser[MapProjItem] =
    "." ~> "*" ^^ (_ => ProjAll) |
      "." ~> (ident | identP) ^^ ProjProp.apply |
      (ident | identP) ~ (":" ~> expr) ^^ { case k ~ e => ProjKV(k, e) } |
      ident ^^ ProjVar.apply

  /** `n {.name, key: expr, other, .*}` — map projection (ast.hpp). */
  def mapProjection: Parser[Expr] =
    ident ~ ("{" ~> repsep(mapProjItem, ",") <~ "}") ^^ { case v ~ items =>
      MapProjection(v, items)
    }

  /** `Name::Value` enum literal (EnumValueAccess). */
  def enumAccess: Parser[Expr] =
    ident ~ ("::" ~> (ident | identP)) ^^ { case n ~ v => EnumLit(n, v) }

  def atom: Parser[Expr] =
    literal | caseExpr | countStar | existsFn | quantifier | reduceExpr |
      patternComprehension | listComprehension | listLit | mapLit | param |
      patternPredicate | fnCall | mapProjection | enumAccess |
      ident ^^ Var.apply | "(" ~> expr <~ ")"

  // ---------- patterns ----------
  def nodePattern: Parser[NodePattern] =
    "(" ~> opt(ident) ~
      rep(":" ~> rep1sep(dynLabel | ident | identP | paramLabel, "|")) ~
      opt(mapLit) <~ ")" ^^ { case v ~ ls ~ props =>
      // `:A:B` = conjunction of single labels; `:A|B` = alternation
      // (memgraph label expressions — match.feature OR scenarios)
      val (ands, ors) = ls.partition(_.size == 1)
      NodePattern(
        v,
        ands.map(_.head),
        props.map { case MapLit(kvs) => kvs; case _ => Nil }.getOrElse(Nil),
        orLabels = ors.flatten.distinct,
        hasPropsToken = props.isDefined)
    }

  /** (lo, hi, bare): `bare` marks the single-number `*n` form — shortest
    * modes reinterpret THAT as an upper bound, but an explicit `*n..n`
    * stays exactly-n. */
  private def varBounds: Parser[(Option[Int], Option[Int], Boolean)] =
    opt("""\d+""".r) ~ opt(".." ~> opt("""\d+""".r)) ^^ {
      case lo ~ None => (lo.map(_.toInt), lo.map(_.toInt), lo.isDefined) // *n = exactly n; * = unbounded
      case lo ~ Some(hi) => (lo.map(_.toInt), hi.map(_.toInt), false)
    }

  /** `(e, n [, p [, w]] | expr)` — per-edge lambda (weight or filter); the
    * optional third var binds the accumulated path, the optional fourth
    * the accumulated weight (ast.hpp Lambda). */
  def edgeLambda: Parser[StepLambda] =
    "(" ~> ident ~ ("," ~> ident) ~ opt("," ~> ident) ~ opt("," ~> ident) ~
      ("|" ~> expr) <~ ")" ^^ { case e ~ n ~ p ~ w ~ x =>
      StepLambda(e, n, p, w, x)
    }

  /** `*[BFS|WSHORTEST|ALLSHORTEST] [lo][..hi] [(e,n|expr)] [total]
    * [(e,n,p|pred)]` — the reference's variable-expansion spec
    * (`EdgeAtom::Type`, ast.hpp:1809-1813). For WSHORTEST the first lambda
    * is the weight and the second the filter; for every other mode a single
    * lambda is the filter (`filter_lambda_`, ast.hpp:1899). */
  private case class VarSpec(
      bounds: (Option[Int], Option[Int], Boolean),
      mode: String,
      props: Option[Expr],
      lambda1: Option[StepLambda],
      total: Option[String],
      lambda2: Option[StepLambda])

  private def varSpec: Parser[VarSpec] =
    "*" ~> opt("""(?i)(BFS|WSHORTEST|ALLSHORTEST|KSHORTEST)""".r) ~ varBounds ~
      opt(mapLit) ~ opt(edgeLambda) ~ opt(ident) ~ opt(edgeLambda) ^^ {
      case m ~ b ~ p ~ l1 ~ t ~ l2 =>
        VarSpec(b, m.map(_.toUpperCase).getOrElse("DFS"), p, l1, t, l2)
    }

  def relDetail: Parser[RelPattern] =
    "[" ~> opt(ident) ~
      opt(":" ~> rep1sep(opt(":") ~> (dynLabel | ident | identP), "|")) ~
      opt(varSpec) ~ opt(mapLit) <~ "]" ^^ { case v ~ ts ~ vs ~ props =>
      val mode = vs.map(_.mode).getOrElse("DFS")
      // WSHORTEST and ALLSHORTEST minimize a weight: first lambda is the
      // weight, second the filter; BFS/DFS/KSHORTEST have only a filter
      val (weightL, filterL) =
        if (mode == "WSHORTEST" || mode == "ALLSHORTEST")
          (vs.flatMap(_.lambda1), vs.flatMap(_.lambda2))
        else (None, vs.flatMap(_.lambda1))
      // edge property maps may sit after the bounds inside the var spec
      // (`-[le *allShortest 10 {w: 1} (e, n | e.w) total]->`) or after it
      val specProps = vs.flatMap(_.props)
        .map { case MapLit(kvs) => kvs; case _ => Nil }
        .getOrElse(Nil)
      RelPattern(
        v,
        // [:T|:T] matches the same edges as [:T] — duplicate types must
        // not duplicate rows
        ts.getOrElse(Nil).distinct,
        specProps ++
          props.map { case MapLit(kvs) => kvs; case _ => Nil }.getOrElse(Nil),
        OutDir, // direction patched by caller
        vs.map(b => (b.bounds._1, b.bounds._2)),
        vs.exists(_.bounds._3),
        mode,
        weightL.map { l =>
          require(
            l.path.isEmpty && l.weightVar.isEmpty,
            "weight lambda takes (e, n | expr)")
          (l.e, l.n, l.pred)
        },
        vs.flatMap(_.total),
        filterL)
    }

  def relPattern: Parser[RelPattern] =
    ("<-" ~> opt(relDetail) <~ "->") ^^ (r =>
      fill(r).copy(direction = BothDir, bothArrows = true)) |
      ("<-" ~> opt(relDetail) <~ "-") ^^ (r => fill(r).copy(direction = InDir)) |
      ("-" ~> opt(relDetail) <~ "->") ^^ (r => fill(r).copy(direction = OutDir)) |
      ("-" ~> opt(relDetail) <~ "-") ^^ (r => fill(r).copy(direction = BothDir))

  private def fill(r: Option[RelPattern]): RelPattern =
    r.getOrElse(RelPattern(None, Nil, Nil, OutDir, None))

  def patternChain: Parser[PatternPart] =
    nodePattern ~ rep(relPattern ~ nodePattern) ^^ { case n ~ hops =>
      PatternPart(None, n, hops.map { case r ~ m => (r, m) })
    }

  /** A chain with ≥1 hop (for pattern predicates, where a bare `(x)` must
    * not swallow a parenthesized expression). */
  def patternPartWithHops: Parser[PatternPart] =
    nodePattern ~ rep1(relPattern ~ nodePattern) ^^ { case n ~ hops =>
      PatternPart(None, n, hops.map { case r ~ m => (r, m) })
    }

  def shortestWrap: Parser[PatternPart] =
    ("""(?i)(allShortestPaths|shortestPath)""".r <~ "(") ~ patternChain <~ ")" ^^ {
      case f ~ p =>
        p.copy(shortest =
          Some(if (f.toLowerCase.startsWith("all")) "all" else "single"))
    }

  def patternPart: Parser[PatternPart] =
    // parenthesized chain: `path = ((a)-[:T]-(b))` (Cypher.g4 allows a
    // parenthesized patternElement; needs >=1 hop so a bare `(x)` node
    // pattern is never swallowed)
    opt(ident <~ "=") ~
      (shortestWrap | ("(" ~> patternPartWithHops <~ ")") | patternChain) ^^ {
      case pv ~ p => p.copy(pathVar = pv)
    }

  // ---------- clauses ----------
  def matchClause: Parser[Clause] =
    opt(kw("OPTIONAL")) ~ (kw("MATCH") ~> rep1sep(patternPart, ",")) ~
      opt(kw("WHERE") ~> expr) ^^ { case o ~ ps ~ w =>
      Match(o.isDefined, ps, w)
    }

  def unwindClause: Parser[Clause] =
    kw("UNWIND") ~> expr ~ (kw("AS") ~> ident) ^^ { case e ~ v => Unwind(e, v) }

  /** `LOAD CSV FROM file (WITH|NO) HEADER [IGNORE BAD] [DELIMITER d]
    * [QUOTE q] [NULLIF n] AS row` (reference grammar, ast.hpp:3431). */
  def loadCsvClause: Parser[Clause] =
    kw("LOAD") ~> kw("CSV") ~> kw("FROM") ~> expr ~
      ((kw("WITH") ~ kw("HEADER")) ^^^ true |
        (kw("NO") ~ kw("HEADER")) ^^^ false) ~
      opt(kw("IGNORE") ~ kw("BAD")) ~
      opt(kw("DELIMITER") ~> expr) ~
      opt(kw("QUOTE") ~> expr) ~
      opt(kw("NULLIF") ~> expr) ~
      (kw("AS") ~> ident) ^^ { case f ~ h ~ ib ~ d ~ q ~ n ~ v =>
      LoadCsvCl(f, h, ib.isDefined, d, q, n, v)
    }

  /** `CREATE ENUM Name VALUES { A, B, … }` (ast.hpp:4131). */
  def createEnumClause: Parser[Clause] =
    kw("CREATE") ~> kw("ENUM") ~> (ident | identP) ~
      (kw("VALUES") ~> "{" ~> rep1sep(ident | identP, ",") <~ "}") ^^ {
      case n ~ vs => CreateEnumCl(n, vs)
    }

  /** Nested property path `a.b.c` (reference nested indexes). */
  private def propPath: Parser[String] =
    rep1sep(ident | identP, ".") ^^ (_.mkString("."))

  private def indexKind: Parser[String] =
    kw("GLOBAL") ~> kw("EDGE") ^^ (_ => "edge-property") |
      kw("VECTOR") ~> kw("EDGE") ^^ (_ => "vector-edge") |
      kw("VECTOR") ^^ (_ => "vector") |
      kw("POINT") ^^ (_ => "point") |
      kw("TEXT") ~> kw("EDGE") ^^ (_ => "text-edge") |
      kw("TEXT") ^^ (_ => "text") |
      kw("EDGE") ^^ (_ => "edge")

  /** `ON :L[(p, …)]` (labeled), `ON :(p, …)` (global edge), `ON (p, …)`
    * (wildcard vector index, label spec "*"), and the composite label
    * specs `ON :A|:B(p)` / `:A|B(p)` (OR) and `:A&B(p)` / `:A&:B(p)`
    * (AND) — reference vector-index modes (vector_index.hpp). */
  private def indexTarget: Parser[(Option[String], Seq[String])] =
    kw("ON") ~> ":" ~> "(" ~> rep1sep(propPath, ",") <~ ")" ^^ (ps =>
      (None, ps)) |
      kw("ON") ~> "(" ~> rep1sep(propPath, ",") <~ ")" ^^ (ps =>
        (Some("*"), ps)) |
      kw("ON") ~> ":" ~> (ident | identP) ~
        rep(("|" | "&") ~ (opt(":") ~> (ident | identP))) ~
        opt("(" ~> rep1sep(propPath, ",") <~ ")") ^^ { case l ~ more ~ ps =>
        val spec = l + more.map { case op ~ m => op + m }.mkString
        (Some(spec), ps.getOrElse(Nil))
      }

  /** Index DDL (reference storage index families; see
    * [[Ast.IndexDdlCl]]). Named forms: `CREATE TEXT INDEX name ON :L`,
    * `CREATE VECTOR [EDGE] INDEX name ON :L(p) WITH CONFIG {…}`,
    * `DROP TEXT|VECTOR INDEX name`. */
  def indexDdlClause: Parser[Clause] =
    (kw("CREATE") | kw("DROP")) ~ (opt(indexKind) <~ kw("INDEX")) ~
      opt(not(kw("ON")) ~> (ident | identP)) ~ opt(indexTarget) ~
      opt(kw("WITH") ~> kw("CONFIG") ~> expr) ^^ {
      case cd ~ kind ~ name ~ target ~ cfg =>
        IndexDdlCl(
          cd.equalsIgnoreCase("CREATE"),
          kind.getOrElse("label"),
          target.flatMap(_._1),
          target.map(_._2).getOrElse(Nil),
          name,
          cfg)
    }

  /** `:A[:B…]` label combo. */
  private def labelCombo: Parser[Seq[String]] =
    rep1(":" ~> (ident | identP))

  /** `(:A:B)-[:T]->(:C)` edge-type pattern target. */
  private def descEdgePattern
    : Parser[(Seq[String], String, Seq[String])] =
    ("(" ~> labelCombo <~ ")") ~ ("-" ~> "[" ~> ":" ~> (ident | identP) <~
      "]") ~ ("->" ~> "(" ~> labelCombo <~ ")") ^^ { case s ~ t ~ e =>
      (s, t, e)
    }

  /** `SET/UNSET [GLOBAL] PARAMETER x[=v]` (server-side parameters). */
  def serverParamClause: Parser[Clause] =
    kw("SET") ~> opt(kw("GLOBAL")) ~ (kw("PARAMETER") ~> (ident | identP)) ~
      ("=" ~> expr) ^^ { case g ~ n ~ v =>
      ServerParamCl(set = true, g.isDefined, n, Some(v))
    } |
      kw("UNSET") ~> opt(kw("GLOBAL")) ~
        (kw("PARAMETER") ~> (ident | identP)) ^^ { case g ~ n =>
        ServerParamCl(set = false, g.isDefined, n, None)
      }

  /** `SET/DELETE DESCRIPTION ON <target> ["text"]` (descriptions
    * metadata; see [[Ast.DescriptionCl]]). */
  def descriptionClause: Parser[Clause] = {
    def mk(set: Boolean): Parser[Clause] = {
      val text: Parser[Option[String]] =
        if (set) stringLit ^^ { case Lit(s: String) => Some(s); case _ => None }
        else success(None)
      val target: Parser[Option[String] => Clause] =
        kw("LABEL") ~> kw("PROPERTY") ~> labelCombo ~
          ("(" ~> (ident | identP) <~ ")") ^^ { case ls ~ p =>
          t => DescriptionCl(set, "label property", ls, None, None, None,
            Some(p), None, t)
        } |
          kw("LABEL") ~> labelCombo ^^ (ls =>
            t => DescriptionCl(set, "label", ls, None, None, None, None,
              None, t)) |
          kw("EDGE") ~> kw("TYPE") ~> kw("PROPERTY") ~> descEdgePattern ~
            ("(" ~> (ident | identP) <~ ")") ^^ { case ((s, ty, e)) ~ p =>
            t => DescriptionCl(set, "edge type property", Nil, Some(ty),
              Some(s), Some(e), Some(p), None, t)
          } |
          kw("EDGE") ~> kw("TYPE") ~> kw("PROPERTY") ~> ":" ~>
            (ident | identP) ~ ("(" ~> (ident | identP) <~ ")") ^^ {
            case ty ~ p =>
              t => DescriptionCl(set, "edge type property", Nil, Some(ty),
                None, None, Some(p), None, t)
          } |
          kw("EDGE") ~> kw("TYPE") ~> descEdgePattern ^^ { case (s, ty, e) =>
            t => DescriptionCl(set, "edge type", Nil, Some(ty), Some(s),
              Some(e), None, None, t)
          } |
          kw("EDGE") ~> kw("TYPE") ~> ":" ~> (ident | identP) ^^ (ty =>
            t => DescriptionCl(set, "edge type", Nil, Some(ty), None, None,
              None, None, t)) |
          kw("DATABASE") ~> (ident | identP) ^^ (db =>
            t => DescriptionCl(set, "database", Nil, None, None, None, None,
              Some(db), t)) |
          kw("PROPERTY") ~> (ident | identP) ^^ (p =>
            t => DescriptionCl(set, "property", Nil, None, None, None,
              Some(p), None, t))
      (if (set) kw("SET") else kw("DELETE")) ~> kw("DESCRIPTION") ~>
        kw("ON") ~> target ~ text ^^ { case f ~ t => f(t) }
    }
    mk(set = true) | mk(set = false)
  }

  /** `FREE MEMORY` / `ANALYZE GRAPH DELETE STATISTICS` no-ops (plain
    * `ANALYZE GRAPH` RETURNS a stats table the engine does not produce —
    * left unparsed so the gap raises instead of answering empty). */
  def maintenanceClause: Parser[Clause] =
    kw("FREE") ~ kw("MEMORY") ^^ (_ => MaintenanceCl("free-memory")) |
      kw("ANALYZE") ~ kw("GRAPH") ~ kw("DELETE") ~ kw("STATISTICS") ^^ (
        _ => MaintenanceCl("analyze-delete"))

  /** The token after AS is always the alias, so soft keywords (`AS all`,
    * `AS any`, `AS single`) are unambiguous output-column names here —
    * only the raw identifier grammar applies, not the reserved-word
    * filter. */
  private def aliasName: Parser[String] =
    bqName | identP

  def returnItem: Parser[ReturnItem] =
    expr ~ opt(kw("AS") ~> aliasName) ^^ { case e ~ a => ReturnItem(e, a) }

  def orderItem: Parser[(Expr, Boolean)] =
    expr ~ opt(kw("ASCENDING") | kw("ASC") | kw("DESCENDING") | kw("DESC")) ^^ {
      case e ~ d => (e, !d.exists(_.startsWith("DESC")))
    }

  def projectionBody: Parser[ProjectionBody] =
    opt(kw("DISTINCT")) ~
      ("*" ^^^ ((List.empty[ReturnItem], true)) |
        rep1sep(returnItem, ",") ^^ (is => (is, false))) ~
      opt(kw("ORDER") ~> kw("BY") ~> rep1sep(orderItem, ",")) ~
      opt(kw("SKIP") ~> expr) ~ opt(kw("LIMIT") ~> expr) ^^ {
      case d ~ items ~ ob ~ sk ~ lim =>
        ProjectionBody(
          d.isDefined,
          items._1,
          items._2,
          ob.getOrElse(Nil),
          sk,
          lim)
    }

  def withClause: Parser[Clause] =
    kw("WITH") ~> projectionBody ~ opt(kw("WHERE") ~> expr) ^^ { case b ~ w =>
      With(b, w)
    }

  def returnClause: Parser[Clause] =
    kw("RETURN") ~> projectionBody ^^ Return.apply

  /** Yield names are output-column labels, never expressions — reserved
    * words are legal here (`node.relationship_exists` yields `exists`). */
  private def yieldName: Parser[String] =
    bqName | identP

  private def yieldItem: Parser[(String, Option[String])] =
    yieldName ~ opt(kw("AS") ~> yieldName) ^^ { case n ~ a => (n, a) }

  def callClause: Parser[Clause] =
    kw("CALL") ~> fnName ~ opt("(" ~> repsep(expr, ",") <~ ")") ~
      opt(kw("YIELD") ~> (
        "*" ^^ (_ => Nil: Seq[(String, Option[String])]) |
          rep1sep(yieldItem, ","))) ~
      opt(kw("WHERE") ~> expr) ^^ { case n ~ args ~ ys ~ w =>
      // YIELD * (empty list) and a standalone YIELD-less call both bind
      // every output column (openCypher standalone CALL)
      CallProc(n.toLowerCase, args.getOrElse(Nil), ys.getOrElse(Nil), w)
    }

  def callSubquery: Parser[Clause] =
    // `IN TRANSACTIONS OF n ROWS` is the same commit-batching hint as
    // USING PERIODIC COMMIT — accepted, batch size ignored (snapshot
    // semantics yields the identical observable result).
    // `CALL (a, b) { }` / `CALL (*) { }` / `CALL () { }` is the
    // variable-scoped form; UNION branches may appear inside the braces.
    (kw("CALL") ~>
      opt("(" ~> repsep("*" ^^^ "*" | ident, ",") <~ ")") ~
      ("{" ~> singleQuery ~
        rep(kw("UNION") ~> opt(kw("ALL")) ~ singleQuery) <~ "}")) <~
      opt(kw("IN") ~> kw("TRANSACTIONS") ~>
        opt(kw("OF") ~> """\d+""".r ~> kw("ROWS"))) ^^ {
      case scoped ~ (f ~ us) =>
        CallSubquery(f, scoped, us.map { case a ~ q => (a.isDefined, q) })
    }

  // ---------- mutation clauses ----------
  def createClause: Parser[Clause] =
    kw("CREATE") ~> rep1sep(patternPart, ",") ^^ CreateCl.apply

  def setItem: Parser[SetItem] =
    // `SET (n).prop = …` — a parenthesized variable as the SET target
    // (SetAcceptance "selecting the node using a simple expression")
    (("(" ~> ident <~ ")") <~ ".") ~ rep1sep(ident | identP, ".") ~
      (("+=" | "=") ~ expr) ^^ {
        case v ~ path ~ ("+=" ~ e) => SetNestedProp(v, path, e, merge = true)
        case v ~ Seq(k) ~ (_ ~ e) => SetProp(v, k, e)
        case v ~ path ~ (_ ~ e) => SetNestedProp(v, path, e)
      } |
    (ident <~ ".") ~ rep1sep(ident | identP, ".") ~ (("+=" | "=") ~ expr) ^^ {
      case v ~ path ~ ("+=" ~ e) => SetNestedProp(v, path, e, merge = true)
      case v ~ Seq(k) ~ (_ ~ e) => SetProp(v, k, e)
      case v ~ path ~ (_ ~ e) => SetNestedProp(v, path, e)
    } |
      ident ~ rep1(":" ~> (dynLabel | ident | identP | paramLabel)) ^^ {
        case v ~ ls => SetLabelsItem(v, ls)
      } |
      ident ~ ("+=" ~> expr) ^^ { case v ~ e => SetAllProps(v, e, update = true) } |
      ident ~ ("=" ~> expr) ^^ { case v ~ e => SetAllProps(v, e, update = false) }

  def setClause: Parser[Clause] =
    kw("SET") ~> rep1sep(setItem, ",") ^^ SetCl.apply

  def deleteClause: Parser[Clause] =
    opt(kw("DETACH")) ~
      (kw("DELETE") ~> rep1sep(expr, ",")) ^^ {
      case d ~ es => DeleteCl(d.isDefined, es)
    }

  def removeItem: Parser[RemoveItem] =
    (ident <~ ".") ~ rep1sep(ident | identP, ".") ^^ {
      case v ~ Seq(k) => RemoveProp(v, k)
      case v ~ path => RemoveNestedProp(v, path)
    } |
      ident ~ rep1(":" ~> (dynLabel | ident | identP | paramLabel)) ^^ {
        case v ~ ls => RemoveLabelsItem(v, ls)
      }

  def removeClause: Parser[Clause] =
    kw("REMOVE") ~> rep1sep(removeItem, ",") ^^ RemoveCl.apply

  def mergeClause: Parser[Clause] =
    kw("MERGE") ~> (("(" ~> patternPart <~ ")") ||| patternPart) ~
      rep(
        (kw("ON") ~> kw("CREATE") ~> kw("SET") ~> rep1sep(setItem, ",")) ^^ (
            ("create", _)) |
          (kw("ON") ~> kw("MATCH") ~> kw("SET") ~> rep1sep(setItem, ",")) ^^ (
              ("match", _))) ^^ { case p ~ ons =>
      MergeCl(
        p,
        ons.collect { case ("create", is) => is }.flatten,
        ons.collect { case ("match", is) => is }.flatten)
    }

  def foreachClause: Parser[Clause] =
    kw("FOREACH") ~> "(" ~> ident ~ (kw("IN") ~> expr) ~
      ("|" ~> rep1(updateClause)) <~ ")" ^^ { case v ~ l ~ us =>
      ForeachCl(v, l, us)
    }

  def updateClause: Parser[Clause] =
    createEnumClause | indexDdlClause | maintenanceClause |
      descriptionClause | serverParamClause | createClause | mergeClause |
      setClause |
      deleteClause | removeClause | foreachClause

  def clause: Parser[Clause] =
    matchClause | unwindClause | loadCsvClause | withClause | returnClause |
      callSubquery | callClause | updateClause

  def singleQuery: Parser[SingleQuery] = rep1(clause) ^^ SingleQuery.apply

  def query: Parser[Query] =
    // USING PERIODIC COMMIT n is a commit-batching hint: snapshot batch
    // execution produces the identical result in one version step, so the
    // prefix is accepted and the batch size ignored (reference
    // periodic_commit.feature — observable results match)
    opt(kw("USING") ~> kw("PERIODIC") ~> kw("COMMIT") ~> """\d+""".r) ~
      opt(kw("USING") ~> kw("HOPS") ~> kw("LIMIT") ~> """\d+""".r) ~
      singleQuery ~ rep(kw("UNION") ~> opt(kw("ALL")) ~ singleQuery) ^^ {
        case pc ~ hl ~ f ~ us =>
          Query(
            f,
            us.map { case a ~ q => (a.isDefined, q) },
            hl.map(_.toLong),
            periodic = pc.isDefined)
      }

  def parse(text0: String): Query = {
    val text = text0.trim.stripSuffix(";") // statement terminator is noise
    parseAll(query, text) match {
      case Success(q, _) => q
      case ns: NoSuccess =>
        throw new IllegalArgumentException(
          s"Cypher parse error at ${ns.next.pos}: ${ns.msg}\n${ns.next.pos.longString}")
    }
  }
}
