package graft.olap

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** MDX parser — entry point A of the reference (raw MDX text →
  * executable query; reference lib/mondrian/olap/connection.rb:75-86 and
  * the jar's mondrian/parser/MdxParserImpl). Hand-rolled recursive
  * descent over the SELECT statement subset the reference's test corpus
  * exercises:
  *
  *   [WITH (SET name AS setExpr | MEMBER [Measures].[name] AS expr)*]
  *   SELECT [NON EMPTY] setOrMeasures ON COLUMNS
  *        [, [NON EMPTY] setExpr ON ROWS]
  *   FROM [Cube]
  *   [WHERE tuple]
  *
  * Set and member functions resolve through one table each
  * (`P.SetFunctions`, `P.MemberFunctions`) onto the typed IR (Ir.scala),
  * as the reference's calls resolve through its FunDef table; scalar
  * expressions (Filter conditions, Order keys, calc-member formulas)
  * are rewritten from [Measures].[x] references into Spark SQL column
  * expressions. Names resolve case-insensitively against the bound
  * cube's dimensions/levels/measures, with the reference's error
  * taxonomy ("MDX object ... not found in cube", error.rb:50-61).
  */
object Mdx {

  final case class MdxException(msg: String)
      extends RuntimeException(msg)

  // --------------------------------------------------------- rendering

  /** The ORDER directions by their MDX keyword (parsed and rendered). */
  private val SortDirs: Map[String, SortDir] = Map("ASC" -> SortDir.Asc,
    "DESC" -> SortDir.Desc, "BASC" -> SortDir.BAsc, "BDESC" -> SortDir.BDesc)

  /** Render a set expression back to MDX text (the builder's to_mdx
    * surface, reference query.rb:230-237; golden-tested and
    * parse-roundtrip-tested in MdxSpec).
    */
  def render(set: SetExpr): String = set match {
    case LevelMembers(d, l) => s"[$d].[$l].Members"
    case Members(d, paths) =>
      paths.map(p => s"[$d]." + p.map(v => s"[$v]").mkString("."))
        .mkString("{", ", ", "}")
    case Children(d, path) =>
      // empty path = children of the hierarchy root ([Product].children,
      // reference query_test.rb:397-404) — no dangling dot
      s"[$d]" + path.map(v => s".[$v]").mkString + ".Children"
    case Descendants(d, path, l) =>
      s"DESCENDANTS([$d]" + path.map(v => s".[$v]").mkString + s", [$l])"
    case MemberRange(d, l, from, to) =>
      s"{[$d].[$l].[$from] : [$d].[$l].[$to]}"
    case CrossJoin(a, b) => s"CROSSJOIN(${render(a)}, ${render(b)})"
    case NonEmptyCrossJoin(a, b) =>
      s"NONEMPTYCROSSJOIN(${render(a)}, ${render(b)})"
    case UnionSet(a, b, all) =>
      s"UNION(${render(a)}, ${render(b)}${if (all) ", ALL" else ""})"
    case IntersectSet(a, b) => s"INTERSECT(${render(a)}, ${render(b)})"
    case ExceptSet(a, b) => s"EXCEPT(${render(a)}, ${render(b)})"
    case ExistsSet(a, b) => s"EXISTS(${render(a)}, ${render(b)})"
    case DistinctSet(s) => s"DISTINCT(${render(s)})"
    case ExtractSet(s, dims) =>
      s"EXTRACT(${render(s)}, ${dims.map(d => s"[$d]").mkString(", ")})"
    case FilterSet(s, cond) => s"FILTER(${render(s)}, $cond)"
    case OrderSet(s, e, dir) =>
      s"ORDER(${render(s)}, $e, ${SortDirs.find(_._2 == dir).get._1})"
    case TopCount(s, n, e, bottom) =>
      // empty sort expr = the natural-order head/tail form
      // (TOPCOUNT(set, n), reference query_test.rb:214-218)
      s"${if (bottom) "BOTTOMCOUNT" else "TOPCOUNT"}(${render(s)}, $n" +
        s"${if (e.isEmpty) "" else s", $e"})"
    case TopPercent(s, p, e, bottom) =>
      s"${if (bottom) "BOTTOMPERCENT" else "TOPPERCENT"}(${render(s)}, $p, $e)"
    case TopSum(s, t, e, bottom) =>
      s"${if (bottom) "BOTTOMSUM" else "TOPSUM"}(${render(s)}, $t, $e)"
    case HeadSet(s, n) => s"HEAD(${render(s)}, $n)"
    case TailSet(s, n) => s"TAIL(${render(s)}, $n)"
    case SubsetSet(s, a, n) => s"SUBSET(${render(s)}, $a, $n)"
    case Hierarchize(s, post) =>
      s"HIERARCHIZE(${render(s)}${if (post) ", POST" else ""})"
    case NamedSetRef(n) => n
    case CurrentDateMember(d, l, mt) =>
      s"CURRENTDATEMEMBER([$d].[$l]${if (mt == "EXACT") "" else s", $mt"})"
    case DrilldownMember(a, b) =>
      s"DRILLDOWNMEMBER(${render(a)}, ${render(b)})"
    case DrilldownLevelTop(s, n, e, bottom) =>
      s"${if (bottom) "DRILLDOWNLEVELBOTTOM" else "DRILLDOWNLEVELTOP"}" +
        s"(${render(s)}, $n, $e)"
    case ToggleDrillState(a, b) =>
      s"TOGGLEDRILLSTATE(${render(a)}, ${render(b)})"
    case UnorderSet(s) => s"UNORDER(${render(s)})"
    case CousinSet(d, m, a) =>
      s"COUSIN([$d]." + m.map(v => s"[$v]").mkString(".") +
        s", [$d]." + a.map(v => s"[$v]").mkString(".") + ")"
  }

  /** Render a full query IR to MDX (to_mdx). */
  def renderQuery(ir: QueryIR, cubeName: String): String = {
    val withPart =
      (ir.withSets.map { case (n, s) => s"SET [$n] AS ${render(s)}" } ++
        ir.withMembers.collect {
          case CalcMember(n, DimAggCalc(d, set), _, _, _, _) =>
            s"MEMBER [$d].[$n] AS Aggregate(${render(set)})"
          case cm @ CalcMember(n, ExprCalc(sql), _, _, _, _) =>
            // option order mirrors the reference's emission
            // (query_test.rb:679-704): SOLVE_ORDER, FORMAT_STRING,
            // $properties, CELL_FORMATTER
            val opts =
              (if (cm.solveOrder != 0) s", SOLVE_ORDER = ${cm.solveOrder}"
               else "") +
              cm.formatString.map(f => s", FORMAT_STRING = '$f'").getOrElse("") +
              cm.properties.map { case (k, v) =>
                s", $$$k = '${v.replace("'", "''")}'" }.mkString +
              cm.cellFormatter.map(f => s", CELL_FORMATTER = '$f'").getOrElse("")
            s"MEMBER [Measures].[$n] AS $sql$opts"
        }).mkString(" ")
    val cols = ir.measures.map(m => s"[Measures].[$m]")
      .mkString("{", ", ", "}")
    val rowsPart = ir.rows.map(r =>
      s",\n  ${if (ir.nonEmpty) "NON EMPTY " else ""}${render(r)} ON ROWS")
      .getOrElse("")
    val wherePart =
      if (ir.slicer.isEmpty) ""
      else "\nWHERE (" + ir.slicer.flatMap {
        case MemberSlice(d, p) =>
          Seq(s"[$d]." + p.map(v => s"[$v]").mkString("."))
        case SetSlice(d, ps) =>
          ps.map(p => s"[$d]." + p.map(v => s"[$v]").mkString("."))
        case ExprSlice(sql, _) => Seq(sql)
        // a one-member range is the lowering of a level-qualified
        // member literal — render it back as that literal so the
        // roundtrip reparses to the same IR
        case EvalSlice(MemberRange(d, l, from, to)) if from == to =>
          Seq(s"[$d].[$l].[$from]")
        case EvalSlice(s) => Seq(render(s))
      }.mkString(", ") + ")"
    val raw = (if (withPart.nonEmpty) s"WITH $withPart\n" else "") +
      s"SELECT $cols ON COLUMNS$rowsPart\nFROM [$cubeName]$wherePart"
    // splice hidden __setaggN calc definitions (tuple cell refs and
    // Sum/...(set) aggregates the parser lowered to aux members) back
    // in place, so the rendered query is self-contained and reparses
    // to the same IR — the parser recreates the same aux members in
    // the same textual order. Longest names first so __setagg10 never
    // partially matches __setagg1.
    ir.withMembers.filter(_.name.startsWith("__setagg"))
      .sortBy(-_.name.length)
      .foldLeft(raw)((s, cm) => s.replace(cm.name, renderAuxCalc(cm)))
  }

  /** The definitional MDX of a hidden set-agg calc member (see
    * [[renderQuery]]). CELL kind renders as the original tuple
    * `([Measures].[m], member...)`; aggregate kinds as
    * `Fn(set, [Measures].[m])`.
    */
  private def renderAuxCalc(cm: CalcMember): String = cm.calc match {
    case SetAggCalc("CELL", m, set, _) =>
      def tupleMembers(s: SetExpr): Seq[String] = s match {
        case CrossJoin(a, b) => tupleMembers(a) ++ tupleMembers(b)
        case Members(d, Seq(p)) =>
          Seq(s"[$d]" + p.map(v => s".[$v]").mkString)
        case other => Seq(render(other))
      }
      (s"[Measures].[$m]" +: tupleMembers(set)).mkString("(", ", ", ")")
    case SetAggCalc("COUNT", m, set, includeEmpty) =>
      s"COUNT(${render(set)}" +
        (if (m.nonEmpty) s", [Measures].[$m]" else "") +
        (if (includeEmpty) "" else ", EXCLUDEEMPTY") + ")"
    case SetAggCalc(fn, m, set, _) =>
      // a plain (possibly spaced) name renders bracketed; a lowered
      // EXPRESSION renders raw, and its reparse lowers back to the
      // identical text (measure refs already appear as bare columns)
      val arg = if (m.matches("[A-Za-z_][A-Za-z0-9_ ]*")) s"[Measures].[$m]"
                else m
      s"$fn(${render(set)}, $arg)"
    case LinRegCalc(fn, set, y, x, pointX, rankSet) =>
      val fnName = fn match {
        case "SLOPE"     => "LinRegSlope"
        case "INTERCEPT" => "LinRegIntercept"
        case "R2"        => "LinRegR2"
        case "POINT"     => "LinRegPoint"
        case _           => "LinRegVariance"
      }
      // the rank macro re-renders as the Rank(CurrentMember, series)
      // the parser lowered it from — over the series set's leading dim
      def dimOf(s: SetExpr): Option[String] = s match {
        case LevelMembers(d, _)      => Some(d)
        case Members(d, _)           => Some(d)
        case Children(d, _)          => Some(d)
        case Descendants(d, _, _)    => Some(d)
        case MemberRange(d, _, _, _) => Some(d)
        case UnionSet(a, b, _)  => dimOf(a).orElse(dimOf(b))
        case CrossJoin(a, b)    => dimOf(a).orElse(dimOf(b))
        case FilterSet(a, _)    => dimOf(a)
        case _ => None
      }
      val rank = dimOf(set) match {
        case Some(d) => s"Rank([$d].CurrentMember, ${render(set)})"
        case None => Scalar.text(Scalar.SeriesRank)
      }
      val xrank = rankSet.map { rs =>
        dimOf(rs) match {
          case Some(d) => s"Rank([$d].CurrentMember, ${render(rs)})"
          case None => Scalar.text(Scalar.OtherRank)
        }
      }
      def back(e: String): String =
        xrank.foldLeft(e.replace(Scalar.text(Scalar.SeriesRank), rank))(
          (s, xr) => s.replace(Scalar.text(Scalar.OtherRank), xr))
      val lead = pointX.map(px => s"$px, ").getOrElse("")
      s"$fnName($lead${render(set)}, ${back(y)}, ${back(x)})"
    case _ => cm.name
  }

  /** A path segment: all digits reads as an Int key. */
  private def pathValue(s: String): Any =
    if (s.nonEmpty && s.forall(_.isDigit)) s.toInt else s

  // ------------------------------------------------------------ lexer

  sealed trait Tok
  final case class TIdent(s: String) extends Tok // plain identifier
  final case class TBracket(s: String) extends Tok // [bracketed name]
  final case class TNum(s: String) extends Tok
  final case class TStr(s: String) extends Tok
  final case class TPunct(s: String) extends Tok // ( ) { } , . : operators

  def lex(in: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = in.length
    while (i < n) {
      val c = in(i)
      if (c.isWhitespace) i += 1
      else if (c == '[' || c == '`') {
        // a backquoted name is the Spark SQL spelling of a bracketed one
        // (the scalar lowering writes names that are not plain
        // identifiers that way)
        val j = in.indexOf(if (c == '[') ']' else '`', i + 1)
        if (j < 0) throw MdxException(s"Lexical error: unclosed '$c' at $i")
        out += TBracket(in.substring(i + 1, j)); i = j + 1
      } else if (c == '\'' || c == '"') {
        val j = in.indexOf(c, i + 1)
        if (j < 0) throw MdxException(s"Lexical error: unclosed quote at $i")
        out += TStr(in.substring(i + 1, j)); i = j + 1
      } else if (c.isDigit ||
          (c == '.' && i + 1 < n && in(i + 1).isDigit)) {
        val start = i
        while (i < n && (in(i).isDigit || in(i) == '.')) i += 1
        // approximate-numeric exponent suffix (1.05E8, 2e-3) — part of
        // the literal, not a trailing identifier
        if (i < n && (in(i) == 'e' || in(i) == 'E')) {
          var j = i + 1
          if (j < n && (in(j) == '+' || in(j) == '-')) j += 1
          if (j < n && in(j).isDigit) {
            i = j
            while (i < n && in(i).isDigit) i += 1
          }
        }
        out += TNum(in.substring(start, i))
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (in(i).isLetterOrDigit || in(i) == '_')) i += 1
        out += TIdent(in.substring(start, i))
      } else if ("<>=".contains(c)) {
        val start = i
        while (i < n && "<>=".contains(in(i))) i += 1
        out += TPunct(in.substring(start, i))
      } else {
        out += TPunct(c.toString); i += 1
      }
    }
    out.result()
  }

  // ----------------------------------------------------------- parser

  def parse(mdx: String, cube: BoundCube): QueryIR =
    new P(lex(mdx), cube).query()

  /** Parse with parameter values overriding Parameter(...) defaults
    * (reference connection.rb set_statement_parameters /
    * query.setParameter).
    */
  def parse(mdx: String, cube: BoundCube,
      params: Map[String, Any]): QueryIR =
    new P(lex(mdx), cube, params).query()

  /** connection.execute(mdx) — parse, plan, run. DRILLTHROUGH
    * statements (reference query.rb:243-249) route to the drill-through
    * planner: `DRILLTHROUGH [MAXROWS n] SELECT ... RETURN col, ...`.
    */
  def execute(mdx: String, cube: BoundCube): org.apache.spark.sql.DataFrame =
    execute(mdx, cube, Map.empty[String, Any])

  /** execute with statement parameters: values override each
    * Parameter('name', Type, default) occurrence in the query text.
    */
  def execute(mdx: String, cube: BoundCube,
      params: Map[String, Any]): org.apache.spark.sql.DataFrame = {
    val trimmed = mdx.trim
    if (trimmed.toUpperCase.startsWith("DRILLTHROUGH"))
      executeDrillThrough(trimmed, cube)
    else new Planner(cube).execute(parse(mdx, cube, params))
  }

  /** Token-based DRILLTHROUGH dissection. Substring scanning for
    * RETURN/MAXROWS is wrong here: the Sales cube has a [returnflag]
    * dimension, so `... WHERE ([returnflag].[R])` contains the literal
    * text RETURN inside a bracketed name. The lexer already knows what
    * is inside brackets, so keyword detection only looks at standalone
    * TIdent tokens. */
  private def executeDrillThrough(mdx: String,
      cube: BoundCube): org.apache.spark.sql.DataFrame = {
    val toks = lex(mdx)
    def kwIdx(kw: String, from: Int): Int =
      toks.indexWhere({ case TIdent(s) => s.equalsIgnoreCase(kw)
                        case _ => false }, from)
    val selectIdx = kwIdx("SELECT", 0)
    if (selectIdx < 0)
      throw MdxException("Syntax error: DRILLTHROUGH requires SELECT")
    val maxRows = kwIdx("MAXROWS", 0) match {
      case i if i >= 0 && i < selectIdx => toks.lift(i + 1) match {
        case Some(TNum(n)) => Some(n.toInt)
        case other => throw MdxException(
          s"Syntax error: MAXROWS requires a number, got $other")
      }
      case _ => None
    }
    val returnIdx = kwIdx("RETURN", selectIdx + 1)
    // a WITH clause ahead of the SELECT belongs to the inner query
    // (calc members / named sets are legal in a drilled statement);
    // dropping it would leave the member names unexpanded downstream
    val withIdx = kwIdx("WITH", 0) match {
      case i if i >= 0 && i < selectIdx => i
      case _                            => selectIdx
    }
    val inner = if (returnIdx < 0) toks.drop(withIdx)
                else toks.slice(withIdx, returnIdx)
    // RETURN field forms (reference result.rb parse_return_fields):
    //   Name([dim].[level])            → the level's name column
    //   Property([dim].[level], 'p')   → a member-property column
    //   [dim].[level]                  → the level's key column
    //   [col] / col                    → a plain star column
    // Dim-qualified fields also force that dimension into the drill
    // star at the referenced depth.
    var returnCols = Vector.empty[String]
    var dimLevels = Map.empty[String, String]
    if (returnIdx >= 0) {
      val fts = toks.drop(returnIdx + 1)
      var i = 0
      def at(k: Int): Option[Tok] = fts.lift(i + k)
      def dimLevel(d: String, l: String): String = {
        val bd = cube.dims.find(_.name.equalsIgnoreCase(d)).getOrElse(
          throw MdxException(s"MDX object '[$d]' not found in cube " +
            s"'${cube.name}'"))
        val lvl = bd.levels.find(_.name.equalsIgnoreCase(l)).getOrElse(
          throw MdxException(
            s"MDX object '[$d].[$l]' not found in cube '${cube.name}'"))
        // deepest referenced level wins when a dim appears twice
        val keep = dimLevels.get(bd.name) match {
          case Some(prev)
            if bd.levelIndex(prev) >= bd.levelIndex(lvl.name) => prev
          case _ => lvl.name
        }
        dimLevels += bd.name -> keep
        bd.name
      }
      while (i < fts.length) {
        (at(0), at(1)) match {
          case (Some(TIdent(f)), Some(TPunct("(")))
              if f.equalsIgnoreCase("Name") =>
            (at(2), at(3), at(4), at(5)) match {
              case (Some(TBracket(d)), Some(TPunct(".")),
                    Some(TBracket(l)), Some(TPunct(")"))) =>
                val dn = dimLevel(d, l)
                returnCols :+= cube.dim(dn).level(
                  cube.dim(dn).levels.find(_.name.equalsIgnoreCase(l)).get
                    .name).col
                i += 6
              case _ => throw MdxException(
                "Syntax error: Name([dim].[level]) expected")
            }
          case (Some(TIdent(f)), Some(TPunct("(")))
              if f.equalsIgnoreCase("Property") =>
            (at(2), at(3), at(4), at(5), at(6), at(7)) match {
              case (Some(TBracket(d)), Some(TPunct(".")),
                    Some(TBracket(l)), Some(TPunct(",")),
                    Some(TStr(p)), Some(TPunct(")"))) =>
                val dn = dimLevel(d, l)
                if (!cube.dim(dn).df.columns.contains(p))
                  throw MdxException(
                    s"MDX object: property '$p' not found on [$dn]")
                returnCols :+= p
                i += 8
              case _ => throw MdxException(
                "Syntax error: Property([dim].[level], 'name') expected")
            }
          case (Some(TBracket(a)), Some(TPunct(".")))
              if cube.dims.exists(_.name.equalsIgnoreCase(a)) =>
            fts.lift(i + 2) match {
              case Some(TBracket(l)) =>
                val dn = dimLevel(a, l)
                returnCols :+= cube.dim(dn).levels
                  .find(_.name.equalsIgnoreCase(l)).get.col
                i += 3
              case other => throw MdxException(
                s"Syntax error: bad RETURN field [$a].$other")
            }
          case (Some(TBracket(c)), _) => returnCols :+= c; i += 1
          case (Some(TIdent(c)), _) => returnCols :+= c; i += 1
          case (Some(TPunct(",")), _) => i += 1
          case (Some(t), _) => throw MdxException(
            s"Syntax error: unexpected $t in DRILLTHROUGH RETURN list")
          case (None, _) => i += 1
        }
      }
    }
    val ir = new P(inner, cube).query()
    new Planner(cube).drillThrough(ir.slicer, returnCols,
      dims = dimLevels, maxRows = maxRows,
      withMembers = ir.withMembers, withSets = ir.withSets)
  }

  private final class P(toks0: Vector[Tok], cube: BoundCube,
      params: Map[String, Any] = Map.empty) {

    /** Token stream — mutable so quoted WITH formulas (the reference
      * always emits `AS 'formula'`, query.rb quote_value) can be
      * re-lexed and spliced in place of the string token.
      */
    private var toks: Vector[Tok] = toks0

    /** If the next token is a string literal, replace it with its lexed
      * content (called after AS in WITH SET / WITH MEMBER).
      */
    private def inlineQuotedFormula(): Unit = peek match {
      case Some(TStr(body)) => toks = toks.patch(pos, lex(body), 1)
      case _ => ()
    }

    /** Parameter('name', String|Numeric, default) — the supplied
      * parameter value (or the default) as a SQL literal / raw string.
      */
    private def parameterValue(): Any = {
      eatPunct("(")
      val name = next() match {
        case TStr(s) => s
        case t => throw MdxException(
          s"Syntax error: Parameter name must be a string, got $t")
      }
      eatPunct(",")
      next() match {
        case TIdent(ty) if ty.equalsIgnoreCase("String") ||
          ty.equalsIgnoreCase("Numeric") => ()
        case t => throw MdxException(
          s"Syntax error: Parameter type must be String|Numeric, got $t")
      }
      eatPunct(",")
      val default: Any = next() match {
        case TStr(s) => s
        case TNum(n) => n
        case t => throw MdxException(
          s"Syntax error: bad Parameter default $t")
      }
      eatPunct(")")
      params.getOrElse(name, default)
    }

    private def atParameter: Boolean = peek match {
      case Some(TIdent(f)) => f.equalsIgnoreCase("Parameter") &&
        peekAt(1).contains(TPunct("("))
      case _ => false
    }
    private var pos = 0

    /** Hidden calc members synthesized while parsing (set-aggregate
      * subexpressions like Sum(set, m) inside WITH MEMBER formulas);
      * negative solveOrder so they evaluate before the members that
      * reference them.
      */
    private var auxCalcs = Vector.empty[CalcMember]

    /** The WITH SET sets declared so far (a nested StrToSet parser
      * sees its parent's).
      */
    private var withSets = Map.empty[String, SetExpr]

    private def peek: Option[Tok] =
      if (pos < toks.length) Some(toks(pos)) else None
    private def peekAt(k: Int): Option[Tok] =
      if (pos + k < toks.length) Some(toks(pos + k)) else None
    private def atEnd: Boolean = pos >= toks.length
    private def next(): Tok = {
      if (pos >= toks.length)
        throw MdxException("Syntax error: unexpected end of query")
      val t = toks(pos); pos += 1; t
    }
    private def isKw(t: Tok, kw: String): Boolean = t match {
      case TIdent(s) => s.equalsIgnoreCase(kw)
      case _ => false
    }
    private def atKw(kw: String): Boolean = peek.exists(isKw(_, kw))
    private def eatKw(kw: String): Unit = {
      val t = next()
      if (!isKw(t, kw))
        throw MdxException(s"Syntax error: expected $kw, got $t")
    }
    private def atPunct(p: String): Boolean =
      peek.contains(TPunct(p))
    private def eatPunct(p: String): Unit = {
      val t = next()
      if (t != TPunct(p))
        throw MdxException(s"Syntax error: expected '$p', got $t")
    }

    // -------- name resolution

    private def dimNamed(name: String): BoundDim =
      cube.dims.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw MdxException(
          s"MDX object '[$name]' not found in cube '${cube.name}'"))

    /** Calc members declared by THIS query's WITH clause so far:
      * later formulas may reference earlier ones (the reference's
      * ProfitValue-uses-ProfitPct pattern, query_test.rb:679-704,
      * sequenced by SOLVE_ORDER at evaluation time).
      */
    private var declaredCalcs = Set.empty[String]

    private def isMeasureName(s: String): Boolean =
      cube.measures.exists(_.name.equalsIgnoreCase(s)) ||
        cube.calcMembers.exists(_.name.equalsIgnoreCase(s)) ||
        declaredCalcs.exists(_.equalsIgnoreCase(s))

    // -------- query

    def query(): QueryIR = {
      var withMembers = Seq.empty[CalcMember]
      if (atKw("WITH")) {
        eatKw("WITH")
        while (atKw("SET") || atKw("MEMBER")) {
          if (atKw("SET")) {
            eatKw("SET")
            val setName = name("set name")
            eatKw("AS")
            inlineQuotedFormula()
            withSets += setName -> setExpr()
          } else {
            eatKw("MEMBER")
            val segs = memberPath()
            if (segs.length != 2)
              throw MdxException(
                "Syntax error: WITH MEMBER must target [Measures].[name]" +
                  " or [dimension].[name]")
            if (!segs.head.equalsIgnoreCase("Measures")) {
              // calc member hosted on a hierarchy: the reference's
              // "aggregate stored members" family — the only supported
              // formula shape is Aggregate(set)
              val d = dimNamed(segs.head)
              eatKw("AS")
              inlineQuotedFormula()
              // Aggregate(set), or a bare member path — sugar for the
              // one-member aggregate (the reference's null-member
              // tolerance test defines [Customers].[NNN] AS
              // '[Customers].[YYY]', mondrian_test.rb:328-335; a
              // nonexistent member resolves to the empty set, so the
              // slicer nulls cells without erroring)
              val set = peek match {
                case Some(TIdent(f)) if f.equalsIgnoreCase("Aggregate") =>
                  next(); eatPunct("(")
                  val s = setExpr()
                  eatPunct(")")
                  s
                case Some(TBracket(_)) =>
                  val (pd, m) = member()
                  Members(pd.name, Seq(m))
                case t => throw MdxException(
                  s"Syntax error: a calculated member on [${d.name}] " +
                    s"supports only Aggregate(set) or a member path, " +
                    s"got $t")
              }
              // name deliberately NOT added to declaredCalcs — it is
              // an axis member of [d], not a measure
              withMembers :+= CalcMember(segs(1), DimAggCalc(d.name, set))
            } else {
            eatKw("AS")
            inlineQuotedFormula()
            val formula = ExprCalc(scalarExpr())
            // trailing options (reference query.rb:684-687 emission):
            // , SOLVE_ORDER = n | , FORMAT_STRING = 'f' | , CELL_FORMATTER = 'n'
            var solveOrder = 0
            var fmt: Option[String] = None
            var cellFmt: Option[String] = None
            var props = Vector.empty[(String, String)]
            while (atPunct(",") && peekAt(1).exists(t =>
                isKw(t, "SOLVE_ORDER") || isKw(t, "FORMAT_STRING") ||
                isKw(t, "CELL_FORMATTER") || t == TPunct("$"))) {
              eatPunct(",")
              // `$name = 'value'` — a member property assignment
              // ($caption etc., reference query.rb:188-192); stored
              // verbatim, any order among the options
              if (atPunct("$")) {
                eatPunct("$")
                val pname = next() match {
                  case TIdent(p) => p
                  case t => throw MdxException(
                    s"Syntax error: bad member property name $t")
                }
                eatPunct("=")
                next() match {
                  case TStr(v) => props :+= ((pname, v))
                  case t => throw MdxException(
                    s"Syntax error: member property $$$pname needs a " +
                      s"string value, got $t")
                }
              } else {
                val opt = next()
                eatPunct("=")
                (opt, next()) match {
                  case (o, TNum(n)) if isKw(o, "SOLVE_ORDER") =>
                    solveOrder = n.toDouble.toInt
                  case (o, TStr(f)) if isKw(o, "FORMAT_STRING") =>
                    fmt = Some(f)
                  case (o, TStr(f)) if isKw(o, "CELL_FORMATTER") =>
                    if (cube.funcs.cellFormatter(f).isEmpty)
                      throw MdxException(
                        s"MDX object: cell formatter '$f' not registered " +
                          s"in cube '${cube.name}'")
                    cellFmt = Some(f)
                  case (o, v) => throw MdxException(
                    s"Syntax error: bad WITH MEMBER option $o = $v")
                }
              }
            }
            withMembers :+= CalcMember(segs(1), formula,
              solveOrder = solveOrder, formatString = fmt,
              cellFormatter = cellFmt, properties = props)
            declaredCalcs += segs(1)
            }
          }
        }
      }
      eatKw("SELECT")
      var measures = Seq.empty[String]
      var rows: Option[SetExpr] = None
      var pages: Option[SetExpr] = None
      var chapters: Option[SetExpr] = None
      var sections: Option[SetExpr] = None
      var nonEmpty = false
      var first = true
      while (first || atPunct(",")) {
        if (!first) eatPunct(",")
        first = false
        var ne = false
        if (atKw("NON")) { eatKw("NON"); eatKw("EMPTY"); ne = true }
        val set = setOrMeasures()
        eatKw("ON")
        val axis = next() match {
          case TIdent(s) => s.toUpperCase
          case TNum(s) => s
          case t => throw MdxException(s"Syntax error: bad axis name $t")
        }
        (axis, set) match {
          case ("COLUMNS" | "0", Right(names)) =>
            names.foreach { m =>
              if (!isMeasureName(m) &&
                  !withMembers.exists(_.name.equalsIgnoreCase(m)))
                throw MdxException(
                  s"MDX object '[Measures].[$m]' not found in cube " +
                    s"'${cube.name}'")
            }
            measures = names
          case ("COLUMNS" | "0", Left(_)) => throw MdxException(
            "Syntax error: COLUMNS axis must be a set of [Measures] members")
          case ("ROWS" | "1", Left(s)) =>
            rows = Some(s); if (ne) nonEmpty = true
          case ("ROWS" | "1", Right(_)) => throw MdxException(
            "Syntax error: ROWS axis must be a member set")
          case ("PAGES" | "2", Left(s)) =>
            pages = Some(s); if (ne) nonEmpty = true
          case ("PAGES" | "2", Right(_)) => throw MdxException(
            "Syntax error: PAGES axis must be a member set")
          case ("CHAPTERS" | "3", Left(s)) =>
            chapters = Some(s); if (ne) nonEmpty = true
          case ("SECTIONS" | "4", Left(s)) =>
            sections = Some(s); if (ne) nonEmpty = true
          case ("CHAPTERS" | "3" | "SECTIONS" | "4", Right(_)) =>
            throw MdxException(
              s"Syntax error: $axis axis must be a member set")
          case (other, _) =>
            throw MdxException(s"Syntax error: unsupported axis $other")
        }
      }
      eatKw("FROM")
      val cubeName = name("cube name")
      if (!cubeName.equalsIgnoreCase(cube.name))
        throw MdxException(
          s"MDX cube '$cubeName' does not match connection cube " +
            s"'${cube.name}'")
      var slicer = Seq.empty[SlicerItem]
      if (atKw("WHERE")) { eatKw("WHERE"); slicer = slicerItems() }
      QueryIR(measures, rows, slicer, nonEmpty, withSets,
        auxCalcs ++ withMembers, pages = pages, chapters = chapters,
        sections = sections)
    }

    // -------- set expressions

    /** Either a member set (Left) or a measure-name list (Right — the
      * COLUMNS axis shape).
      */
    private def setOrMeasures(): Either[SetExpr, Seq[String]] = {
      if (atPunct("{")) {
        eatPunct("{")
        // {set-fn(...), ...} and {{a}, {b}} (set concatenation,
        // duplicates kept, like Mondrian's SetListCalc over subsets) are
        // general sets, and so are member paths with a member-function
        // or `.Item` suffix ({[d].[l].Members}, {[d].[m].Children, ...}):
        // scan to the matching '}' for one. Parse the items as sets and
        // union them.
        def braceHasSuffix: Boolean = {
          var k = 0; var depth = 0; var found = false
          while (!found && pos + k < toks.length && depth >= 0) {
            (toks(pos + k), toks.lift(pos + k + 1)) match {
              case (TPunct("{"), _) => depth += 1
              case (TPunct("}"), _) => depth -= 1
              case (TPunct("."), Some(TIdent(f)))
                  if P.MemberFunctions.contains(f.toUpperCase) ||
                    f.equalsIgnoreCase("Item") => found = true
              case _ => ()
            }
            k += 1
          }
          found
        }
        if (setStarts(0) || braceHasSuffix) {
          val items = setExpr() :: rest(setExpr())
          eatPunct("}")
          return Left(items.reduce(UnionSet(_, _, all = true)))
        }
        // measure set or literal member set
        val firstPath = memberPath()
        if (firstPath.head.equalsIgnoreCase("Measures")) {
          def measureSeg(p: Seq[String]): String =
            if (p.length < 2) throw MdxException(
              "Syntax error: expected [Measures].[name], got [" +
                p.mkString("].[") + "]")
            else p(1)
          val names = measureSeg(firstPath) :: rest(measureSeg(memberPath()))
          eatPunct("}")
          Right(names)
        } else {
          val d = dimNamed(firstPath.head)
          var range: Option[SetExpr] = None
          if (atPunct(":")) {
            eatPunct(":")
            val to = memberPath()
            // level-qualified endpoints ([Dim].[Level].[v] : ...) name
            // their level explicitly; otherwise depth determines it
            val lvl =
              if (firstPath.length == 3 &&
                  d.levels.exists(_.name.equalsIgnoreCase(firstPath(1))))
                resolveLevel(d, firstPath(1))
              else d.levels(firstPath.tail.length - 1).name
            range = Some(MemberRange(d.name, lvl,
              firstPath.tail.last, to.tail.last))
          }
          val rawPaths = firstPath.tail :: rest(memberPath().tail)
          eatPunct("}")
          Left(range.getOrElse {
            // level-qualified items ({[Dim].[Level].[M], ...}) lower to
            // one-member ranges; plain ancestry paths stay Members —
            // grouped as consecutive RUNS so the set keeps its source
            // order (a braced set is ordered; Head/Item/Rank observe it)
            val runs = Seq.newBuilder[SetExpr]
            var i = 0
            while (i < rawPaths.length) {
              val isLvl = levelQualified(d, rawPaths(i)).isDefined
              val start = i
              while (i < rawPaths.length &&
                  levelQualified(d, rawPaths(i)).isDefined == isLvl) i += 1
              val run = rawPaths.slice(start, i)
              if (isLvl) runs ++= run.flatMap(levelQualified(d, _))
              else runs += Members(d.name, run.map(_.map(pathValue)))
            }
            runs.result().reduce(UnionSet(_, _, all = true))
          })
        }
      } else peek match {
        // a single unbraced measure on an axis ([Measures].[Unit
        // Sales] ON COLUMNS, reference mondrian_test.rb:333-340) —
        // a one-member measure list, not a member set
        case Some(TBracket(s)) if s.equalsIgnoreCase("Measures") =>
          val p = memberPath()
          if (p.length < 2) throw MdxException(
            "Syntax error: expected [Measures].[name]")
          Right(Seq(p(1)))
        case _ => Left(setExpr())
      }
    }

    private def setExpr(): SetExpr = {
      val first = setTerm()
      // infix '*' = CrossJoin (left-associative)
      var acc = first
      while (atPunct("*")) { eatPunct("*"); acc = CrossJoin(acc, setTerm()) }
      acc
    }

    private def setTerm(): SetExpr = {
      var t = setTermBase()
      // postfix .Item(n): the n-th tuple of the set (ItemFunDef) — a
      // 1-tuple set in this uniform-grid model
      while (atPunct(".") && peekAt(1).exists(isKw(_, "Item"))) {
        eatPunct("."); next(); eatPunct("(")
        val i = int()
        eatPunct(")")
        t = SubsetSet(t, i, 1)
      }
      t
    }

    private def setTermBase(): SetExpr =
      peek match {
        case Some(TPunct("{")) => setOrMeasures() match {
          case Left(s) => s
          // a braced measure set is only legal inside Aggregate(...),
          // where setAggRef unwraps it to the (set, measure) form
          case Right(ns) if allowMeasuresSet => MeasuresSet(ns)
          case Right(_) => throw MdxException(
            "Syntax error: measure set not allowed here")
        }
        case Some(TPunct("(")) =>
          eatPunct("("); val s = setExpr(); eatPunct(")"); s
        case Some(TIdent(fn)) if peekAt(1).contains(TPunct("(")) =>
          next(); setFunction(fn)
        case Some(TIdent(name)) if withSets.contains(name) =>
          next(); NamedSetRef(name)
        case Some(TBracket(_)) => memberSet()
        case Some(t) => throw MdxException(s"Syntax error: unexpected $t")
        case None =>
          throw MdxException("Syntax error: unexpected end of query")
      }

    /** `fn(args)`: a set function of [[P.SetFunctions]], or a
      * set-returning UDF (the ChildrenSet(...) shape,
      * schema_definition_test.rb:1003-1014), which composes with every
      * set operator. Any other name matches no signature.
      */
    private def setFunction(fn: String): SetExpr =
      P.SetFunctions.get(fn.toUpperCase) match {
        case Some(read) =>
          eatPunct("("); val s = read(this); eatPunct(")"); s
        case None => setUdf(fn).map(udfInvoke(_, Nil)) match {
          case Some(SetResult(s)) => s
          case _ => throw MdxException(
            s"No function matches signature '$fn(...)'")
        }
      }

    private def setUdf(fn: String): Option[UdfDef] = udfByName(fn).filter(u =>
      u.syntax == UdfSyntax.Function && u.returns == UdfType.MemberSet)

    /** Does a set start `k` tokens ahead: a brace, a WITH SET name, or a
      * call [[setFunction]] reads — a set function, or a call no scalar
      * formula makes (none of the session's SQL functions, an MDX name
      * lowered to one, `Cache` or a UDF), which then matches no
      * signature? Braced items, slicer items and a set aggregate's first
      * argument all ask it.
      */
    private def setStarts(k: Int): Boolean = peekAt(k) match {
      case Some(TPunct("{")) => true
      case Some(TIdent(f)) => withSets.contains(f) ||
        peekAt(k + 1).contains(TPunct("(")) &&
          (P.SetFunctions.contains(f.toUpperCase) || setUdf(f).isDefined ||
            !(P.MdxToSparkFn.contains(f.toUpperCase) ||
              f.equalsIgnoreCase("CACHE") || udfByName(f).isDefined ||
              cube.fact.sparkSession.sessionState.functionRegistry
                .functionExists(FunctionIdentifier(f))))
      case _ => false
    }

    // -------- argument readers of the function tables

    private def num(): Double = next() match {
      case TNum(s) => s.toDouble
      case t => throw MdxException(s"Syntax error: expected number, got $t")
    }
    private def int(): Int = num().toInt
    private def comma(): Unit = eatPunct(",")
    /** A further argument: the comma, then `read`. */
    private def more[A](read: => A): A = { comma(); read }
    /** An optional further argument. */
    private def opt[A](read: => A): Option[A] =
      if (atPunct(",")) Some(more(read)) else None
    /** Every further argument. */
    private def rest[A](read: => A): List[A] =
      if (!atPunct(",")) Nil
      else { val a = more(read); a :: rest(read) }
    /** An optional trailing keyword (UNION's ALL, HIERARCHIZE's POST). */
    private def flag(kw: String): Boolean = opt(eatKw(kw)).isDefined
    /** A name token, bracketed or plain: a level, a dimension, an alias. */
    private def name(what: String): String = next() match {
      case TBracket(s) => s
      case TIdent(s) => s
      case t => throw MdxException(s"Syntax error: bad $what $t")
    }
    private def dimension(): BoundDim = dimNamed(name("dimension"))
    /** A member path: its dimension and the path under it. */
    private def member(): (BoundDim, Seq[Any]) = {
      val p = memberPath()
      (dimNamed(p.head), p.tail.map(pathValue))
    }
    /** A level of `d`, written `[level]` or `[dim].[level]`. */
    private def level(d: BoundDim): String = {
      val p = memberPath()
      resolveLevel(d, if (p.head.equalsIgnoreCase(d.name)) p.last else p.head)
    }
    private def sortDir(): SortDir = {
      val o = name("order").toUpperCase
      SortDirs.getOrElse(o, throw MdxException(s"Syntax error: bad order $o"))
    }

    /** FILTER(set [AS S], cond): the alias names the set for S.Current
      * and S.CurrentOrdinal in the condition (NamedSetCurrentFunDef,
      * reference query_test.rb:635-655).
      */
    private def filter(): SetExpr = {
      val a = setExpr()
      val alias =
        if (atKw("AS")) { eatKw("AS"); Some(name("set alias")) } else None
      FilterSet(a, more(scalarExpr(setAlias = alias)))
    }

    /** `[dim].CurrentMember`, the one pattern GENERATE and a LinReg
      * series Rank accept.
      */
    private def currentMember(what: String): BoundDim = {
      val d = dimension()
      eatPunct(".")
      next() match {
        case TIdent(f) if f.equalsIgnoreCase("CurrentMember") => d
        case t => throw MdxException(s"Syntax error: $what supports " +
          s"only [${d.name}].CurrentMember, got .$t")
      }
    }

    /** DrilldownLevelTop/Bottom's ranking expression after the count,
      * the cube's default measure when absent. An optional Level
      * argument may come first: a short bracket path naming a level,
      * accepted but unused (the drill is always one level down).
      * Anything else — including [Measures].[x] — is the expression;
      * backtrack and parse it as such.
      */
    private def drillKey(): String = opt {
      val save = pos
      val isLevel = peek match {
        case Some(TBracket(_)) =>
          try {
            val p = memberPath()
            val ok = p.length <= 2 && {
              val d = cube.dims.find(_.name.equalsIgnoreCase(p.head))
              d match {
                case Some(dd) => p.length == 1 ||
                  dd.levels.exists(_.name.equalsIgnoreCase(p.last))
                case None => p.length == 1 && cube.dims.exists(
                  _.levels.exists(_.name.equalsIgnoreCase(p.head)))
              }
            }
            if (!ok) pos = save
            ok
          } catch { case _: MdxException => pos = save; false }
        case _ => false
      }
      if (isLevel) opt(scalarExpr()) else Some(scalarExpr())
    }.flatten.getOrElse(cube.defaultMeasureName)

    /** CurrentDateMember([Time], '[Time].[yyyy].[Qq]'[, match]) or
      * CurrentDateMember([time].[month][, match]); the format string's
      * segment count under the hierarchy name selects the level
      * (reference CurrentDateMemberFunDef,
      * schema_definition_test.rb:577-597).
      */
    private def currentDate(): SetExpr = {
      val p = memberPath()
      val d = dimNamed(p.head)
      var level = p.tail.lastOption.map(resolveLevel(d, _))
      var mt = "EXACT"
      rest(next()).foreach {
        case TStr(fmt) =>
          val segs = lex(fmt).collect { case TBracket(s) => s }
          level = Some(d.levels(math.min(math.max(segs.length - 2, 0),
            d.levels.length - 1)).name)
        case TIdent(m) if Seq("EXACT", "BEFORE", "AFTER")
            .contains(m.toUpperCase) => mt = m.toUpperCase
        case t => throw MdxException(
          s"Syntax error: bad CurrentDateMember argument $t")
      }
      CurrentDateMember(d.name, level.getOrElse(d.levels.last.name), mt)
    }

    /** StrToSet('{...}') / StrToMember('[d].[m]') /
      * StrToTuple('([d].[m], [e].[n])'): the string literal (or a
      * Parameter's value) re-lexed and read whole by a nested parser.
      */
    private def strTo(fn: String, read: P => SetExpr): SetExpr = {
      val body =
        if (atParameter) { next(); String.valueOf(parameterValue()) }
        else next() match {
          case TStr(s) => s
          case t => throw MdxException(
            s"Syntax error: $fn requires a string literal, got $t")
        }
      val sub = new P(lex(body), cube)
      sub.withSets = withSets
      val r = read(sub)
      if (!sub.atEnd)
        throw MdxException(s"Syntax error: trailing tokens in $fn string")
      r
    }

    /** '([d].[m], [e].[n])' tuple body (StrToTuple): one member per
      * hierarchy, crossjoined; a bare member (no parens) is a 1-tuple.
      */
    private def tupleSet(): SetExpr =
      if (!atPunct("(")) memberSet()
      else {
        eatPunct("(")
        val s = (memberSet() :: rest(memberSet())).reduce(CrossJoin(_, _))
        eatPunct(")")
        s
      }

    /** `[Dim](.[seg])*`: a member path, or with a `.Fn` suffix of
      * [[P.MemberFunctions]] the set that function names.
      */
    private def memberSet(): SetExpr = {
      val segs = memberPath()
      val d = dimNamed(segs.head)
      val fn = peekAt(1).collect {
        case TIdent(f) if atPunct(".") => f.toUpperCase
      }.flatMap(P.MemberFunctions.get)
      fn match {
        case Some(apply) => eatPunct("."); next(); apply(this, d, segs.tail)
        case None => levelQualified(d, segs.tail)
          .getOrElse(Members(d.name, Seq(segs.tail.map(pathValue))))
      }
    }

    private def resolveLevel(d: BoundDim, name: String): String =
      d.levels.find(_.name.equalsIgnoreCase(name)).map(_.name).getOrElse(
        throw MdxException(
          s"MDX object '[${d.name}].[$name]' not found in cube " +
            s"'${cube.name}'"))

    /** A [Dim].[X].[M] path whose X names a level of the dimension is
      * Mondrian's level-qualified member (level lookup takes
      * precedence over ancestry, reference mondrian_test.rb:333-340) —
      * lowered to the one-member range at that level. `tail` is the
      * path AFTER the dimension segment.
      */
    private def levelQualified(d: BoundDim,
        tail: Seq[String]): Option[SetExpr] =
      if (tail.length == 2 &&
          d.levels.exists(_.name.equalsIgnoreCase(tail.head)))
        Some(MemberRange(d.name, resolveLevel(d, tail.head),
          tail(1), tail(1)))
      else None

    /** [A].[B].[C] — bracket path segments joined by dots (plain idents
      * allowed too). Stops before a trailing .Function suffix.
      */
    private def memberPath(): Seq[String] = name("member") :: segments()

    /** The `.[seg]` path segments at the cursor. */
    private def segments(): List[String] =
      if (!atPunct(".") || !peekAt(1).exists(_.isInstanceOf[TBracket])) Nil
      else {
        eatPunct(".")
        val TBracket(s) = next(): @unchecked
        s :: segments()
      }

    // -------- typed user-defined functions (reference schema_udf.rb:
    // 64-213; 12 UDF shapes tested at schema_definition_test.rb:900-1139)

    private lazy val udfCtx = new UdfContext(cube)

    private def udfByName(s: String): Option[UdfDef] = cube.funcs.udf(s)

    /** Parse one UDF argument according to its declared type. */
    private def udfArg(t: UdfType): UdfArg =
      t match {
        case UdfType.MemberSet => SetArg(setExpr())
        case UdfType.Hierarchy => HierarchyArg(dimension())
        case UdfType.Level =>
          val p = memberPath()
          if (p.length != 2)
            throw MdxException("Syntax error: expected [Dim].[Level]")
          val d = dimNamed(p.head)
          LevelArg(d, resolveLevel(d, p(1)))
        case UdfType.Member => memberUdfArg()
        case _ => ScalarArg(scalarExpr())
      }

    /** `[dim].CurrentMember` (lowered to the axis-column macro) or an
      * explicit `[dim].[a].[b]` path.
      */
    private def memberUdfArg(): MemberArg = {
      val d = dimension()
      if (atPunct(".") && peekAt(1).exists(isKw(_, "CurrentMember"))) {
        eatPunct("."); next()
        MemberArg(d, Scalar.text(Scalar.CurrentName(d.name)), None)
      } else {
        val path = segments().map(pathValue)
        if (path.isEmpty)
          throw MdxException(
            s"Syntax error: expected member path after [${d.name}]")
        MemberArg(d, UdfResult.lit(String.valueOf(path.last)).sql, Some(path))
      }
    }

    /** Invoke a UDF: `pre` holds already-parsed object args (property/
      * method syntax); the remaining declared parameters are read from a
      * parenthesized list.
      */
    private def udfInvoke(u: UdfDef, pre: Seq[UdfArg]): UdfResult = {
      val rest = u.parameters.drop(pre.length)
      val args =
        if (rest.isEmpty) pre
        else {
          eatPunct("(")
          val buf = scala.collection.mutable.ArrayBuffer(pre: _*)
          rest.zipWithIndex.foreach { case (t, i) =>
            if (i > 0) eatPunct(",")
            buf += udfArg(t)
          }
          eatPunct(")")
          buf.toSeq
        }
      u.body(udfCtx, args)
    }

    private def udfSql(r: UdfResult, name: String): String = r match {
      case SqlResult(sql) => sql
      case SetResult(_) => throw MdxException(
        s"Syntax error: set-valued function '$name' used in a scalar " +
          "position")
    }

    /** Postfix `.udf` / `.udf(args)` on a parsed object argument —
      * consumed only when the identifier is a registered property/method
      * UDF.
      */
    private def udfPostfix(obj: UdfArg): Option[String] =
      if (!atPunct(".")) None
      else peekAt(1) match {
        case Some(TIdent(f)) => udfByName(f) match {
          case Some(u) if u.syntax == UdfSyntax.Property ||
              u.syntax == UdfSyntax.Method =>
            eatPunct("."); next()
            Some(udfSql(udfInvoke(u, Seq(obj)), f))
          case _ => None
        }
        case _ => None
      }

    // -------- scalar expressions ([Measures].[x] refs → SQL columns)

    /** Parse a scalar expression up to an unbalanced ')' or a top-level
      * ',' — emitted as a Spark SQL expression string with measure
      * references rewritten to their column names (cast to double when
      * arithmetic combines decimal measures, so ratios stay portable).
      */
    /** While parsing a LinReg y/x argument, the series set —
      * `Rank([dim].CurrentMember, <this set>)` lowers to the series
      * rank name ([[Scalar.SeriesRank]], the member's position in the
      * series).
      */
    private var lrRankSet: Option[SetExpr] = None

    /** A Rank over a DIFFERENT set than the series, captured while
      * parsing LinReg y/x (at most one distinct auxiliary set per
      * call) — lowers to [[Scalar.OtherRank]].
      */
    private var lrXRankSet: Option[SetExpr] = None

    /** True only while parsing a set-aggregate's set argument, where a
      * braced measure set (`{[Measures].[m]}`) is legal as a crossjoin
      * factor — [[setAggRef]] unwraps it before the IR is stored.
      */
    private var allowMeasuresSet = false

    /** Lookahead: `([Measures].[m], [dim].[v]...)` — a tuple-valued
      * cell reference (the measure evaluated at pinned coordinates).
      */
    private def atTupleStart: Boolean =
      peek.contains(TPunct("(")) && (peekAt(1) match {
        case Some(TBracket(x)) if x.equalsIgnoreCase("Measures") =>
          peekAt(2).contains(TPunct(".")) && (peekAt(3) match {
            case Some(TBracket(_)) => peekAt(4).contains(TPunct(","))
            case _ => false
          })
        case Some(TBracket(x)) =>
          isMeasureName(x) && peekAt(2).contains(TPunct(","))
        case _ => false
      })

    /** Parse the tuple, register a hidden CELL SetAggCalc (the measure
      * aggregated under the pinned members — at most one row per axis
      * cell), return its column name.
      */
    private def tupleRef(): String = {
      eatPunct("(")
      val mp = memberPath()
      val measure =
        if (mp.head.equalsIgnoreCase("Measures")) {
          if (mp.length < 2) throw MdxException(
            "Syntax error: expected [Measures].[name]")
          mp(1)
        } else mp.head
      if (!isMeasureName(measure)) throw MdxException(
        s"MDX object '[Measures].[$measure]' not found in cube " +
          s"'${cube.name}'")
      val sets = rest[SetExpr] {
        val (d, m) = member()
        Members(d.name, Seq(m))
      }
      eatPunct(")")
      if (sets.isEmpty) throw MdxException(
        "Syntax error: tuple requires at least one member")
      val set = sets.reduce(CrossJoin(_, _))
      val name = s"__setagg${auxCalcs.size}"
      auxCalcs :+= CalcMember(name, SetAggCalc("CELL", measure, set),
        solveOrder = -1000 + auxCalcs.size)
      name
    }

    /** Parse `Fn(set[, measureOrExpr | EXCLUDEEMPTY|INCLUDEEMPTY])`,
      * register the hidden calc, return its column name. Two sugar
      * forms beyond the plain measure (mondrian_test.rb:215-229):
      * `Aggregate({set} * {[Measures].[m]})` — the braced measure set
      * unwraps to the (set, m) form — and an EXPRESSION second
      * argument (`Aggregate(set, [Measures].[m] * 2)`), stored lowered
      * and evaluated over the restricted subcube.
      */
    private def setAggRef(fnU: String): String = {
      eatPunct("(")
      val saved = allowMeasuresSet
      allowMeasuresSet = true
      val set0 = try setExpr() finally allowMeasuresSet = saved
      // unwrap {set} * {[Measures].[m]}: flatten the crossjoin factors
      // and pull the (single) measure out
      def factors(s: SetExpr): Seq[SetExpr] = s match {
        case CrossJoin(a, b) => factors(a) ++ factors(b)
        case other => Seq(other)
      }
      val (msSets, restF) = factors(set0).partition(_.isInstanceOf[MeasuresSet])
      val unwrapped = msSets.flatMap {
        case MeasuresSet(ns) => ns
        case _ => Nil
      }
      if (unwrapped.length > 1 || (msSets.nonEmpty && restF.isEmpty))
        throw MdxException(
          "Syntax error: a measures set inside " + fnU + " must be a " +
            "SINGLE measure crossjoined with one member set")
      def anyMs(x: Any): Boolean = x match {
        case _: MeasuresSet => true
        case p: Product => p.productIterator.exists(anyMs)
        case xs: Seq[_] => xs.exists(anyMs)
        case _ => false
      }
      val set =
        if (msSets.isEmpty) set0 else restF.reduce(CrossJoin(_, _))
      if (anyMs(set)) throw MdxException(
        "Syntax error: a measures set must be crossjoined at the top " +
          "level of the " + fnU + " set")
      var measure = unwrapped.headOption.getOrElse("")
      var includeEmpty = fnU == "COUNT" // MDX Count defaults INCLUDEEMPTY
      if (atPunct(",")) {
        eatPunct(",")
        peek match {
          case Some(TIdent(f)) if f.equalsIgnoreCase("EXCLUDEEMPTY") =>
            next(); includeEmpty = false
          case Some(TIdent(f)) if f.equalsIgnoreCase("INCLUDEEMPTY") =>
            next(); includeEmpty = true
          case _ =>
            if (measure.nonEmpty) throw MdxException(
              s"Syntax error: $fnU already names its measure in the " +
                "crossjoined measures set")
            // a bare [Measures].[m] lowers to exactly the measure name;
            // anything else is an expression evaluated per member over
            // the restricted subcube (validation of measure refs
            // happens inside the scalar lowering)
            // a bare reference stores the plain name, however quoted
            measure = scalarExpr() match {
              case q if q.matches("`[^`]+`") => q.substring(1, q.length - 1)
              case e => e
            }
        }
      }
      eatPunct(")")
      if (measure.isEmpty && fnU != "COUNT")
        throw MdxException(
          s"Syntax error: $fnU(set, [Measures].[m]) requires a measure")
      val name = s"__setagg${auxCalcs.size}"
      auxCalcs :+= CalcMember(name,
        SetAggCalc(fnU, measure, set, includeEmpty),
        solveOrder = -1000 + auxCalcs.size)
      name
    }

    /** Parse `LinRegFn(set, y, x)`, register the hidden LinRegCalc,
      * return its column name. The y/x scalars parse with the series
      * set active, so Rank(CurrentMember, series) lowers to the
      * position macro.
      */
    private def linRegRef(fnU: String): String = {
      eatPunct("(")
      // LinRegPoint(xSlice, set, y, x): the leading x-slice lowers in
      // the OUTER context (no series rank macro)
      val pointX =
        if (fnU == "LINREGPOINT") {
          val px = scalarExpr()
          eatPunct(",")
          Some(px)
        } else None
      val set = setExpr()
      eatPunct(",")
      val saved = lrRankSet
      val savedX = lrXRankSet
      lrRankSet = Some(set)
      lrXRankSet = None
      val (y, x, xset) =
        try {
          val y0 = scalarExpr()
          eatPunct(",")
          (y0, scalarExpr(), lrXRankSet)
        } finally { lrRankSet = saved; lrXRankSet = savedX }
      eatPunct(")")
      val name = s"__setagg${auxCalcs.size}"
      auxCalcs :+= CalcMember(name,
        LinRegCalc(fnU.stripPrefix("LINREG"), set, y, x, pointX, xset),
        solveOrder = -1000 + auxCalcs.size)
      name
    }

    private def scalarExpr(stopAtAs: Boolean = false,
        setAlias: Option[String] = None): String = {
      val sb = new StringBuilder
      var depth = 0
      var done = false
      // a '(' right after an identifier is a function call's argument
      // list, never a tuple literal
      var prevWasIdent = false
      // Per-OCCURRENCE measure refs: (name, needsDoubleCast). Only the
      // operands adjacent to a '/' are cast to double — a global flag
      // would silently turn e.g. the subtraction in `a - b / c` from
      // exact decimal into double math.
      val refs = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
      var lastTokRef = -1     // refs index, when the previous token was a ref
      var pendingDiv = false  // previous token was '/'
      while (!done) {
        peek match {
          case None => done = true
          case Some(TPunct(")")) if depth == 0 => done = true
          case Some(TPunct(",")) if depth == 0 => done = true
          case Some(TIdent(s)) if depth == 0 &&
              P.ScalarStops(s.toUpperCase) => done = true
          case Some(TIdent(s)) if depth == 0 && stopAtAs &&
              s.equalsIgnoreCase("AS") => done = true
          case Some(_) =>
            loweredTerm(setAlias, tupleOk = !prevWasIdent) match {
              case Some(Left(m)) =>
                refs += ((m, pendingDiv))
                sb.append(s"@REF{${refs.size - 1}}")
                lastTokRef = refs.size - 1
                pendingDiv = false
                prevWasIdent = false
              case Some(Right(sql)) =>
                // a lowered construct is one operand
                sb.append(sql)
                lastTokRef = -1; pendingDiv = false; prevWasIdent = false
              case None =>
                val t = next()
                val wasDiv = t == TPunct("/")
                if (wasDiv && lastTokRef >= 0)
                  refs(lastTokRef) = (refs(lastTokRef)._1, true)
                t match {
                  case TPunct("(") => depth += 1; sb.append("(")
                  case TPunct(")") => depth -= 1; sb.append(")")
                  case TIdent(s) =>
                    // MDX scalar functions → Spark SQL equivalents
                    // (IIF/CoalesceEmpty/IsEmpty/Val are MDX names
                    // Spark does not know); only when called as a fn.
                    val mapped =
                      if (atPunct("(")) {
                        // Cache(expr) = expr (jar CacheFunDef, SURVEY
                        // §4 #11): the engine's segment cache and
                        // Catalyst exchange reuse provide the caching,
                        // so the wrapper is identity — the following
                        // parens keep the grouping
                        if (s.equalsIgnoreCase("CACHE")) ""
                        else P.MdxToSparkFn.getOrElse(s.toUpperCase, s)
                      } else s
                    sb.append(s" $mapped ")
                  case TNum(s) => sb.append(s)
                  case TStr(s) => sb.append(s"'$s'")
                  case TPunct(p) => sb.append(s" $p ")
                  case TBracket(_) => () // read by loweredTerm
                }
                pendingDiv = wasDiv
                lastTokRef = -1
                prevWasIdent = t.isInstanceOf[TIdent]
            }
        }
      }
      var out = sb.toString
      refs.zipWithIndex.foreach { case ((m, cast), i) =>
        if (!isMeasureName(m))
          throw MdxException(
            s"MDX object '[Measures].[$m]' not found in cube " +
              s"'${cube.name}'")
        // decimal/decimal quotients get engine-specific scales; compute
        // ratios in double (same policy as the builder's calc members).
        // A name that is not a plain identifier is backquoted, as Spark
        // SQL quotes it.
        val name = Scalar.text(Scalar.Ref(m))
        out = out.replace(s"@REF{$i}",
          if (cast) s"CAST($name AS DOUBLE)" else name)
      }
      canonSpaces(out)
    }

    /** The scalar construct at the cursor: a measure reference to
      * rewrite (Left), the SQL text it lowers to (Right), or None for a
      * plain token [[scalarExpr]] copies through. `tupleOk`: a '(' here
      * may open a tuple (it does not follow an identifier).
      */
    private def loweredTerm(setAlias: Option[String],
        tupleOk: Boolean): Option[Either[String, String]] = {
      def fn(name: String): Boolean =
        peek.exists(isKw(_, name)) && peekAt(1).contains(TPunct("("))
      peek match {
        case Some(TIdent(s)) if s.equalsIgnoreCase("Measures") &&
            peekAt(1).contains(TPunct(".")) &&
            peekAt(2).exists(_.isInstanceOf[TBracket]) =>
          // unbracketed reference style: Measures.[x]
          next(); eatPunct(".")
          next() match {
            case TBracket(m) => Some(Left(m))
            case t2 => throw MdxException(s"Syntax error: bad measure ref $t2")
          }
        case Some(TBracket(s)) =>
          next()
          Some(bracketTerm(s))
        case Some(TPunct("(")) if tupleOk && atTupleStart =>
          Some(Right(tupleRef()))
        // a set aggregate's first argument is a set or a member path;
        // otherwise this is a SQL call like MIN(col1, col2)
        case Some(TIdent(s)) if P.SetAggFns(s.toUpperCase) &&
            peekAt(1).contains(TPunct("(")) && (setStarts(2) ||
              peekAt(2).exists {
                case TBracket(nm) =>
                  cube.dims.exists(_.name.equalsIgnoreCase(nm))
                case _ => false
              }) =>
          next()
          Some(Right(setAggRef(s.toUpperCase)))
        case Some(TIdent(s)) if P.LinRegFns(s.toUpperCase) &&
            peekAt(1).contains(TPunct("(")) =>
          next()
          Some(Right(linRegRef(s.toUpperCase)))
        case Some(TIdent(_)) if fn("Rank") && lrRankSet.isDefined =>
          // Rank([dim].CurrentMember, <series set>) inside a LinReg
          // y/x argument — the member's 1-based series position
          next(); eatPunct("(")
          currentMember("Rank in a LinReg series")
          val rset = more(setExpr())
          eatPunct(")")
          if (rset != lrRankSet.get) {
            // ranking in a DIFFERENT set: member-identity semantics
            // (position when present at the same level, 0 otherwise)
            if (lrXRankSet.exists(_ != rset)) throw MdxException(
              "Rank inside a LinReg call supports at most one set " +
                "besides the series itself")
            lrXRankSet = Some(rset)
          }
          Some(Right(" " + Scalar.text(if (rset == lrRankSet.get)
            Scalar.SeriesRank else Scalar.OtherRank) + " "))
        case Some(TIdent(s)) if udfByName(s).exists(u =>
            u.syntax == UdfSyntax.Function &&
              u.returns != UdfType.MemberSet) &&
            peekAt(1).contains(TPunct("(")) =>
          // function-syntax scalar UDF: expands to a SQL fragment in
          // place (stays codegen'd with the surrounding expression)
          next()
          Some(Right(" " + udfSql(udfInvoke(udfByName(s).get, Nil), s) +
            " "))
        case Some(TPunct("{")) =>
          // a set literal in scalar position only makes sense as the
          // object of a set-typed property/method UDF:
          // {...}.firstUpperName (schema_definition_test.rb:1074-1090)
          val set = setTermBase()
          udfPostfix(SetArg(set)) match {
            case Some(sql) => Some(Right(" " + sql + " "))
            case None => throw MdxException(
              "Syntax error: set literal in scalar position requires " +
                "a set-typed UDF property/method")
          }
        case Some(TIdent(_)) if fn("IsEmpty") =>
          // IsEmpty(expr) → NULL test (IsEmptyFunDef);
          // IsEmpty(S.Current) with the Filter set alias → "every
          // measure of the current tuple is empty", which the planner
          // binds over the cell frame's measure columns
          next(); eatPunct("(")
          val aliasCurrent = setAlias.isDefined && (peek match {
            case Some(TIdent(s2)) =>
              s2.equalsIgnoreCase(setAlias.get) &&
                peekAt(1).contains(TPunct(".")) &&
                peekAt(2).exists(isKw(_, "Current"))
            case _ => false
          })
          val sql =
            if (aliasCurrent) {
              next(); eatPunct("."); next()
              s" ${Scalar.text(Scalar.CurrentEmpty)} "
            } else s" ((${scalarExpr(setAlias = setAlias)}) IS NULL) "
          eatPunct(")")
          Some(Right(sql))
        case Some(TIdent(s)) if setAlias.exists(_.equalsIgnoreCase(s)) &&
            peekAt(1).contains(TPunct(".")) &&
            peekAt(2).exists(isKw(_, "CurrentOrdinal")) =>
          // S.CurrentOrdinal — 0-based position of the current tuple
          // in the aliased set (NamedSetCurrentOrdinalFunDef)
          next(); eatPunct("."); next()
          Some(Right(s" ${Scalar.text(Scalar.CurrentOrdinal)} "))
        case Some(TIdent(_)) if fn("IsDirty") =>
          // IsDirty() — "may this cell be stale mid-cache-flush?"
          // (jar IsDirtyFunDef; mondrian_test.rb:242-246 expects
          // false). This engine evaluates every query against source
          // data under Spark's immutable-plan execution — a cell is
          // never served from a half-invalidated cache — so the
          // truthful constant is false.
          next(); eatPunct("("); eatPunct(")")
          Some(Right(" false "))
        case Some(TIdent(_)) if fn("Parameter") =>
          next()
          Some(Right(parameterValue() match {
            case str: String => s"'${str.replace("'", "''")}'"
            case other => other.toString
          }))
        case Some(TIdent(_)) if fn("CAST") =>
          // MDX Cast(expr AS Type) (CastFunDef, mondrian_test.rb
          // Cast tests): MDX type names → Spark SQL types
          next(); eatPunct("(")
          val inner = scalarExpr(stopAtAs = true)
          eatKw("AS")
          val sparkType = name("Cast type").toUpperCase match {
            case "BOOLEAN" => "BOOLEAN"
            case "STRING" => "STRING"
            case "INTEGER" | "INT" => "INT"
            case "LONG" => "BIGINT"
            // MDX NUMERIC is double-typed (CastFunDef)
            case "NUMERIC" | "DOUBLE" | "SINGLE" => "DOUBLE"
            case "DECIMAL" | "CURRENCY" => "DECIMAL(19,4)"
            case "DATE" | "DATETIME" => "TIMESTAMP"
            case o => throw MdxException(s"Cast: unknown type '$o'")
          }
          eatPunct(")")
          Some(Right(s" CAST($inner AS $sparkType) "))
        case Some(TIdent(_)) if fn("FORMAT") =>
          // MDX Format(expr, 'vb-format') — lowered through the VB
          // format engine's Column surface, spliced back as SQL so it
          // stays inside the surrounding codegen'd expression
          next(); eatPunct("(")
          val inner = scalarExpr()
          eatPunct(",")
          val fmt = next() match {
            case TStr(f) => f
            case t => throw MdxException(
              s"Syntax error: Format needs a format string, got $t")
          }
          eatPunct(")")
          Some(Right(" " + graft.functions.FormatString.sqlFor(inner, fmt) +
            " "))
        case Some(TIdent(_)) if fn("SETTOSTR") =>
          // SetToStr(set) — constant-folded at parse time to the MDX
          // rendering of the set (SetToStrFunDef)
          next(); eatPunct("(")
          val set = setExpr()
          eatPunct(")")
          Some(Right(s" '${render(set).replace("'", "''")}' "))
        case Some(TIdent(_)) if fn("TUPLETOSTR") =>
          // TupleToStr((m1, m2, ...)) — "(member, member)" rendering
          next(); eatPunct("(")
          val wrapped = atPunct("(")
          if (wrapped) eatPunct("(")
          var parts = Vector.empty[String]
          def onePath(): Unit = {
            val p = memberPath()
            parts :+= ("[" + p.mkString("].[") + "]")
          }
          onePath()
          while (atPunct(",")) { eatPunct(","); onePath() }
          if (wrapped) eatPunct(")")
          eatPunct(")")
          val rendered =
            if (parts.length == 1) parts.head
            else parts.mkString("(", ", ", ")")
          Some(Right(s" '${rendered.replace("'", "''")}' "))
        case _ => None
      }
    }

    /** A bracketed name read in a scalar: `[Measures].[x]` or a bare
      * `[x]` measure reference (Left); `[dim].CurrentMember` followed by
      * `.Name`/`.Caption`, `.Properties('P')` (PropertiesFunDef;
      * cube.rb:470-480: the planner joins the property column in), a
      * property/method UDF or nothing, lowered to its [[Scalar.Name]]
      * (reference query_test.rb:295-297); or `[dim](.[seg])*.udf`, a UDF
      * on a hierarchy, level or member object dispatched by its first
      * parameter type (Right).
      */
    private def bracketTerm(s: String): Either[String, String] = {
      val dim = cube.dims.find(_.name.equalsIgnoreCase(s))
      if (s.equalsIgnoreCase("Measures")) {
        eatPunct(".")
        next() match {
          case TBracket(m) => Left(m)
          case t2 => throw MdxException(s"Syntax error: bad measure ref $t2")
        }
      } else if (dim.isDefined && atPunct(".") &&
          peekAt(1).exists(isKw(_, "CurrentMember"))) {
        val d = dim.get
        eatPunct("."); next() // CurrentMember
        val name = Scalar.text(Scalar.CurrentName(d.name))
        Right(if (atPunct(".") && peekAt(1).exists(t2 =>
            isKw(t2, "Name") || isKw(t2, "Caption"))) {
          eatPunct("."); next()
          s" $name "
        } else if (atPunct(".") && peekAt(1).exists(isKw(_, "Properties"))) {
          eatPunct("."); next(); eatPunct("(")
          val prop = next() match {
            case TStr(p) => p
            case t => throw MdxException(
              s"Syntax error: Properties needs a name, got $t")
          }
          eatPunct(")")
          s" ${Scalar.text(Scalar.CurrentProp(d.name, prop))} "
        } else udfPostfix(MemberArg(d, name, None))
          .fold(s" $name ")(sql => s" $sql "))
      } else if (dim.isDefined && !isMeasureName(s)) {
        val d = dim.get
        val segs = segments()
        val udfName = if (atPunct(".")) peekAt(1).collect {
          case TIdent(f) if udfByName(f).exists(u =>
            u.syntax != UdfSyntax.Function) => f
        } else None
        val f = udfName.getOrElse(throw MdxException(
          s"Syntax error: dimension reference [${d.name}] " +
            "in scalar position"))
        eatPunct("."); next()
        val u = udfByName(f).get
        val obj: UdfArg = u.parameters.headOption match {
          case Some(UdfType.Hierarchy) => HierarchyArg(d)
          case Some(UdfType.Level) if segs.length == 1 =>
            LevelArg(d, resolveLevel(d, segs.head))
          case Some(UdfType.MemberSet) =>
            SetArg(if (segs.isEmpty)
              LevelMembers(d.name, d.levels.head.name)
            else Members(d.name, Seq(segs.map(pathValue))))
          case _ =>
            if (segs.isEmpty) throw MdxException(
              s"Syntax error: '$f' needs a member, " +
                s"[${d.name}] is a dimension")
            MemberArg(d, UdfResult.lit(segs.last).sql,
              Some(segs.map(pathValue)))
        }
        Right(" " + udfSql(udfInvoke(u, Seq(obj)), f) + " ")
      } else Left(s)
    }

    /** Collapse whitespace runs (outside string literals) to one
      * space. The lowered expression text is part of the IR, and the
      * token-joining above inserts different spacing than a measure
      * substitution does — without a canonical form, parse → render →
      * reparse of the same predicate diverges on whitespace alone
      * (e.g. `[Measures].[Unit Sales] > 1000` vs the rendered bare
      * `Unit Sales > 1000`, reference query_test.rb:617-633).
      */
    private def canonSpaces(s: String): String = {
      val sb2 = new StringBuilder
      var inQ = false
      var lastSpace = false
      s.foreach { c =>
        if (c == '\'') { inQ = !inQ; sb2.append(c); lastSpace = false }
        else if (!inQ && c.isWhitespace) {
          // no space after '(' — parens are emitted bare on one path
          // and space-padded on another
          if (!lastSpace && sb2.nonEmpty && sb2.last != '(')
            sb2.append(' ')
          lastSpace = true
        } else {
          if (!inQ && c == ')' && sb2.nonEmpty && sb2.last == ' ')
            sb2.setLength(sb2.length - 1)
          sb2.append(c)
          lastSpace = false
        }
      }
      sb2.toString.trim
    }

    // -------- slicer

    private def slicerItems(): Seq[SlicerItem] = {
      // a slicer entry is either a literal member path, or a SET
      // EXPRESSION (WHERE CROSSJOIN(...), WHERE (Head(...).Item(0),
      // ...) — reference query_test.rb:288-320). Set expressions that
      // statically flatten to per-dimension member paths (CrossJoin
      // trees over literal member sets) become ordinary member/set
      // slicers; anything else is a plan-time-evaluated EvalSlice.
      def flatten(s: SetExpr): Option[Seq[(String, Seq[Any])]] = s match {
        case Members(d, paths) => Some(paths.map(p => d -> p))
        case CrossJoin(a, b) =>
          for (fa <- flatten(a); fb <- flatten(b)) yield fa ++ fb
        case NonEmptyCrossJoin(a, b) =>
          // slicer position: restriction only — empty combinations
          // contribute no rows either way, so the NONEMPTY is inert
          for (fa <- flatten(a); fb <- flatten(b)) yield fa ++ fb
        case _ => None
      }
      def one(): Seq[Either[(String, Seq[Any]), SlicerItem]] =
        if (setStarts(0)) {
          // braced set in slicer position (e.g. a rendered member
          // range inside a WHERE tuple) takes the general set parser
          val s = setExpr()
          flatten(s) match {
            case Some(pairs) => pairs.map(Left(_))
            case None => Seq(Right(EvalSlice(s)))
          }
        } else {
          val p = memberPath()
          val d = dimNamed(p.head)
          levelQualified(d, p.tail) match {
            // WHERE ([Dim].[Level].[M]): the member's full ancestry is
            // data, not syntax — resolve the one-member range at plan
            // entry like any computed slicer
            case Some(rng) => Seq(Right(EvalSlice(rng)))
            case None => Seq(Left(d.name -> p.tail.map(pathValue)))
          }
        }
      val items = peek match {
        case Some(TPunct(open @ ("(" | "{"))) =>
          eatPunct(open)
          val all = one() ++ rest(one()).flatten
          eatPunct(if (open == "(") ")" else "}")
          all
        case _ => one()
      }
      // same-dim members form a compound (set) slicer; distinct dims a
      // tuple (query.rb:379-386)
      items.collect { case Left(p) => p }.groupBy(_._1).toSeq.map {
        case (dim, Seq((_, path))) => MemberSlice(dim, path)
        case (dim, many) => SetSlice(dim, many.map(_._2))
      } ++ items.collect { case Right(s) => s }
    }
  }

  private object P {

    /** Every set function of the MDX surface, by upper-case name: the
      * reader of its arguments (the cursor is past the '(') and the IR
      * node it builds. The reference resolves each call through its
      * FunDef table (mondrian/olap/fun); readers are shared, and a TOP/
      * BOTTOM pair is one reader told which end it keeps.
      */
    val SetFunctions: Map[String, P => SetExpr] = {
      def ends(top: String, bottom: String)(read: (P, Boolean) => SetExpr) =
        Seq(top -> ((p: P) => read(p, false)),
          bottom -> ((p: P) => read(p, true)))
      def strTo(fn: String)(read: P => SetExpr) =
        fn.toUpperCase -> ((p: P) => p.strTo(fn, read))
      // Ancestor(member, level): the member's ancestor at the level;
      // Ancestors is its set form (AncestorsFunDef), which at one named
      // level holds exactly that ancestor
      def ancestor(fn: String) = fn.toUpperCase -> { (p: P) =>
        val (d, m) = p.member()
        val lvl = p.more(p.level(d))
        val depth = d.levelIndex(lvl)
        if (m.length <= depth) throw MdxException(
          s"$fn level '$lvl' is below member " +
            (d.name +: m).mkString("[", "].[", "]"))
        Members(d.name, Seq(m.take(depth + 1)))
      }
      Map[String, P => SetExpr](
        "CROSSJOIN" -> (p => CrossJoin(p.setExpr(), p.more(p.setExpr()))),
        "NONEMPTYCROSSJOIN" ->
          (p => NonEmptyCrossJoin(p.setExpr(), p.more(p.setExpr()))),
        "UNION" -> (p =>
          UnionSet(p.setExpr(), p.more(p.setExpr()), p.flag("ALL"))),
        "INTERSECT" -> (p => IntersectSet(p.setExpr(), p.more(p.setExpr()))),
        "EXCEPT" -> (p => ExceptSet(p.setExpr(), p.more(p.setExpr()))),
        "EXISTS" -> (p => ExistsSet(p.setExpr(), p.more(p.setExpr()))),
        "DISTINCT" -> (p => DistinctSet(p.setExpr())),
        "UNORDER" -> (p => UnorderSet(p.setExpr())),
        // calc members live on [Measures] in this engine, so a member set
        // passes through unchanged (Add/StripCalculatedMembersFunDef)
        "ADDCALCULATEDMEMBERS" -> (p => p.setExpr()),
        "STRIPCALCULATEDMEMBERS" -> (p => p.setExpr()),
        "FILTER" -> (_.filter()),
        "GENERATE" -> { p =>
          // Generate(set, [dim].CurrentMember[, ALL]), the reference's
          // usage (query_test.rb:660-675): an identity scan over the
          // set; ALL keeps duplicates, the default dedups
          val a = p.setExpr()
          p.more(p.currentMember("GENERATE"))
          if (p.flag("ALL")) a else DistinctSet(a)
        },
        "ORDER" -> (p => OrderSet(p.setExpr(), p.more(p.scalarExpr()),
          p.opt(p.sortDir()).getOrElse(SortDir.Asc))),
        // HEAD/TAIL count defaults to 1 (HeadTailFunDef; reference
        // query_test.rb:288-294 Head([Customers].Members))
        "HEAD" -> (p => HeadSet(p.setExpr(), p.opt(p.int()).getOrElse(1))),
        "TAIL" -> (p => TailSet(p.setExpr(), p.opt(p.int()).getOrElse(1))),
        "SUBSET" -> (p =>
          SubsetSet(p.setExpr(), p.more(p.int()), p.more(p.int()))),
        "HIERARCHIZE" -> (p => Hierarchize(p.setExpr(), p.flag("POST"))),
        "EXTRACT" -> { p =>
          // Extract(set, [dim][, [dim]...]): project onto dimensions
          val a = p.setExpr()
          val dims = p.rest(p.dimension().name)
          if (dims.isEmpty)
            throw MdxException("Syntax error: EXTRACT requires dimensions")
          ExtractSet(a, dims)
        },
        "DESCENDANTS" -> { p =>
          val (d, m) = p.member()
          Descendants(d.name, m, p.more(p.level(d)))
        },
        "ASCENDANTS" -> { p =>
          // Ascendants(member): the member and ALL its ancestors up to
          // the root (AscendantsFunDef), a literal mixed-depth member set
          val (d, m) = p.member()
          if (m.isEmpty) throw MdxException(
            "Ascendants: expected a member, got a dimension")
          Members(d.name, (1 to m.length).reverse.map(m.take))
        },
        "COUSIN" -> { p =>
          // Cousin(member, ancestor), same-dimension positional
          // navigation (CousinFunDef). Depth relationships are
          // semantics, not syntax (equal depth → the second member,
          // member above → null): the planner lowers them
          val (d, m) = p.member()
          val (d2, a) = p.more(p.member())
          if (d2.name != d.name) throw MdxException(
            s"Cousin: members of different hierarchies " +
              s"([${d.name}], [${d2.name}])")
          CousinSet(d.name, m, a)
        },
        "DRILLDOWNMEMBER" ->
          (p => DrilldownMember(p.setExpr(), p.more(p.setExpr()))),
        // DrilldownLevel(set): every member drills into its children —
        // DrilldownMember with the set as its own drill list
        "DRILLDOWNLEVEL" -> { p => val a = p.setExpr(); DrilldownMember(a, a) },
        "TOGGLEDRILLSTATE" ->
          (p => ToggleDrillState(p.setExpr(), p.more(p.setExpr()))),
        "CURRENTDATEMEMBER" -> (_.currentDate()),
        ancestor("Ancestor"), ancestor("Ancestors"),
        strTo("StrToSet")(_.setExpr()),
        strTo("StrToMember")(_.memberSet()),
        strTo("StrToTuple")(_.tupleSet())) ++
      // the sort expression of TOP/BOTTOMCOUNT is optional (reference
      // query_test.rb:214-218): without it MDX takes the set's natural
      // order, the head for TOP and the tail for BOTTOM
      ends("TOPCOUNT", "BOTTOMCOUNT")((p, bottom) => TopCount(p.setExpr(),
        p.more(p.int()), p.opt(p.scalarExpr()).getOrElse(""), bottom)) ++
      ends("TOPPERCENT", "BOTTOMPERCENT")((p, bottom) => TopPercent(
        p.setExpr(), p.more(p.num()), p.more(p.scalarExpr()), bottom)) ++
      ends("TOPSUM", "BOTTOMSUM")((p, bottom) => TopSum(p.setExpr(),
        p.more(p.num()), p.more(p.scalarExpr()), bottom)) ++
      ends("DRILLDOWNLEVELTOP", "DRILLDOWNLEVELBOTTOM")((p, bottom) =>
        DrilldownLevelTop(p.setExpr(), p.more(p.int()), p.drillKey(), bottom))
    }

    /** Member functions, the `.Fn` suffixes of a `[Dim](.[seg])*` path,
      * by upper-case name: the set each names, given the dimension and
      * the segments after it (the reference's member API and Mondrian's
      * navigation FunDefs). Children are in hierarchical (ordinal)
      * order, so First/Last are Head/Tail of them.
      */
    val MemberFunctions: Map[String, (P, BoundDim, Seq[String]) => SetExpr] = {
      // [Dim].Members / [Dim].AllMembers — hierarchy scope: every member
      // of every level (reference query_test.rb:288-300, 712-723).
      // Hierarchies here carry no All member (hasAll = false), so the
      // hierarchy member set is the union of the level member sets,
      // root level first.
      def members(fn: String)(p: P, d: BoundDim, segs: Seq[String]) =
        segs match {
          case Seq() => d.levels.map(l => LevelMembers(d.name, l.name): SetExpr)
            .reduce(UnionSet(_, _, all = true))
          case Seq(l) => LevelMembers(d.name, p.resolveLevel(d, l))
          case _ => throw MdxException(
            s"Syntax error: .$fn applies to [Dim] or [Dim].[Level]")
        }
      def path(segs: Seq[String]): Seq[Any] = segs.map(pathValue)
      def siblings(d: BoundDim, segs: Seq[String]): SetExpr =
        if (segs.length <= 1) LevelMembers(d.name, d.levels.head.name)
        else Children(d.name, path(segs.dropRight(1)))
      Map(
        "MEMBERS" -> members("Members"),
        "ALLMEMBERS" -> members("AllMembers"),
        // hasAll=false hierarchies: Mondrian's default member is the
        // first root-level member (HierarchyDefaultMember; in reference
        // query_test.rb:718-723 it is the All member, whose analog here
        // is the grand-total row, not an axis member)
        "DEFAULTMEMBER" -> { (_, d, segs) =>
          if (segs.nonEmpty) throw MdxException(
            "Syntax error: .DefaultMember applies to [Dim]")
          HeadSet(LevelMembers(d.name, d.levels.head.name), 1)
        },
        "CHILDREN" -> ((_, d, segs) => Children(d.name, path(segs))),
        "FIRSTCHILD" ->
          ((_, d, segs) => HeadSet(Children(d.name, path(segs)), 1)),
        "LASTCHILD" ->
          ((_, d, segs) => TailSet(Children(d.name, path(segs)), 1)),
        "PARENT" -> { (_, d, segs) =>
          if (segs.isEmpty) throw MdxException(
            s"Syntax error: [${d.name}] has no parent (dimension reference)")
          if (segs.length == 1) throw MdxException(
            s"MDX object: root member [${d.name}].[${segs.head}] has no parent")
          Members(d.name, Seq(path(segs.dropRight(1))))
        },
        "SIBLINGS" -> ((_, d, segs) => siblings(d, segs)),
        "FIRSTSIBLING" -> ((_, d, segs) => HeadSet(siblings(d, segs), 1)),
        "LASTSIBLING" -> ((_, d, segs) => TailSet(siblings(d, segs), 1)))
    }

    /** MDX set-aggregates allowed inside scalar formulas:
      * Sum/Avg/Min/Max/Count/Aggregate(set[, measure]) — lowered to a
      * hidden SetAggCalc member (negative solveOrder) that the formula
      * references as a plain column.
      */
    val SetAggFns = Set("SUM", "AVG", "MIN", "MAX", "COUNT", "AGGREGATE")

    /** MDX per-member-series regressions: LinRegFn(set, y, x) — lowered
      * to a hidden [[LinRegCalc]] member (mondrian_test.rb:608-766).
      */
    val LinRegFns = Set("LINREGSLOPE", "LINREGINTERCEPT", "LINREGR2",
      "LINREGVARIANCE", "LINREGPOINT")

    /** MDX scalar-function names → Spark SQL function names. */
    val MdxToSparkFn = Map(
      "IIF" -> "if",
      "COALESCEEMPTY" -> "coalesce",
      "ISEMPTY" -> "isnull",
      // VBA Val over numeric expressions is a double conversion
      "VAL" -> "double")

    /** Keywords that end a scalar expression at depth 0. */
    val ScalarStops = Set("SELECT", "MEMBER", "SET", "FROM", "ON")
  }
}
