package graft.olap

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
  * Set functions map 1:1 onto the typed IR (Ir.scala); scalar
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
      val d = dir match {
        case SortDir.Asc => "ASC"; case SortDir.Desc => "DESC"
        case SortDir.BAsc => "BASC"; case SortDir.BDesc => "BDESC"
      }
      s"ORDER(${render(s)}, $e, $d)"
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
        case None => "__LR_RANK__"
      }
      val xrank = rankSet.map { rs =>
        dimOf(rs) match {
          case Some(d) => s"Rank([$d].CurrentMember, ${render(rs)})"
          case None => "__LR_XRANK__"
        }
      }
      def back(e: String): String =
        xrank.foldLeft(e.replace("__LR_RANK__", rank))(
          (s, xr) => s.replace("__LR_XRANK__", xr))
      val lead = pointX.map(px => s"$px, ").getOrElse("")
      s"$fnName($lead${render(set)}, ${back(y)}, ${back(x)})"
    case _ => cm.name
  }

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
      else if (c == '[') {
        val j = in.indexOf(']', i)
        if (j < 0) throw MdxException(s"Lexical error: unclosed '[' at $i")
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

    private def pathValue(s: String): Any =
      if (s.nonEmpty && s.forall(_.isDigit)) s.toInt else s

    // -------- query

    def query(): QueryIR = {
      var withSets = Map.empty[String, SetExpr]
      var withMembers = Seq.empty[CalcMember]
      if (atKw("WITH")) {
        eatKw("WITH")
        while (atKw("SET") || atKw("MEMBER")) {
          if (atKw("SET")) {
            eatKw("SET")
            val name = next() match {
              case TBracket(s) => s
              case TIdent(s) => s
              case t => throw MdxException(s"Syntax error: bad set name $t")
            }
            eatKw("AS")
            inlineQuotedFormula()
            withSets += name -> setExpr(withSets)
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
                  val s = setExpr(withSets)
                  eatPunct(")")
                  s
                case Some(TBracket(_)) =>
                  val p = memberPath()
                  val pd = dimNamed(p.head)
                  Members(pd.name, Seq(p.tail.map(pathValue)))
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
            val formula = ExprCalc(scalarExpr(withSets))
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
        val set = setOrMeasures(withSets)
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
      val cubeName = next() match {
        case TBracket(s) => s
        case TIdent(s) => s
        case t => throw MdxException(s"Syntax error: bad cube name $t")
      }
      if (!cubeName.equalsIgnoreCase(cube.name))
        throw MdxException(
          s"MDX cube '$cubeName' does not match connection cube " +
            s"'${cube.name}'")
      var slicer = Seq.empty[SlicerItem]
      if (atKw("WHERE")) { eatKw("WHERE"); slicer = slicerItems(withSets) }
      QueryIR(measures, rows, slicer, nonEmpty, withSets,
        auxCalcs ++ withMembers, pages = pages, chapters = chapters,
        sections = sections)
    }

    // -------- set expressions

    /** Either a member set (Left) or a measure-name list (Right — the
      * COLUMNS axis shape).
      */
    private def setOrMeasures(
        withSets: Map[String, SetExpr]): Either[SetExpr, Seq[String]] = {
      if (atPunct("{")) {
        eatPunct("{")
        // {set-fn(...), ...} — brace-wrapped set expressions (e.g.
        // {Ancestor(m, lvl)}): parse items as general sets, union them
        val fnItem = peek match {
          case Some(TIdent(f)) =>
            SetFns.contains(f.toUpperCase) ||
              f.equalsIgnoreCase("STRTOSET") ||
              f.equalsIgnoreCase("STRTOMEMBER") ||
              withSets.contains(f)
          // a nested braced set ({{a}, {b}} — set concatenation,
          // duplicates kept, like Mondrian's SetListCalc over subsets)
          case Some(TPunct("{")) => true
          case _ => false
        }
        // `.Members`-style suffixes inside braces ({[d].[l].Members},
        // {[d].[m].Children, ...}) need the general set parser, not the
        // literal member-path branch: scan to the matching '}' for a
        // `.Suffix` pattern
        val braceSuffixes = Set("MEMBERS", "ALLMEMBERS", "CHILDREN",
          "PARENT", "FIRSTCHILD", "LASTCHILD", "SIBLINGS",
          "FIRSTSIBLING", "LASTSIBLING", "ITEM", "DEFAULTMEMBER")
        def braceHasSuffix: Boolean = {
          var k = 0; var depth = 0; var found = false
          while (!found && pos + k < toks.length && depth >= 0) {
            (toks(pos + k), toks.lift(pos + k + 1)) match {
              case (TPunct("{"), _) => depth += 1
              case (TPunct("}"), _) => depth -= 1
              case (TPunct("."), Some(TIdent(f)))
                  if braceSuffixes(f.toUpperCase) => found = true
              case _ => ()
            }
            k += 1
          }
          found
        }
        if (fnItem || braceHasSuffix) {
          var acc = setExpr(withSets)
          while (atPunct(",")) {
            eatPunct(","); acc = UnionSet(acc, setExpr(withSets), all = true)
          }
          eatPunct("}")
          return Left(acc)
        }
        // measure set or literal member set
        val firstPath = memberPath()
        if (firstPath.head.equalsIgnoreCase("Measures")) {
          def measureSeg(p: Seq[String]): String =
            if (p.length < 2) throw MdxException(
              "Syntax error: expected [Measures].[name], got [" +
                p.mkString("].[") + "]")
            else p(1)
          var names = Seq(measureSeg(firstPath))
          while (atPunct(",")) {
            eatPunct(",")
            names :+= measureSeg(memberPath())
          }
          eatPunct("}")
          Right(names)
        } else {
          val d = dimNamed(firstPath.head)
          var rawPaths = Seq(firstPath.tail)
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
          while (atPunct(",")) {
            eatPunct(",")
            rawPaths :+= memberPath().tail
          }
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
        case _ => Left(setExpr(withSets))
      }
    }

    private def setExpr(withSets: Map[String, SetExpr]): SetExpr = {
      val first = setTerm(withSets)
      // infix '*' = CrossJoin (left-associative)
      var acc = first
      while (atPunct("*")) { eatPunct("*"); acc = CrossJoin(acc, setTerm(withSets)) }
      acc
    }

    private def setTerm(withSets: Map[String, SetExpr]): SetExpr = {
      var t = setTermBase(withSets)
      // postfix .Item(n): the n-th tuple of the set (ItemFunDef) — a
      // 1-tuple set in this uniform-grid model
      while (atPunct(".") && peekAt(1).exists(isKw(_, "Item"))) {
        eatPunct("."); next(); eatPunct("(")
        val i = num().toInt
        eatPunct(")")
        t = SubsetSet(t, i, 1)
      }
      t
    }

    private def setTermBase(withSets: Map[String, SetExpr]): SetExpr =
      peek match {
        case Some(TPunct("{")) => setOrMeasures(withSets) match {
          case Left(s) => s
          // a braced measure set is only legal inside Aggregate(...),
          // where setAggRef unwraps it to the (set, measure) form
          case Right(ns) if allowMeasuresSet => MeasuresSet(ns)
          case Right(_) => throw MdxException(
            "Syntax error: measure set not allowed here")
        }
        case Some(TPunct("(")) =>
          eatPunct("("); val s = setExpr(withSets); eatPunct(")"); s
        case Some(TIdent(fn)) if fn.equalsIgnoreCase("STRTOSET") ||
            fn.equalsIgnoreCase("STRTOMEMBER") ||
            fn.equalsIgnoreCase("STRTOTUPLE") =>
          // StrToSet('{...}') / StrToMember('[d].[m]') /
          // StrToTuple('([d].[m], [e].[n])') — re-lex the string
          // literal and parse it with a nested parser.
          next(); eatPunct("(")
          val body =
            if (atParameter) { next(); String.valueOf(parameterValue()) }
            else next() match {
              case TStr(s) => s
              case t => throw MdxException(
                s"Syntax error: $fn requires a string literal, got $t")
            }
          eatPunct(")")
          val sub = new P(lex(body), cube)
          val r =
            if (fn.equalsIgnoreCase("STRTOSET")) sub.setExpr(withSets)
            else if (fn.equalsIgnoreCase("STRTOTUPLE")) sub.tupleSet()
            else sub.memberSet()
          if (!sub.atEnd)
            throw MdxException(s"Syntax error: trailing tokens in $fn string")
          r
        case Some(TIdent(fn)) if udfByName(fn).exists(u =>
            u.syntax == UdfSyntax.Function &&
              u.returns == UdfType.MemberSet) =>
          // set-returning UDF (ChildrenSet(...) shape,
          // schema_definition_test.rb:1003-1014) — composes with every
          // set operator
          next()
          udfInvoke(udfByName(fn).get, Nil, withSets) match {
            case SetResult(s) => s
            case SqlResult(_) => throw MdxException(
              s"Syntax error: function '$fn' does not return a set")
          }
        case Some(TIdent(fn)) if SetFns.contains(fn.toUpperCase) =>
          next(); setFunction(fn.toUpperCase, withSets)
        case Some(TIdent(name)) if withSets.contains(name) =>
          next(); NamedSetRef(name)
        case Some(TBracket(_)) => memberSet()
        case Some(t) => throw MdxException(s"Syntax error: unexpected $t")
        case None =>
          throw MdxException("Syntax error: unexpected end of query")
      }

    private val SetFns = Set("CROSSJOIN", "NONEMPTYCROSSJOIN", "UNION",
      "INTERSECT", "EXCEPT", "DISTINCT", "FILTER", "ORDER", "TOPCOUNT",
      "BOTTOMCOUNT", "TOPPERCENT", "BOTTOMPERCENT", "TOPSUM", "BOTTOMSUM",
      "HEAD", "TAIL", "SUBSET", "HIERARCHIZE", "DESCENDANTS", "EXISTS",
      "EXTRACT", "GENERATE", "ANCESTOR", "ANCESTORS", "ASCENDANTS",
      "COUSIN",
      "ADDCALCULATEDMEMBERS", "STRIPCALCULATEDMEMBERS",
      "CURRENTDATEMEMBER", "DRILLDOWNMEMBER", "DRILLDOWNLEVEL",
      "DRILLDOWNLEVELTOP", "DRILLDOWNLEVELBOTTOM", "TOGGLEDRILLSTATE",
      "UNORDER")

    private def setFunction(fn: String,
        ws: Map[String, SetExpr]): SetExpr = {
      eatPunct("(")
      def arg(): SetExpr = setExpr(ws)
      def comma(): Unit = eatPunct(",")
      val r = fn match {
        case "CROSSJOIN" =>
          val a = arg(); comma(); val b = arg(); CrossJoin(a, b)
        case "NONEMPTYCROSSJOIN" =>
          val a = arg(); comma(); val b = arg(); NonEmptyCrossJoin(a, b)
        case "UNION" =>
          val a = arg(); comma(); val b = arg()
          val all = if (atPunct(",")) { comma(); eatKw("ALL"); true }
                    else false
          UnionSet(a, b, all)
        case "INTERSECT" =>
          val a = arg(); comma(); val b = arg(); IntersectSet(a, b)
        case "EXCEPT" =>
          val a = arg(); comma(); val b = arg(); ExceptSet(a, b)
        case "EXISTS" =>
          val a = arg(); comma(); val b = arg(); ExistsSet(a, b)
        case "DISTINCT" => DistinctSet(arg())
        case "FILTER" =>
          // optional `set AS S` alias names the set for S.Current /
          // S.CurrentOrdinal in the condition (NamedSetCurrentFunDef,
          // reference query_test.rb:635-655)
          val a = arg()
          val alias =
            if (atKw("AS")) {
              eatKw("AS")
              Some(next() match {
                case TIdent(s2) => s2
                case TBracket(s2) => s2
                case t => throw MdxException(
                  s"Syntax error: bad set alias $t")
              })
            } else None
          comma(); FilterSet(a, scalarExpr(ws, setAlias = alias))
        case "ORDER" =>
          val a = arg(); comma(); val e = scalarExpr(ws)
          val dir = if (atPunct(",")) {
            comma()
            next() match {
              case TIdent(d) => d.toUpperCase match {
                case "ASC" => SortDir.Asc
                case "DESC" => SortDir.Desc
                case "BASC" => SortDir.BAsc
                case "BDESC" => SortDir.BDesc
                case o => throw MdxException(s"Syntax error: bad order $o")
              }
              case t => throw MdxException(s"Syntax error: bad order $t")
            }
          } else SortDir.Asc
          OrderSet(a, e, dir)
        case "TOPCOUNT" | "BOTTOMCOUNT" =>
          // the sort expression is optional (reference
          // query_test.rb:214-218): without it, MDX takes the set's
          // natural order — head for TOP, tail for BOTTOM
          val a = arg(); comma(); val n = num().toInt
          val e = if (atPunct(",")) { comma(); scalarExpr(ws) } else ""
          TopCount(a, n, e, bottom = fn == "BOTTOMCOUNT")
        case "TOPPERCENT" | "BOTTOMPERCENT" =>
          val a = arg(); comma(); val p = num(); comma()
          TopPercent(a, p, scalarExpr(ws), bottom = fn == "BOTTOMPERCENT")
        case "TOPSUM" | "BOTTOMSUM" =>
          val a = arg(); comma(); val s = num(); comma()
          TopSum(a, s, scalarExpr(ws), bottom = fn == "BOTTOMSUM")
        case "HEAD" =>
          // count defaults to 1 (HeadTailFunDef; reference
          // query_test.rb:288-294 Head([Customers].Members))
          val a = arg()
          val n = if (atPunct(",")) { comma(); num().toInt } else 1
          HeadSet(a, n)
        case "TAIL" =>
          val a = arg()
          val n = if (atPunct(",")) { comma(); num().toInt } else 1
          TailSet(a, n)
        case "SUBSET" =>
          val a = arg(); comma(); val s = num().toInt; comma()
          SubsetSet(a, s, num().toInt)
        case "HIERARCHIZE" =>
          val a = arg()
          val post = if (atPunct(",")) { comma(); eatKw("POST"); true }
                     else false
          Hierarchize(a, post)
        case "DESCENDANTS" =>
          val p = memberPath(); comma()
          val d = dimNamed(p.head)
          val lvl = next() match {
            case TBracket(s) => s
            case TIdent(s) => s
            case t => throw MdxException(s"Syntax error: bad level $t")
          }
          Descendants(d.name, p.tail.map(pathValue), resolveLevel(d, lvl))
        case "EXTRACT" =>
          // Extract(set, [dim][, [dim]...]) — project onto dimensions
          val a = arg()
          var dims = Vector.empty[String]
          while (atPunct(",")) {
            comma()
            dims :+= (next() match {
              case TBracket(s) => dimNamed(s).name
              case TIdent(s) => dimNamed(s).name
              case t => throw MdxException(s"Syntax error: bad dimension $t")
            })
          }
          if (dims.isEmpty)
            throw MdxException("Syntax error: EXTRACT requires dimensions")
          ExtractSet(a, dims)
        case "GENERATE" =>
          // Generate(set, [dim].CurrentMember[, ALL]) — the reference's
          // usage (query_test.rb:660-675): identity scan over the set;
          // ALL keeps duplicates, default dedups.
          val a = arg(); comma()
          val d = next() match {
            case TBracket(s) => dimNamed(s)
            case t => throw MdxException(
              s"Syntax error: GENERATE pattern must be a member expr, got $t")
          }
          eatPunct(".")
          next() match {
            case TIdent(f) if f.equalsIgnoreCase("CurrentMember") => ()
            case t => throw MdxException(
              s"Syntax error: unsupported GENERATE pattern .$t " +
                s"(only [${d.name}].CurrentMember)")
          }
          val all = if (atPunct(",")) { comma(); eatKw("ALL"); true }
                    else false
          if (all) a else DistinctSet(a)
        case "ASCENDANTS" =>
          // Ascendants(member): the member and ALL its ancestors up to
          // the root (AscendantsFunDef) — a literal mixed-depth member
          // set, expanded at parse time
          val p = memberPath()
          val d = dimNamed(p.head)
          val path = p.tail.map(pathValue)
          if (path.isEmpty) throw MdxException(
            "Ascendants: expected a member, got a dimension")
          Members(d.name,
            (1 to path.length).reverse.map(n => path.take(n)))
        case "COUSIN" =>
          // Cousin(member, ancestor) — same-dimension positional
          // navigation (CousinFunDef)
          val p = memberPath(); comma()
          val d = dimNamed(p.head)
          val ap = memberPath()
          val d2 = dimNamed(ap.head)
          if (d2.name != d.name) throw MdxException(
            s"Cousin: members of different hierarchies " +
              s"([${d.name}], [${d2.name}])")
          // depth relationships are SEMANTICS, not syntax (jar
          // CousinFunDef: equal depth → second member, member above →
          // null member) — the planner lowers them, the parser accepts
          CousinSet(d.name, p.tail.map(pathValue), ap.tail.map(pathValue))
        case "ANCESTOR" =>
          // Ancestor(member, level) — the member's ancestor at the level
          val p = memberPath(); comma()
          val d = dimNamed(p.head)
          val lp = memberPath()
          val lvlName = resolveLevel(d,
            if (lp.head.equalsIgnoreCase(d.name)) lp.last else lp.head)
          val depth = d.levelIndex(lvlName)
          val path = p.tail.map(pathValue)
          if (path.length <= depth)
            throw MdxException(
              s"Ancestor level '$lvlName' is below member [${p.mkString("].[")}]")
          Members(d.name, Seq(path.take(depth + 1)))
        case "ANCESTORS" =>
          // Ancestors(member, level) — the set form of Ancestor
          // (AncestorsFunDef): at a single named level the set holds
          // exactly the one ancestor
          val p = memberPath(); comma()
          val d = dimNamed(p.head)
          val lp = memberPath()
          val lvlName = resolveLevel(d,
            if (lp.head.equalsIgnoreCase(d.name)) lp.last else lp.head)
          val depth = d.levelIndex(lvlName)
          val path = p.tail.map(pathValue)
          if (path.length <= depth)
            throw MdxException(
              s"Ancestors level '$lvlName' is below member [${p.mkString("].[")}]")
          Members(d.name, Seq(path.take(depth + 1)))
        case "ADDCALCULATEDMEMBERS" =>
          // calc members live on [Measures] in this engine, so a member
          // set is unchanged (AddCalculatedMembersFunDef passthrough)
          arg()
        case "STRIPCALCULATEDMEMBERS" =>
          // dual of AddCalculatedMembers: level member sets carry no
          // calc members here, so the set passes through unchanged
          arg()
        case "UNORDER" => UnorderSet(arg())
        case "DRILLDOWNLEVEL" =>
          // DrilldownLevel(set): every member drills into its children —
          // exactly DrilldownMember with the set as its own drill list
          val a = arg(); DrilldownMember(a, a)
        case "DRILLDOWNMEMBER" =>
          val a = arg(); comma(); val b = arg(); DrilldownMember(a, b)
        case "TOGGLEDRILLSTATE" =>
          val a = arg(); comma(); val b = arg(); ToggleDrillState(a, b)
        case "DRILLDOWNLEVELTOP" | "DRILLDOWNLEVELBOTTOM" =>
          val a = arg(); comma(); val n = num().toInt
          var e: String = cube.defaultMeasureName
          if (atPunct(",")) {
            comma()
            // optional Level argument: a short bracket path naming a
            // level; accepted-but-unused (the drill is always one level
            // down). Anything else — including [Measures].[x] — is the
            // ranking expression; backtrack and parse it as such.
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
            if (isLevel) {
              if (atPunct(",")) { comma(); e = scalarExpr(ws) }
            } else e = scalarExpr(ws)
          }
          DrilldownLevelTop(a, n, e,
            bottom = fn == "DRILLDOWNLEVELBOTTOM")
        case "CURRENTDATEMEMBER" =>
          // CurrentDateMember([Time], '[Time].[yyyy].[Qq]'[, match]) or
          // CurrentDateMember([time].[month][, match]); the format
          // string's segment count under the hierarchy name selects the
          // level (reference CurrentDateMemberFunDef,
          // schema_definition_test.rb:577-597)
          val p = memberPath()
          val d = dimNamed(p.head)
          var level: Option[String] =
            if (p.tail.nonEmpty) Some(resolveLevel(d, p.tail.last)) else None
          var mt = "EXACT"
          while (atPunct(",")) {
            comma()
            next() match {
              case TStr(fmt) =>
                val segs = lex(fmt).collect { case TBracket(s) => s }
                val depth = math.min(math.max(segs.length - 2, 0),
                  d.levels.length - 1)
                level = Some(d.levels(depth).name)
              case TIdent(m)
                  if Set("EXACT", "BEFORE", "AFTER")(m.toUpperCase) =>
                mt = m.toUpperCase
              case t => throw MdxException(
                s"Syntax error: bad CurrentDateMember argument $t")
            }
          }
          CurrentDateMember(d.name, level.getOrElse(d.levels.last.name), mt)
        case _ =>
          throw MdxException(s"No function matches signature '$fn(...)'")
      }
      eatPunct(")")
      r
    }

    private def num(): Double = next() match {
      case TNum(s) => s.toDouble
      case t => throw MdxException(s"Syntax error: expected number, got $t")
    }

    /** '([d].[m], [e].[n])' tuple body (StrToTuple): one member per
      * hierarchy, crossjoined; a bare member (no parens) is a 1-tuple.
      */
    private def tupleSet(): SetExpr = {
      if (!atPunct("(")) return memberSet()
      eatPunct("(")
      var sets = Vector.empty[SetExpr]
      def one(): Unit = {
        val p = memberPath()
        val d = dimNamed(p.head)
        sets :+= levelQualified(d, p.tail).getOrElse(
          Members(d.name, Seq(p.tail.map(pathValue))))
      }
      one()
      while (atPunct(",")) { eatPunct(","); one() }
      eatPunct(")")
      sets.reduce(CrossJoin(_, _))
    }

    /** [Dim].[a].[b].Members / .Children / .AllMembers / plain member
      * path set.
      */
    private def memberSet(): SetExpr = {
      val segs = memberPath()
      val d = dimNamed(segs.head)
      def path = segs.tail.map(pathValue)
      def parentPath = {
        if (path.isEmpty) throw MdxException(
          s"Syntax error: [${d.name}] has no parent (dimension reference)")
        if (path.length == 1) throw MdxException(
          s"MDX object: root member [${d.name}].[${path.head}] has no parent")
        path.dropRight(1)
      }
      val knownSuffix = Set("MEMBERS", "ALLMEMBERS", "CHILDREN",
        "PARENT", "FIRSTCHILD", "LASTCHILD", "SIBLINGS",
        "FIRSTSIBLING", "LASTSIBLING", "DEFAULTMEMBER")
      val hasSuffix = atPunct(".") && (peekAt(1) match {
        case Some(TIdent(f)) => knownSuffix(f.toUpperCase)
        case _ => false
      })
      if (hasSuffix) {
        eatPunct(".")
        next() match {
          case TIdent(f) if f.equalsIgnoreCase("Members") ||
              f.equalsIgnoreCase("AllMembers") =>
            // [Dim].Members / [Dim].AllMembers — hierarchy-scope: every
            // member of every level (reference query_test.rb:288-300,
            // 712-723). Hierarchies here carry no All member (hasAll =
            // false semantics), so the hierarchy member set is the
            // union of the level member sets, root level first.
            if (segs.length == 1)
              d.levels.map(l => LevelMembers(d.name, l.name): SetExpr)
                .reduce(UnionSet(_, _, all = true))
            else if (segs.length == 2)
              LevelMembers(d.name, resolveLevel(d, segs(1)))
            else throw MdxException(
              s"Syntax error: .$f applies to [Dim] or [Dim].[Level]")
          case TIdent(f) if f.equalsIgnoreCase("DefaultMember") =>
            // hasAll=false hierarchies: Mondrian's default member is
            // the first root-level member (HierarchyDefaultMember;
            // reference query_test.rb:718-723 — there the default is
            // the All member, whose analog here is the grand-total
            // row, not an axis member)
            if (segs.length != 1) throw MdxException(
              "Syntax error: .DefaultMember applies to [Dim]")
            HeadSet(LevelMembers(d.name, d.levels.head.name), 1)
          case TIdent(f) if f.equalsIgnoreCase("Children") =>
            Children(d.name, path)
          // member navigation (reference cube.rb member API / Mondrian
          // FirstChild/LastChild/Siblings/Parent FunDefs). Children are
          // in hierarchical (ordinal) order, so First/Last = Head/Tail.
          case TIdent(f) if f.equalsIgnoreCase("Parent") =>
            Members(d.name, Seq(parentPath))
          case TIdent(f) if f.equalsIgnoreCase("FirstChild") =>
            HeadSet(Children(d.name, path), 1)
          case TIdent(f) if f.equalsIgnoreCase("LastChild") =>
            TailSet(Children(d.name, path), 1)
          case TIdent(f) if f.equalsIgnoreCase("Siblings") =>
            if (path.length <= 1) LevelMembers(d.name, d.levels.head.name)
            else Children(d.name, path.dropRight(1))
          case TIdent(f) if f.equalsIgnoreCase("FirstSibling") =>
            if (path.length <= 1)
              HeadSet(LevelMembers(d.name, d.levels.head.name), 1)
            else HeadSet(Children(d.name, path.dropRight(1)), 1)
          case TIdent(f) if f.equalsIgnoreCase("LastSibling") =>
            if (path.length <= 1)
              TailSet(LevelMembers(d.name, d.levels.head.name), 1)
            else TailSet(Children(d.name, path.dropRight(1)), 1)
          case t => throw MdxException(s"Syntax error: unexpected .$t")
        }
      } else levelQualified(d, segs.tail)
        .getOrElse(Members(d.name, Seq(path)))
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
    private def memberPath(): Seq[String] = {
      val first = next() match {
        case TBracket(s) => s
        case TIdent(s) => s
        case t => throw MdxException(s"Syntax error: expected member, got $t")
      }
      var segs = Seq(first)
      while (atPunct(".") && (pos + 1 < toks.length) &&
          (toks(pos + 1) match {
            case TBracket(_) => true
            case _ => false
          })) {
        eatPunct(".")
        next() match {
          case TBracket(s) => segs :+= s
          case t => throw MdxException(s"Syntax error: bad segment $t")
        }
      }
      segs
    }

    // -------- typed user-defined functions (reference schema_udf.rb:
    // 64-213; 12 UDF shapes tested at schema_definition_test.rb:900-1139)

    private lazy val udfCtx = new UdfContext(cube)

    private def udfByName(s: String): Option[UdfDef] = cube.funcs.udf(s)

    /** Parse one UDF argument according to its declared type. */
    private def udfArg(t: UdfType, ws: Map[String, SetExpr]): UdfArg =
      t match {
        case UdfType.MemberSet => SetArg(setExpr(ws))
        case UdfType.Hierarchy => next() match {
          case TBracket(s) => HierarchyArg(dimNamed(s))
          case t2 => throw MdxException(
            s"Syntax error: expected hierarchy, got $t2")
        }
        case UdfType.Level =>
          val p = memberPath()
          if (p.length != 2)
            throw MdxException("Syntax error: expected [Dim].[Level]")
          val d = dimNamed(p.head)
          LevelArg(d, resolveLevel(d, p(1)))
        case UdfType.Member => memberUdfArg()
        case _ => ScalarArg(scalarExpr(ws))
      }

    /** `[dim].CurrentMember` (lowered to the axis-column macro) or an
      * explicit `[dim].[a].[b]` path.
      */
    private def memberUdfArg(): MemberArg = {
      val dn = next() match {
        case TBracket(s) => s
        case t2 => throw MdxException(s"Syntax error: expected member, got $t2")
      }
      val d = dimNamed(dn)
      if (atPunct(".") && peekAt(1).exists(isKw(_, "CurrentMember"))) {
        eatPunct("."); next()
        MemberArg(d, s"__CURRENT_NAME_${d.name}__", None)
      } else {
        var segs = Seq.empty[String]
        while (atPunct(".") && peekAt(1).exists(_.isInstanceOf[TBracket])) {
          eatPunct(".")
          next() match { case TBracket(s) => segs :+= s; case _ => () }
        }
        if (segs.isEmpty)
          throw MdxException(
            s"Syntax error: expected member path after [${d.name}]")
        val path = segs.map(pathValue)
        MemberArg(d, UdfResult.lit(String.valueOf(path.last)).sql, Some(path))
      }
    }

    /** Invoke a UDF: `pre` holds already-parsed object args (property/
      * method syntax); the remaining declared parameters are read from a
      * parenthesized list.
      */
    private def udfInvoke(u: UdfDef, pre: Seq[UdfArg],
        ws: Map[String, SetExpr]): UdfResult = {
      val rest = u.parameters.drop(pre.length)
      val args =
        if (rest.isEmpty) pre
        else {
          eatPunct("(")
          val buf = scala.collection.mutable.ArrayBuffer(pre: _*)
          rest.zipWithIndex.foreach { case (t, i) =>
            if (i > 0) eatPunct(",")
            buf += udfArg(t, ws)
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
    private def udfPostfix(obj: UdfArg,
        ws: Map[String, SetExpr]): Option[String] =
      if (!atPunct(".")) None
      else peekAt(1) match {
        case Some(TIdent(f)) => udfByName(f) match {
          case Some(u) if u.syntax == UdfSyntax.Property ||
              u.syntax == UdfSyntax.Method =>
            eatPunct("."); next()
            Some(udfSql(udfInvoke(u, Seq(obj), ws), f))
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
    /** MDX set-aggregates allowed inside scalar formulas:
      * Sum/Avg/Min/Max/Count/Aggregate(set[, measure]) — lowered to a
      * hidden SetAggCalc member (negative solveOrder) that the formula
      * references as a plain column.
      */
    private val SetAggFns =
      Set("SUM", "AVG", "MIN", "MAX", "COUNT", "AGGREGATE")

    /** MDX per-member-series regressions: LinRegFn(set, y, x) — lowered
      * to a hidden [[LinRegCalc]] member (mondrian_test.rb:608-766).
      */
    private val LinRegFns = Set(
      "LINREGSLOPE", "LINREGINTERCEPT", "LINREGR2", "LINREGVARIANCE",
      "LINREGPOINT")

    /** While parsing a LinReg y/x argument, the series set —
      * `Rank([dim].CurrentMember, <this set>)` lowers to the
      * `__LR_RANK__` macro (the member's position in the series).
      */
    private var lrRankSet: Option[SetExpr] = None

    /** A Rank over a DIFFERENT set than the series, captured while
      * parsing LinReg y/x (at most one distinct auxiliary set per
      * call) — lowers to `__LR_XRANK__`.
      */
    private var lrXRankSet: Option[SetExpr] = None

    /** True only while parsing a set-aggregate's set argument, where a
      * braced measure set (`{[Measures].[m]}`) is legal as a crossjoin
      * factor — [[setAggRef]] unwraps it before the IR is stored.
      */
    private var allowMeasuresSet = false

    /** MDX scalar-function names → Spark SQL function names. */
    private val MdxToSparkFn = Map(
      "IIF" -> "if",
      "COALESCEEMPTY" -> "coalesce",
      "ISEMPTY" -> "isnull",
      // VBA Val over numeric expressions is a double conversion
      "VAL" -> "double")

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
      var sets = Vector.empty[SetExpr]
      while (atPunct(",")) {
        eatPunct(",")
        val p = memberPath()
        val d = dimNamed(p.head)
        sets :+= Members(d.name, Seq(p.tail.map(pathValue)))
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

    /** Lookahead: is the first argument of Fn( ... a SET (vs a plain SQL
      * scalar like MIN(col1, col2))? A set starts with '{', a set
      * function name, a StrToSet, or a bracketed DIMENSION name.
      */
    private def setAggArgIsSet: Boolean = peekAt(2) match {
      case Some(TPunct("{")) => true
      case Some(TIdent(f)) =>
        SetFns.contains(f.toUpperCase) || f.equalsIgnoreCase("STRTOSET") ||
          f.equalsIgnoreCase("STRTOMEMBER")
      case Some(TBracket(nm)) =>
        cube.dims.exists(_.name.equalsIgnoreCase(nm))
      case _ => false
    }

    /** Parse `Fn(set[, measureOrExpr | EXCLUDEEMPTY|INCLUDEEMPTY])`,
      * register the hidden calc, return its column name. Two sugar
      * forms beyond the plain measure (mondrian_test.rb:215-229):
      * `Aggregate({set} * {[Measures].[m]})` — the braced measure set
      * unwraps to the (set, m) form — and an EXPRESSION second
      * argument (`Aggregate(set, [Measures].[m] * 2)`), stored lowered
      * and evaluated over the restricted subcube.
      */
    private def setAggRef(fnU: String, ws: Map[String, SetExpr]): String = {
      eatPunct("(")
      val saved = allowMeasuresSet
      allowMeasuresSet = true
      val set0 = try setExpr(ws) finally allowMeasuresSet = saved
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
            measure = scalarExpr(ws)
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
    private def linRegRef(fnU: String, ws: Map[String, SetExpr]): String = {
      eatPunct("(")
      // LinRegPoint(xSlice, set, y, x): the leading x-slice lowers in
      // the OUTER context (no series rank macro)
      val pointX =
        if (fnU == "LINREGPOINT") {
          val px = scalarExpr(ws)
          eatPunct(",")
          Some(px)
        } else None
      val set = setExpr(ws)
      eatPunct(",")
      val saved = lrRankSet
      val savedX = lrXRankSet
      lrRankSet = Some(set)
      lrXRankSet = None
      val (y, x, xset) =
        try {
          val y0 = scalarExpr(ws)
          eatPunct(",")
          (y0, scalarExpr(ws), lrXRankSet)
        } finally { lrRankSet = saved; lrXRankSet = savedX }
      eatPunct(")")
      val name = s"__setagg${auxCalcs.size}"
      auxCalcs :+= CalcMember(name,
        LinRegCalc(fnU.stripPrefix("LINREG"), set, y, x, pointX, xset),
        solveOrder = -1000 + auxCalcs.size)
      name
    }

    private def scalarExpr(ws: Map[String, SetExpr],
        stopAtAs: Boolean = false,
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
      def addRef(m: String): Unit = {
        refs += ((m, pendingDiv))
        sb.append(s"@REF{${refs.size - 1}}")
        lastTokRef = refs.size - 1
        pendingDiv = false
      }
      val stopKw = Set("SELECT", "MEMBER", "SET", "FROM", "ON")
      while (!done) {
        peek match {
          case None => done = true
          case Some(TPunct(")")) if depth == 0 => done = true
          case Some(TPunct(",")) if depth == 0 => done = true
          case Some(TIdent(s)) if depth == 0 &&
              stopKw(s.toUpperCase) => done = true
          case Some(TIdent(s)) if depth == 0 && stopAtAs &&
              s.equalsIgnoreCase("AS") => done = true
          case Some(TIdent(s)) if s.equalsIgnoreCase("Measures") &&
              peekAt(1).contains(TPunct(".")) &&
              peekAt(2).exists(_.isInstanceOf[TBracket]) =>
            // unbracketed reference style: Measures.[x]
            next(); eatPunct(".")
            next() match {
              case TBracket(m) => addRef(m)
              case t2 => throw MdxException(
                s"Syntax error: bad measure ref $t2")
            }
            prevWasIdent = false
          case Some(TPunct("(")) if !prevWasIdent && atTupleStart =>
            sb.append(tupleRef())
            lastTokRef = -1; pendingDiv = false
            prevWasIdent = false
          case Some(TIdent(s)) if SetAggFns(s.toUpperCase) &&
              peekAt(1).contains(TPunct("(")) && setAggArgIsSet =>
            next()
            sb.append(setAggRef(s.toUpperCase, ws))
            lastTokRef = -1; pendingDiv = false
            prevWasIdent = false
          case Some(TIdent(s)) if LinRegFns(s.toUpperCase) &&
              peekAt(1).contains(TPunct("(")) =>
            next()
            sb.append(linRegRef(s.toUpperCase, ws))
            lastTokRef = -1; pendingDiv = false
            prevWasIdent = false
          case Some(TIdent(s)) if s.equalsIgnoreCase("Rank") &&
              lrRankSet.isDefined && peekAt(1).contains(TPunct("(")) =>
            // Rank([dim].CurrentMember, <series set>) inside a LinReg
            // y/x argument — the member's 1-based series position
            next(); eatPunct("(")
            val d = next() match {
              case TBracket(nm) => dimNamed(nm)
              case t => throw MdxException(
                s"Syntax error: Rank needs [dim].CurrentMember, got $t")
            }
            eatPunct(".")
            next() match {
              case TIdent(f) if f.equalsIgnoreCase("CurrentMember") => ()
              case t => throw MdxException(
                s"Syntax error: Rank in a LinReg series supports only " +
                  s"[${d.name}].CurrentMember, got $t")
            }
            eatPunct(",")
            val rset = setExpr(ws)
            eatPunct(")")
            if (rset == lrRankSet.get) sb.append(" __LR_RANK__ ")
            else {
              // ranking in a DIFFERENT set: member-identity semantics
              // (position when present at the same level, 0 otherwise)
              if (lrXRankSet.exists(_ != rset)) throw MdxException(
                "Rank inside a LinReg call supports at most one set " +
                  "besides the series itself")
              lrXRankSet = Some(rset)
              sb.append(" __LR_XRANK__ ")
            }
            lastTokRef = -1; pendingDiv = false
            prevWasIdent = false
          case Some(TIdent(s)) if udfByName(s).exists(u =>
              u.syntax == UdfSyntax.Function &&
                u.returns != UdfType.MemberSet) &&
              peekAt(1).contains(TPunct("(")) =>
            // function-syntax scalar UDF: expands to a SQL fragment in
            // place (stays codegen'd with the surrounding expression)
            next()
            sb.append(" " + udfSql(udfInvoke(udfByName(s).get, Nil, ws), s) +
              " ")
            lastTokRef = -1; pendingDiv = false
            prevWasIdent = false
          case Some(TPunct("{")) =>
            // a set literal in scalar position only makes sense as the
            // object of a set-typed property/method UDF:
            // {...}.firstUpperName (schema_definition_test.rb:1074-1090)
            val set = setTermBase(ws)
            udfPostfix(SetArg(set), ws) match {
              case Some(sql) => sb.append(" " + sql + " ")
              case None => throw MdxException(
                "Syntax error: set literal in scalar position requires " +
                  "a set-typed UDF property/method")
            }
            lastTokRef = -1; pendingDiv = false
            prevWasIdent = false
          case Some(TIdent(s)) if s.equalsIgnoreCase("IsEmpty") &&
              peekAt(1).contains(TPunct("(")) =>
            // IsEmpty(expr) → NULL test (IsEmptyFunDef);
            // IsEmpty(S.Current) with the Filter set alias → "every
            // measure of the current tuple is empty" macro the planner
            // expands over the cell frame's measure columns
            next(); eatPunct("(")
            val aliasCurrent = setAlias.isDefined && (peek match {
              case Some(TIdent(s2)) =>
                s2.equalsIgnoreCase(setAlias.get) &&
                  peekAt(1).contains(TPunct(".")) &&
                  peekAt(2).exists(isKw(_, "Current"))
              case _ => false
            })
            if (aliasCurrent) {
              next(); eatPunct("."); next()
              sb.append(" __CURRENT_EMPTY__ ")
            } else {
              val inner = scalarExpr(ws, setAlias = setAlias)
              sb.append(s" (($inner) IS NULL) ")
            }
            eatPunct(")")
            lastTokRef = -1; pendingDiv = false; prevWasIdent = false
          case Some(TIdent(s)) if setAlias.exists(_.equalsIgnoreCase(s)) &&
              peekAt(1).contains(TPunct(".")) &&
              peekAt(2).exists(isKw(_, "CurrentOrdinal")) =>
            // S.CurrentOrdinal — 0-based position of the current tuple
            // in the aliased set (NamedSetCurrentOrdinalFunDef)
            next(); eatPunct("."); next()
            sb.append(" __CURRENT_ORDINAL__ ")
            lastTokRef = -1; pendingDiv = false; prevWasIdent = false
          case Some(TIdent(s)) if s.equalsIgnoreCase("IsDirty") &&
              peekAt(1).contains(TPunct("(")) =>
            // IsDirty() — "may this cell be stale mid-cache-flush?"
            // (jar IsDirtyFunDef; mondrian_test.rb:242-246 expects
            // false). This engine evaluates every query against source
            // data under Spark's immutable-plan execution — a cell is
            // never served from a half-invalidated cache — so the
            // truthful constant is false.
            next(); eatPunct("("); eatPunct(")")
            sb.append(" false ")
            lastTokRef = -1; pendingDiv = false; prevWasIdent = false
          case Some(TIdent(s)) if s.equalsIgnoreCase("Parameter") &&
              peekAt(1).contains(TPunct("(")) =>
            next()
            sb.append(parameterValue() match {
              case str: String => s"'${str.replace("'", "''")}'"
              case other => other.toString
            })
            lastTokRef = -1; pendingDiv = false
          case Some(TIdent(s)) if s.equalsIgnoreCase("CAST") &&
              peekAt(1).contains(TPunct("(")) =>
            // MDX Cast(expr AS Type) (CastFunDef, mondrian_test.rb
            // Cast tests): MDX type names → Spark SQL types
            next(); eatPunct("(")
            val inner = scalarExpr(ws, stopAtAs = true)
            eatKw("AS")
            val tname = next() match {
              case TIdent(t) => t
              case TBracket(t) => t
              case t => throw MdxException(
                s"Syntax error: bad Cast type $t")
            }
            val sparkType = tname.toUpperCase match {
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
            sb.append(s" CAST($inner AS $sparkType) ")
            lastTokRef = -1; pendingDiv = false; prevWasIdent = false
          case Some(TIdent(s)) if s.equalsIgnoreCase("FORMAT") &&
              peekAt(1).contains(TPunct("(")) =>
            // MDX Format(expr, 'vb-format') — lowered through the VB
            // format engine's Column surface, spliced back as SQL so it
            // stays inside the surrounding codegen'd expression
            next(); eatPunct("(")
            val inner = scalarExpr(ws)
            eatPunct(",")
            val fmt = next() match {
              case TStr(f) => f
              case t => throw MdxException(
                s"Syntax error: Format needs a format string, got $t")
            }
            eatPunct(")")
            sb.append(" " + graft.functions.FormatString.sqlFor(inner, fmt)
              + " ")
            lastTokRef = -1; pendingDiv = false; prevWasIdent = false
          case Some(TIdent(s)) if s.equalsIgnoreCase("SETTOSTR") &&
              peekAt(1).contains(TPunct("(")) =>
            // SetToStr(set) — constant-folded at parse time to the MDX
            // rendering of the set (SetToStrFunDef)
            next(); eatPunct("(")
            val set = setExpr(ws)
            eatPunct(")")
            sb.append(s" '${render(set).replace("'", "''")}' ")
            lastTokRef = -1; pendingDiv = false; prevWasIdent = false
          case Some(TIdent(s)) if s.equalsIgnoreCase("TUPLETOSTR") &&
              peekAt(1).contains(TPunct("(")) =>
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
            sb.append(s" '${rendered.replace("'", "''")}' ")
            lastTokRef = -1; pendingDiv = false; prevWasIdent = false
          case Some(t) =>
            next()
            prevWasIdent = t.isInstanceOf[TIdent]
            t match {
              case TBracket(s) =>
                // [Measures].[x] or bare [x] measure reference; or
                // [dim].CurrentMember[.Name|.Caption] inside a Filter/
                // Order condition (reference query_test.rb:295-297) —
                // emitted as a macro the planner resolves to the set's
                // deepest level column for that dimension.
                if (s.equalsIgnoreCase("Measures")) {
                  eatPunct(".")
                  next() match {
                    case TBracket(m) => addRef(m)
                    case t2 => throw MdxException(
                      s"Syntax error: bad measure ref $t2")
                  }
                } else if (cube.dims.exists(_.name.equalsIgnoreCase(s)) &&
                    atPunct(".") && peekAt(1).exists(
                      isKw(_, "CurrentMember"))) {
                  val d = cube.dims.find(_.name.equalsIgnoreCase(s)).get
                  eatPunct("."); next() // CurrentMember
                  if (atPunct(".") && peekAt(1).exists(t2 =>
                      isKw(t2, "Name") || isKw(t2, "Caption"))) {
                    eatPunct("."); next()
                    sb.append(s" __CURRENT_NAME_${d.name}__ ")
                  } else if (atPunct(".") &&
                      peekAt(1).exists(isKw(_, "Properties"))) {
                    // .Properties('P') — member property of the current
                    // member (PropertiesFunDef; cube.rb:470-480): the
                    // planner joins the dimension's property column in
                    eatPunct("."); next(); eatPunct("(")
                    val prop = next() match {
                      case TStr(p) => p
                      case t => throw MdxException(
                        s"Syntax error: Properties needs a name, got $t")
                    }
                    eatPunct(")")
                    sb.append(s" __CURRENT_PROP_${d.name}__${prop}__ ")
                  } else {
                    // .UpperName property / .toUpperName('x') method UDF
                    // on the current member; bare CurrentMember otherwise
                    val obj = MemberArg(d, s"__CURRENT_NAME_${d.name}__",
                      None)
                    sb.append(udfPostfix(obj, ws) match {
                      case Some(sql) => s" $sql "
                      case None => s" __CURRENT_NAME_${d.name}__ "
                    })
                  }
                  lastTokRef = -1; pendingDiv = false
                } else if (cube.dims.exists(_.name.equalsIgnoreCase(s)) &&
                    !isMeasureName(s)) {
                  // [dim](.[seg])*.udf — hierarchy / level / member
                  // object of a property/method UDF, dispatched by the
                  // UDF's declared first parameter type
                  val d = cube.dims.find(_.name.equalsIgnoreCase(s)).get
                  var segs = Seq.empty[String]
                  while (atPunct(".") &&
                      peekAt(1).exists(_.isInstanceOf[TBracket])) {
                    eatPunct(".")
                    next() match {
                      case TBracket(x) => segs :+= x
                      case _ => ()
                    }
                  }
                  val udfName = if (atPunct(".")) peekAt(1).collect {
                    case TIdent(f) if udfByName(f).exists(u =>
                      u.syntax != UdfSyntax.Function) => f
                  } else None
                  udfName match {
                    case Some(f) =>
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
                          MemberArg(d,
                            UdfResult.lit(segs.last).sql,
                            Some(segs.map(pathValue)))
                      }
                      sb.append(" " + udfSql(udfInvoke(u, Seq(obj), ws), f)
                        + " ")
                      lastTokRef = -1; pendingDiv = false
                    case None => throw MdxException(
                      s"Syntax error: dimension reference [${d.name}] " +
                        "in scalar position")
                  }
                } else addRef(s)
              case other =>
                val wasDiv = other == TPunct("/")
                if (wasDiv && lastTokRef >= 0)
                  refs(lastTokRef) = (refs(lastTokRef)._1, true)
                other match {
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
                        else MdxToSparkFn.getOrElse(s.toUpperCase, s)
                      } else s
                    sb.append(s" $mapped ")
                  case TNum(s) => sb.append(s)
                  case TStr(s) => sb.append(s"'$s'")
                  case TPunct(p) => sb.append(s" $p ")
                  case TBracket(_) => () // unreachable: handled above
                }
                pendingDiv = wasDiv
                lastTokRef = -1
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
        // ratios in double (same policy as the builder's calc members)
        val col = if (cast) s"CAST($m AS DOUBLE)" else m
        out = out.replace(s"@REF{$i}", col)
      }
      canonSpaces(out)
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

    private def slicerItems(ws: Map[String, SetExpr]): Seq[SlicerItem] = {
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
      def startsSetFn: Boolean = peek match {
        case Some(TIdent(f)) =>
          SetFns.contains(f.toUpperCase) || ws.contains(f) ||
            f.equalsIgnoreCase("STRTOSET") ||
            f.equalsIgnoreCase("STRTOMEMBER")
        case _ => false
      }
      def one(): Seq[Either[(String, Seq[Any]), SlicerItem]] =
        if (startsSetFn || atPunct("{")) {
          // braced set in slicer position (e.g. a rendered member
          // range inside a WHERE tuple) takes the general set parser
          val s = setExpr(ws)
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
      val items: Seq[Either[(String, Seq[Any]), SlicerItem]] =
        if (atPunct("(")) {
          eatPunct("(")
          var acc = one()
          while (atPunct(",")) { eatPunct(","); acc ++= one() }
          eatPunct(")")
          acc
        } else if (atPunct("{")) {
          eatPunct("{")
          var acc = one()
          while (atPunct(",")) { eatPunct(","); acc ++= one() }
          eatPunct("}")
          acc
        } else one()
      // same-dim members form a compound (set) slicer; distinct dims a
      // tuple (query.rb:379-386)
      items.collect { case Left(p) => p }.groupBy(_._1).toSeq.map {
        case (dim, Seq((_, path))) => MemberSlice(dim, path)
        case (dim, many) => SetSlice(dim, many.map(_._2))
      } ++ items.collect { case Right(s) => s }
    }
  }
}
