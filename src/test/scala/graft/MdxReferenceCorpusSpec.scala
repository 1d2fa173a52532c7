package graft

import graft.olap._

/** Parse → render → reparse FIXPOINT over the reference's OWN MDX test
  * corpus: every MDX heredoc in the reference's `test/query_test.rb`
  * (the to_mdx golden strings, query_test.rb:394-760) and the
  * full-statement / formula literals in `test/mondrian_test.rb`,
  * verbatim. MdxRoundtripSpec checks the repo's own renderings; this
  * spec closes the loop from the REFERENCE side — its strings exercise
  * whitespace/casing/sugar our renderer never emits
  * (NONEMPTYCROSSJOIN, `Measures.` without brackets, WHERE sets,
  * level-qualified members).
  *
  * The fixture cube mirrors the FoodMart shape those literals assume
  * (Customers Country/State/City/Name, Product, Time, Gender,
  * Linked Promotions, Unit/Store Sales + Store Cost) over tiny
  * in-memory frames — parsing resolves names against cube METADATA,
  * not data.
  *
  * Contract: zero silent failures. Every corpus entry must either
  * reach IR fixpoint (parse(render(parse(q))) == parse(q)) or appear
  * in `expectedUnsupported` with the reason its construct is out of
  * scope — an entry failing OUTSIDE that list, or an entry ON the
  * list that starts parsing, fails the suite.
  */
class MdxReferenceCorpusSpec extends SparkSpec {

  private lazy val cube: BoundCube = {
    import spark.implicits._
    // Diego is FACTLESS: the third country gives the LinReg series
    // tests the reference's 3-point rank arithmetic (Canada, Mexico,
    // USA — ranks 1..3, same as FoodMart) without touching any pinned
    // golden (no fact row references him)
    val customers = Seq(
      ("USA", "CA", "Los Angeles", "Alice"),
      ("USA", "WA", "Seattle", "Bob"),
      ("Canada", "BC", "Vancouver", "Carol"),
      ("Mexico", "DF", "Mexico City", "Diego"))
      .toDF("country", "state", "city", "cname")
    val product = Seq(("Drink", "Good Wine"), ("Food", "Fresh Bread"))
      .toDF("family", "pname")
    val time = Seq(("2010", "Q1"), ("2010", "Q2"), ("2011", "Q1"),
      ("2011", "Q2")).toDF("year", "quarter")
    val gender = Seq(Tuple1("F"), Tuple1("M")).toDF("gender")
    val promos = Seq(Tuple1("Promotion 1"), Tuple1("Promotion 2"))
      .toDF("promotion")
    val fact = Seq(
      ("Alice", "Good Wine", "Q1", "F", "Promotion 2", 3L, 9.5, 4.0),
      ("Bob", "Fresh Bread", "Q2", "M", "Promotion 1", 2L, 4.0, 1.5))
      .toDF("cust_fk", "prod_fk", "time_fk", "gender_fk", "promo_fk",
        "unit_sales", "store_sales", "store_cost")
    BoundCube("Sales", fact,
      dims = Seq(
        BoundDim("Customers", foreignKey = "cust_fk",
          primaryKey = "cname",
          levels = Seq(
            BoundLevel("Country", "country"),
            BoundLevel("State", "state"),
            BoundLevel("City", "city"),
            BoundLevel("Name", "cname")),
          df = customers),
        BoundDim("Product", foreignKey = "prod_fk", primaryKey = "pname",
          levels = Seq(
            BoundLevel("Product Family", "family"),
            BoundLevel("Product Name", "pname")),
          df = product),
        BoundDim("Time", foreignKey = "time_fk", primaryKey = "quarter",
          levels = Seq(
            BoundLevel("Year", "year"),
            BoundLevel("Quarter", "quarter")),
          df = time, isTime = true),
        BoundDim("Gender", foreignKey = "gender_fk",
          primaryKey = "gender",
          levels = Seq(BoundLevel("Gender", "gender")), df = gender),
        BoundDim("Linked Promotions", foreignKey = "promo_fk",
          primaryKey = "promotion",
          levels = Seq(BoundLevel("Promotion", "promotion")),
          df = promos)),
      measures = Seq(
        Measure("Unit Sales", Agg.Sum, "unit_sales"),
        Measure("Store Sales", Agg.Sum, "store_sales"),
        Measure("Store Cost", Agg.Sum, "store_cost")),
      // the with_calc_members heredoc names this formatter verbatim
      // (the reference registers it as a schema UDF; here a currency
      // rendering suffices for CELL_FORMATTER resolution + execution)
      funcs = SchemaFunctions.empty.withCellFormatter(
        "rubyobj.Mondrian.OLAP.Schema.CellFormatter.CurrencyFormatterUdf") {
        v => f"$$${v.asInstanceOf[Number].doubleValue()}%,.2f"
      })
  }

  /** (id, reference anchor, verbatim MDX). Ruby interpolations
    * (`#{extreme.upcase}`) are expanded to both runtime values, as the
    * reference's `%w(top bottom).each` loop does.
    */
  private def corpus: Seq[(String, String, String)] = {
    val ms = "{[Measures].[Unit Sales], [Measures].[Store Sales]}"
    def q(body: String) = s"SELECT  $ms ON COLUMNS,\n$body"
    val fixed = Seq(
      "set_braces" -> q("""        {[Product].children} ON ROWS
        |  FROM  [Sales]
        |  WHERE ([Time].[2010].[Q1], [Customers].[USA].[CA])"""),
      "bare_children" -> q("""        [Product].children ON ROWS
        |  FROM  [Sales]
        |  WHERE ([Time].[2010].[Q1], [Customers].[USA].[CA])"""),
      "crossjoin" -> q("""        CROSSJOIN([Product].children, {[Customers].[Canada], [Customers].[USA]}) ON ROWS
        |  FROM  [Sales]
        |  WHERE ([Time].[2010].[Q1])"""),
      "nested_crossjoin" -> q("""        CROSSJOIN(CROSSJOIN([Product].children, {[Customers].[Canada], [Customers].[USA]}),
        |                  {[Time].[2010].[Q1], [Time].[2010].[Q2]}) ON ROWS
        |  FROM  [Sales]"""),
      "nonempty_crossjoin" -> q("""        NON EMPTY CROSSJOIN([Product].children, {[Customers].[Canada], [Customers].[USA]}) ON ROWS
        |  FROM  [Sales]
        |  WHERE ([Time].[2010].[Q1])"""),
      "nonemptycrossjoin_fn" -> q("""        NONEMPTYCROSSJOIN([Product].children, {[Customers].[Canada], [Customers].[USA]}) ON ROWS
        |  FROM  [Sales]
        |  WHERE ([Time].[2010].[Q1])"""),
      "where_set" -> q("""        [Product].children ON ROWS
        |  FROM  [Sales]
        |  WHERE {[Customers].[Canada], [Customers].[USA]}"""),
      "where_funcs" -> q("""        [Product].children ON ROWS
        |  FROM  [Sales]
        |  WHERE (Head([Customers].Members).Item(0), Head([Gender].Members).Item(0))"""),
      "where_crossjoin" -> q("""        [Product].children ON ROWS
        |  FROM  [Sales]
        |  WHERE CROSSJOIN({[Customers].[USA]}, {[Time].[2011].[Q1], [Time].[2011].[Q2]})"""),
      "where_necj" -> q("""        [Product].children ON ROWS
        |  FROM  [Sales]
        |  WHERE NONEMPTYCROSSJOIN({[Customers].[USA]}, {[Time].[2011].[Q1], [Time].[2011].[Q2]})"""),
      "order_bdesc" -> q("""        ORDER([Product].children, [Measures].[Unit Sales], BDESC) ON ROWS
        |  FROM  [Sales]"""),
      "order_tuple" -> q("""        ORDER([Product].children, ([Measures].[Unit Sales], [Customers].[USA]), ASC) ON ROWS
        |  FROM  [Sales]"""),
      "hierarchize" -> q("""        HIERARCHIZE({[Customers].[Country].Members, [Customers].[City].Members}) ON ROWS
        |  FROM  [Sales]"""),
      "hierarchize_post" -> q("""        HIERARCHIZE({[Customers].[Country].Members, [Customers].[City].Members}, POST) ON ROWS
        |  FROM  [Sales]"""),
      "except" -> q("""        EXCEPT([Customers].[Country].Members, {[Customers].[USA]}) ON ROWS
        |  FROM  [Sales]"""),
      "filter_measure" -> q("""        FILTER([Customers].[Country].Members, [Measures].[Unit Sales] > 1000) ON ROWS
        |  FROM  [Sales]"""),
      "filter_as_alias" -> q("""        FILTER([Customers].[Country].Members AS S, NOT ISEMPTY(S.CURRENT)) ON ROWS
        |  FROM  [Sales]"""),
      "generate" -> q("""        GENERATE([Customers].[Country].Members, [Customers].CurrentMember) ON ROWS
        |  FROM  [Sales]"""),
      "generate_all" -> q("""        GENERATE([Customers].[Country].Members, [Customers].CurrentMember, ALL) ON ROWS
        |  FROM  [Sales]"""),
      // VERBATIM reference heredoc (query_test.rb:679-692) including
      // the $caption member property and the rubyobj cell-formatter
      // name (registered on the fixture cube)
      "with_calc_members" ->
        """WITH
        |   MEMBER [Measures].[ProfitPct] AS
        |   'Val((Measures.[Store Sales] - Measures.[Store Cost]) / Measures.[Store Sales])',
        |   SOLVE_ORDER = 1, FORMAT_STRING = 'Percent', $caption = 'Profit %'
        |   MEMBER [Measures].[ProfitValue] AS
        |   '[Measures].[Store Sales] * [Measures].[ProfitPct]',
        |   SOLVE_ORDER = 2, CELL_FORMATTER = 'rubyobj.Mondrian.OLAP.Schema.CellFormatter.CurrencyFormatterUdf'
        |SELECT  {[Measures].[Unit Sales], [Measures].[Store Sales]} ON COLUMNS,
        |        [Product].children ON ROWS
        |  FROM  [Sales]
        |  WHERE ([Time].[2010].[Q1], [Customers].[USA].[CA])""",
      "with_sets" ->
        """WITH
        |   SET CrossJoinSet AS 'CROSSJOIN([Product].children, {[Customers].[Canada], [Customers].[USA]})'
        |   SET MemberSet AS '{[Product].[All Products]}'
        |   SET FunctionSet AS '[Product].AllMembers'
        |   SET ItemSet AS '{[Product].AllMembers.Item(0)}'
        |   SET DefaultMemberSet AS '{[Product].DefaultMember}'
        |   MEMBER [Measures].[Profit] AS
        |   '[Measures].[Store Sales] - [Measures].[Store Cost]'
        |SELECT  {[Measures].[Profit]} ON COLUMNS,
        |        CrossJoinSet ON ROWS
        |  FROM  [Sales]""",
      "nonempty_filter_level" ->
        """SELECT
        |  NON EMPTY FILTER(
        |    CROSSJOIN({[Linked Promotions].[Promotion].[Promotion 2]}, [Customers].[Name].Members),
        |    (([Measures].[Unit Sales]) <> 0)
        |  ) ON ROWS,
        |  [Measures].[Unit Sales] ON COLUMNS
        |FROM [Sales]""")
    val extremes = Seq("TOP", "BOTTOM").flatMap { e =>
      Seq(
        s"${e.toLowerCase}count_measure" ->
          q(s"""        ${e}COUNT([Product].children, 5, [Measures].[Unit Sales]) ON ROWS
          |  FROM  [Sales]"""),
        s"${e.toLowerCase}count_bare" ->
          q(s"""        ${e}COUNT([Product].children, 5) ON ROWS
          |  FROM  [Sales]"""),
        s"${e.toLowerCase}count_tuple" ->
          q(s"""        ${e}COUNT([Product].children, 5, ([Measures].[Unit Sales], [Customers].[USA])) ON ROWS
          |  FROM  [Sales]"""),
        s"${e.toLowerCase}percent" ->
          q(s"""        ${e}PERCENT([Product].children, 20, [Measures].[Unit Sales]) ON ROWS
          |  FROM  [Sales]"""),
        s"${e.toLowerCase}sum" ->
          q(s"""        ${e}SUM([Product].children, 1000, [Measures].[Unit Sales]) ON ROWS
          |  FROM  [Sales]"""))
    }
    // mondrian_test.rb formula literals (LinRegR2/LinRegVariance with
    // Rank and CASE WHEN), wrapped exactly as the reference runs them:
    // as a WITH MEMBER formula queried on columns
    val formulas = Seq(
      "linregr2_case" ->
        """LinRegR2(
        |  [Customers].[Country].Members,
        |  Rank([Customers].CurrentMember, [Customers].[Country].Members),
        |  CASE Rank([Customers].CurrentMember, [Customers].[Country].Members)
        |    WHEN 1 THEN 10
        |    WHEN 2 THEN 30
        |    WHEN 3 THEN 10
        |  END
        |)""",
      "linregr2_round" ->
        """Round(
        |  LinRegR2(
        |    [Customers].[Country].Members,
        |    Rank([Customers].CurrentMember, [Customers].[Country].Members),
        |    Rank([Customers].CurrentMember, [Customers].[Country].Members) * 10
        |  ),
        |  2
        |)""",
      "linregr2_null" ->
        """LinRegR2(
        |  [Customers].[Country].Members,
        |  NULL,
        |  Rank([Customers].CurrentMember, [Customers].[Country].Members)
        |)""",
      "linregvar_case" ->
        """LinRegVariance(
        |  [Customers].[Country].Members,
        |  CASE Rank([Customers].CurrentMember, [Customers].[Country].Members)
        |    WHEN 1 THEN 10
        |    WHEN 2 THEN 30
        |    WHEN 3 THEN 25
        |  END,
        |  Rank([Customers].CurrentMember, [Customers].[Country].Members)
        |)""",
      "linregvar_rank" ->
        """LinRegVariance(
        |  [Customers].[Country].Members,
        |  Rank([Customers].CurrentMember, [Customers].[Country].Members) * 10,
        |  Rank([Customers].CurrentMember, [Customers].[Country].Members)
        |)""",
      "linregvar_flat" ->
        """LinRegVariance(
        |  [Customers].[Country].Members,
        |  CASE Rank([Customers].CurrentMember, [Customers].[Country].Members)
        |    WHEN 1 THEN 10
        |    WHEN 2 THEN 30
        |    WHEN 3 THEN 10
        |  END,
        |  Rank([Customers].CurrentMember, [Customers].[Country].Members)
        |)""",
      "linregvar_nullset" ->
        """LinRegVariance(
        |  [Customers].[All Customers],
        |  NULL,
        |  Rank([Customers].CurrentMember, [Customers].[Country].Members)
        |)""",
      "instr_null" ->
        """Instr(Trim(NULL), "Done")""").map { case (id, f) =>
      id -> s"""WITH MEMBER [Measures].[Formula] AS '${f.stripMargin}'
        |SELECT {[Measures].[Formula]} ON COLUMNS FROM [Sales]"""
    }
    (fixed ++ extremes ++ formulas).map { case (id, s) =>
      (id, "query_test.rb/mondrian_test.rb", s.stripMargin)
    }
  }

  /** Constructs the repo documents as out of scope, with the reason.
    * An entry here that PARSES fails the suite (the list must shrink
    * as coverage grows, never silently mask a regression).
    */
  /** EMPTY since r11: every corpus entry — including the full LinReg
    * formula family with cross-set Rank (member-identity semantics:
    * position when present at the same level, 0 otherwise) — reaches
    * IR fixpoint, executes, and pins the reference's golden values.
    */
  private val expectedUnsupported: Map[String, String] = Map.empty

  test("reference MDX corpus: parse -> toMdx -> reparse is an IR " +
      "fixpoint; unsupported constructs are enumerated, not silent") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    corpus.foreach { case (id, _, mdx) =>
      val attempt = scala.util.Try(Mdx.parse(mdx, cube))
      (attempt, expectedUnsupported.get(id)) match {
        case (scala.util.Success(ir1), None) =>
          val rendered = Mdx.renderQuery(ir1, cube.name)
          scala.util.Try(Mdx.parse(rendered, cube)) match {
            case scala.util.Success(ir2) =>
              if (ir2 != ir1)
                failures += s"$id: IR fixpoint broken\n--- first:\n" +
                  s"$ir1\n--- rendered:\n$rendered\n--- reparsed:\n$ir2"
            case scala.util.Failure(e) =>
              failures += s"$id: rendered MDX failed to reparse: " +
                s"${e.getMessage}\n--- rendered:\n$rendered"
          }
        case (scala.util.Failure(e), None) =>
          failures += s"$id: parse failed (not in the documented " +
            s"out-of-scope list): ${e.getMessage}"
        case (scala.util.Success(_), Some(reason)) =>
          failures += s"$id: parses now but is still listed as " +
            s"unsupported ('$reason') — remove it from the list"
        case (scala.util.Failure(_), Some(_)) => () // documented cut
      }
    }
    assert(failures.isEmpty, failures.mkString("\n\n"))
  }

  test("reference corpus golden cells: hand-derived values from the " +
      "two-row fixture fact") {
    def byFamily(id: String): Map[String, (Any, Any)] = {
      val mdx = corpus.find(_._1 == id).get._3
      Mdx.execute(mdx, cube).collect().map(r =>
        r.getAs[String]("family") ->
          ((r.getAs[Any]("Unit Sales"), r.getAs[Any]("Store Sales"))))
        .toMap
    }
    // WHERE (2010.Q1, USA.CA) = Alice's row only: Drink 3 / 9.5
    val sliced = byFamily("set_braces")
    assert(sliced("Drink") === ((3L, 9.5)))
    assert(sliced.get("Food").forall {
      case (u, s) => u == null && s == null })
    // WHERE {Canada, USA} = the compound slicer covers BOTH facts
    val both = byFamily("where_set")
    assert(both("Drink") === ((3L, 9.5)))
    assert(both("Food") === ((2L, 4.0)))
    // the solve-order calc chain: ProfitPct = (9.5-4)/9.5 on the
    // sliced (Q1/CA) cell, ProfitValue = Store Sales * ProfitPct
    val calc = Mdx.execute(
      """WITH
        |   MEMBER [Measures].[ProfitPct] AS
        |   'Val((Measures.[Store Sales] - Measures.[Store Cost]) / Measures.[Store Sales])',
        |   SOLVE_ORDER = 1
        |   MEMBER [Measures].[ProfitValue] AS
        |   '[Measures].[Store Sales] * [Measures].[ProfitPct]',
        |   SOLVE_ORDER = 2
        |SELECT  {[Measures].[Store Sales], [Measures].[ProfitPct],
        |         [Measures].[ProfitValue]} ON COLUMNS,
        |        {[Product].[Drink]} ON ROWS
        |  FROM  [Sales]
        |  WHERE ([Time].[2010].[Q1], [Customers].[USA].[CA])"""
        .stripMargin, cube).collect().head
    val pct = calc.getAs[Double]("ProfitPct")
    assert(math.abs(pct - (9.5 - 4.0) / 9.5) < 1e-12)
    assert(math.abs(calc.getAs[Double]("ProfitValue") - 9.5 * pct)
      < 1e-12)
  }

  test("LinReg series formulas: the reference's golden values " +
      "(mondrian_test.rb:608-766) hold on the 3-country fixture") {
    def cell(id: String): Double = {
      val mdx = corpus.find(_._1 == id).get._3
      Mdx.execute(mdx, cube).collect().head.getAs[Double]("Formula")
    }
    // flat series (y 1..3 vs x 10,30,10): zero covariance → R2 = 0
    // (the reference's "no linear correlation" golden)
    assert(cell("linregr2_case") === 0.0)
    // perfect linear series (rank vs rank*10), rounded: R2 = 1.0
    assert(cell("linregr2_round") === 1.0)
    // NULL y series: no points → NaN (the reference asserts .nan?)
    assert(cell("linregr2_null").isNaN)
    // moderate fit (y 10,30,25 on x 1..3): residual sum of squares =
    // 625/6 — the reference's 104.17 golden before its Round (its
    // comment's "+5" intercept is a typo; the true OLS intercept is
    // 20/3 and ITS residual sum matches the golden)
    assert(math.abs(cell("linregvar_case") - 625.0 / 6.0) < 1e-9)
    // perfect linear series: zero residuals
    assert(cell("linregvar_rank") === 0.0)
    // flat series (y 10,30,10): residual sum 800/3 — the reference's
    // 266.67 golden before its Round
    assert(math.abs(cell("linregvar_flat") - 800.0 / 3.0) < 1e-9)
    // Instr over a NULL argument returns empty, not 0
    // (mondrian_test.rb:781-788)
    val instr = corpus.find(_._1 == "instr_null").get._3
    assert(Mdx.execute(instr, cube).collect().head.getAs[Any]("Formula")
      === null)
    // IsDirty() is false: cells are never served from a
    // half-invalidated cache (mondrian_test.rb:242-246)
    assert(Mdx.execute(
      """WITH MEMBER [Measures].[is dirty] AS 'IsDirty()'
        |SELECT {[Measures].[is dirty]} ON COLUMNS FROM [Sales]"""
        .stripMargin, cube).collect().head.getAs[Boolean]("is dirty")
      === false)
    // the statistics the corpus doesn't pin, from the same arithmetic:
    // y = rank*10, x = rank → slope 10, intercept 0, R2 1
    def stat(fn: String, y: String, x: String): Double =
      Mdx.execute(
        s"""WITH MEMBER [Measures].[S] AS '$fn(
           |  [Customers].[Country].Members, $y, $x)'
           |SELECT {[Measures].[S]} ON COLUMNS FROM [Sales]"""
          .stripMargin, cube).collect().head.getAs[Double]("S")
    val rank = "Rank([Customers].CurrentMember, " +
      "[Customers].[Country].Members)"
    assert(math.abs(stat("LinRegSlope", s"$rank * 10", rank) - 10.0)
      < 1e-9)
    assert(math.abs(stat("LinRegIntercept", s"$rank * 10", rank)) < 1e-9)
    assert(stat("LinRegR2", rank, s"$rank * 10") === 1.0)
    // the reference's moderate-correlation R2 golden (≈0.52 after its
    // Round; mondrian_test.rb:630-653): exact value 2025/3900
    val caseX =
      s"CASE $rank WHEN 1 THEN 10 WHEN 2 THEN 30 WHEN 3 THEN 25 END"
    assert(math.abs(stat("LinRegR2", rank, caseX) - 2025.0 / 3900.0)
      < 1e-9)
    // measure-valued series exercise the cell join, including the
    // FACTLESS member (Mexico contributes a point with y = 0):
    // y = coalesce(Unit Sales, 0) = (0, 0, 5) over x = rank (1, 2, 3)
    // → slope 2.5, R2 = 15² / (6 · 50) = 0.75
    val my = s"CoalesceEmpty([Measures].[Unit Sales] * 1.0, 0.0)"
    assert(math.abs(stat("LinRegSlope", my, rank) - 2.5) < 1e-9)
    assert(math.abs(stat("LinRegR2", my, rank) - 0.75) < 1e-9)
    // NULL-series NaN holds for Variance too (the reference's fourth
    // variance test, mondrian_test.rb:765-778, asserts .nan?)
    assert(stat("LinRegVariance", "NULL", rank).isNaN)
    // the corpus form of that test: an All-member series (no such
    // member in this model → empty series) ranked against the COUNTRY
    // members — cross-set Rank is legal, the empty series gives NaN
    assert(cell("linregvar_nullset").isNaN)
    // cross-set Rank with a REAL series: ranking State members in the
    // Country set is a different level → every position is 0, so a
    // regression of y = xrank on x = rank has zero y-variance → slope 0
    assert(Mdx.execute(
      s"""WITH MEMBER [Measures].[S] AS 'LinRegSlope(
         |  [Customers].[State].Members,
         |  Rank([Customers].CurrentMember, [Customers].[Country].Members) * 1.0,
         |  Rank([Customers].CurrentMember, [Customers].[State].Members))'
         |SELECT {[Measures].[S]} ON COLUMNS FROM [Sales]"""
        .stripMargin, cube).collect().head.getAs[Double]("S") === 0.0)
    // LinRegPoint(xSlice, set, y, x): the fitted line y = 10x
    // evaluated at x = 5 → 50; the x-slice lowers in the OUTER
    // context, so it may be a measure expression (Unit Sales = 5 on
    // the unsliced cube → same prediction)
    def point(px: String): Double =
      Mdx.execute(
        s"""WITH MEMBER [Measures].[P] AS 'LinRegPoint($px,
           |  [Customers].[Country].Members, $rank * 10, $rank)'
           |SELECT {[Measures].[P]} ON COLUMNS FROM [Sales]"""
          .stripMargin, cube).collect().head.getAs[Double]("P")
    assert(math.abs(point("5") - 50.0) < 1e-9)
    assert(math.abs(point("[Measures].[Unit Sales] * 1.0") - 50.0)
      < 1e-9)
    // Point renders and reparses to the same IR (not a corpus entry,
    // so the fixpoint test doesn't cover it)
    val pq = Mdx.parse(
      s"""WITH MEMBER [Measures].[P] AS 'LinRegPoint(5,
         |  [Customers].[Country].Members, $rank * 10, $rank)'
         |SELECT {[Measures].[P]} ON COLUMNS FROM [Sales]"""
        .stripMargin, cube)
    assert(Mdx.parse(Mdx.renderQuery(pq, cube.name), cube) === pq)
  }

  test("dimension-hosted Aggregate calc members: stored, cross-dim, " +
      "and nested (mondrian_test.rb:197-246 on the fixture fact)") {
    // fixture facts: Alice USA/CA 3 units, Bob USA/WA 2 units
    def one(mdx: String): Long =
      Mdx.execute(mdx, cube).collect().head.getAs[Long]("Unit Sales")
    // "should aggregate stored members": CA + WA = 5
    val plain =
      """WITH MEMBER [Customers].[CA and WA] AS
        |  'Aggregate({[Customers].[USA].[CA], [Customers].[USA].[WA]})'
        |SELECT {[Measures].[Unit Sales]} ON COLUMNS,
        |  {[Customers].[CA and WA]} ON ROWS
        |FROM [Sales]""".stripMargin
    assert(one(plain) === 5L)
    // the synthetic member labels the hierarchy's root level
    val row = Mdx.execute(plain, cube).collect().head
    assert(row.getAs[String]("country") === "CA and WA")
    // "from several dimensions": {Gender.F} × states pins gender too
    assert(one(
      """WITH MEMBER [Customers].[CA and WA] AS
        |  'Aggregate(CROSSJOIN({[Gender].[F]},
        |     {[Customers].[USA].[CA], [Customers].[USA].[WA]}))'
        |SELECT {[Measures].[Unit Sales]} ON COLUMNS,
        |  {[Customers].[CA and WA]} ON ROWS
        |FROM [Sales]""".stripMargin) === 3L)
    // "aggregate calculated aggregate members": nested refs resolve
    // to the union of their sets
    assert(one(
      """WITH MEMBER [Customers].[CA calculated] AS
        |  'Aggregate({[Customers].[USA].[CA]})'
        |MEMBER [Customers].[WA calculated] AS
        |  'Aggregate({[Customers].[USA].[WA]})'
        |MEMBER [Customers].[CA and WA] AS
        |  'Aggregate({[Customers].[CA calculated],
        |              [Customers].[WA calculated]})'
        |SELECT {[Measures].[Unit Sales]} ON COLUMNS,
        |  {[Customers].[CA and WA]} ON ROWS
        |FROM [Sales]""".stripMargin) === 5L)
    // "stored members and a measure" (mondrian_test.rb:215-222): the
    // braced measure set unwraps to the (set, measure) form — a
    // MEASURES-hosted member this time
    val viaMs = Mdx.execute(
      """WITH MEMBER [Measures].[CA and WA] AS
        |  'Aggregate({[Customers].[USA].[CA], [Customers].[USA].[WA]}
        |     * {[Measures].[Unit Sales]})'
        |SELECT {[Measures].[CA and WA]} ON COLUMNS
        |FROM [Sales]""".stripMargin, cube).collect().head
    assert(viaMs.getAs[Long]("CA and WA") === 5L)
    // "stored members with expression" (mondrian_test.rb:224-229):
    // the second argument may be an expression over the subcube
    val twice = Mdx.execute(
      """WITH MEMBER [Measures].[CA and WA twice] AS
        |  'Aggregate({[Customers].[USA].[CA], [Customers].[USA].[WA]},
        |     [Measures].[Unit Sales] * 2)'
        |SELECT {[Measures].[CA and WA twice]} ON COLUMNS
        |FROM [Sales]""".stripMargin, cube).collect().head
    assert(twice.getAs[Long]("CA and WA twice") === 10L)
    // both sugar forms reach the toMdx fixpoint too
    for (mdx <- Seq(
        """WITH MEMBER [Measures].[M] AS
          |  'Aggregate({[Customers].[USA].[CA]} * {[Measures].[Unit Sales]})'
          |SELECT {[Measures].[M]} ON COLUMNS FROM [Sales]""".stripMargin,
        """WITH MEMBER [Measures].[M] AS
          |  'Aggregate({[Customers].[USA].[CA]}, [Measures].[Unit Sales] * 2)'
          |SELECT {[Measures].[M]} ON COLUMNS FROM [Sales]""".stripMargin)) {
      val ir0 = Mdx.parse(mdx, cube)
      assert(Mdx.parse(Mdx.renderQuery(ir0, cube.name), cube) === ir0)
    }
    // parse -> toMdx -> reparse fixpoint holds for the new WITH shape
    val ir = Mdx.parse(plain, cube)
    assert(Mdx.parse(Mdx.renderQuery(ir, cube.name), cube) === ir)
    // mixing a calc member with stored members on one literal set
    // unions the member frames (upstream Mondrian allows the mix —
    // mondrian_test.rb:197-204 defines the calc member against stored
    // siblings): the stored row keeps its leaf caption, the calc row
    // aggregates its set
    def cellOf(r: org.apache.spark.sql.Row): Any =
      r.get(r.fieldIndex("Unit Sales"))
    val mixedRows = Mdx.execute(
      """WITH MEMBER [Customers].[CA and WA] AS
        |  'Aggregate({[Customers].[USA].[CA]})'
        |SELECT {[Measures].[Unit Sales]} ON COLUMNS,
        |  {[Customers].[CA and WA], [Customers].[Canada]} ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
      .map(r => r.getString(0) -> cellOf(r)).toMap
    val caOnly = cellOf(Mdx.execute(
      """WITH MEMBER [Customers].[CA and WA] AS
        |  'Aggregate({[Customers].[USA].[CA]})'
        |SELECT {[Measures].[Unit Sales]} ON COLUMNS,
        |  {[Customers].[CA and WA]} ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().head)
    val canadaOnly = cellOf(Mdx.execute(
      """SELECT {[Measures].[Unit Sales]} ON COLUMNS,
        |  {[Customers].[Canada]} ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().head)
    // Canada has no fixture fact rows — a stored member with no data
    // is a NULL cell on the mixed axis too, not a dropped row
    assert(mixedRows === Map("CA and WA" -> caOnly,
      "Canada" -> canadaOnly))
    assert(caOnly === 3L && canadaOnly === null)
    // a dim-calc member in WHERE is the compound slicer: cells
    // aggregate under the member's set
    val sliced = Mdx.execute(
      """WITH MEMBER [Customers].[CA and WA] AS
        |  'Aggregate({[Customers].[USA].[CA], [Customers].[USA].[WA]})'
        |SELECT {[Measures].[Unit Sales]} ON COLUMNS,
        |  [Product].[Product Family].Members ON ROWS
        |FROM [Sales]
        |WHERE ([Customers].[CA and WA])""".stripMargin, cube).collect()
      .map(r => r.getAs[String]("family") -> r.getAs[Any]("Unit Sales"))
      .toMap
    assert(sliced("Drink") === 3L && sliced("Food") === 2L)
    // the reference's null-member tolerance (mondrian_test.rb:328-335):
    // a calc member whose formula names a NONEXISTENT member resolves
    // to the empty set — slicing by it nulls cells without erroring,
    // and the axis rows survive (no NON EMPTY)
    val nullSliced = Mdx.execute(
      """WITH MEMBER [Customers].[NNN] AS '[Customers].[YYY]'
        |SELECT {[Measures].[Unit Sales]} ON COLUMNS,
        |  [Product].[Product Family].Members ON ROWS
        |FROM [Sales]
        |WHERE ([Customers].[NNN])""".stripMargin, cube).collect()
    assert(nullSliced.map(_.getAs[String]("family")).sorted.toSeq ===
      Seq("Drink", "Food"))
    assert(nullSliced.forall(_.isNullAt(1)))
    // a self-aggregating definition is a loud cycle error
    val cyc = intercept[IllegalArgumentException] {
      Mdx.execute(
        """WITH MEMBER [Customers].[Loop] AS
          |  'Aggregate({[Customers].[Loop]})'
          |SELECT {[Measures].[Unit Sales]} ON COLUMNS,
          |  {[Customers].[Loop]} ON ROWS
          |FROM [Sales]""".stripMargin, cube).collect()
    }
    assert(cyc.getMessage.contains("itself"))
  }

  test("LinReg series per AXIS CELL: the regression folds per kept " +
      "axis grain, one series per row") {
    // series over Product families (ranks: Drink 1, Food 2), y the
    // gender's unit sales per family (0 when empty) — per-gender fit:
    // F buys 3 Drink / 0 Food → slope -3; M buys 0 / 2 → slope +2
    val prank = "Rank([Product].CurrentMember, " +
      "[Product].[Product Family].Members)"
    val got = Mdx.execute(
      s"""WITH MEMBER [Measures].[S] AS
         |  'LinRegSlope([Product].[Product Family].Members,
         |    CoalesceEmpty([Measures].[Unit Sales] * 1.0, 0.0), $prank)'
         |SELECT {[Measures].[S]} ON COLUMNS,
         |  [Gender].[Gender].Members ON ROWS
         |FROM [Sales]""".stripMargin, cube).collect()
      .map(r => r.getAs[String]("gender") -> r.getAs[Double]("S"))
      .toMap
    assert(math.abs(got("F") - (-3.0)) < 1e-9)
    assert(math.abs(got("M") - 2.0) < 1e-9)
  }

  test("reference MDX corpus: every in-scope query EXECUTES on the " +
      "fixture cube (no construct is parse-only)") {
    // the r11 review found forms the parser accepted but the planner
    // crashed on (natural-order TOPCOUNT, root children, computed and
    // level-qualified slicers) — execution over the reference's own
    // corpus pins that parse coverage IS execution coverage
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    corpus.foreach { case (id, _, mdx) =>
      if (!expectedUnsupported.contains(id)) {
        try { Mdx.execute(mdx, cube).collect(); () }
        catch { case e: Exception =>
          failures += s"$id: ${e.getClass.getSimpleName} ${e.getMessage}"
        }
      }
    }
    assert(failures.isEmpty, failures.mkString("\n\n"))
  }

  test("SQL-boundary quoting survives nested spaced measure names and " +
      "leaves string literals untouched") {
    import spark.implicits._
    // FoodMart really ships `Store Sales` AND `Store Sales Net` — the
    // shorter is a substring of the longer, so any sequential
    // replace-quoting corrupts the longer name's backticks
    val fact = Seq(("Drink", 3L, 9.5, 8.0), ("Food", 2L, 4.0, 3.5))
      .toDF("fam_fk", "unit_sales", "store_sales", "store_sales_net")
    val fam = Seq(Tuple1("Drink"), Tuple1("Food")).toDF("family")
    val c = BoundCube("Nested", fact,
      dims = Seq(BoundDim("Product", foreignKey = "fam_fk",
        primaryKey = "family",
        levels = Seq(BoundLevel("Family", "family")), df = fam)),
      measures = Seq(
        Measure("Unit Sales", Agg.Sum, "unit_sales"),
        Measure("Store Sales", Agg.Sum, "store_sales"),
        Measure("Store Sales Net", Agg.Sum, "store_sales_net")))
    val rows = Mdx.execute(
      """SELECT {[Measures].[Store Sales Net]} ON COLUMNS,
        |  FILTER([Product].[Family].Members,
        |         [Measures].[Store Sales Net] > 5) ON ROWS
        |FROM [Nested]""".stripMargin, c).collect()
    assert(rows.map(_.getAs[String]("family")).toSeq === Seq("Drink"))
    // a spaced measure name INSIDE a quoted string literal is data,
    // not a column reference — it must not gain backticks
    val tagged = Mdx.execute(
      """WITH MEMBER [Measures].[Tag] AS
        |  'Iif([Measures].[Unit Sales] > 2, "Unit Sales", "small")'
        |SELECT {[Measures].[Tag]} ON COLUMNS,
        |  [Product].[Family].Members ON ROWS
        |FROM [Nested]""".stripMargin, c).collect()
      .map(r => r.getAs[String]("family") -> r.getAs[String]("Tag"))
      .toMap
    assert(tagged === Map("Drink" -> "Unit Sales", "Food" -> "small"))
    // a WITH-declared calc member with a spaced name is referenceable
    // bare in a lowered FILTER predicate, exactly like a stored
    // measure (the quoting regex is rebuilt per query from
    // measures ++ calc members)
    val viaCalc = Mdx.execute(
      """WITH MEMBER [Measures].[Net Pct] AS
        |  '[Measures].[Store Sales Net] / [Measures].[Store Sales]'
        |SELECT {[Measures].[Net Pct]} ON COLUMNS,
        |  FILTER([Product].[Family].Members,
        |         [Measures].[Net Pct] > 0.85) ON ROWS
        |FROM [Nested]""".stripMargin, c).collect()
    assert(viaCalc.map(_.getAs[String]("family")).toSeq === Seq("Food"))
    assert(math.abs(viaCalc.head.getAs[Double]("Net Pct") - 3.5 / 4.0)
      < 1e-12)
  }
}
