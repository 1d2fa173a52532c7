package graft

import graft.olap._

/** MDX parser specs (entry point A): parse → IR golden checks, execution
  * equivalence with the builder path, and the reference error taxonomy.
  */
class MdxSpec extends SparkSpec {

  private lazy val cube = Cubes.sales(spark, Sf)

  test("flagship SELECT parses to the expected IR") {
    val ir = Mdx.parse(
      """SELECT {[Measures].[sum_qty], [Measures].[revenue]} ON COLUMNS,
        |  [customer].[nation].Members ON ROWS
        |FROM [Sales]
        |WHERE ([time].[1995])""".stripMargin, cube)
    assert(ir.measures === Seq("sum_qty", "revenue"))
    assert(ir.rows === Some(LevelMembers("customer", "nation")))
    assert(ir.slicer === Seq(MemberSlice("time", Seq(1995))))
  }

  test("MDX executes identically to the builder path") {
    val viaMdx = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  TOPCOUNT([part].[brand].Members, 5, [Measures].[revenue]) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    val viaBuilder = Query.from(cube)
      .columns("revenue")
      .rows(LevelMembers("part", "brand"))
      .topCount(5, "revenue")
      .execute()
    assert(viaMdx.collect().toSeq === viaBuilder.collect().toSeq)
  }

  test("set functions, children, filter and slicer tuple all parse") {
    val ir = Mdx.parse(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  FILTER(CROSSJOIN([customer].[EUROPE].Children,
        |                   [part].[brand].Members),
        |         [Measures].[revenue] > 1000) ON ROWS
        |FROM [Sales]
        |WHERE ([time].[1995], [priority].[1-URGENT])""".stripMargin, cube)
    val FilterSet(CrossJoin(ch, lm), cond) = ir.rows.get
    assert(ch === Children("customer", Seq("EUROPE")))
    assert(lm === LevelMembers("part", "brand"))
    assert(cond.contains("revenue") && cond.contains(">") &&
      cond.contains("1000"))
    assert(ir.slicer.toSet === Set(MemberSlice("time", Seq(1995)),
      MemberSlice("priority", Seq("1-URGENT"))))
  }

  test("compound (same-dim set) slicer groups into a SetSlice") {
    val ir = Mdx.parse(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  [part].[brand].Members ON ROWS
        |FROM [Sales]
        |WHERE {[customer].[ASIA], [customer].[EUROPE]}""".stripMargin, cube)
    assert(ir.slicer ===
      Seq(SetSlice("customer", Seq(Seq("ASIA"), Seq("EUROPE")))))
  }

  test("WITH MEMBER ratio computes in double") {
    val ir = Mdx.parse(
      """WITH MEMBER [Measures].[m2] AS
        |  [Measures].[revenue] / [Measures].[sum_base_price]
        |SELECT {[Measures].[revenue], [Measures].[m2]} ON COLUMNS,
        |  [returnflag].[returnflag].Members ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(ir.withMembers.length === 1)
    val ExprCalc(sql) = ir.withMembers.head.calc
    assert(sql.contains("CAST(revenue AS DOUBLE)"))
    val df = Mdx.execute(
      """WITH MEMBER [Measures].[m2] AS
        |  [Measures].[revenue] / [Measures].[sum_base_price]
        |SELECT {[Measures].[revenue], [Measures].[m2]} ON COLUMNS,
        |  [returnflag].[returnflag].Members ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(df.columns.contains("m2") && df.count() > 0)
  }

  test("NON EMPTY flag and member range parse") {
    val ir = Mdx.parse(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  NON EMPTY {[time].[1995].[1995-Q1].[1995-01]
        |    : [time].[1995].[1995-Q2].[1995-06]} ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(ir.nonEmpty)
    assert(ir.rows === Some(MemberRange("time", "month", "1995-01",
      "1995-06")))
  }

  test("infix * crossjoin parses left-associative") {
    val ir = Mdx.parse(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  [customer].[region].Members * [returnflag].[returnflag].Members
        |    ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(ir.rows === Some(CrossJoin(
      LevelMembers("customer", "region"),
      LevelMembers("returnflag", "returnflag"))))
  }

  test("DRILLTHROUGH statement routes to the drill planner") {
    val df = Mdx.execute(
      """DRILLTHROUGH MAXROWS 10
        |SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE ([customer].[EUROPE])
        |RETURN [l_orderkey], [l_quantity]""".stripMargin, cube)
    assert(df.columns.toSeq === Seq("l_orderkey", "l_quantity"))
    assert(df.count() === 10)
  }

  test("DRILLTHROUGH with a [returnflag] slicer and no RETURN clause") {
    // 'RETURN' is a substring of the bracketed [returnflag] member —
    // substring keyword scanning truncated the inner SELECT mid-token.
    val df = Mdx.execute(
      """DRILLTHROUGH SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE ([returnflag].[R])""".stripMargin, cube)
    assert(df.count() > 0)
    val flags = df.select("l_returnflag").distinct().collect().map(_.get(0))
    assert(flags.toSeq === Seq("R"))
  }

  test("DRILLTHROUGH RETURN Name/Property field forms") {
    val df = Mdx.execute(
      """DRILLTHROUGH MAXROWS 20
        |SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE ([customer].[EUROPE])
        |RETURN Name([customer].[nation]),
        |  Property([customer].[customer], 'c_mktsegment'),
        |  [l_quantity]""".stripMargin, cube)
    assert(df.columns.toSeq === Seq("cr_nation", "c_mktsegment",
      "l_quantity"))
    assert(df.count() === 20)
    val e = intercept[Mdx.MdxException] {
      Mdx.execute(
        """DRILLTHROUGH SELECT {[Measures].[revenue]} ON COLUMNS
          |FROM [Sales]
          |RETURN Property([customer].[customer], 'nope')""".stripMargin,
        cube)
    }
    assert(e.msg.contains("property 'nope' not found"))
  }

  test("one-segment measure set raises MdxException, not IOOBE") {
    val ex = intercept[Mdx.MdxException] {
      Mdx.parse("SELECT {[Measures]} ON COLUMNS FROM [Sales]", cube)
    }
    assert(ex.getMessage.contains("expected [Measures].[name]"))
  }

  test("division casts only its operands, not the whole expression") {
    // revenue - sum_qty / sum_qty: the quotient is double but the
    // subtraction's left side must stay the exact decimal measure.
    val df = Mdx.execute(
      """WITH MEMBER [Measures].[m] AS
        |  [Measures].[revenue] - [Measures].[revenue] / [Measures].[revenue]
        |SELECT {[Measures].[m]} ON COLUMNS FROM [Sales]""".stripMargin, cube)
    val got = df.collect()(0).getAs[Any]("m")
    assert(got != null)
  }

  test("Extract, Generate, Ancestor and StrToSet parse to the typed IR") {
    val ir = Mdx.parse(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  EXTRACT(CROSSJOIN([customer].[region].Members,
        |                    [returnflag].[returnflag].Members),
        |          [customer]) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(ir.rows === Some(ExtractSet(CrossJoin(
      LevelMembers("customer", "region"),
      LevelMembers("returnflag", "returnflag")), Seq("customer"))))

    val g = Mdx.parse(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  GENERATE([customer].[region].Members,
        |           [customer].CurrentMember) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(g.rows === Some(DistinctSet(LevelMembers("customer", "region"))))
    val gAll = Mdx.parse(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  GENERATE([customer].[region].Members,
        |           [customer].CurrentMember, ALL) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(gAll.rows === Some(LevelMembers("customer", "region")))

    val a = Mdx.parse(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  {ANCESTOR([customer].[EUROPE].[NATION_13], [region])} ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(a.rows === Some(Members("customer", Seq(Seq("EUROPE")))))

    val s = Mdx.parse(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  StrToSet('{[customer].[ASIA], [customer].[EUROPE]}') ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(s.rows === Some(Members("customer",
      Seq(Seq("ASIA"), Seq("EUROPE")))))
  }

  test("member navigation: Parent, FirstChild, LastChild, Siblings") {
    def rows(setText: String) = Mdx.parse(
      s"""SELECT {[Measures].[revenue]} ON COLUMNS,
         |  $setText ON ROWS
         |FROM [Sales]""".stripMargin, cube).rows.get
    assert(rows("[customer].[EUROPE].[NATION_13].Parent") ===
      Members("customer", Seq(Seq("EUROPE"))))
    assert(rows("[customer].[EUROPE].FirstChild") ===
      HeadSet(Children("customer", Seq("EUROPE")), 1))
    assert(rows("[customer].[EUROPE].LastChild") ===
      TailSet(Children("customer", Seq("EUROPE")), 1))
    assert(rows("[customer].[EUROPE].[NATION_13].Siblings") ===
      Children("customer", Seq("EUROPE")))
    val e = intercept[Mdx.MdxException] {
      rows("[customer].[EUROPE].Parent")
    }
    assert(e.msg.contains("no parent"))
  }

  test("set-aggregate calc members compute restricted subcube values") {
    val df = Mdx.execute(
      """WITH MEMBER [Measures].[y95_rev] AS
        |  Sum({[time].[1995]}, [Measures].[revenue])
        |SELECT {[Measures].[revenue], [Measures].[y95_rev]} ON COLUMNS,
        |  [customer].[region].Members ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    val via95 = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  [customer].[region].Members ON ROWS
        |FROM [Sales]
        |WHERE ([time].[1995])""".stripMargin, cube)
    val got = df.select("cr_region", "y95_rev").collect()
      .map(r => r.getString(0) -> r.getDecimal(1)).toMap
    via95.collect().foreach { r =>
      assert(got(r.getString(0)) === r.getDecimal(1))
    }
  }

  test("PAGES axis is the page-major outer coordinate") {
    val df = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  [returnflag].[returnflag].Members ON ROWS,
        |  [customer].[region].Members ON PAGES
        |FROM [Sales]""".stripMargin, cube)
    val rows = df.collect()
    assert(rows.length === 15) // 5 regions x 3 returnflags
    // pages vary slowest: first column is the region
    assert(df.columns.head === "cr_region")
    val regions = rows.map(_.getString(0))
    assert(regions.grouped(3).forall(w => w.distinct.length == 1))
  }

  test("tuple-valued calc members pin measure coordinates") {
    // growth vs a fixed year: ([Measures].[revenue], [time].[1995])
    val df = Mdx.execute(
      """WITH MEMBER [Measures].[rev95] AS
        |  ([Measures].[revenue], [time].[1995])
        |MEMBER [Measures].[share95] AS
        |  ([Measures].[revenue], [time].[1995]) / [Measures].[revenue]
        |SELECT {[Measures].[revenue], [Measures].[rev95],
        |        [Measures].[share95]} ON COLUMNS,
        |  [customer].[region].Members ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    val rows = df.collect()
    assert(rows.length === 5)
    // rev95 must equal the slicer-restricted revenue per region
    val via95 = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  [customer].[region].Members ON ROWS
        |FROM [Sales] WHERE ([time].[1995])""".stripMargin, cube)
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    rows.foreach { r =>
      assert(r.getDecimal(2) === via95(r.getString(0)))
      assert(r.getAs[Any]("share95") != null)
    }
  }

  test("unbracketed Measures refs, Val() and .Item(n) parse") {
    // the reference's own formula style (query_test.rb:343-344):
    // Val((Measures.[a] - Measures.[b]) / Measures.[a])
    val df = Mdx.execute(
      """WITH MEMBER [Measures].[pct] AS
        |  Val((Measures.[revenue] - Measures.[sum_qty])
        |      / Measures.[revenue])
        |SELECT {[Measures].[pct]} ON COLUMNS,
        |  [customer].[region].Members ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(df.collect().forall(_.getAs[Double]("pct") > 0))

    // Head(set).Item(0) — the first tuple of a set (ItemFunDef)
    val item = Mdx.parse(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  Head([customer].[region].Members, 3).Item(0) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(item.rows === Some(SubsetSet(
      HeadSet(LevelMembers("customer", "region"), 3), 0, 1)))
    val rows = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  [customer].[region].Members.Item(2) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    assert(rows.length === 1)
  }

  test("ORDER and FILTER accept tuple keys at the set's grain") {
    // order regions by their 1995 revenue, descending
    val df = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  ORDER([customer].[region].Members,
        |        ([Measures].[revenue], [time].[1995]), BDESC) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    val got = df.select("cr_region").collect().map(_.getString(0))
    val expect = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  [customer].[region].Members ON ROWS
        |FROM [Sales] WHERE ([time].[1995])""".stripMargin, cube)
      .collect().sortBy(r => r.getDecimal(1)).reverse
      .map(_.getString(0))
    assert(got.toSeq === expect.toSeq)
  }

  test("IIF, CoalesceEmpty and IsEmpty translate to Spark functions") {
    val df = Mdx.execute(
      """WITH MEMBER [Measures].[flag] AS
        |  IIF([Measures].[revenue] > 0, 1, 0)
        |MEMBER [Measures].[ce] AS
        |  CoalesceEmpty([Measures].[revenue], 0)
        |MEMBER [Measures].[empty] AS
        |  IIF(IsEmpty([Measures].[revenue]), 1, 0)
        |SELECT {[Measures].[flag], [Measures].[ce], [Measures].[empty]}
        |  ON COLUMNS,
        |  [customer].[region].Members ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    val rows = df.collect()
    assert(rows.length === 5)
    assert(rows.forall(_.getAs[Int]("flag") === 1))
    assert(rows.forall(_.getAs[Int]("empty") === 0))
    assert(rows.forall(r => r.getAs[Any]("ce") != null))
  }

  test("Parameter() resolves from defaults and execute overrides") {
    val mdx =
      """WITH MEMBER [Measures].[thresholded] AS
        |  CASE WHEN [Measures].[revenue] >
        |    Parameter('min_rev', Numeric, 0) THEN 1 ELSE 0 END
        |SELECT {[Measures].[revenue], [Measures].[thresholded]} ON COLUMNS,
        |  StrToSet(Parameter('regions', String,
        |    '{[customer].[ASIA], [customer].[EUROPE]}')) ON ROWS
        |FROM [Sales]""".stripMargin
    val viaDefault = Mdx.execute(mdx, cube).collect()
    assert(viaDefault.length === 2)
    assert(viaDefault.forall(_.getAs[Int]("thresholded") === 1))
    val overridden = Mdx.execute(mdx, cube, Map(
      "regions" -> "{[customer].[AFRICA]}",
      "min_rev" -> 1e18)).collect()
    assert(overridden.length === 1)
    assert(overridden(0).getAs[String]("cr_region") === "AFRICA")
    assert(overridden(0).getAs[Int]("thresholded") === 0)
  }

  test("CurrentMember.Name resolves inside Filter conditions") {
    val df = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  FILTER([customer].[nation].Members,
        |    [customer].CurrentMember.Name = 'NATION_13') ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    val rows = df.collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[String]("cr_nation") === "NATION_13")
  }

  test("toMdx renders and parse-roundtrips the builder query") {
    val q = Query.from(cube)
      .columns("revenue", "sum_qty")
      .rows(LevelMembers("customer", "nation"))
      .topCount(5, "revenue")
      .where(MemberSlice("time", Seq(1995)))
    val mdx = q.toMdx
    assert(mdx.contains("TOPCOUNT([customer].[nation].Members, 5, revenue)"))
    assert(mdx.contains("FROM [Sales]"))
    assert(mdx.contains("WHERE ([time].[1995])"))
    val reparsed = Mdx.parse(mdx, cube)
    assert(reparsed.measures === q.toIR.measures)
    assert(reparsed.rows === q.toIR.rows)
    assert(reparsed.slicer === q.toIR.slicer)
  }

  test("CASE WHEN passes through MDX scalar expressions") {
    val df = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  FILTER([customer].[nation].Members,
        |    CASE WHEN [Measures].[revenue] > 0 THEN 1 ELSE 0 END = 1)
        |    ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(df.count() > 0)
  }

  test("session-registered UDFs are callable from MDX formulas") {
    // the reference's schema UDF story (schema_udf.rb: Ruby/JS factories
    // compiled into Mondrian) maps to spark.udf.register + scalar
    // passthrough — user functions compose with measure refs.
    spark.udf.register("mdx_spec_half", (x: Double) => x / 2.0)
    val df = Mdx.execute(
      """WITH MEMBER [Measures].[half_qty] AS
        |  mdx_spec_half(Measures.[avg_qty])
        |SELECT {[Measures].[avg_qty], [Measures].[half_qty]} ON COLUMNS,
        |  [customer].[region].Members ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    df.collect().foreach { r =>
      assert(math.abs(r.getAs[Double]("half_qty") * 2 -
        r.getAs[Double]("avg_qty")) < 1e-12)
    }
  }

  test("WITH MEMBER accepts SOLVE_ORDER and FORMAT_STRING options") {
    val ir = Mdx.parse(
      """WITH MEMBER [Measures].[pct] AS
        |  [Measures].[revenue] / [Measures].[sum_base_price],
        |  SOLVE_ORDER = 2, FORMAT_STRING = 'Percent'
        |SELECT {[Measures].[pct]} ON COLUMNS,
        |  [customer].[region].Members ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    val cm = ir.withMembers.find(_.name == "pct").get
    assert(cm.solveOrder === 2)
    assert(cm.formatString === Some("Percent"))
    assert(Mdx.execute(
      """WITH MEMBER [Measures].[pct] AS
        |  [Measures].[revenue] / [Measures].[sum_base_price],
        |  SOLVE_ORDER = 2, FORMAT_STRING = 'Percent'
        |SELECT {[Measures].[pct]} ON COLUMNS,
        |  [customer].[region].Members ON ROWS
        |FROM [Sales]""".stripMargin, cube).count() === 5)
  }

  test("quoted WITH formulas parse (the reference's emission style)") {
    // the reference always quotes: SET [S] AS '...', MEMBER m AS '...'
    val ir = Mdx.parse(
      """WITH SET [Best] AS
        |  'TOPCOUNT([customer].[nation].Members, 3, [Measures].[revenue])'
        |MEMBER [Measures].[m2] AS
        |  '[Measures].[revenue] / [Measures].[sum_base_price]',
        |  SOLVE_ORDER = 1
        |SELECT {[Measures].[revenue], [Measures].[m2]} ON COLUMNS,
        |  Best ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(ir.withSets("Best") ===
      TopCount(LevelMembers("customer", "nation"), 3, "revenue"))
    assert(ir.withMembers.exists(cm =>
      cm.name == "m2" && cm.solveOrder == 1))
    assert(Mdx.execute(
      """WITH SET [Best] AS
        |  'TOPCOUNT([customer].[nation].Members, 3, [Measures].[revenue])'
        |SELECT {[Measures].[revenue]} ON COLUMNS, Best ON ROWS
        |FROM [Sales]""".stripMargin, cube).count() === 3)
  }

  test("a query without a COLUMNS axis uses the default measure") {
    val df = Mdx.execute(
      """SELECT [customer].[region].Members ON ROWS
        |FROM [Sales]""".stripMargin,
      cube.copy(defaultMeasure = Some("revenue")))
    assert(df.columns.toSeq === Seq("cr_region", "revenue"))
    assert(df.count() === 5)
    // unset default falls back to the first declared measure
    val df2 = Query.from(cube)
      .rows(LevelMembers("customer", "region")).execute()
    assert(df2.columns.contains(cube.measures.head.name))
  }

  test("sibling navigation and the Ancestors set form") {
    // first/last child of the member's parent = min/max nation name
    val df = Mdx.execute(
      """SELECT {[Measures].[count_order]} ON COLUMNS,
        |  {[customer].[AFRICA].[NATION_0].FirstSibling,
        |   [customer].[AFRICA].[NATION_0].LastSibling} ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    val nations = df.collect().map(_.getString(1)).toSeq
    assert(nations.length === 2)
    assert(nations.head < nations.last)
    // Ancestors at a single level holds exactly the one ancestor
    val anc = Mdx.execute(
      """SELECT {[Measures].[count_order]} ON COLUMNS,
        |  {Ancestors([customer].[AFRICA].[NATION_0],
        |    [customer].[region])} ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(anc.collect().map(_.getString(0)).toSeq === Seq("AFRICA"))
    // StripCalculatedMembers passes a plain member set through
    val strip = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  StripCalculatedMembers([customer].[region].Members) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(strip.count() === 5)
  }

  test("Cache(expr) is identity in formulas (CacheFunDef)") {
    val cached = Mdx.execute(
      """WITH MEMBER [Measures].[m] AS
        |  'Cache([Measures].[revenue] / [Measures].[sum_qty])'
        |SELECT {[Measures].[m]} ON COLUMNS,
        |  [customer].[region].Members ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    val plain = Mdx.execute(
      """WITH MEMBER [Measures].[m] AS
        |  '[Measures].[revenue] / [Measures].[sum_qty]'
        |SELECT {[Measures].[m]} ON COLUMNS,
        |  [customer].[region].Members ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(cached.collect().map(_.toSeq).toSeq ===
      plain.collect().map(_.toSeq).toSeq)
  }

  test("Cousin navigates by sibling position; Ascendants is mixed-depth") {
    // the quarter of 1996 at 1995-Q2's position under 1995
    val df = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  COUSIN([time].[1995].[1995-Q2], [time].[1996]) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(df.collect().map(_.getString(1)).toSeq === Seq("1996-Q2"))
    // member + every ancestor, one row per grain
    val asc = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  ASCENDANTS([time].[1995].[1995-Q2].[1995-05]) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    val rows = asc.collect()
    assert(rows.length === 3)
    assert(rows.count(_.isNullAt(2)) === 2)  // quarter + year rows
    assert(rows.count(_.isNullAt(1)) === 1)  // year row
    // cross-hierarchy Cousin is rejected with the reference's wording
    val e = intercept[Mdx.MdxException](Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  COUSIN([time].[1995], [customer].[AFRICA]) ON ROWS
        |FROM [Sales]""".stripMargin, cube))
    assert(e.getMessage.contains("different hierarchies"))
    // jar CousinFunDef edge semantics (ADVICE r5): equal depth returns
    // the SECOND member itself
    val eq = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  COUSIN([time].[1995], [time].[1996]) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(eq.collect().map(_.getInt(0)).toSeq === Seq(1996))
    // member ABOVE the "ancestor" → the null member = empty set
    val above = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  COUSIN([time].[1995], [time].[1996].[1996-Q1]) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(above.count() === 0)
  }

  test("Filter set alias: S.CurrentOrdinal and IsEmpty(S.Current)") {
    val df = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  Filter([customer].[nation].Members AS S,
        |    S.CurrentOrdinal < 3 AND NOT IsEmpty(S.Current)) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(df.count() <= 3)
    // general IsEmpty(expr) — nations whose revenue cell is empty (none
    // at this SF would match the negation of every-nation coverage, so
    // just assert it parses and yields a subset)
    val emptyOnly = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  Filter([customer].[nation].Members,
        |    IsEmpty([Measures].[revenue])) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(emptyOnly.count() <= 25)
  }

  test("error taxonomy matches the reference wording") {
    val e1 = intercept[Mdx.MdxException] {
      Mdx.parse("SELECT {[Measures].[nope]} ON COLUMNS, " +
        "[customer].[nation].Members ON ROWS FROM [Sales]", cube)
    }
    assert(e1.msg.contains("not found in cube"))
    val e2 = intercept[Mdx.MdxException] {
      Mdx.parse("SELECT {[Measures].[revenue]} ON COLUMNS FROM [Nope]",
        cube)
    }
    assert(e2.msg.toLowerCase.contains("cube"))
    val e3 = intercept[Mdx.MdxException] {
      Mdx.parse("SELECT {[Measures].[revenue] ON COLUMNS FROM [Sales]",
        cube)
    }
    assert(e3.msg.contains("Syntax error"))
    // LinReg misuse fails loudly at parse, never silently mis-ranks:
    // at most ONE auxiliary rank set besides the series itself
    val e4 = intercept[Mdx.MdxException] {
      Mdx.parse(
        """WITH MEMBER [Measures].[S] AS 'LinRegSlope(
          |  [customer].[nation].Members,
          |  Rank([customer].CurrentMember, [customer].[region].Members),
          |  Rank([customer].CurrentMember, [part].[brand].Members))'
          |SELECT {[Measures].[S]} ON COLUMNS FROM [Sales]"""
          .stripMargin, cube)
    }
    assert(e4.msg.contains("at most one set"))
    // Rank's first argument inside a series must be CurrentMember
    val e5 = intercept[Mdx.MdxException] {
      Mdx.parse(
        """WITH MEMBER [Measures].[S] AS 'LinRegSlope(
          |  [customer].[nation].Members,
          |  Rank([customer].[EUROPE], [customer].[nation].Members),
          |  1)'
          |SELECT {[Measures].[S]} ON COLUMNS FROM [Sales]"""
          .stripMargin, cube)
    }
    assert(e5.msg.contains("CurrentMember"))
  }

  test("TOPCOUNT/BOTTOMCOUNT without a sort expression execute in " +
      "natural order (== HEAD/TAIL)") {
    def run(rows: String) = Mdx.execute(
      s"""SELECT {[Measures].[revenue]} ON COLUMNS,
         |  $rows ON ROWS
         |FROM [Sales]""".stripMargin, cube).collect().toSeq
    val top = run("TOPCOUNT([part].[brand].Members, 3)")
    assert(top === run("HEAD([part].[brand].Members, 3)"))
    assert(top.size === 3)
    val bottom = run("BOTTOMCOUNT([part].[brand].Members, 3)")
    assert(bottom === run("TAIL([part].[brand].Members, 3)"))
  }

  test("[dim].Children with no member path yields the root-level " +
      "members; DESCENDANTS from the hierarchy root reaches any level") {
    def run(rows: String) = Mdx.execute(
      s"""SELECT {[Measures].[revenue]} ON COLUMNS,
         |  $rows ON ROWS
         |FROM [Sales]""".stripMargin, cube).collect().toSeq
    val ch = run("[customer].Children")
    assert(ch === run("[customer].[region].Members"))
    assert(ch.nonEmpty)
    assert(run("DESCENDANTS([customer], [nation])") ===
      run("[customer].[nation].Members"))
  }

  test("level-qualified member ([Dim].[Level].[M]) slices identically " +
      "to the full ancestry path, in WHERE tuples, braces and axes") {
    def cell(q: String): Any =
      Mdx.execute(q, cube).collect().head.getAs[Any]("revenue")
    def q(where: String) =
      s"SELECT {[Measures].[revenue]} ON COLUMNS FROM [Sales]\n$where"
    val viaAncestry = cell(q("WHERE ([customer].[MIDDLE EAST].[NATION_19])"))
    assert(viaAncestry != null)
    assert(cell(q("WHERE ([customer].[nation].[NATION_19])")) ===
      viaAncestry)
    assert(cell(q("WHERE {[customer].[nation].[NATION_19]}")) ===
      viaAncestry)
    // braced axis form: one member row carrying the same cell
    val axis = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  {[customer].[nation].[NATION_19]} ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    assert(axis.length === 1)
    assert(axis.head.getAs[Any]("revenue") === viaAncestry)
    // and the slicer form roundtrips through toMdx to the same IR
    val ir = Mdx.parse(q("WHERE ([customer].[nation].[NATION_19])"), cube)
    assert(Mdx.parse(Mdx.renderQuery(ir, cube.name), cube) === ir)
  }

  test("a computed slicer evaluating to zero members yields empty " +
      "cells, not a crash") {
    val df = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  [part].[brand].Members ON ROWS
        |FROM [Sales]
        |WHERE (FILTER([customer].[nation].Members,
        |  [Measures].[revenue] > 999999999999))""".stripMargin, cube)
    val rows = df.collect()
    val rev = df.columns.indexOf("revenue")
    assert(rows.forall(_.isNullAt(rev)),
      "an empty slicer set must produce empty cells")
  }

  test("same-dim level-qualified members in a WHERE tuple form a " +
      "compound (OR) slicer, like the literal spelling") {
    def cell(where: String): Any = Mdx.execute(
      s"SELECT {[Measures].[revenue]} ON COLUMNS FROM [Sales]\n$where",
      cube).collect().head.getAs[Any]("revenue")
    val literal = cell("WHERE {[customer].[MIDDLE EAST].[NATION_19], " +
      "[customer].[AMERICA].[NATION_11]}")
    assert(literal != null)
    // the level-qualified spelling resolves per member; post-resolve
    // compound grouping must OR them, never AND into a contradiction
    assert(cell("WHERE ([customer].[nation].[NATION_19], " +
      "[customer].[nation].[NATION_11])") === literal)
    // mixed literal + computed on the same dim groups too
    assert(cell("WHERE ([customer].[MIDDLE EAST].[NATION_19], " +
      "[customer].[nation].[NATION_11])") === literal)
  }

  test("mixed stored+calculated members on one axis: stored rows keep " +
      "their leaf caption, calc rows aggregate their set") {
    val rows = Mdx.execute(
      """WITH MEMBER [customer].[EU13 and AS2] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13],
        |              [customer].[ASIA].[NATION_2]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  {[customer].[AMERICA],
        |   [customer].[EUROPE].[NATION_13],
        |   [customer].[ASIA].[NATION_2],
        |   [customer].[EU13 and AS2]} ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
      .map(r => r.getAs[String]("cr_region") ->
        r.getAs[java.math.BigDecimal]("revenue").doubleValue()).toMap
    assert(rows.keySet === Set("AMERICA", "NATION_13", "NATION_2",
      "EU13 and AS2"))
    // the calc member IS the aggregate of its two stored siblings
    assert(math.abs(rows("EU13 and AS2") -
      (rows("NATION_13") + rows("NATION_2"))) < 1e-6)
    // the stored depth-0 row matches a plain single-member query
    val plain = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  {[customer].[AMERICA]} ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().head
      .getAs[java.math.BigDecimal]("revenue").doubleValue()
    assert(rows("AMERICA") === plain)
  }

  test("a stored measure and an expression calc over it agree on a " +
      "dim-calc axis under a same-dim WHERE: the query slicer ORs into " +
      "each entry (compound union)") {
    val axis =
      """{[customer].[EU and AS]} ON ROWS
        |FROM [Sales]
        |WHERE ([customer].[AMERICA].[NATION_1])""".stripMargin
    val calcDef =
      """MEMBER [customer].[EU and AS] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13],
        |              [customer].[ASIA].[NATION_2]})'""".stripMargin
    // stored measure
    val fused = Mdx.execute(
      s"""WITH $calcDef
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |$axis""".stripMargin, cube).collect().head
      .getAs[java.math.BigDecimal]("revenue").doubleValue()
    // a Measures-hosted expression calc over it, computed on the same
    // fused frame
    val viaFallback = Mdx.execute(
      s"""WITH $calcDef
        |MEMBER [Measures].[rev2] AS [Measures].[revenue] * 2
        |SELECT {[Measures].[rev2]} ON COLUMNS,
        |$axis""".stripMargin, cube).collect().head
      .getAs[java.math.BigDecimal]("rev2").doubleValue()
    assert(math.abs(viaFallback - 2 * fused) < 1e-6)
    // both equal the compound-slicer union over the three nations
    // (query.rb:379-386: same-dim slicer entries OR)
    val union = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE {[customer].[AMERICA].[NATION_1],
        |       [customer].[EUROPE].[NATION_13],
        |       [customer].[ASIA].[NATION_2]}""".stripMargin, cube)
      .collect().head
      .getAs[java.math.BigDecimal]("revenue").doubleValue()
    assert(fused === union)
  }

  test("fused-path details: stored entries AND a same-dim WHERE " +
      "(null cells), duplicated literals stay distinct rows, an empty " +
      "calc set counts zero") {
    // stored + calc under a same-dim WHERE: the stored AMERICA row is
    // outside the slicer -> row kept, cell null (normal axis
    // semantics); the calc row unions its set with the slicer member
    // (compound semantics) — never the other way round
    val rows = Mdx.execute(
      """WITH MEMBER [customer].[EU and AS] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13],
        |              [customer].[ASIA].[NATION_2]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  {[customer].[AMERICA], [customer].[EU and AS]} ON ROWS
        |FROM [Sales]
        |WHERE ([customer].[EUROPE].[NATION_13])""".stripMargin, cube)
      .collect().map(r => r.getString(0) -> r.get(1)).toMap
    assert(rows("AMERICA") == null)
    val union = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE {[customer].[EUROPE].[NATION_13],
        |       [customer].[ASIA].[NATION_2]}""".stripMargin, cube)
      .collect().head.get(0)
    assert(rows("EU and AS") === union)
    // a literal member listed twice is two axis rows with the SAME
    // cell value — position-keyed grouping, never a doubled group
    val dup = Mdx.execute(
      """WITH MEMBER [customer].[X] AS 'Aggregate({[customer].[ASIA]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  {[customer].[AMERICA], [customer].[AMERICA],
        |   [customer].[X]} ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    assert(dup.length === 3)
    val solo = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  {[customer].[AMERICA]} ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().head.get(1)
    assert(dup(0).getString(0) === "AMERICA" && dup(0).get(1) === solo)
    assert(dup(1).getString(0) === "AMERICA" && dup(1).get(1) === solo)
    // Aggregate over a set that matches nothing: count measures are
    // ZERO on the calc row (a count of an empty subcube), while the
    // out-of-slicer STORED row above stays null — both pinned
    val cnt = Mdx.execute(
      """WITH MEMBER [customer].[none] AS
        |  'Aggregate({[customer].[EUROPE].[NO_SUCH_NATION]})'
        |SELECT {[Measures].[count_order]} ON COLUMNS,
        |  {[customer].[none]} ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().head
    assert(cnt.get(cnt.fieldIndex("count_order")) === 0L)
  }

  test("an expression calc measure matches the stored measure on " +
      "duplicate dim-calc literals and NON EMPTY calc rows") {
    // behaviors must not change with the requested measure set (a
    // Measures-hosted expression calc vs the stored measure)
    val dup = Mdx.execute(
      """WITH MEMBER [customer].[X] AS 'Aggregate({[customer].[ASIA]})'
        |MEMBER [Measures].[rev2] AS [Measures].[revenue] * 2
        |SELECT {[Measures].[rev2]} ON COLUMNS,
        |  {[customer].[AMERICA], [customer].[AMERICA],
        |   [customer].[X]} ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    assert(dup.length === 3)
    assert(dup(0).getString(0) === "AMERICA" &&
      dup(1).getString(0) === "AMERICA" &&
      dup(0).get(1) === dup(1).get(1))
    // NON EMPTY drops a calc row whose set matches nothing, for BOTH
    // measure sets (axis semantics prune it)
    def nonEmptyRows(measures: String, withExtra: String): Seq[String] =
      Mdx.execute(
        s"""WITH MEMBER [customer].[none] AS
          |  'Aggregate({[customer].[EUROPE].[NO_SUCH_NATION]})'
          |$withExtra
          |SELECT {$measures} ON COLUMNS,
          |  NON EMPTY {[customer].[AMERICA], [customer].[none]} ON ROWS
          |FROM [Sales]""".stripMargin, cube).collect()
        .map(_.getString(0)).toSeq
    assert(nonEmptyRows("[Measures].[revenue]", "") === Seq("AMERICA"))
    assert(nonEmptyRows("[Measures].[rev2]",
      "MEMBER [Measures].[rev2] AS [Measures].[revenue] * 2") ===
      Seq("AMERICA"))
  }

  test("a roled dim-calc axis: grants AND into dim-calc sets instead " +
      "of OR-widening them (fused in r14, same cells)") {
    val roled = Cubes.sales(spark, Sf).withRole(Role("Europe only",
      Seq("customer" -> Seq("EUROPE"))))
    val r = Mdx.execute(
      """WITH MEMBER [customer].[AS2] AS
        |  'Aggregate({[customer].[ASIA].[NATION_2]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  {[customer].[AS2]} ON ROWS
        |FROM [Sales]""".stripMargin, roled).collect().head
    // Partial policy: the grant is a row filter under the aggregate —
    // a calc member over an out-of-grant set aggregates NOTHING (the
    // OR-widened fused predicate would return all of EUROPE here)
    assert(r.get(r.fieldIndex("revenue")) == null)
  }

  private val Eu13As2Def =
    """MEMBER [customer].[EU13 and AS2] AS
      |  'Aggregate({[customer].[EUROPE].[NATION_13],
      |              [customer].[ASIA].[NATION_2]})'""".stripMargin

  test("a dim-hosted calc member inside a CrossJoin axis set executes: " +
      "each (entry, other-member) tuple aggregates the set in that " +
      "member's context — never a silent zero-row result") {
    val df = Mdx.execute(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN({[customer].[AMERICA], [customer].[EU13 and AS2]},
        |            {[time].[1995], [time].[1996]}) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(df.columns.toSeq === Seq("cr_region", "d_year", "revenue"))
    val rows = df.collect()
      .map(r => (r.getString(0), r.getInt(1)) -> Option(
        r.getAs[java.math.BigDecimal]("revenue")).map(_.doubleValue()))
      .toMap
    assert(rows.size === 4) // 2 entries x 2 years, no dropped tuples
    def solo(where: String): Double = Mdx.execute(
      s"""SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE $where""".stripMargin, cube).collect().head
      .getAs[java.math.BigDecimal]("revenue").doubleValue()
    assert(rows(("EU13 and AS2", 1995)).get === solo(
      "({[customer].[EUROPE].[NATION_13], [customer].[ASIA].[NATION_2]}," +
        " [time].[1995])"))
    assert(rows(("EU13 and AS2", 1996)).get === solo(
      "({[customer].[EUROPE].[NATION_13], [customer].[ASIA].[NATION_2]}," +
        " [time].[1996])"))
    assert(rows(("AMERICA", 1995)).get ===
      solo("([customer].[AMERICA], [time].[1995])"))
    assert(rows(("AMERICA", 1996)).get ===
      solo("([customer].[AMERICA], [time].[1996])"))
    // a computed other factor (LevelMembers) keeps every tuple too
    val years = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  [time].[year].Members ON ROWS
        |FROM [Sales]""".stripMargin, cube).count()
    val cj = Mdx.execute(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN({[customer].[AMERICA], [customer].[EU13 and AS2]},
        |            [time].[year].Members) ON ROWS
        |FROM [Sales]""".stripMargin, cube).count()
    assert(cj === 2 * years)
  }

  test("the crossjoin axis renders LEFT-MAJOR in axis-ordinal order " +
      "(r18): a calc factor in the SECOND position keeps the stored " +
      "factor varying slowest, its label column at its own position — " +
      "fused and fallback alike (query.rb:47-57 axis iteration)") {
    def run(measure: String, extra: String): (Seq[String], Seq[(Int, String)]) = {
      val df = Mdx.execute(
        s"""WITH $Eu13As2Def
          |$extra
          |SELECT {[Measures].[$measure]} ON COLUMNS,
          |  CROSSJOIN({[time].[1996], [time].[1995]},
          |            {[customer].[AMERICA], [customer].[EU13 and AS2]})
          |    ON ROWS
          |FROM [Sales]""".stripMargin, cube)
      (df.columns.toSeq, df.collect().toSeq
        .map(r => (r.getInt(0), r.getString(1))))
    }
    val (cols, got) = run("revenue", "")
    // the year column sits at the year factor's position (first)
    assert(cols === Seq("d_year", "cr_region", "revenue"))
    // the literal {1996, 1995} set is an ORDERED list — Mondrian
    // renders it in WRITTEN order (r19; was level-ordinal, the last
    // axis-contract divergence): 1996 first, and within each year the
    // calc entries keep their literal positions. Year-major =
    // left-major.
    assert(got === Seq((1996, "AMERICA"), (1996, "EU13 and AS2"),
      (1995, "AMERICA"), (1995, "EU13 and AS2")))
    // a Measures-hosted expression calc agrees
    val (fbCols, fbGot) = run("rev2",
      "MEMBER [Measures].[rev2] AS [Measures].[revenue] * 2")
    assert(fbCols === Seq("d_year", "cr_region", "rev2"))
    assert(fbGot === got)
    // an ORDER()'d FIRST factor keeps ITS explicit order as the major
    // key with the calc factor second (the per-factor __ord path)
    def rev(y: Int): Double = Mdx.execute(
      s"""SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales] WHERE ([time].[$y])""".stripMargin, cube)
      .collect().head.getAs[java.math.BigDecimal]("revenue").doubleValue()
    val yDesc = Seq(1995, 1996).sortBy(y => -rev(y))
    val ordered = Mdx.execute(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN(ORDER({[time].[1995], [time].[1996]},
        |                  [Measures].[revenue], BDESC),
        |            {[customer].[AMERICA], [customer].[EU13 and AS2]})
        |    ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().toSeq
      .map(r => (r.getInt(0), r.getString(1)))
    assert(ordered === yDesc.flatMap(y =>
      Seq((y, "AMERICA"), (y, "EU13 and AS2"))))
    // a calc factor BETWEEN two stored factors: each stored factor
    // sorts at its own position (the ordered years stay major, flags
    // vary fastest) — the combined otherSet's single renumbered __ord
    // could not decompose this shape
    val between = Mdx.execute(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN(ORDER({[time].[1995], [time].[1996]},
        |                  [Measures].[revenue], BDESC),
        |    CROSSJOIN({[customer].[EU13 and AS2]},
        |              {[returnflag].[A], [returnflag].[N]})) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(between.columns.toSeq ===
      Seq("d_year", "cr_region", "l_returnflag", "revenue"))
    val bGot = between.collect().toSeq
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(bGot === yDesc.flatMap(y => Seq(
      (y, "EU13 and AS2", "A"), (y, "EU13 and AS2", "N"))))
  }

  test("PROPERTY: left-major axis rendering over randomized factor " +
      "permutations — the row order is the factor-position-major " +
      "cartesian of each factor's own order, fused and fallback alike") {
    // factors with statically-known internal orders: EVERY literal
    // set — calc-bearing or stored — renders in WRITTEN order (r19:
    // a set literal is an ordered list, Mondrian renders it as
    // authored; stored literal sets carried level-ordinal order
    // until r18)
    val calcFactor = ("""{[customer].[ASIA], [customer].[EU13 and AS2],
      |[customer].[AMERICA]}""".stripMargin.replace("\n", " "),
      Seq("ASIA", "EU13 and AS2", "AMERICA"), "cr_region")
    val yearFactor = ("{[time].[1996], [time].[1995]}",
      Seq("1996", "1995"), "d_year")
    val flagFactor = ("{[returnflag].[N], [returnflag].[A]}",
      Seq("N", "A"), "l_returnflag")
    val rnd = new scala.util.Random(0x18afe17)
    for (trial <- 1 to 6) {
      val pool = rnd.shuffle(Seq(yearFactor, flagFactor))
        .take(1 + rnd.nextInt(2))
      val factors = rnd.shuffle(calcFactor +: pool)
      val axis = factors.map(_._1).reduceRight((a, b) => s"CROSSJOIN($a, $b)")
      def rows(measure: String, extra: String): Seq[Seq[String]] =
        Mdx.execute(
          s"""WITH $Eu13As2Def
            |$extra
            |SELECT {[Measures].[$measure]} ON COLUMNS,
            |  $axis ON ROWS
            |FROM [Sales]""".stripMargin, cube).collect().toSeq
          .map(r => factors.map(f =>
            String.valueOf(r.get(r.fieldIndex(f._3)))))
      // expected: position-major cartesian of the factors' own orders
      val want = factors.map(_._2).foldLeft(Seq(Seq.empty[String]))(
        (acc, vals) => acc.flatMap(p => vals.map(p :+ _)))
      val got = rows("revenue", "")
      assert(got === want, s"trial $trial axis=$axis")
      // a Measures-hosted expression calc renders the same order
      val fb = rows("rev2",
        "MEMBER [Measures].[rev2] AS [Measures].[revenue] * 2")
      assert(fb === want, s"trial $trial (fallback) axis=$axis")
    }
  }

  test("a Measures-hosted expression calc on a crossjoined dim-calc " +
      "axis matches the stored measure cell for cell") {
    def run(measure: String, extra: String) = Mdx.execute(
      s"""WITH $Eu13As2Def
        |$extra
        |SELECT {[Measures].[$measure]} ON COLUMNS,
        |  CROSSJOIN({[customer].[AMERICA], [customer].[EU13 and AS2]},
        |            {[time].[1995], [time].[1996]}) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        r.getAs[java.math.BigDecimal](measure).doubleValue()).toMap
    val fused = run("revenue", "")
    val viaFallback = run("rev2",
      "MEMBER [Measures].[rev2] AS [Measures].[revenue] * 2")
    assert(viaFallback.keySet === fused.keySet)
    fused.foreach { case (k, v) =>
      assert(math.abs(viaFallback(k) - 2 * v) < 1e-6, s"tuple $k") }
    // an Order()'d other factor keeps ITS order with the calc measure
    // too — the frame carries the member frame's __ord instead of
    // re-sorting by name keys (r13 ADVICE): row order must equal the
    // stored-measure twin's
    def order(measure: String, extra: String): Seq[(String, Int)] =
      Mdx.execute(
        s"""WITH $Eu13As2Def
          |$extra
          |SELECT {[Measures].[$measure]} ON COLUMNS,
          |  CROSSJOIN({[customer].[AMERICA], [customer].[EU13 and AS2]},
          |            ORDER({[time].[1995], [time].[1996]},
          |                  [Measures].[revenue], BDESC)) ON ROWS
          |FROM [Sales]""".stripMargin, cube).collect().toSeq
        .map(r => (r.getString(0), r.getInt(1)))
    val fusedOrder = order("revenue", "")
    val fallbackOrder = order("rev2",
      "MEMBER [Measures].[rev2] AS [Measures].[revenue] * 2")
    assert(fallbackOrder === fusedOrder)
  }

  test("PAGES crossed with a dim-calc rows axis works through the " +
      "same lowering (the folded outer product is a CrossJoin)") {
    val rows = Mdx.execute(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  {[customer].[EU13 and AS2]} ON ROWS,
        |  [returnflag].[returnflag].Members ON PAGES
        |FROM [Sales]""".stripMargin, cube).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        r.getAs[java.math.BigDecimal]("revenue").doubleValue()).toMap
    assert(rows.keySet === Set("A", "N", "R"))
    val soloA = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE ({[customer].[EUROPE].[NATION_13],
        |        [customer].[ASIA].[NATION_2]},
        |       [returnflag].[A])""".stripMargin, cube).collect().head
      .getAs[java.math.BigDecimal]("revenue").doubleValue()
    assert(rows("A") === soloA)
    // the REVERSE shape — the calc member ON PAGES itself — folds to
    // the same crossjoin factor and must carry the same cells
    val reversed = Mdx.execute(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  [returnflag].[returnflag].Members ON ROWS,
        |  {[customer].[EU13 and AS2]} ON PAGES
        |FROM [Sales]""".stripMargin, cube).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        r.getAs[java.math.BigDecimal]("revenue").doubleValue()).toMap
    assert(reversed === rows)
  }

  test("an EMPTY cell orders as -infinity (FunUtil.compareValues, " +
      "r18): ASC puts it FIRST, DESC and BDESC put it last — " +
      "deterministic via an empty Aggregate entry, plus an adaptive " +
      "stored-path check") {
    // [none] aggregates an empty set → its revenue cell is NULL at
    // every scale factor, so the pin is guaranteed, not data-lucky
    def order(dir: String): Seq[String] = Mdx.execute(
      s"""WITH MEMBER [customer].[none] AS
        |  'Aggregate({[customer].[EUROPE].[NO_SUCH_NATION]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  ORDER({[customer].[AMERICA], [customer].[none],
        |         [customer].[EUROPE]},
        |        [Measures].[revenue], $dir) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().toSeq
      .map(_.getString(0))
    assert(order("ASC").head === "none", "ASC: empty cell = -inf, first")
    assert(order("BASC").head === "none", "BASC: empty cell first")
    assert(order("DESC").last === "none", "DESC: empty cell last")
    assert(order("BDESC").last === "none", "BDESC: empty cell last")
    // ordinary stored path (tupleHierOrderSet): expected order computed
    // from the engine's own cells with the -inf rule — pins equality
    // with the reference comparator whatever the scale factor's data
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    def cell(r: String): Double = {
      val row = Mdx.execute(
        s"""SELECT {[Measures].[revenue]} ON COLUMNS
          |FROM [Sales]
          |WHERE ([customer].[$r], [time].[1995].[1995-Q1],
          |       [returnflag].[R])""".stripMargin, cube).collect().head
      if (row.isNullAt(row.fieldIndex("revenue"))) Double.NegativeInfinity
      else row.getAs[java.math.BigDecimal]("revenue").doubleValue()
    }
    val got = Mdx.execute(
      s"""SELECT {[Measures].[revenue]} ON COLUMNS,
        |  ORDER({${regions.map(r => s"[customer].[$r]").mkString(", ")}},
        |        [Measures].[revenue], ASC) ON ROWS
        |FROM [Sales]
        |WHERE ([time].[1995].[1995-Q1], [returnflag].[R])""".stripMargin,
      cube).collect().toSeq.map(_.getString(0))
    val (nul, nn) = regions.partition(cell(_) == Double.NegativeInfinity)
    assert(got === nul.sorted ++ nn.sortBy(r => (cell(r), r)))
  }

  test("NON EMPTY prunes empty dim-calc tuples on the crossjoined " +
      "axis, fused and fallback alike") {
    def rows(measures: String, extra: String): Seq[String] = Mdx.execute(
      s"""WITH MEMBER [customer].[none] AS
        |  'Aggregate({[customer].[EUROPE].[NO_SUCH_NATION]})'
        |$extra
        |SELECT {$measures} ON COLUMNS,
        |  NON EMPTY CROSSJOIN({[customer].[AMERICA], [customer].[none]},
        |                      {[time].[1995]}) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
      .map(_.getString(0)).toSeq
    assert(rows("[Measures].[revenue]", "") === Seq("AMERICA"))
    assert(rows("[Measures].[rev2]",
      "MEMBER [Measures].[rev2] AS [Measures].[revenue] * 2") ===
      Seq("AMERICA"))
  }

  test("a roled crossjoined dim-calc axis (fused in r14): grants AND " +
      "into the calc set per tuple, hidden stored members drop") {
    val roled = Cubes.sales(spark, Sf).withRole(Role("Europe only",
      Seq("customer" -> Seq("EUROPE"))))
    val r = Mdx.execute(
      """WITH MEMBER [customer].[AS2] AS
        |  'Aggregate({[customer].[ASIA].[NATION_2]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN({[customer].[AS2]}, {[time].[1995]}) ON ROWS
        |FROM [Sales]""".stripMargin, roled).collect()
    assert(r.length === 1)
    assert(r.head.get(r.head.fieldIndex("revenue")) == null)
    // mixed literal set under the role: the out-of-grant stored member
    // (AMERICA) vanishes from the axis (memberFrame visibility), the
    // granted one stays with its granted total, and the calc entry
    // always renders (synthetic member, grant ANDed into its set)
    val mixed = Mdx.execute(
      """WITH MEMBER [customer].[AS2] AS
        |  'Aggregate({[customer].[ASIA].[NATION_2]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  {[customer].[AMERICA], [customer].[EUROPE],
        |   [customer].[AS2]} ON ROWS
        |FROM [Sales]""".stripMargin, roled).collect()
    assert(mixed.map(_.getString(0)).toSeq === Seq("EUROPE", "AS2"))
    val euRoled = mixed.head
      .getAs[java.math.BigDecimal]("revenue").doubleValue()
    val euOpen = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales] WHERE ([customer].[EUROPE])""".stripMargin,
      Cubes.sales(spark, Sf)).collect().head
      .getAs[java.math.BigDecimal]("revenue").doubleValue()
    assert(euRoled === euOpen)
    assert(mixed(1).get(mixed(1).fieldIndex("revenue")) == null)
  }

  test("a level-bounded role + non-breaking Order: an injected hidden " +
      "ancestor is EXEMPT from role visibility (rank-only, never " +
      "rendered), while a role-hidden STORED member that anchors " +
      "descendants' ranks refuses loudly (ADVICE r15)") {
    // topLevel=nation: the region level is invisible to the role, so
    // EUROPE cannot appear on an axis — but the hierarchical Order
    // still needs its CELL to rank the subtree against the root calc
    val roled = Cubes.sales(spark, Sf).withRole(Role("nation up",
      Seq("customer" -> Seq("EUROPE")),
      levelBounds = Map("customer" -> Seq((Some("nation"), None)))))
    def rev(nation: String): Double = Mdx.execute(
      s"""SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE ([customer].[EUROPE].[$nation])""".stripMargin, cube)
      .collect().head.getAs[java.math.BigDecimal]("revenue")
      .doubleValue()
    val kids =
      if (rev("NATION_13") < rev("NATION_18"))
        Seq("NATION_13", "NATION_18")
      else Seq("NATION_18", "NATION_13")
    // EUROPE is injected as a hidden rank-only ancestor of the two
    // nations; pre-r16 the role's level bound silently dropped it from
    // the seed, shortening the nations' rank chains — now it stays
    // (aggregated under the grant slicer, never rendered) and the calc
    // (a strict subset of EUROPE) sorts first at the root
    val got = Mdx.execute(
      """WITH MEMBER [customer].[N13 solo] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  ORDER({[customer].[EUROPE].[NATION_13],
        |         [customer].[EUROPE].[NATION_18],
        |         [customer].[N13 solo]},
        |        [Measures].[revenue], ASC) ON ROWS
        |FROM [Sales]""".stripMargin, roled).collect().toSeq
      .map(_.getString(0))
    assert(got === ("N13 solo" +: kids))
    // EUROPE as an explicit SET MEMBER is a stored entry the role
    // hides; its descendants' rank chains would silently shorten —
    // refuse instead
    val ex = intercept[IllegalArgumentException] {
      Mdx.execute(
        """WITH MEMBER [customer].[N13 solo] AS
          |  'Aggregate({[customer].[EUROPE].[NATION_13]})'
          |SELECT {[Measures].[revenue]} ON COLUMNS,
          |  ORDER({[customer].[EUROPE],
          |         [customer].[EUROPE].[NATION_13],
          |         [customer].[N13 solo]},
          |        [Measures].[revenue], ASC) ON ROWS
          |FROM [Sales]""".stripMargin, roled).collect()
    }
    assert(ex.getMessage.contains("hidden by the role"))
  }

  test("a calc set constraining a dimension ANOTHER factor enumerates " +
      "executes via MDX context override (r16 — was refused): the set " +
      "member REPLACES the axis coordinate on its hierarchy " +
      "(AggregateFunDef via Evaluator.setContext), so the cell is " +
      "CONSTANT across the overridden factor's members") {
    def solo(where: String): Double = Mdx.execute(
      s"""SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales] WHERE $where""".stripMargin, cube)
      .collect().head.getAs[java.math.BigDecimal]("revenue")
      .doubleValue()
    val df = Mdx.execute(
      """WITH MEMBER [time].[EU agg] AS
        |  'Aggregate({[customer].[EUROPE]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN({[time].[1995], [time].[EU agg]},
        |            {[customer].[AMERICA], [customer].[ASIA]}) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    val label = df.columns.head
    val rows = df.collect().toSeq.map { r =>
      (String.valueOf(r.get(r.fieldIndex(label))),
        r.getString(r.fieldIndex("cr_region")),
        r.getAs[java.math.BigDecimal]("revenue").doubleValue())
    }
    assert(rows.length === 4)
    val euAllTime = solo("([customer].[EUROPE])")
    // the overridden rows carry EUROPE's all-time total for EVERY
    // customer coordinate — the customer axis member is replaced, and
    // the value is NOT the (EUROPE ∩ AMERICA) = empty intersection
    val ov = rows.filter(_._1 == "EU agg")
    assert(ov.map(_._2).toSet === Set("AMERICA", "ASIA"))
    ov.foreach { case (_, _, v) => assert(v === euAllTime) }
    // the stored factor rows keep normal tuple semantics
    val am95 = solo("([time].[1995], [customer].[AMERICA])")
    val as95 = solo("([time].[1995], [customer].[ASIA])")
    assert(rows.find(r => r._1 == "1995" && r._2 == "AMERICA")
      .get._3 === am95)
    assert(rows.find(r => r._1 == "1995" && r._2 == "ASIA")
      .get._3 === as95)
    // a WHERE coordinate on the overridden hierarchy is replaced too
    // for the overriding rows (the stored rows AND it per the axis
    // convention)
    val sliced = Mdx.execute(
      """WITH MEMBER [time].[EU agg] AS
        |  'Aggregate({[customer].[EUROPE]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN({[time].[EU agg]},
        |            {[customer].[AMERICA]}) ON ROWS
        |FROM [Sales]
        |WHERE ([customer].[AMERICA].[NATION_1])""".stripMargin, cube)
      .collect()
    assert(sliced.length === 1)
    assert(sliced.head.getAs[java.math.BigDecimal]("revenue")
      .doubleValue() === euAllTime)
    // a set constraining another CALC factor's hierarchy still
    // refuses loudly
    val ex = intercept[IllegalArgumentException] {
      Mdx.execute(
        """WITH MEMBER [time].[EU agg] AS
          |  'Aggregate({[customer].[EUROPE]})'
          |MEMBER [customer].[AS2] AS
          |  'Aggregate({[customer].[ASIA].[NATION_2]})'
          |SELECT {[Measures].[revenue]} ON COLUMNS,
          |  CROSSJOIN({[time].[EU agg]}, {[customer].[AS2]}) ON ROWS
          |FROM [Sales]""".stripMargin, cube).collect()
    }
    assert(ex.getMessage.contains("CALC factor"))
  }

  test("the crossjoined dim-calc query round-trips through toMdx") {
    def roundTrips(mdx: String): Unit = {
      val ir = Mdx.parse(mdx, cube)
      assert(Mdx.parse(Mdx.renderQuery(ir, cube.name), cube) === ir)
    }
    roundTrips(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN({[customer].[AMERICA], [customer].[EU13 and AS2]},
        |            {[time].[1995], [time].[1996]}) ON ROWS
        |FROM [Sales]""".stripMargin)
    // the r14 executed shapes render and re-parse too
    roundTrips(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  UNION({[customer].[EU13 and AS2]},
        |        [customer].[region].Members) ON ROWS
        |FROM [Sales]""".stripMargin)
    roundTrips(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  HEAD(ORDER({[customer].[AMERICA], [customer].[EU13 and AS2]},
        |             [Measures].[revenue], BDESC), 1) ON ROWS
        |FROM [Sales]""".stripMargin)
    roundTrips(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  FILTER({[customer].[AMERICA], [customer].[EU13 and AS2]},
        |         [Measures].[revenue] > 1000000.0) ON ROWS
        |FROM [Sales]""".stripMargin)
    roundTrips(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  NONEMPTYCROSSJOIN({[customer].[EU13 and AS2]},
        |                    {[time].[1995]}) ON ROWS
        |FROM [Sales]""".stripMargin)
    roundTrips(
      s"""WITH $Eu13As2Def
        |MEMBER [time].[Y9596] AS
        |  'Aggregate({[time].[1995], [time].[1996]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN({[customer].[EU13 and AS2]},
        |            {[time].[Y9596], [time].[1995]}) ON ROWS
        |FROM [Sales]""".stripMargin)
  }

  test("crossjoined dim-calc details: duplicate literals stay distinct " +
      "tuples, and a same-dim WHERE ORs into calc entries but ANDs " +
      "into stored ones — fused and fallback alike") {
    // duplicate literal member x other factor: two identical rows per
    // year, never a doubled group (position-keyed entries)
    val dup = Mdx.execute(
      """WITH MEMBER [customer].[X] AS 'Aggregate({[customer].[ASIA]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN({[customer].[AMERICA], [customer].[AMERICA],
        |             [customer].[X]}, {[time].[1995]}) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    assert(dup.length === 3)
    val am = dup.filter(_.getString(0) == "AMERICA")
    assert(am.length === 2 && am(0).get(2) === am(1).get(2))
    // same-dim WHERE: stored row kept with a null cell (slicer ANDs),
    // calc row unions the slicer member into its set (compound OR)
    def cells(measure: String, extra: String) = Mdx.execute(
      s"""WITH $Eu13As2Def
        |$extra
        |SELECT {[Measures].[$measure]} ON COLUMNS,
        |  CROSSJOIN({[customer].[AMERICA], [customer].[EU13 and AS2]},
        |            {[time].[1995]}) ON ROWS
        |FROM [Sales]
        |WHERE ([customer].[EUROPE].[NATION_13])""".stripMargin, cube)
      .collect().map(r => r.getString(0) -> Option(r.get(2))).toMap
    val fused = cells("revenue", "")
    assert(fused("AMERICA").isEmpty, "stored row must AND the slicer")
    val union = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE ({[customer].[EUROPE].[NATION_13],
        |        [customer].[ASIA].[NATION_2]}, [time].[1995])""".stripMargin,
      cube).collect().head.get(0)
    assert(fused("EU13 and AS2").get === union)
    // the Measures-hosted expression calc: same semantics
    val fb = cells("rev2",
      "MEMBER [Measures].[rev2] AS [Measures].[revenue] * 2")
    assert(fb("AMERICA").isEmpty)
    assert(math.abs(
      fb("EU13 and AS2").get.asInstanceOf[java.math.BigDecimal]
        .doubleValue() -
      2 * union.asInstanceOf[java.math.BigDecimal].doubleValue()) < 1e-6)
  }

  test("a three-way crossjoin with a dim-calc factor groups by both " +
      "other factors' level columns") {
    val df = Mdx.execute(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN(CROSSJOIN(
        |    {[customer].[AMERICA], [customer].[EU13 and AS2]},
        |    {[time].[1995]}),
        |    [returnflag].[returnflag].Members) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    val rows = df.collect()
    assert(rows.length === 2 * 1 * 3) // entries x year x {A,N,R}
    val cell = rows.map(r => (r.getString(0), r.getAs[String]("l_returnflag"))
      -> r.getAs[java.math.BigDecimal]("revenue").doubleValue()).toMap
    val solo = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE ({[customer].[EUROPE].[NATION_13],
        |        [customer].[ASIA].[NATION_2]},
        |       [time].[1995], [returnflag].[R])""".stripMargin, cube)
      .collect().head.getAs[java.math.BigDecimal]("revenue").doubleValue()
    assert(cell(("EU13 and AS2", "R")) === solo)
  }

  test("a mixed-depth other factor keeps per-depth tuples on the " +
      "fused dim-calc crossjoin") {
    val rows = Mdx.execute(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN({[customer].[EU13 and AS2]},
        |            {[time].[1995], [time].[1995].[1995-Q1]}) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    assert(rows.length === 2)
    def solo(where: String): Double = Mdx.execute(
      s"""SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE ({[customer].[EUROPE].[NATION_13],
        |        [customer].[ASIA].[NATION_2]}, $where)""".stripMargin,
      cube).collect().head
      .getAs[java.math.BigDecimal]("revenue").doubleValue()
    val byQ = rows.map(r => Option(r.getAs[String]("d_yq")) ->
      r.getAs[java.math.BigDecimal]("revenue").doubleValue()).toMap
    assert(byQ(None) === solo("[time].[1995]"))
    assert(byQ(Some("1995-Q1")) === solo("[time].[1995].[1995-Q1]"))
  }

  // Expected rows of the next two specs are the output of the previous
  // per-entry lowering (one sub-query per literal run) on this sf0.001
  // corpus: each axis row as "entry|year|revenue|calc"
  private def axisRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|"))

  test("a WINDOW calc measure over CROSSJOIN({calc}, years) runs per " +
      "axis entry: the lag partitions by entry") {
    val withs = Mdx.parse(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]""".stripMargin, cube).withMembers
    val df = withs.foldLeft(Query.from(cube).columns("revenue", "prev_rev"))(
        _.withMember(_))
      .withMember(CalcMember("prev_rev",
        WindowCalc("revenue", WinKind.LagK(1), "time")))
      .rows(CrossJoin(
        Members("customer", Seq(Seq("AMERICA"), Seq("EU13 and AS2"))),
        LevelMembers("time", "year")))
      .execute()
    assert(axisRows(df) === Seq(
      "AMERICA|1995|12849601.1392000000|null",
      "AMERICA|1996|11057183.2537000000|12849601.1392000000",
      "AMERICA|1997|8698093.7983000000|11057183.2537000000",
      "AMERICA|1998|11170283.7237000000|8698093.7983000000",
      "AMERICA|1999|9210961.0896000000|11170283.7237000000",
      "AMERICA|2000|8206958.5577000000|9210961.0896000000",
      "AMERICA|2001|6097381.0974000000|8206958.5577000000",
      "EU13 and AS2|1995|4636311.6044000000|null",
      "EU13 and AS2|1996|3395367.7016000000|4636311.6044000000",
      "EU13 and AS2|1997|3745465.6790000000|3395367.7016000000",
      "EU13 and AS2|1998|8114906.8828000000|3745465.6790000000",
      "EU13 and AS2|1999|6977779.3839000000|8114906.8828000000",
      "EU13 and AS2|2000|3886494.1578000000|6977779.3839000000",
      "EU13 and AS2|2001|3024954.5265000000|3886494.1578000000"))
  }

  test("a CurrentMember-macro calc measure over CROSSJOIN({calc}, " +
      "years) reads the other factor's member on every entry") {
    val df = Mdx.execute(
      s"""WITH $Eu13As2Def
        |MEMBER [Measures].[rev95] AS
        |  'IIf([time].CurrentMember.Name = "1995", [Measures].[revenue], 0)'
        |SELECT {[Measures].[revenue], [Measures].[rev95]} ON COLUMNS,
        |  CROSSJOIN({[customer].[AMERICA], [customer].[EU13 and AS2]},
        |            [time].[year].Members) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    assert(axisRows(df) === Seq(
      "AMERICA|1995|12849601.1392000000|12849601.1392000000",
      "AMERICA|1996|11057183.2537000000|0E-10",
      "AMERICA|1997|8698093.7983000000|0E-10",
      "AMERICA|1998|11170283.7237000000|0E-10",
      "AMERICA|1999|9210961.0896000000|0E-10",
      "AMERICA|2000|8206958.5577000000|0E-10",
      "AMERICA|2001|6097381.0974000000|0E-10",
      "EU13 and AS2|1995|4636311.6044000000|4636311.6044000000",
      "EU13 and AS2|1996|3395367.7016000000|0E-10",
      "EU13 and AS2|1997|3745465.6790000000|0E-10",
      "EU13 and AS2|1998|8114906.8828000000|0E-10",
      "EU13 and AS2|1999|6977779.3839000000|0E-10",
      "EU13 and AS2|2000|3886494.1578000000|0E-10",
      "EU13 and AS2|2001|3024954.5265000000|0E-10"))
  }

  test("a calc member in a compound WHERE set joins the OR union; " +
      "cross-dim calc sets and computed slicer sets refuse loudly") {
    def cell(mdx: String): Any =
      Mdx.execute(mdx, cube).collect().head.get(0)
    // mixed stored + calc in one braced WHERE set = the OR of the
    // calc's resolved members with the stored entries — never a
    // silently-missing calc contribution
    val mixed = cell(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE {[customer].[EU13 and AS2],
        |       [customer].[AMERICA].[NATION_1]}""".stripMargin)
    val literal = cell(
      """SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE {[customer].[EUROPE].[NATION_13],
        |       [customer].[ASIA].[NATION_2],
        |       [customer].[AMERICA].[NATION_1]}""".stripMargin)
    assert(mixed === literal)
    // two calc members OR together the same way
    val twoCalcs = cell(
      s"""WITH $Eu13As2Def
        |MEMBER [customer].[AM1] AS
        |  'Aggregate({[customer].[AMERICA].[NATION_1]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE {[customer].[EU13 and AS2],
        |       [customer].[AM1]}""".stripMargin)
    assert(twoCalcs === literal)
    // a calc aggregating a cross-dim set cannot distribute over a
    // same-dim OR: refuse, never under-count
    val e = intercept[IllegalArgumentException] {
      Mdx.execute(
        """WITH MEMBER [customer].[AS95] AS
          |  'Aggregate(CROSSJOIN({[customer].[ASIA]}, {[time].[1995]}))'
          |SELECT {[Measures].[revenue]} ON COLUMNS
          |FROM [Sales]
          |WHERE {[customer].[AS95],
          |       [customer].[AMERICA].[NATION_1]}""".stripMargin, cube)
        .collect()
    }
    assert(e.getMessage.contains("compound slicer"), e.getMessage)
    // a computed slicer set that flattens to literal entries
    // (Head/Union/Tail/Subset over braces) EXECUTES as the compound
    // OR form — r13 refused these shapes; the set machinery would
    // have silently filtered the calc member to nothing
    val headSlicer = cell(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE (HEAD({[customer].[EU13 and AS2],
        |             [customer].[AMERICA].[NATION_1]}, 2))""".stripMargin)
    assert(headSlicer === mixed)
    val unionSlicer = cell(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE (UNION({[customer].[EU13 and AS2]},
        |             {[customer].[AMERICA].[NATION_1]}))""".stripMargin)
    assert(unionSlicer === mixed)
    // a positional slice DROPPING the stored entry leaves the calc
    // member alone — the member-form WHERE
    val calcOnly = cell(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE ([customer].[EU13 and AS2])""".stripMargin)
    val headOne = cell(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE (HEAD({[customer].[EU13 and AS2],
        |             [customer].[AMERICA].[NATION_1]}, 1))""".stripMargin)
    assert(headOne === calcOnly)
    // a cell-valued op (Filter/Order) in a slicer EXECUTES (r14
    // refused): the condition evaluates in the DEFAULT context — the
    // computed-slicer convention; WHERE is being built, so no slicer
    // applies — and the SURVIVORS form the compound OR
    val filterSlicer = cell(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE (FILTER({[customer].[EU13 and AS2],
        |               [customer].[AMERICA].[NATION_1]},
        |              [Measures].[revenue] > 0))""".stripMargin)
    assert(filterSlicer === mixed)
    // pruned to EMPTY: the slicer matches nothing — null cell (the
    // empty-computed-slicer totality convention), never a crash
    val noneLeft = cell(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE (FILTER({[customer].[EU13 and AS2],
        |               [customer].[AMERICA]},
        |              [Measures].[revenue] < 0))""".stripMargin)
    assert(noneLeft == null)
    // ORDER(BDESC) + HEAD(1) keeps whichever entry's CONTEXT total
    // is larger
    def dv(a: Any): Double =
      a.asInstanceOf[java.math.BigDecimal].doubleValue()
    val soloAm = cell(
      """SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE ([customer].[AMERICA])""".stripMargin)
    val top1 = cell(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE (HEAD(ORDER({[customer].[EU13 and AS2],
        |                   [customer].[AMERICA]},
        |                  [Measures].[revenue], BDESC), 1))""".stripMargin)
    assert(dv(top1) === math.max(dv(calcOnly), dv(soloAm)))
  }

  test("Union/Head/Tail/Subset over a calc-bearing axis set execute " +
      "position-keyed (r13 refused these shapes)") {
    def rows(axis: String): Seq[(String, Double)] = Mdx.execute(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  $axis ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().toSeq
      .map(r => r.getString(0) ->
        r.getAs[java.math.BigDecimal]("revenue").doubleValue())
    val mixed = rows("{[customer].[AMERICA], [customer].[EU13 and AS2]}")
    assert(mixed.map(_._1) === Seq("AMERICA", "EU13 and AS2"))
    // Union concatenates position-keyed entries in order
    assert(rows("UNION({[customer].[AMERICA]}, " +
      "{[customer].[EU13 and AS2]})") === mixed)
    // nested braces are the ALL form — duplicates stay
    assert(rows("{{[customer].[AMERICA]}, {[customer].[EU13 and AS2]}}")
      === mixed)
    // non-ALL Union dedups, first occurrence wins (UnionFunDef)
    assert(rows("UNION({[customer].[AMERICA], [customer].[EU13 and AS2]}, " +
      "{[customer].[AMERICA]})") === mixed)
    // positional slicing before any cell exists
    assert(rows("HEAD({[customer].[AMERICA], [customer].[EU13 and AS2]}, 1)")
      === mixed.take(1))
    assert(rows("TAIL({[customer].[AMERICA], [customer].[EU13 and AS2]}, 1)")
      === mixed.drop(1))
    assert(rows("SUBSET({[customer].[ASIA], [customer].[EU13 and AS2], " +
      "[customer].[AMERICA]}, 1, 1)") === mixed.drop(1))
    // a sliced calc set still crossjoins with other factors (the
    // flattened entries re-enter the fused single-pass machinery)
    val cj = Mdx.execute(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN(
        |    HEAD({[customer].[EU13 and AS2], [customer].[AMERICA]}, 1),
        |    {[time].[1995], [time].[1996]}) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    assert(cj.length === 2)
    assert(cj.forall(_.getString(0) == "EU13 and AS2"))
  }

  test("Filter/Order over a calc-bearing axis set evaluate then prune " +
      "(r13 refused these shapes)") {
    val SetLit = "{[customer].[AMERICA], [customer].[EU13 and AS2], " +
      "[customer].[EUROPE]}"
    def rows(axis: String, extraWith: String = ""): Seq[(String, Double)] =
      Mdx.execute(
        s"""WITH $Eu13As2Def
          |$extraWith
          |SELECT {[Measures].[revenue]} ON COLUMNS,
          |  $axis ON ROWS
          |FROM [Sales]""".stripMargin, cube).collect().toSeq
        .map(r => r.getString(0) ->
          r.getAs[java.math.BigDecimal]("revenue").doubleValue())
    val base = rows(SetLit)
    assert(base.length === 3)
    // a threshold between the min and max keeps a strict subset
    val t = base.map(_._2).sorted.apply(1) - 0.5
    val kept = base.filter(_._2 > t)
    assert(kept.length < 3 && kept.nonEmpty)
    // Filter prunes by the cell predicate, input order preserved
    assert(rows(s"FILTER($SetLit, [Measures].[revenue] > $t)") === kept)
    // Order(BDESC) re-ranks by value; Head above it takes the top
    val desc = base.sortBy(-_._2)
    assert(rows(s"ORDER($SetLit, [Measures].[revenue], BDESC)") === desc)
    assert(rows(s"HEAD(ORDER($SetLit, [Measures].[revenue], BDESC), 2)")
      === desc.take(2))
    // Head above a Filter counts the FILTERED set
    assert(rows(s"HEAD(FILTER($SetLit, [Measures].[revenue] > $t), 1)")
      === kept.take(1))
    // a condition over a Measures-hosted expression calc (applyCalcs
    // computes it on the fused frame) — same surviving rows as the
    // stored-measure condition, extra measure dropped
    val viaCalc = rows(
      s"FILTER($SetLit, [Measures].[rev2] > ${2 * t})",
      "MEMBER [Measures].[rev2] AS '[Measures].[revenue] * 2'")
    assert(viaCalc === kept)
    // CurrentMember.Name resolves against the entry label
    assert(rows(s"FILTER($SetLit, " +
      "[customer].CurrentMember.Name = \"EU13 and AS2\")")
      === base.filter(_._1 == "EU13 and AS2"))
  }

  test("an enumerable calc-free set composes with calc entries: " +
      "Union({calc}, level.Members) and positional ops over it") {
    def rows(axis: String): Seq[String] = Mdx.execute(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  $axis ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().toSeq
      .map(_.getString(0))
    // region.Members enumerates in hierarchical order and concatenates
    // after the calc entry (position-keyed)
    assert(rows("UNION({[customer].[EU13 and AS2]}, " +
      "[customer].[region].Members)") ===
      "EU13 and AS2" +: rows("[customer].[region].Members"))
    // Head over the combined list slices before any cell is computed
    assert(rows("HEAD(UNION({[customer].[EU13 and AS2]}, " +
      "[customer].[region].Members), 3)").length === 3)
    // values survive: the calc cell equals its solo compound WHERE
    val df = Mdx.execute(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  UNION({[customer].[EU13 and AS2]},
        |        [customer].[region].Members) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    val solo = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE {[customer].[EUROPE].[NATION_13],
        |       [customer].[ASIA].[NATION_2]}""".stripMargin, cube)
      .collect().head.getAs[java.math.BigDecimal]("revenue")
    assert(df.head.getAs[java.math.BigDecimal]("revenue") === solo)
    // a CELL-DEPENDENT calc-free side enumerates too, its condition
    // evaluated in the query context (TopCount here: the two largest
    // regions by revenue join the calc entry)
    val top2 = rows("TOPCOUNT([customer].[region].Members, 2, " +
      "[Measures].[revenue])")
    assert(rows("UNION({[customer].[EU13 and AS2]}, " +
      "TOPCOUNT([customer].[region].Members, 2, " +
      "[Measures].[revenue]))") === "EU13 and AS2" +: top2)
  }

  test("non-breaking Order over a calc-bearing set sorts " +
      "hierarchically: ancestors before descendants, siblings by " +
      "value (Sorter.sortMembers brk=false; r14 refused the shape)") {
    def rows(axis: String, extra: String = ""): Seq[String] =
      Mdx.execute(
        s"""WITH $Eu13As2Def
          |MEMBER [customer].[N13 solo] AS
          |  'Aggregate({[customer].[EUROPE].[NATION_13]})'
          |$extra
          |SELECT {[Measures].[revenue]} ON COLUMNS,
          |  $axis ON ROWS
          |FROM [Sales]""".stripMargin, cube).collect().toSeq
        .map(_.getString(0))
    // a FLAT root-hosted set: every entry is a sibling, so the
    // hierarchical sort degenerates to the value sort — ASC == BASC
    val flat = "{[customer].[AMERICA], [customer].[EU13 and AS2], " +
      "[customer].[EUROPE], [customer].[AFRICA]}"
    assert(rows(s"ORDER($flat, [Measures].[revenue], ASC)") ===
      rows(s"ORDER($flat, [Measures].[revenue], BASC)"))
    // a MIXED-depth set: [N13 solo] aggregates a strict subset of
    // EUROPE, so it sorts before EUROPE at the root; EUROPE's child
    // NATION_18 stays directly under its parent whatever its value
    val hier = "{[customer].[EUROPE].[NATION_18], [customer].[EUROPE], " +
      "[customer].[N13 solo]}"
    assert(rows(s"ORDER($hier, [Measures].[revenue], ASC)") ===
      Seq("N13 solo", "EUROPE", "NATION_18"))
    // DESC flips sibling order but ancestors still precede children
    assert(rows(s"ORDER($hier, [Measures].[revenue], DESC)") ===
      Seq("EUROPE", "NATION_18", "N13 solo"))
    // two children sort by value among themselves, under their parent
    val hier2 = "{[customer].[EUROPE], [customer].[EUROPE].[NATION_13]," +
      " [customer].[EUROPE].[NATION_18], [customer].[N13 solo]}"
    val asc2 = rows(s"ORDER($hier2, [Measures].[revenue], ASC)")
    def rev(nation: String): Double = Mdx.execute(
      s"""SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE ([customer].[EUROPE].[$nation])""".stripMargin, cube)
      .collect().head.getAs[java.math.BigDecimal]("revenue")
      .doubleValue()
    val n13First = rev("NATION_13") < rev("NATION_18")
    val kids = if (n13First) Seq("NATION_13", "NATION_18")
      else Seq("NATION_18", "NATION_13")
    assert(asc2 === ("N13 solo" +: "EUROPE" +: kids))
    // a Measures-hosted expression calc in the sort expression — same
    // hierarchical order
    assert(rows(s"ORDER($hier, [Measures].[rev2], ASC)",
      "MEMBER [Measures].[rev2] AS '[Measures].[revenue] * 2'") ===
      Seq("N13 solo", "EUROPE", "NATION_18"))
    // Order ABOVE a Filter that pruned an ANCESTOR still ranks
    // through the ancestor's cell (Mondrian evaluates out-of-set
    // members): dropping EUROPE must not collapse its children's
    // group rank against the root-level calc
    val vEur = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE ([customer].[EUROPE])""".stripMargin, cube).collect()
      .head.getAs[java.math.BigDecimal]("revenue").doubleValue()
    assert(rows(s"ORDER(FILTER($hier2, [Measures].[revenue] < $vEur)," +
      " [Measures].[revenue], ASC)") === ("N13 solo" +: kids))
    // an entry whose ancestor is MISSING from the set (r15: the
    // ancestor joins as a hidden rank-only entry — Mondrian evaluates
    // out-of-set members): NATION_13 ranks through hidden EUROPE,
    // which outranks the equal-valued calc at the root
    val miss = "{[customer].[EUROPE].[NATION_13], [customer].[N13 solo]}"
    assert(rows(s"ORDER($miss, [Measures].[revenue], ASC)") ===
      Seq("N13 solo", "NATION_13"))
    assert(rows(s"ORDER($miss, [Measures].[revenue], DESC)") ===
      Seq("NATION_13", "N13 solo"))
  }

  test("non-breaking Order over a PURE-STORED set is value-based too " +
      "(r16): sibling subtrees rank by the ancestors' cells, not by " +
      "member ordinals — the ordinary path shares Sorter.sortMembers " +
      "brk=false with the calc-bearing branch") {
    def rows(axis: String): Seq[String] =
      Mdx.execute(
        s"""SELECT {[Measures].[revenue]} ON COLUMNS,
          |  $axis ON ROWS
          |FROM [Sales]""".stripMargin, cube).collect().toSeq
        .map { r =>
          val cols = r.schema.fieldNames
          Seq("cr_nation", "cr_region").collectFirst {
            case c if cols.contains(c) && !r.isNullAt(r.fieldIndex(c)) =>
              r.getString(r.fieldIndex(c))
          }.get
        }
    def ctxRev(where: String): Double = Mdx.execute(
      s"""SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales] WHERE ($where)""".stripMargin, cube)
      .collect().head.getAs[java.math.BigDecimal]("revenue")
      .doubleValue()
    // single-level stored set: no hierarchy — ASC degenerates to BASC
    assert(rows("ORDER([customer].[region].Members, " +
      "[Measures].[revenue], ASC)") ===
      rows("ORDER([customer].[region].Members, " +
        "[Measures].[revenue], BASC)"))
    // mixed-depth stored set: regions rank by their OWN cells (the
    // pre-r16 ordinal sort would pin ASIA before EUROPE whatever the
    // values); a child follows its parent whatever its value
    val eu = ctxRev("[customer].[EUROPE]")
    val as = ctxRev("[customer].[ASIA]")
    val regionsAsc =
      if (eu < as) Seq("EUROPE", "NATION_18", "ASIA")
      else Seq("ASIA", "EUROPE", "NATION_18")
    assert(rows("ORDER({[customer].[EUROPE].[NATION_18], " +
      "[customer].[EUROPE], [customer].[ASIA]}, " +
      "[Measures].[revenue], ASC)") === regionsAsc)
    // uniform leaf set spanning parents: parent groups rank by the
    // PARENTS' cells (evaluated out-of-set — neither region is a set
    // member), nations rank by value within their parent
    val n13 = ctxRev("[customer].[EUROPE].[NATION_13]")
    val n18 = ctxRev("[customer].[EUROPE].[NATION_18]")
    val euKids =
      if (n13 < n18) Seq("NATION_13", "NATION_18")
      else Seq("NATION_18", "NATION_13")
    val leaves =
      if (eu < as) euKids :+ "NATION_2" else "NATION_2" +: euKids
    assert(rows("ORDER({[customer].[EUROPE].[NATION_13], " +
      "[customer].[EUROPE].[NATION_18], " +
      "[customer].[ASIA].[NATION_2]}, " +
      "[Measures].[revenue], ASC)") === leaves)
    // DESC flips both rank layers
    val leavesDesc =
      if (eu < as) "NATION_2" +: euKids.reverse
      else euKids.reverse :+ "NATION_2"
    assert(rows("ORDER({[customer].[EUROPE].[NATION_13], " +
      "[customer].[EUROPE].[NATION_18], " +
      "[customer].[ASIA].[NATION_2]}, " +
      "[Measures].[revenue], DESC)") === leavesDesc)
    // a MULTI-hierarchy (tuple) set is value-based too (r17 —
    // tupleHierOrderSet, Mondrian's HierarchicalTupleComparator):
    // position 0 decides first, compared hierarchically — N13 vs N2
    // walk up to their REGIONS, ranked by the regions' OWN cells with
    // time at the default (all years, NOT the 1995 coordinate). The
    // pre-r17 composite-ordinal sort pinned ASIA first unconditionally.
    val tuples = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  ORDER(CROSSJOIN({[customer].[EUROPE].[NATION_13],
        |                   [customer].[ASIA].[NATION_2]},
        |                  {[time].[1995]}),
        |        [Measures].[revenue], ASC) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().toSeq
      .map(r => r.getString(r.fieldIndex("cr_nation")))
    val tupleWant =
      if (eu < as) Seq("NATION_13", "NATION_2")
      else Seq("NATION_2", "NATION_13")
    assert(tuples === tupleWant)
  }

  test("non-breaking Order over a tuple set — the later position " +
      "ranks WITHIN the earlier coordinate's context, and mixed-depth " +
      "hierarchies execute at ANY tuple position " +
      "(tupleHierOrderSet)") {
    def ctxRev(where: String): Double = Mdx.execute(
      s"""SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales] WHERE ($where)""".stripMargin, cube)
      .collect().head.getAs[java.math.BigDecimal]("revenue")
      .doubleValue()
    // two nations × two years, DESC: nations order by their own
    // all-time cells (same region — the region rank ties); within each
    // nation, years order by THAT nation's yearly cells — Mondrian
    // setContext semantics. A composite sort could not express a year
    // order that differs between the two nations.
    val got = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  ORDER(CROSSJOIN({[customer].[EUROPE].[NATION_13],
        |                   [customer].[EUROPE].[NATION_18]},
        |                  {[time].[1995], [time].[1996]}),
        |        [Measures].[revenue], DESC) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().toSeq
      .map(r => (r.getString(r.fieldIndex("cr_nation")),
        String.valueOf(r.get(r.fieldIndex("d_year")))))
    // null cell (no sales that year) ranks LAST under DESC
    // (desc_nulls_last) — model it as -inf
    def yrRev(n: String, y: String): Double = {
      val r = Mdx.execute(
        s"""SELECT {[Measures].[revenue]} ON COLUMNS
          |FROM [Sales]
          |WHERE ([customer].[EUROPE].[$n], [time].[$y])""".stripMargin,
        cube).collect().head
      if (r.isNullAt(r.fieldIndex("revenue"))) Double.NegativeInfinity
      else r.getAs[java.math.BigDecimal]("revenue").doubleValue()
    }
    def years(n: String): Seq[(String, String)] = {
      val ys = Seq("1995", "1996")
        .sortBy(y => -yrRev(n, y))
      ys.map(y => (n, y))
    }
    val nOrder =
      if (ctxRev("[customer].[EUROPE].[NATION_13]") >=
          ctxRev("[customer].[EUROPE].[NATION_18]"))
        Seq("NATION_13", "NATION_18")
      else Seq("NATION_18", "NATION_13")
    assert(got === nOrder.flatMap(years))
    // a mixed-depth FIRST position executes too (r17): EUROPE is
    // NATION_13's ancestor so it leads both blocks whatever the
    // values; each block's YEARS rank by the cells at ITS depth's
    // grain — EUROPE's years by EUROPE totals, NATION_13's by the
    // nation's own (per-depth passes mixed on the earlier dim)
    val mixedFirst = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  ORDER(CROSSJOIN({[customer].[EUROPE],
        |                   [customer].[EUROPE].[NATION_13]},
        |                  {[time].[1995], [time].[1996]}),
        |        [Measures].[revenue], ASC) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().toSeq
      .map(r => (if (r.isNullAt(r.fieldIndex("cr_nation"))) "EUROPE"
        else r.getString(r.fieldIndex("cr_nation")),
        String.valueOf(r.get(r.fieldIndex("d_year")))))
    // ASC = values ascending, empty cells FIRST (-infinity per
    // FunUtil.compareValues, r18), year-asc tie-break
    def ascYears(rev: String => Double): Seq[String] = {
      val (nn, nul) = Seq("1995", "1996")
        .partition(y => rev(y) != Double.NegativeInfinity)
      nul ++ nn.sortBy(rev)
    }
    def tupRev(where: String): Double = {
      val r = Mdx.execute(
        s"""SELECT {[Measures].[revenue]} ON COLUMNS
          |FROM [Sales] WHERE ($where)""".stripMargin, cube)
        .collect().head
      if (r.isNullAt(r.fieldIndex("revenue"))) Double.NegativeInfinity
      else r.getAs[java.math.BigDecimal]("revenue").doubleValue()
    }
    val euYears = ascYears(y => tupRev(s"[customer].[EUROPE], [time].[$y]"))
    val n13Years = ascYears(y =>
      tupRev(s"[customer].[EUROPE].[NATION_13], [time].[$y]"))
    assert(mixedFirst === euYears.map(("EUROPE", _)) ++
      n13Years.map(("NATION_13", _)))
    // the SAME mixed set is fine as the LAST position
    val lastMixed = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  ORDER(CROSSJOIN({[time].[1995], [time].[1996]},
        |                  {[customer].[EUROPE],
        |                   [customer].[EUROPE].[NATION_13]}),
        |        [Measures].[revenue], ASC) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().toSeq
      .map(r => (String.valueOf(r.get(r.fieldIndex("d_year"))),
        if (r.isNullAt(r.fieldIndex("cr_nation"))) "EUROPE"
        else r.getString(r.fieldIndex("cr_nation"))))
    // years rank by their own cells (customer at default); within each
    // year EUROPE precedes its nation (parent-before-child)
    val yOrder = Seq("1995", "1996")
      .sortBy(y => ctxRev(s"[time].[$y]"))
    assert(lastMixed === yOrder.flatMap(y =>
      Seq((y, "EUROPE"), (y, "NATION_13"))))
    // mixed FIRST position with a DEEP last dim (quarters, dMax=1):
    // the quarter prefix pass runs per depth of the earlier dim —
    // EUROPE's quarters rank by EUROPE cells, NATION_13's by the
    // nation's own (the per-depth mixedCells path; k=0 year ranks tie
    // inside the single 1995 year)
    val deepLast = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  ORDER(CROSSJOIN({[customer].[EUROPE],
        |                   [customer].[EUROPE].[NATION_13]},
        |                  {[time].[1995].[1995-Q1],
        |                   [time].[1995].[1995-Q2]}),
        |        [Measures].[revenue], DESC) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().toSeq
      .map(r => (if (r.isNullAt(r.fieldIndex("cr_nation"))) "EUROPE"
        else r.getString(r.fieldIndex("cr_nation")),
        r.getString(r.fieldIndex("d_yq"))))
    def descQs(ctx: String): Seq[String] = {
      val qs = Seq("1995-Q1", "1995-Q2")
      val (nn, nul) = qs.partition(q =>
        tupRev(s"$ctx, [time].[1995].[$q]") != Double.NegativeInfinity)
      nn.sortBy(q => -tupRev(s"$ctx, [time].[1995].[$q]")) ++ nul
    }
    assert(deepLast ===
      descQs("[customer].[EUROPE]").map(("EUROPE", _)) ++
      descQs("[customer].[EUROPE].[NATION_13]").map(("NATION_13", _)))
  }

  test("non-breaking Order over a tuple set evaluates its ranks UNDER " +
      "the query slicer (the comparator's evaluator carries the WHERE " +
      "context into every sibling comparison)") {
    def slRev(where: String): Double = {
      val r = Mdx.execute(
        s"""SELECT {[Measures].[revenue]} ON COLUMNS
          |FROM [Sales] WHERE ($where)""".stripMargin, cube)
        .collect().head
      if (r.isNullAt(r.fieldIndex("revenue"))) Double.NegativeInfinity
      else r.getAs[java.math.BigDecimal]("revenue").doubleValue()
    }
    val got = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  ORDER(CROSSJOIN({[customer].[EUROPE].[NATION_13],
        |                   [customer].[EUROPE].[NATION_18]},
        |                  {[time].[1995], [time].[1996]}),
        |        [Measures].[revenue], DESC) ON ROWS
        |FROM [Sales] WHERE ([returnflag].[R])""".stripMargin, cube)
      .collect().toSeq
      .map(r => (r.getString(r.fieldIndex("cr_nation")),
        String.valueOf(r.get(r.fieldIndex("d_year")))))
    def descBy[T](xs: Seq[T])(rev: T => Double): Seq[T] = {
      val (nn, nul) = xs.partition(rev(_) != Double.NegativeInfinity)
      nn.sortBy(x => -rev(x)) ++ nul
    }
    // every rank layer reads R-flag cells, not unsliced totals
    val want = descBy(Seq("NATION_13", "NATION_18"))(n =>
      slRev(s"[customer].[EUROPE].[$n], [returnflag].[R]"))
      .flatMap { n =>
        descBy(Seq("1995", "1996"))(y => slRev(
          s"[customer].[EUROPE].[$n], [time].[$y], [returnflag].[R]"))
          .map(y => (n, y))
      }
    assert(got === want)
  }

  test("PROPERTY: tuple non-breaking Order matches an independent " +
      "reference comparator over randomized member sets, both " +
      "directions (HierarchicalTupleComparator reimplemented in-test " +
      "from cell maps fetched in four passes)") {
    // cell maps at every grain the comparator can read, one pass each
    def cellMap(axis: String, keyCols: Seq[String]): Map[Seq[String], Double] =
      Mdx.execute(
        s"""SELECT {[Measures].[revenue]} ON COLUMNS,
          |  $axis ON ROWS
          |FROM [Sales]""".stripMargin, cube).collect().toSeq.map { r =>
        keyCols.map(c => String.valueOf(r.get(r.fieldIndex(c)))) ->
          (if (r.isNullAt(r.fieldIndex("revenue"))) Double.NaN
           else r.getAs[java.math.BigDecimal]("revenue").doubleValue())
      }.toMap
    val regionRev = cellMap("[customer].[region].Members", Seq("cr_region"))
    val nationRev = cellMap("[customer].[nation].Members",
      Seq("cr_region", "cr_nation"))
    val regionYear = cellMap(
      "CROSSJOIN([customer].[region].Members, [time].[year].Members)",
      Seq("cr_region", "d_year"))
    val nationYear = cellMap(
      "CROSSJOIN([customer].[nation].Members, [time].[year].Members)",
      Seq("cr_region", "cr_nation", "d_year"))
    val regions = regionRev.keys.map(_.head).toSeq.sorted
    val nations = nationRev.keys.toSeq.sortBy(_.mkString("/"))
    // customer member = its full path (region) or (region, nation)
    type M = Seq[String]
    // value compare in direction `desc`: an empty cell is -infinity
    // (FunUtil.compareValues — ASC empties first, DESC empties last),
    // ties by key ascending
    def byValue(v1: Double, v2: Double, k1: String, k2: String,
        desc: Boolean): Int = {
      val c =
        if (v1.isNaN && v2.isNaN) 0
        else if (v1.isNaN) { if (desc) 1 else -1 }
        else if (v2.isNaN) { if (desc) -1 else 1 }
        else {
          val raw = java.lang.Double.compare(v1, v2)
          if (desc) -raw else raw
        }
      if (c != 0) c else k1.compareTo(k2)
    }
    // FunUtil.compareHierarchicallyButSiblingsByValue over customer
    // paths, sibling values read from the maps at the sibling's depth
    def cmpCust(a: M, b: M, desc: Boolean): Int = {
      if (a == b) 0
      else if (a.length < b.length) {
        if (b.startsWith(a)) -1 // ancestor precedes its descendant
        else cmpCust(a, b.dropRight(1), desc)
      } else if (a.length > b.length) {
        if (a.startsWith(b)) 1
        else cmpCust(a.dropRight(1), b, desc)
      } else if (a.dropRight(1) != b.dropRight(1))
        cmpCust(a.dropRight(1), b.dropRight(1), desc)
      else { // siblings
        val (v1, v2) =
          if (a.length == 1) (regionRev(a), regionRev(b))
          else (nationRev(a), nationRev(b))
        byValue(v1, v2, a.last, b.last, desc)
      }
    }
    def cmpYear(ctx: M, y1: String, y2: String, desc: Boolean): Int = {
      val m = if (ctx.length == 1) regionYear else nationYear
      byValue(m.getOrElse(ctx :+ y1, Double.NaN),
        m.getOrElse(ctx :+ y2, Double.NaN), y1, y2, desc)
    }
    def mdxOf(m: M): String =
      "[customer]." + m.map(p => s"[$p]").mkString(".")
    val rnd = new scala.util.Random(0x517cafe)
    val years = Seq("1995", "1996", "1997")
    for (trial <- 1 to 10) {
      val pool = rnd.shuffle(regions.map(Seq(_)) ++ nations)
      val custSet: Seq[M] = pool.take(2 + rnd.nextInt(4))
      val yrSet = rnd.shuffle(years).take(1 + rnd.nextInt(3)).sorted
      val desc = rnd.nextBoolean()
      val got = Mdx.execute(
        s"""SELECT {[Measures].[revenue]} ON COLUMNS,
          |  ORDER(CROSSJOIN({${custSet.map(mdxOf).mkString(", ")}},
          |                  {${yrSet.map(y => s"[time].[$y]").mkString(", ")}}),
          |        [Measures].[revenue], ${if (desc) "DESC" else "ASC"})
          |    ON ROWS
          |FROM [Sales]""".stripMargin, cube).collect().toSeq
        .map { r =>
          val reg = r.getString(r.fieldIndex("cr_region"))
          val nat = // an all-region trial's frame has no nation column
            if (!r.schema.fieldNames.contains("cr_nation")) None
            else if (r.isNullAt(r.fieldIndex("cr_nation"))) None
            else Some(r.getString(r.fieldIndex("cr_nation")))
          (Seq(reg) ++ nat, String.valueOf(r.get(r.fieldIndex("d_year"))))
        }
      val want = custSet.flatMap(c => yrSet.map(y => (c, y)))
        .sortWith { case ((c1, y1), (c2, y2)) =>
          val c = cmpCust(c1, c2, desc)
          if (c != 0) c < 0 else cmpYear(c1, y1, y2, desc) < 0
        }
      assert(got === want, s"trial $trial: set=$custSet years=$yrSet " +
        s"desc=$desc")
    }
  }

  test("non-breaking Order over a THREE-position tuple: each position " +
      "ranks within ALL earlier coordinates' context (the comparator " +
      "generalizes past two hierarchies)") {
    def tupRev(where: String): Double = {
      val r = Mdx.execute(
        s"""SELECT {[Measures].[revenue]} ON COLUMNS
          |FROM [Sales] WHERE ($where)""".stripMargin, cube)
        .collect().head
      if (r.isNullAt(r.fieldIndex("revenue"))) Double.NegativeInfinity
      else r.getAs[java.math.BigDecimal]("revenue").doubleValue()
    }
    val flags = Seq("A", "N")
    val got = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  ORDER(CROSSJOIN(CROSSJOIN(
        |           {[customer].[EUROPE].[NATION_13],
        |            [customer].[EUROPE].[NATION_18]},
        |           {[time].[1995], [time].[1996]}),
        |         {[returnflag].[A], [returnflag].[N]}),
        |        [Measures].[revenue], DESC) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().toSeq
      .map(r => (r.getString(r.fieldIndex("cr_nation")),
        String.valueOf(r.get(r.fieldIndex("d_year"))),
        r.getString(r.fieldIndex("l_returnflag"))))
    // expected: nations by their FULL cells (same region — region rank
    // ties), years by (nation, year) cells within each nation, flags
    // by (nation, year, flag) cells within each (nation, year)
    def descBy[T](xs: Seq[T])(rev: T => Double): Seq[T] = {
      val (nn, nul) = xs.partition(rev(_) != Double.NegativeInfinity)
      nn.sortBy(x => -rev(x)) ++ nul
    }
    val nOrder = descBy(Seq("NATION_13", "NATION_18"))(n =>
      tupRev(s"[customer].[EUROPE].[$n]"))
    val want = nOrder.flatMap { n =>
      descBy(Seq("1995", "1996"))(y =>
        tupRev(s"[customer].[EUROPE].[$n], [time].[$y]")).flatMap { y =>
        descBy(flags)(f => tupRev(
          s"[customer].[EUROPE].[$n], [time].[$y], [returnflag].[$f]"))
          .map(f => (n, y, f))
      }
    }
    assert(got === want)
  }

  test("value-based non-breaking Order over a THREE-level stored set " +
      "(the mixed-prefix grouping-sets branch of tupleHierOrderSet): " +
      "ancestors precede descendants through every depth, sibling " +
      "quarters rank by their own cells") {
    def caption(r: org.apache.spark.sql.Row): String = {
      val cols = r.schema.fieldNames
      Seq("d_ym", "d_yq", "d_year").collectFirst {
        case c if cols.contains(c) && !r.isNullAt(r.fieldIndex(c)) =>
          String.valueOf(r.get(r.fieldIndex(c)))
      }.get
    }
    def rows(axis: String): Seq[String] = Mdx.execute(
      s"""SELECT {[Measures].[revenue]} ON COLUMNS,
        |  $axis ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().toSeq.map(caption)
    // a single ancestor chain (year > quarter > month): hierarchical
    // order is the chain order in BOTH directions — depth beats value
    val chain = "{[time].[1995].[1995-Q2].[1995-05], [time].[1995], " +
      "[time].[1995].[1995-Q2]}"
    assert(rows(s"ORDER($chain, [Measures].[revenue], ASC)") ===
      Seq("1995", "1995-Q2", "1995-05"))
    assert(rows(s"ORDER($chain, [Measures].[revenue], DESC)") ===
      Seq("1995", "1995-Q2", "1995-05"))
    // two quarter subtrees with a month each: quarters rank by their
    // OWN cells, each month stays under its quarter
    def qRev(q: String): Double = Mdx.execute(
      s"""SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales] WHERE ([time].[1995].[$q])""".stripMargin, cube)
      .collect().head.getAs[java.math.BigDecimal]("revenue")
      .doubleValue()
    val q1First = qRev("1995-Q1") > qRev("1995-Q2") // DESC
    val two = "{[time].[1995].[1995-Q1], [time].[1995].[1995-Q2], " +
      "[time].[1995].[1995-Q1].[1995-02], " +
      "[time].[1995].[1995-Q2].[1995-05]}"
    val want =
      if (q1First) Seq("1995-Q1", "1995-02", "1995-Q2", "1995-05")
      else Seq("1995-Q2", "1995-05", "1995-Q1", "1995-02")
    assert(rows(s"ORDER($two, [Measures].[revenue], DESC)") === want)
  }

  test("non-ALL Union dedups a literal member against an ENUMERATED " +
      "side on a non-string level: parser Strings and native column " +
      "values normalize to one member (UnionFunDef)") {
    // [time].[1995] parses as the String "1995"; HEAD(year.Members, 2)
    // enumerates native Integer years — the same member either way,
    // and Mondrian's non-ALL Union renders it ONCE (first wins)
    val rows = Mdx.execute(
      """WITH MEMBER [time].[Y96] AS 'Aggregate({[time].[1996]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  UNION({[time].[Y96], [time].[1995]},
        |        HEAD([time].[year].Members, 2)) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().toSeq
      .map(_.getString(0))
    assert(rows === Seq("Y96", "1995", "1996"))
  }

  test("NonEmptyCrossJoin with a calc factor keeps exactly the tuples " +
      "with fact support (r13 refused the shape)") {
    // a calc over a nonexistent member aggregates the EMPTY set: its
    // tuples have no fact support and NECJ must drop them, while the
    // plain CrossJoin keeps them with count-0/null cells
    def q(cj: String) = Mdx.execute(
      s"""WITH $Eu13As2Def
        |MEMBER [customer].[Ghost] AS
        |  'Aggregate({[customer].[EUROPE].[NO_SUCH_NATION]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  $cj({[customer].[EU13 and AS2], [customer].[Ghost]},
        |      {[time].[1995], [time].[1996]}) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    val cj = q("CROSSJOIN")
    assert(cj.length === 4)
    val necj = q("NONEMPTYCROSSJOIN")
    assert(necj.length === 2)
    assert(necj.forall(_.getString(0) == "EU13 and AS2"))
    // surviving cells identical between the two forms
    val cjCells = cj.filter(_.getString(0) == "EU13 and AS2")
      .map(r => r.getInt(1) -> r.get(2)).toMap
    necj.foreach(r => assert(r.get(2) === cjCells(r.getInt(1))))
  }

  test("NECJ nested under an outer CrossJoin evaluates tuple support " +
      "at the NECJ's OWN grain: unsupported outer combinations keep " +
      "their null-cell rows (Mondrian NonEmptyCrossJoinFunDef)") {
    // Customer#000000112 (EUROPE/NATION_13) has fact support in 1996
    // and 1997, but no flag-N lineitems in 1996 and only flag-A in
    // 1997 (sf0.001) — the NECJ keeps both (C112, year) pairs, and
    // the OUTER crossjoin with the flag level must keep all 6 rows,
    // 3 of them null-cell; full-axis-grain support would drop those 3
    val C112Def =
      """MEMBER [customer].[C112] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13]
        |               .[Customer#000000112]})'
        |MEMBER [customer].[Ghost] AS
        |  'Aggregate({[customer].[EUROPE].[NO_SUCH_NATION]})'"""
        .stripMargin
    def q(inner: String) = Mdx.execute(
      s"""WITH $C112Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN($inner({[customer].[C112], [customer].[Ghost]},
        |                   {[time].[1996], [time].[1997]}),
        |            [returnflag].[returnflag].Members) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    val cj = q("CROSSJOIN") // 2 entries x 2 years x 3 flags
    assert(cj.length === 12)
    val necj = q("NONEMPTYCROSSJOIN")
    // Ghost pairs dropped (no support at the NECJ grain); C112 keeps
    // BOTH years x ALL 3 flags even where the (year, flag) cell is
    // empty — the outer factor is not in the NECJ's context
    assert(necj.length === 6)
    assert(necj.forall(_.getString(0) == "C112"))
    val empties = necj.filter(_.isNullAt(3))
      .map(r => (r.getInt(1), r.getString(2))).toSet
    assert(empties === Set((1996, "N"), (1997, "N"), (1997, "R")))
    // supported cells identical to the plain CrossJoin's
    val cjCells = cj.filter(_.getString(0) == "C112")
      .map(r => (r.getInt(1), r.getString(2)) -> r.get(3)).toMap
    necj.filterNot(_.isNullAt(3)).foreach(r =>
      assert(r.get(3) === cjCells((r.getInt(1), r.getString(2)))))
  }

  test("Measures-hosted EXPRESSION calcs ride the fused dim-calc " +
      "pass: NECJ and multi-factor shapes execute with them " +
      "(r14 refused; context-dependent calcs still fall back)") {
    // NECJ + expr calc: r14 refused this exact shape (fused-only +
    // calc-hosted measure). Now the expr computes post-agg on the
    // fused frame: same tuple support, each cell 2x the stored twin
    def q(measure: String, sel: String) = Mdx.execute(
      s"""WITH $Eu13As2Def
        |MEMBER [customer].[Ghost] AS
        |  'Aggregate({[customer].[EUROPE].[NO_SUCH_NATION]})'
        |MEMBER [Measures].[rev2] AS '[Measures].[revenue] * 2'
        |SELECT {$sel} ON COLUMNS,
        |  NONEMPTYCROSSJOIN({[customer].[EU13 and AS2],
        |                     [customer].[Ghost]},
        |                    {[time].[1995], [time].[1996]}) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        r.getAs[java.math.BigDecimal](measure).doubleValue()).toMap
    val doubled = q("rev2", "[Measures].[rev2]")
    val stored = q("revenue", "[Measures].[revenue]")
    assert(doubled.keySet === stored.keySet && doubled.size === 2)
    doubled.foreach { case (k, v) => assert(v === stored(k) * 2) }
    // two calc factors + expr measure: also fused now
    val two = Mdx.execute(
      s"""WITH $Eu13As2Def
        |MEMBER [time].[Y9596] AS
        |  'Aggregate({[time].[1995], [time].[1996]})'
        |MEMBER [Measures].[rev2] AS '[Measures].[revenue] * 2'
        |SELECT {[Measures].[rev2], [Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN({[customer].[AMERICA], [customer].[EU13 and AS2]},
        |            {[time].[Y9596]}) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    assert(two.length === 2)
    two.foreach { r =>
      assert(r.getAs[java.math.BigDecimal]("rev2").doubleValue() ===
        r.getAs[java.math.BigDecimal]("revenue").doubleValue() * 2)
    }
  }

  test("TWO disjoint NECJs under one CrossJoin evaluate support " +
      "independently, each at its own grain") {
    // g0: C112 has flag-A/N/R support overall; Ghost drops. g1: 1997
    // has all five priorities. The CROSSJOIN of the two NECJs keeps
    // the full 3x5 grid even though C112's 1997 activity is exactly
    // ONE lineitem (flag A, priority 2-HIGH) — joint emptiness never
    // prunes, only each NECJ's own marginal support does
    val rows = Mdx.execute(
      """WITH MEMBER [customer].[C112] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13]
        |               .[Customer#000000112]})'
        |MEMBER [customer].[Ghost] AS
        |  'Aggregate({[customer].[EUROPE].[NO_SUCH_NATION]})'
        |MEMBER [time].[Y97] AS 'Aggregate({[time].[1997]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN(
        |    NONEMPTYCROSSJOIN({[customer].[C112], [customer].[Ghost]},
        |                      [returnflag].[returnflag].Members),
        |    NONEMPTYCROSSJOIN({[time].[Y97]},
        |                      [priority].[priority].Members)) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    assert(rows.length === 15) // 3 flags x 5 priorities, Ghost gone
    // left-major axis layout (r18): each factor at its own crossjoin
    // position — (customer calc, flag, time calc, priority)
    assert(rows.forall(r =>
      r.getString(0) == "C112" && r.getString(2) == "Y97"))
    val nonNull = rows.filterNot(_.isNullAt(4))
      .map(r => (r.getString(1), r.getString(3))).toSet
    assert(nonNull === Set(("A", "2-HIGH")))
  }

  test("an NECJ nested INSIDE another NECJ keeps the outer grain: " +
      "full-tuple support subsumes the inner filter") {
    def q(axis: String) = Mdx.execute(
      s"""WITH MEMBER [customer].[C112] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13]
        |               .[Customer#000000112]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  $axis ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
    val nested = q(
      """NONEMPTYCROSSJOIN(
        |    NONEMPTYCROSSJOIN({[customer].[C112]},
        |                      {[time].[1996], [time].[1997]}),
        |    [returnflag].[returnflag].Members)""".stripMargin)
    // twin: NON EMPTY over the plain CrossJoin prunes the same rows
    // here (one SumExact measure — null exactly where support is 0)
    val flat = q(
      """NON EMPTY CROSSJOIN(
        |    CROSSJOIN({[customer].[C112]},
        |              {[time].[1996], [time].[1997]}),
        |    [returnflag].[returnflag].Members)""".stripMargin)
    // joint support at sf0.001: 1996 x {A, R}, 1997 x {A}
    assert(nested === flat)
    assert(nested.toSet ===
      Set(("C112", 1996, "A"), ("C112", 1996, "R"), ("C112", 1997, "A")))
  }

  test("Filter/Order over a crossjoined calc factor evaluate " +
      "PRE-crossjoin: the condition sees the entry's context cell, " +
      "not the per-tuple values (r13 refused the shape)") {
    val SetLit = "{[customer].[AMERICA], [customer].[EU13 and AS2], " +
      "[customer].[EUROPE]}"
    def solo(axis: String): Seq[(String, Double)] = Mdx.execute(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  $axis ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().toSeq
      .map(r => r.getString(0) ->
        r.getAs[java.math.BigDecimal]("revenue").doubleValue())
    val base = solo(SetLit)
    // threshold ABOVE every per-year cell but BELOW the smallest
    // entry's all-years total: per-tuple filtering would drop every
    // row of that entry; the pre-crossjoin context keeps them all
    val t = base.map(_._2).min * 0.9
    val kept = base.filter(_._2 > t) // all three, by construction
    assert(kept.length === 3)
    val rows = Mdx.execute(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN(FILTER($SetLit, [Measures].[revenue] > $t),
        |            {[time].[1995], [time].[1996]}) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    assert(rows.length === 6) // 3 surviving entries x 2 years
    // the yearly cells themselves sit BELOW t — proof the condition
    // ran pre-crossjoin, not per tuple
    assert(rows.forall(r =>
      r.getAs[java.math.BigDecimal]("revenue").doubleValue() < t))
    // a REAL prune: threshold between the entries' totals
    val t2 = base.map(_._2).sorted.apply(1) - 0.5
    val kept2 = base.filter(_._2 > t2).map(_._1)
    val rows2 = Mdx.execute(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN(FILTER($SetLit, [Measures].[revenue] > $t2),
        |            {[time].[1995], [time].[1996]}) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    assert(rows2.map(_.getString(0)).distinct.toSeq === kept2)
    assert(rows2.length === kept2.length * 2)
    // Head(Order(..., BDESC), 2) crossjoined: top-2 by CONTEXT value
    val top2 = base.sortBy(-_._2).take(2).map(_._1)
    val rows3 = Mdx.execute(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN(HEAD(ORDER($SetLit, [Measures].[revenue], BDESC),
        |                 2),
        |            {[time].[1995], [time].[1996]}) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    assert(rows3.map(_.getString(0)).distinct.toSeq === top2)
    // surviving cells equal the unfiltered crossjoin's cells
    val full = Mdx.execute(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN($SetLit, {[time].[1995], [time].[1996]}) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.get(2)).toMap
    rows3.foreach(r =>
      assert(r.get(2) === full((r.getString(0), r.getInt(1)))))
  }

  test("Filter/Order over a calc factor alongside a SECOND " +
      "calc-bearing factor evaluates pre-crossjoin, per factor " +
      "(r14 refused the shape)") {
    val TimeDef = "MEMBER [time].[Y9596] AS " +
      "'Aggregate({[time].[1995], [time].[1996]})'"
    val CustSet = "{[customer].[AMERICA], [customer].[EU13 and AS2]}"
    val TimeSet = "{[time].[Y9596], [time].[1995]}"
    def solo(axis: String): Seq[(String, Double)] = Mdx.execute(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  $axis ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().toSeq
      .map(r => r.getString(0) ->
        r.getAs[java.math.BigDecimal]("revenue").doubleValue())
    val base = solo(CustSet)
    // threshold between the two entries' CONTEXT totals: exactly one
    // survives, and the filter grain is the whole query context —
    // the time factor's coordinate is not set when it evaluates
    val t = base.map(_._2).sorted.apply(0) + 0.5
    val kept = base.filter(_._2 > t).map(_._1)
    assert(kept.length === 1)
    val rows = Mdx.execute(
      s"""WITH $Eu13As2Def
        |$TimeDef
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN(FILTER($CustSet, [Measures].[revenue] > $t),
        |            $TimeSet) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    assert(rows.map(_.getString(0)).distinct.toSeq === kept)
    assert(rows.length === 2) // survivor x {Y9596, 1995}
    // cells equal the unfiltered two-calc-factor crossjoin's
    val full = Mdx.execute(
      s"""WITH $Eu13As2Def
        |$TimeDef
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN($CustSet, $TimeSet) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.get(2)).toMap
    rows.foreach(r =>
      assert(r.get(2) === full((r.getString(0), r.getString(1)))))
    // ops on the SECOND factor reorder ITS entries (pre-crossjoin,
    // its own grain), the first factor's literal order unchanged.
    // Y9596 aggregates a strict superset of 1995, so BDESC puts it
    // first at every scale factor
    val timeOrdered = Seq("Y9596", "1995")
    val rows2 = Mdx.execute(
      s"""WITH $Eu13As2Def
        |$TimeDef
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN($CustSet,
        |            ORDER($TimeSet, [Measures].[revenue], BDESC))
        |    ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    assert(rows2.map(_.getString(0)).toSeq ===
      Seq("AMERICA", "AMERICA", "EU13 and AS2", "EU13 and AS2"))
    assert(rows2.map(_.getString(1)).toSeq ===
      (timeOrdered ++ timeOrdered))
    rows2.foreach(r =>
      assert(r.get(2) === full((r.getString(0), r.getString(1)))))
  }

  test("calc members in SEVERAL CrossJoin factors execute: the fused " +
      "pass evaluates the full entry cross product in one scan " +
      "(r13 refused the shape)") {
    val defs =
      s"""WITH $Eu13As2Def
        |MEMBER [time].[Y9596] AS
        |  'Aggregate({[time].[1995], [time].[1996]})'""".stripMargin
    val df = Mdx.execute(
      s"""$defs
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN({[customer].[AMERICA], [customer].[EU13 and AS2]},
        |            {[time].[Y9596], [time].[1995]}) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    val rows = df.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[java.math.BigDecimal]("revenue").doubleValue()).toMap
    assert(rows.size === 4) // 2 customer entries x 2 time entries
    def solo(where: String): Double = Mdx.execute(
      s"""SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE $where""".stripMargin, cube).collect().head
      .getAs[java.math.BigDecimal]("revenue").doubleValue()
    val eu = "{[customer].[EUROPE].[NATION_13], [customer].[ASIA].[NATION_2]}"
    val yy = "{[time].[1995], [time].[1996]}"
    assert(rows(("AMERICA", "Y9596")) ===
      solo(s"([customer].[AMERICA], $yy)"))
    assert(rows(("AMERICA", "1995")) ===
      solo("([customer].[AMERICA], [time].[1995])"))
    assert(rows(("EU13 and AS2", "Y9596")) === solo(s"($eu, $yy)"))
    assert(rows(("EU13 and AS2", "1995")) ===
      solo(s"($eu, [time].[1995])"))
    // a third, calc-free factor still groups by its level columns
    val three = Mdx.execute(
      s"""$defs
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN(CROSSJOIN(
        |    {[customer].[EU13 and AS2]}, {[time].[Y9596]}),
        |    [returnflag].[returnflag].Members) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    assert(three.length === 3) // 1 x 1 x {A,N,R}
    val rCell = three.find(_.getAs[String]("l_returnflag") == "R").get
      .getAs[java.math.BigDecimal]("revenue").doubleValue()
    assert(rCell === solo(s"($eu, $yy, [returnflag].[R])"))
  }

  test("r14 edge shapes: calc-only unions, tail over enumerated " +
      "sides, NECJ+NON EMPTY, PAGES folding, and drill-through with " +
      "a computed WHERE set") {
    def rows(axis: String, extra: String = ""): Seq[String] = Mdx.execute(
      s"""WITH $Eu13As2Def
        |$extra
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  $axis ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect().toSeq
      .map(_.getString(0))
    // two calc members joined by Union behave like the literal pair
    val amDef = "MEMBER [customer].[AM1] AS " +
      "'Aggregate({[customer].[AMERICA].[NATION_1]})'"
    assert(rows("UNION({[customer].[EU13 and AS2]}, {[customer].[AM1]})",
      amDef) === rows("{[customer].[EU13 and AS2], [customer].[AM1]}",
      amDef))
    // Tail over a calc+enumerated union slices the combined list
    val regions = rows("[customer].[region].Members")
    assert(rows("TAIL(UNION({[customer].[EU13 and AS2]}, " +
      "[customer].[region].Members), 2)") === regions.takeRight(2))
    // NECJ and NON EMPTY compose (ghost entry dropped either way)
    val ghostDef = "MEMBER [customer].[Ghost] AS " +
      "'Aggregate({[customer].[EUROPE].[NO_SUCH]})'"
    val ne = Mdx.execute(
      s"""WITH $Eu13As2Def
        |$ghostDef
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  NON EMPTY NONEMPTYCROSSJOIN(
        |    {[customer].[EU13 and AS2], [customer].[Ghost]},
        |    {[time].[1995]}) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    assert(ne.map(_.getString(0)).toSeq === Seq("EU13 and AS2"))
    // a union-shaped calc factor under a PAGES fold (outer product
    // lowers to CrossJoin) keeps every tuple
    val paged = Mdx.execute(
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  UNION({[customer].[EU13 and AS2]},
        |        {[customer].[AMERICA]}) ON ROWS,
        |  [returnflag].[returnflag].Members ON PAGES
        |FROM [Sales]""".stripMargin, cube).collect()
    assert(paged.length === 2 * 3)
    // DRILLTHROUGH with a flattenable computed WHERE set returns the
    // union region's rows (the r13 drill guarantee extends to the
    // r14 slicer shapes)
    def drillKeys(where: String): Set[String] = Mdx.execute(
      s"""DRILLTHROUGH WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE $where
        |RETURN [l_orderkey], [l_linenumber]""".stripMargin, cube)
      .collect().map(r => s"${r.get(0)}:${r.get(1)}").toSet
    val viaUnion = drillKeys("(UNION({[customer].[EU13 and AS2]}, " +
      "{[customer].[AMERICA].[NATION_1]}))")
    val viaLiteral = drillKeys("{[customer].[EUROPE].[NATION_13], " +
      "[customer].[ASIA].[NATION_2], [customer].[AMERICA].[NATION_1]}")
    assert(viaUnion === viaLiteral && viaUnion.nonEmpty)
    // cell-valued Filter in a drill WHERE (r15): the survivors'
    // region — both entries pass revenue > 0, so the same rows
    val viaFilter = drillKeys("(FILTER({[customer].[EU13 and AS2], " +
      "[customer].[AMERICA].[NATION_1]}, [Measures].[revenue] > 0))")
    assert(viaFilter === viaLiteral)
  }

  test("a dim-calc member in any OTHER axis set shape refuses loudly " +
      "instead of silently dropping rows") {
    def refusal(mdx: String): String = {
      val e = intercept[IllegalArgumentException] {
        Mdx.execute(mdx, cube).collect()
      }
      assert(e.getMessage.contains("unsupported axis set shape"),
        e.getMessage)
      e.getMessage
    }
    def q(axis: String) =
      s"""WITH $Eu13As2Def
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  $axis ON ROWS
        |FROM [Sales]""".stripMargin
    // Union of sets on different hierarchies
    refusal(q("UNION({[customer].[EU13 and AS2]}, {[time].[1995]})"))
    // (non-breaking Order executes for EVERY literal set since r15 —
    // missing ancestors join as hidden rank-only entries; see the
    // "sorts hierarchically" spec)
    // Filter/Order ops alongside ANOTHER calc factor and a
    // CONTEXT-DEPENDENT calc measure (SetAgg here — an ExprCalc has no
    // per-entry context) refuse: such a measure is evaluated against
    // one calc factor's entries
    refusal(
      s"""WITH $Eu13As2Def
        |MEMBER [time].[Y95] AS 'Aggregate({[time].[1995]})'
        |MEMBER [Measures].[rev95] AS
        |  Sum({[time].[1995]}, [Measures].[revenue])
        |SELECT {[Measures].[rev95]} ON COLUMNS,
        |  CROSSJOIN(FILTER({[customer].[EU13 and AS2],
        |                    [customer].[AMERICA]},
        |                   [Measures].[revenue] > 0),
        |            {[time].[Y95]}) ON ROWS
        |FROM [Sales]""".stripMargin)
    // the calc member's own hierarchy in another factor
    refusal(q("CROSSJOIN({[customer].[EU13 and AS2]}, " +
      "{[customer].[ASIA]})"))
    // NECJ with a calc factor alongside a CONTEXT-DEPENDENT calc
    // measure refuses (an ExprCalc like revenue*2 executes — r15)
    refusal(
      s"""WITH $Eu13As2Def
        |MEMBER [Measures].[rev95] AS
        |  Sum({[time].[1995]}, [Measures].[revenue])
        |SELECT {[Measures].[rev95]} ON COLUMNS,
        |  NONEMPTYCROSSJOIN({[customer].[EU13 and AS2]},
        |                    {[time].[1995]}) ON ROWS
        |FROM [Sales]""".stripMargin)
    // a multi-dimension calc-free side cannot join the entry list
    refusal(q("UNION({[customer].[EU13 and AS2]}, " +
      "CROSSJOIN([customer].[region].Members, {[time].[1995]}))"))
    // calc members on BOTH factors still refuse when a measure is
    // CONTEXT-DEPENDENT
    refusal(
      s"""WITH $Eu13As2Def
        |MEMBER [time].[Y95] AS 'Aggregate({[time].[1995]})'
        |MEMBER [Measures].[rev95] AS
        |  Sum({[time].[1995]}, [Measures].[revenue])
        |SELECT {[Measures].[rev95]} ON COLUMNS,
        |  CROSSJOIN({[customer].[EU13 and AS2]}, {[time].[Y95]}) ON ROWS
        |FROM [Sales]""".stripMargin)
    // two calc-bearing factors on the SAME hierarchy
    refusal(
      s"""WITH $Eu13As2Def
        |MEMBER [customer].[AM1] AS
        |  'Aggregate({[customer].[AMERICA].[NATION_1]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN({[customer].[EU13 and AS2]},
        |            {[customer].[AM1]}) ON ROWS
        |FROM [Sales]""".stripMargin)
    // a calc set constraining a dimension another factor enumerates
    // EXECUTES since r16 via MDX context override (dedicated spec
    // below): the set's explicit time member replaces the axis year,
    // so BOTH rows carry the (ASIA, 1995) subcube total
    val ov = Mdx.execute(
      """WITH MEMBER [customer].[AS95] AS
        |  'Aggregate(CROSSJOIN({[customer].[ASIA]}, {[time].[1995]}))'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN({[customer].[AS95]},
        |            {[time].[1995], [time].[1996]}) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    assert(ov.length === 2)
    val as95 = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE ([customer].[ASIA], [time].[1995])""".stripMargin, cube)
      .collect().head.getAs[java.math.BigDecimal]("revenue")
      .doubleValue()
    ov.foreach(r => assert(r.getAs[java.math.BigDecimal]("revenue")
      .doubleValue() === as95))
  }

  test("LinReg moments are keyed by slicer: dim-calc sub-queries with " +
      "different compound slicers never share a moment fold") {
    val slopeDef =
      """MEMBER [Measures].[qslope] AS
        |  'LinRegSlope([time].[year].Members, [Measures].[sum_qty],
        |    Rank([time].CurrentMember, [time].[year].Members))'""".stripMargin
    val combined = Mdx.execute(
      s"""WITH MEMBER [customer].[EU and AS] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13],
        |              [customer].[ASIA].[NATION_2]})'
        |MEMBER [customer].[AM one] AS
        |  'Aggregate({[customer].[AMERICA].[NATION_1]})'
        |$slopeDef
        |SELECT {[Measures].[qslope]} ON COLUMNS,
        |  {[customer].[EU and AS], [customer].[AM one]} ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
      .map(r => r.getAs[String]("cr_region") ->
        r.getAs[Double]("qslope")).toMap
    def solo(where: String): Double = Mdx.execute(
      s"""WITH $slopeDef
        |SELECT {[Measures].[qslope]} ON COLUMNS
        |FROM [Sales]
        |$where""".stripMargin, cube).collect().head
      .getAs[Double]("qslope")
    val eu = solo("WHERE {[customer].[EUROPE].[NATION_13], " +
      "[customer].[ASIA].[NATION_2]}")
    val am = solo("WHERE ([customer].[AMERICA].[NATION_1])")
    // before the slicer-keyed cache, the second member silently read
    // the first member's moments — both cells came back identical
    assert(combined("EU and AS") === eu)
    assert(combined("AM one") === am)
    assert(eu !== am)
  }

  test("a dim-calc member inside a Measures-hosted Aggregate/Sum set " +
      "or a LinReg series set refuses loudly") {
    // Sum({calc}) iterates member VALUES — the subcube fold can't
    // express a member whose value is itself an aggregate; the old
    // behavior was a silent null cell
    val e = intercept[IllegalArgumentException] {
      Mdx.execute(
        s"""WITH $Eu13As2Def
          |MEMBER [Measures].[x] AS
          |  'Sum({[customer].[EU13 and AS2]}, [Measures].[revenue])'
          |SELECT {[Measures].[x]} ON COLUMNS
          |FROM [Sales]""".stripMargin, cube).collect()
    }
    assert(e.getMessage.contains("not supported"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Mdx.execute(
        s"""WITH $Eu13As2Def
          |MEMBER [Measures].[sl] AS
          |  'LinRegSlope({[customer].[EU13 and AS2],
          |                [customer].[AMERICA]},
          |    [Measures].[sum_qty], [Measures].[revenue])'
          |SELECT {[Measures].[sl]} ON COLUMNS
          |FROM [Sales]""".stripMargin, cube).collect()
    }
    assert(e2.getMessage.contains("not supported"), e2.getMessage)
  }

  test("DRILLTHROUGH on a dim-calc WHERE returns the rows of the " +
      "aggregated region, never a silent zero") {
    def keys(withC: String, where: String): Set[String] = Mdx.execute(
      s"""DRILLTHROUGH $withC
        |SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE $where
        |RETURN [l_orderkey], [l_linenumber]""".stripMargin, cube)
      .collect().map(r => s"${r.get(0)}:${r.get(1)}").toSet
    val viaCalc = keys(s"WITH $Eu13As2Def",
      "([customer].[EU13 and AS2])")
    val viaUnion = keys("",
      "{[customer].[EUROPE].[NATION_13], [customer].[ASIA].[NATION_2]}")
    assert(viaUnion.nonEmpty)
    assert(viaCalc === viaUnion)
  }

  test("a cell-valued computed WHERE stays plan-sized: the entry " +
      "enumeration refuses past the 10k bound instead of collecting " +
      "a data-sized side (VERDICT r15 #6 durability pin)") {
    import org.apache.spark.sql.functions.{col, lit}
    def bigCube(n: Int): BoundCube = {
      val dim = spark.range(n.toLong).select(
        (col("id") % 100).cast("string").as("grp"),
        col("id").cast("string").as("item"))
      val fact = spark.range(n.toLong).select(
        col("id").cast("string").as("item_fk"),
        lit(1.0).as("amount"))
      BoundCube("Big", fact,
        dims = Seq(BoundDim("d", foreignKey = "item_fk",
          primaryKey = "item",
          levels = Seq(BoundLevel("grp", "grp"),
            BoundLevel("item", "item")),
          df = dim)),
        measures = Seq(Measure("amount", Agg.Sum, "amount")))
    }
    def mdx = """WITH MEMBER [d].[one] AS 'Aggregate({[d].[0].[0]})'
      |SELECT {[Measures].[amount]} ON COLUMNS,
      |  [d].[grp].Members ON ROWS
      |FROM [Big]
      |WHERE (HEAD(ORDER(UNION({[d].[one]}, [d].[item].Members),
      |                  [Measures].[amount], BDESC), 1))""".stripMargin
    // 10,001 stored members on the computed side: the lowering must
    // REFUSE (the entry list is the broadcast side of the sub-query's
    // plan — letting it grow data-sized would put a fact-cardinality
    // collect on the driver)
    val ex = intercept[Exception] {
      Mdx.execute(mdx, bigCube(10001)).collect()
    }
    assert(ex.getMessage.contains("10000"), ex.getMessage)
    // the same shape under the bound executes: one plan-sized fact
    // pass evaluates the entries, the survivor re-enters as the slicer
    val small = Mdx.execute(mdx, bigCube(500)).collect()
    assert(small.length === 100)
  }

  test("DRILLTHROUGH with a computed WHERE slicer resolves at entry") {
    val df = Mdx.execute(
      """DRILLTHROUGH MAXROWS 10
        |SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE (HEAD([customer].[region].Members, 1).Item(0))
        |RETURN [l_orderkey]""".stripMargin, cube)
    val n = df.count()
    assert(n > 0 && n <= 10)
  }
}
