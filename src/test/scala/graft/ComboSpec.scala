package graft

import graft.olap._

/** Cross-feature interaction probes: combinations no single-feature
  * oracle query exercises, pinned by internal-consistency invariants.
  */
class ComboSpec extends SparkSpec {

  private lazy val cube = Cubes.sales(spark, Sf)
  private def mixed =
    UnionSet(LevelMembers("customer", "region"),
      LevelMembers("customer", "nation"), all = true)

  test("TopCount over a mixed-depth axis ranks across grains") {
    val rows = Query.from(cube).columns("revenue")
      .rows(TopCount(mixed, 3, "revenue")).execute().collect()
    assert(rows.length == 3)
    val vals = rows.map(_.getDecimal(2).doubleValue())
    assert(vals.sorted.reverse.toSeq == vals.toSeq)
  }

  test("Filter over a mixed-depth axis keeps both grains eligible") {
    val all = Query.from(cube).columns("count_order")
      .rows(mixed).execute().collect()
    val kept = Query.from(cube).columns("count_order")
      .rows(FilterSet(mixed, "count_order > 0")).execute().collect()
    assert(kept.length <= all.length && kept.nonEmpty)
  }

  test("slicer composes with a mixed-depth axis") {
    val rows = Query.from(cube).columns("count_order")
      .rows(mixed).where(MemberSlice("time", Seq(1995)))
      .execute().collect()
    val regions = rows.filter(_.isNullAt(1))
    val nations = rows.filterNot(_.isNullAt(1))
    assert(regions.nonEmpty && nations.nonEmpty)
    regions.foreach { r =>
      val total = nations.filter(_.getString(0) == r.getString(0))
        .map(_.getLong(2)).sum
      assert(r.getLong(2) == total)
    }
  }

  test("role filter composes with DrilldownMember expansion") {
    val rows = Query.from(cube.withRole(Role("emea",
        Seq("customer" -> Seq("EUROPE")))))
      .columns("count_order")
      .rows(DrilldownMember(LevelMembers("customer", "region"),
        Members("customer", Seq(Seq("EUROPE")))))
      .execute().collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(0) == "EUROPE"),
      rows.map(_.toString).mkString(", "))
  }

  test("windowed rank calc composes with a slicer") {
    val rows = Query.from(cube).columns("revenue", "rank_in_region")
      .rows(LevelMembers("customer", "nation"))
      .where(MemberSlice("time", Seq(1995)))
      .withMember(CalcMember("rank_in_region",
        WindowCalc("revenue", WinKind.RankDesc, "customer",
          Some("region"))))
      .execute().collect()
    // per region, ranks must be a 1..k permutation aligned to revenue
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(3))
      assert(byRank.map(_.getInt(3)).toSeq == (1 to rs.length))
      val revs = byRank.map(_.getDecimal(2).doubleValue())
      assert(revs.sorted.reverse.toSeq == revs.toSeq)
    }
  }

  test("NON EMPTY composes with TopCount on a sliced axis") {
    val rows = Query.from(cube).columns("revenue")
      .rows(TopCount(LevelMembers("customer", "nation"), 5, "revenue"))
      .where(MemberSlice("part", Seq("Brand#11")))
      .nonempty()
      .execute().collect()
    assert(rows.length == 5)
  }

  test("a dim-calc AXIS composes with cell-valued ops in a computed " +
      "WHERE on another dimension (the slicer sub-query nests inside " +
      "the outer plan build)") {
    import graft.olap.Mdx
    val Defs =
      """MEMBER [customer].[EU13 and AS2] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13],
        |              [customer].[ASIA].[NATION_2]})'
        |MEMBER [time].[Y95] AS 'Aggregate({[time].[1995]})'"""
        .stripMargin
    def q(where: String): Map[String, Any] = Mdx.execute(
      s"""WITH $Defs
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  {[customer].[AMERICA], [customer].[EU13 and AS2]} ON ROWS
        |FROM [Sales]
        |WHERE $where""".stripMargin, cube).collect()
      .map(r => r.getString(0) -> r.get(1)).toMap
    def total(where: String): Double = Mdx.execute(
      s"""WITH $Defs
        |SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE $where""".stripMargin, cube).collect().head
      .getAs[java.math.BigDecimal]("revenue").doubleValue()
    // BASC+HEAD(1) keeps whichever time entry's default-context total
    // is smaller; the dim-calc axis then evaluates under THAT slicer
    val winner =
      if (total("([time].[Y95])") <= total("([time].[1996])"))
        "([time].[Y95])"
      else "([time].[1996])"
    val composed = q("(HEAD(ORDER({[time].[Y95], [time].[1996]}, " +
      "[Measures].[revenue], BASC), 1))")
    assert(composed === q(winner))
    assert(composed.size === 2 &&
      composed.keySet === Set("AMERICA", "EU13 and AS2"))
  }

  test("property: nested-NECJ tuple support equals the marginal " +
      "non-emptiness of the plain CrossJoin twin (full-level outer " +
      "factors, so the marginal is computable from the twin)") {
    import graft.olap.Mdx
    val Defs =
      """MEMBER [customer].[C112] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13]
        |               .[Customer#000000112]})'
        |MEMBER [customer].[EU13 and AS2] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13],
        |              [customer].[ASIA].[NATION_2]})'
        |MEMBER [customer].[Ghost] AS
        |  'Aggregate({[customer].[EUROPE].[NO_SUCH_NATION]})'"""
        .stripMargin
    val custSets = Seq(
      "{[customer].[C112], [customer].[Ghost]}",
      "{[customer].[EU13 and AS2], [customer].[AMERICA]}",
      "{[customer].[C112], [customer].[AMERICA]}")
    val levelSets = Seq(
      "[returnflag].[returnflag].Members",
      "[priority].[priority].Members",
      "[linestatus].[linestatus].Members")
    def collect(axis: String): Seq[(String, String, String, Any)] =
      Mdx.execute(
        s"""WITH $Defs
          |SELECT {[Measures].[revenue]} ON COLUMNS,
          |  $axis ON ROWS
          |FROM [Sales]""".stripMargin, cube).collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.get(3)))
    for {
      cs <- custSets
      f1 <- levelSets
      f2 <- levelSets if f1 != f2
    } {
      val cj = collect(s"CROSSJOIN(CROSSJOIN($cs, $f1), $f2)")
      val necj = collect(s"CROSSJOIN(NONEMPTYCROSSJOIN($cs, $f1), $f2)")
      // NECJ grain = (entry, f1 member): supported when ANY f2 cell
      // is non-null in the full twin (f2 enumerates its whole level)
      val supported = cj.groupBy(r => (r._1, r._2))
        .filter(_._2.exists(_._4 != null)).keySet
      val expected = cj.filter(r => supported((r._1, r._2)))
        .map(r => (r._1, r._2, r._3)).toSet
      assert(necj.map(r => (r._1, r._2, r._3)).toSet === expected,
        s"$cs x $f1 x $f2")
      // surviving cells identical
      val cjCells = cj.map(r => ((r._1, r._2, r._3), r._4)).toMap
      necj.foreach(r =>
        assert(r._4 === cjCells((r._1, r._2, r._3))))
    }
  }

  test("property: hierarchical Order over random calc-bearing sets " +
      "matches a driver-side Mondrian comparator (seeded)") {
    import graft.olap.Mdx
    // member pool: (mdx path, label, path segments). Calc members are
    // root-hosted; their defining sets give their values
    val Defs =
      """MEMBER [customer].[C EU] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13],
        |              [customer].[ASIA].[NATION_2]})'
        |MEMBER [customer].[C AM] AS
        |  'Aggregate({[customer].[AMERICA].[NATION_1]})'""".stripMargin
    val pool: Seq[(String, String, Seq[String])] = Seq(
      ("[customer].[AMERICA]", "AMERICA", Seq("AMERICA")),
      ("[customer].[EUROPE]", "EUROPE", Seq("EUROPE")),
      ("[customer].[ASIA]", "ASIA", Seq("ASIA")),
      ("[customer].[EUROPE].[NATION_13]", "NATION_13",
        Seq("EUROPE", "NATION_13")),
      ("[customer].[EUROPE].[NATION_18]", "NATION_18",
        Seq("EUROPE", "NATION_18")),
      ("[customer].[ASIA].[NATION_2]", "NATION_2",
        Seq("ASIA", "NATION_2")),
      ("[customer].[C EU]", "C EU", Seq("C EU")),
      ("[customer].[C AM]", "C AM", Seq("C AM")))
    val calcNames = Set("C EU", "C AM")
    // every pool member's context value, one solo query each (the
    // ancestors of a set entry need values even when not in the set)
    def solo(mdxMember: String): Double = {
      val where =
        if (mdxMember == "[customer].[C EU]")
          "{[customer].[EUROPE].[NATION_13], [customer].[ASIA].[NATION_2]}"
        else if (mdxMember == "[customer].[C AM]")
          "([customer].[AMERICA].[NATION_1])"
        else s"($mdxMember)"
      Mdx.execute(
        s"""SELECT {[Measures].[revenue]} ON COLUMNS
          |FROM [Sales]
          |WHERE $where""".stripMargin, cube).collect().head
        .getAs[java.math.BigDecimal]("revenue").doubleValue()
    }
    val valueOf: Map[String, Double] =
      pool.map(p => p._2 -> solo(p._1)).toMap
    val byLabel = pool.map(p => p._2 -> p).toMap
    // driver-side Sorter.sortMembers(brk=false): per-depth sibling
    // ranks compose into ancestor-rank chains, lexicographic order
    def expectedOrder(entries: Seq[(String, String, Seq[String])],
        desc: Boolean): Seq[String] = {
      // rank scope = the entry list plus any missing ancestors
      val withAnc = (entries ++ entries.flatMap(e =>
        (1 until e._3.length).map(k => byLabel(e._3(k - 1))))).distinct
      val posOf = entries.map(_._2).zipWithIndex.toMap
      def rank(group: Seq[(String, String, Seq[String])])
          : Map[String, Int] =
        group.sortBy { m =>
          val v = valueOf(m._2)
          ((if (desc) -v else v), calcNames(m._2),
            posOf.getOrElse(m._2, Int.MaxValue))
        }.map(_._2).zipWithIndex.toMap
      val byParent = withAnc.groupBy(m =>
        if (m._3.length <= 1) "" else m._3(m._3.length - 2))
      val ranks: Map[String, Map[String, Int]] =
        byParent.map { case (p, g) => p -> rank(g) }
      def key(m: (String, String, Seq[String])): Seq[Int] =
        m._3.indices.map { k =>
          val anc = byLabel(m._3(k))
          val par = if (k == 0) "" else m._3(k - 1)
          ranks(par)(anc._2)
        }
      import scala.math.Ordering.Implicits._
      entries.sortBy(e => (key(e).toList, posOf(e._2))).map(_._2)
    }
    val rnd = new scala.util.Random(0x5eed15L)
    // r16: the ordinary (calc-free) OrderSet path is value-based too —
    // force both routings deterministically so neither depends on what
    // the seeded shuffle happens to sample: case -3/-2 are PURE-STORED
    // (mixed-depth, both directions — the tupleHierOrderSet path), case -1
    // is maximal calc-bearing (the applyEntryOps path)
    val stored = pool.filterNot(p => calcNames(p._2))
    val forced: Seq[(Seq[(String, String, Seq[String])], Boolean)] = Seq(
      (stored, false), (stored, true), (pool, true))
    for (case_ <- Seq(-3, -2, -1) ++ (1 to 12)) {
      val (entries, desc) =
        if (case_ < 0) forced(case_ + 3)
        else {
          val size = 3 + rnd.nextInt(4)
          (rnd.shuffle(pool).take(size), rnd.nextBoolean())
        }
      val setLit = entries.map(_._1).mkString("{", ", ", "}")
      val dir = if (desc) "DESC" else "ASC"
      // a calc-bearing set renders one label column (leaf captions);
      // a pure-stored mixed-depth set renders padded level columns —
      // the caption is the deepest non-null level value
      val dfr = Mdx.execute(
        s"""WITH $Defs
          |SELECT {[Measures].[revenue]} ON COLUMNS,
          |  ORDER($setLit, [Measures].[revenue], $dir) ON ROWS
          |FROM [Sales]""".stripMargin, cube)
      val cols = dfr.columns
      val got = dfr.collect().toSeq.map { r =>
        Seq("cr_nation", "cr_region").collectFirst {
          case c if cols.contains(c) &&
            !r.isNullAt(cols.indexOf(c)) =>
            r.getString(cols.indexOf(c))
        }.get
      }
      val want = expectedOrder(entries, desc)
      assert(got === want,
        s"case $case_ dir=$dir set=$setLit: got $got want $want")
    }
  }
}
