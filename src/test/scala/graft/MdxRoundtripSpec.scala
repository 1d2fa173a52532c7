package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.olap._

/** Property: rendering any IR set tree to MDX and re-parsing it yields
  * the same tree (generator-driven, beyond the single golden roundtrip
  * in MdxSpec). Generators stay within the Sales cube's vocabulary so
  * name resolution succeeds.
  */
class MdxRoundtripSpec extends SparkSpec {

  private lazy val cube = Cubes.sales(spark, Sf)

  private val leafGen: Gen[SetExpr] = Gen.oneOf(
    Gen.oneOf(
      LevelMembers("customer", "region"),
      LevelMembers("customer", "nation"),
      LevelMembers("part", "brand"),
      LevelMembers("returnflag", "returnflag")),
    Gen.oneOf(
      Members("customer", Seq(Seq("ASIA"))),
      Members("customer", Seq(Seq("ASIA"), Seq("EUROPE"))),
      Children("customer", Seq("EUROPE")),
      Descendants("customer", Seq("EUROPE"), "nation")))

  private def nodeGen(depth: Int): Gen[SetExpr] =
    if (depth <= 0) leafGen
    else Gen.frequency(
      3 -> leafGen,
      1 -> (for { a <- nodeGen(depth - 1) } yield DistinctSet(a)),
      1 -> (for { a <- nodeGen(depth - 1) } yield HeadSet(a, 3)),
      1 -> (for { a <- nodeGen(depth - 1) } yield TailSet(a, 2)),
      1 -> (for { a <- nodeGen(depth - 1) } yield SubsetSet(a, 1, 2)),
      1 -> (for { a <- nodeGen(depth - 1) } yield Hierarchize(a)),
      1 -> (for { a <- nodeGen(depth - 1) } yield
        TopCount(a, 4, "revenue")),
      1 -> (for { a <- nodeGen(depth - 1) } yield
        OrderSet(a, "revenue", SortDir.BDesc)),
      // non-breaking directions execute since r15 — pin their
      // render/parse alongside the breaking ones
      1 -> (for { a <- nodeGen(depth - 1) } yield
        OrderSet(a, "revenue", SortDir.Asc)),
      1 -> (for { a <- nodeGen(depth - 1) } yield
        OrderSet(a, "revenue", SortDir.Desc)),
      1 -> (for { a <- nodeGen(depth - 1); b <- nodeGen(depth - 1) }
        yield UnionSet(a, b)),
      1 -> (for { a <- nodeGen(depth - 1); b <- nodeGen(depth - 1) }
        yield IntersectSet(a, b)),
      1 -> (for { a <- nodeGen(depth - 1); b <- nodeGen(depth - 1) }
        yield ExceptSet(a, b)),
      1 -> (for { a <- nodeGen(depth - 1) } yield UnorderSet(a)),
      1 -> (for { a <- nodeGen(depth - 1) } yield
        DrilldownMember(a, Members("customer", Seq(Seq("EUROPE"))))),
      1 -> (for { a <- nodeGen(depth - 1) } yield
        DrilldownLevelTop(a, 2, "revenue")),
      1 -> (for { a <- nodeGen(depth - 1) } yield
        ToggleDrillState(a, Members("customer", Seq(Seq("ASIA"))))),
      1 -> Gen.const(CurrentDateMember("time", "month", "BEFORE")))

  test("render → parse roundtrips arbitrary set trees") {
    val params = Gen.Parameters.default
    (1 to 80).foreach { i =>
      nodeGen(3)(params, Seed(i.toLong)).foreach { set =>
        val ir = QueryIR(Seq("revenue"), Some(set))
        val mdx = Mdx.renderQuery(ir, cube.name)
        val reparsed = Mdx.parse(mdx, cube)
        assert(reparsed.rows === ir.rows, s"\nMDX was:\n$mdx")
      }
    }
  }

  test("render → parse roundtrips each set function the generator omits") {
    val region = LevelMembers("customer", "region")
    val brand = LevelMembers("part", "brand")
    val europe = Members("customer", Seq(Seq("EUROPE")))
    Seq(
      CrossJoin(region, brand),
      NonEmptyCrossJoin(region, brand),
      ExistsSet(LevelMembers("customer", "nation"), europe),
      ExtractSet(CrossJoin(region, brand), Seq("customer")),
      FilterSet(brand, "revenue > 1000"),
      TopCount(brand, 3, "revenue", bottom = true),
      TopCount(brand, 3, ""),
      TopPercent(brand, 50.0, "revenue"),
      TopSum(brand, 1000.0, "revenue"),
      TopSum(brand, 1000.0, "revenue", bottom = true),
      Hierarchize(LevelMembers("customer", "nation"), post = true),
      UnionSet(region, europe, all = true),
      MemberRange("customer", "region", "AMERICA", "EUROPE"),
      CousinSet("customer", Seq("EUROPE", "FRANCE"), Seq("ASIA")),
      DrilldownLevelTop(region, 2, "revenue", bottom = true),
      Descendants("customer", Seq("ASIA"), "nation"),
      Children("customer", Nil),
      CurrentDateMember("time", "month", "EXACT")).foreach { set =>
      val ir = QueryIR(Seq("revenue"), Some(set))
      val mdx = Mdx.renderQuery(ir, cube.name)
      assert(Mdx.parse(mdx, cube).rows === ir.rows, s"\nMDX was:\n$mdx")
    }
  }
}
