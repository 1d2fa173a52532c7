package graft

import org.apache.spark.sql.functions._
import graft.olap._

/** Engine-path specs on sf0.001: query builder → IR → Planner →
  * DataFrame, including regressions for the ADVICE r1 findings.
  */
class OlapEngineSpec extends SparkSpec {

  private lazy val cube = Cubes.sales(spark, Sf)

  test("flagship star query returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("approx_row_count short-circuits membersCount (cube.rb:308-314)") {
    val md = new CubeMetadata(cube)
    val real = md.membersCount("customer", "region")
    assert(real === 5)
    // declare a (deliberately wrong) approx count: metadata must report
    // it verbatim without running a count job — it is a browser hint,
    // never a query answer
    val hinted = cube.copy(dims = cube.dims.map { d =>
      if (d.name != "customer") d
      else d.copy(levels = d.levels.map(l =>
        if (l.name != "region") l else l.copy(approxRowCount = Some(42L))))
    })
    assert(new CubeMetadata(hinted).membersCount("customer", "region") === 42)
    // query answers are unaffected by the hint
    val rows = Query.from(hinted).columns("revenue")
      .rows(LevelMembers("customer", "region")).execute().count()
    assert(rows === 5)
  }

  test("topCount after order does not duplicate __ord (ADVICE r1)") {
    val df = Query.from(cube)
      .columns("revenue")
      .rows(LevelMembers("customer", "nation"))
      .order("revenue", SortDir.BDesc)
      .topCount(3, "revenue")
      .execute()
    assert(df.count() === 3)
  }

  test("high_cardinality opt-out keeps the value-based non-breaking " +
      "Order's answers identical (rank frames join without the " +
      "forced broadcast — AQE decides from runtime sizes)") {
    def ordered(c: BoundCube): Seq[String] =
      Query.from(c).columns("revenue")
        .rows(LevelMembers("customer", "nation"))
        .order("revenue", SortDir.Asc)
        .execute().select("cr_nation").collect().map(_.getString(0)).toSeq
    val hc = cube.copy(dims = cube.dims.map(d =>
      if (d.name == "customer") d.copy(highCardinality = true) else d))
    assert(ordered(hc) === ordered(cube))
  }

  test("high_cardinality opt-out parity holds on the TUPLE " +
      "non-breaking Order path too (r17 — tupleHierOrderSet shares " +
      "the rank-frame broadcast hint)") {
    def ordered(c: BoundCube): Seq[(String, String)] =
      Mdx.execute(
        """SELECT {[Measures].[revenue]} ON COLUMNS,
          |  ORDER(CROSSJOIN([customer].[nation].Members,
          |                  {[time].[1995], [time].[1996]}),
          |        [Measures].[revenue], DESC) ON ROWS
          |FROM [Sales]""".stripMargin, c).collect().toSeq
        .map(r => (r.getString(r.fieldIndex("cr_nation")),
          String.valueOf(r.get(r.fieldIndex("d_year")))))
    val hc = cube.copy(dims = cube.dims.map(d =>
      if (d.name == "customer") d.copy(highCardinality = true) else d))
    assert(ordered(hc) === ordered(cube))
  }

  test("high_cardinality opt-out parity holds on the fused dim-calc " +
      "crossjoin/NECJ path (r18 — a high-card factor skips ITS scan " +
      "semi-join and the aggregate broadcast; small factors keep " +
      "theirs; answers identical)") {
    def rows(c: BoundCube): Seq[(String, String, Any)] =
      Mdx.execute(
        """WITH MEMBER [time].[Y56] AS
          |  'Aggregate({[time].[1995], [time].[1996]})'
          |SELECT {[Measures].[revenue]} ON COLUMNS,
          |  NON EMPTY CROSSJOIN({[time].[Y56], [time].[1997]},
          |    CROSSJOIN([customer].[nation].Members,
          |              {[returnflag].[A], [returnflag].[R]})) ON ROWS
          |FROM [Sales]""".stripMargin, c).collect().toSeq
        .map(r => (String.valueOf(r.get(0)),
          r.getString(r.fieldIndex("cr_nation")) +
            "/" + r.getString(r.fieldIndex("l_returnflag")),
          r.get(r.fieldIndex("revenue"))))
    val hc = cube.copy(dims = cube.dims.map(d =>
      if (d.name == "customer") d.copy(highCardinality = true) else d))
    assert(rows(hc) === rows(cube))
  }

  test("CurrentOrdinal in a non-breaking Order key refuses — the " +
      "hierarchical sort evaluates ancestors outside the live " +
      "positional order (ADVICE r15)") {
    // a single hierarchy and a tuple set hit the same refusal
    val msgs = Seq(LevelMembers("customer", "nation"),
        CrossJoin(LevelMembers("customer", "nation"),
          LevelMembers("returnflag", "returnflag"))).map { rows =>
      intercept[IllegalArgumentException] {
        Query.from(cube)
          .columns("revenue")
          .rows(rows)
          .order("__CURRENT_ORDINAL__ + revenue", SortDir.Asc)
          .execute().collect()
      }.getMessage
    }
    assert(msgs.head.contains("non-breaking Order key"))
    assert(msgs.distinct.size === 1)
    // the breaking directions still accept it (position-relative keys
    // are well-defined against the live frame there)
    val ok = Query.from(cube)
      .columns("revenue")
      .rows(LevelMembers("customer", "nation"))
      .order("revenue", SortDir.BAsc)
      .execute()
    assert(ok.count() > 0)
  }

  test("filter preserves explicit order of the input set (ADVICE r1)") {
    val df = Query.from(cube)
      .columns("revenue")
      .rows(LevelMembers("customer", "nation"))
      .order("revenue", SortDir.BDesc)
      .filter("revenue > 0")
      .head(5)
      .execute()
    val revs = df.select("revenue").collect()
      .map(_.getDecimal(0).doubleValue())
    assert(revs.toSeq === revs.sorted(Ordering[Double].reverse).toSeq,
      "head after order+filter must keep the value-descending order")
  }

  test("children of a leaf-level member is empty (ADVICE r1)") {
    val nation = new CubeMetadata(cube)
      .levelMembers("customer", "customer").limit(1).collect()
    val path = nation.head.toSeq.take(3).map(_.toString)
    val df = new Planner(cube)
      .evalSet(Children("customer", path), Nil).members
    assert(df.count() === 0)
  }

  test("over-deep member path yields empty set, not an exception") {
    val df = new Planner(cube)
      .evalSet(Members("customer",
        Seq(Seq("EUROPE", "X", "Y", "TOO_DEEP"))), Nil).members
    assert(df.count() === 0)
  }

  test("nonempty prunes on displayed measures only") {
    val df = Query.from(cube)
      .columns("revenue")
      .rows(CrossJoin(LevelMembers("customer", "region"),
        LevelMembers("part", "brand")))
      .nonempty()
      .execute()
    assert(df.filter(col("revenue").isNull).count() === 0)
  }

  test("rollup emits grand-total row with null keys") {
    val df = new Planner(cube).rollupAggregate(
      Seq(("customer", "region")), Nil, Seq("revenue"))
    val total = df.filter(col("cr_region").isNull).collect()
    assert(total.length === 1)
  }

  test("two-phase rollup (pre-agg before Expand, opt r19) equals the " +
      "single-pass plan row-for-row on every exact-merge aggregator") {
    // revenue=SumExact, count_order=Count, min/max_price, n_orders +
    // n_bulk_parts = DistinctCount (incl. a NULL-producing CASE arg) —
    // all five mergeable kinds, so this routes through the pre-agg path
    val fast = new Planner(cube).rollupAggregate(
      Seq(("customer", "region"), ("customer", "nation")), Nil,
      Seq("revenue", "count_order", "min_price", "max_price",
        "n_orders", "n_bulk_parts"))
    // sum_qty is a plain double Sum → exactMerge=false → the reference
    // single-pass Expand plan; the shared columns must agree exactly
    val ref = new Planner(cube).rollupAggregate(
      Seq(("customer", "region"), ("customer", "nation")), Nil,
      Seq("revenue", "count_order", "min_price", "max_price",
        "n_orders", "n_bulk_parts", "sum_qty"))
      .drop("sum_qty")
    def key(r: org.apache.spark.sql.Row): String =
      (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("|")
    assert(fast.collect().map(key).sorted.toSeq ===
      ref.collect().map(key).sorted.toSeq)
    // and the fast plan really pre-aggregates: the partial-sum alias
    // only exists on the pre-agg path, and the reference plan must not
    // have it
    val plan = fast.queryExecution.optimizedPlan.toString
    assert(plan.contains("__pa_0"), s"expected pre-agg partials in:\n$plan")
    assert(!ref.queryExecution.optimizedPlan.toString.contains("__pa_0"))
  }

  test("union keeps left-first order; intersect/except respect sets") {
    val eu = Children("customer", Seq("EUROPE"))
    val asia = Children("customer", Seq("ASIA"))
    val u = Query.from(cube).columns("revenue").rows(UnionSet(eu, asia, all = false)).execute()
    val i = Query.from(cube).columns("revenue").rows(IntersectSet(eu, asia)).execute()
    val e = Query.from(cube).columns("revenue").rows(ExceptSet(eu, asia)).execute()
    assert(i.count() === 0)
    assert(u.count() === e.count() + Query.from(cube).columns("revenue")
      .rows(asia).execute().count())
  }

  test("exists keeps the left tuples present in the right set") {
    val nations = LevelMembers("customer", "nation")
    val america = Members("customer", Seq(Seq("AMERICA")))
    val got = Query.from(cube).columns("revenue")
      .rows(ExistsSet(nations, america)).execute().collect().toSeq
    val plain = Query.from(cube).columns("revenue").rows(nations).execute()
      .collect().toSeq.filter(_.getAs[String]("cr_region") == "AMERICA")
    assert(got.nonEmpty)
    assert(got === plain)
    assert(got.length === Query.from(cube).columns("revenue")
      .rows(Children("customer", Seq("AMERICA"))).execute().count())
  }
}
