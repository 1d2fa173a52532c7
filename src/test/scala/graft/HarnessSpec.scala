package graft

import graft.olap._
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec

/** The shared measurement helpers: `Harness.force` runs the query's own
  * plan, and `Probe.measure`'s wall time is the query's alone.
  */
class HarnessSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("Probe.measure: layers fit inside wall, and wall excludes the listener drain") {
    val counters = new Probe.Counters(detail = false)
    spark.sparkContext.addSparkListener(counters)
    val m = try Probe.measure(spark, Sf, "q1_agg", counters)
      finally spark.sparkContext.removeSparkListener(counters)
    assert(m.error.isEmpty, m.error)
    assert(m.jobs >= 1)
    val layers = m.build + m.plan + m.exec
    assert(layers <= m.wall, m)
    // the 300 ms drain after the query must not be counted as query time
    assert(m.wall - layers < 0.1, m)
  }

  test("Harness.force executes a fused dim-calc axis's own plan, not a count plan") {
    // a statement no other spec runs, so no segment or cell set serves it
    val df = Mdx.execute(
      """WITH MEMBER [customer].[HarnessSpec EU13 and AM] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13], [customer].[AMERICA]})'
        |SELECT {[Measures].[revenue], [Measures].[sum_qty]} ON COLUMNS,
        |  CROSSJOIN({[customer].[ASIA], [customer].[HarnessSpec EU13 and AM]},
        |            [time].[year].Members) ON ROWS
        |FROM [Sales]""".stripMargin, Cubes.sales(spark, Sf))
    val n = Harness.force(df)
    // df's own fact scan and measure aggregate produced rows: their
    // metrics stay 0 unless force executed this very plan
    val ran = collect(df.queryExecution.executedPlan) { case p => p }
    def rowsOut(nodes: Seq[SparkPlan]): Long =
      nodes.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    val factScans = ran.filter(p =>
      p.isInstanceOf[LeafExecNode] && p.output.exists(_.name == "l_quantity"))
    val measureAggs = ran.filter(p => p.isInstanceOf[BaseAggregateExec] &&
      p.expressions.exists(_.references.exists(_.name == "l_quantity")))
    assert(factScans.nonEmpty && rowsOut(factScans) > 0, ran.head)
    assert(measureAggs.nonEmpty && rowsOut(measureAggs) > 0, ran.head)
    assert(n == df.collect().length)
    // the r14 trap force avoids: a row count alone lets Catalyst drop
    // the axis left join, and with it the fact (lineitem) aggregation
    val counted = df.groupBy().count().queryExecution.optimizedPlan.toString
    assert(!counted.contains("lineitem"), counted)
  }
}
