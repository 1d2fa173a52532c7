package graft

import org.apache.spark.sql.graft.JobCount
import graft.olap._

/** Execution-control specs (§2.13): profiling output and query
  * timeout/cancellation.
  */
class ExecutionSpec extends SparkSpec {

  private lazy val cube = Cubes.sales(spark, Sf)

  test("profiled execute returns plan text and phase timings") {
    // a cube the cache has never seen, so this always profiles a render
    val fresh = cube.copy()
    val df = Query.from(fresh)
      .columns("revenue")
      .rows(LevelMembers("customer", "region"))
      .execute()
    val r = Execution.profiled(df, marks = Seq("axis" -> 3L))
    assert(r.rows.nonEmpty)
    assert(r.profile.physicalPlan.contains("HashAggregate") ||
      r.profile.physicalPlan.contains("InMemoryTableScan"))
    assert(r.profile.logicalPlan.nonEmpty)
    assert(r.profile.totalMs >= r.profile.executeMs)
    assert(r.profile.marks === Seq("axis" -> 3L))
    SegmentCache.global.flushCube(fresh.cubeId)
  }

  test("a served statement profiles as a LocalTableScan and runs no job") {
    val fresh = cube.copy()
    def run() = Query.from(fresh).columns("revenue")
      .rows(LevelMembers("customer", "nation")).execute()
    val expected = run().collect().toSeq
    // the second run stages the render, the third is its first serve
    (2 to 3).foreach(_ => run().collect())
    val (r, jobs) = JobCount(spark.sparkContext)(Execution.profiled(run()))
    assert(jobs === 0)
    assert(r.profile.physicalPlan.contains("LocalTableScan"),
      r.profile.physicalPlan)
    assert(r.rows === expected)
    SegmentCache.global.flushCube(fresh.cubeId)
  }

  test("a 0.1s timeout aborts a slow query") {
    import spark.implicits._
    // a deliberately slow job (the reference's Sleep(5) analog)
    val slow = spark.range(0, 32, 1, 32).map { i =>
      Thread.sleep(2000); i
    }.toDF("i")
    val e = intercept[Execution.QueryTimeoutException] {
      Execution.collectWithTimeout(spark, slow, 0.1)
    }
    assert(e.getMessage.contains("timed out"))
  }

  test("a fast query completes under a generous timeout") {
    val df = Query.from(cube).columns("sum_qty")
      .rows(LevelMembers("returnflag", "returnflag")).execute()
    val rows = Execution.collectWithTimeout(spark, df, 120.0)
    assert(rows.nonEmpty)
  }
}
