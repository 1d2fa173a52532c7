package graft
import org.apache.spark.sql.SparkSession

/** Optimization-round measurement aid: splits a query's wall time into
  * (a) DataFrame construction (Planner + Catalyst analysis), (b)
  * executedPlan materialization (optimization + physical planning),
  * (c) execution — to tell planning-bound queries from compute-bound.
  * Only `executedPlan` counts as planning: `toRdd` under AQE already
  * runs every shuffle and broadcast stage, so it is timed as execution.
  * A line ending in `cellset_hit` was served from a stored cell set
  * (from a query's third run on), so it times a cache read.
  *
  * Usage: sbt "runMain graft.PlanTime q_a,q_b [passes]"
  */
object PlanTime {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(Seq("q1_agg"))
    val passes = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (pass <- 1 to passes; name <- names) {
      try graft.olap.Pins.scoped {
        graft.olap.SegmentCache.global.withLease {
          val served0 = graft.olap.SegmentCache.global.cellSetHits
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(name)(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan // optimize + physical plan
          val t2 = System.nanoTime()
          df.queryExecution.toRdd.count()
          val t3 = System.nanoTime()
          // a cell-set hit read a persisted render: not a render time
          val served = graft.olap.SegmentCache.global.cellSetHits > served0
          println(f"pass$pass $name%-26s build=${(t1 - t0) / 1e9}%6.3f " +
            f"plan=${(t2 - t1) / 1e9}%6.3f exec=${(t3 - t2) / 1e9}%6.3f" +
            (if (served) " cellset_hit" else ""))
          if (pass == passes && sys.env.contains("GRAFT_RULE_PROFILE")) {
            val qpt = org.apache.spark.sql.catalyst.QueryPlanningTracker
            println("  phases: " + df.queryExecution.tracker.phases
              .map { case (k, v) =>
                s"$k=${(v.endTimeMs - v.startTimeMs)}ms" }.mkString(" "))
            df.queryExecution.tracker
              .topRulesByTime(10).foreach { case (rule, s) =>
                println(f"  rule ${s.totalTimeNs / 1e6}%8.1f ms " +
                  f"calls=${s.numInvocations}%5d eff=${s.numEffectiveInvocations}%4d  $rule")
              }
          }
        }
      } catch { case t: Throwable => println(s"$name ERR $t") }
    }
    spark.stop()
  }
}
