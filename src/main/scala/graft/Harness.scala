package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.olap.Query

/** What every main shares: its session, the one way to execute a query
  * for measurement, and the per-query scope.
  */
object Harness {

  /** A local session on `cpus` cores with as many shuffle partitions,
    * UTC session time, no UI and a quiet log.
    */
  def session(cpus: Int, logLevel: String = "ERROR"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Executes the query's OWN physical plan and counts its InternalRows.
    * A bare `df.count()` re-optimizes `count over plan`, and Catalyst
    * ELIMINATES a left join whose build side is unique on the join keys
    * when only the row count is needed: the OLAP axis shape (member
    * frame LEFT JOIN aggregated cells on the grain keys) compiles to
    * `count over LocalTableScan` and the aggregation never runs (r14
    * finding: the fused dim-calc count-plan had 0 scans and 0 joins).
    * `toRdd` runs the compiled plan as-is, measuring the real work
    * without a driver collect.
    */
  def force(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** One query's boundary: [[graft.olap.Query.scoped]]. */
  def scoped[T](body: => T): T = Query.scoped(body)
}
