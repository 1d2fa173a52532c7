package graft.olap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.Sequence

/** Global row-numbering over a sort order, scale-guarded.
  *
  * A bare `Window.orderBy(...)` plans an Exchange to ONE partition —
  * fine for dimension-bounded axis frames (tens..thousands of rows),
  * fatal for a high-cardinality axis (a 100M-member level would
  * single-thread and OOM one task). This helper keeps the cheap
  * single-partition window for small frames (by Catalyst's plan-size
  * estimate) and numbers larger frames with Spark's distributed-sequence
  * operator over a range-partitioned sort ([[Sequence.attach]]):
  * `zipWithIndex` over the sorted frame's one RDD, so its per-partition
  * counts and its numbering read the same partitions. A row's number is
  * its rank in the sort order however often the frame is recomputed
  * (tied rows may trade numbers between recomputes), so no persist is
  * needed for a correct result.
  *
  * The result is the same 1..n numbering a global window produces, at
  * any cardinality.
  */
object Ords {

  /** Plan-size threshold: below this the single-partition window wins
    * (a range-sampling pass, a shuffle and a count pass aren't worth it).
    * Overridable for tests via spark conf `spark.graft.ord.smallBytes`.
    */
  val DefaultSmallBytes: Long = 64L << 20

  private def smallBytes(df: DataFrame): Long =
    df.sparkSession.conf.getOption("spark.graft.ord.smallBytes")
      .map(_.toLong).getOrElse(DefaultSmallBytes)

  /** Plan-size estimate for the Auto hint: the root estimate, corrected
    * by the summed leaf estimate when that is smaller — join-selectivity
    * guesses inflate root sizeInBytes multiplicatively, and the frames
    * routed here are projections/key-joins of their leaves (leaf totals
    * bound the output), so the smaller of the two is the honest figure.
    * Materialized caches (InMemoryRelation) make the leaf side exact.
    * The leaf-sum correction is SKIPPED for row-expanding plans
    * (explode/posexplode — a Generate node): there the leaves do NOT
    * bound the output, and the min would under-estimate a corpus-scale
    * frame onto the single-partition path (ADVICE r6).
    */
  private def estimatedBytes(df: DataFrame): BigInt = {
    val plan = df.queryExecution.optimizedPlan
    val expanding = plan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.nonEmpty
    if (expanding) plan.stats.sizeInBytes
    else plan.stats.sizeInBytes.min(
      plan.collectLeaves().map(_.stats.sizeInBytes).sum)
  }

  /** Caller knowledge about the frame's cardinality. The Planner knows
    * whether an axis frame is dimension-bounded (every dim enumerable —
    * the reference's default, where member caches exist) or involves a
    * `high_cardinality` dimension (the reference's opt-out hint,
    * README.md): Catalyst's sizeInBytes estimate for a post-aggregate
    * frame is fact-sized and useless for this call, so the hint beats
    * the estimate whenever the caller has one.
    */
  sealed trait SizeHint
  case object Small extends SizeHint   // dimension-bounded: single window
  case object Large extends SizeHint   // high-cardinality: distributed
  case object Auto extends SizeHint    // no knowledge: plan-size estimate

  /** `df` + `out` = 1..n row number in `sort` order. */
  def rowNumber(df: DataFrame, sort: Seq[Column], out: String,
      hint: SizeHint = Auto): DataFrame = {
    require(sort.nonEmpty, "rowNumber needs a sort order")
    val small = hint match {
      case Small => true
      case Large => false
      case Auto => estimatedBytes(df) <= smallBytes(df)
    }
    if (small)
      df.withColumn(out, row_number().over(Window.orderBy(sort: _*)))
    else distributed(df, sort, out)
  }

  private def distributed(df: DataFrame, sort: Seq[Column],
      out: String): DataFrame =
    Sequence.attach(df.orderBy(sort: _*), "__seq")
      .withColumn(out, (col("__seq") + 1L).cast("int"))
      .drop("__seq")

  /** Rows per bucket of the distributed running sum (2^20): the bound on
    * one window task's input.
    */
  private val BucketBits = 20

  /** `df` + `out` = inclusive running sum of `value` in `sort` order,
    * scale-guarded like [[rowNumber]]: small frames keep the cheap
    * single-partition window; large frames number the sorted rows with
    * the distributed sequence, cut it into buckets of 2^[[BucketBits]]
    * consecutive rows, and add a per-bucket running window to a
    * broadcast prefix of bucket totals, so no data-sized frame ever
    * exchanges to one partition. `value` is accumulated as long.
    *
    * The sort keys must form a TOTAL order (unique): with ties, the
    * per-row cumulative value depends on tie order, which differs
    * between the two paths and between the two consumers of the
    * sequence (each may recompute it).
    */
  def runningSum(df: DataFrame, sort: Seq[Column], value: Column,
      out: String, hint: SizeHint = Auto): DataFrame = {
    require(sort.nonEmpty, "runningSum needs a sort order")
    val small = hint match {
      case Small => true
      case Large => false
      case Auto => estimatedBytes(df) <= smallBytes(df)
    }
    if (small)
      df.withColumn(out, sum(value.cast("long"))
        .over(Window.orderBy(sort: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    else distributedSum(df, sort, value, out)
  }

  private def distributedSum(df: DataFrame, sort: Seq[Column],
      value: Column, out: String): DataFrame = {
    // both consumers below see the same __seq even when each recomputes
    // it: a row's position is its rank in the (total) sort order
    val seq = Sequence.attach(
        df.withColumn("__v", value.cast("long")).orderBy(sort: _*), "__seq")
      .withColumn("__b", shiftright(col("__seq"), BucketBits))
    val within = seq.withColumn("__ps",
      sum(col("__v")).over(Window.partitionBy(col("__b"))
        .orderBy(col("__seq"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // one row per bucket → exclusive prefix of bucket totals; the only
    // single-partition hop in the plan
    val offsets = seq.groupBy(col("__b"))
      .agg(sum(col("__v")).as("__tot"))
      .withColumn("__off", coalesce(
        sum(col("__tot")).over(Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__off"))
    within.join(broadcast(offsets), "__b")
      .withColumn(out, col("__ps") + col("__off"))
      .drop("__b", "__seq", "__v", "__ps", "__off")
  }

  /** Scalar total row count joined in as a broadcast column — replaces
    * `count(*) over ()` (which also exchanges to one partition).
    */
  def withTotal(df: DataFrame, out: String): DataFrame =
    df.crossJoin(broadcast(df.agg(count(lit(1)).as(out))))
}
