package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row, classic}

/** Reaches Spark's `private[sql]` distributed-sequence operator. */
object Sequence {

  /** `df` + `name` = each row's 0-based position in `df`'s partition
    * order, prepended. Plans as `AttachDistributedSequence`: one
    * `zipWithIndex` over the child's single RDD, whose count pass and
    * numbering pass read the same partitions.
    */
  def attach(df: DataFrame, name: String): DataFrame =
    df.asInstanceOf[classic.Dataset[Row]].withSequenceColumn(name)
}
