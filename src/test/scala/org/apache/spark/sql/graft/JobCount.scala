package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. The listener bus (`private[spark]`)
  * is drained before the listener joins and again before the count is
  * read, so no earlier action's job is counted and none of the block's
  * own is missed.
  */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (out, started) = groups(sc)(body)
    (out, started.length)
  }

  /** The `spark.jobGroup.id` of each job the block starts, None where
    * the job carries no group.
    */
  def groups[T](sc: SparkContext)(body: => T): (T, Seq[Option[String]]) = {
    val started =
      new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID))))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, started.toArray(Array.empty[Option[String]]).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
