package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed region of one operation. `parent` is -1 for an operation's
  * root span; times are `System.nanoTime`.
  */
final case class Span(name: String, op: Int, parent: Int,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one job group (one layer of one operation). */
final class GroupStats {
  var jobs, stages, tasks = 0
  var taskMs, shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  /** (start, end) of every finished SQL execution (one per action,
    * including its adaptive re-planning between stages), epoch ms.
    */
  val sqlIntervals = ArrayBuffer.empty[(Long, Long)]

  /** Wall time covered by at least one SQL execution (nested or
    * overlapping executions count once).
    */
  def sqlWallMs: Long = {
    var total = 0L
    var curEnd = Long.MinValue
    sqlIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s >= curEnd) total += e - s
      else if (e > curEnd) total += e - curEnd
      curEnd = math.max(curEnd, e)
    }
    total
  }
}

/** The harness's own listener. SQL executions, jobs, stages and tasks
  * are attributed through the job group that [[Tracer.span]] sets for
  * each layer of each operation.
  */
final class ExecListener extends SparkListener {
  private val groups = TrieMap.empty[String, GroupStats]
  private val jobGroup = TrieMap.empty[Int, String]
  private val stageGroup = TrieMap.empty[Int, String]
  private val endedJobs = TrieMap.empty[Int, Unit]
  private val sqlGroup = TrieMap.empty[Long, String]
  private val sqlStart = TrieMap.empty[Long, Long]
  private val endedSql = TrieMap.empty[Long, Unit]

  def stats(group: String): GroupStats = groups.getOrElseUpdate(group, new GroupStats)
  def groupsOf(op: Int): Seq[(String, GroupStats)] =
    groups.toSeq.filter(_._1.startsWith(s"$op/"))

  private def groupOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).foreach { g => jobGroup.put(e.jobId, g); stats(g).jobs += 1 }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = endedJobs.put(e.jobId, ())

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach { g => sqlGroup.put(s.executionId, g); sqlStart.put(s.executionId, s.time) }
    case x: SparkListenerSQLExecutionEnd =>
      sqlGroup.get(x.executionId).foreach { g =>
        stats(g).sqlIntervals += ((sqlStart(x.executionId), x.time))
      }
      endedSql.put(x.executionId, ())
    case _ =>
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    groupOf(e.properties).foreach(g => stageGroup.put(e.stageInfo.stageId, g))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageGroup.get(e.stageInfo.stageId).foreach(g => stats(g).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  /** Wait (bounded) until every job and SQL execution this listener saw
    * start has ended, so per-group counts are complete before they are read.
    */
  def drain(timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while ((jobGroup.keys.exists(j => !endedJobs.contains(j)) ||
        sqlGroup.keys.exists(x => !endedSql.contains(x))) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100) // task-end events of the last stage trail its job end
  }
}

/** In-memory span recorder. With `on = false` every call is a plain
  * pass-through, so the untraced path runs exactly the user's calls.
  * Each span sets the Spark job group `<op>/<name>` for its duration.
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String)]
  private var op = -1

  /** Whether the operation running now is traced. */
  def active: Boolean = on && op >= 0

  def operation[T](id: Int, traced: Boolean)(body: => T): T = {
    op = if (traced) id else -1
    try span("op")(body) finally op = -1
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val idx = spans.length
      val parent = open.headOption.map(_._1).getOrElse(-1)
      spans += null
      open = (idx, name) :: open
      sc.setJobGroup(s"$op/$name", name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans(idx) = Span(name, op, parent, t0, System.nanoTime())
        open = open.tail
        open.headOption match {
          case Some((_, outer)) => sc.setJobGroup(s"$op/$outer", outer)
          case None => sc.clearJobGroup()
        }
      }
    }
}
