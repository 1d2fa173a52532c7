package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import graft.olap.SegmentCache
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-query measurement: for each pass and query one line with
  *  - `build` (DataFrame construction: Planner + Catalyst analysis),
  *    `plan` (a forced `executedPlan`: optimization + physical planning)
  *    and `exec` (`toRdd.count()`). Only `executedPlan` counts as
  *    planning: `toRdd` under AQE already runs every shuffle and
  *    broadcast stage, so it is timed as execution;
  *  - `wall`, the whole query boundary;
  *  - Spark `jobs`, `stages`, `tasks` and shuffle bytes written/read
  *    (the "how many passes" view explain() cannot give);
  *  - a trailing `cellset_hit` when a stored cell set served the
  *    statement (from its third run on), so the line times a cache read.
  *
  * With `planDir`, `.explain("formatted")` of each query is written to
  * `<planDir>/<name>.txt` (`<name>.ERR.txt` when building throws) before
  * the passes; with `passes = 0` that dump is all it does, and nothing
  * executes. `GRAFT_PROBE_DETAIL=1` adds a line per completed stage and,
  * on the last pass, Catalyst's phase times and its ten slowest rules.
  *
  * Usage: sbt "runMain graft.Probe <q_a,q_b|all> [passes] [planDir]"
  * (SPARK_GRAFT_SF_DIR, default sf0.1; SPARK_GRAFT_CPUS, default 32)
  */
object Probe {

  /** One query's run: seconds per layer, listener totals, and the
    * error when it threw (its layer times are then 0).
    */
  final case class Measure(name: String, build: Double, plan: Double,
      exec: Double, wall: Double, jobs: Int, stages: Int, tasks: Int,
      shufW: Long, shufR: Long, cellSetHit: Boolean,
      error: Option[Throwable]) {
    def line(pass: Int): String = error match {
      case Some(t) => s"pass$pass $name ERR $t"
      case None =>
        f"pass$pass $name%-28s build=$build%6.3f plan=$plan%6.3f " +
          f"exec=$exec%6.3f wall=$wall%7.3f jobs=$jobs%3d " +
          f"stages=$stages%3d tasks=$tasks%5d shufW=${shufW / 1024}%8d KiB " +
          f"shufR=${shufR / 1024}%8d KiB" +
          (if (cellSetHit) " cellset_hit" else "")
    }
  }

  /** Job, stage, task and shuffle-byte totals of everything the
    * context runs; `detail` prints each completed stage's wall, tasks,
    * shuffle bytes and first plan-node line.
    */
  final class Counters(detail: Boolean) extends SparkListener {
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufW = new AtomicLong; val shufR = new AtomicLong
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0); shufW.set(0); shufR.set(0)
    }
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val info = s.stageInfo
      val w = info.taskMetrics.shuffleWriteMetrics.bytesWritten
      val r = info.taskMetrics.shuffleReadMetrics.remoteBytesRead +
        info.taskMetrics.shuffleReadMetrics.localBytesRead
      stages.incrementAndGet(); tasks.addAndGet(info.numTasks)
      shufW.addAndGet(w); shufR.addAndGet(r)
      if (detail) {
        val wall = (for {
          a <- info.completionTime
          b <- info.submissionTime
        } yield (a - b) / 1000.0).getOrElse(-1.0)
        println(f"    stage ${info.stageId}%4d $wall%7.3f s " +
          f"tasks=${info.numTasks}%4d shufW=${w / 1024}%8d KiB " +
          f"shufR=${r / 1024}%8d KiB  ${info.name.takeWhile(_ != '\n').take(70)}")
      }
    }
  }

  /** Runs `name` once inside [[Harness.scoped]] and returns its record.
    * `counters` must be registered on `spark`'s context. Wall time ends
    * when the query returns; the listener bus is drained after it, so
    * the drain never counts as query time.
    */
  def measure(spark: SparkSession, sfDir: String, name: String,
      counters: Counters, profile: Boolean = false): Measure = {
    counters.reset()
    val served0 = SegmentCache.global.cellSetHits
    var (t1, t2, t3) = (0L, 0L, 0L)
    val t0 = System.nanoTime()
    val error = try {
      Harness.scoped {
        val df = SparkEntry.queries(name)(spark, sfDir)
        t1 = System.nanoTime()
        df.queryExecution.executedPlan
        t2 = System.nanoTime()
        df.queryExecution.toRdd.count()
        t3 = System.nanoTime()
        if (profile) {
          val tracker = df.queryExecution.tracker
          println("  phases: " + tracker.phases.map { case (k, v) =>
            s"$k=${v.endTimeMs - v.startTimeMs}ms" }.mkString(" "))
          tracker.topRulesByTime(10).foreach { case (rule, s) =>
            println(f"  rule ${s.totalTimeNs / 1e6}%8.1f ms " +
              f"calls=${s.numInvocations}%5d " +
              f"eff=${s.numEffectiveInvocations}%4d  $rule")
          }
        }
      }
      None
    } catch { case t: Throwable => t1 = t0; t2 = t0; t3 = t0; Some(t) }
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(300) // let the async listener bus drain
    Measure(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, wall,
      counters.jobs.get, counters.stages.get, counters.tasks.get,
      counters.shufW.get, counters.shufR.get,
      SegmentCache.global.cellSetHits > served0, error)
  }

  /** Writes the formatted plan of each query without executing it. */
  def dumpPlans(spark: SparkSession, sfDir: String, names: Seq[String],
      outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try Harness.scoped {
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        Files.write(Paths.get(outDir, s"$name.txt"), plan.getBytes("UTF-8"))
      } catch {
        case t: Throwable =>
          Files.write(Paths.get(outDir, s"$name.ERR.txt"),
            (t.getClass.getName + ": " + t.getMessage).getBytes("UTF-8"))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q1_agg") match {
      case "all" => SparkEntry.queries.keys.toSeq.sorted
      case list  => list.split(",").map(_.trim).toSeq
    }
    val passes = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val detail = sys.env.get("GRAFT_PROBE_DETAIL").contains("1")
    val spark = Harness.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    args.lift(2).foreach(dumpPlans(spark, sfDir, names, _))
    val counters = new Counters(detail)
    spark.sparkContext.addSparkListener(counters)
    for (pass <- 1 to passes; name <- names)
      println(measure(spark, sfDir, name, counters,
        profile = detail && pass == passes).line(pass))
    spark.stop()
  }
}
