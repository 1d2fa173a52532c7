package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{count, lit, sum}
import org.apache.spark.metrics.source.CodegenMetrics

import graft.olap.{Connection, SegmentCache}

/** One benchmark run in one JVM: set-up (several times), warm-up, a
  * closed-loop measured phase with one client, and the run record.
  *
  *   perfbench.Harness --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --data <dir> --out <file> [--cpus <n>]
  *
  * The record (JSON at `--out`, distinct results at `<out>.results`)
  * holds every operation's latency, parameters and result hash; the
  * checks and the metric summary are made from it by `perfbench/run.py`.
  * With `--trace 1` every other operation runs traced: its layers are
  * timed as spans and its Spark work is counted per layer.
  */
object Harness {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: String, cpus: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"), m("out"),
      m.getOrElse("cpus", "4").toInt)
  }

  /** Segment-cache budget of `olap_adhoc`: below the segment bytes one
    * run materializes, so budget eviction runs (see perfbench/README.md).
    */
  val AdhocBudgetBytes: Long = 2L * 1024
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 2
  /** Rows of `events` replayed by each insert-delta of `olap_hot`. */
  val DeltaRows = 2000

  private def workload(a: Args): Workload = a.workload match {
    case "olap_hot" => new OlapHot(a.seed, DeltaRows)
    case "olap_adhoc" => new OlapAdhoc(a.seed, AdhocBudgetBytes)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def session(a: Args, wl: Workload): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (wl.budgetBytes > 0) b.config("spark.graft.segcache.maxBytes", wl.budgetBytes.toString)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def teardown(spark: SparkSession): Unit = {
    SegmentCache.global.clear()
    Connection.flushSchemaPool()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Fixed synthetic shuffle + aggregate, independent of the engine: a
    * slow reading flags a degraded host rather than a slower tree.
    */
  private def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1000000L, 1L, 8)
      .selectExpr("pmod(xxhash64(id), 50000) AS k", "pmod(xxhash64(id + 7), 1000) AS v")
      .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .agg(sum("s"), sum("n")).collect()
    (System.nanoTime() - t0) / 1e6
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def codegen: (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e6)

  private final case class Seg(hits: Long, misses: Long, evictions: Long,
      merges: Long, pinnedSkips: Long) {
    def -(o: Seg): Map[String, Long] = Map("hits" -> (hits - o.hits),
      "misses" -> (misses - o.misses), "evictions" -> (evictions - o.evictions),
      "merges" -> (merges - o.merges), "pinned_skips" -> (pinnedSkips - o.pinnedSkips))
  }
  private def seg: Seg = {
    val c = SegmentCache.global
    Seg(c.hits, c.misses, c.evictions, c.merges, c.pinnedSkips)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = workload(a)
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val results = mutable.LinkedHashMap.empty[String, String]
    val plain = new Tracer(false, null)

    // traced runs follow resident segment bytes across every read: their
    // summed growth is the run's segment working set (a lower bound once
    // budget eviction frees bytes inside a read)
    var residentGrowth = 0L
    def resident: Long = if (a.trace) SegmentCache.global.residentBytes else 0L

    def runOp(op: Op, phase: String, idx: Int, tracer: Tracer, traced: Boolean): Unit = {
      val s0 = seg
      val tracked = phase != "setup" && op.kind == "read"
      val r0 = if (tracked) resident else 0L
      val t0 = System.nanoTime()
      val out = try Right(tracer.operation(idx, traced)(op.run(tracer)))
        catch { case e: Throwable => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      if (tracked) residentGrowth += math.max(0L, resident - r0)
      val hash = out.toOption.filter(_ => op.kind != "write").map { case (cols, rows) =>
        val json = Json.result(cols, rows)
        val h = java.security.MessageDigest.getInstance("SHA-1")
          .digest(json.getBytes(UTF_8)).map("%02x".format(_)).mkString
        results.getOrElseUpdate(h, json)
        h
      }
      records += Map("phase" -> phase, "i" -> idx, "kind" -> op.kind,
        "template" -> op.template, "params" -> op.params, "ms" -> ms,
        "traced" -> traced, "result" -> hash, "seg" -> (seg - s0),
        "error" -> out.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}"))
    }

    // ---- set-up: the first from JVM start, the rest on a fresh session
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var setupCodegen = (0L, 0.0)
    for (k <- 1 to Setups) {
      val t0 = System.nanoTime()
      if (spark != null) teardown(spark)
      spark = session(a, wl)
      wl.bind(spark, a.data)
      runOp(wl.setupOp, "setup", -k, plain, traced = false)
      setupS += (if (k == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3
                 else (System.nanoTime() - t0) / 1e9)
      if (k == 1) setupCodegen = codegen
    }
    val sc = spark.sparkContext
    val listener = new ExecListener
    if (a.trace) sc.addSparkListener(listener)
    val tracer = new Tracer(a.trace, sc)

    wl.warmup.foreach(op => runOp(op, "warmup", -100, plain, traced = false))

    val calib = mutable.ArrayBuffer.empty[Double]
    var calibError: Option[String] = None
    def probe(): Unit =
      try calib += calibrate(spark)
      catch { case e: Throwable => calibError = Some(e.toString) }
    probe()

    // ---- measured phase: closed loop, one client, whole rounds
    val seg0 = seg
    val gc0 = gcMs
    val cg0 = codegen
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || !wl.atRoundStart) {
      runOp(wl.next(), "measure", i, tracer, traced = a.trace && i % 2 == 0)
      i += 1
    }
    val measureS = (System.nanoTime() - t0) / 1e9
    val gc1 = gcMs
    val cg1 = codegen
    val segDelta = seg - seg0
    val storageBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val residentEnd = SegmentCache.global.residentBytes
    probe()
    if (a.trace) listener.drain()

    val layers = if (!a.trace) Nil else opLayers(tracer, listener)
    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cpus" -> a.cpus,
      "setup_s" -> setupS, "setup_codegen" -> Map("compiles" -> setupCodegen._1,
        "ms" -> setupCodegen._2),
      "calib_ms" -> calib, "calib_error" -> calibError,
      "measure_s" -> measureS, "gc_ms" -> (gc1 - gc0),
      "codegen" -> Map("compiles" -> (cg1._1 - cg0._1), "ms" -> (cg1._2 - cg0._2)),
      "segcache" -> (segDelta ++ Map("resident_bytes" -> residentEnd,
        "budget_bytes" -> wl.budgetBytes)),
      "storage_bytes" -> storageBytes,
      "resident_growth_bytes" -> residentGrowth,
      "ops" -> records, "layers" -> layers,
      "spans" -> tracer.spans.map(s => Seq(s.name, s.op, s.parent, s.startNs, s.endNs)),
      "extra" -> wl.extra)
    Files.write(Paths.get(a.out), Json(record).getBytes(UTF_8))
    Files.write(Paths.get(a.out + ".results"),
      results.map { case (h, j) => s"$h\t$j" }.mkString("\n").getBytes(UTF_8))
    spark.stop()
  }

  /** Layer self-times and Spark counts of every traced operation. A
    * span's self-time is its duration minus its child spans; inside
    * `result.render` the wall time of its SQL execution (the collect) is
    * moved to `exec`. What the root span keeps for itself is
    * `unattributed`.
    */
  private def opLayers(tracer: Tracer, l: ExecListener): Seq[Map[String, Any]] = {
    val spans = tracer.spans.toIndexedSeq
    val childMs = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    spans.indices.groupBy(i => spans(i).op).toSeq.sortBy(_._1).map { case (op, idxs) =>
      val self = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      idxs.foreach { i =>
        val s = spans(i)
        val own = s.ms - childMs(i)
        s.name match {
          case "op" => self("unattributed") += own
          case "result.render" =>
            val action = math.min(l.stats(s"$op/result.render").sqlWallMs.toDouble, own)
            self("exec") += action
            self("result.render") += own - action
          case n => self(n) += own
        }
      }
      val groups = l.groupsOf(op).map(_._2)
      def jobsIn(layer: String) = l.stats(s"$op/$layer").jobs
      Map("i" -> op, "ms" -> spans(idxs.head).ms, "self_ms" -> self.toMap,
        "build_jobs" -> jobsIn("planner.build"), "ingest_jobs" -> jobsIn("ingest.apply"),
        "jobs" -> groups.map(_.jobs).sum, "stages" -> groups.map(_.stages).sum,
        "tasks" -> groups.map(_.tasks).sum, "task_ms" -> groups.map(_.taskMs).sum,
        "shuffle_write_bytes" -> groups.map(_.shuffleWriteBytes).sum,
        "shuffle_read_bytes" -> groups.map(_.shuffleReadBytes).sum,
        "spill_bytes" -> groups.map(_.spillBytes).sum)
    }
  }
}
