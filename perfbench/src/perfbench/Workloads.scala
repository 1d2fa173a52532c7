package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, to_date}

import graft.{Cubes, Tables}
import graft.olap._
import graft.streaming.StreamingCube

/** One user operation: what ran (template + parameters, which the
  * checker turns into oracle SQL) and how to run it.
  */
final case class Op(kind: String, template: String, params: Map[String, Any],
    run: Tracer => (Seq[String], Seq[Row]))

/** A workload: binds its data once per session, then yields operations.
  * `setupOp` is the fixed first operation that closes set-up, `warmup`
  * runs unmeasured (and checked) before the measured phase.
  */
trait Workload {
  def bind(spark: SparkSession, data: String): Unit
  def setupOp: Op
  def warmup: Iterator[Op]
  def next(): Op
  /** True when the next operation starts a new round; the measured phase
    * ends on a round boundary, so every run measures a balanced mix.
    */
  def atRoundStart: Boolean
  def budgetBytes: Long = 0L
  def extra: Map[String, Any] = Map.empty
}

/** Statements against a bound cube, through the two public query
  * surfaces: raw MDX (`Connection.execute` + collect) and the builder
  * (`Query.executeResult`). Traced runs make the same calls one layer
  * at a time: `Mdx.parse`, `Planner.execute`, the Catalyst phases of
  * the returned frame, then the action or `Result.fromDataFrame`.
  */
final class Olap {
  var conn: Connection = _

  def mdx(template: String, params: Map[String, Any], cubeName: String, text: String): Op =
    Op("read", template, params, t => SegmentCache.global.withLease {
      if (!t.active) {
        val df = conn.execute(text)
        (df.columns.toSeq, df.collect().toSeq)
      } else {
        val cube = conn.cube(cubeName)
        val ir = t.span("mdx.parse")(Mdx.parse(text, cube))
        val df = t.span("planner.build")(new Planner(cube).execute(ir))
        catalyst(t, df)
        (df.columns.toSeq, t.span("exec")(df.collect().toSeq))
      }
    })

  def builder(template: String, params: Map[String, Any], cube: String,
      measures: Seq[String])(shape: Query => Query): Op =
    Op("read", template, params, t => {
      val q = shape(conn.from(cube).columns(measures: _*))
      val res =
        if (!t.active) q.executeResult()
        else SegmentCache.global.withLease {
          val df = t.span("planner.build")(q.execute())
          catalyst(t, df)
          t.span("result.render")(
            Result.fromDataFrame(df, measures, conn.cube(cube)))
        }
      val cols = res.rowAxisNames ++ res.columnNames
      (cols, res.rowAxis.indices.map(i => Row.fromSeq(res.rowAxis(i) ++
        res.columnNames.indices.map(j => res.value(i, j)))))
    })

  private def catalyst(t: Tracer, df: DataFrame): Unit = {
    val qe = df.queryExecution
    t.span("catalyst.analyze")(qe.analyzed)
    t.span("catalyst.optimize")(qe.optimizedPlan)
    t.span("catalyst.plan")(qe.executedPlan)
  }
}

/** The Sales-cube statement templates shared by `olap_hot` and
  * `olap_adhoc`, and their parameter space.
  */
object SalesStatements {
  val years: Seq[Int] = 1995 to 2001
  val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val flags = Seq("A", "N", "R")
  /** Customer slicer paths: every region, and every nation under its region. */
  val customerPaths: Seq[Seq[String]] =
    regions.map(Seq(_)) ++ (0 until 25).map(n => Seq(regions(n % 5), s"NATION_$n"))

  def space(template: String): Seq[Map[String, Any]] = template match {
    case "rev_by_customer" =>
      for (y <- years; l <- Seq("region", "nation")) yield Map("year" -> y, "level" -> l)
    case "flag_by_supplier" =>
      for (f <- flags; l <- Seq("region", "nation"); y <- years)
        yield Map("flag" -> f, "level" -> l, "year" -> y)
    case "status_by_customer" =>
      for (p <- customerPaths; y <- years) yield Map("customer" -> p, "year" -> y)
    case "quarters_of_year" =>
      for (p <- customerPaths; y <- years) yield Map("customer" -> p, "year" -> y)
    case "top_brands" =>
      for (y <- years; f <- flags) yield Map("year" -> y, "flag" -> f)
    case "priority_by_customer" =>
      for (p <- customerPaths; y <- years) yield Map("customer" -> p, "year" -> y)
  }

  val templates: Seq[String] = Seq("rev_by_customer", "flag_by_supplier",
    "status_by_customer", "quarters_of_year", "top_brands", "priority_by_customer")

  private def member(dim: String, path: Seq[Any]): String =
    (dim +: path.map(String.valueOf)).map(p => s"[$p]").mkString(".")

  def op(o: Olap, template: String, p: Map[String, Any]): Op = {
    def path = p("customer").asInstanceOf[Seq[String]]
    template match {
      case "rev_by_customer" => o.mdx(template, p, "Sales",
        s"""SELECT {[Measures].[revenue], [Measures].[sum_qty]} ON COLUMNS,
           |  [customer].[${p("level")}].Members ON ROWS
           |FROM [Sales] WHERE (${member("time", Seq(p("year")))})""".stripMargin)
      case "flag_by_supplier" =>
        o.builder(template, p, "Sales", Seq("revenue", "count_order"))(
          _.rows(LevelMembers("supplier", p("level").toString))
            .where(MemberSlice("returnflag", Seq(p("flag"))),
              MemberSlice("time", Seq(p("year")))))
      case "status_by_customer" => o.mdx(template, p, "Sales",
        s"""SELECT {[Measures].[revenue], [Measures].[avg_disc]} ON COLUMNS,
           |  CROSSJOIN([returnflag].[returnflag].Members,
           |            [linestatus].[linestatus].Members) ON ROWS
           |FROM [Sales]
           |WHERE (${member("customer", path)}, ${member("time", Seq(p("year")))})""".stripMargin)
      case "quarters_of_year" =>
        o.builder(template, p, "Sales", Seq("revenue", "n_orders"))(
          _.rows(Children("time", Seq(p("year"))))
            .where(MemberSlice("customer", path)))
      case "top_brands" => o.mdx(template, p, "Sales",
        s"""SELECT {[Measures].[revenue]} ON COLUMNS,
           |  TOPCOUNT([part].[brand].Members, 5, [Measures].[revenue]) ON ROWS
           |FROM [Sales]
           |WHERE (${member("time", Seq(p("year")))}, ${member("returnflag", Seq(p("flag")))})""".stripMargin)
      case "priority_by_customer" =>
        o.builder(template, p, "Sales", Seq("charge", "sum_base_price"))(
          _.rows(LevelMembers("priority", "priority"))
            .where(MemberSlice("customer", path), MemberSlice("time", Seq(p("year")))))
    }
  }

  /** Closes set-up in both Sales workloads; never drawn by `olap_adhoc`. */
  val setupParams: Map[String, Any] = Map("year" -> 2001, "level" -> "region")
}

/** `olap_hot`: a fixed dashboard over the Sales and Events cubes,
  * repeated round after round. Each round first applies one insert-delta
  * to Events (a seeded `event_id` range of `events`, replayed) through
  * `StreamingCube.applyDeltaBatch`, which merges it into the cached
  * Events segments, then reads the dashboard in seeded order. After
  * warm-up every segment lookup hits. Every read carries the number of
  * deltas applied before it, which its check needs.
  */
final class OlapHot(seed: Long, deltaRows: Int) extends Workload {
  private val olap = new Olap
  private val rng = new Random(seed)
  private var spark: SparkSession = _
  private var data: String = _
  private var planner: Planner = _
  private val deltas = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  private var pending = List.empty[Int]

  private val sales: Seq[(String, Map[String, Any])] = Seq(
    "rev_by_customer" -> Map("year" -> 1997, "level" -> "region"),
    "flag_by_supplier" -> Map("flag" -> "R", "level" -> "nation", "year" -> 1998),
    "status_by_customer" -> Map("customer" -> Seq("ASIA"), "year" -> 1996),
    "quarters_of_year" -> Map("customer" -> Seq("AMERICA", "NATION_6"), "year" -> 1999),
    "top_brands" -> Map("year" -> 2000, "flag" -> "A"),
    "priority_by_customer" -> Map("customer" -> Seq("EUROPE", "NATION_3"), "year" -> 1995))
  private val events = Seq("events_by_type", "purchases_by_day")
  /** Dashboard entries: Sales statements, then Events statements. */
  private val dashboard = sales.indices ++ events.indices.map(_ + sales.length)

  def bind(s: SparkSession, d: String): Unit = {
    spark = s; data = d; deltas.clear()
    olap.conn = Connection.create(s, Seq(Cubes.sales(s, d), Cubes.events(s, d)))
    planner = new Planner(olap.conn.cube("Events"))
  }

  private def read(entry: Int): Op =
    if (entry < sales.length) {
      val (t, p) = sales(entry)
      SalesStatements.op(olap, t, p)
    } else {
      val p = Map[String, Any]("deltas" -> deltas.length)
      events(entry - sales.length) match {
        case t @ "events_by_type" => olap.mdx(t, p, "Events",
          """SELECT {[Measures].[n_events], [Measures].[sum_value]} ON COLUMNS,
            |  [event_type].[event_type].Members ON ROWS
            |FROM [Events]""".stripMargin)
        case t @ "purchases_by_day" =>
          olap.builder(t, p, "Events", Seq("n_events", "sum_value"))(
            _.rows(LevelMembers("time", "day"))
              .where(MemberSlice("event_type", Seq("purchase"))))
      }
    }

  private def write(): Op = {
    val start = rng.nextInt(100000 - deltaRows).toLong
    val range = (start, start + deltaRows)
    Op("write", "apply_delta", Map("event_id_from" -> range._1,
        "event_id_to" -> range._2), t => {
      val batch = Tables.load(spark, data, "events")
        .filter(col("event_id") >= range._1 && col("event_id") < range._2)
        .withColumn("l_datekey", to_date(col("ts")))
      t.span("ingest.apply")(StreamingCube.applyDeltaBatch(
        batch, olap.conn.cube("Events"), SegmentCache.global, planner))
      deltas += range
      (Nil, Nil)
    })
  }

  def setupOp: Op = SalesStatements.op(olap, "rev_by_customer", SalesStatements.setupParams)
  /** A pass that fills the cache, one delta, and two more passes: the JIT
    * catches up with the hit and merge paths before the measured rounds.
    * Lazy, so each read records the deltas applied before it ran.
    */
  def warmup: Iterator[Op] =
    dashboard.iterator.map(read) ++ Iterator(write()) ++
      Iterator.fill(2)(dashboard).flatten.map(read)
  def atRoundStart: Boolean = pending.isEmpty
  def next(): Op = {
    if (pending.isEmpty) pending = -1 :: rng.shuffle(dashboard).toList
    val entry = pending.head
    pending = pending.tail
    if (entry < 0) write() else read(entry)
  }
  override def extra: Map[String, Any] = Map("deltas" -> deltas.map { case (a, b) => Seq(a, b) })
}

/** `olap_adhoc`: the Sales templates with parameters drawn without
  * repeats (until a template's parameter space runs out), and a
  * segment-cache byte budget below the run's working set: nearly every
  * lookup misses and budget eviction runs.
  */
final class OlapAdhoc(seed: Long, budget: Long) extends Workload {
  import SalesStatements._
  private val olap = new Olap
  private val rng = new Random(seed)
  private val pools = templates.map { t =>
    val all = space(t).filterNot(p => t == "rev_by_customer" && p == setupParams)
    // a long run that exhausts a template's space starts a fresh shuffle
    t -> (rng.shuffle(all).iterator ++ Iterator.continually(rng.shuffle(all)).flatten)
  }.toMap
  private var round = Iterator.empty[String]
  private def draw(t: String): Op = op(olap, t, pools(t).next())

  def bind(spark: SparkSession, data: String): Unit =
    olap.conn = Connection.create(spark, Seq(Cubes.sales(spark, data)))
  def setupOp: Op = op(olap, "rev_by_customer", setupParams)
  override def budgetBytes: Long = budget
  /** One statement per template, so every plan shape is compiled before
    * the measured phase.
    */
  def warmup: Iterator[Op] = templates.iterator.map(draw)
  def atRoundStart: Boolean = !round.hasNext
  def next(): Op = {
    if (!round.hasNext) round = rng.shuffle(templates).iterator
    draw(round.next())
  }
}
