package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.streaming.StreamingCube
import graft.streaming.StreamingCube.{Evt, UserSessions}

/** Structured-Streaming specs: the stream paths must agree with their
  * batch backfill equivalents on the same data.
  */
class StreamingSpec extends SparkSpec {

  test("daily stream aggregation equals the batch aggregate") {
    val streamed = StreamingCube.runDailyAgg(spark, Sf, "spec_daily")
      .select("d_date", "event_type", "n_events", "sum_value")
    val batch = Tables.load(spark, Sf, "events")
      .groupBy(to_date(col("ts")).as("d_date"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(value as decimal(38,10))")).as("sum_value"))
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("stream maintenance flushes touched cache regions only") {
    val cube = Cubes.events(spark, Sf)
    val cubeId = cube.cubeId
    val cache = graft.olap.SegmentCache.global
    // seed two segments: one sliced to 'click' events, one to 'view'
    def run(t: String) = graft.olap.Query.from(cube).columns("n_events")
      .rows(graft.olap.LevelMembers("time", "month"))
      .where(graft.olap.MemberSlice("event_type", Seq(t)))
      .execute().collect()
    run("click"); run("view")
    // a delta stream containing only 'click' events
    import org.apache.spark.sql.functions._
    val deltas = StreamingCube.eventStream(spark, Sf)
      .filter(col("event_type") === "click")
    val q = StreamingCube.maintain(deltas, cubeId,
      Map("event_type" -> "event_type"), cache)
    q.awaitTermination()
    // click segment flushed → recompute (miss); view segment survives
    val missesBefore = cache.misses
    val hitsBefore = cache.hits
    run("view")
    assert(cache.hits > hitsBefore, "untouched region must stay cached")
    run("click")
    assert(cache.misses > missesBefore, "touched region must recompute")
  }

  test("delta merge updates decomposable segments in place") {
    val cube = Cubes.events(spark, Sf)
    val cache = graft.olap.SegmentCache.global
    val planner = new graft.olap.Planner(cube)
    def run() = graft.olap.Query.from(cube)
      .columns("n_events", "sum_value")
      .rows(graft.olap.LevelMembers("time", "day"))
      .execute().collect()
      .map(r => String.valueOf(r.getAs[Any]("d_date")) ->
        (r.getAs[Long]("n_events"), r.getAs[java.math.BigDecimal]("sum_value")))
      .toMap
    val before = run()
    // replay one day's click events as an insert-delta
    val day = Tables.load(spark, Sf, "events")
      .select(to_date(min(col("ts"))).as("d")).collect()(0).getDate(0)
    val delta = Tables.load(spark, Sf, "events")
      .filter(col("event_type") === "click" &&
        to_date(col("ts")) === lit(day))
      .withColumn("l_datekey", to_date(col("ts")))
    val deltaN = delta.count()
    assert(deltaN > 0)
    val mergesBefore = cache.merges
    val hitsBefore = cache.hits
    StreamingCube.applyDeltaBatch(delta, cube, cache, planner)
    assert(cache.merges > mergesBefore, "segment must merge, not evict")
    val after = run()
    assert(cache.hits > hitsBefore, "merged segment must serve from cache")
    val dayKey = String.valueOf(day)
    assert(after(dayKey)._1 === before(dayKey)._1 + deltaN)
    assert(after(dayKey)._2.subtract(before(dayKey)._2).signum > 0)
    // an untouched day is unchanged
    val other = before.keys.filterNot(_ == dayKey).head
    assert(after(other) === before(other))
    // the pooled cube's fact lacks the replayed rows: drop the segments
    // that hold them, or a later suite's coarser statement re-aggregates
    // them
    cache.flushCube(cube.cubeId)
  }

  test("cell sets: after applyDeltaBatch the next Events answer " +
      "includes the delta") {
    val cube = Cubes.events(spark, Sf).copy()
    val cache = graft.olap.SegmentCache.global
    val planner = new graft.olap.Planner(cube)
    def run() = graft.olap.Mdx.execute(
      """SELECT {[Measures].[n_events], [Measures].[sum_value]} ON COLUMNS,
        |  [event_type].[event_type].Members ON ROWS
        |FROM [Events]""".stripMargin, cube).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_events")).toMap
    val before = run(); run()
    val served = cache.cellSetHits
    assert(run() === before)
    assert(cache.cellSetHits === served + 1, "third run must be served")
    val delta = Tables.load(spark, Sf, "events")
      .filter(col("event_type") === "click")
      .withColumn("l_datekey", to_date(col("ts")))
    val deltaN = delta.count()
    assert(deltaN > 0)
    StreamingCube.applyDeltaBatch(delta, cube, cache, planner)
    val after = run()
    assert(cache.cellSetHits === served + 1,
      "a merged segment invalidates the stored render")
    assert(after("click") === before("click") + deltaN)
    assert(after - "click" === before - "click")
    run()
    assert(run() === after, "the re-stored render serves the merged cells")
    assert(cache.cellSetHits === served + 2)
    cache.flushCube(cube.cubeId)
  }

  test("delta merge equals a fresh cube over fact and delta for Sum, " +
      "SumExact, Count, Min and Max") {
    import graft.olap.{CrossJoin, LevelMembers, MemberSlice, Planner, Query,
      SegmentCache}
    val cube = Cubes.sales(spark, Sf).copy()
    val cache = SegmentCache.global
    val fact = Cubes.salesFact(spark, Sf)
    val y = fact.select(year(min(col("o_orderdate")))).head().getInt(0)
    val orders = fact.filter(year(col("o_orderdate")) === y)
      .select("l_orderkey").distinct().orderBy("l_orderkey")
      .limit(3).collect().map(_.getLong(0))
    // a customer with no orders in year y: the delta adds a
    // (customer, year) tuple the segment at that grain lacks
    val idle = Tables.load(spark, Sf, "customer")
      .join(Tables.load(spark, Sf, "orders")
          .filter(year(col("o_orderdate")) === y),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .orderBy("c_custkey").select("c_custkey", "c_name").head()
    // three year-y orders' lines moved to that customer, one price
    // raised past the fact's max and one cut below its min
    val delta = fact.filter(col("l_orderkey").isin(orders.toSeq: _*))
      .withColumn("o_custkey", lit(idle.getLong(0)))
      .withColumn("l_extendedprice",
        when(col("l_linenumber") === 1, col("l_extendedprice") * 1000)
          .when(col("l_linenumber") === 2, lit(0.01))
          .otherwise(col("l_extendedprice")))
    val ms = Seq("sum_qty", "revenue", "count_order", "min_price", "max_price")
    // a grand total, a sliced grain, and the grain the new tuple lands in
    def answers(c: graft.olap.BoundCube) = Seq(
      Query.from(c).columns(ms: _*),
      Query.from(c).columns(ms: _*).rows(LevelMembers("customer", "nation"))
        .where(MemberSlice("time", Seq(y))),
      Query.from(c).columns(ms: _*).rows(CrossJoin(
        LevelMembers("customer", "customer"), LevelMembers("time", "year")))
    ).map(_.execute().collect().toSeq)
    def idleCount(rows: Seq[org.apache.spark.sql.Row]) =
      rows.find(r => r.getAs[String]("c_name") == idle.getString(1) &&
          r.getAs[Any]("d_year") == y)
        .flatMap(r => Option(r.getAs[Any]("count_order")))
    val before = answers(cube)
    assert(idleCount(before(2)).isEmpty)
    val merges0 = cache.merges
    StreamingCube.applyDeltaBatch(delta, cube, cache, new Planner(cube))
    assert(cache.merges - merges0 >= 3, "every segment merges")
    val misses0 = cache.misses
    val after = answers(cube)
    assert(cache.misses === misses0, "every answer reads a merged segment")
    val fresh = answers(cube.copy(fact = fact.union(delta), factPruner = None))
    // Row.toString carries each decimal's full scale: exact equality
    def cells(a: Seq[Seq[org.apache.spark.sql.Row]]) = a.map(_.map(_.toString).toSet)
    assert(cells(after) === cells(fresh))
    assert(cells(after).zip(cells(before)).forall { case (a, b) => a != b })
    assert(idleCount(after(2)) === Some(delta.count()))
    cache.flushCube(cube.cubeId)
  }

  test("delta merge: more segments than defaultParallelism all merge, " +
      "every job carries the caller's job group, and no merge thread " +
      "outlives the call") {
    import scala.jdk.CollectionConverters._
    import graft.olap.{LevelMembers, MemberSlice, Planner, Query, SegmentCache}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graft.JobCount
    val cube = Cubes.events(spark, Sf).copy()
    val cache = SegmentCache.global
    val sc = spark.sparkContext
    def q(c: graft.olap.BoundCube) = Query.from(c).columns("n_events", "sum_value")
    val statements: Seq[graft.olap.BoundCube => Query] = Seq(
      q(_),
      q(_).rows(LevelMembers("event_type", "event_type")),
      q(_).rows(LevelMembers("time", "year")),
      q(_).rows(LevelMembers("time", "quarter")),
      q(_).rows(LevelMembers("time", "month")),
      q(_).rows(LevelMembers("time", "day")),
      q(_).rows(LevelMembers("time", "month"))
        .where(MemberSlice("event_type", Seq("click"))))
    assert(statements.length > sc.defaultParallelism)
    def answers(c: graft.olap.BoundCube) =
      statements.map(_(c).execute().collect().map(_.toString).toSet)
    val before = answers(cube)
    val delta = Tables.load(spark, Sf, "events")
      .filter(col("event_type") === "click")
      .withColumn("l_datekey", to_date(col("ts")))
    def mergeThreads() = Thread.getAllStackTraces.keySet.asScala
      .count(t => t.isAlive && t.getName.startsWith(SegmentCache.MergeThreadPrefix))
    val peak = new java.util.concurrent.atomic.AtomicInteger
    val threadsAtJobStart = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        peak.accumulateAndGet(mergeThreads(), math.max)
    }
    val merges0 = cache.merges
    sc.addSparkListener(threadsAtJobStart)
    sc.setJobGroup("streaming-spec-merge", "insert-delta merge")
    val (_, groups) =
      try JobCount.groups(sc)(
        StreamingCube.applyDeltaBatch(delta, cube, cache, new Planner(cube)))
      finally { sc.clearJobGroup(); sc.removeSparkListener(threadsAtJobStart) }
    assert(mergeThreads() === 0, "a merge thread outlived the call")
    assert(groups.nonEmpty)
    assert(groups.forall(_.contains("streaming-spec-merge")), groups)
    assert(peak.get <= sc.defaultParallelism)
    assert(cache.merges - merges0 >= statements.length, "every segment merges")
    val after = answers(cube)
    assert(after === answers(cube.copy(fact = cube.fact.union(delta))))
    assert(after.zip(before).forall { case (a, b) => a != b })
    cache.flushCube(cube.cubeId)
  }

  test("delta merge is all-or-nothing: when one segment's merge fails, " +
      "no segment of the cube keeps the delta") {
    import graft.olap.{LevelMembers, Planner, Query, SegmentCache}
    val cube = Cubes.events(spark, Sf).copy()
    val cache = SegmentCache.global
    val planner = new Planner(cube)
    def total() = Query.from(cube).columns("n_events").execute()
      .head().getAs[Long]("n_events")
    def byType() = Query.from(cube).columns("n_events")
      .rows(LevelMembers("event_type", "event_type")).execute().collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_events")).toMap
    val total0 = total()
    val types0 = byType()
    assert(types0.values.sum === total0)
    val delta = Tables.load(spark, Sf, "events")
      .filter(col("event_type") === "click")
      .withColumn("l_datekey", to_date(col("ts")))
    var calls = 0
    val err = intercept[Exception] {
      cache.mergeOrEvict(cube.cubeId) { key =>
        calls += 1
        val n = calls
        planner.deltaSegment(key.grain, key.slicer, key.measures, delta)
          .map { rows =>
            // the second segment's merge fails when its job runs
            (if (n == 2) rows.filter(expr("raise_error('injected merge failure') IS NULL"))
             else rows, planner.mergePlanFor(key.measures))
          }
      }
    }
    assert(calls === 2)
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected merge failure")), err)
    val misses0 = cache.misses
    assert(total() === total0, "the grand total kept the delta")
    assert(byType() === types0, "the per-type cells kept the delta")
    assert(cache.misses === misses0 + 2, "every segment of the cube is evicted")
    cache.flushCube(cube.cubeId)
  }

  test("an Events time-grain merge derives the time levels from the fact " +
      "key: no broadcast join, and the merged cells equal a fresh cube " +
      "over fact and delta, a delta row on a new date included") {
    import graft.olap.{LevelMembers, Planner, Query, SegmentCache}
    val cube = Cubes.events(spark, Sf).copy()
    val cache = SegmentCache.global
    val planner = new Planner(cube)
    def answers(c: graft.olap.BoundCube) =
      (Seq(Query.from(c).columns("n_events", "sum_value")) ++
        Seq("year", "quarter", "month").map(l => Query.from(c)
          .columns("n_events", "sum_value").rows(LevelMembers("time", l))))
        .map(_.execute().collect().map(_.toString).toSet)
    val before = answers(cube)
    val events = Tables.load(spark, Sf, "events")
    val last = events.select(max(to_date(col("ts")))).head().getDate(0)
      .toLocalDate
    // two click rows replayed, the later one moved to the day after the
    // fact's last date (same month at every fixture scale)
    val clicks = events.filter(col("event_type") === "click")
      .orderBy(col("ts").desc).limit(2)
    val moved = clicks.agg(max("event_id")).head().getLong(0)
    val raw = clicks.withColumn("ts", when(col("event_id") === moved,
        lit(java.sql.Timestamp.valueOf(last.plusDays(1).atTime(12, 0))))
      .otherwise(col("ts")))
    val delta = raw.withColumn("l_datekey", to_date(col("ts")))
    val monthRows = planner.deltaSegment(Seq("d_year", "d_yq", "d_ym"), Nil,
      Seq("n_events", "sum_value"), delta).get
    val p = monthRows.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin"), s"the time levels must not join:\n$p")
    val merges0 = cache.merges
    StreamingCube.applyDeltaBatch(delta, cube, cache, planner)
    assert(cache.merges - merges0 >= 4, "every segment merges")
    val after = answers(cube)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_events_delta").toString
    events.union(raw).write.parquet(s"$dir/events.parquet")
    val fresh = Cubes.events(spark, dir)
    assert(after === answers(fresh))
    assert(after.zip(before).forall { case (a, b) => a != b })
    cache.flushCube(cube.cubeId)
    cache.flushCube(fresh.cubeId)
  }

  test("stateful sessionization carries state across micro-batches") {
    import spark.implicits._
    val events = Tables.load(spark, Sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"))
      .as[Evt].collect().sortBy(_.tsMicros)
    val (first, second) = events.splitAt(events.length / 2)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Evt]
    val q = StreamingCube.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("spec_sessions")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    mem.addData(first.toIndexedSeq)
    q.processAllAvailable()
    mem.addData(second.toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    // last emission per user is the final session count
    val streamed = spark.table("spec_sessions").as[UserSessions]
      .collect().zipWithIndex
      .groupBy(_._1.user_id)
      .map { case (u, rows) => u -> rows.maxBy(_._2)._1.n_sessions }
    val batch = StreamingCube
      .sessionizeBatch(Tables.load(spark, Sf, "events"), 30)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(streamed === batch)
  }

  test("map-only curation ops apply unchanged to a stream") {
    import spark.implicits._
    import graft.ops.{CurationOps, TextOps}
    // mixture sampling + PII scrub are stateless projections/filters,
    // so the SAME operator code runs on a readStream frame and emits
    // batch-identical rows — no rewrite, no state store
    val batch = Tables.load(spark, Sf, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit(" mail "), col("source"),
          lit("@example.com")).as("text"),
        col("source"))
    val rates = Map("src0" -> 0.4, "src2" -> 0.8)
    def curate(df: org.apache.spark.sql.DataFrame) =
      TextOps.redactPii(CurationOps.mixtureSample(df, rates),
        "text", "clean")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingSpec.Doc]
    val q = curate(mem.toDS().toDF()).writeStream
      .format("memory").queryName("spec_curate")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    mem.addData(batch.as[StreamingSpec.Doc].collect().toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("spec_curate")
      .select("doc_id", "clean").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    val direct = curate(batch).select("doc_id", "clean").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    assert(streamed === direct)
    assert(streamed.nonEmpty &&
      streamed.forall(_._2.contains("<EMAIL>")))
  }

  test("bloom probe flags a stream identically to batch") {
    import spark.implicits._
    import graft.ops.DedupOps
    val docsB = Tables.load(spark, Sf, "documents")
      .select("doc_id", "text", "source")
    val evalSet = docsB.filter(col("doc_id") < 250)
    // tiny filter -> high fpr, so SOME non-eval rows flag true too;
    // parity must hold regardless
    val bf = DedupOps.buildBloom(evalSet, 50L, 400L)
    val batch = DedupOps.bloomProbe(docsB, bf, "maybe")
      .select("doc_id", "maybe").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingSpec.Doc]
    val q = DedupOps.bloomProbe(mem.toDS().toDF(), bf, "maybe")
      .writeStream.format("memory").queryName("spec_bloom")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    mem.addData(docsB.as[StreamingSpec.Doc].collect().toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("spec_bloom")
      .select("doc_id", "maybe").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(streamed === batch)
    // no false negatives: every eval doc must flag true
    assert(streamed.filter(_._1 < 250).values.forall(identity))
  }

  test("stream minhash index equals the batch band table") {
    import graft.ops.DedupOps
    val docs = Tables.load(spark, Sf, "documents")
    val sh = DedupOps.shingledRaw(docs)
    val batch = DedupOps.bandTable(sh, bands = 4, rows = 2)
      .groupBy("band_idx", "band_sig")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_docs"))
      .collect().map(_.toString).sorted.toSeq
    val streamed = StreamingCube
      .runStreamMinhashIndex(spark, Sf, "spec_stream_mh")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming rolling ring skips NULL values like the batch window") {
    import spark.implicits._
    import graft.streaming.StreamingCube.{FeEvt, FeOut}
    // hand-built log with NULL values in ring positions: they occupy a
    // frame slot (trim the lookback window) but are excluded from
    // roll_n / roll_sum — the batch count(value)/sum(value) semantics
    val evts = Seq(
      FeEvt(1L, 7L, 1000L, Some(1.5)),
      FeEvt(2L, 7L, 2000L, None),
      FeEvt(3L, 7L, 3000L, Some(2.25)),
      FeEvt(4L, 7L, 4000L, None),
      FeEvt(5L, 7L, 5000L, Some(4.0)),
      FeEvt(6L, 7L, 6000L, Some(8.0)))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[FeEvt]
    val q = StreamingCube.rollingFeatures(mem.toDS(), lookback = 3)
      .writeStream.format("memory").queryName("spec_roll_null")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0)).start()
    mem.addData(evts.take(4)); q.processAllAvailable()
    mem.addData(evts.drop(4)); q.processAllAvailable()
    q.stop()
    val got = spark.table("spec_roll_null").as[FeOut].collect()
      .map(o => o.event_id -> ((o.roll_n, o.roll_sum))).toMap
    val batch = evts.map(e => (e.event_id, e.user_id,
        new java.sql.Timestamp(e.tsMicros / 1000), e.value))
      .toDF("event_id", "user_id", "ts", "value")
    val want = graft.ops.TimeOps
      .rollingFeatures(batch, "user_id", "ts", "event_id", "value", 3)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(4), Option(r.get(5)).map(_.toString.toDouble))))
      .toMap
    assert(got === want)
    // the NULL rows really did occupy frame slots: event 5's window is
    // rows {2,3,4} = one null-excluded pair -> n=1, sum=2.25
    assert(got(5L) === ((1L, Some(2.25))))
  }

  test("stream-stream interval join equals the batch range join") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.StreamingCube
      .runStreamStreamJoin(spark, Sf, "spec_sjoin")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = Tables.load(spark, Sf, "events")
    val batch = graft.ops.TimeOps.rangeJoin(
        ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts"),
        ev.filter(col("event_type") === "error")
          .select(col("event_id").as("win_id"), col("user_id"),
            col("ts").as("t_start"),
            (col("ts") + expr("INTERVAL 30 MINUTES")).as("t_end")),
        "user_id", "ts", "t_start", "t_end", 1800000000L)
      .select("event_id", "win_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming cluster-index ingest == batch CC across micro-batches") {
    val root = "/tmp/graft_cidx_stream_spec"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(root))
    val docs = Tables.load(spark, Sf, "documents")
    // land the corpus as FOUR parquet files and force one file per
    // micro-batch: cross-batch near-dup pairs (and pairs whose two
    // sides arrive batches apart) must still cluster together via the
    // persisted band table
    docs.repartition(4).write.parquet(s"$root/in")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
    val labels = graft.streaming.StreamingCube.clusterIndexIngest(
        stream, docs, s"$root/index", s"$root/chk")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // every batch landed its own EDGE partition (base + one per
    // micro-batch), while label snapshots are AMORTIZED — strictly
    // fewer generations than edge ingests (base + periodic/final),
    // the decoupling that keeps per-batch cost O(batch)
    // (directory listing, not row values: the empty base build's
    // edges/ingest=0 is a schema-only partition with zero rows)
    def parts(sub: String) = Option(
        new java.io.File(s"$root/index/$sub").listFiles())
      .map(_.count(f => f.isDirectory &&
        (f.getName.startsWith("ingest=") || f.getName.startsWith("gen="))))
      .getOrElse(0)
    val ingests = parts("edges")
    assert(ingests >= 5,
      s"expected one edge partition per batch plus base, got $ingests")
    val gens = parts("labels")
    assert(gens >= 2 && gens < ingests,
      s"expected amortized label snapshots, got $gens gens / $ingests ingests")
    val batch = graft.ops.DedupOps.nearDupClusters(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels === batch,
      "streamed incremental clustering must equal the batch CC")
  }

  test("streaming ingest with compactEvery folds history mid-stream " +
      "and at drain, labels still == batch CC") {
    import org.apache.spark.sql.functions._
    val root = "/tmp/graft_cidx_stream_compact_spec"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(root))
    val docs = Tables.load(spark, Sf, "documents")
    docs.repartition(4).write.parquet(s"$root/in")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
    // snapshotEvery=1 publishes a generation every batch, so the
    // batch-2 compaction (maxFold = 2) has a real fold set {base, 1, 2}
    // — the mid-stream path executes, not just the drain-end pass
    val labels = graft.streaming.StreamingCube.clusterIndexIngest(
        stream, docs, s"$root/index", s"$root/chk",
        snapshotEvery = 1, compactEvery = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // drain-end unbounded compaction: ONE base partition per table,
    // one label generation — the O(history) listing surface is gone
    def parts(sub: String) = Option(
        new java.io.File(s"$root/index/$sub").listFiles())
      .map(_.count(f => f.isDirectory &&
        (f.getName.startsWith("ingest=") || f.getName.startsWith("gen="))))
      .getOrElse(0)
    for (t <- Seq("shingles", "bands", "edges", "docs"))
      assert(parts(t) === 1, s"$t not folded to one base partition")
    assert(parts("labels") === 1, "stale label generations not pruned")
    // and compaction never changed WHAT the index says
    val batch = graft.ops.DedupOps.nearDupClusters(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels === batch,
      "compacted streamed clustering must equal the batch CC")
    // the folded base still serves incremental appends: new docs band
    // against the compacted corpus exactly as against the fragments
    val index = graft.ops.DedupOps.ClusterIndex(s"$root/index",
      bands = 4, rows = 2, threshold = 0.5)
    val extra = docs.orderBy("doc_id").limit(2)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    graft.ops.DedupOps.appendToClusterIndex(index, extra, 100L)
    val after = graft.ops.DedupOps
      .readClusterLabels(spark, s"$root/index")
    assert(after.count() === batch.size + 2)
  }

  test("idempotent batch sink lands once; a replayed batch is a no-op") {
    import org.apache.spark.sql.functions._
    val path = "/tmp/graft_eo_sink"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(path)); rm(new java.io.File(s"$path-chk"))
    val landed = graft.streaming.StreamingCube
      .runExactlyOnceIngest(spark, Sf, path)
    val src = Tables.load(spark, Sf, "documents")
    assert(landed.count() === src.count())
    // simulate the at-least-once replay: rerun the LAST batch's write
    // with the same batchId and the same rows — the overwrite makes it
    // a no-op for the dataset as a whole
    // `batch` is a partition column inferred as int from dir names
    val lastBatch = spark.read.parquet(path)
      .agg(max(col("batch"))).head().get(0).toString.toLong
    // materialize the replayed rows BEFORE the overwrite (in a real
    // replay they come from the checkpointed SOURCE offsets, not from
    // the sink directory being rewritten)
    val batchDir = spark.read.parquet(s"$path/batch=$lastBatch")
    val replayRows = spark.createDataFrame(
      java.util.Arrays.asList(batchDir.collect(): _*), batchDir.schema)
    graft.streaming.StreamingCube
      .idempotentBatchSink(path)(replayRows, lastBatch)
    val after = spark.read.parquet(path)
    assert(after.count() === src.count(), "replay duplicated rows")
    assert(after.select("doc_id").collect().map(_.getLong(0)).sorted
      .toSeq === src.select("doc_id").collect().map(_.getLong(0))
      .sorted.toSeq)
  }
}

object StreamingSpec {
  final case class Doc(doc_id: Long, text: String, source: String)
}
