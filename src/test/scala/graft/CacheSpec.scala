package graft
// (AggGen-style recommendation specs live at the bottom of this file)

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.JobCount
import org.apache.spark.storage.StorageLevel
import graft.olap._
import graft.streaming.StreamingCube

/** Segment-cache + aggregate-table routing specs (SURVEY §4 #5/#6). */
class CacheSpec extends SparkSpec {

  private lazy val cube = Cubes.sales(spark, Sf)

  test("repeated aggregates hit the segment cache") {
    val c = SegmentCache.global
    // an earlier suite may have run this statement on the shared cube:
    // start from no segment and no cell set, so run 1 misses and run 2 hits
    c.flushCube(cube.cubeId)
    def run() = Query.from(cube).columns("revenue")
      .rows(LevelMembers("customer", "region")).execute().collect()
    val r1 = run()
    val hitsBefore = c.hits
    val r2 = run()
    assert(c.hits > hitsBefore, "second run must reuse the cached segment")
    assert(r1.toSeq === r2.toSeq)
  }

  test("region flush evicts intersecting segments, keeps disjoint ones") {
    val c = SegmentCache.global
    val cubeId = cube.cubeId
    // segment sliced to ASIA — disjoint from the EUROPE region
    Query.from(cube).columns("revenue")
      .rows(LevelMembers("part", "brand"))
      .where(MemberSlice("customer", Seq("ASIA"))).execute().collect()
    // unsliced segment — contains EUROPE cells
    Query.from(cube).columns("sum_qty")
      .rows(LevelMembers("part", "brand")).execute().collect()
    val sizeBefore = c.size
    c.flushRegion(cubeId, "customer", Seq("EUROPE"))
    assert(c.size < sizeBefore, "unsliced segment must flush")
    // the ASIA-sliced segment survives: re-running it hits the cache
    val hitsBefore = c.hits
    Query.from(cube).columns("revenue")
      .rows(LevelMembers("part", "brand"))
      .where(MemberSlice("customer", Seq("ASIA"))).execute().collect()
    assert(c.hits > hitsBefore, "disjoint-slicer segment must survive")
  }

  test("checkpointed grouping-sets segments release their executor " +
      "blocks on flush (getOrComputeCut lifecycle — the r16 eager cut " +
      "must not leak under churn)") {
    val c = SegmentCache.global
    val sc = spark.sparkContext
    def pids: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def run(): Unit = Pins.scoped {
      // mixed-depth set + value Order: joinCells routes through
      // mixedCells → getOrComputeCut (an eager localCheckpoint)
      Mdx.execute(
        """SELECT {[Measures].[revenue]} ON COLUMNS,
          |  ORDER({[customer].[EUROPE],
          |         [customer].[EUROPE].[NATION_13],
          |         [customer].[ASIA]},
          |        [Measures].[revenue], DESC) ON ROWS
          |FROM [Sales] WHERE ([time].[1996])""".stripMargin, cube)
        .collect()
    }
    run() // warm-up: builds the cube and persists its dim frames —
    // those long-lived RDDs must not count against the flush assert
    c.flushCube(cube.cubeId)
    val before = pids
    val missesBefore = c.misses
    run()
    assert(c.misses > missesBefore, "the mixed-set query must create " +
      "fresh segments")
    val added = pids -- before
    assert(added.nonEmpty, "checkpointed segments must hold " +
      "block-manager RDDs while cached (Pins.scoped released the " +
      "transient pins, so survivors are cache-held)")
    // a second identical query HITS (no new misses beyond warm-up)
    val missesWarm = c.misses
    run()
    assert(c.misses === missesWarm, "second run must serve every " +
      "segment from the cache")
    // region flush evicts the intersecting segments AND frees their
    // checkpoint blocks (evictFrame → Pins.freeCut on the LogicalRDD)
    c.flushRegion(cube.cubeId, "customer", Seq("EUROPE"))
    val survivors = pids intersect added
    assert(survivors.isEmpty, s"flushed checkpoint blocks must " +
      s"unpersist; still live: $survivors")
  }

  test("byte-budget LRU (r18): least-recently-HIT segments evict " +
      "first, the newest survives, unmaterialized segments cost " +
      "nothing, and eviction releases the blocks") {
    val sc = spark.sparkContext
    val c = new SegmentCache
    def storageBytes: Long =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    def seg(n: Int): c.SegKey =
      c.SegKey(99L, Seq(s"seg$n"), Nil, Seq("m"))
    def insert(n: Int, rows: Long): Unit = {
      c.getOrCompute(seg(n))(
        spark.range(rows).toDF("m").repartition(2)).count()
      // a second consumer materializes the persisted buffers fully
      c.getOrCompute(seg(n))(fail("must hit")).count()
    }
    insert(1, 40000)
    insert(2, 40000)
    assert(c.residentBytes > 0, "materialized segments must be sized")
    val stBefore = storageBytes
    // hit 1 so 2 becomes least-recently-used
    c.getOrCompute(seg(1))(fail("must hit")).count()
    val total = c.residentBytes
    c.setByteBudget(total - 1)
    assert(c.size === 1 && c.evictions === 1,
      "one segment over budget must evict exactly one")
    assert(c.evictions === 1)
    // the survivor is the recently-hit seg1: re-reading it HITS
    val missesBefore = c.misses
    c.getOrCompute(seg(1))(fail("must hit")).count()
    assert(c.misses === missesBefore, "the recently-hit segment survives")
    // evicted blocks are released from the block manager
    assert(storageBytes < stBefore,
      "eviction must free the evicted segment's storage")
    // an UNMATERIALIZED insert occupies nothing: it neither counts
    // against the budget nor evicts the resident survivor
    c.setByteBudget(c.residentBytes + 1)
    val lazySeg = c.getOrCompute(seg(3))(spark.range(1000000).toDF("m"))
    assert(c.size === 2 && c.evictions === 1,
      "a lazy (unmaterialized) segment must not trigger eviction")
    // materialize it, then shrink the budget to one byte: everything
    // but the most recently used segment evicts (never the newest —
    // its consumer is about to read it)
    lazySeg.count()
    c.setByteBudget(1L)
    assert(c.size === 1, "budget=1 keeps only the newest segment")
    val keptMisses = c.misses
    c.getOrCompute(seg(3))(fail("newest must survive")).count()
    assert(c.misses === keptMisses)
    // CHECKPOINTED segments (getOrComputeCut) size from block-manager
    // storage and evict through Pins.freeCut: budget-evicting one
    // releases its LogicalRDD blocks
    c.setByteBudget(0L)
    c.getOrComputeCut(seg(10))(spark.range(30000).toDF("m"))
    assert(c.residentBytes > 0, "checkpointed segment must be sized")
    // make seg(10) the LRU loser, then shrink under the pair's size
    c.getOrComputeCut(seg(11))(spark.range(30000).toDF("m"))
    val stBoth = storageBytes
    c.setByteBudget(c.residentBytes - 1)
    // freeCut unpersists with blocking=false — poll for the release
    val deadline = System.currentTimeMillis + 10000
    while (storageBytes >= stBoth && System.currentTimeMillis < deadline)
      Thread.sleep(100)
    assert(storageBytes < stBoth,
      "budget eviction must free the checkpointed blocks")
    val ckptMisses = c.misses
    c.getOrComputeCut(seg(11))(fail("newest cut must survive"))
    assert(c.misses === ckptMisses)
    // the spark-conf knob resizes a live cache on the next miss
    spark.conf.set("spark.graft.segcache.maxBytes", "123456")
    try {
      c.getOrCompute(seg(4))(spark.range(10).toDF("m"))
      assert(c.byteBudget === 123456L)
    } finally spark.conf.unset("spark.graft.segcache.maxBytes")
    c.clear()
  }

  test("read lease (r19): a leased checkpointed segment is skipped by " +
      "budget eviction while pinned, evicts after the lease closes") {
    val c = new SegmentCache
    def seg(n: Int): c.SegKey =
      c.SegKey(98L, Seq(s"lease$n"), Nil, Seq("m"))
    c.setByteBudget(1L)
    var held: org.apache.spark.sql.DataFrame = null
    c.withLease {
      held = c.getOrComputeCut(seg(1))(spark.range(20000).toDF("m"))
      assert(c.pinCount(seg(1)) === 1)
      // misses under a 1-byte budget: each enforcement wants to evict
      // the LRU loser — the pinned seg(1) — and must SKIP it
      c.getOrComputeCut(seg(2))(spark.range(20000).toDF("m"))
      c.getOrComputeCut(seg(3))(spark.range(20000).toDF("m"))
      assert(c.pinnedSkips > 0, "enforcement must have skipped the pin")
      val missesBefore = c.misses
      c.getOrComputeCut(seg(1))(fail("pinned segment must be resident"))
      assert(c.misses === missesBefore)
      // the in-flight reader's job still sees the blocks
      assert(held.count() === 20000L)
    }
    assert(c.pinCount(seg(1)) === 0, "lease exit releases the pin")
    // with the pin gone the next enforcement may evict it
    c.getOrComputeCut(seg(4))(spark.range(20000).toDF("m"))
    val missesAfter = c.misses
    c.getOrComputeCut(seg(1))(spark.range(20000).toDF("m"))
    assert(c.misses === missesAfter + 1,
      "unpinned LRU segment evicts once the lease is closed")
    c.clear()
  }

  test("read lease (r19): a CONCURRENT evictor under a 1-byte budget " +
      "cannot fail a reader's in-flight stage on a checkpointed " +
      "segment (the SCALING.md lineage-free hazard)") {
    val c = new SegmentCache
    def seg(n: Int): c.SegKey =
      c.SegKey(97L, Seq(s"conc$n"), Nil, Seq("m"))
    c.setByteBudget(1L)
    val pinned = new java.util.concurrent.CountDownLatch(1)
    val evicted = new java.util.concurrent.CountDownLatch(1)
    @volatile var readerSum = -1L
    @volatile var readerErr: Option[Throwable] = None
    val reader = new Thread(() =>
      try c.withLease {
        val df = c.getOrComputeCut(seg(0))(
          spark.range(50000).toDF("m"))
        pinned.countDown()
        // wait until the evictor has run enforcement passes that would
        // have freed seg(0)'s blocks, THEN run the reading job
        assert(evicted.await(30, java.util.concurrent.TimeUnit.SECONDS))
        readerSum = df.agg(sum(col("m"))).collect().head.getLong(0)
      } catch { case t: Throwable => readerErr = Some(t) })
    reader.start()
    assert(pinned.await(30, java.util.concurrent.TimeUnit.SECONDS))
    // concurrent misses: every enforcement targets the LRU seg(0)
    (1 to 4).foreach(n =>
      c.getOrComputeCut(seg(n))(spark.range(1000).toDF("m")))
    assert(c.pinnedSkips > 0)
    evicted.countDown()
    reader.join(60000)
    assert(readerErr.isEmpty, s"reader stage failed: $readerErr")
    assert(readerSum === 50000L * 49999 / 2)
    c.clear()
  }

  test("budget conf (r19): a malformed spark.graft.segcache.maxBytes " +
      "is ignored, and an unchanged conf does not clobber an explicit " +
      "setByteBudget") {
    val c = new SegmentCache
    def seg(n: Int): c.SegKey =
      c.SegKey(96L, Seq(s"conf$n"), Nil, Seq("m"))
    spark.conf.set("spark.graft.segcache.maxBytes", "256k")
    try {
      // the malformed value must not fail the query path
      c.getOrCompute(seg(1))(spark.range(10).toDF("m")).count()
      assert(c.byteBudget === Long.MaxValue)
      // a VALID conf value applies on the next miss
      spark.conf.set("spark.graft.segcache.maxBytes", "65536")
      c.getOrCompute(seg(2))(spark.range(10).toDF("m")).count()
      assert(c.byteBudget === 65536L)
      // conf unchanged since last read: an explicit call wins
      c.setByteBudget(1234L)
      c.getOrCompute(seg(3))(spark.range(10).toDF("m")).count()
      assert(c.byteBudget === 1234L,
        "an unchanged conf must not re-apply over setByteBudget")
      // conf CHANGED: conf wins again
      spark.conf.set("spark.graft.segcache.maxBytes", "65537")
      c.getOrCompute(seg(4))(spark.range(10).toDF("m")).count()
      assert(c.byteBudget === 65537L)
    } finally spark.conf.unset("spark.graft.segcache.maxBytes")
    c.clear()
  }

  test("concurrent queries (r19): two threads against one BoundCube " +
      "with a tight segment budget match their serial results") {
    val c = SegmentCache.global
    def qa() = Query.from(cube).columns("revenue")
      .rows(LevelMembers("customer", "nation")).execute().collect()
      .map(_.toSeq).toSeq
    // mixed-depth literal set: exercises the CHECKPOINTED
    // (getOrComputeCut) segment kind under the budget
    def qb() = Query.from(cube).columns("revenue")
      .rows(Members("customer",
        Seq(Seq("ASIA"), Seq("ASIA", "NATION_2")))).execute().collect()
      .map(_.toSeq).toSeq
    val serialA = qa(); val serialB = qb()
    val budgetBefore = c.byteBudget
    c.setByteBudget(64 * 1024)
    try {
      @volatile var ra: Seq[Seq[Any]] = Nil
      @volatile var rb: Seq[Seq[Any]] = Nil
      @volatile var errs = List.empty[Throwable]
      def thread(body: => Unit) = new Thread(() =>
        try body catch { case t: Throwable =>
          errs.synchronized { errs = t :: errs } })
      (1 to 3).foreach { _ =>
        val ta = thread { c.withLease { ra = qa() } }
        val tb = thread { c.withLease { rb = qb() } }
        ta.start(); tb.start(); ta.join(120000); tb.join(120000)
        assert(errs.isEmpty, s"concurrent query failed: $errs")
        assert(ra === serialA, "thread A diverged from its serial run")
        assert(rb === serialB, "thread B diverged from its serial run")
      }
    } finally {
      c.setByteBudget(
        if (budgetBefore == Long.MaxValue) 0L else budgetBefore)
    }
  }

  test("executeResult (r19) self-leases: concurrent cell-set queries " +
      "under a tight budget need no explicit withLease") {
    val c = SegmentCache.global
    def flat(r: Result): Seq[Seq[Any]] =
      r.rowAxis.zip(r.values()).map { case (ax, vs) => ax ++ vs }
    def qa() = flat(Query.from(cube).columns("revenue")
      .rows(LevelMembers("customer", "nation")).executeResult())
    // mixed-depth literal set: the CHECKPOINTED segment kind
    def qb() = flat(Query.from(cube).columns("revenue")
      .rows(Members("customer",
        Seq(Seq("ASIA"), Seq("ASIA", "NATION_2")))).executeResult())
    val serialA = qa(); val serialB = qb()
    val budgetBefore = c.byteBudget
    c.setByteBudget(64 * 1024)
    try {
      @volatile var ra: Seq[Seq[Any]] = Nil
      @volatile var rb: Seq[Seq[Any]] = Nil
      @volatile var errs = List.empty[Throwable]
      def thread(body: => Unit) = new Thread(() =>
        try body catch { case t: Throwable =>
          errs.synchronized { errs = t :: errs } })
      // no withLease here: the serving call scopes its own
      val ta = thread { ra = qa() }
      val tb = thread { rb = qb() }
      ta.start(); tb.start(); ta.join(120000); tb.join(120000)
      assert(errs.isEmpty, s"concurrent executeResult failed: $errs")
      assert(ra === serialA)
      assert(rb === serialB)
    } finally {
      c.setByteBudget(
        if (budgetBefore == Long.MaxValue) 0L else budgetBefore)
    }
  }

  test("segment-cache counters lose no update under concurrent hits") {
    val c = new SegmentCache
    val k = c.SegKey(95L, Seq("shared"), Nil, Seq("m"))
    c.getOrCompute(k)(spark.range(10).toDF("m"))
    val before = c.hits
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      (1 to 8).map(_ => pool.submit(new Runnable {
        def run(): Unit =
          (1 to 50).foreach(_ => c.getOrCompute(k)(fail("must hit")))
      })).foreach(_.get())
    } finally pool.shutdown()
    assert(c.hits - before === 400)
    c.clear()
  }

  /** Runs `statement` three times on a cube the cache has never seen
    * (a copy gets a fresh cubeId): the third run must be a cell-set hit
    * that touches no segment.
    */
  private def servedOnThirdRun[T](statement: BoundCube => T): Unit = {
    val c = SegmentCache.global
    val fresh = cube.copy()
    val size0 = c.size
    val first = statement(fresh)
    val deps = c.size - size0
    assert(deps > 0, "the statement must read segments")
    val second = statement(fresh)
    val (hits0, misses0, served0) = (c.hits, c.misses, c.cellSetHits)
    val third = statement(fresh)
    assert(second === first && third === first)
    assert(c.cellSetHits === served0 + 1, "third run must be a cell-set hit")
    assert(c.misses === misses0, "a cell-set hit adds no miss")
    assert(c.hits === hits0, "a cell-set hit reads no segment")
    c.flushCube(fresh.cubeId)
  }

  test("a computed slicer aggregates only the measures the statement " +
      "reads") {
    val c = SegmentCache.global
    val fresh = cube.copy()
    Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  [returnflag].[returnflag].Members ON ROWS
        |FROM [Sales]
        |WHERE (TopCount([customer].[nation].Members, 1,
        |  [Measures].[revenue]).Item(0))""".stripMargin, fresh).collect()
    val slicerSegs = c.keysOf(fresh.cubeId)
      .filter(_.grain == Seq("cr_region", "cr_nation"))
    assert(slicerSegs.nonEmpty, "the TopCount must read its nations' cells")
    assert(slicerSegs.map(_.measures).distinct === Seq(Seq("revenue")))
    c.flushCube(fresh.cubeId)
  }

  test("cell sets: a repeated builder statement is served from its " +
      "persisted render") {
    servedOnThirdRun { cb =>
      val r = Query.from(cb).columns("revenue", "sum_qty")
        .rows(LevelMembers("customer", "region"))
        .where(MemberSlice("time", Seq(1996))).executeResult()
      (r.rowAxis, r.values())
    }
  }

  test("cell sets: a repeated MDX statement is served from its " +
      "persisted render") {
    servedOnThirdRun { cb =>
      Mdx.execute(
        """SELECT {[Measures].[revenue]} ON COLUMNS,
          |  TOPCOUNT([part].[brand].Members, 3, [Measures].[revenue]) ON ROWS
          |FROM [Sales] WHERE ([returnflag].[R])""".stripMargin, cb)
        .collect().toSeq
    }
  }

  /** Runs `statement` on a cube the cache has never seen. The second
    * run stages (persists) the render. From the first served run on,
    * every run returns the first render's rows, moves the counters as
    * [[servedOnThirdRun]] does, and its frame's collect starts no Spark
    * job. The only job left is the first serve's one collect of the
    * stage, run while planning, after which the stage's persist is
    * gone.
    */
  private def servedWithNoJobs(statement: BoundCube => DataFrame): Unit = {
    val c = SegmentCache.global
    val sc = spark.sparkContext
    val fresh = cube.copy()
    val size0 = c.size
    val first = statement(fresh).collect().toSeq
    val deps = c.size - size0
    assert(deps > 0, "the statement must read segments")
    val stage = statement(fresh)
    assert(stage.storageLevel !== StorageLevel.NONE,
      "the second run must stage its render")
    assert(stage.collect().toSeq === first)
    for (run <- 3 to 5) {
      val (hits0, misses0, served0) = (c.hits, c.misses, c.cellSetHits)
      val (df, planJobs) = JobCount(sc)(statement(fresh))
      val (rows, jobs) = JobCount(sc)(df.collect().toSeq)
      assert(rows === first, s"run $run")
      assert(jobs === 0, s"run $run: a served frame's collect starts no job")
      assert(planJobs === (if (run == 3) 1 else 0),
        s"run $run: only the first serve collects, once, from its stage")
      assert(stage.storageLevel === StorageLevel.NONE,
        "the first serve must release the staged persist")
      assert(c.cellSetHits === served0 + 1, s"run $run must be a cell-set hit")
      assert(c.misses === misses0, "a cell-set hit adds no miss")
      assert(c.hits === hits0, "a cell-set hit reads no segment")
    }
    c.flushCube(fresh.cubeId)
  }

  test("cell sets: a served builder statement starts no Spark job") {
    servedWithNoJobs { cb =>
      Query.from(cb).columns("revenue", "sum_qty")
        .rows(LevelMembers("customer", "region"))
        .where(MemberSlice("time", Seq(1997))).execute()
    }
  }

  test("cell sets: a served MDX statement starts no Spark job") {
    servedWithNoJobs { cb =>
      Mdx.execute(
        """SELECT {[Measures].[revenue]} ON COLUMNS,
          |  [customer].[region].Members ON ROWS
          |FROM [Sales] WHERE ([returnflag].[N])""".stripMargin, cb)
    }
  }

  test("cell sets: flushRegion, flushCube and a 1-byte budget make the " +
      "next run re-render") {
    val c = SegmentCache.global
    val fresh = cube.copy()
    def run() = Query.from(fresh).columns("revenue")
      .rows(LevelMembers("customer", "nation")).execute().collect().toSeq
    val expected = run()
    def stored(): Unit = {
      run(); run()
      val served = c.cellSetHits
      assert(run() === expected)
      assert(c.cellSetHits === served + 1, "third run must be served")
    }
    def reRenders(what: String)(invalidate: => Unit): Unit = {
      stored()
      invalidate
      val (served, misses) = (c.cellSetHits, c.misses)
      assert(run() === expected)
      assert(c.cellSetHits === served, s"$what: the next run must re-render")
      assert(c.misses > misses, s"$what: the re-render must miss")
    }
    reRenders("flushRegion")(
      c.flushRegion(fresh.cubeId, "customer", Seq("EUROPE")))
    reRenders("flushCube")(c.flushCube(fresh.cubeId))
    stored()
    val budgetBefore = c.byteBudget
    c.setByteBudget(1L)
    try {
      val served = c.cellSetHits
      (1 to 3).foreach(_ => assert(run() === expected))
      assert(c.cellSetHits === served,
        "a 1-byte budget evicts every materialized cell set first")
    } finally c.setByteBudget(
      if (budgetBefore == Long.MaxValue) 0L else budgetBefore)
    c.flushCube(fresh.cubeId)
  }

  test("cell sets: a Now() calc member and a CurrentDateMember axis are " +
      "never stored; drill-through is untouched") {
    val c = SegmentCache.global
    val fresh = cube.copy()
    def neverStored[T](what: String)(run: => T): Unit = {
      val (stores, served) = (c.cellSetStores, c.cellSetHits)
      (1 to 3).foreach(_ => run)
      assert(c.cellSetStores === stores, s"$what must not be stored")
      assert(c.cellSetHits === served, s"$what must not be served")
    }
    neverStored("Now()")(Mdx.execute(
      """WITH MEMBER [Measures].[stamp] AS 'Now()'
        |SELECT {[Measures].[revenue], [Measures].[stamp]} ON COLUMNS,
        |  [returnflag].[returnflag].Members ON ROWS
        |FROM [Sales]""".stripMargin, fresh).collect())
    spark.conf.set("spark.graft.now", "1996-07-15")
    try neverStored("CurrentDateMember")(Query.from(fresh)
      .columns("count_order")
      .rows(CurrentDateMember("time", "month", "BEFORE"))
      .execute().collect())
    finally spark.conf.unset("spark.graft.now")
    val drill =
      """DRILLTHROUGH SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE ([customer].[EUROPE].[NATION_13])
        |RETURN [l_orderkey], [l_quantity]""".stripMargin
    def drilled() = Mdx.execute(drill, fresh).collect().map(_.toString).sorted.toSeq
    val rows = drilled()
    assert(rows.nonEmpty)
    neverStored("DRILLTHROUGH")(assert(drilled() === rows))
    c.flushCube(fresh.cubeId)
  }

  test("cell sets: a fused dim-calc statement and a NonEmptyCrossJoin " +
      "read the fact outside a segment, are served, and re-render after " +
      "flushCube and a merge") {
    val c = SegmentCache.global
    val sc = spark.sparkContext
    def servedUntilDataChanges(what: String)(
        statement: BoundCube => DataFrame): Unit = {
      val fresh = cube.copy()
      val first = statement(fresh).collect().toSeq
      // the run after a first sight stages; the one after that serves
      def served(): Unit = {
        assert(statement(fresh).collect().toSeq === first, s"$what staged")
        val hits0 = c.cellSetHits
        val df = statement(fresh)
        assert(c.cellSetHits === hits0 + 1, s"$what must be served")
        val (rows, jobs) = JobCount(sc)(df.collect().toSeq)
        assert(rows === first, s"$what: served rows")
        assert(jobs === 0, s"$what: a served collect starts no job")
      }
      def reRenders(change: String)(bump: => Unit): Unit = {
        bump
        val hits0 = c.cellSetHits
        assert(statement(fresh).collect().toSeq === first)
        assert(c.cellSetHits === hits0, s"$what: $change must re-render")
      }
      served()
      reRenders("flushCube")(c.flushCube(fresh.cubeId))
      served()
      // an empty insert-delta: mergeOrEvict moves the epoch, no cell
      // changes
      reRenders("a merge")(StreamingCube.applyDeltaBatch(
        fresh.fact.limit(0), fresh, c, new Planner(fresh)))
      c.flushCube(fresh.cubeId)
    }
    servedUntilDataChanges("dim-calc override") { cb =>
      Mdx.execute(
        """WITH MEMBER [time].[EU all] AS
          |  'Aggregate({[customer].[EUROPE]})'
          |SELECT {[Measures].[revenue], [Measures].[sum_qty]} ON COLUMNS,
          |  CROSSJOIN({[time].[1995], [time].[EU all]},
          |            {[customer].[AMERICA], [customer].[ASIA]}) ON ROWS
          |FROM [Sales]""".stripMargin, cb)
    }
    // NonEmptyCrossJoin finds its occurring tuples in the fact itself
    servedUntilDataChanges("NonEmptyCrossJoin") { cb =>
      Query.from(cb).columns("revenue")
        .rows(NonEmptyCrossJoin(LevelMembers("returnflag", "returnflag"),
          LevelMembers("linestatus", "linestatus")))
        .execute()
    }
  }

  test("cell sets: a render that spans a data change installs nothing") {
    val c = new SegmentCache
    val fresh = cube.copy()
    val ir = QueryIR(measures = Seq("revenue"), rows = None)
    def call(bumps: Boolean): DataFrame = c.cellSet(fresh, ir) {
      val df = spark.range(7).selectExpr("id * 3 AS m")
      if (bumps) c.flushCube(fresh.cubeId)
      df
    }
    // a first sight at the current epoch, so the next call is a second
    // sight that would stage its render
    call(bumps = false)
    assert(c.cellSetRecords === 1)
    (1 to 3).foreach { i =>
      val df = call(bumps = true)
      assert(df.storageLevel === StorageLevel.NONE, s"call $i staged")
      assert(df.collect().length === 7)
      assert(c.cellSetRecords === 0, s"call $i left a record")
    }
    assert(c.cellSetStores === 0, "nothing may be stored")
    assert(c.cellSetHits === 0, "nothing may be served")
    assert(call(bumps = false).collect().length === 7)
    assert(c.cellSetRecords === 1, "a render at a steady epoch records")
  }

  /** Reads of the fact rows that running `df` executes: lineitem file
    * scans and scans of a cached frame carrying raw fact columns, in its
    * plan and in the build plan of each cached frame it reads whose
    * buffers are not built yet (a built one reads its own blocks).
    */
  private def factLeaves(df: DataFrame): Int = {
    def leaves(p: SparkPlan): Int = p.collect {
      case a: AdaptiveSparkPlanExec => leaves(a.inputPlan)
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains("lineitem")) => 1
      case m: InMemoryTableScanExec =>
        if (m.relation.output.exists(_.name == "l_quantity")) 1
        else if (m.relation.cacheBuilder.isCachedColumnBuffersLoaded) 0
        else leaves(m.relation.cachedPlan)
    }.sum
    leaves(df.queryExecution.executedPlan)
  }

  test("cuboids: a fused dim-calc statement re-aggregates a plain " +
      "statement's segment with no fact leaf, and a delta merges it") {
    val c = SegmentCache.global
    val fresh = cube.copy()
    Query.from(fresh).columns("revenue", "sum_qty")
      .rows(CrossJoin(LevelMembers("time", "year"),
        LevelMembers("customer", "region")))
      .execute().collect()
    val source = c.keysOf(fresh.cubeId)
    assert(source.length === 1)
    // q_mdx_dimcalc_override
    val mdx =
      """WITH MEMBER [time].[EU all] AS
        |  'Aggregate({[customer].[EUROPE]})'
        |SELECT {[Measures].[revenue], [Measures].[sum_qty]} ON COLUMNS,
        |  CROSSJOIN({[time].[1995], [time].[EU all]},
        |            {[customer].[AMERICA], [customer].[ASIA]}) ON ROWS
        |FROM [Sales]""".stripMargin
    AggRouter.lastHit = None
    val df = Mdx.execute(mdx, fresh)
    assert(factLeaves(df) === 0,
      s"the fused pass must read the segment:\n${df.queryExecution.executedPlan}")
    assert(AggRouter.lastHit === Some(AggRouter.SegmentSource))
    val rows = df.collect().toSeq
    SegmentCache.enabled = false
    val direct = try Mdx.execute(mdx, fresh).collect().toSeq
    finally SegmentCache.enabled = true
    assert(rows.nonEmpty && rows === direct)
    val keys = c.keysOf(fresh.cubeId)
    val merges0 = c.merges
    StreamingCube.applyDeltaBatch(fresh.fact.limit(0), fresh, c,
      new Planner(fresh))
    assert(c.merges === merges0 + keys.length,
      "every segment of the cube merges the delta")
    assert(source.forall(c.keysOf(fresh.cubeId).contains),
      "the segment the fused pass read is merged, not evicted")
    c.flushCube(fresh.cubeId)
  }

  test("cuboids: a nation-grain segment answers a region-grain " +
      "statement over a subset of its measures with no fact leaf") {
    val fresh = cube.copy()
    Query.from(fresh).columns("revenue", "sum_qty", "count_order")
      .rows(LevelMembers("customer", "nation"))
      .where(MemberSlice("time", Seq(1995))).execute().collect()
    def region(cb: BoundCube): DataFrame = Query.from(cb).columns("revenue")
      .rows(LevelMembers("customer", "region"))
      .where(MemberSlice("time", Seq(1995))).execute()
    AggRouter.lastHit = None
    val df = region(fresh)
    assert(factLeaves(df) === 0,
      s"the nation segment must answer:\n${df.queryExecution.executedPlan}")
    assert(AggRouter.lastHit === Some(AggRouter.SegmentSource))
    val rows = df.collect().toSeq
    assert(rows.nonEmpty && rows === region(cube.copy()).collect().toSeq)
    // a statement that joins no customer level reads the fact: the
    // segment's star join dropped the rows no customer matches
    AggRouter.lastHit = None
    Query.from(fresh).columns("revenue")
      .where(MemberSlice("time", Seq(1995))).execute().collect()
    assert(AggRouter.lastHit === None)
    SegmentCache.global.flushCube(fresh.cubeId)
  }

  test("cuboids: a segment derived from a checkpointed segment outlives " +
      "its source") {
    val c = SegmentCache.global
    val fresh = cube.copy()
    Query.from(fresh).columns("revenue", "sum_qty")
      .rows(CrossJoin(LevelMembers("customer", "nation"),
        LevelMembers("time", "year")))
      .execute().collect()
    // an empty insert-delta turns the cube's segments into checkpoints
    StreamingCube.applyDeltaBatch(fresh.fact.limit(0), fresh, c,
      new Planner(fresh))
    val source = c.keysOf(fresh.cubeId)
    assert(source.length === 1)
    def derived(): Seq[org.apache.spark.sql.Row] = Query.from(fresh)
      .columns("revenue").rows(LevelMembers("customer", "region"))
      .where(MemberSlice("time", Seq(1995))).execute().collect().toSeq
    AggRouter.lastHit = None
    val rows = derived()
    assert(AggRouter.lastHit === Some(AggRouter.SegmentSource))
    val key = c.keysOf(fresh.cubeId).filterNot(source.contains)
    assert(key.length === 1)
    // the source has no time slicer and the derived segment slices
    // 1995: a 1996 region flush evicts the source alone
    c.flushRegion(fresh.cubeId, "time", Seq(1996))
    assert(c.keysOf(fresh.cubeId) === key)
    // whatever Spark caches for the derived frame may go too: it must
    // not need the freed checkpoint
    c.getOrCompute(key.head)(fail("the derived segment must stay"))
      .unpersist(blocking = true)
    assert(derived() === rows)
    c.flushCube(fresh.cubeId)
  }

  test("agg router answers a coarser query from a registered rollup") {
    val base = Cubes.sales(spark, Sf)
    val at = new Planner(base).buildAggTable("nation_month",
      Seq(("customer", "nation"), ("time", "month")),
      Seq("revenue", "sum_qty", "count_order"))
    val routed = base.withAggTables(at)
    AggRouter.lastHit = None
    val viaAgg = Query.from(routed).columns("revenue", "sum_qty")
      .rows(LevelMembers("customer", "region"))
      .where(MemberSlice("time", Seq(1995)))
      .execute().collect()
    assert(AggRouter.lastHit === Some("nation_month"),
      "query must be answered from the rollup, not the fact")
    SegmentCache.enabled = false
    val direct = try Query.from(base).columns("revenue", "sum_qty")
      .rows(LevelMembers("customer", "region"))
      .where(MemberSlice("time", Seq(1995)))
      .execute().collect()
    finally SegmentCache.enabled = true
    assert(viaAgg.toSeq === direct.toSeq)
  }

  test("agg router serves the FUSED dim-calc axis: the explode keys " +
      "work on rollup level columns and the group merges partials") {
    val base = Cubes.sales(spark, Sf)
    val at = new Planner(base).buildAggTable("nation_year",
      Seq(("customer", "nation"), ("time", "year")),
      Seq("revenue", "sum_qty"))
    val routed = base.withAggTables(at)
    def q(c: BoundCube) = Mdx.execute(
      """WITH MEMBER [customer].[EU13 and AS2] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13],
        |              [customer].[ASIA].[NATION_2]})'
        |SELECT {[Measures].[revenue], [Measures].[sum_qty]} ON COLUMNS,
        |  CROSSJOIN({[customer].[AMERICA], [customer].[EU13 and AS2]},
        |            {[time].[1995], [time].[1996]}) ON ROWS
        |FROM [Sales]""".stripMargin, c).collect()
    AggRouter.lastHit = None
    val viaAgg = q(routed)
    assert(AggRouter.lastHit === Some("nation_year"),
      "the fused axis must be served from the rollup, not the fact")
    val direct = q(base)
    assert(viaAgg.toSeq === direct.toSeq)
  }

  test("agg router merges Count, Min and Max partials for an ordinary " +
      "axis and a fused dim-calc crossjoin") {
    val base = Cubes.sales(spark, Sf)
    val ms = Seq("count_order", "min_price", "max_price")
    val at = new Planner(base).buildAggTable("nation_year_cmm",
      Seq(("customer", "nation"), ("time", "year")), ms)
    val routed = base.withAggTables(at)
    def ordinary(c: BoundCube) = Query.from(c).columns(ms: _*)
      .rows(LevelMembers("customer", "region"))
      .where(MemberSlice("time", Seq(1995)))
      .execute().collect()
    def fused(c: BoundCube) = Mdx.execute(
      """WITH MEMBER [customer].[EU13 and AS2] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13],
        |              [customer].[ASIA].[NATION_2]})'
        |SELECT {[Measures].[count_order], [Measures].[min_price],
        |        [Measures].[max_price]} ON COLUMNS,
        |  CROSSJOIN({[customer].[AMERICA], [customer].[EU13 and AS2]},
        |            {[time].[1995], [time].[1996]}) ON ROWS
        |FROM [Sales]""".stripMargin, c).collect()
    Seq("ordinary" -> (ordinary _), "fused" -> (fused _)).foreach {
      case (what, run) =>
        AggRouter.lastHit = None
        val viaAgg = run(routed)
        assert(AggRouter.lastHit === Some("nation_year_cmm"),
          s"the $what axis must be served from the rollup, not the fact")
        assert(viaAgg.nonEmpty && viaAgg.forall(r => !r.anyNull), what)
        SegmentCache.enabled = false
        val direct = try run(base) finally SegmentCache.enabled = true
        assert(viaAgg.toSeq === direct.toSeq, what)
    }
  }

  test("declared AggPattern matches physical rollups, applies excludes, and routes") {
    val base = Cubes.sales(spark, Sf)
    // simulate PRE-EXISTING physical rollup tables (an external build
    // pipeline's output, physical column names unknown to the cube):
    // content at the nation x month grain, then parquet under three
    // names — one real hit, one AggExclude'd, one non-matching
    val content = new Planner(base).buildAggTable("tmp",
        Seq(("customer", "nation"), ("time", "month")),
        Seq("revenue", "sum_qty", "count_order")).df
      .withColumnRenamed("cr_region", "cust_region")
      .withColumnRenamed("cr_nation", "cust_nation")
      .withColumnRenamed("d_year", "t_year")
      .withColumnRenamed("d_yq", "t_quarter")
      .withColumnRenamed("d_ym", "t_month")
      .withColumnRenamed("revenue", "rev_sum")
      .withColumnRenamed("sum_qty", "qty_sum")
      .withColumnRenamed("count_order", "fact_count")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_aggdir").toString
    for (t <- Seq("agg_nm_sales", "agg_c_14_sales", "other_table"))
      content.write.mode("overwrite").parquet(s"$dir/$t")
    val decl = AggDecl(
      pattern = Some("agg_.*_sales"),
      levels = Seq(
        AggLevelMap("customer", "region", "cust_region"),
        AggLevelMap("customer", "nation", "cust_nation"),
        AggLevelMap("time", "year", "t_year"),
        AggLevelMap("time", "quarter", "t_quarter"),
        AggLevelMap("time", "month", "t_month")),
      measures = Seq(
        AggMeasureMap("revenue", "rev_sum"),
        AggMeasureMap("sum_qty", "qty_sum")),
      factCount = Some("fact_count"),
      excludes = Seq(AggExcludeRule("agg_c_14_sales")))
    val physical = AggMatcher.physicalFromDir(spark, dir)
    assert(physical.keySet === Set("agg_nm_sales", "agg_c_14_sales",
      "other_table"))
    val matched = AggMatcher.matchTables(base, Seq(decl), physical)
    assert(matched.map(_.name) === Seq("agg_nm_sales"),
      "pattern must match, excludes must reject, non-matches must drop")
    // the declared (never programmatically built) table answers the
    // q_aggroute-shaped query identically to the fact path
    val routed = AggMatcher.register(base, Seq(decl), physical)
    AggRouter.lastHit = None
    val viaDecl = Query.from(routed).columns("revenue", "sum_qty")
      .rows(LevelMembers("customer", "region"))
      .where(MemberSlice("time", Seq(1995)))
      .execute().collect()
    assert(AggRouter.lastHit === Some("agg_nm_sales"))
    SegmentCache.enabled = false
    val direct = try Query.from(base).columns("revenue", "sum_qty")
      .rows(LevelMembers("customer", "region"))
      .where(MemberSlice("time", Seq(1995)))
      .execute().collect()
    finally SegmentCache.enabled = true
    assert(viaDecl.toSeq === direct.toSeq)
  }

  test("AggName exact match binds a single declared table") {
    val base = Cubes.sales(spark, Sf)
    val content = new Planner(base).buildAggTable("tmp2",
        Seq(("customer", "nation")), Seq("revenue")).df
      .withColumnRenamed("cr_region", "r").withColumnRenamed("cr_nation", "n")
      .withColumnRenamed("revenue", "rev")
    val decl = AggDecl(name = Some("agg_exact"),
      levels = Seq(AggLevelMap("customer", "region", "r"),
        AggLevelMap("customer", "nation", "n")),
      measures = Seq(AggMeasureMap("revenue", "rev")))
    val matched = AggMatcher.matchTables(base, Seq(decl),
      Map("agg_exact" -> content, "agg_other" -> content))
    assert(matched.map(_.name) === Seq("agg_exact"))
    assert(matched.head.grain === Seq("customer" -> 1))
  }

  test("AggForeignKey joins the dimension into a declared rollup") {
    val base = Cubes.sales(spark, Sf)
    // an FK-style physical rollup: customer collapsed to levels, but
    // time kept only the fact's date key — no time level columns
    val content = new Planner(base).buildAggTable("tmpfk",
        Seq(("customer", "nation"), ("time", "day")),
        Seq("revenue", "sum_qty")).df
      .withColumnRenamed("cr_region", "cust_region")
      .withColumnRenamed("cr_nation", "cust_nation")
      .withColumnRenamed("d_date", "date_key")
      .drop("d_year", "d_yq", "d_ym")
      .withColumnRenamed("revenue", "rev_sum")
      .withColumnRenamed("sum_qty", "qty_sum")
    val decl = AggDecl(name = Some("agg_fk"),
      levels = Seq(AggLevelMap("customer", "region", "cust_region"),
        AggLevelMap("customer", "nation", "cust_nation")),
      measures = Seq(AggMeasureMap("revenue", "rev_sum"),
        AggMeasureMap("sum_qty", "qty_sum")),
      foreignKeys = Seq(AggFkMap("l_datekey", "date_key")))
    val routed = AggMatcher.register(base, Seq(decl),
      Map("agg_fk" -> content))
    AggRouter.lastHit = None
    val viaFk = Query.from(routed).columns("revenue", "sum_qty")
      .rows(LevelMembers("customer", "region"))
      .where(MemberSlice("time", Seq(1995)))
      .execute().collect()
    assert(AggRouter.lastHit === Some("agg_fk"),
      "the FK-joined rollup must cover every time level")
    SegmentCache.enabled = false
    val direct = try Query.from(base).columns("revenue", "sum_qty")
      .rows(LevelMembers("customer", "region"))
      .where(MemberSlice("time", Seq(1995)))
      .execute().collect()
    finally SegmentCache.enabled = true
    assert(viaFk.toSeq === direct.toSeq)
    // an FK column the fact doesn't join on is rejected eagerly
    val bad = decl.copy(name = Some("agg_bad"),
      foreignKeys = Seq(AggFkMap("l_nope", "date_key")))
    val e = intercept[IllegalArgumentException] {
      AggMatcher.matchTables(base, Seq(bad), Map("agg_bad" -> content))
    }
    assert(e.getMessage.contains("l_nope"))
    // a dimension declared BOTH as collapsed AggLevel columns and as an
    // AggForeignKey is contradictory — rejected, not silently joined
    val both = decl.copy(name = Some("agg_both"),
      levels = decl.levels :+ AggLevelMap("time", "year", "date_key"),
      foreignKeys = Seq(AggFkMap("l_datekey", "date_key")))
    val e2 = intercept[IllegalArgumentException] {
      AggMatcher.matchTables(base, Seq(both), Map("agg_both" -> content))
    }
    assert(e2.getMessage.contains("declared both"))
  }

  test("declared mappings validate eagerly: missing columns and level gaps") {
    val base = Cubes.sales(spark, Sf)
    val content = new Planner(base).buildAggTable("tmp3",
        Seq(("customer", "nation")), Seq("revenue")).df
    // a declared physical column absent from the table
    val badCol = AggDecl(name = Some("t"),
      levels = Seq(AggLevelMap("customer", "region", "cr_region"),
        AggLevelMap("customer", "nation", "nope")),
      measures = Seq(AggMeasureMap("revenue", "revenue")))
    val e1 = intercept[IllegalArgumentException] {
      AggMatcher.matchTables(base, Seq(badCol), Map("t" -> content))
    }
    assert(e1.getMessage.contains("nope"))
    // nation mapped without its region prefix level
    val gap = AggDecl(name = Some("t"),
      levels = Seq(AggLevelMap("customer", "nation", "cr_nation")),
      measures = Seq(AggMeasureMap("revenue", "revenue")))
    val e2 = intercept[IllegalArgumentException] {
      AggMatcher.matchTables(base, Seq(gap), Map("t" -> content))
    }
    assert(e2.getMessage.contains("missing level mappings"))
  }

  test("non-decomposable measures fall through to the fact") {
    val base = Cubes.sales(spark, Sf)
    val at = new Planner(base).buildAggTable("nation_only",
      Seq(("customer", "nation")), Seq("revenue"))
    val routed = base.withAggTables(at)
    AggRouter.lastHit = None
    // n_orders is distinct-count — never routable
    Query.from(routed).columns("n_orders")
      .rows(LevelMembers("customer", "nation")).execute().collect()
    assert(AggRouter.lastHit === None)
  }

  test("deeper-than-rollup grain falls through to the fact") {
    val base = Cubes.sales(spark, Sf)
    val at = new Planner(base).buildAggTable("region_only",
      Seq(("customer", "region")), Seq("revenue"))
    val routed = base.withAggTables(at)
    AggRouter.lastHit = None
    Query.from(routed).columns("revenue")
      .rows(LevelMembers("customer", "customer")).execute().collect()
    assert(AggRouter.lastHit === None)
  }

  test("AggGen-style recommendation merges coverable grains") {
    val base = Cubes.sales(spark, Sf)
    // workload: three grains whose union (nation x month x returnflag)
    // is small — one merged rollup should cover all
    val workload = Seq(
      Map("customer" -> 1),                      // nation
      Map("customer" -> 1, "time" -> 2),         // nation x month
      Map("time" -> 2, "returnflag" -> 0))       // month x returnflag
    val rec = AggRouter.recommend(base, workload, maxRows = 100000)
    assert(rec.length === 1, s"expected one merged grain, got $rec")
    assert(rec.head === Map("customer" -> 1, "time" -> 2,
      "returnflag" -> 0))
    // a tiny budget forbids merging — each grain stands alone
    val rec2 = AggRouter.recommend(base, workload, maxRows = 30)
    assert(rec2.toSet === workload.toSet)
    // built rollups actually serve the workload queries
    val routed = AggRouter.buildRecommended(base, workload, 100000)
    AggRouter.lastHit = None
    Query.from(routed).columns("revenue")
      .rows(LevelMembers("customer", "nation")).execute().collect()
    assert(AggRouter.lastHit === Some("agg_rec_0"))
  }
}
