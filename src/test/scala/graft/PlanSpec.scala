package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.olap._

/** Physical-plan assertions: the plan SHAPES that keep the engine
  * viable at 100 TB — dimension joins broadcast (fact never shuffles
  * for the star join), slicer predicates pushed into parquet scans,
  * column pruning reaching the fact scan, and one exchange per
  * aggregation grain.
  */
class PlanSpec extends SparkSpec {

  private lazy val cube = Cubes.sales(spark, Sf)

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Hash exchanges in the physical plan `df` itself runs, without the
    * build plans of the cached frames it reads.
    */
  private def hashExchanges(df: DataFrame): Int =
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }.length

  /** Reads of the fact rows: lineitem file scans, or scans of a cached
    * frame that still carries raw fact columns, in `df`'s plan and in
    * the build plans of the cached frames it reads (a fused dim-calc
    * pass reads the segment its one fact aggregate builds).
    */
  private def factReads(df: DataFrame): Int = {
    def reads(p: SparkPlan): Int = p.collect {
      case a: AdaptiveSparkPlanExec => reads(a.inputPlan)
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains("lineitem")) => 1
      case m: InMemoryTableScanExec =>
        if (m.relation.output.exists(_.name == "l_quantity")) 1
        else reads(m.relation.cachedPlan)
    }.sum
    reads(df.queryExecution.executedPlan)
  }

  test("star joins broadcast every dimension side") {
    val df = Query.from(cube)
      .columns("revenue")
      .rows(LevelMembers("customer", "nation"))
      .where(MemberSlice("time", Seq(1995)))
      .execute()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      "dimension joins must be broadcast")
    // the customer/nation/region/time dim joins must not sort-merge the
    // fact; the only SMJ allowed is the small axis-members ⋈ cells join
    val smjCount = "SortMergeJoin".r.findAllIn(p).length
    assert(smjCount <= 1, s"unexpected sort-merge joins in plan:\n$p")
  }

  test("mixed-depth axis fetches all grains in one grouping-sets pass") {
    // Ascendants = 4 grains (month, quarter, year, all) — must lower to
    // ONE Expand over ONE fact scan (Mondrian's GroupingSetsCollector
    // batching, SURVEY §4 #3), not one aggregate per depth.
    SegmentCache.global.clear()
    val df = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  ASCENDANTS([time].[1995].[1995-Q2].[1995-05]) ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    val p = plan(df)
    // r16: the grouping-sets pass runs ONCE at segment build (an eager
    // checkpoint — getOrComputeCut; the Expand plan defeated Spark's
    // cached-plan matching under self-join re-alias, silently
    // recomputing the fact pass per consumer), so the CONSUMING plan
    // contains ZERO Expands and reads the materialized segment as an
    // RDD scan. Still one fact pass: exactly ONE cache miss, and the
    // per-depth fallback (one aggregate per grain) would miss once per
    // depth through the aggregate() path instead.
    val expands = "Expand".r.findAllIn(p).length
    assert(expands === 0, s"expected no Expand in the consuming plan " +
      s"(the gs pass materializes at segment build), got $expands:\n$p")
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
      s"expected the checkpointed segment scan in the plan:\n$p")
    assert(SegmentCache.global.misses >= 1)
    // the single-pass contract: repeating the query adds NO miss (the
    // one gs compute is cached), and one run never misses twice for
    // the four grains
    val missesAfter = SegmentCache.global.misses
    Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  ASCENDANTS([time].[1995].[1995-Q2].[1995-05]) ON ROWS
        |FROM [Sales]""".stripMargin, cube).collect()
    assert(SegmentCache.global.misses === missesAfter,
      "the mixed-grain segment must serve repeat queries from cache")
  }

  test("unique_key_level_name eliminates member-enumeration distinct") {
    val d = Cubes.customerDim(spark, Sf)
    val hinted = d.copy(uniqueKeyLevel = Some("customer"))
    // at the declared unique depth: straight scan, no aggregate/exchange
    val pUnique = hinted.membersAt(2, Planner.memberCols(hinted, 2))
      .queryExecution.executedPlan.toString
    assert(!pUnique.contains("HashAggregate"),
      s"unique-level member scan must not group:\n$pUnique")
    // above it: distinct still required (nation repeats per customer)
    val pAbove = hinted.membersAt(1, Planner.memberCols(hinted, 1))
      .queryExecution.executedPlan.toString
    assert(pAbove.contains("HashAggregate"),
      s"non-unique depth must still distinct:\n$pAbove")
  }

  test("depends_on_level_value drops the property from the grouping") {
    val hinted = cube.copy(dims = cube.dims.map(d =>
      if (d.name == "customer")
        d.copy(levels = d.levels.map(l =>
          if (l.name == "customer")
            l.copy(dependentProps = Set("c_mktsegment"))
          else l))
      else d))
    val mdx =
      """WITH MEMBER [Measures].[segment] AS
        |    [customer].CurrentMember.Properties('c_mktsegment')
        |SELECT {[Measures].[revenue], [Measures].[segment]} ON COLUMNS,
        |  HEAD([customer].[customer].Members, 20) ON ROWS
        |FROM [Sales]""".stripMargin
    SegmentCache.enabled = false
    try {
      val viaHint = Mdx.execute(mdx, hinted)
      val p = plan(viaHint)
      assert(p.contains("first(c_mktsegment"),
        s"dependent property must aggregate by the key alone:\n$p")
      assert(viaHint.collect().toSeq ===
        Mdx.execute(mdx, cube).collect().toSeq,
        "hinted plan must answer identically")
    } finally SegmentCache.enabled = true
  }

  test("slicer predicate is pushed into the dimension parquet scan") {
    // fresh, unpersisted dim binding: the pooled cube persists member
    // frames (the reference's member cache), which pins the filter
    // above the InMemoryTableScan instead of the parquet scan
    val freshCube = BoundCube("Fresh",
      Cubes.salesFact(spark, Sf),
      dims = Seq(Cubes.customerDim(spark, Sf), Cubes.partDim(spark, Sf)),
      measures = Seq(Measure("revenue", Agg.SumExact,
        "l_extendedprice * (1 - l_discount)")))
    SegmentCache.enabled = false
    val p = try plan(new Planner(freshCube).aggregate(
      Seq(Planner.AxisDim(freshCube.dim("part"), 0)),
      Seq(MemberSlice("customer", Seq("EUROPE")))))
    finally SegmentCache.enabled = true
    // the slicer must reach a scan node: either the parquet FileScan
    // (PushedFilters) or — when the dim frame is served from the
    // member cache — the InMemoryTableScan's pushed predicate list
    val pushedToParquet = p.contains("EqualTo(r_name,EUROPE)")
    val pushedToCache = p.linesIterator.exists(l =>
      l.contains("InMemoryTableScan") && l.contains("= EUROPE"))
    assert(pushedToParquet || pushedToCache,
      s"slicer must be pushed into a scan node:\n$p")
  }

  /** Parquet FileScan lines of the (string) plan. */
  private def scanLines(p: String): Seq[String] =
    p.linesIterator.filter(l => l.contains("Scan parquet") ||
      l.contains("FileScan parquet")).toSeq

  test("fact scan is pruned to referenced columns only") {
    SegmentCache.enabled = false
    val p = try plan(Query.from(cube)
      .columns("sum_qty")
      .rows(LevelMembers("returnflag", "returnflag"))
      .execute())
    finally SegmentCache.enabled = true
    // the lineitem scan must read only quantity + returnflag (join
    // pruned: no orders column referenced → no lineitem⋈orders join),
    // checked on the actual FileScan nodes (persisted member frames
    // embed their build lineage in the plan text, which is not a scan)
    val li = scanLines(p).filter(_.contains("lineitem"))
    assert(li.nonEmpty, s"expected a lineitem scan:\n$p")
    assert(li.forall(l => !l.contains("o_orderkey") &&
      !l.contains("l_extendedprice")),
      s"unreferenced fact columns must not be scanned:\n${li.mkString("\n")}")
  }

  test("degenerate-dimension slicer pushes into the fact scan") {
    // The filter must reach the STORAGE scan. Cold path: parquet
    // PushedFilters [EqualTo(l_returnflag,R)]. If the session has the
    // in-memory star fact, Spark's CacheManager substitutes the cached
    // plan and the same filter prunes cached batches on the
    // InMemoryTableScan instead — both are pushdown.
    SegmentCache.enabled = false
    val df = try new Planner(cube).aggregate(Nil,
      Seq(MemberSlice("returnflag", Seq("R"))))
    finally SegmentCache.enabled = true
    val p = plan(df)
    assert(p.contains("EqualTo(l_returnflag,R)") ||
      "InMemoryTableScan [^\\n]*l_returnflag[^\\n]* = R".r
        .findFirstIn(p).isDefined,
      s"degenerate slicer must reach the fact scan:\n$p")
  }

  test("aggregation is partial (map-side combine) before one exchange") {
    val df = Query.from(cube)
      .columns("revenue")
      .rows(LevelMembers("customer", "region"))
      .execute()
    val p = plan(df)
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"expected partial aggregation:\n$p")
  }

  test("dim-hosted calc members on one axis fuse into a single fact " +
      "pass: one hash exchange for three members") {
    val df = Mdx.execute(
      """WITH MEMBER [customer].[A] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13],
        |              [customer].[ASIA].[NATION_2]})'
        |MEMBER [customer].[B] AS
        |  'Aggregate({[customer].[AMERICA].[NATION_1]})'
        |MEMBER [customer].[C] AS 'Aggregate({[customer].[AFRICA]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  {[customer].[A], [customer].[B], [customer].[C]} ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    val p = plan(df)
    // the explode-label rewrite touches the fact once and groups on
    // the member label — N members must not mean N fact aggregations:
    // one fact read (in the build of the segment the pass reads) and
    // one hash exchange in the fused pass itself
    val hashEx = hashExchanges(df)
    assert(hashEx == 1 && factReads(df) == 1,
      s"expected exactly one fact read and one hash exchange for the " +
        s"fused axis, got ${factReads(df)} and $hashEx:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"dimension joins must stay broadcast in the fused pass:\n$p")
    // and the cells match the per-member sub-query semantics
    val rows = df.collect().map(r => r.getString(0) ->
      r.getAs[java.math.BigDecimal]("revenue").doubleValue()).toMap
    def solo(set: String): Double = Mdx.execute(
      s"""SELECT {[Measures].[revenue]} ON COLUMNS
         |FROM [Sales] WHERE $set""".stripMargin, cube).collect()
      .head.getAs[java.math.BigDecimal]("revenue").doubleValue()
    assert(rows("A") === solo("{[customer].[EUROPE].[NATION_13], " +
      "[customer].[ASIA].[NATION_2]}"))
    assert(rows("B") === solo("([customer].[AMERICA].[NATION_1])"))
    assert(rows("C") === solo("([customer].[AFRICA])"))
  }

  test("calc members in TWO CrossJoin factors stay a single fact " +
      "pass: chained explodes, exchange count constant in both entry " +
      "counts") {
    def planFor(cust: String, time: String): String = plan(Mdx.execute(
      s"""WITH MEMBER [customer].[A] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13],
        |              [customer].[ASIA].[NATION_2]})'
        |MEMBER [time].[Y9596] AS
        |  'Aggregate({[time].[1995], [time].[1996]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN({$cust}, {$time}) ON ROWS
        |FROM [Sales]""".stripMargin, cube))
    def hashEx(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).length
    // the time-dim cached-relation printout contributes a fixed count;
    // what must NOT happen is one fact aggregation per entry pair —
    // 2x2 entries, same plan shape as 1x1
    val small = planFor("[customer].[A]", "[time].[Y9596]")
    val cross = planFor("[customer].[A], [customer].[AMERICA]",
      "[time].[Y9596], [time].[1995]")
    assert(hashEx(cross) === hashEx(small),
      s"exchange count grew with the entry cross product:\n$cross")
    assert(cross.contains("BroadcastHashJoin"),
      s"dimension joins must stay broadcast:\n$cross")
  }

  test("a role keeps the fused dim-calc axis a single fact pass: the " +
      "grant slicer is a scan filter, not a per-entry sub-query") {
    val roled = Cubes.sales(spark, Sf).withRole(Role("Europe only",
      Seq("customer" -> Seq("EUROPE"))))
    val mdx =
      """WITH MEMBER [customer].[N13] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13]})'
        |MEMBER [customer].[N18] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_18]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  {[customer].[EUROPE], [customer].[N13],
        |   [customer].[N18]} ON ROWS
        |FROM [Sales]""".stripMargin
    val df = Mdx.execute(mdx, roled)
    val p = plan(df)
    // compare against the UNROLED twin of the same query — what must
    // not happen is the role forking the axis to per-entry sub-queries
    // (extra fact reads or exchanges relative to the open-cube plan).
    // Exchanges count in the pass itself: the build plans of the
    // segments it reads depend on what the cache held before
    val unroled = Mdx.execute(mdx, cube)
    assert(hashExchanges(df) === hashExchanges(unroled) &&
      factReads(df) === factReads(unroled),
      s"the role changed the fused plan's exchange count " +
        s"(${hashExchanges(df)} vs unroled ${hashExchanges(unroled)}) or " +
        s"fact reads (${factReads(df)} vs ${factReads(unroled)}):\n$p")
    // and the granted cells equal the open-cube cells (the grant only
    // restricts, and every set here is inside it)
    val rows = df.collect().map(r => r.getString(0) ->
      r.getAs[java.math.BigDecimal]("revenue").doubleValue()).toMap
    val open = Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS
        |FROM [Sales]
        |WHERE ([customer].[EUROPE].[NATION_13])""".stripMargin,
      cube).collect().head
      .getAs[java.math.BigDecimal]("revenue").doubleValue()
    assert(rows("N13") === open)
  }

  test("the fused dim-calc axis crossjoined with another factor stays " +
      "a single fact pass: exchange count constant in the entry count") {
    def planFor(entries: String): String = plan(Mdx.execute(
      s"""WITH MEMBER [customer].[A] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13],
        |              [customer].[ASIA].[NATION_2]})'
        |MEMBER [customer].[B] AS
        |  'Aggregate({[customer].[AMERICA].[NATION_1]})'
        |MEMBER [customer].[C] AS 'Aggregate({[customer].[AFRICA]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN({$entries},
        |            {[time].[1995], [time].[1996]}) ON ROWS
        |FROM [Sales]""".stripMargin, cube))
    def hashEx(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).length
    val one = planFor("[customer].[A]")
    val three = planFor("[customer].[A], [customer].[B], [customer].[C]")
    // the other factor's member frame contributes a fixed number of
    // exchanges (its distinct); what must NOT happen is one fact
    // aggregation per entry — N members, same plan shape
    assert(hashEx(three) === hashEx(one),
      s"exchange count grew with the entry count:\n$three")
    assert(three.contains("BroadcastHashJoin"),
      s"dimension joins must stay broadcast in the fused pass:\n$three")
  }

  test("a high-cardinality other factor keeps the fused dim-calc " +
      "crossjoin off the broadcast path with identical cells") {
    def cells(c: graft.olap.BoundCube) = Mdx.execute(
      """WITH MEMBER [customer].[A] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13],
        |              [customer].[ASIA].[NATION_2]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  CROSSJOIN({[customer].[A], [customer].[AFRICA]},
        |            [time].[year].Members) ON ROWS
        |FROM [Sales]""".stripMargin, c).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.get(2)).toMap
    val normal = cells(cube)
    // the flag reroutes the member frame and the (entry x member)
    // aggregate off the broadcast hints (they are axis-cardinality-
    // sized at scale); the cells must not change
    val hc = cells(cube.copy(dims = cube.dims.map(d =>
      if (d.name == "time") d.copy(highCardinality = true) else d)))
    assert(hc === normal)
    assert(normal.nonEmpty)
  }

  test("jaccard verify phase never broadcasts the shingled corpus") {
    val docs = Tables.load(spark, Sf, "documents")
    val df = graft.ops.DedupOps.jaccardPairs(docs, 0.5)
    // the verify join must be a plain shuffle join against the
    // shingled corpus: a BroadcastExchange whose build side carries
    // the `shingles` column would be the full corpus on one executor —
    // the 100 TB OOM the r3/r4 verdicts flagged
    val p = df.queryExecution.executedPlan.toString
    val broadcastsShingles = p.linesIterator.exists(l =>
      l.contains("BroadcastExchange") && l.contains("shingles"))
    assert(!broadcastsShingles,
      s"shingled corpus must not be broadcast:\n$p")
    // candidate generation is bucket-based (groupBy shh + bounded
    // double-explode): no window sort over the postings
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"jaccard candidate phase must not use a window:\n$p")
    // hot-shingle capping happens INSIDE the bucket aggregation
    // (collect_capped → ObjectHashAggregate): no separate blacklist
    // pass, and no SortAggregate anywhere — the verify reassembles
    // pair sides through collect_capped too, where a built-in agg
    // over array columns would fall back to sorting the pair frame
    assert(p.contains("ObjectHashAggregate"),
      s"capped bucket aggregation missing:\n$p")
    assert(!p.contains("SortAggregate"),
      s"array-agg fell back to SortAggregate:\n$p")
  }

  test("embedding LSH verify never broadcasts the unit-vector corpus") {
    val emb = Tables.load(spark, Sf, "embeddings")
    val df = graft.ops.DedupOps.embeddingPairsLsh(emb, 0.47)
    val p = df.queryExecution.executedPlan.toString
    // the embedding sides join the bounded candidate set on vec_a /
    // vec_b as shuffle joins; broadcasting them would put the whole
    // corpus on one executor. Assert on the JOIN lines (they name the
    // keys) — BroadcastExchange lines print only mode expressions, so
    // matching column names there is vacuous.
    val broadcastsEmb = p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") &&
        (l.contains("vec_a#") || l.contains("vec_b#")))
    assert(!broadcastsEmb,
      s"embedding corpus must not be broadcast:\n$p")
    val shuffles = p.linesIterator.exists(l =>
      (l.contains("ShuffledHashJoin") || l.contains("SortMergeJoin")) &&
        (l.contains("vec_a#") || l.contains("vec_b#")))
    assert(shuffles, s"expected partitioned verify joins:\n$p")
  }

  test("semantic dedup pair join never broadcasts the unit vectors") {
    val emb = Tables.load(spark, Sf, "embeddings")
    val df = graft.ops.SimilarityOps.semanticDedup(emb, k = 4,
      iters = 1, tau = 0.47)
    val p = df.queryExecution.executedPlan.toString
    // the within-cell self-join must partition on the cell key; a
    // broadcast would ship the whole normalized corpus to one
    // executor. The JOIN line names its keys (cell#), so assert there
    // — BroadcastExchange lines don't print payload columns.
    val broadcastsCell = p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("cell#"))
    assert(!broadcastsCell,
      s"unit-vector corpus must not be broadcast:\n$p")
    val pairJoinPartitioned = p.linesIterator.exists(l =>
      (l.contains("ShuffledHashJoin") || l.contains("SortMergeJoin")) &&
        l.contains("cell#"))
    assert(pairJoinPartitioned,
      s"expected the pair join partitioned on cell:\n$p")
  }

  test("dupSpans prunes the documents scan to doc_id + text") {
    // a no-op reader option makes this relation differ from the frame
    // other suites .cache() — otherwise cache substitution swaps the
    // scan for the full-column InMemoryRelation and the pruning
    // property can't be observed on the parquet scan
    val docs = spark.read.option("graft.nocache", "1")
      .parquet(s"$Sf/documents.parquet")
    val p = plan(graft.ops.DedupOps.dupSpans(docs))
    val scans = scanLines(p).filter(_.contains("documents"))
    assert(scans.nonEmpty, s"expected a documents scan:\n$p")
    assert(scans.forall(l => !l.contains("lang") && !l.contains("n_chars")),
      s"span stats must not scan unused columns:\n${scans.mkString("\n")}")
  }

  test("pqEncode is a map-only projection (no exchange, no join)") {
    val emb = Tables.load(spark, Sf, "embeddings")
    val p = plan(graft.ops.SimilarityOps.pqEncode(emb, m = 4, kSub = 8,
      iters = 2))
    assert(!p.contains("Exchange hashpartitioning"),
      s"pq encode must not shuffle:\n$p")
    assert(!p.contains("Join"), s"pq encode must not join:\n$p")
  }

  test("pqTopK broadcasts the probe tables, never the coded corpus") {
    val emb = Tables.load(spark, Sf, "embeddings")
    val probes = emb.filter(org.apache.spark.sql.functions
      .col("vec_id") < 5L)
    val p = plan(graft.ops.SimilarityOps.pqTopK(emb, probes,
      m = 4, kSub = 8, iters = 2, k = 10))
    // the ADC scan joins coded-corpus x broadcast(probe tables) — a
    // nested-loop join (the condition is a pure !=) building on the
    // RIGHT (probe) side; the only key shuffle is the per-probe rank
    // window, and the map-side WindowGroupLimit prunes before it
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"),
      s"probe side must be the broadcast build side:\n$p")
    val keyShuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(keyShuffles <= 1, s"only the rank window may shuffle:\n$p")
    assert(p.contains("WindowGroupLimit"), s"map-side top-k prune:\n$p")
  }

  test("ivfPqTopK equi-joins on the coarse cell with a map-only corpus side") {
    val emb = Tables.load(spark, Sf, "embeddings")
    val probes = emb.filter(org.apache.spark.sql.functions
      .col("vec_id") < 5L)
    val p = plan(graft.ops.SimilarityOps.ivfPqTopK(emb, probes,
      kCoarse = 4, cIters = 2, m = 4, kSub = 4, iters = 2,
      k = 5, nprobe = 2))
    // cell + codes are literal-model projections, so the corpus side
    // reaches the scored join without any exchange or join of its own;
    // the routed probe side broadcasts into a HASH join on the cell
    // key (at 100 TB: partition pruning on a by-cell layout instead)
    assert(p.contains("BroadcastHashJoin [cell"),
      s"scored join must be an equi-join on cell:\n$p")
    val keyShuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(keyShuffles <= 1, s"only the rank window may shuffle:\n$p")
    assert(p.contains("WindowGroupLimit"), s"map-side top-k prune:\n$p")
  }

  test("pipeline signature ops stay shuffle-free until the pair join") {
    val docs = Tables.load(spark, Sf, "documents")
    val p = plan(graft.ops.DedupOps.simhash(docs))
    // one hash exchange for the doc_id groupBy, nothing else; the
    // small-input rebalance guard may add a RoundRobin repartition,
    // which is a local-parallelism fix, not a data shuffle on a key
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"simhash should shuffle once:\n$p")
  }

  test("high_cardinality dimension opts axis ordering into the distributed path") {
    val li = Tables.load(spark, Sf, "lineitem")
    val dim = BoundDim("ok", foreignKey = "l_orderkey",
      primaryKey = "l_orderkey",
      levels = Seq(BoundLevel("orderkey", "l_orderkey")),
      df = li.select("l_orderkey").distinct(), degenerate = true,
      highCardinality = true)
    val hc = BoundCube("HC", li, Seq(dim),
      Seq(Measure("sum_qty", Agg.Sum, "l_quantity")))
    val df = Query.from(hc).columns("sum_qty")
      .rows(OrderSet(LevelMembers("ok", "orderkey"), "sum_qty",
        SortDir.BDesc))
      .execute()
    val p = df.queryExecution.executedPlan.toString
    // the single-partition window path would show row_number(); the
    // hinted distributed path numbers via range partition + offsets
    assert(!p.contains("row_number()"),
      s"high-cardinality axis must not use a global window:\n$p")
    // a dimension-bounded axis keeps the cheap single-window plan
    val small = Query.from(cube).columns("revenue")
      .rows(OrderSet(LevelMembers("customer", "region"), "revenue",
        SortDir.BDesc))
      .execute()
    assert(small.queryExecution.executedPlan.toString
      .contains("row_number()"))
    // the LinReg series rank routes through the same hint: a
    // high-cardinality series must not rank via a global window
    val lr = Query.from(hc)
      .withMember(CalcMember("s", graft.olap.LinRegCalc("SLOPE",
        LevelMembers("ok", "orderkey"),
        "coalesce(sum_qty * 1.0, 0.0)", "__LR_RANK__")))
      .columns("s")
      .execute()
    val lrp = lr.queryExecution.executedPlan.toString
    assert(!lrp.contains("row_number()"),
      s"high-cardinality LinReg series must not use a global window:\n$lrp")
    assert(lr.collect().length === 1)
  }

  test("a rendered dimension-bounded axis sorts in one partition with " +
      "no range-partitioned sort and two jobs fewer; a high_cardinality " +
      "axis keeps the range-partitioned sort") {
    import org.apache.spark.sql.graft.JobCount
    val ev = Cubes.events(spark, Sf).copy()
    def byType(q: Query => Query) = q(Query.from(ev)
      .columns("n_events", "sum_value")
      .rows(LevelMembers("event_type", "event_type"))).execute()
    // the NON EMPTY twin reads the same segment and member frame, so
    // the plain statement's first run is a render over warm caches,
    // not a cell-set hit
    byType(_.nonempty()).collect()
    val rendered = byType(identity)
    val p = plan(rendered)
    assert(!p.contains("rangepartitioning"),
      s"a dimension-bounded axis must not range-partition its sort:\n$p")
    assert(p.contains("Coalesce 1"), p)
    val (rows, jobs) = JobCount(spark.sparkContext)(rendered.collect())
    assert(jobs === 2, "the sort must start no sampling or shuffle job")
    assert(rows.map(_.getAs[String]("event_type")).toSeq ===
      rows.map(_.getAs[String]("event_type")).toSeq.sorted)
    val li = Tables.load(spark, Sf, "lineitem")
    val hc = BoundCube("HC", li, Seq(BoundDim("ok", foreignKey = "l_orderkey",
        primaryKey = "l_orderkey",
        levels = Seq(BoundLevel("orderkey", "l_orderkey")),
        df = li.select("l_orderkey").distinct(), degenerate = true,
        highCardinality = true)),
      Seq(Measure("sum_qty", Agg.Sum, "l_quantity")))
    val hp = plan(Query.from(hc).columns("sum_qty")
      .rows(LevelMembers("ok", "orderkey")).execute())
    assert(hp.contains("rangepartitioning") && !hp.contains("Coalesce 1"),
      s"a high_cardinality axis must keep the distributed sort:\n$hp")
    SegmentCache.global.flushCube(ev.cubeId)
  }

  test("same-column percentile measures fuse into one aggregate") {
    val df = Query.from(Cubes.sales(spark, Sf))
      .columns("median_price", "p90_price", "q1_price", "q3_price")
      .rows(LevelMembers("returnflag", "returnflag"))
      .execute()
    val plan = df.queryExecution.optimizedPlan.toString
    // every percentile call must carry the fused fraction array (the
    // cached two-phase physical plan legitimately prints partial+final,
    // so count array-less calls instead of total occurrences)
    val calls = "percentile\\([^)\\]]*.".r.findAllIn(plan).toSeq
    assert(calls.nonEmpty, s"expected a percentile aggregate in:\n$plan")
    // the fused fraction array constant-folds to a [p1,p2,...] literal
    assert(calls.forall(c => c.contains("array(") ||
        "\\[[0-9.]+,[0-9.]+".r.findFirstIn(c).isDefined),
      s"unfused single-fraction percentile found:\n${calls.mkString("\n")}")
  }

  test("axis ordering never single-partitions a high-cardinality frame") {
    import org.apache.spark.sql.functions._
    // a 10M-row "axis": far above the small-frame threshold, so the
    // distributed-sequence numbering over a range-partitioned sort must
    // kick in (the r4 verdict's unpartitioned-Window.orderBy
    // scale-killer)
    val big = spark.range(10000000L).toDF("id")
      .withColumn("k", col("id") * 7 % 10000000L)
    val numbered = Ords.rowNumber(big, Seq(col("k").asc), "__ord")
    val p = numbered.queryExecution.executedPlan.toString
    // the 10M data rows must flow through a range-partitioned sort with
    // no global window; the sequence operator counts each partition in
    // a job of its own (zipWithIndex), not through an exchange, so no
    // single-partition hop is expected and at most one is tolerated
    assert(p.linesIterator.count(_.contains("Exchange SinglePartition")) <= 1,
      s"data path must not exchange to one partition:\n$p")
    assert(!p.contains("row_number()"),
      s"distributed numbering must not window over the data:\n$p")
    assert(p.contains("rangepartitioning") || p.contains("RangePartitioning"),
      s"expected a range-partitioned sort:\n$p")
    // numbering is still the exact global 1..n order — probe every
    // millionth key so the check crosses every range partition (a
    // wrong per-partition offset anywhere would show up here)
    val sample = numbered.filter(col("k") % 1000000 === 0 || col("k") < 5)
      .orderBy(col("k")).collect()
    assert(sample.map(_.getAs[Int]("__ord")).toSeq ==
      sample.map(_.getAs[Long]("k").toInt + 1).toSeq)
    // small frames keep the cheap single-window plan
    val small = spark.range(100L).toDF("k")
    val sp = Ords.rowNumber(small, Seq(col("k").asc), "__ord")
      .queryExecution.executedPlan.toString
    assert(sp.contains("SinglePartition"),
      s"small frames should stay on the single-partition window:\n$sp")
  }

  test("distributed running sum is exact at 10M rows") {
    import org.apache.spark.sql.functions._
    // value = k % 5 has a closed-form prefix: full cycles of sum 10
    // plus a partial — checking sampled keys across every range
    // partition catches any wrong per-partition offset
    val big = spark.range(10000000L).toDF("id")
      .withColumn("k", col("id") * 7 % 10000000L)
      .withColumn("v", col("k") % 5)
    val summed = Ords.runningSum(big, Seq(col("k").asc), col("v"),
      "cum", Ords.Large)
    val sample = summed.filter(col("k") % 1000000 === 0 || col("k") < 7)
      .select("k", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def expected(k: Long): Long = {
      val n = k + 1; (n / 5) * 10 + (1L until n % 5).map(identity).sum
    }
    sample.foreach { case (k, cum) =>
      assert(cum === expected(k), s"prefix at k=$k") }
  }

  test("asOfJoin is one exchange on the key — no range-join blowup") {
    val ev = Tables.load(spark, Sf, "events")
    val df = ops.TimeOps.asOfJoin(
      ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts"),
      ev.filter(col("event_type") === "click"),
      "user_id", "ts", "event_id", Seq("value"))
    val p = plan(df)
    // the as-of itself must be union + window, never a join of the two
    // sides (a theta/range join explodes per-key pairs at scale); the
    // only exchanges are the tie-collapse aggregation and the window
    // sort, both keyed
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoop"),
      s"as-of must not lower to a join:\n$p")
    assert(p.contains("Window"), s"expected the running window:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"as-of should shuffle at most twice:\n$p")
  }

  test("readClusterLabels prunes to the latest label generation") {
    val path = "/tmp/graft_planspec_clusters"
    PipelineOpsSpec.rmrf(path)
    val docs = Tables.load(spark, Sf, "documents")
    val idx = ops.DedupOps.writeClusterIndex(
      docs.filter(col("doc_id") < 250), path)
    ops.DedupOps.appendToClusterIndex(idx,
      docs.filter(col("doc_id") >= 250), ingestId = 1L)
    val p = plan(ops.DedupOps.readClusterLabels(spark, path))
    // the policy-read path must scan ONLY the latest gen's files (a
    // partition filter on gen, not a post-scan filter over all
    // snapshots) and read only the two narrow label columns
    assert(p.contains("PartitionFilters") && p.contains("gen"),
      s"expected a gen partition filter:\n$p")
    assert(p.contains("struct<doc_id:bigint,cluster_id:bigint>"),
      s"label read must prune to the two narrow columns:\n$p")
  }

  test("readCleanFates prunes to the latest fate generation") {
    val path = "/tmp/graft_planspec_cleanidx"
    PipelineOpsSpec.rmrf(path)
    val docs = Tables.load(spark, Sf, "documents")
    ops.CleanPipeline.writeCleanIndex(docs, path)
    val p = plan(ops.CleanPipeline.readCleanFates(spark, path))
    // consumers must scan only the latest gen's files and the two
    // narrow fate columns — never re-run the pipeline stages
    assert(p.contains("PartitionFilters") && p.contains("gen"),
      s"expected a gen partition filter:\n$p")
    assert(p.contains("struct<doc_id:bigint,fate:string>"),
      s"fate read must prune to the two narrow columns:\n$p")
  }

  test("bm25 broadcasts query/df sides and group-limits the top-k") {
    val df = ops.RetrievalOps.bm25(Tables.load(spark, Sf, "documents"),
      queries.FeatureQueries.BM25_QUERIES)
    val p = plan(df)
    // the postings side must never broadcast; the query workload and
    // per-term dfs must never shuffle the corpus
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"query-side joins must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-k must run under WindowGroupLimit:\n$p")
  }

  test("an expression calc measure keeps the fused dim-calc plan: " +
      "same exchange count as the stored-measure twin (r15 — no " +
      "per-entry fallback fork)") {
    def planFor(measures: String): String = plan(Mdx.execute(
      s"""WITH MEMBER [customer].[EU13 and AS2] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13],
        |              [customer].[ASIA].[NATION_2]})'
        |MEMBER [Measures].[rev2] AS '[Measures].[revenue] * 2'
        |SELECT {$measures} ON COLUMNS,
        |  NONEMPTYCROSSJOIN({[customer].[AMERICA],
        |                     [customer].[EU13 and AS2]},
        |                    {[time].[1995], [time].[1996]}) ON ROWS
        |FROM [Sales]""".stripMargin, cube))
    def hashEx(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).length
    val withCalc = planFor("[Measures].[rev2]")
    val stored = planFor("[Measures].[revenue]")
    assert(hashEx(withCalc) === hashEx(stored),
      s"the expr calc changed the fused plan's exchange count " +
        s"(${hashEx(withCalc)} vs ${hashEx(stored)}):\n$withCalc")
  }

  test("left-major rendering (r18) kept the fused plan shape: the " +
      "calc-SECOND crossjoin has the same hash-exchange count as the " +
      "calc-first mirror, and the per-factor frames ride broadcasts") {
    def planFor(axis: String): String = plan(Mdx.execute(
      s"""WITH MEMBER [customer].[EU13 and AS2] AS
        |  'Aggregate({[customer].[EUROPE].[NATION_13],
        |              [customer].[ASIA].[NATION_2]})'
        |SELECT {[Measures].[revenue]} ON COLUMNS,
        |  $axis ON ROWS
        |FROM [Sales]""".stripMargin, cube))
    def hashEx(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).length
    val calcFirst = planFor(
      "CROSSJOIN({[customer].[AMERICA], [customer].[EU13 and AS2]}, " +
        "{[time].[1995], [time].[1996]})")
    val calcSecond = planFor(
      "CROSSJOIN({[time].[1995], [time].[1996]}, " +
        "{[customer].[AMERICA], [customer].[EU13 and AS2]})")
    assert(hashEx(calcSecond) === hashEx(calcFirst),
      s"factor position changed the fused plan's exchange count " +
        s"(${hashEx(calcSecond)} vs ${hashEx(calcFirst)}):\n$calcSecond")
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r
      .findAllIn(calcSecond).nonEmpty,
      "the axis frames must ride broadcasts")
    assert(!calcSecond.contains("SortMergeJoin"),
      s"no sort-merge join in the plan-sized axis product:\n$calcSecond")
    // TWO stored factors: the fact-scan restriction is one semi-join
    // PER FACTOR (m+n build rows), never one semi-join against the
    // factors' cross PRODUCT (m*n rows — a multi-GB build side at two
    // mid-sized dims)
    val twoOthers = planFor(
      "CROSSJOIN({[time].[1995], [time].[1996]}, " +
        "CROSSJOIN({[customer].[AMERICA], [customer].[EU13 and AS2]}, " +
        "[returnflag].[returnflag].Members))")
    val semis = "LeftSemi".r.findAllIn(twoOthers).length
    assert(semis >= 2,
      s"expected per-factor semi-joins (>=2 LeftSemi), got $semis:\n" +
        twoOthers)
  }

  test("a context override and a mixed-depth factor plan ONE fused fact " +
      "aggregate: one fact read and one entry-keyed hash exchange, like " +
      "a non-overriding, uniform-depth twin") {
    SegmentCache.global.clear()
    def planFor(member: String, axis: String): DataFrame = Mdx.execute(
      s"""WITH MEMBER $member
        |SELECT {[Measures].[revenue], [Measures].[sum_qty]} ON COLUMNS,
        |  $axis ON ROWS
        |FROM [Sales]""".stripMargin, cube)
    // the fused aggregate's shuffle is the one hash exchange keyed by
    // the entry column (the member frames' own exchanges differ with
    // the set shape, so whole-plan counts are not comparable)
    def entryExchanges(df: DataFrame): Int = plan(df).linesIterator
      .count(l => l.contains("Exchange hashpartitioning(__entry"))
    // q_mdx_dimcalc_override's statement, and its twin whose calc set
    // stays on its own hierarchy
    val overrideAxis = "CROSSJOIN({[time].[1995], [time].[EU all]}, " +
      "{[customer].[AMERICA], [customer].[ASIA]})"
    val overriding = planFor(
      "[time].[EU all] AS 'Aggregate({[customer].[EUROPE]})'",
      overrideAxis)
    val plainCalc = planFor(
      "[time].[EU all] AS 'Aggregate({[time].[1996]})'", overrideAxis)
    // the mixed-depth spec's statement, and its uniform-depth twin
    val eu = "[customer].[EU13 and AS2] AS " +
      "'Aggregate({[customer].[EUROPE].[NATION_13], " +
      "[customer].[ASIA].[NATION_2]})'"
    val mixed = planFor(eu, "CROSSJOIN({[customer].[EU13 and AS2]}, " +
      "{[time].[1995], [time].[1995].[1995-Q1]})")
    val uniform = planFor(eu, "CROSSJOIN({[customer].[EU13 and AS2]}, " +
      "{[time].[1995], [time].[1996]})")
    Seq("override" -> (overriding, plainCalc),
        "mixed-depth" -> (mixed, uniform)).foreach {
      case (shape, (df, twin)) =>
        assert(factReads(df) === 1 && factReads(twin) === 1,
          s"the $shape axis must read the fact once:\n${plan(df)}")
        assert(entryExchanges(df) === 1 &&
          entryExchanges(df) === entryExchanges(twin),
          s"the $shape axis must aggregate in one entry-keyed exchange " +
            s"(${entryExchanges(df)} vs ${entryExchanges(twin)}):\n" +
            plan(df))
    }
  }
}
