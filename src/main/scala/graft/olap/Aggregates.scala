package graft.olap

import java.util.concurrent.atomic.LongAdder

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.trees.TreePattern
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Aggregate-table routing + segment cache — the two genuinely custom
  * optimizer mechanisms of the reference engine (SURVEY §4 #5/#6):
  * everything else the reference does (pushdown, pruning, batching,
  * native set SQL) falls out of the DataFrame formulation or is a
  * Catalyst built-in.
  */

/** A pre-aggregated table (materialized rollup) at a declared grain —
  * the analog of the reference's AggName/AggPattern declarations
  * (schema.rb:374-414, jar rolap/aggmatcher/AggStar).
  *
  * `df` holds one row per grain tuple with the level key columns of
  * every (dim, depth) in `grain` plus one column per measure carrying
  * the PARTIAL aggregate at this grain. Only decomposable aggregators
  * are re-aggregable from partials (sum-of-sums, sum-of-counts,
  * min-of-mins, max-of-maxes); avg and distinct-count queries always
  * fall through to the fact (distinct-count is non-additive — SURVEY
  * §7.4 #3).
  *
  * At 100 TB this is the difference between scanning the fact and
  * scanning a table ~1e4× smaller: the router answers any query whose
  * grain is a coarsening of the agg grain without touching the fact.
  */
final case class AggTable(
    name: String,
    df: DataFrame,
    grain: Seq[(String, Int)],
    measures: Map[String, Agg]) {
  def depthOf(dim: String): Option[Int] =
    grain.collectFirst { case (d, depth) if d == dim => depth }
  /** Total level count — the router's "smallest table" ranking. */
  def width: Int = grain.map(_._2 + 1).sum
}

object AggRouter {

  /** Routing trace for tests/profiling: name of the agg table that
    * served the last routed aggregate, if any.
    */
  @volatile var lastHit: Option[String] = None

  private val reAggable: Set[Agg] =
    Set(Agg.Sum, Agg.SumExact, Agg.Count, Agg.Min, Agg.Max)

  /** An agg table answers the query iff every needed dim is present at
    * >= the needed depth (so all level columns root..depth exist),
    * every needed measure is stored with a decomposable aggregator, and
    * the slicer contains no raw-SQL predicate over fact columns.
    */
  def route(cube: BoundCube, needed: Map[String, Int],
      slicer: Seq[SlicerItem],
      measures: Seq[Measure]): Option[AggTable] = {
    if (slicer.exists(_.isInstanceOf[ExprSlice])) return None
    val candidates = cube.aggTables.filter { at =>
      needed.forall { case (d, depth) =>
        at.depthOf(d).exists(_ >= depth)
      } &&
      measures.forall(m =>
        at.measures.get(m.name).contains(m.agg) && reAggable(m.agg))
    }
    candidates.sortBy(_.width).headOption
  }

  /** Workload-driven rollup recommendation — the analog of the
    * reference's AggGen aggregate-table generator: given the grains a
    * workload actually queries (dim name → level depth per query),
    * propose the fewest rollup grains that cover them all, each within
    * a cardinality budget.
    *
    * Greedy merge: start from the distinct query grains; repeatedly
    * merge the pair whose union (per-dim max depth) has the smallest
    * estimated cardinality, while that estimate stays ≤ maxRows.
    * Estimates come from the dimension member counts at each depth
    * (their product — the upper bound; real rollups are smaller). A
    * finer/extra-dim rollup still answers coarser queries because the
    * router re-aggregates decomposable partials.
    */
  def recommend(cube: BoundCube, workload: Seq[Map[String, Int]],
      maxRows: Long): Seq[Map[String, Int]] = {
    def card(grain: Map[String, Int]): Long =
      grain.foldLeft(1L) { case (acc, (dn, depth)) =>
        val d = cube.dim(dn)
        val n = d.membersAt(depth,
          d.levelsTo(depth).map(_.col)).count()
        math.min(acc * math.max(n, 1L), Long.MaxValue / 2)
      }
    def union(a: Map[String, Int], b: Map[String, Int]): Map[String, Int] =
      (a.keySet ++ b.keySet).map { d =>
        d -> math.max(a.getOrElse(d, -1), b.getOrElse(d, -1))
      }.toMap
    var grains = workload.distinct.filter(_.nonEmpty)
    var merged = true
    while (merged && grains.length > 1) {
      merged = false
      val candidates = for {
        i <- grains.indices; j <- grains.indices if i < j
        u = union(grains(i), grains(j))
        c = card(u) if c <= maxRows
      } yield (c, i, j, u)
      if (candidates.nonEmpty) {
        val (_, i, j, u) = candidates.minBy(_._1)
        grains = grains.zipWithIndex.collect {
          case (g, k) if k != i && k != j => g
        } :+ u
        merged = true
      }
    }
    grains
  }

  /** Build + register the recommended rollups on the cube (decomposable
    * measures only — the router refuses the rest anyway).
    */
  def buildRecommended(cube: BoundCube, workload: Seq[Map[String, Int]],
      maxRows: Long): BoundCube = {
    val planner = new Planner(cube)
    val ms = cube.measures.filter(m => reAggable(m.agg)).map(_.name)
    val ats = recommend(cube, workload, maxRows).zipWithIndex.map {
      case (grain, i) =>
        planner.buildAggTable(s"agg_rec_$i",
          grain.toSeq.sortBy(_._1).map { case (d, depth) =>
            d -> cube.dim(d).levels(depth).name
          }, ms)
    }
    cube.withAggTables(ats: _*)
  }

  /** Re-aggregate the routed table to the requested grain: the same
    * groupBy shape as the fact path, but over the (much smaller)
    * pre-aggregate, with each measure folded from its partials.
    */
  def reAggregate(at: AggTable,
      axisDims: Seq[Planner.AxisDim], slicerPred: org.apache.spark.sql.Column,
      measures: Seq[Measure]): DataFrame = {
    lastHit = Some(at.name)
    val sliced = at.df.filter(slicerPred)
    val aggCols = measures.map { m =>
      val c = col(m.name)
      (m.agg match {
        case Agg.Sum | Agg.SumExact | Agg.Count => sum(c)
        case Agg.Min => min(c)
        case Agg.Max => max(c)
        case other => throw new IllegalStateException(
          s"non-decomposable aggregator routed: $other")
      }).as(m.name)
    }
    val keys = Planner.groupCols(axisDims)
    if (keys.isEmpty) sliced.agg(aggCols.head, aggCols.tail: _*)
    else sliced.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
  }
}

/** One declared level mapping of a physical aggregate table: the
  * cube's (dimension, level) stored in physical column `column` —
  * AggLevel (schema.rb:390-393).
  */
final case class AggLevelMap(dim: String, level: String, column: String)

/** One declared measure mapping: the cube measure's decomposable
  * partial stored in physical column `column` — AggMeasure
  * (schema.rb:385-388).
  */
final case class AggMeasureMap(measure: String, column: String)

/** AggForeignKey (schema.rb:395-398): the agg table did NOT collapse
  * this dimension into level columns — it kept the fact's foreign key
  * (as physical column `aggColumn`). The dimension joins in at
  * registration (broadcast, lazily planned), making EVERY level of
  * that dimension available from the rollup. `factColumn` names the
  * fact-side FK, which identifies the dimension.
  */
final case class AggFkMap(factColumn: String, aggColumn: String)

/** AggExclude (schema.rb:411-414): reject a matched table by exact
  * name or regex, optionally case-insensitive.
  */
final case class AggExcludeRule(value: String, isPattern: Boolean = false,
    ignoreCase: Boolean = false) {
  def excludes(table: String): Boolean =
    if (isPattern) table.matches((if (ignoreCase) "(?i)" else "") + value)
    else if (ignoreCase) table.equalsIgnoreCase(value)
    else table == value
}

/** A declarative aggregate-table declaration — AggName / AggPattern
  * (schema.rb:374-414; matched by the jar's rolap/aggmatcher). Exactly
  * one of `name` (exact physical table name) or `pattern` (regex over
  * physical table names) must be given; `excludes` applies to pattern
  * matches. The declared column mappings bind the physical table's
  * columns to the cube's level/measure columns — the table itself
  * pre-exists (built by an external pipeline), it is never built here.
  */
final case class AggDecl(
    name: Option[String] = None,
    pattern: Option[String] = None,
    levels: Seq[AggLevelMap] = Nil,
    measures: Seq[AggMeasureMap] = Nil,
    factCount: Option[String] = None,
    excludes: Seq[AggExcludeRule] = Nil,
    foreignKeys: Seq[AggFkMap] = Nil) {
  require(name.isDefined != pattern.isDefined,
    "declare exactly one of name | pattern")
  def matches(table: String): Boolean =
    name.map(_ == table).getOrElse(table.matches(pattern.get)) &&
      !excludes.exists(_.excludes(table))
}

/** Matches [[AggDecl]] declarations against the PHYSICAL tables
  * actually present (a name → frame catalog, e.g. the parquet rollup
  * directory an external build pipeline maintains) and binds each hit
  * into a routable [[AggTable]]: physical columns are renamed to the
  * cube's level/measure columns, and the grain is the per-dimension
  * deepest declared level. Validation is eager — a declared column
  * missing from the physical schema, or a gap in the root..depth level
  * prefix (the routing join needs every prefix column), fails at
  * registration, not at first query.
  */
object AggMatcher {

  /** All physical parquet tables under `dir` (one subdirectory per
    * table) — the discovery half of the jar's JDBC-catalog scan.
    * Listed through the Hadoop FileSystem resolved from the session's
    * configuration, so the declared-rollup scan works on HDFS/object
    * stores (java.io.File silently returns nothing there — ADVICE r6).
    */
  def physicalFromDir(spark: org.apache.spark.sql.SparkSession,
      dir: String): Map[String, DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p)
      .filter(_.isDirectory)
      .map(s => s.getPath.getName ->
        spark.read.parquet(s.getPath.toString))
      .toMap
  }

  /** Register every declaration's matches on the cube. */
  def register(cube: BoundCube, decls: Seq[AggDecl],
      physical: Map[String, DataFrame]): BoundCube =
    cube.withAggTables(matchTables(cube, decls, physical): _*)

  def matchTables(cube: BoundCube, decls: Seq[AggDecl],
      physical: Map[String, DataFrame]): Seq[AggTable] =
    for {
      decl <- decls
      (tname, df) <- physical.toSeq.sortBy(_._1) if decl.matches(tname)
    } yield bind(cube, decl, tname, df)

  private def bind(cube: BoundCube, decl: AggDecl, tname: String,
      df: DataFrame): AggTable = {
    val physCols = df.columns.toSet
    val declared = decl.levels.map(_.column) ++
      decl.measures.map(_.column) ++ decl.factCount ++
      decl.foreignKeys.map(_.aggColumn)
    val missing = declared.filterNot(physCols)
    require(missing.isEmpty,
      s"agg table '$tname' lacks declared columns: ${missing.mkString(", ")}")
    val lvlMaps = decl.levels.distinct
    val lvlGrain = lvlMaps.groupBy(_.dim).toSeq.sortBy(_._1).map {
      case (dn, ms) =>
        val d = cube.dim(dn)
        val depths = ms.map(m => d.levelIndex(m.level))
        val depth = depths.max
        val gaps = (0 to depth).filterNot(depths.contains)
        require(gaps.isEmpty, s"agg table '$tname': dimension '$dn' " +
          s"missing level mappings at depths ${gaps.mkString(",")}")
        dn -> depth
    }
    val renames =
      lvlMaps.map(m =>
        m.column -> cube.dim(m.dim).levels(
          cube.dim(m.dim).levelIndex(m.level)).col) ++
      decl.measures.map(m => m.column -> m.measure) ++
      decl.factCount.map(_ -> "__fact_count") ++
      decl.foreignKeys.map(fk => fk.aggColumn -> s"__fk_${fk.aggColumn}")
    val selected = df.select(renames.map {
      case (from, to) => col(from).as(to)
    }: _*)
    // AggForeignKey: the rollup kept a dimension's FK instead of its
    // collapsed levels — broadcast-join the dimension in (lazy, planned
    // into the routed scan), exposing EVERY level of that dimension
    decl.foreignKeys.foreach { fk =>
      val d = cube.dims.find(_.foreignKey == fk.factColumn)
      require(!d.exists(dd => lvlMaps.exists(_.dim == dd.name)),
        s"agg table '$tname': dimension '${d.map(_.name).getOrElse("")}' " +
          "declared both as AggLevel columns and as an AggForeignKey")
    }
    val (bound, fkGrain) = decl.foreignKeys
      .foldLeft((selected, Seq.empty[(String, Int)])) {
        case ((acc, grains), fk) =>
          val d = cube.dims.find(_.foreignKey == fk.factColumn).getOrElse(
            throw new IllegalArgumentException(s"agg table '$tname': no " +
              s"dimension joins the fact on '${fk.factColumn}'"))
          val depth = d.levels.length - 1
          val cols = (d.primaryKey +: Planner.memberCols(d, depth)).distinct
          val dimSel = d.df.select(cols.map(col): _*)
          val joined = acc.join(broadcast(dimSel),
            acc(s"__fk_${fk.aggColumn}") === dimSel(d.primaryKey))
          val dropped =
            if (Planner.memberCols(d, depth).contains(d.primaryKey)) joined
            else joined.drop(dimSel(d.primaryKey))
          (dropped.drop(s"__fk_${fk.aggColumn}"), grains :+ (d.name -> depth))
      }
    AggTable(tname, bound, lvlGrain ++ fkGrain,
      decl.measures.map(m => m.measure -> cube.measure(m.measure).agg).toMap)
  }
}

/** Keyed cache of aggregated segments with region invalidation — the
  * analog of the reference's SegmentCacheManager + flush_region_cache
  * (cube.rb:519-546; semantics pinned by cube_cache_control_test.rb:
  * 116-218). A segment is one aggregate DataFrame keyed by
  * (cube identity, grain, slicer, measure set); `persist()` is the
  * storage primitive, so repeated queries at the same grain reuse the
  * in-memory columnar segment instead of re-scanning the fact.
  */
final class SegmentCache {

  final case class SegKey(cubeId: Long, grain: Seq[String],
      slicer: Seq[SlicerItem], measures: Seq[String])

  private val segments = TrieMap.empty[SegKey, DataFrame]
  // LongAdders, not volatile vars: serving threads bump these
  // concurrently outside any lock, and `+=` on a volatile loses updates
  private val hitCount = new LongAdder
  private val missCount = new LongAdder

  def hits: Long = hitCount.sum
  def misses: Long = missCount.sum
  def size: Int = segments.size

  def getOrCompute(key: SegKey)(compute: => DataFrame): DataFrame = {
    leasePin(key)
    segments.get(key) match {
      case Some(df) => hit(key, df)
      case None =>
        missCount.increment()
        val df = compute.persist()
        val out = segments.putIfAbsent(key, df) match {
          case Some(winner) =>
            // lost a first-touch race: release the loser's persist
            // mark (unmaterialized, so this frees no blocks — but it
            // must not stay registered with the cache manager forever)
            df.unpersist(blocking = false); winner
          case None => df
        }
        touch(key); record(key, out)
        refreshBudget(out); enforceBudget()
        out
    }
  }

  /** [[getOrCompute]] variant that stores an EAGER checkpoint
    * ([[Pins.rawCut]]) instead of a lazy persist. Use for segments
    * whose compute plan contains grouping sets: Spark's cached-plan
    * substitution fails to match an `Expand` subtree once a self-join
    * dedup re-aliases its second occurrence in one query (the
    * Filter/Order-over-a-mixed-set shape joins the SAME segment on
    * both sides), so a persisted gs segment silently recomputed the
    * whole fact pass per consumer (r16 finding: ~9 s per mixed-set
    * cell operator at sf1 with a WARM cache). A checkpoint frame is a
    * LogicalRDD leaf — re-aliasing keeps the materialized RDD, every
    * occurrence reads the blocks. evictFrame already releases both
    * storage kinds.
    */
  def getOrComputeCut(key: SegKey)(compute: => DataFrame): DataFrame = {
    leasePin(key)
    segments.get(key) match {
      case Some(df) => hit(key, df)
      case None =>
        missCount.increment()
        val df = Pins.rawCut(compute)
        val out = segments.putIfAbsent(key, df) match {
          case Some(winner) =>
            // lost a first-touch race: the loser is an EAGER
            // checkpoint — its blocks are already materialized, so
            // free them (evictFrame handles the LogicalRDD kind) or
            // they leak for the session's lifetime
            evictFrame(df); winner
          case None => df
        }
        ckptKeys.add(key)
        touch(key); record(key, out)
        refreshBudget(out); enforceBudget()
        out
    }
  }

  private def hit(key: SegKey, df: DataFrame): DataFrame = {
    hitCount.increment(); touch(key); record(key, df)
    df
  }

  // ---- read leases (r19) -----------------------------------------
  // Budget eviction (r18) made releasing a segment ROUTINE where it
  // used to be flush-rare, and a checkpointed segment is lineage-free:
  // freeing its blocks while a concurrent query's job is still
  // reading them fails that job's stage (SCALING.md hazard row). A
  // lease pins every segment a query touches (hit or miss) from plan
  // time until the query's actions have run; enforceBudget skips
  // pinned segments and moves to the next LRU candidate. Explicit
  // invalidation (flushCube/flushRegion/clear/mergeOrEvict) still
  // evicts regardless of pins — those are correctness flushes, and
  // deferring them would serve stale cells. Same thread-scoped
  // contract and placement as [[Pins.scoped]]: wrap query build AND
  // collect in [[withLease]] ([[Query.scoped]] opens both; Bench,
  // Verify and `Query.executeResult` use it). Reference analog: the jar's SegmentCacheManager actor
  // serializes eviction against in-flight readers
  // (mondrian/rolap/agg/SegmentCacheManager, SURVEY §4#5). A lookup
  // pins its key BEFORE it reads the map: pin and enforceBudget share
  // one lock, so a budget pass either sees the pin or has already
  // removed the segment (the lookup then recomputes) — pinning after
  // the read let a concurrent pass free the frame in between.

  private val pinCounts = TrieMap.empty[SegKey, Int]
  private val pinnedSkipCount = new LongAdder
  /** Budget-eviction candidates skipped because a lease pinned them. */
  def pinnedSkips: Long = pinnedSkipCount.sum
  /** Keys whose stored frame is an eager checkpoint (lineage-free). */
  private val ckptKeys =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SegKey]()

  /** Outstanding read leases on a segment. */
  def pinCount(k: SegKey): Int = pinCounts.getOrElse(k, 0)

  /** Take a read lease: the segment will not be BUDGET-evicted until
    * a matching [[unpin]]. Counts balance across evict/re-insert of
    * the same key (counts are per-key, each pin has one unpin).
    */
  def pin(k: SegKey): Unit = synchronized {
    pinCounts.put(k, pinCounts.getOrElse(k, 0) + 1)
  }

  def unpin(k: SegKey): Unit = synchronized {
    pinCounts.get(k) match {
      case Some(n) if n > 1 => pinCounts.put(k, n - 1)
      case Some(_)          => pinCounts.remove(k)
      case None             => ()
    }
  }

  // per-thread stack of open lease scopes (scopes may nest; the
  // innermost scope owns pins taken inside it)
  private val leases = new ThreadLocal[
      java.util.ArrayDeque[java.util.ArrayList[SegKey]]] {
    override def initialValue() =
      new java.util.ArrayDeque[java.util.ArrayList[SegKey]]
  }

  private def leasePin(k: SegKey): Unit = {
    val stack = leases.get()
    if (!stack.isEmpty) { pin(k); stack.peekLast().add(k) }
    else leases.remove()
  }

  /** Run `body` with a read-lease scope on this thread: every segment
    * [[getOrCompute]]/[[getOrComputeCut]] returns inside the block
    * (hit or miss) is pinned against budget eviction until the block
    * exits — normally or exceptionally. Collect the query's results
    * INSIDE the block; that is what makes a concurrent enforceBudget
    * safe for this query's in-flight jobs.
    */
  def withLease[T](body: => T): T = {
    val stack = leases.get()
    val mine = new java.util.ArrayList[SegKey]
    stack.addLast(mine)
    try body
    finally {
      stack.removeLast()
      mine.forEach(k => unpin(k))
      if (stack.isEmpty) leases.remove()
    }
  }

  // ---- byte-budget LRU (r18) -------------------------------------
  // Nothing evicted without an explicit flush before this cap, so a
  // long-lived serving session with an unbounded distinct-query
  // working set grew forever — and grain-sized is NOT small for
  // high-cardinality dims at 100 TB. The budget bounds RESIDENT
  // segment bytes; eviction reuses the flush path (evictFrame →
  // unpersist + Pins.freeCut), so an evicted segment just recomputes
  // lazily on next use. Default unlimited: the cap is a deployment
  // knob, not a behavior change.

  @volatile private var budgetBytes: Long = Long.MaxValue
  private val tick = new java.util.concurrent.atomic.AtomicLong
  private val lastUse = TrieMap.empty[SegKey, Long]
  private val evictedCount = new LongAdder
  def evictions: Long = evictedCount.sum
  def byteBudget: Long = budgetBytes

  /** Set the resident-byte budget (<= 0 = unlimited) and enforce it
    * immediately against the currently materialized segments.
    */
  def setByteBudget(n: Long): Unit = {
    budgetBytes = if (n <= 0) Long.MaxValue else n
    enforceBudget()
  }

  private def touch(k: SegKey): Unit =
    lastUse.put(k, tick.incrementAndGet())

  /** Deployment knob: spark conf `spark.graft.segcache.maxBytes`
    * (<= 0 = unlimited), read on each miss so a live session can
    * resize without code — same convention as
    * `spark.graft.ord.smallBytes`. The conf is applied only when its
    * VALUE changes, so an explicit [[setByteBudget]] call survives
    * until the conf is re-set (conf-wins-on-change precedence). A
    * malformed value ("256k") is ignored with a one-time warning — a
    * bad deployment knob must not turn cache misses into query
    * failures (r18 ADVICE).
    */
  @volatile private var lastConfSeen: Option[String] = None
  @volatile private var warnedBadConf = false
  private def refreshBudget(df: DataFrame): Unit = {
    val v = df.sparkSession.conf.getOption("spark.graft.segcache.maxBytes")
    if (v != lastConfSeen) {
      lastConfSeen = v
      v.foreach { s =>
        scala.util.Try(s.trim.toLong) match {
          case scala.util.Success(n) =>
            budgetBytes = if (n <= 0) Long.MaxValue else n
          case scala.util.Failure(_) =>
            if (!warnedBadConf) {
              warnedBadConf = true
              System.err.println("[graft] ignoring malformed " +
                s"spark.graft.segcache.maxBytes='$s' (expected a long)")
            }
        }
      }
    }
  }

  /** One block-manager storage snapshot for a whole budget pass —
    * `getRDDStorageInfo` walks every RDD in the cluster, so fetching
    * it per segment made one enforcement O(segments × rddInfos)
    * driver work per miss (r18 ADVICE).
    */
  private def storageSnapshot(): Array[org.apache.spark.storage.RDDInfo] =
    segments.values.headOption
      .map(_.sparkSession.sparkContext.getRDDStorageInfo)
      .getOrElse(Array.empty)

  /** Materialized bytes behind one segment — attributed to the
    * segment's OWN storage root, never to upstream frames its plan
    * happens to reference (a segment derived from another cached
    * segment must not double-count the shared blocks — r18 ADVICE):
    * a checkpointed segment (getOrComputeCut / merge) is a LogicalRDD
    * ROOT, so only that root's block-manager bytes count; a
    * `.persist()`ed one counts its root InMemoryRelation's size
    * accumulator (0 until a consumer materializes the buffers — an
    * unmaterialized segment occupies nothing, so it neither counts
    * against the budget nor is worth evicting).
    */
  private def bytesOf(df: DataFrame, isCkpt: Boolean,
      infos: Array[org.apache.spark.storage.RDDInfo]): Long =
    if (isCkpt) df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        infos.find(_.id == l.rdd.id)
          .map(i => i.memSize + i.diskSize).getOrElse(0L)
      case _ => 0L
    }
    else df.queryExecution.withCachedData match {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cacheBuilder.sizeInBytesStats.value.longValue
      case other => other.collect {
        // un-rooted fallback (cache manager substituted deeper): sum
        // every cached subtree — the pre-r19 behavior
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          r.cacheBuilder.sizeInBytesStats.value.longValue
      }.sum
    }

  /** Total materialized bytes across all resident segments and stored
    * cell sets (one storage snapshot for the whole sum).
    */
  def residentBytes: Long = {
    val infos = storageSnapshot()
    segments.map { case (k, df) =>
      bytesOf(df, ckptKeys.contains(k), infos) }.sum +
      storedCellSets.map { case (_, cs) => bytesOf(cs.frame.get, false, infos) }.sum
  }

  /** Evict until resident bytes fit the budget: stored cell sets
    * first, least-recently-served first (each is a derived copy of
    * cells its segments still hold), then least-recently-hit segments.
    * The most recently used segment is never evicted (the one
    * just inserted or hit — evicting it would thrash: its consumer is
    * about to read it), and a LEASE-PINNED segment is skipped — a
    * concurrent query's in-flight job may still be reading its blocks,
    * and for a checkpointed (lineage-free) segment freeing them fails
    * that job's stage; enforcement moves to the next LRU candidate
    * instead. Zero-byte (unmaterialized) segments are skipped —
    * eviction frees nothing there. Driver-side only and plan-sized;
    * with no budget set this is a no-op on every call.
    */
  private def enforceBudget(): Unit = {
    if (budgetBytes == Long.MaxValue) return
    synchronized {
      val infos = storageSnapshot()
      val cells = storedCellSets.map { case (k, cs) =>
        (k, cs, bytesOf(cs.frame.get, false, infos)) }
      val entries = segments.toSeq.map { case (k, df) =>
        (k, bytesOf(df, ckptKeys.contains(k), infos)) }
      var total = cells.map(_._3).sum + entries.map(_._2).sum
      if (total <= budgetBytes) return
      for ((k, cs, bytes) <- cells.sortBy(_._2.used)
           if total > budgetBytes && bytes > 0) {
        dropCellSet(k, cs)
        total -= bytes
      }
      val byLru = entries.sortBy { case (k, _) => lastUse.getOrElse(k, 0L) }
      val newest = byLru.lastOption.map(_._1)
      for ((k, bytes) <- byLru
           if total > budgetBytes && !newest.contains(k) && bytes > 0) {
        if (pinCount(k) > 0) pinnedSkipCount.increment()
        else {
          evict(k)
          evictedCount.increment()
          total -= bytes
        }
      }
    }
  }

  // ---- cell sets --------------------------------------------------
  // Mondrian answers a statement whose cells are all in its segment
  // cache in-process, with no SQL (SURVEY §4 #5). The analog here is
  // the statement's persisted render, keyed by (cube, QueryIR). A
  // build records, thread-locally, every segment frame the cache
  // hands it (slicer resolution and nested planners included); the
  // render stays valid exactly while each of those frames is still the
  // resident one for its key, by reference. So every path that drops
  // or replaces a segment — flushCube, flushRegion, mergeOrEvict,
  // budget eviction, clear — invalidates it with no hook of its own;
  // dropCellSetsOn only releases the storage early.
  //
  // Lifecycle: the first sight returns the lazy render untouched and
  // records its frames; a second sight with the same frames returns
  // its render `persist()`ed, so the caller's own action (under the
  // caller's lease or timeout) materializes it; later sights return
  // that frame — one job over a few cached blocks instead of the
  // render's jobs, Catalyst passes and codegen.

  /** One statement's record: the segment frames its last build read
    * and, once stored, its render — served only once `persisted`.
    * `refused` remembers a failed [[answerable]] check for these
    * frames. Reference equality (a plain class) makes the TrieMap
    * replace/remove calls CAS on the exact record.
    */
  private final class CellSet(val deps: Map[SegKey, DataFrame],
      val frame: Option[DataFrame], val refused: Boolean) {
    @volatile var used: Long = tick.incrementAndGet()
    @volatile var persisted = false
  }

  import SegmentCache.CellSetKey
  private val cellSets = TrieMap.empty[CellSetKey, CellSet]
  private val cellSetHitCount = new LongAdder
  private val cellSetStoreCount = new LongAdder
  /** Statements served from a stored cell set. */
  def cellSetHits: Long = cellSetHitCount.sum
  /** Renders persisted as cell sets. */
  def cellSetStores: Long = cellSetStoreCount.sum

  private final class Recording {
    val deps = scala.collection.mutable.HashMap.empty[SegKey, DataFrame]
    // one key handed two different frames: a merge ran mid-build
    var torn = false
    def add(k: SegKey, df: DataFrame): Unit =
      deps.put(k, df).foreach(prev => if (prev ne df) torn = true)
    def frames: Map[SegKey, DataFrame] = if (torn) Map.empty else deps.toMap
  }
  private val recording = new ThreadLocal[Recording]

  private def record(k: SegKey, df: DataFrame): Unit = {
    val r = recording.get()
    if (r != null) r.add(k, df)
  }

  /** Serve `ir` on `cube` through the cell-set layer; `render` plans it.
    * A build nested in another (a computed slicer's sub-query) only
    * records into the outer one.
    */
  def cellSet(cube: BoundCube, ir: QueryIR)(render: => DataFrame): DataFrame =
    if (recording.get() != null || mentionsCurrentDate(ir)) render
    else {
      val key = CellSetKey(cube.cubeId, ir)
      serve(key).getOrElse {
        val prior = cellSets.get(key)
        val rec = new Recording
        recording.set(rec)
        val df = try render finally recording.remove()
        val deps = rec.frames
        // a render that reads no segment is not answered from the cache
        if (deps.nonEmpty) prior match {
          case Some(p) if sameFrames(p.deps, deps) =>
            if (p.frame.isEmpty && !p.refused) store(key, p, df, cube.fact)
          case _ => install(key, prior, new CellSet(deps, None, false))
        }
        df
      }
    }

  private def serve(key: CellSetKey): Option[DataFrame] =
    cellSets.get(key).filter(_.persisted).flatMap { cs =>
      // a materialized cell set over the budget goes before it is read
      cs.frame.foreach(refreshBudget)
      enforceBudget()
      // pin before the residency check: a dependency evicted after it
      // would free blocks the persisted render's lineage still names
      cs.deps.keys.foreach(leasePin)
      if (!cellSets.get(key).exists(_ eq cs) || !resident(cs.deps)) None
      else {
        cs.used = tick.incrementAndGet()
        cellSetHitCount.increment()
        // still a segment hit per dependency: the cells come from them
        cs.deps.keys.foreach { k => hitCount.increment(); touch(k) }
        cs.frame
      }
    }

  /** Second sight: persist the render when it is answerable from the
    * cache, else remember the refusal for these frames. Only the build
    * that wins the record persists: a losing duplicate's `unpersist`
    * would uncache the winner's identical plan.
    */
  private def store(key: CellSetKey, prior: CellSet, df: DataFrame,
      fact: DataFrame): Unit =
    if (!answerable(df, fact, prior.deps))
      install(key, Some(prior), new CellSet(prior.deps, None, true))
    else {
      val next = new CellSet(prior.deps, Some(df), false)
      if (install(key, Some(prior), next)) {
        df.persist()
        // a drop that ran before this persist released nothing
        if (!cellSets.get(key).exists(_ eq next)) df.unpersist(blocking = false)
        else { next.persisted = true; cellSetStoreCount.increment() }
      }
    }

  /** Replace `prior` (or an absent record) with `next`; false when a
    * concurrent build won, or when a dependency was dropped meanwhile —
    * its eviction may have scanned the records before `next` landed.
    */
  private def install(key: CellSetKey, prior: Option[CellSet],
      next: CellSet): Boolean = {
    val won = prior match {
      case Some(p) => cellSets.replace(key, p, next) && { release(p); true }
      case None    => cellSets.putIfAbsent(key, next).isEmpty
    }
    if (won && !resident(next.deps)) { dropCellSet(key, next); false }
    else won
  }

  private def resident(deps: Map[SegKey, DataFrame]): Boolean =
    deps.forall { case (k, df) => segments.get(k).exists(_ eq df) }

  private def sameFrames(a: Map[SegKey, DataFrame],
      b: Map[SegKey, DataFrame]): Boolean =
    a.size == b.size && a.forall { case (k, df) => b.get(k).exists(_ eq df) }

  /** Refusals. A stored render must be a function of its segments and
    * the static dimension frames alone, so refuse a plan that is
    * nondeterministic or reads the clock (`Vba.now`/`dateFn`/`timeFn`,
    * Spark's current_* family); one with a leaf — after cache
    * substitution — that reads the cube's fact outside a segment (a
    * delta or flush would not invalidate it); and one with a
    * checkpoint leaf the cache does not own (a per-query pin, freed
    * when the query's scope closes, which the persisted render's
    * lineage would still name).
    */
  private def answerable(df: DataFrame, fact: DataFrame,
      deps: Map[SegKey, DataFrame]): Boolean = {
    val plan = df.queryExecution.analyzed
    // substitute through an alias, so `df`'s own plan is not frozen
    // before its persist
    def leaves(d: DataFrame) =
      d.alias("__cellset").queryExecution.withCachedData.collectLeaves()
    lazy val factLeaves =
      fact.queryExecution.analyzed.collectLeaves() ++ leaves(fact)
    val ownCuts = deps.values.flatMap(_.queryExecution.analyzed
      .collectLeaves().collect { case l: LogicalRDD => l.rdd.id }).toSet
    plan.deterministic && !plan.containsPattern(TreePattern.CURRENT_LIKE) &&
      leaves(df).forall {
        case l: LogicalRDD => ownCuts(l.rdd.id)
        case l => !factLeaves.exists(l.sameResult)
      }
  }

  /** CurrentDateMember resolves "now" at plan time: never store it.
    * Collections before products: a List is also a Product, and
    * walking it as one recurses once per element.
    */
  private def mentionsCurrentDate(x: Any): Boolean = x match {
    case _: CurrentDateMember => true
    case i: Iterable[_]       => i.exists(mentionsCurrentDate)
    case p: Product           => p.productIterator.exists(mentionsCurrentDate)
    case _                    => false
  }

  private def storedCellSets: Seq[(CellSetKey, CellSet)] =
    cellSets.toSeq.filter(_._2.persisted)

  private def dropCellSetsOn(k: SegKey): Unit =
    cellSets.foreach { case (ck, cs) =>
      if (cs.deps.contains(k)) dropCellSet(ck, cs) }

  private def dropCellSet(k: CellSetKey, cs: CellSet): Unit =
    if (cellSets.remove(k, cs)) release(cs)

  private def release(cs: CellSet): Unit =
    cs.frame.foreach(_.unpersist(blocking = false))

  /** Flush every segment and cell set of a cube (reference
    * flush_schema_cache).
    */
  def flushCube(cubeId: Long): Unit = {
    segments.keys.filter(_.cubeId == cubeId).foreach(evict)
    cellSets.foreach { case (k, cs) => if (k.cubeId == cubeId) dropCellSet(k, cs) }
  }

  /** Incremental maintenance on an insert-delta: merge each cached
    * segment in place when its measures are decomposable, evict the
    * rest (they recompute lazily on next use). `deltaFor` returns the
    * delta aggregated at the segment's exact grain plus the per-measure
    * partial-merge functions ("sum" | "min" | "max"), or None when the
    * segment is not mergeable.
    *
    * The merged frame is localCheckpoint'ed (eager) before the old
    * segment is released: block loss must NOT re-run the lineage, which
    * would re-read a landing directory that meanwhile contains the
    * delta and double-count it.
    */
  def mergeOrEvict(cubeId: Long)(
      deltaFor: SegKey => Option[(DataFrame, Seq[(String, String)])]): Unit =
    segments.keys.filter(_.cubeId == cubeId).foreach { k =>
      deltaFor(k) match {
        case None => evict(k)
        case Some((delta, mergeFns)) => segments.get(k).foreach { old =>
          // rawCut (not a bare localCheckpoint): evict() must be able
          // to free the merged frame's blocks later, which for a
          // checkpoint only Pins.freeCut can do
          val merged = Pins.rawCut(mergeFrames(old, delta, k.grain, mergeFns))
          segments.put(k, merged)
          ckptKeys.add(k)
          evictFrame(old)
          dropCellSetsOn(k)
          mergedCount.increment()
        }
      }
    }

  private val mergedCount = new LongAdder
  def merges: Long = mergedCount.sum

  /** old ⟗ delta on the grain keys; each measure column combined with
    * its partial-merge fn, null-safe on either side (a grain tuple may
    * exist only in the delta or only in the old segment).
    */
  private def mergeFrames(old: DataFrame, delta: DataFrame,
      grain: Seq[String], mergeFns: Seq[(String, String)]): DataFrame = {
    val suffixed = delta.select(
      (grain.map(col) ++
        mergeFns.map { case (m, _) => col(m).as(s"${m}__d") }): _*)
    val joined = old.join(suffixed, grain.toSeq, "full_outer")
    val outCols = grain.map(col) ++ mergeFns.map { case (m, fn) =>
      val a = col(m); val b = col(s"${m}__d")
      (fn match {
        case "sum" =>
          // decimal(38,s)+decimal(38,s) overflows to scale s-1 under
          // Spark's result-type rule; cast back to the segment's type
          when(a.isNull, b).when(b.isNull, a).otherwise(a + b)
            .cast(old.schema(m).dataType)
        case "min" => least(a, b)
        case "max" => greatest(a, b)
        case other => throw new IllegalArgumentException(
          s"unknown merge fn '$other'")
      }).as(m)
    }
    joined.select(outCols: _*)
  }

  /** Flush segments whose cells can intersect the (dim, path-prefix)
    * member region (reference flush_region_cache_with_full_names). A
    * segment survives only when its slicer on that dimension provably
    * excludes the region; a segment with no slicer on the dimension
    * contains the region's cells (e.g. in its totals), so it flushes.
    */
  def flushRegion(cubeId: Long, dim: String, path: Seq[Any]): Unit =
    segments.keys
      .filter(_.cubeId == cubeId)
      .filterNot(k => excludesRegion(k.slicer, dim, path))
      .foreach(evict)

  private def excludesRegion(slicer: Seq[SlicerItem], dim: String,
      path: Seq[Any]): Boolean =
    slicer.exists {
      case MemberSlice(d, p) if d == dim => !prefixCompatible(p, path)
      case SetSlice(d, ps) if d == dim =>
        ps.forall(p => !prefixCompatible(p, path))
      case _ => false
    }

  /** One path is an ancestor-or-equal of the other. */
  private def prefixCompatible(a: Seq[Any], b: Seq[Any]): Boolean = {
    val n = math.min(a.length, b.length)
    a.take(n).map(String.valueOf) == b.take(n).map(String.valueOf)
  }

  def clear(): Unit = {
    segments.keys.foreach(evict)
    cellSets.foreach { case (k, cs) => dropCellSet(k, cs) }
  }

  private def evict(k: SegKey): Unit = {
    lastUse.remove(k)
    ckptKeys.remove(k)
    segments.remove(k).foreach(evictFrame)
    dropCellSetsOn(k)
  }

  /** A segment is either `.persist()`ed (getOrCompute) or a merged
    * checkpoint (mergeOrEvict) — release both storage paths; each is
    * a no-op on the other kind.
    */
  private def evictFrame(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    Pins.freeCut(df)
  }
}

object SegmentCache {
  private final case class CellSetKey(cubeId: Long, ir: QueryIR)

  /** Process-wide cache (the reference's schema-pool-scoped cache
    * manager); keys carry the bound-cube identity so different cubes /
    * scale factors never collide.
    */
  val global = new SegmentCache
  /** Engine flag: disable to force every aggregate to recompute. */
  @volatile var enabled = true
}
