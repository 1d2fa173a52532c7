package graft.olap

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.concurrent.TrieMap
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.trees.TreePattern
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.util.SizeEstimator

/** Aggregate-table routing + segment cache — the two genuinely custom
  * optimizer mechanisms of the reference engine (SURVEY §4 #5/#6), here
  * one cuboid lookup ([[SegmentCache.aggregate]]): everything else the
  * reference does (pushdown, pruning, batching, native set SQL) falls
  * out of the DataFrame formulation or is a Catalyst built-in.
  */

/** A pre-aggregated table (materialized rollup) at a declared grain —
  * the analog of the reference's AggName/AggPattern declarations
  * (schema.rb:374-414, jar rolap/aggmatcher/AggStar). `df` holds one row
  * per grain tuple: the level key columns of every (dim, depth) in
  * `grain` plus each measure's PARTIAL aggregate. Only decomposable
  * aggregators re-aggregate from partials ([[Agg.partialMerge]]); avg
  * and distinct-count fall through to the fact (distinct-count is
  * non-additive — SURVEY §7.4 #3). At 100 TB a covered query scans a
  * table ~1e4× smaller than the fact.
  */
final case class AggTable(
    name: String,
    df: DataFrame,
    grain: Seq[(String, Int)],
    measures: Map[String, Agg]) {
  /** Total level count — the cuboid lookup's narrowest-first ranking. */
  def width: Int = grain.map(_._2 + 1).sum
}

object AggRouter {

  /** Routing trace for tests and profiling, per thread: the rollup that
    * answered this thread's last routed aggregate, or [[SegmentSource]].
    */
  private val trace = ThreadLocal.withInitial[Option[String]](() => None)
  def lastHit: Option[String] = trace.get
  def lastHit_=(hit: Option[String]): Unit = trace.set(hit)

  /** [[lastHit]] of an aggregate re-aggregated from a resident segment. */
  val SegmentSource = "<segment>"

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
    val ms = cube.measures.filter(m => Agg.partialMerge(m.agg).isDefined)
      .map(_.name)
    val ats = recommend(cube, workload, maxRows).zipWithIndex.map {
      case (grain, i) =>
        planner.buildAggTable(s"agg_rec_$i",
          grain.toSeq.sortBy(_._1).map { case (d, depth) =>
            d -> cube.dim(d).levels(depth).name
          }, ms)
    }
    cube.withAggTables(ats: _*)
  }

  /** Each routed measure's partial column folded by its merge rule
    * ([[Agg.partialMerge]]); the cuboid lookup
    * ([[SegmentCache.aggregate]]) admits only measures that have one.
    */
  def mergeColumns(measures: Seq[Measure]): Seq[Column] =
    measures.map(m => Agg.partialMerge(m.agg).get(col(m.name)).as(m.name))
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
    val (bound, fkGrain) = decl.foreignKeys
      .foldLeft((selected, Seq.empty[(String, Int)])) {
        case ((acc, grains), fk) =>
          val d = cube.dims.find(_.foreignKey == fk.factColumn).getOrElse(
            throw new IllegalArgumentException(s"agg table '$tname': no " +
              s"dimension joins the fact on '${fk.factColumn}'"))
          require(!lvlMaps.exists(_.dim == d.name), s"agg table '$tname': " +
            s"dimension '${d.name}' declared both as AggLevel columns and " +
            "as an AggForeignKey")
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
  * in-memory columnar segment, and coarser ones re-aggregate it
  * ([[aggregate]]), instead of re-scanning the fact.
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

  def getOrCompute(key: SegKey)(compute: => DataFrame): DataFrame =
    lookup(key)((compute, false))

  /** [[getOrCompute]] storing an EAGER checkpoint ([[Pins.rawCut]]),
    * for grouping-sets plans: Spark's cached-plan substitution cannot
    * re-match an `Expand` once a self-join re-aliases it, so a persisted
    * one recomputed its fact pass per consumer (r16: ~9 s per mixed-set
    * cell operator at sf1, warm); a LogicalRDD leaf survives re-aliasing.
    */
  def getOrComputeCut(key: SegKey)(compute: => DataFrame): DataFrame =
    lookup(key)((compute, true))

  /** The one segment-lookup body: pin `key` before the map read; on a
    * miss store what `compute` returns, as an eager checkpoint when its
    * flag is set, else a lazy persist. A first-touch race loser frees
    * its storage (evictFrame releases either kind).
    */
  private def lookup(key: SegKey)(compute: => (DataFrame, Boolean))
      : DataFrame = {
    leasePin(key)
    segments.get(key) match {
      case Some(df) => hitCount.increment(); touch(key); df
      case None =>
        missCount.increment()
        val (plan, cut) = compute
        val df = if (cut) Pins.rawCut(plan) else plan.persist()
        val out = segments.putIfAbsent(key, df) match {
          case Some(winner) => evictFrame(df); winner
          case None => if (cut) ckptKeys.add(key); df
        }
        touch(key)
        refreshBudget(out); enforceBudget()
        out
    }
  }

  // ---- cuboids ---------------------------------------------------
  // A cuboid is a registered rollup ([[AggTable]]) or a resident segment
  // of the cube. The narrowest one covering a request answers it by
  // re-aggregating its decomposable partials: aggregate-table routing
  // and the in-memory rollup of cached segments to coarser grains
  // (SURVEY §4 #5/#6) as one rule, as in Sudokube (PAPERS.md).

  /** The cells of `p`'s needed measures at the grain of `dims` under
    * `slicer` (resolved, role items included): the segment under the
    * exact key; else the narrowest covering cuboid, re-aggregated by
    * [[Agg.partialMerge]] under the slicer items it lacks (a double Sum
    * re-associates its additions); else `compute`, the fact pass. Stored
    * under the exact key — eagerly cut when its source is a checkpoint,
    * which a lazy persist would not outlive. Uncached: rollups only.
    */
  def aggregate(p: Planner, dims: Seq[Planner.AxisDim],
      slicer: Seq[SlicerItem])(compute: => DataFrame): DataFrame = {
    def answer: (DataFrame, Boolean) = cover(p, dims, slicer) match {
      case Some((src, own)) =>
        val aggCols = AggRouter.mergeColumns(p.neededMeasures)
        (src.filter(p.slicerPredicate(slicer.filterNot(own.contains)))
          .groupBy(Planner.groupCols(dims).map(col): _*)
          .agg(aggCols.head, aggCols.tail: _*),
          src.queryExecution.analyzed.isInstanceOf[LogicalRDD])
      case None => (compute, false)
    }
    if (!SegmentCache.enabled) answer._1
    else lookup(SegKey(p.cube.cubeId, Planner.groupCols(dims), slicer,
      p.neededMeasures.map(_.name)))(answer)
  }

  /** Would [[aggregate]] re-aggregate a cuboid, for a caller storing its
    * own kind of segment under `key` (not stored yet)?
    */
  def routes(p: Planner, dims: Seq[Planner.AxisDim],
      slicer: Seq[SlicerItem], key: SegKey): Boolean =
    !segments.contains(key) && covering(p, dims, slicer).nonEmpty

  /** The cuboids covering a request, narrowest (fewest level columns)
    * first, rollups first at equal width. One covers when its slicer
    * items are among the request's, the others are member predicates on
    * columns it carries besides the grain's, and it stores each needed
    * measure, all with a partial merge. A segment groups only by levels
    * of dimensions the request joins (a star join keeps the fact rows
    * whose keys hit its dimensions); a mixed-depth marker is no level.
    */
  private def covering(p: Planner, dims: Seq[Planner.AxisDim],
      slicer: Seq[SlicerItem]): Seq[Either[AggTable, SegKey]] = {
    val joined = p.neededJoins(dims, slicer).keySet
      .flatMap(d => p.cube.dim(d).levels.map(_.col))
    def covers(cols: Set[String], own: Seq[SlicerItem],
        stores: Measure => Boolean): Boolean = {
      val rest = slicer.filterNot(own.contains)
      p.neededMeasures.forall(m =>
        stores(m) && Agg.partialMerge(m.agg).isDefined) &&
        own.forall(slicer.contains) &&
        !rest.exists(_.isInstanceOf[ExprSlice]) &&
        p.neededJoins(dims, rest).forall { case (d, depth) =>
          Planner.levelCols(p.cube.dim(d), depth).forall(cols) }
    }
    val rollups = p.cube.aggTables.filter(at => covers(at.grain.flatMap {
      case (d, depth) => Planner.levelCols(p.cube.dim(d), depth) }.toSet, Nil,
      m => at.measures.get(m.name).contains(m.agg)))
    val segs = keysOf(p.cube.cubeId).filter(k => SegmentCache.enabled &&
      k.grain.forall(joined) &&
      covers(k.grain.toSet, k.slicer, m => k.measures.contains(m.name)))
    (rollups.map(at => at.width -> Left(at)) ++
      segs.map(k => k.grain.length -> Right(k))).sortBy(_._1).map(_._2)
  }

  /** The first covering cuboid still resident and the slicer items it
    * applied, traced in [[AggRouter.lastHit]]. A segment is lease-pinned
    * before its map read, like a hit: a concurrent budget pass cannot
    * free it while the derived frame is planned.
    */
  private def cover(p: Planner, dims: Seq[Planner.AxisDim],
      slicer: Seq[SlicerItem]): Option[(DataFrame, Seq[SlicerItem])] =
    covering(p, dims, slicer).iterator.flatMap {
      case Left(at) => Some((at.name, at.df, Nil))
      case Right(k) =>
        leasePin(k)
        segments.get(k).map { df =>
          touch(k); (AggRouter.SegmentSource, df, k.slicer) }
    }.nextOption().map { case (name, df, own) =>
      AggRouter.lastHit = Some(name); (df, own)
    }

  // ---- read leases (r19) -----------------------------------------
  // Freeing a checkpointed (lineage-free) segment's blocks while a
  // concurrent query's job reads them fails that job's stage (SCALING.md
  // hazard row), and budget eviction makes that routine. A lease pins
  // every segment a query touches (hit, miss or cuboid source) from plan
  // time until its actions have run; enforceBudget skips pinned
  // segments. Explicit invalidation (flushCube/flushRegion/clear/
  // mergeOrEvict) evicts regardless: deferring it would serve stale
  // cells. Wrap query build AND collect in [[withLease]] ([[Query.scoped]]
  // opens it; Bench, Verify and `Query.executeResult` use it), as the
  // jar's SegmentCacheManager actor serializes eviction against readers
  // (SURVEY §4#5). A lookup pins its key BEFORE it reads the map: pin and
  // enforceBudget share one lock, so a budget pass either sees the pin
  // or has already removed the segment (the lookup then recomputes).

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

  /** Run `body` with a read-lease scope on this thread: every segment a
    * lookup returns or reads as a cuboid source inside the block is
    * pinned against budget eviction until the block exits — normally or
    * exceptionally. Collect the query's results INSIDE the block; that
    * makes a concurrent enforceBudget safe for its in-flight jobs.
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
    * driver work per miss (r18 ADVICE). Only checkpointed segments
    * read it, so callers take it lazily.
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
      infos: => Array[org.apache.spark.storage.RDDInfo]): Long =
    if (isCkpt) df.queryExecution.analyzed match {
      case l: LogicalRDD =>
        infos.find(_.id == l.rdd.id)
          .map(i => i.memSize + i.diskSize).getOrElse(0L)
      case _ => 0L
    }
    else df.queryExecution.withCachedData match {
      case r: InMemoryRelation =>
        r.cacheBuilder.sizeInBytesStats.value.longValue
      case other => other.collect {
        // un-rooted fallback (cache manager substituted deeper): sum
        // every cached subtree — the pre-r19 behavior
        case r: InMemoryRelation =>
          r.cacheBuilder.sizeInBytesStats.value.longValue
      }.sum
    }

  /** Total materialized bytes across all resident segments and stored
    * cell sets.
    */
  def residentBytes: Long = {
    lazy val infos = storageSnapshot()
    segments.map { case (k, df) =>
      bytesOf(df, ckptKeys.contains(k), infos) }.sum +
      storedCellSets.map { case (_, cs) => cs.bytes }.sum
  }

  /** Evict until resident bytes fit the budget: stored cell sets
    * first, least-recently-served first (each is a derived copy of
    * cells), then least-recently-hit segments, and with them the
    * first-sight records older than the last segment evicted.
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
      lazy val infos = storageSnapshot()
      val cells = storedCellSets.map { case (k, cs) => (k, cs, cs.bytes) }
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
      var evictedUse = 0L
      for ((k, bytes) <- byLru
           if total > budgetBytes && !newest.contains(k) && bytes > 0) {
        if (pinCount(k) > 0) pinnedSkipCount.increment()
        else {
          evictedUse = lastUse.getOrElse(k, 0L)
          evict(k)
          evictedCount.increment()
          total -= bytes
        }
      }
      // first-sight records hold no bytes: bound them by age instead,
      // dropping those colder than the last segment evicted
      cellSets.foreach { case (k, cs) =>
        if (cs.frame.isEmpty && cs.used < evictedUse) dropCellSet(k, cs) }
    }
  }

  // ---- cell sets --------------------------------------------------
  // Mondrian answers a statement whose cells are all in its segment
  // cache in-process, with no SQL (SURVEY §4 #5). The analog here is
  // the statement's rendered rows, held on the driver and keyed by
  // (cube, QueryIR). Like Mondrian's per-cube cache control, validity
  // follows from what changed the data: each cube has a data epoch that
  // flushCube, flushRegion, mergeOrEvict and clear bump, dropping the
  // cube's records. A record carries the epoch read before its render
  // and is used only while that is still the cube's epoch, so a build
  // that spans a data change installs nothing. Budget eviction
  // invalidates nothing: served rows read no segment.
  //
  // Lifecycle: the first sight returns the lazy render untouched and
  // records the statement; a second sight at the same epoch returns its
  // render `persist()`ed (the stage), so the caller's own action
  // (under the caller's lease or timeout) materializes it. The first
  // serve collects the stage once — one job over its cached blocks —
  // releases the persist and keeps the rows on the driver; every serve
  // returns them as a local relation, which Spark answers with no job,
  // Catalyst pass or codegen of the render's.

  /** One statement's record: the cube epoch its render was planned at
    * and, once stored, its frame — the stage, served only once
    * `persisted`, then from its first serve the rows, `rowBytes` of
    * them. `refused` remembers a failed [[answerable]] check, or rows
    * too large to hold, for this epoch. Reference equality (a plain
    * class) makes the TrieMap replace/remove calls CAS on the exact
    * record.
    */
  private final class CellSet(val epoch: Long,
      val frame: Option[DataFrame], val refused: Boolean,
      val rowBytes: Option[Long] = None) {
    @volatile var used: Long = tick.incrementAndGet()
    @volatile var persisted = rowBytes.isDefined
    /** Budget size: the rows, or the stage's cached blocks. */
    def bytes: Long =
      rowBytes.getOrElse(frame.fold(0L)(bytesOf(_, isCkpt = false, Array.empty)))
  }

  import SegmentCache.CellSetKey
  private val cellSets = TrieMap.empty[CellSetKey, CellSet]
  private val cellSetHitCount = new LongAdder
  private val cellSetStoreCount = new LongAdder
  /** Statements served from a stored cell set. */
  def cellSetHits: Long = cellSetHitCount.sum
  /** Renders persisted as cell sets. */
  def cellSetStores: Long = cellSetStoreCount.sum
  /** Records held, stored or not. */
  def cellSetRecords: Int = cellSets.size

  private val epochs = TrieMap.empty[Long, AtomicLong]
  private def epochOf(cubeId: Long): AtomicLong =
    epochs.getOrElseUpdate(cubeId, new AtomicLong)

  /** The cube's data changed: bump its epoch, then drop its records. A
    * record installed meanwhile sees the new epoch in [[install]].
    */
  private def bump(cubeId: Long): Unit = {
    epochOf(cubeId).incrementAndGet()
    cellSets.foreach { case (k, cs) => if (k.cubeId == cubeId) dropCellSet(k, cs) }
  }

  /** Serve `ir` on `cube` through the cell-set layer; `render` plans it. */
  def cellSet(cube: BoundCube, ir: QueryIR)(render: => DataFrame): DataFrame =
    if (mentionsCurrentDate(ir)) render
    else {
      val key = CellSetKey(cube.cubeId, ir)
      val epoch = epochOf(cube.cubeId).get
      serve(key, epoch).getOrElse {
        val prior = cellSets.get(key)
        val df = render
        prior match {
          case Some(p) if p.epoch == epoch =>
            if (p.frame.isEmpty && !p.refused) store(key, p, df)
          case _ => install(key, prior, new CellSet(epoch, None, false))
        }
        df
      }
    }

  private def serve(key: CellSetKey, epoch: Long): Option[DataFrame] =
    cellSets.get(key).filter(cs => cs.persisted && cs.epoch == epoch)
      .flatMap { cs =>
        // a cell set over the budget goes before it is read
        cs.frame.foreach(refreshBudget)
        enforceBudget()
        if (!cellSets.get(key).exists(_ eq cs)) None
        else (if (cs.rowBytes.isDefined) Some(cs) else unstage(key, cs)).map {
          held =>
            held.used = tick.incrementAndGet()
            cellSetHitCount.increment()
            held.frame.get
        }
      }

  /** First serve: collect the stage's rows, release its persist and
    * hold the rows. A stage whose blocks are not all resident is
    * dropped rather than recomputed inside `execute`. Rows over
    * `spark.driver.maxResultSize`, or a collect Spark aborts on that
    * limit, are refused like the other refusals. Some only when the
    * rows landed.
    */
  private def unstage(key: CellSetKey, cs: CellSet): Option[CellSet] = {
    val stage = cs.frame.get
    val loaded = stage.queryExecution.withCachedData match {
      case r: InMemoryRelation => r.cacheBuilder.isCachedColumnBuffersLoaded
      case _                   => false
    }
    if (!loaded) { dropCellSet(key, cs); None }
    else {
      val spark = stage.sparkSession
      val limit = spark.sparkContext.getConf
        .getSizeAsBytes("spark.driver.maxResultSize", "1g")
      val rows = try Some(stage.collect()) catch { case NonFatal(_) => None }
      val next = rows.map(r => (r, SizeEstimator.estimate(r)))
        .filter { case (_, n) => limit <= 0 || n <= limit } match {
        case Some((r, n)) => new CellSet(cs.epoch, Some(spark.createDataFrame(
          java.util.Arrays.asList(r: _*), stage.schema)), false, Some(n))
        case None => new CellSet(cs.epoch, None, true)
      }
      Option.when(install(key, Some(cs), next) && next.persisted)(next)
    }
  }

  /** Second sight: persist the render when it is answerable from the
    * cache, else remember the refusal for this epoch. Only the build
    * that wins the record persists: a losing duplicate's `unpersist`
    * would uncache the winner's identical plan.
    */
  private def store(key: CellSetKey, prior: CellSet, df: DataFrame): Unit =
    if (!answerable(df))
      install(key, Some(prior), new CellSet(prior.epoch, None, true))
    else {
      val next = new CellSet(prior.epoch, Some(df), false)
      if (install(key, Some(prior), next)) {
        df.persist()
        // a drop that ran before this persist released nothing
        if (!cellSets.get(key).exists(_ eq next)) df.unpersist(blocking = false)
        else { next.persisted = true; cellSetStoreCount.increment() }
      }
    }

  /** Replace `prior` (or an absent record) with `next`; false when a
    * concurrent build won, or when the cube's epoch moved past `next`'s
    * — the bump may have swept the records before `next` landed.
    */
  private def install(key: CellSetKey, prior: Option[CellSet],
      next: CellSet): Boolean = {
    val won = prior match {
      case Some(p) => cellSets.replace(key, p, next) && { release(p); true }
      case None    => cellSets.putIfAbsent(key, next).isEmpty
    }
    if (won && epochOf(key.cubeId).get != next.epoch) {
      dropCellSet(key, next); false
    } else won
  }

  /** Refusals. A stored render must be a function of the cube's data
    * alone, so refuse a plan that is nondeterministic or reads the
    * clock (`Vba.now`/`dateFn`/`timeFn`, Spark's current_* family), and
    * one with a checkpoint leaf — after cache substitution — that is
    * not a segment the cache holds (a per-query pin, freed when the
    * query's scope closes, which the persisted render's lineage would
    * still name).
    */
  private def answerable(df: DataFrame): Boolean = {
    val plan = df.queryExecution.analyzed
    val cuts = segments.collect { case (k, s) if ckptKeys.contains(k) =>
      s.queryExecution.analyzed }.collect { case l: LogicalRDD => l.rdd.id }.toSet
    // substitute through an alias, so `df`'s own plan is not frozen
    // before its persist
    plan.deterministic && !plan.containsPattern(TreePattern.CURRENT_LIKE) &&
      df.alias("__cellset").queryExecution.withCachedData.collectLeaves()
        .forall {
          case l: LogicalRDD => cuts(l.rdd.id)
          case _             => true
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

  private def dropCellSet(k: CellSetKey, cs: CellSet): Unit =
    if (cellSets.remove(k, cs)) release(cs)

  /** A stage's persist is the only storage a record holds. */
  private def release(cs: CellSet): Unit =
    if (cs.rowBytes.isEmpty) cs.frame.foreach(_.unpersist(blocking = false))

  /** Flush every segment and cell set of a cube (reference
    * flush_schema_cache).
    */
  def flushCube(cubeId: Long): Unit = {
    keysOf(cubeId).foreach(evict)
    bump(cubeId)
  }

  /** The keys of a cube's cached segments. */
  def keysOf(cubeId: Long): Seq[SegKey] =
    segments.keys.filter(_.cubeId == cubeId).toSeq

  /** Incremental maintenance on an insert-delta: merge each cached
    * segment of the cube in place when its measures are decomposable,
    * evict the rest (they recompute lazily on next use). `deltaFor`,
    * called on this thread once per segment, returns the delta's rows
    * at the segment's exact grain and slicer as raw partials plus each
    * measure's partial-merge function ([[Agg.partialMerge]]), or None
    * when the segment is not mergeable.
    *
    * Each merge is one union re-aggregate ([[mergeFrames]]), cut
    * eagerly before the old segment is released: block loss must NOT
    * re-run the lineage, which would re-read a landing directory that
    * meanwhile contains the delta and double-count it. The merges run
    * concurrently, at most `defaultParallelism` at once, on this thread
    * and worker threads made here, so every job carries this thread's
    * Spark local properties (job group, scheduler pool). All workers
    * are joined, then the merged segments are installed on this thread.
    *
    * All-or-nothing: when any `deltaFor` or merge fails, the cuts made
    * are freed, every segment of the cube is evicted and the first
    * failure is rethrown, so no reader sees a half-merged cube and a
    * replayed batch counts once. Either way the cube's epoch moves
    * once, after the segments have.
    */
  def mergeOrEvict(cubeId: Long)(
      deltaFor: SegKey => Option[(DataFrame, Seq[(String, Column => Column)])])
      : Unit = {
    var cuts = Seq.empty[DataFrame]
    try {
      val plans = keysOf(cubeId).map(k => k -> deltaFor(k))
      val merges = plans.collect { case (k, Some((rows, fns))) =>
        // rawCut (not a bare localCheckpoint): evict() must be able to
        // free the merged frame's blocks later, which for a checkpoint
        // only Pins.freeCut can do
        segments.get(k).map(old =>
          (k, old, () => Pins.rawCut(mergeFrames(old, rows, k.grain, fns))))
      }.flatten
      val width = merges.headOption
        .fold(1)(_._2.sparkSession.sparkContext.defaultParallelism)
      val results = SegmentCache.concurrently(width, merges.map(_._3))
      cuts = results.flatMap(_.toOption)
      val merged = results.map(_.get)
      plans.collect { case (k, None) => k }.foreach(evict)
      merges.zip(merged).foreach { case ((k, old, _), cut) =>
        // a segment flushed or recomputed meanwhile is not overwritten
        if (segments.replace(k, old, cut)) {
          ckptKeys.add(k)
          evictFrame(old)
          mergedCount.increment()
        } else { evictFrame(cut); evict(k) }
      }
    } catch {
      case e: Throwable =>
        cuts.foreach(evictFrame)
        keysOf(cubeId).foreach(evict)
        throw e
    } finally bump(cubeId)
  }

  private val mergedCount = new LongAdder
  def merges: Long = mergedCount.sum

  /** (old ∪ rows) grouped on the grain keys, each measure folded with
    * its partial-merge fn and cast back to the segment's type: the union
    * and a decimal sum both widen it under Spark's result-type rules. A
    * grain tuple only the delta has becomes a new row.
    */
  private def mergeFrames(old: DataFrame, rows: DataFrame,
      grain: Seq[String],
      mergeFns: Seq[(String, Column => Column)]): DataFrame = {
    val cols = (grain ++ mergeFns.map(_._1)).map(col)
    val both = old.select(cols: _*).union(rows.select(cols: _*))
    val aggCols = mergeFns.map { case (m, fn) =>
      fn(col(m)).cast(old.schema(m).dataType).as(m)
    }
    both.groupBy(grain.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
  }

  /** Flush segments whose cells can intersect the (dim, path-prefix)
    * member region (reference flush_region_cache_with_full_names). A
    * segment survives only when its slicer on that dimension provably
    * excludes the region; a segment with no slicer on the dimension
    * contains the region's cells (e.g. in its totals), so it flushes.
    * Cell sets are not sliced by region: the cube's epoch moves and all
    * of its cell sets go.
    */
  def flushRegion(cubeId: Long, dim: String, path: Seq[Any]): Unit = {
    keysOf(cubeId)
      .filterNot(k => excludesRegion(k.slicer, dim, path))
      .foreach(evict)
    bump(cubeId)
  }

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
    epochs.values.foreach(_.incrementAndGet())
    cellSets.foreach { case (k, cs) => dropCellSet(k, cs) }
  }

  private def evict(k: SegKey): Unit = {
    lastUse.remove(k)
    ckptKeys.remove(k)
    segments.remove(k).foreach(evictFrame)
  }

  /** A segment is `.persist()`ed or an eager checkpoint (a cut, a merge,
    * or derived from a checkpoint): release both; each is a no-op on the
    * other kind.
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

  /** Name prefix of the worker threads [[SegmentCache.mergeOrEvict]]
    * starts.
    */
  private[graft] val MergeThreadPrefix = "graft-segment-merge"

  /** Run `tasks` on this thread and at most `width - 1` worker threads
    * made here — a new thread inherits this one's Spark local
    * properties — and return each task's outcome once every worker has
    * been joined. An interrupt during the join is re-asserted after it.
    */
  private def concurrently[T](width: Int, tasks: Seq[() => T]): Seq[Try[T]] = {
    val out = new Array[Try[T]](tasks.length)
    val next = new java.util.concurrent.atomic.AtomicInteger
    def drain(): Unit = {
      var i = next.getAndIncrement()
      while (i < tasks.length) {
        out(i) = try Success(tasks(i)()) catch { case e: Throwable => Failure(e) }
        i = next.getAndIncrement()
      }
    }
    val workers = (1 until math.min(width, tasks.length)).map { i =>
      val t = new Thread(() => drain(), s"$MergeThreadPrefix-$i")
      t.setDaemon(true); t.start(); t
    }
    drain()
    var interrupted = false
    workers.foreach { t =>
      while (t.isAlive)
        try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    out.toSeq
  }
}
