package graft.olap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Lowers the OLAP IR to DataFrame plans (SURVEY §3 "Spark-native pipeline").
  *
  * Execution shape — and why it scales:
  *  - Axis sets evaluate against the (small) dimension DataFrames only; the
  *    fact table is touched exactly once per required grain, as a single
  *    `groupBy(levelCols).agg(...)` — the Spark-native analog of the
  *    reference's batched cell reads (FastBatchingCellReader → one SQL
  *    GROUP BY per grain, SURVEY §4 #3).
  *  - Every fact→dimension join broadcasts the dimension side, so the fact
  *    never shuffles for the star join; the only shuffle is the final
  *    aggregation exchange on the grain keys. At 100 TB the fact stays
  *    partition-local until that one exchange, and partial aggregation
  *    (map-side combine) collapses it before the wire.
  *  - Slicer predicates are plain `Column` filters under the aggregate, so
  *    Catalyst pushes them into the parquet scan (PushedFilters) — the
  *    analog of the reference's WHERE-clause pushdown (SURVEY §4 #1).
  *  - Cell-dependent set ops (Filter/TopCount/Order…) aggregate at the
  *    child set's grain first — the analog of Mondrian's native-SQL
  *    pushdown of Filter/TopCount (RolapNativeFilter/TopCount, SURVEY §4
  *    #4) — then restrict the member set; axis frames after aggregation are
  *    at most dimension-sized, so the window/limit steps are cheap.
  */
final class Planner(val cube: BoundCube) {
  import Planner._

  /** The scope of the statement being rendered ([[pruneFor]]): its
    * measures (the analog of Catalyst column pruning at the measure
    * level: a q1-style single-measure query must not pay for the cube's
    * 12 aggregates), its calc members in solve order and their
    * dependencies, and its WITH members. Outside a statement (direct
    * evalSet/metadata use) every measure and calc member of the cube.
    */
  private var current: Scope = Scope.schema(cube, defaultMemberName)
  private[olap] def scope: Scope = current
  private[olap] def neededMeasures: Seq[Measure] = current.measures
  private[olap] def neededCalcs: Seq[CalcMember] = current.calcs

  /** `body` with `s` as the planner's scope, restored after (a nested
    * statement — a computed slicer's sub-query — builds on the same
    * planner).
    */
  private def within[T](s: Scope)(body: => T): T = {
    val saved = current
    current = s
    try body finally current = saved
  }

  /** The scope of statement `q`: the measures and calcs its COLUMNS,
    * axes, WITH sets and computed slicers read, built before any of them
    * is evaluated (so a computed slicer aggregates only what the
    * statement reads), with every WITH member validated.
    */
  private[olap] def pruneFor(q: QueryIR): Scope =
    Scope.statement(cube, q,
      q.rows.toSeq ++ q.withSets.values ++
        q.slicer.collect { case EvalSlice(s) => s },
      defaultMemberName)

  /** The name of `d`'s default member (`[d].DefaultMember`: its first
    * root-level member visible to the role), null for an empty level.
    */
  private def defaultMemberName(d: BoundDim): Any = {
    val root = d.levels.head
    memberFrame(d, 0).orderBy(col(root.ordinal).asc, col(root.col).asc)
      .select(col(root.col)).limit(1).collect().headOption.map(_.get(0))
      .orNull
  }

  // ---------------------------------------------------------------- axes

  /** Distinct members of levels 0..depth of a dimension, with ordinal
    * columns for hierarchical sorting.
    */
  private[olap] def memberFrame(d: BoundDim, depth: Int): DataFrame = {
    val cols = memberCols(d, depth)
    val cached = d.membersAt(depth, cols)
    // ragged hierarchies (schema.rb hide_member_if): members hidden at
    // the enumerated level drop out of the frame; rows with a hidden
    // ANCESTOR stay (the descendant attaches to its grandparent).
    val lvl = d.levels(depth)
    val base = lvl.hideMemberIf match {
      case HideIf.Never => cached
      case HideIf.IfBlankName =>
        cached.filter(col(lvl.col).isNotNull && col(lvl.col) =!= lit(""))
      case HideIf.IfParentsName if depth > 0 =>
        cached.filter(!(col(lvl.col) <=> col(d.levels(depth - 1).col)))
      case _ => cached
    }
    // member grants also hide members from axes (connection_role_test.rb:
    // 46-90): restrict the member frame to granted subtrees, minus
    // revoked subtrees, within the granted level range — visibility
    // applies under EVERY rollup policy (policy only governs totals)
    cube.role.filter(_.isGranted(d.name)) match {
      case Some(r) =>
        // excluded only when EVERY admissible range rejects the depth
        // (a union role lists one range per member role)
        if (r.levelBounds.get(d.name).exists(ranges =>
              ranges.nonEmpty && ranges.forall { case (top, bottom) =>
                top.exists(t => depth < d.levelIndex(t)) ||
                  bottom.exists(b => depth > d.levelIndex(b)) }))
          base.filter(lit(false))
        else {
          val pred = orAll(r.grants.filter(_._1 == d.name)
            .map { case (_, path) =>
              ancestorPredicate(d, path.take(depth + 1))
            })
          // a deny hides the node and everything below it; a deny
          // DEEPER than this frame's level leaves the ancestors visible
          val denied = r.denies.filter(_._1 == d.name)
            .filter(_._2.length <= depth + 1)
            .map { case (_, path) => !ancestorPredicate(d, path) }
          base.filter(denied.foldLeft(pred)(_ && _))
        }
      case None => base
    }
  }

  /** Path deeper than the hierarchy matches nothing (memberExists on an
    * over-deep path must be false, not an exception — ADVICE r1).
    */
  private[olap] def ancestorPredicate(d: BoundDim, path: Seq[Any]): Column =
    if (path.isEmpty || path.length > d.levels.length) lit(false)
    else path.zipWithIndex
      .map { case (v, i) => col(d.levels(i).col) === lit(v) }
      .reduce(_ && _)

  /** `df` with the columns `cols` of dimension `d` as typed nulls (from
    * the dimension frame's schema) and, unless it has one, a
    * [[DepthCol]] recording its members' own `depth`: a frame at one
    * depth padded to a deeper grain of a mixed-depth frame.
    */
  private def padded(df: DataFrame, d: BoundDim, cols: Seq[String],
      depth: Int): DataFrame = {
    val types = d.df.schema.map(sf => sf.name -> sf.dataType).toMap
    val base = cols.foldLeft(df)((x, c) =>
      x.withColumn(c, lit(null).cast(types(c))))
    if (base.columns.contains(DepthCol)) base
    else base.withColumn(DepthCol, lit(depth))
  }

  /** Axis members ⋈ their cells. Uniform frames join on the grain
    * columns; a mixed-depth frame fetches every present grain in ONE
    * grouping-sets pass over the fact ([[mixedCells]]) and joins
    * null-safely on the padded level columns + depth marker.
    */
  private def joinCells(a: AxisFrame, slicer: Seq[SlicerItem]): DataFrame =
    a.mixedDim match {
      case None =>
        a.members.join(aggregate(a.dims, slicer), groupCols(a.dims), "left")
      case Some(dn) =>
        val md = a.dims.find(_.d.name == dn).get
        val others = a.dims.filterNot(_.d.name == dn)
        val levels = levelCols(md.d, md.depth)
        val cells = mixedCells(others, md, a.mixedDepths, slicer)
        val keyCols = (groupCols(others) ++ levels) :+ DepthCol
        val renamed = cells.select(
          (keyCols.map(c => col(c).as(s"__c_$c")) ++
            cells.columns.filterNot(keyCols.contains).map(col)): _*)
        val cond = keyCols.map(c => col(c) <=> col(s"__c_$c"))
          .reduce(_ && _)
        a.members.join(renamed, cond, "left")
          .drop(keyCols.map(c => s"__c_$c"): _*)
    }

  /** Cells of a mixed-depth axis: all present grains of the mixed
    * hierarchy are nested prefixes of the deepest one, so ONE
    * grouping-sets pass over the fact (a single Expand + exchange —
    * the batched-grain shape of Mondrian's GroupingSetsCollector,
    * SURVEY §4 #3) produces every depth's cells; grouping_id() tells
    * which grain a row belongs to (the trailing un-grouped level
    * columns are its low bits), which becomes the [[DepthCol]] marker —
    * so a genuine NULL level value is never confused with a rolled-up
    * one. The result is cached as one segment keyed by the full key
    * list + depth set. Falls back to one [[aggregate]] per depth when
    * that segment is not resident and a rollup or resident segment
    * covers the deepest grain ([[SegmentCache.routes]]): each depth is
    * then a cheap re-aggregation of that cuboid, no fact scan at all.
    */
  private def mixedCells(others: Seq[AxisDim], md: AxisDim,
      depths: Seq[Int], slicer: Seq[SlicerItem]): DataFrame = {
    val levels = levelCols(md.d, md.depth)
    val allSlicer = slicer ++ roleSlicer
    val sortedDepths = depths.sorted
    val cache = SegmentCache.global
    val key = cache.SegKey(cube.cubeId, (groupCols(others) ++ levels) :+
      s"__depths=${sortedDepths.mkString(",")}",
      allSlicer, neededMeasures.map(_.name))
    def perDepth: DataFrame = depths.map { dep =>
      padded(aggregate(others :+ AxisDim(md.d, dep), slicer), md.d,
        levels.drop(dep + 1), dep)
    }.reduce(_ unionByName _)
    def compute: DataFrame = {
      val star = joinStar(neededJoins(others :+ md, allSlicer), allSlicer)
      val sliced = star.filter(slicerPredicate(allSlicer))
      val (aggCols, post) = Agg.toColumnsFused(neededMeasures)
      val oKeys = groupCols(others)
      val keys = oKeys ++ levels
      val sets = sortedDepths.map(dep =>
        (oKeys ++ levels.take(dep + 1)).map(col))
      val gs = sliced.groupingSets(sets, keys.map(col): _*)
        .agg(aggCols.head, (aggCols.tail :+ grouping_id().as("__gid")): _*)
      // grouping set at depth dep leaves the trailing
      // (#levels - dep - 1) level columns un-grouped → those low bits
      // of grouping_id are 1: gid == 2^trailing - 1, distinct per depth
      def gidOf(dep: Int): Long = (1L << (levels.length - dep - 1)) - 1L
      val depthCol = sortedDepths.tail.foldLeft(
        when(col("__gid") === lit(gidOf(sortedDepths.head)),
          sortedDepths.head)) { (acc, dep) =>
        acc.when(col("__gid") === lit(gidOf(dep)), dep)
      }
      gs.select((keys.map(col) :+ col("__gid")) ++ post: _*)
        .withColumn(DepthCol, depthCol)
        .drop("__gid")
    }
    if (cache.routes(this, others :+ md, allSlicer, key)) perDepth
    else if (!SegmentCache.enabled) compute
    // an eager cut: one query joins a mixed segment against itself
    // (members derived from the cells side; see getOrComputeCut)
    else cache.getOrComputeCut(key)(compute)
  }

  def evalSet(set: SetExpr, slicer: Seq[SlicerItem],
      withSets: Map[String, SetExpr] = Map.empty): AxisFrame = set match {
    case LevelMembers(dim, level) =>
      val d = cube.dim(dim)
      val depth = d.levelIndex(level)
      AxisFrame(memberFrame(d, depth), Seq(AxisDim(d, depth)))

    case Members(dim, paths) =>
      val d = cube.dim(dim)
      require(paths.nonEmpty, "empty member set")
      if (paths.forall(_.length == paths.head.length)) {
        val depth = math.min(paths.head.length, d.levels.length) - 1
        val f = membersWhere(d, depth,
          orAll(paths.map(p => ancestorPredicate(d, p))))
        if (paths.length == 1) f
        else {
          // a literal set is an ORDERED list: Mondrian renders it in
          // WRITTEN order, not level-ordinal order (SetFunDef — the
          // reference's axis expectations enumerate literal entries as
          // authored, e.g. query_test.rb:157-174). First-match
          // position per member (a duplicated literal keeps one row
          // here — the fused calc path keeps duplicates via entry
          // keys); renumber closes the gaps an unmatched path leaves
          // so positional ops (Head/Subset) stay contiguous. One flat
          // CaseWhen, plan-sized.
          val ordExpr = paths.tail.zipWithIndex.foldLeft(
            when(ancestorPredicate(d, paths.head), 1L)) {
            case (acc, (p, i)) =>
              acc.when(ancestorPredicate(d, p), (i + 2).toLong)
          }
          renumbered(f.copy(hasOrd = true),
            f.members.withColumn(OrdCol, ordExpr))
        }
      } else {
        // mixed-depth literal set ({[d].[a], [d].[a].[b]}): lower to a
        // union of the per-depth subsets (padded-frame path)
        val byLen = paths.groupBy(_.length).toSeq.sortBy(_._1)
          .map { case (_, ps) => Members(dim, ps): SetExpr }
        evalSet(byLen.reduce(UnionSet(_, _, all = true)), slicer, withSets)
      }

    case Children(dim, path) =>
      val d = cube.dim(dim)
      // Children of a leaf-level member is the empty set, not the member
      // itself (Mondrian DescendantsFunDef semantics; ADVICE r1).
      val depth = math.min(path.length, d.levels.length - 1)
      val pred =
        // [Dim].Children (no member path) = children of the implicit
        // All root: every level-0 member (Mondrian hierarchy default)
        if (path.isEmpty) lit(true)
        else if (path.length >= d.levels.length) lit(false)
        else ancestorPredicate(d, path)
      membersWhere(d, depth, pred)

    case Descendants(dim, path, level) =>
      val d = cube.dim(dim)
      val depth = d.levelIndex(level)
      require(depth >= path.length, "Descendants level above member level")
      // DESCENDANTS([Dim], [Level]) — descendants of the implicit All
      // root at that level = every member of the level
      membersWhere(d, depth,
        if (path.isEmpty) lit(true) else ancestorPredicate(d, path))

    case MemberRange(dim, level, from, to) =>
      val d = cube.dim(dim)
      val depth = d.levelIndex(level)
      membersWhere(d, depth,
        col(d.levels(depth).col).between(lit(from), lit(to)))

    case CousinSet(dim, mPath, aPath) =>
      cousin(cube.dim(dim), mPath, aPath, slicer, withSets)

    case CurrentDateMember(dim, level, matchType) =>
      currentDateMember(cube.dim(dim), level, matchType)

    case CrossJoin(l, r) =>
      val a = evalSet(l, slicer, withSets)
      val b = evalSet(r, slicer, withSets)
      require(a.mixedDim.isEmpty || b.mixedDim.isEmpty,
        "CrossJoin of two mixed-depth sets is not supported")
      val mixedDepths = a.mixedDepths ++ b.mixedDepths
      val mixedDim = a.mixedDim.orElse(b.mixedDim)
      if (!a.hasOrd && !b.hasOrd)
        AxisFrame(a.members.crossJoin(b.members), a.dims ++ b.dims,
          mixedDepths = mixedDepths, mixedDim = mixedDim)
      else {
        // Mondrian CrossJoin order is lexicographic (left order major):
        // renumber from the realized child orders, then drop the child
        // __ord columns (renamed first so the two sides can't collide).
        val ra = realizeOrd(a); val rb = realizeOrd(b)
        val joined = ra.members.withColumnRenamed(OrdCol, "__ordL")
          .crossJoin(rb.members.withColumnRenamed(OrdCol, "__ordR"))
        AxisFrame(Ords.rowNumber(joined,
            Seq(col("__ordL").asc, col("__ordR").asc), OrdCol,
            hintOf(a.dims ++ b.dims))
          .drop("__ordL", "__ordR"), a.dims ++ b.dims, hasOrd = true,
          mixedDepths = mixedDepths, mixedDim = mixedDim)
      }

    case NonEmptyCrossJoin(l, r) =>
      val a = evalSet(l, slicer, withSets)
      val b = evalSet(r, slicer, withSets)
      require(a.mixedDim.isEmpty && b.mixedDim.isEmpty,
        "NonEmptyCrossJoin of a mixed-depth set is not supported; " +
          "apply NON EMPTY to the query instead")
      val dims = a.dims ++ b.dims
      // combos that occur in the (slicer-restricted) fact
      val star = joinStar(neededJoins(dims, slicer), slicer)
      val sliced = star.filter(slicerPredicate(slicer))
      val occurring = sliced
        .select(dims.flatMap(ad => levelCols(ad.d, ad.depth)).map(col): _*)
        .distinct()
      // join member frames back to recover ordinal columns + restrict to
      // the members of each child set (child __ord dropped: NECJ returns
      // hierarchical order, like the reference's native crossjoin SQL)
      val joined = Seq(a, b).foldLeft(occurring) { (df, child) =>
        val joinKeys = child.dims.flatMap(ad => levelCols(ad.d, ad.depth))
        df.join(broadcast(child.members.drop(OrdCol)), joinKeys)
      }
      AxisFrame(joined, dims)

    case UnionSet(l, r, all) =>
      unionFrames(evalSet(l, slicer, withSets),
        evalSet(r, slicer, withSets), all)

    case IntersectSet(l, r) =>
      restrict(l, r, slicer, withSets, "left_semi")((a, _) =>
        groupCols(a.dims))

    case ExceptSet(l, r) =>
      restrict(l, r, slicer, withSets, "left_anti")((_, b) =>
        groupCols(b.dims))

    case ExistsSet(l, r) =>
      restrict(l, r, slicer, withSets, "left_semi")((a, b) =>
        a.members.columns.intersect(b.members.columns)
          .filterNot(_ == OrdCol).toSeq)

    case DistinctSet(s) =>
      val a = evalSet(s, slicer, withSets)
      if (!a.hasOrd) a.copy(members = a.members.distinct())
      else renumbered(a, firstOccurrence(a.members, groupCols(a.dims)))

    case NamedSetRef(name) =>
      val s = withSets.getOrElse(name,
        throw new IllegalArgumentException(s"named set '$name' not defined"))
      evalSet(s, slicer, withSets)

    case FilterSet(s, cond) =>
      // MDX Filter preserves the input set's order (FilterFunDef): keep and
      // renumber __ord when the child was explicitly ordered (ADVICE r1).
      val a0 = evalSet(s, slicer, withSets)
      // S.CurrentOrdinal needs an explicit position column
      val a = if (current.formula(cond).names.contains(Scalar.CurrentOrdinal))
                realizeOrd(a0)
              else a0
      val cells = cellsFor(a, slicer, withSets, Seq(cond))
      // IsEmpty(S.Current): every cell column of the tuple is empty
      val memberCols = a.members.columns.toSet
      val empty = cells.columns.filterNot(memberCols.contains)
        .map(m => col(m).isNull).reduceOption(_ && _).getOrElse(lit(true))
      val (on, p) = current.lowerOn(cells, cond, Scalar.Site(a.dims, slicer, {
        case Scalar.CurrentOrdinal => col(OrdCol) - 1
        case Scalar.CurrentEmpty   => empty
      }))
      renumbered(a, on.filter(p).select(a.members.columns.map(col): _*))

    case OrderSet(s, e, dir) =>
      val a = evalSet(s, slicer, withSets)
      val cells = cellsFor(a, slicer, withSets, Seq(e))
      dir match {
        case SortDir.BAsc | SortDir.BDesc =>
          val (on, key) = current.lowerOn(cells, e, Scalar.Site(a.dims, slicer))
          ordered(a, on, Seq(cellSort(key, desc = dir == SortDir.BDesc)))
        case _ =>
          tupleHierOrderSet(a, cells, e, dir == SortDir.Desc, slicer,
            withSets)
      }

    case TopCount(s, n, e, bottom) if e.isEmpty =>
      // no sort expression (the parser's optional third arg): MDX
      // takes the set's natural order — head for TOP, tail for BOTTOM
      evalSet(if (bottom) TailSet(s, n) else HeadSet(s, n),
        slicer, withSets)

    case TopCount(s, n, e, bottom) =>
      val a = evalSet(s, slicer, withSets)
      val (on, key) = current.lowerOn(cellsFor(a, slicer, withSets, Seq(e)),
        e, Scalar.Site(a.dims, slicer))
      val o = ordered(a, on, Seq(cellSort(key, desc = !bottom)))
      o.copy(members = o.members.filter(col(OrdCol) <= n))

    case TopPercent(s, pct, e, bottom) =>
      topAccum(s, e, bottom, slicer, withSets) { (cum, total, v) =>
        cum - v < total * pct / 100.0
      }

    case TopSum(s, threshold, e, bottom) =>
      topAccum(s, e, bottom, slicer, withSets) { (cum, _, v) =>
        cum - v < threshold
      }

    case HeadSet(s, n) =>
      val a = realizeOrd(evalSet(s, slicer, withSets))
      a.copy(members = a.members.filter(col(OrdCol) <= n))

    case TailSet(s, n) =>
      val a = realizeOrd(evalSet(s, slicer, withSets))
      renumbered(a, Ords.withTotal(a.members, "__cnt")
        .filter(col(OrdCol) > col("__cnt") - n).drop("__cnt"))

    case SubsetSet(s, start, n) =>
      val a = realizeOrd(evalSet(s, slicer, withSets))
      renumbered(a,
        a.members.filter(col(OrdCol) > start && col(OrdCol) <= start + n))

    case ExtractSet(s, dimNames) =>
      val a = evalSet(s, slicer, withSets)
      val kept = a.dims.filter(ad => dimNames.contains(ad.d.name))
      require(kept.nonEmpty, s"Extract: no matching dims in $dimNames")
      val cols = kept.flatMap(ad => memberCols(ad.d, ad.depth))
      AxisFrame(a.members.select(cols.map(col): _*).distinct(), kept)

    case Hierarchize(s, post) =>
      hierarchizeFrame(evalSet(s, slicer, withSets), post)

    case UnorderSet(s) =>
      // Unorder is a semantic no-op in a set-based engine (the jar's
      // UnorderFunDef exists to release ordering constraints for
      // optimization; our planner already ignores order unless forced)
      evalSet(s, slicer, withSets)

    case DrilldownMember(s, ms) =>
      drilldownMember(evalSet(s, slicer, withSets),
        evalSet(ms, slicer, withSets))

    case DrilldownLevelTop(s, n, e, bottom) =>
      drilldownLevelTop(evalSet(s, slicer, withSets), n, e, bottom, slicer,
        withSets)

    case ToggleDrillState(s, ms) =>
      toggleDrillState(evalSet(s, slicer, withSets),
        evalSet(ms, slicer, withSets))
  }

  /** The drill-set side of a drilldown op: both sets must live on one
    * hierarchy, the drill set uniform-depth.
    */
  private def singleHierarchy(a: AxisFrame, b: AxisFrame,
      op: String): AxisDim = {
    require(b.dims.length == 1 && b.mixedDim.isEmpty,
      s"$op: the member set must be a uniform single-hierarchy set")
    require(a.dims.length == 1 && a.dims.head.d.name == b.dims.head.d.name,
      s"$op: both sets must be over the same hierarchy")
    b.dims.head
  }

  /** Rows of a (possibly mixed-depth) frame whose member's own depth is
    * exactly `depth`.
    */
  private def atDepth(a: AxisFrame, depth: Int): DataFrame =
    if (a.members.columns.contains(DepthCol))
      a.members.filter(col(DepthCol) === depth)
    else if (a.dims.head.depth == depth) a.members
    else a.members.limit(0)

  /** The members of `l` whose `keys` occur (`how` = left_semi) or do not
    * occur (left_anti) in `r` — Intersect, Except and Exists — positions
    * compacted.
    */
  private def restrict(l: SetExpr, r: SetExpr, slicer: Seq[SlicerItem],
      withSets: Map[String, SetExpr], how: String)(
      keys: (AxisFrame, AxisFrame) => Seq[String]): AxisFrame = {
    val a = evalSet(l, slicer, withSets)
    val b = evalSet(r, slicer, withSets)
    val ks = keys(a, b)
    renumbered(a, a.members.join(b.members.select(ks.map(col): _*)
      .distinct(), ks, how))
  }

  /** `a` with its members replaced by the subset `kept`: an explicit
    * order is compacted to 1..n, so downstream positional ops
    * (Head/Subset) keep working on gap-free positions.
    */
  private def renumbered(a: AxisFrame, kept: DataFrame): AxisFrame =
    if (!a.hasOrd) a.copy(members = kept)
    else numbered(a, kept, Seq(col(OrdCol).asc))

  /** The first occurrence (lowest [[OrdCol]]) of each `keys` tuple
    * (DistinctFunDef; the non-ALL UnionFunDef).
    */
  private def firstOccurrence(df: DataFrame, keys: Seq[String]): DataFrame = {
    val wk = Window.partitionBy(keys.map(col): _*)
    df.withColumn("__minOrd", min(col(OrdCol)).over(wk))
      .filter(col(OrdCol) === col("__minOrd")).drop("__minOrd")
  }

  /** The members of `d` at `depth` that satisfy `pred`. */
  private def membersWhere(d: BoundDim, depth: Int, pred: Column): AxisFrame =
    AxisFrame(memberFrame(d, depth).filter(pred), Seq(AxisDim(d, depth)))

  /** The members one level below `depth` whose parent keys are in
    * `parents` (a dimension-sized broadcast semi-join).
    */
  private def childrenOf(d: BoundDim, depth: Int,
      parents: DataFrame): AxisFrame =
    AxisFrame(memberFrame(d, depth + 1)
      .join(broadcast(parents), levelCols(d, depth), "left_semi"),
      Seq(AxisDim(d, depth + 1)))

  /** A drill result: `a` and the drilled `children`, hierarchized. */
  private def drillUnion(a: AxisFrame, children: AxisFrame): AxisFrame =
    hierarchizeFrame(unionFrames(a, children, all = false), post = false)

  /** DrilldownMember: the children of every member of `a` at the drill
    * depth that is also in `b` join the set.
    */
  private def drilldownMember(a: AxisFrame, b: AxisFrame): AxisFrame = {
    val bd = singleHierarchy(a, b, "DrilldownMember")
    if (bd.depth + 1 >= bd.d.levels.length) a // leaf members: no-op
    else {
      val keys = levelCols(bd.d, bd.depth)
      // members of the base set at exactly the drill depth...
      val aAtDepth = atDepth(a, bd.depth).select(keys.map(col): _*)
        .distinct()
      // ...that are also in the drill set
      val toDrill = aAtDepth.join(
        b.members.select(keys.map(col): _*).distinct(), keys, "left_semi")
      drillUnion(a, childrenOf(bd.d, bd.depth, toDrill))
    }
  }

  /** DrilldownLevelTop/Bottom: each member plus its top (bottom) `n`
    * children by `e`.
    */
  private def drilldownLevelTop(a: AxisFrame, n: Int, e: String,
      bottom: Boolean, slicer: Seq[SlicerItem],
      withSets: Map[String, SetExpr]): AxisFrame = {
    require(a.dims.length == 1 && a.mixedDim.isEmpty,
      "DrilldownLevelTop needs a uniform single-hierarchy set")
    val ad = a.dims.head
    if (ad.depth + 1 >= ad.d.levels.length) a
    else {
      val keys = levelCols(ad.d, ad.depth)
      val cf = childrenOf(ad.d, ad.depth,
        a.members.select(keys.map(col): _*).distinct())
      // rank children WITHIN each parent by the cell expression — the
      // window partitions on the parent keys, so no global sort
      val (cells, key) = current.lowerOn(cellsFor(cf, slicer, withSets,
        Seq(e)), e, Scalar.Site(cf.dims, slicer))
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(cellSort(key, desc = !bottom) +: tieBreak(cf): _*)
      val top = cells.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= n)
        .select(cf.members.columns.map(col): _*)
      drillUnion(a, cf.copy(members = top))
    }
  }

  /** ToggleDrillState: per member of `b` in `a`, collapse its
    * descendants when it is drilled, add its children when it is not.
    */
  private def toggleDrillState(a: AxisFrame, b: AxisFrame): AxisFrame = {
    val bd = singleHierarchy(a, b, "ToggleDrillState")
    if (bd.depth + 1 >= bd.d.levels.length) a
    else {
      val pd = bd.depth
      val keys = levelCols(bd.d, pd)
      val withDepth = padded(a.members, bd.d, Nil, a.dims.head.depth)
      val bKeys = b.members.select(keys.map(col): _*).distinct()
      // a toggle member is "drilled" when any of its children is
      // already present in the set
      val drilled = bKeys.join(
        withDepth.filter(col(DepthCol) === pd + 1)
          .select(keys.map(col): _*).distinct(), keys, "left_semi")
      // drilled parents collapse: drop their strict descendants
      val marked = withDepth.join(
        broadcast(drilled.withColumn("__drilled", lit(1))), keys, "left")
      val kept = marked
        .filter(col("__drilled").isNull || col(DepthCol) <= pd)
        .drop("__drilled")
      // un-drilled toggle members present in the set expand
      val toOpen = atDepth(a, pd).select(keys.map(col): _*).distinct()
        .join(bKeys, keys, "left_semi")
        .join(drilled, keys, "left_anti")
      val keptFrame = a.copy(members =
        if (a.members.columns.contains(DepthCol)) kept
        else kept.drop(DepthCol))
      drillUnion(keptFrame, childrenOf(bd.d, pd, toOpen))
    }
  }

  /** Cousin(member, ancestor): sibling positions per level below the
    * ancestor depth (dense_rank over the dimension-bounded member
    * frame — j-level siblings within their parent), then the row
    * under the NEW ancestor with the member's position vector. A
    * position gap in the target subtree yields an empty set (the
    * jar's null member).
    */
  private def cousin(d: BoundDim, mPath: Seq[Any], aPath: Seq[Any],
      slicer: Seq[SlicerItem],
      withSets: Map[String, SetExpr]): AxisFrame = {
    require(mPath.length <= d.levels.length,
      s"Cousin: member path deeper than [${d.name}]")
    // jar CousinFunDef edge semantics (ADVICE r5): equal levels →
    // the second argument itself; member ABOVE the "ancestor" → the
    // null member, i.e. an empty set. (Divergence: a nonexistent
    // member path yields an empty set here where the jar raises
    // member-not-found — path existence is not validated.)
    if (aPath.length == mPath.length)
      return evalSet(Members(d.name, Seq(aPath)), slicer, withSets)
    if (aPath.length > mPath.length)
      return membersWhere(d, mPath.length - 1, lit(false))
    val depth = mPath.length - 1
    val aDepth = aPath.length - 1
    val lvls = d.levels
    val posCols = (aDepth + 1 to depth).map { j =>
      val w = Window
        .partitionBy(d.levelsTo(j - 1).map(l => col(l.col)): _*)
        .orderBy(col(lvls(j).ordinal).asc, col(lvls(j).col).asc)
      s"__pos$j" -> dense_rank().over(w)
    }
    val withPos = posCols.foldLeft(memberFrame(d, depth)) {
      case (df, (n, c)) => df.withColumn(n, c)
    }
    val src = withPos.filter(ancestorPredicate(d, mPath))
      .select(posCols.map { case (n, _) => col(n).as(s"s$n") }: _*)
      .limit(1)
    val out = withPos.filter(ancestorPredicate(d, aPath))
      .join(broadcast(src),
        posCols.map { case (n, _) => col(n) === col(s"s$n") }
          .reduce(_ && _))
      .select(memberCols(d, depth).map(col): _*)
    AxisFrame(out, Seq(AxisDim(d, depth)))
  }

  /** CurrentDateMember: the member of `level` holding "now" — the
    * session conf `spark.graft.now`, else today, so results are
    * deterministic. The dimension's date axis is its date-typed primary
    * key (time dims) or the deepest level column.
    */
  private def currentDateMember(d: BoundDim, level: String,
      matchType: String): AxisFrame = {
    val depth = d.levelIndex(level)
    val spark = d.df.sparkSession
    val nowStr = spark.conf.getOption("spark.graft.now")
      .getOrElse(java.time.LocalDate.now().toString)
    val now = lit(nowStr).cast("date")
    val dateCol =
      if (d.df.schema.exists(f => f.name == d.primaryKey &&
          f.dataType == org.apache.spark.sql.types.DateType)) d.primaryKey
      else d.levels.last.col
    val cols = memberCols(d, depth)
    val picked = matchType.toUpperCase match {
      case "EXACT" =>
        d.df.filter(col(dateCol) === now).select(cols.map(col): _*)
          .distinct()
      case "AFTER" =>
        d.df.filter(col(dateCol) >= now).select(cols.map(col): _*)
          .orderBy(d.levelsTo(depth).map(l => col(l.ordinal).asc): _*)
          .limit(1)
      case _ => // BEFORE: closest member at or before now
        d.df.filter(col(dateCol) <= now).select(cols.map(col): _*)
          .orderBy(d.levelsTo(depth).map(l => col(l.ordinal).desc): _*)
          .limit(1)
    }
    AxisFrame(picked, Seq(AxisDim(d, depth)))
  }

  /** Union of two evaluated axis frames (the UnionSet lowering, shared
    * by the drilldown family). Same-dimension sides at DIFFERENT levels
    * union into a mixed-depth frame: both sides padded to the deepest
    * level (typed nulls) with a __depth marker (reference unions members
    * of different levels, query_test.rb:231-260).
    */
  private def unionFrames(a0: AxisFrame, b0: AxisFrame,
      all: Boolean): AxisFrame = {
    val mixable = a0.dims.length == 1 && b0.dims.length == 1 &&
      a0.dims.head.d.name == b0.dims.head.d.name &&
      (a0.dims.head.depth != b0.dims.head.depth ||
        a0.mixedDepths.nonEmpty || b0.mixedDepths.nonEmpty)
    val (a, b) =
      if (!mixable) (a0, b0)
      else {
        val d = a0.dims.head.d
        val target = math.max(a0.dims.head.depth, b0.dims.head.depth)
        val dims = Seq(AxisDim(d, target))
        val depths = (a0.depthsOf ++ b0.depthsOf).distinct.sorted
        // each side's missing level + ordinal columns become typed nulls
        def pad(f: AxisFrame): AxisFrame = {
          val dep = f.dims.head.depth
          f.copy(members = padded(f.members, d,
              memberCols(d, target).diff(memberCols(d, dep)), dep),
            dims = dims, mixedDepths = depths, mixedDim = Some(d.name))
        }
        (pad(a0), pad(b0))
      }
    val keyCols =
      if (a.mixedDepths.isEmpty) groupCols(a.dims)
      else groupCols(a.dims) :+ DepthCol
    if (!a.hasOrd && !b.hasOrd) {
      val cols = a.members.columns.toSeq
      val u = a.members.unionByName(b.members.select(cols.map(col): _*))
      a.copy(members = if (all) u else u.distinct())
    } else {
      // order-preserving union: left members first (their order), then
      // right members; non-ALL keeps the first occurrence (UnionFunDef).
      // The right side's offset is the left side's max __ord, joined in
      // as a broadcast scalar — NOT a driver-side count() (an eager job
      // per ordered union would serialize plan construction).
      val ra = realizeOrd(a); val rb = realizeOrd(b)
      val cols = ra.members.columns.toSeq
      val offset = ra.members.agg(
        coalesce(max(col(OrdCol)), lit(0L)).as("__off"))
      val shifted = rb.members.crossJoin(broadcast(offset))
        .withColumn(OrdCol, col(OrdCol) + col("__off"))
        .select(cols.map(col): _*)
      val u = ra.members.unionByName(shifted)
      renumbered(ra, if (all) u else firstOccurrence(u, keyCols))
    }
  }

  /** Hierarchize lowering (shared by the drilldown family). PRE
    * (default) = parents before their children; POST = parents after.
    * On a mixed-depth (padded) frame a parent's deeper ordinal columns
    * are null, so null placement IS the pre/post switch; uniform frames
    * have no nulls and sort identically.
    */
  private def hierarchizeFrame(a: AxisFrame, post: Boolean): AxisFrame = {
    val ords = a.dims.flatMap(ad =>
      ad.d.levelsTo(ad.depth).map(l =>
        if (post) col(l.ordinal).asc_nulls_last
        else col(l.ordinal).asc_nulls_first))
    numbered(a, a.members, ords)
  }

  /** TopPercent/TopSum share the cumulative-prefix shape (SURVEY §2.6):
    * sort by the expression, keep the prefix while the running sum of
    * PRIOR rows is below the threshold (so the crossing row is included).
    */
  private def topAccum(s: SetExpr, e: String, bottom: Boolean,
      slicer: Seq[SlicerItem], withSets: Map[String, SetExpr])(
      keep: (Column, Column, Column) => Column): AxisFrame = {
    val a = evalSet(s, slicer, withSets)
    val (cells, v) = current.lowerOn(cellsFor(a, slicer, withSets, Seq(e)),
      e, Scalar.Site(a.dims, slicer))
    val key = cellSort(v, desc = !bottom)
    // the cumulative prefix genuinely needs one ordered pass; cells are
    // at the set's post-aggregation grain (dimension-bounded), so the
    // single-partition window here is over axis-scale data, never fact
    // rows. The grand total joins in as a broadcast scalar instead of a
    // second global window.
    val wOrd = Window.orderBy(key +: tieBreak(a): _*)
    val total = cells.agg(sum(v.cast("double")).as("__tot"))
    val annotated = cells.crossJoin(broadcast(total))
      .withColumn("__v", v.cast("double"))
      .withColumn("__cum",
        sum(col("__v")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn(OrdCol, row_number().over(wOrd))
    val kept = annotated
      .filter(keep(col("__cum"), col("__tot"), col("__v")))
      .select(
        (a.members.columns.filterNot(_ == OrdCol) :+ OrdCol).map(col): _*)
    a.copy(members = kept, hasOrd = true)
  }

  /** `a` with `members` numbered 1..n into [[OrdCol]] by `sort`. */
  private def numbered(a: AxisFrame, members: DataFrame,
      sort: Seq[Column]): AxisFrame =
    a.copy(members = Ords.rowNumber(members, sort, OrdCol, hintOf(a.dims)),
      hasOrd = true)

  /** Cells at the grain of `a` with the statement's measures and the
    * calc members the set operation's `keys` read — the working set for
    * cell-dependent set operators.
    */
  private def cellsFor(a: AxisFrame, slicer: Seq[SlicerItem],
      withSets: Map[String, SetExpr], keys: Seq[String]): DataFrame =
    applyCalcs(joinCells(a, slicer), a.dims, slicer, withSets,
      current.calcsFor(keys), setOp = true)

  private def ordered(a: AxisFrame, cells: DataFrame,
      sortCols: Seq[Column]): AxisFrame =
    a.copy(members = Ords.rowNumber(cells, sortCols ++ tieBreak(a), OrdCol,
        hintOf(a.dims))
        .select(
          (a.members.columns.filterNot(_ == OrdCol) :+ OrdCol).map(col): _*),
      hasOrd = true)

  /** Deterministic tie-break: the member key columns. */
  private def tieBreak(a: AxisFrame): Seq[Column] =
    groupCols(a.dims).map(col(_).asc)

  /** NON-breaking Order (MDX's default ASC/DESC) over an ordinary set:
    * Mondrian's HierarchicalTupleComparator (FunUtil.sortTuples
    * brk=false, via mondrian-olap's query.rb order with :asc/:desc). A
    * single hierarchy is the one-position case, Sorter.sortMembers
    * brk=false. Tuple positions compare LEFT TO RIGHT; the first
    * position whose members differ decides, compared hierarchically: a
    * parent precedes its descendants, and sibling subtrees order by the
    * sibling ancestors' OWN CELL VALUES of the sort expression
    * (compareHierarchicallyButSiblingsByValue), not by member ordinals.
    * Those cells are evaluated with the EARLIER tuple coordinates fixed
    * to the (equal) members already compared and the LATER coordinates
    * at their hierarchy defaults (the comparator only calls
    * Evaluator.setContext for positions it has found equal).
    *
    * Execution: one rank pass per tuple position. Position i's pass
    * computes ancestor cells at grain (dims 0..i-1 at FULL path ×
    * dim_i's prefix depths) — ONE grouping-sets fact scan via
    * [[mixedCells]] when several depths exist, with every LATER
    * dimension absent from the frame and therefore rolled up, exactly
    * the comparator's default-context semantics. Per-level sibling
    * ranks window over (earlier dims' full paths + dim_i's parent
    * prefix); the LAST position's deepest level reuses the set's own
    * cells, so the finest grain is never re-scanned. The member frame
    * left-joins the rank frames (each broadcast unless a hierarchy IN
    * ITS OWN GRAIN — positions 0..i — is high_cardinality; a later
    * high-card position never forces an early tiny frame onto a
    * shuffle) and sorts position-major on the rank chains.
    * Lexicographic rank order IS the comparator's order: equal members
    * share every rank (same partitions, same rows), and differing
    * members first diverge at their shallowest differing level, whose
    * sibling rank realizes the comparator. Ties break by the level key
    * ascending in both directions. An EMPTY cell compares as -infinity
    * (FunUtil.compareValues): ASC empties first, DESC empties last.
    *
    * Mixed-depth hierarchies are supported at ANY tuple position (the
    * pass-cell branches below say how). A null rank — a member
    * shallower than the rank's level — sorts first, which is exactly
    * parent-before-child. Pass count stays plan-shaped: at most
    * depths(dim_i)+1 scans per position, each grain-sized and
    * segment-cached.
    *
    * Three loud refusals: CurrentOrdinal (ancestors are evaluated
    * outside the live positional order), a sort key reading
    * CurrentMember of a tuple position AFTER the one being compared
    * (Mondrian evaluates it at the hierarchy default), and CurrentMember
    * of a mixed-depth earlier position (the name column differs per
    * member depth). A hierarchy on no axis reads the slicer's member or
    * its default member, as everywhere.
    *
    * Scale note: the deepest level's rank window partitions by the
    * parent prefix, so a high-cardinality LEAF degenerates to one
    * per-parent sort task per parent — the same cost class as the
    * in-memory sibling sort Mondrian performs for the identical query,
    * and strictly better than a breaking sort's global order when
    * parents are plentiful. A windowless value-lexicographic variant
    * does not work: a padded-null level of a SHALLOW member must sort
    * before its subtree while a genuinely EMPTY cell must sort after
    * its siblings, and a single value column cannot carry both null
    * meanings.
    */
  private def tupleHierOrderSet(a: AxisFrame, cells: DataFrame, e: String,
      desc: Boolean, slicer: Seq[SlicerItem],
      withSets: Map[String, SetExpr]): AxisFrame = {
    val names = current.formula(e).names
    require(!names.contains(Scalar.CurrentOrdinal),
      "CurrentOrdinal in a non-breaking Order key is not supported — " +
        "the hierarchical sort evaluates ancestors outside the live " +
        "positional order; use BASC/BDESC")
    // the key reads a tuple position's current member only while that
    // position is compared: the comparator sets just the equal earlier
    // positions, so a later one sits at its hierarchy default
    def reads(ad: AxisDim) = names.contains(Scalar.CurrentName(ad.d.name))
    require(!a.dims.drop(1).exists(reads),
      "non-breaking Order key reads CurrentMember of a hierarchy AFTER " +
        "the tuple position being compared — Mondrian would evaluate it " +
        "at the hierarchy default; use BASC/BDESC")
    require(a.dims.length == 1 || !a.mixedDim.contains(a.dims.head.d.name) ||
      !reads(a.dims.head),
      s"non-breaking Order key reads [${a.dims.head.d.name}].CurrentMember " +
        "while that tuple position mixes member depths — the name column " +
        "differs per member depth; use BASC/BDESC")
    // a single-level set has no hierarchy to preserve: plain value sort
    if (a.dims.length == 1 && a.dims.head.depth == 0) {
      val (on, key) = current.lowerOn(cells, e, Scalar.Site(a.dims, slicer))
      return ordered(a, on, Seq(cellSort(key, desc)))
    }
    var joined = a.members
    val sortCols = Seq.newBuilder[Column]
    for (i <- a.dims.indices) {
      val ad = a.dims(i)
      val d = ad.d
      val dMax = ad.depth
      val prevDims = a.dims.take(i)
      val prevCols = prevDims.flatMap(pd => levelCols(pd.d, pd.depth))
      val lvls = levelCols(d, dMax)
      val last = i == a.dims.length - 1
      val selfMixed = a.mixedDim.contains(d.name)
      val prevMixed = prevDims.find(pd => a.mixedDim.contains(pd.d.name))
      // depths needing a dedicated cell pass: every depth for a
      // non-last position (later dims must roll up, so the set's own
      // cells are the wrong grain even at dMax); strict prefixes for
      // the last (its deepest level reuses the set's cells)
      val passDepths: Seq[Int] = if (last) 0 until dMax else 0 to dMax
      // rank-source cells per prefix depth k, at grain (earlier dims'
      // full paths × dim_i depth k), later dims rolled up:
      //  - no mixed hierarchy here: ONE fact pass for all depths (a
      //    grouping-sets scan when several);
      //  - THIS dim mixes depths: the same single pass; rank joins
      //    carry a depth guard (a shallow member has no deep ranks);
      //  - an EARLIER dim mixes depths: one pass PER depth k, mixed on
      //    the earlier dim with dim_i FIXED at k (mixedCells supports
      //    exactly one mixed hierarchy per pass); the earlier dim's
      //    depth marker rides the partition/join keys so a padded-null
      //    level never cross-matches a genuine null.
      val passCellsByDepth: Map[Int, DataFrame] =
        if (passDepths.isEmpty) Map.empty
        else prevMixed match {
          case Some(_) =>
            passDepths.map { k =>
              val members = a.members
                .select((prevCols ++ lvls.take(k + 1) :+ DepthCol)
                  .map(col): _*)
                .distinct()
              val frame = AxisFrame(members, prevDims :+ AxisDim(d, k),
                mixedDepths = a.mixedDepths, mixedDim = a.mixedDim)
              k -> cellsFor(frame, slicer, withSets, Seq(e))
            }.toMap
          case None if passDepths.length == 1 =>
            val src = if (selfMixed) a.members.filter(col(DepthCol) >= 0)
                      else a.members
            val frame = AxisFrame(
              src.select((prevCols :+ lvls.head).map(col): _*).distinct(),
              prevDims :+ AxisDim(d, 0))
            Map(0 -> cellsFor(frame, slicer, withSets, Seq(e)))
          case None =>
            val pfLvls = lvls.take(passDepths.max + 1)
            val union = passDepths.map { k =>
              val src = if (selfMixed) a.members.filter(col(DepthCol) >= k)
                        else a.members
              val proj = src
                .select((prevCols ++ lvls.take(k + 1)).map(col): _*)
                .distinct()
              padded(proj, d, pfLvls.drop(k + 1), k)
            }.reduce(_ unionByName _)
            val pc = cellsFor(AxisFrame(union,
              prevDims :+ AxisDim(d, passDepths.max),
              mixedDepths = passDepths, mixedDim = Some(d.name)), slicer,
              withSets, Seq(e))
            passDepths.map(k => k -> pc.filter(col(DepthCol) === k)).toMap
        }
      for (k <- 0 to dMax) {
        val (src, key) = current.lowerOn(passCellsByDepth.getOrElse(k,
            if (selfMixed) cells.filter(col(DepthCol) === dMax) else cells),
          e, Scalar.Site(prevDims :+ AxisDim(d, k), slicer))
        // an earlier mixed dim keys rank partitions and joins by its
        // depth marker too (padded vs genuine nulls)
        val depthKey = if (prevMixed.isDefined) Seq(DepthCol) else Nil
        val w = Window
          .partitionBy((depthKey ++ prevCols ++ lvls.take(k)).map(col): _*)
          .orderBy(cellSort(key, desc), col(lvls(k)).asc)
        val keyCols = depthKey ++ prevCols ++ lvls.take(k + 1)
        val rf0 = src.select(
          keyCols.map(c => col(c).as(s"__rk${i}_${k}_$c")) :+
            row_number().over(w).cast("long").as(s"__hr${i}_$k"): _*)
        // hint from the dims in THIS frame's grain (positions 0..i)
        val rf = if (hintOf(a.dims.take(i + 1)) == Ords.Small)
          broadcast(rf0) else rf0
        val cond = keyCols
          .map(c => joined(c) <=> rf(s"__rk${i}_${k}_$c")).reduce(_ && _)
        val guard = if (selfMixed) joined(DepthCol) >= k else lit(true)
        joined = joined.join(rf, cond && guard, "left")
          .drop(keyCols.map(c => s"__rk${i}_${k}_$c"): _*)
        sortCols += col(s"__hr${i}_$k").asc // asc = nulls first: a
        // shallow member of a mixed position precedes its subtree
      }
    }
    ordered(a, joined, sortCols.result())
  }

  /** Enumerate a calc-free single-dimension set to literal member
    * paths in presentation order — the bridge that lets
    * Union/Head/Tail/Subset compose enumerable sets (Level.Members,
    * Children, ranges, and cell-dependent Filter/Order/Top* — their
    * cells evaluate under `slicer`: the query context on an axis, the
    * default context in a computed WHERE set, matching the
    * computed-slicer convention) with dim-calc entries. Bounded like
    * computed slicers: an entry list is a plan-sized object (it
    * becomes the broadcast side of the axis), never a data-sized one
    * — more than 10k members refuse.
    */
  private def enumerateEntryPaths(set: SetExpr,
      withSets: Map[String, SetExpr],
      slicer: Seq[SlicerItem])
      : Either[String, (String, Vector[Seq[Any]])] = {
    val a = realizeOrd(evalSet(set, slicer, withSets))
    if (a.dims.length != 1)
      return Left("a multi-dimension set combined with a calc-bearing " +
        "set")
    val d = a.dims.head.d
    boundedPaths(a.members.orderBy(col(OrdCol).asc), a.dims.head)
      .map(ps => (d.name, ps)).toRight(s"a set of more than 10000 " +
        s"members on [${d.name}] combined with a calc-bearing set")
  }

  /** The member paths of `members`, rows of a single-dimension frame on
    * `ad`, in their order; None past 10,000 members — a set that becomes
    * a slicer or an entry list must stay plan-sized. Mixed-depth frames
    * null-pad deeper levels: a member's path is its level values up to
    * the first null.
    */
  private def boundedPaths(members: DataFrame,
      ad: AxisDim): Option[Vector[Seq[Any]]] = {
    val lvls = levelCols(ad.d, ad.depth)
    val rows = members.select(lvls.map(col): _*).limit(10001).collect()
    if (rows.length > 10000) None
    else Some(rows.toVector.map { r =>
      val vals = lvls.indices.map(r.get)
      val cut = vals.indexWhere(_ == null)
      (if (cut < 0) vals else vals.take(cut)).toSeq
    }.filter(_.nonEmpty))
  }

  /** Ensure an explicit __ord column exists (hierarchical order default). */
  private def realizeOrd(a: AxisFrame): AxisFrame =
    if (a.hasOrd) a
    else {
      // default asc places nulls first, so a mixed-depth frame's
      // parents (null deeper ordinals) precede their children — the
      // hierarchical (PRE) default
      numbered(a, a.members, axisSort(a))
    }

  // ------------------------------------------------------------ star agg

  /** Dims (with depth) that must be joined under the aggregate. */
  private[olap] def neededJoins(axisDims: Seq[AxisDim],
      slicer: Seq[SlicerItem]): Map[String, Int] = {
    val fromAxis = axisDims.map(ad => ad.d.name -> ad.depth)
    val fromSlicer = slicer.flatMap {
      case MemberSlice(dim, path) => Seq(dim -> (path.length - 1))
      // an empty path set (a computed slicer that matched no member)
      // still joins the dim at root depth; its predicate is lit(false)
      case SetSlice(dim, paths)   =>
        Seq(dim -> (paths.map(_.length).maxOption.getOrElse(1) - 1))
      case ExprSlice(_, dims)     =>
        dims.map(d => d -> (cube.dim(d).levels.length - 1))
      case EvalSlice(_) => throw new IllegalStateException(
        "EvalSlice must be resolved at plan entry (resolveSlicer)")
    }
    (fromAxis ++ fromSlicer)
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).max }
  }

  private val IdentRe = "[A-Za-z_][A-Za-z0-9_]*".r

  /** Fact-side columns a query touches: join keys of the needed dims,
    * degenerate level columns, and every identifier in the measure /
    * slicer expressions. Feeds BoundCube.factFor (engine-level join
    * elimination — Catalyst can't drop an inner join on its own).
    */
  private def requiredFactCols(needed: Map[String, Int],
      slicer: Seq[SlicerItem], extra: Seq[String]): Set[String] = {
    val dimCols = needed.toSeq.flatMap { case (name, depth) =>
      val d = cube.dim(name)
      if (d.degenerate) memberCols(d, depth) else Seq(d.foreignKey)
    }
    val texts = neededMeasures.map(_.expr) ++ extra ++
      slicer.collect { case ExprSlice(sql, _) => sql }
    (dimCols ++ texts.flatMap(t => IdentRe.findAllIn(t))).toSet
  }

  /** Fact joined with the needed dimensions — dimension side broadcast so
    * the fact never shuffles for the star join. A key-derived dimension
    * ([[BoundDim.keyDerived]]) joins nothing: its level columns are
    * computed from the foreign key, and a null key drops its row as the
    * inner join would.
    */
  private[olap] def joinStar(needed: Map[String, Int],
      slicer: Seq[SlicerItem],
      extraCols: Seq[String] = Nil): DataFrame = {
    val base = cube.factFor(requiredFactCols(needed, slicer, extraCols))
    needed.toSeq.sortBy(_._1).foldLeft(base) { case (df, (name, depth)) =>
      val d = cube.dim(name)
      // extraCols may name member-property columns that live on the
      // dim table (drill-through RETURN Property(...) fields)
      lazy val props = extraCols.filter(d.df.columns.contains)
        .filterNot(memberCols(d, depth).contains)
      if (d.degenerate) df // level cols already on the fact
      else if (d.keyDerived && props.isEmpty)
        d.levelsTo(depth).foldLeft(df.filter(col(d.foreignKey).isNotNull))(
          (acc, l) => acc.withColumn(l.col, expr(l.keyExpr.get)))
      else {
        val cols = (d.primaryKey +: (memberCols(d, depth) ++ props)).distinct
        val dimSel = d.df.select(cols.map(col): _*)
        val joined =
          df.join(broadcast(dimSel), df(d.foreignKey) === dimSel(d.primaryKey))
        // keep the pk when it doubles as a level column (e.g. the day level
        // of a date-keyed time dimension); otherwise drop the dim-side pk
        if (memberCols(d, depth).contains(d.primaryKey)) joined
        else joined.drop(dimSel(d.primaryKey))
      }
    }
  }

  /** Apply evaluate-then-prune [[EntryOp]]s to a calc-bearing axis
    * result keyed by a 1-based `__pos` position column: Filter prunes
    * rows by the cell predicate, Order(B) re-ranks by the computed key
    * (prior position breaks ties — a stable sort, like Mondrian's),
    * Head/Tail/Subset slice the surviving order. Positions renumber
    * after each op so downstream positional ops see MDX's "current
    * order" (FilterFunDef preserves input order; a Head above it
    * counts the FILTERED set). The frame is entry-count-sized — the
    * literal member list, never the fact — so the single-partition
    * rank window is cheap by construction and no op re-touches the
    * scan.
    */
  private[olap] def applyEntryOps(df0: DataFrame, ops: Seq[EntryOp],
      dim: String, label: String, hier: Option[EntryHier],
      slicer: Seq[SlicerItem]): DataFrame = {
    // the entry hierarchy's current member is the entry's caption (a
    // calc member has no dimension row, so no property to read)
    val site = Scalar.Site(Nil, slicer, {
      case Scalar.CurrentName(d) if d.equalsIgnoreCase(dim) =>
        col(label).cast("string")
      case Scalar.CurrentOrdinal => col("__pos") - 1
    })
    def resolve(e: String): Column = current.column(e, site)
    def renum(df: DataFrame): DataFrame =
      df.withColumn("__pos",
        row_number().over(Window.orderBy(col("__pos").asc)).cast("long"))
    // densify the seed positions first: they only need correct ORDER
    // (a role-hidden stored entry leaves a gap in the raw entry ids,
    // which would break Head/Subset's `__pos <= n` arithmetic).
    // Hidden ancestor entries (injected for the hierarchical Order's
    // rank computation) stay in the SEED — their cells rank like any
    // sibling — but never enter the live frame: they are not set
    // members, so no Filter/positional op sees them and no axis row
    // renders them.
    val seed = renum(df0)
    val live = hier.filter(_.hidden.nonEmpty) match {
      case Some(h) => renum(seed.where(!col(h.entryCol).cast("int")
          .isin(h.hidden.toSeq: _*)))
      case None => seed
    }
    ops.foldLeft(live) { (df, op) => op match {
      case EntryFilter(cond) => renum(df.filter(resolve(cond)))
      // NON-breaking Order: hierarchical sort over the N entry rows.
      // Per-depth sibling ranks (value in the requested direction,
      // stored-before-calc on ties, seed position last) compose into
      // each entry's ancestor-rank chain; the lexicographic array
      // order puts every ancestor (a strict key prefix) before its
      // descendants and orders sibling subtrees by the ancestors'
      // own cells — Sorter.sortMembers(brk=false). Ranks come from
      // the SEED frame (every entry, pre-Filter): Mondrian evaluates
      // an ancestor's cell whether or not a Filter below the Order
      // kept it in the set, and relative ranks over the full list
      // order any surviving subset identically. All joins are N-row
      // broadcasts; the fact is never re-touched.
      case EntryOrder(e, dir)
          if dir == SortDir.Asc || dir == SortDir.Desc =>
        val h = hier.getOrElse(throw new IllegalArgumentException(
          "non-breaking Order over a calculated-member-bearing set " +
            "needs entry hierarchy metadata — use BASC/BDESC"))
        // ranks evaluate against the SEED frame (pre-op positions), so
        // a position-relative key would silently read stale ordinals —
        // refuse rather than diverge from the breaking branch (ADVICE
        // r15)
        require(!current.formula(e).names.contains(Scalar.CurrentOrdinal),
          "CurrentOrdinal in a non-breaking Order key is not " +
            "supported — the hierarchical sort ranks entries outside " +
            "the live positional order; use BASC/BDESC")
        val key = resolve(e)
        val idc = col(h.entryCol).cast("int")
        val sortVal = cellSort(col("__hval"), dir == SortDir.Desc)
        val parEx = coalesce(
          element_at(typedLit(h.parentOf), idc), lit(-1))
        val calcEx = coalesce(
          element_at(typedLit(h.isCalcOf), idc), lit(false))
        val ranked = seed.withColumn("__hval", key)
          .withColumn("__hr", row_number().over(
            Window.partitionBy(parEx)
              .orderBy(sortVal, calcEx.asc, col("__pos").asc))
            .cast("long"))
        val s = df.sparkSession
        import s.implicits._
        val chain = h.chainOf.toSeq.flatMap { case (i, ch) =>
          ch.zipWithIndex.map { case (a, lvl) => (i, lvl, a) }
        }.toDF("__ci", "__clvl", "__canc")
        val keyArr = chain
          .join(ranked.select(idc.as("__canc"), col("__hr")), "__canc")
          .groupBy("__ci")
          .agg(expr("transform(array_sort(collect_list(" +
            "struct(__clvl, __hr))), x -> x.__hr)").as("__hkey"))
        val joined = df
          .join(broadcast(keyArr), idc === keyArr("__ci"), "left")
        joined.withColumn("__pos", row_number()
            .over(Window.orderBy(
              col("__hkey").asc_nulls_last, col("__pos").asc))
            .cast("long"))
          .drop("__ci", "__hkey")
      case EntryOrder(e, dir) =>
        val sort = cellSort(resolve(e), dir == SortDir.BDesc)
        df.withColumn("__pos", row_number()
          .over(Window.orderBy(sort, col("__pos").asc)).cast("long"))
      case EntryHead(n) => df.filter(col("__pos") <= n)
      case EntryTail(n) =>
        renum(Ords.withTotal(df, "__cnt")
          .filter(col("__pos") > col("__cnt") - n).drop("__cnt"))
      case EntrySubset(start, n) =>
        renum(df.filter(col("__pos") > start && col("__pos") <= start + n))
    }}
  }

  def slicerPredicate(slicer: Seq[SlicerItem]): Column =
    if (slicer.isEmpty) lit(true)
    else slicer.map {
      case MemberSlice(dim, path) => ancestorPredicate(cube.dim(dim), path)
      case SetSlice(dim, paths) =>
        // empty member set (computed slicer matched nothing): no cell
        // satisfies the slicer — empty result, not a crash
        if (paths.isEmpty) lit(false)
        else orAll(paths.map(p => ancestorPredicate(cube.dim(dim), p)))
      case ExprSlice(sql, _) => current.column(sql, Scalar.Site())
      case EvalSlice(_) => throw new IllegalStateException(
        "EvalSlice must be resolved at plan entry (resolveSlicer)")
    }.reduce(_ && _)

  /** The one fact pass per grain — star join (broadcast dims) → slicer
    * filter (pushed to scan) → groupBy(grain).agg(all measures) — behind
    * the cuboid lookup ([[SegmentCache.aggregate]]): the exact segment,
    * or a re-aggregated covering rollup or segment, answers first.
    */
  def aggregate(axisDims: Seq[AxisDim],
      slicer: Seq[SlicerItem]): DataFrame = {
    // direct-API callers (virtual cubes, drill paths) may pass
    // computed slicers; execute() resolves before reaching here, so
    // this is a no-op on the MDX path
    val allSlicer = resolveSlicer(slicer) ++ roleSlicer
    SegmentCache.global.aggregate(this, axisDims, allSlicer) {
      val star = joinStar(neededJoins(axisDims, allSlicer), allSlicer)
      val sliced = star.filter(slicerPredicate(allSlicer))
      val (aggCols, post) = Agg.toColumnsFused(neededMeasures)
      aggregateAt(sliced, groupCols(axisDims), aggCols, post)
    }
  }

  /** Materialize a pre-aggregated rollup at the given grain for
    * AggTable registration (the build side of agg routing). Stores the
    * decomposable partials per grain tuple.
    */
  def buildAggTable(name: String, dimLevels: Seq[(String, String)],
      measureNames: Seq[String]): AggTable = {
    val ms = measureNames.map(cube.measure)
    val axisDims = dimLevels.map { case (dn, ln) =>
      AxisDim(cube.dim(dn), cube.dim(dn).levelIndex(ln))
    }
    val star = joinStar(neededJoins(axisDims, Nil), Nil)
    val aggCols = ms.map(m => Agg.toColumn(m.agg, m.expr).as(m.name))
    val keys = groupCols(axisDims)
    val df = star.groupBy(keys.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*).persist()
    AggTable(name, df,
      axisDims.map(ad => ad.d.name -> ad.depth),
      ms.map(m => m.name -> m.agg).toMap)
  }

  /** Rollup across levels (SURVEY §2.4): one pass over the fact producing
    * every prefix grain + the grand total ("all" member), via Spark's
    * native `rollup` (partial aggregation applies per grain; distinct-count
    * is recomputed per grain by the Expand, never rolled up from sums).
    * `mode` ∈ rollup | cube.
    *
    * Opt r19 (guide §2.3 "aggregate before you shuffle"): Spark plans
    * rollup/cube as Expand BEFORE the first partial aggregate, so every
    * fact row is hashed k+1 (rollup) / 2^k (cube) times and, with a
    * distinct-count present, the first exchange carries the expanded
    * (grouping-set × distinct-key) stream. When EVERY requested measure
    * merges exactly from partials — decimal SumExact, Count (merges as
    * sum of partial counts), Min/Max, DistinctCount (its argument joins
    * the pre-agg grain, so per-grain re-count stays exact) — the fact is
    * first aggregated ONCE at (keys ++ distinct args) grain and the
    * Expand runs over that group-sized frame instead. Plain double
    * Sum/Avg/stats/percentile measures keep the single-pass plan: their
    * merge would reassociate float arithmetic or is not decomposable.
    */
  def rollupAggregate(dimLevels: Seq[(String, String)],
      slicer: Seq[SlicerItem], measureNames: Seq[String],
      mode: String = "rollup"): DataFrame = within(Scope.statement(cube,
      QueryIR(measureNames, None), Nil, defaultMemberName)) {
    val axisDims = dimLevels.map { case (dn, ln) =>
      AxisDim(cube.dim(dn), cube.dim(dn).levelIndex(ln))
    }
    val allSlicer = slicer ++ roleSlicer
    val star = joinStar(neededJoins(axisDims, allSlicer), allSlicer)
    val sliced = star.filter(slicerPredicate(allSlicer))
    val keys = groupCols(axisDims)
    val exactMerge = neededMeasures.forall(_.agg match {
      case Agg.SumExact | Agg.Count | Agg.Min | Agg.Max |
          Agg.DistinctCount => true
      case _ => false
    })
    if (exactMerge) {
      val distincts = neededMeasures.collect {
        case m if m.agg == Agg.DistinctCount => m.expr
      }.distinct
      val dcols = distincts.zipWithIndex.map { case (e, i) =>
        expr(e).as(s"__dc_$i")
      }
      val dname = distincts.zipWithIndex
        .map { case (e, i) => e -> s"__dc_$i" }.toMap
      val partials = neededMeasures.zipWithIndex.collect {
        case (m, i) if m.agg != Agg.DistinctCount =>
          Agg.toColumn(m.agg, m.expr).as(s"__pa_$i")
      }
      val pre = {
        val g = sliced.groupBy(keys.map(col) ++ dcols: _*)
        if (partials.nonEmpty) g.agg(partials.head, partials.tail: _*)
        else g.agg(count(lit(1)).as("__pa_rows")) // all-distinct case
      }
      val merged = neededMeasures.zipWithIndex.map {
        case (m, i) => m.agg match {
          case Agg.DistinctCount =>
            expr(s"count(DISTINCT ${dname(m.expr)})").as(m.name)
          // Count merges as sum(partial counts), whose type is nullable
          // LongType where the single-pass count() is non-nullable; the
          // coalesce restores the non-nullable schema (ADVICE r19 —
          // value-identical: every Expand group descends from >= 1 pre
          // row, so the sum is never null)
          case Agg.Count =>
            coalesce(sum(col(s"__pa_$i")), lit(0L)).as(m.name)
          case a => Agg.partialMerge(a).get(col(s"__pa_$i")).as(m.name)
        }
      }
      val grouped =
        if (mode == "cube") pre.cube(keys.map(col): _*)
        else pre.rollup(keys.map(col): _*)
      grouped.agg(merged.head, merged.tail: _*)
        .select(keys.map(col) ++ neededMeasures.map(m => col(m.name)): _*)
    } else {
      val (aggCols, post) = Agg.toColumnsFused(neededMeasures)
      val grouped =
        if (mode == "cube") sliced.cube(keys.map(col): _*)
        else sliced.rollup(keys.map(col): _*)
      grouped.agg(aggCols.head, aggCols.tail: _*)
        .select(keys.map(col) ++ post: _*)
    }
  }

  /** Role member grants become row filters under the aggregate — the
    * "partial" rollup policy of the reference (schema.rb:468-471):
    * totals reflect only the visible members. Grants on the same
    * dimension union (SetSlice), never intersect. Under the Full
    * policy only axis visibility is restricted (memberFrame), so no
    * fact filter is emitted.
    */
  private[olap] def roleSlicer: Seq[SlicerItem] =
    cube.role.toSeq.flatMap { role =>
      val grantSlices = role.grants.groupBy(_._1)
        .filter { case (dim, _) =>
          role.policyFor(dim) == RollupPolicy.Partial }
        .map {
          case (dim, Seq((_, path))) => MemberSlice(dim, path)
          case (dim, many) => SetSlice(dim, many.map(_._2))
        }
      // revoked subtrees leave Partial totals: a row-level NOT over the
      // denied path's level columns (full rollup keeps the rows — only
      // axis visibility is restricted)
      val denySlices = role.denies.groupBy(_._1)
        .filter { case (dim, _) =>
          role.policyFor(dim) == RollupPolicy.Partial }
        .map { case (dim, ds) =>
          val d = cube.dim(dim)
          val sql = ds.map { case (_, path) =>
            "NOT (" + path.zipWithIndex.map { case (v, i) =>
              s"${d.levels(i).col} = ${Planner.sqlLiteral(v)}"
            }.mkString(" AND ") + ")"
          }.mkString(" AND ")
          ExprSlice(sql, Seq(dim))
        }
      grantSlices ++ denySlices
    }

  // ------------------------------------------------------------- execute

  /** Resolve computed ([[EvalSlice]]) slicer entries to literal
    * member-path slicers: evaluate the set (single dimension, bounded
    * member count — a slicer is a coordinate list, not a data set),
    * read its member paths, and substitute the equivalent
    * [[MemberSlice]]/[[SetSlice]]. Runs ONCE at plan entry so every
    * downstream consumer (star join depth, slicer predicate, segment
    * cache keys) sees only literal slicers.
    */
  private[olap] def resolveSlicer(items: Seq[SlicerItem],
      withSets: Map[String, SetExpr] = Map.empty): Seq[SlicerItem] =
    items.map {
      case EvalSlice(set) =>
        val a = evalSet(set, Nil, withSets)
        require(a.dims.length == 1,
          "a computed slicer set must cover exactly one dimension; " +
            "write multi-dimension slicers as a tuple of entries")
        val d = a.dims.head.d
        val bounded = boundedPaths(a.members, a.dims.head)
        require(bounded.isDefined,
          s"computed slicer on [${d.name}] evaluates to more than " +
            "10000 members — slice by a set literal or level instead")
        bounded.get match {
          case Seq(one) => MemberSlice(d.name, one)
          case paths    => SetSlice(d.name, paths)
        }
      case other => other
    } match { case resolved =>
      // re-apply COMPOUND grouping post-resolution (query.rb:379-386:
      // same-dim members in a slicer tuple OR together): the parser
      // groups literal paths, but a computed entry resolving to the
      // same dimension as another item would otherwise stay a second
      // item and AND into a contradiction
      val (memberish, rest) = resolved.partition(_.memberDim.isDefined)
      val dims = memberish.flatMap(_.memberDim)
      if (dims.distinct.length == dims.length) resolved
      else {
        val grouped = memberish.map {
          case MemberSlice(d, p) => d -> Seq(p)
          case SetSlice(d, ps) => d -> ps
          case other => throw new IllegalStateException(other.toString)
        }.groupBy(_._1).toSeq.map {
          case (d, entries) => entries.flatMap(_._2) match {
            case Seq(one) => MemberSlice(d, one)
            case many => SetSlice(d, many)
          }
        }
        grouped ++ rest
      }
    }

  /** Dim-hosted Aggregate calc members (mondrian_test.rb:197-246):
    * name resolution, recursive set resolution, and the WHERE lowering
    * shared by execute() and drillThrough(). Each member enumerates as
    * ONE root-level member whose cells are the measures aggregated
    * under its set's compound filter — in WHERE that means the set's
    * per-dimension slicer items. A calc path reaching the ordinary
    * Members lowering would predicate-filter to nothing (silent row
    * loss, the one unacceptable failure mode), so every entry point
    * expands through here or refuses loudly.
    */
  private[olap] final class DimCalcLowering(withMembers: Seq[CalcMember],
      withSets: Map[String, SetExpr]) {
    private val byName = (cube.calcMembers ++ withMembers).collect {
      case cm @ CalcMember(_, dc: DimAggCalc, _, _, _, _) =>
        cm.name.toLowerCase -> ((cm, dc))
    }.toMap
    def isEmpty: Boolean = byName.isEmpty
    /** The calc member a literal path denotes, if its LAST segment
      * names one hosted on `dim` (member names are unique per dim).
      */
    def of(dim: String, path: Seq[Any]): Option[(CalcMember, DimAggCalc)] =
      path.lastOption.flatMap(n => byName.get(n.toString.toLowerCase))
        .filter(_._2.dim.equalsIgnoreCase(dim))
    // nested calc references resolve to the union of their sets;
    // the seen-set breaks definition cycles loudly
    def resolve(s: SetExpr, seen: Set[String]): SetExpr = s match {
      case Members(dm, ps) =>
        val (calc, plain) = ps.partition(p => of(dm, p).isDefined)
        val sets =
          (if (plain.nonEmpty) Seq(Members(dm, plain)) else Nil) ++
          calc.map { p =>
            val (cm, dc) = of(dm, p).get
            require(!seen(cm.name.toLowerCase),
              s"calculated member [${cm.name}] aggregates itself")
            resolve(dc.set, seen + cm.name.toLowerCase)
          }
        sets.reduce(UnionSet(_, _, all = true))
      case CrossJoin(a, b) =>
        CrossJoin(resolve(a, seen), resolve(b, seen))
      case UnionSet(a, b, all) =>
        UnionSet(resolve(a, seen), resolve(b, seen), all)
      case other => other
    }
    // a top-level crossjoin pins several dimensions: one slicer
    // entry per side (the computed-slicer resolver is per-dim,
    // same decomposition as the MDX WHERE lowering)
    private def slices(s: SetExpr): Seq[SlicerItem] = s match {
      case CrossJoin(a, b) => slices(a) ++ slices(b)
      case other           => Seq(EvalSlice(other))
    }
    /** The calc member's resolved set as compound slicer items. */
    def sliceOf(cm: CalcMember, dc: DimAggCalc): Seq[SlicerItem] =
      slices(resolve(dc.set, Set(cm.name.toLowerCase)))
    /** The dimensions slicer items constrain; a computed set's by
      * evaluating it.
      */
    def dimsOf(items: Seq[SlicerItem]): Set[String] = items.flatMap {
      case ExprSlice(_, ds) => ds
      case EvalSlice(set)   => evalSet(set, Nil, withSets).dims.map(_.d.name)
      case i                => i.memberDim.toSeq
    }.toSet
    /** `s` with WITH SET references chased to the set they name. */
    def deref(s: SetExpr, seen: Set[String] = Set.empty): SetExpr = s match {
      case NamedSetRef(n) if !seen(n) && withSets.contains(n) =>
        deref(withSets(n), seen + n)
      case other => other
    }
    /** The calc members the literal paths anywhere in the set tree name
      * (named-set refs chased; cycles tolerated).
      */
    def calcNames(s: SetExpr,
        seen: Set[String] = Set.empty): Seq[String] = s match {
      case Members(d, ps) => ps.flatMap(p => of(d, p).map(_._1.name))
      case NamedSetRef(n) =>
        if (seen(n)) Nil
        else withSets.get(n).toSeq.flatMap(calcNames(_, seen + n))
      // every SetExpr is a case class: walk nested sets generically
      case other: Product => other.productIterator.toSeq.flatMap {
        case e: SetExpr => calcNames(e, seen)
        case _          => Nil
      }
    }
    def hasCalcPath(s: SetExpr): Boolean = calcNames(s).nonEmpty
    /** Flatten a calc-bearing set-function tree to ONE literal entry
      * list on one dimension, plus post-evaluation [[EntryOp]]s. Union
      * concatenates position-keyed entries (UnionFunDef: the non-ALL
      * form dedups, first occurrence wins); Head/Tail/Subset/Distinct
      * BELOW any Filter/Order slice the path list directly (positions
      * are known before any cell exists); ABOVE one they become
      * post-evaluation ops, as do Filter/Order themselves (their
      * conditions need cell values first — evaluate-then-prune). Left
      * = the reason the shape stays unsupported (refused by the
      * caller, never silently dropped).
      */
    def flatten(s0: SetExpr, slicer: Seq[SlicerItem] = Nil)
        : Either[String, (String, Vector[Seq[Any]], Vector[EntryOp])] = {
      // dedup on a NORMALIZED key: literal Members paths carry parser
      // Strings while enumerated sides carry native column values (an
      // Integer year), and Mondrian's UnionFunDef treats them as one
      // member — first occurrence wins, matching the role-visibility
      // probe's String.valueOf convention
      def distinctNorm(ps: Vector[Seq[Any]]): Vector[Seq[Any]] = {
        val seen = scala.collection.mutable.HashSet.empty[Seq[String]]
        ps.filter(p => seen.add(p.map(String.valueOf)))
      }
      def go(s: SetExpr)
          : Either[String, (String, Vector[Seq[Any]], Vector[EntryOp])] =
        deref(s) match {
          case Members(d, ps) => Right((d, ps.toVector, Vector.empty))
          // an entirely calc-FREE subtree — navigational OR
          // cell-dependent (Filter/Order/Top* evaluate under `slicer`)
          // — enumerates to literal entries wholesale (bounded), so
          // the set functions compose it with calc members
          case other if !hasCalcPath(other) =>
            enumerateEntryPaths(other, withSets, slicer)
              .map { case (d, ps) => (d, ps, Vector.empty[EntryOp]) }
          case UnionSet(a, b, all) =>
            go(a).flatMap { case (da, pa, oa) =>
              go(b).flatMap { case (db, pb, ob) =>
                if (!da.equalsIgnoreCase(db))
                  Left(s"Union of sets on [$da] and [$db]")
                else if (oa.nonEmpty || ob.nonEmpty)
                  Left("Union over a filtered/ordered side")
                else Right((da,
                  if (all) pa ++ pb else distinctNorm(pa ++ pb),
                  Vector.empty))
              }
            }
          case DistinctSet(inner) => go(inner).flatMap {
            case (d, ps, ops) if ops.isEmpty =>
              Right((d, distinctNorm(ps), ops))
            case _ => Left("Distinct over a filtered/ordered set")
          }
          case HeadSet(inner, n) => go(inner).map {
            case (d, ps, ops) if ops.isEmpty => (d, ps.take(n max 0), ops)
            case (d, ps, ops)                => (d, ps, ops :+ EntryHead(n))
          }
          case TailSet(inner, n) => go(inner).map {
            case (d, ps, ops) if ops.isEmpty =>
              (d, ps.takeRight(n max 0), ops)
            case (d, ps, ops) => (d, ps, ops :+ EntryTail(n))
          }
          case SubsetSet(inner, start, n) => go(inner).map {
            case (d, ps, ops) if ops.isEmpty =>
              (d, ps.slice(start, start + n), ops)
            case (d, ps, ops) => (d, ps, ops :+ EntrySubset(start, n))
          }
          case FilterSet(inner, cond) => go(inner).map {
            case (d, ps, ops) => (d, ps, ops :+ EntryFilter(cond))
          }
          case OrderSet(inner, e, dir) => go(inner).map {
            case (d, ps, ops) => (d, ps, ops :+ EntryOrder(e, dir))
          }
          case other =>
            Left(s"calc path nested inside ${other.getClass.getSimpleName}")
        }
      go(s0)
    }
    /** WHERE lowering, applied BEFORE slicer resolution: a calc member
      * slices by its (recursively resolved) set — the compound-slicer
      * form; a formula naming a nonexistent member resolves to the
      * empty set, nulling cells without erroring
      * (mondrian_test.rb:328-335). A compound (same-dim set) entry may
      * mix stored and calc paths: the calc's resolved set joins the OR
      * union, provided it stays on the host dimension (a cross-dim set
      * cannot distribute over a same-dim OR — refuse loudly). Computed
      * slicer sets containing a calc path refuse loudly too: they
      * resolve to member rows where the calc would silently vanish.
      */
    def expandSlicer(slicer: Seq[SlicerItem]): Seq[SlicerItem] =
      if (isEmpty) slicer
      else slicer.flatMap {
        case ms @ MemberSlice(dim, path) =>
          of(dim, path) match {
            case Some((cm, dc)) => sliceOf(cm, dc)
            case None           => Seq(ms)
          }
        case ss @ SetSlice(dim, paths) =>
          val (calcPs, stored) = paths.partition(p => of(dim, p).isDefined)
          if (calcPs.isEmpty) Seq(ss)
          else {
            val calcItems = calcPs.flatMap { p =>
              val (cm, dc) = of(dim, p).get
              val items = sliceOf(cm, dc)
              // mixed with other same-dim entries, the calc set must
              // stay on the host dim so the compound OR is well-formed;
              // a lone calc in braces behaves like the member form
              if (stored.nonEmpty || calcPs.length > 1) {
                val dims = dimsOf(items)
                require(dims == Set(dim),
                  s"calculated member [${cm.name}] aggregates a set on " +
                    s"[${dims.mkString(", ")}] and cannot join a " +
                    s"compound slicer set on [$dim] — slice it as its " +
                    "own WHERE entry")
              }
              items
            }
            (if (stored.nonEmpty) Seq(SetSlice(dim, stored)) else Nil) ++
              calcItems
          }
        case es @ EvalSlice(set) =>
          if (!hasCalcPath(set)) Seq(es)
          else flatten(set) match {
            // a computed slicer set that flattens to a literal entry
            // list (Union/Head/Tail/Subset/Distinct over literal
            // braces) re-enters as the compound same-dim set form
            case Right((d, ps, ops)) if ops.isEmpty && ps.nonEmpty =>
              expandSlicer(Seq(SetSlice(d, ps)))
            // cell-valued Filter/Order over the calc-bearing set (r14
            // refused): the ops evaluate in the DEFAULT context (the
            // computed-slicer convention — WHERE is being BUILT, so
            // no slicer applies) through a rows-axis sub-query, the
            // single-factor evaluate-then-prune path; the SURVIVORS
            // re-enter as the compound same-dim set. Order inside a
            // slicer only matters through positional ops above it —
            // flatten already folded those into `ops` — so mapping
            // survivors back by caption loses nothing. The sub-query
            // is one fact pass over N literal entries, plan-sized.
            case Right((d, ps, _)) if ps.nonEmpty =>
              val names = ps.map(p => of(d, p) match {
                case Some((cm, _)) => cm.name
                case None          => String.valueOf(p.last)
              })
              require(names.distinct.length == names.length,
                "cell-valued Filter/Order in a computed WHERE set " +
                  "needs distinct entry captions to map the " +
                  "surviving rows back to members")
              val sub = QueryIR(
                measures = Seq(cube.defaultMeasureName),
                rows = Some(set), withSets = withSets,
                withMembers = withMembers)
              val label = cube.dim(d).levels.head.col
              val byName = names.zip(ps).toMap
              val kept = execute(sub).select(label).collect()
                .map(r => byName(String.valueOf(r.get(0)))).toVector
              if (kept.isEmpty)
              // every entry pruned: the slicer matches nothing — the
              // empty-computed-slicer totality convention (cells null)
                Seq(ExprSlice("false", Seq(d)))
              else expandSlicer(Seq(SetSlice(d, kept)))
            // surface flatten's own reason (e.g. the 10k entry bound —
            // the entry list is PLAN-sized by contract: it becomes the
            // broadcast side of the sub-query; a data-sized side must
            // refuse, never collect) ahead of the generic guidance
            case Left(why) => throw new IllegalArgumentException(
              s"calculated member inside a computed slicer set: $why " +
                "— name the member directly in WHERE instead")
            case _ => throw new IllegalArgumentException(
              "calculated member inside a computed slicer set is " +
                "supported only for Union/Head/Tail/Subset/Distinct " +
                "and cell-valued Filter/Order over literal member " +
                "sets — name the member directly in WHERE instead")
          }
        case other => Seq(other)
      }
  }

  /** Expand dim-hosted calc members in a slicer against THIS cube's
    * schema-level members (VirtualCube routes each base cube's slicer
    * through here so a base-defined calc never silently filters the
    * conformed grain to nothing).
    */
  private[olap] def expandDimCalcSlicer(
      slicer: Seq[SlicerItem]): Seq[SlicerItem] =
    new DimCalcLowering(Nil, Map.empty).expandSlicer(slicer)

  /** Plan a statement. The one choke point for MDX and builder queries,
    * nested sub-queries included: a statement repeated while its cube's
    * data epoch is unchanged is served from its stored rows (the
    * cell-set layer, [[SegmentCache.cellSet]]).
    */
  def execute(q: QueryIR): DataFrame =
    if (!SegmentCache.enabled) render(q)
    else SegmentCache.global.cellSet(cube, q)(render(q))

  private def render(stmt: QueryIR): DataFrame = {
    // PAGES/CHAPTERS/SECTIONS lower to outer products with ROWS:
    // CrossJoin order is left-major, which is exactly Mondrian's
    // axis-ordinal iteration (higher axes vary slowest, so SECTIONS is
    // outermost). A query naming no measures gets the cube's default
    // measure (reference: queries without a COLUMNS axis still
    // evaluate cells, query_test.rb:743-746).
    val outerAxes = Seq(stmt.sections, stmt.chapters, stmt.pages).flatten
    val q0 = stmt.copy(
      measures =
        if (stmt.measures.nonEmpty) stmt.measures
        else Seq(cube.defaultMeasureName),
      rows =
        if (outerAxes.isEmpty) stmt.rows
        else Some((outerAxes ++ stmt.rows.toSeq).reduceRight(CrossJoin(_, _))),
      pages = None, chapters = None, sections = None)
    // the statement's names resolve before anything is evaluated
    within(pruneFor(q0)) {
      // dim-hosted Aggregate calc members in WHERE expand to their
      // compound set slicers (and unsupported slicer shapes refuse)
      // BEFORE resolution — a calc path reaching the ordinary set
      // machinery would predicate-filter to nothing silently
      val dcl = new DimCalcLowering(q0.withMembers, q0.withSets)
      val q = q0.copy(slicer =
        resolveSlicer(dcl.expandSlicer(q0.slicer), q0.withSets))
      // Detect dim-hosted calc members in ANY rows-axis shape — never
      // just the bare literal Members arm. A calc path that reaches the
      // ordinary Members lowering predicate-filters to nothing and the
      // rows vanish SILENTLY (the one unacceptable failure mode), so:
      // a calc-bearing literal set — alone or CrossJoined with calc-free
      // factors (query_test.rb:157-174 pins crossjoin iteration over
      // calc members) — lowers through the fused pass ([[FusedAxis]]);
      // every other shape refuses loudly there.
      FusedAxis.render(this, dcl, q).getOrElse(q.rows match {
        case None =>
          val cells = aggregate(Nil, q.slicer)
          val withCalcs = applyCalcs(cells, Nil, q.slicer, q.withSets)
          withCalcs.select(q.measures.map(col): _*)
        case Some(set) =>
          val axis = evalSet(set, q.slicer, q.withSets)
          val joined = joinCells(axis, q.slicer)
          val withCalcs = applyCalcs(joined, axis.dims, q.slicer, q.withSets)
          presented(nonEmptyRows(q, withCalcs), axisSort(axis), axis.dims)
            .select((groupCols(axis.dims) ++ q.measures).map(col): _*)
      })
    }
  }

  /** NON EMPTY drops rows empty in every DISPLAYED column (q.measures),
    * not in dependency-only measures (ADVICE r1).
    */
  private[olap] def nonEmptyRows(q: QueryIR, df: DataFrame): DataFrame =
    if (!q.nonEmpty) df
    else df.filter(q.measures.map(col(_).isNotNull).reduce(_ || _))

  /** Calc-member layer in solve order: Expr calcs are plain column
    * expressions; Window calcs lower to Spark Window functions over the
    * member ordinals (SURVEY §2.5 — MDX relative navigation → Window).
    * `calcs` default to the statement's; every one is evaluated or
    * refused by name, never dropped. With `ctx`, `df` is a fused
    * dim-calc frame and every calc is evaluated per axis entry. With
    * `setOp`, `df` is a set's cells for a cell-dependent set op
    * (Filter/Order/TopK) and `calcs` are the ones its keys read
    * (ORDER(set, ([Measures].[m], [dim].[member]), ASC) lowers the
    * tuple to a hidden SetAggCalc); a Window calc there refuses, since
    * it needs the final axis order.
    */
  private[olap] def applyCalcs(df: DataFrame,
      axisDims: Seq[AxisDim],
      slicer: Seq[SlicerItem],
      withSets: Map[String, SetExpr],
      calcs: Seq[CalcMember] = neededCalcs,
      ctx: Option[EntryCtx] = None, setOp: Boolean = false): DataFrame = {
    val site = siteOf(axisDims, slicer, ctx)
    calcs.foldLeft(df) { (acc, cm) =>
      cm.calc match {
        case ExprCalc(sql) =>
          val (on, c) = current.lowerOn(acc, sql, site)
          on.withColumn(cm.name, c)
        case WindowCalc(base, kind, overDim, resetLevel) =>
          val ad = axisDims.find(_.d.name == overDim)
          require(!setOp && ad.isDefined,
            s"calculated member [${cm.name}] navigates [$overDim] " +
              (if (setOp) "over the final axis order, which a Filter, " +
                "Order or TopCount key cannot read"
               else "while that hierarchy is on no axis of the statement"))
          acc.withColumn(cm.name, windowColumn(current.column(base, site),
            kind, ad.get, axisDims, resetLevel,
            ctx.fold(Seq.empty[String])(_.cols)))
        case sac: SetAggCalc =>
          setAggColumn(acc, cm.name, sac, axisDims, slicer, withSets, ctx)
        case lrc: LinRegCalc =>
          linRegColumn(acc, cm.name, lrc, axisDims, slicer, withSets, ctx)
        case _: DimAggCalc => acc // axis member, not a cell column
      }
    }
  }

  /** The lowering site of a calc over `dims`: in a fused frame the
    * entry hierarchy's current member is the entry caption.
    */
  private def siteOf(dims: Seq[AxisDim], slicer: Seq[SlicerItem],
      ctx: Option[EntryCtx]): Scalar.Site =
    Scalar.Site(dims, slicer,
      ctx.fold(PartialFunction.empty[Scalar.Name, Column])(_.bound))

  /** Sum/Avg/Aggregate(set) and LinReg series sets iterate member
    * VALUES; a dim-hosted calc member inside one would need per-member
    * cell evaluation (its value is itself an aggregate), which the
    * subcube-fold lowering cannot express — and the ordinary set
    * machinery would silently filter the synthetic name to nothing.
    * Refuse loudly instead (the engine-wide dim-calc principle:
    * execute or refuse, never drop). Checked against every calc member
    * of the cube and the statement: a member path names a dim-hosted
    * calc by position, not by a formula name the scope reads.
    */
  private def requireNoDimCalcMember(set: SetExpr,
      withSets: Map[String, SetExpr], ctx: String): Unit =
    require(!new DimCalcLowering(current.withMembers, withSets)
        .hasCalcPath(set),
      s"calculated member inside $ctx is not supported — aggregate " +
        "the member's own set there instead")

  /** The subcube a set-aggregating calc member folds per axis cell: its
    * set's `frame` and key columns, and the axis it keeps. MDX context
    * override: a set over a hierarchy that is ALSO on the axis replaces
    * that hierarchy's cell coordinate (its members carry their own
    * ancestors), so the axis dim drops out of the grain and the value
    * repeats per overridden row.
    */
  private final class SetAggScope(set: SetExpr, what: String,
      axisDims: Seq[AxisDim], slicer: Seq[SlicerItem],
      withSets: Map[String, SetExpr], ctx: Option[EntryCtx]) {
    requireNoDimCalcMember(set, withSets, what)
    val frame: AxisFrame = evalSet(set, slicer, withSets)
    val setKeys: Seq[String] = groupCols(frame.dims)
    val keptAxis: Seq[AxisDim] = axisDims.filterNot(ad =>
      frame.dims.exists(_.d.name == ad.d.name))
    val keptKeys: Seq[String] =
      ctx.fold(Seq.empty[String])(_.cols) ++ groupCols(keptAxis)
    /** The cells at kept axis × set grain (per entry in a fused frame). */
    def cells: DataFrame = ctx.fold(aggregate(keptAxis ++ frame.dims,
      slicer))(_.cells(keptAxis, frame.dims))
    /** `acc` with the per-kept-cell frame `side` joined on (broadcast). */
    def attach(acc: DataFrame, side: DataFrame): DataFrame =
      if (keptKeys.isEmpty) acc.crossJoin(broadcast(side))
      else joinLeft(acc, side, keptKeys, ctx)
  }

  /** MDX Sum/Avg/Min/Max/Count/Aggregate(set[, measure]) per axis cell:
    * aggregate the subcube at (axis grain × set grain) restricted to the
    * set's members, then fold the per-member values back to the axis
    * grain. One extra aggregation + a broadcast join — the set member
    * frame stays on the dimension side, never a fact re-scan per cell.
    */
  private def setAggColumn(acc: DataFrame, name: String, sac: SetAggCalc,
      axisDims: Seq[AxisDim], slicer: Seq[SlicerItem],
      withSets: Map[String, SetExpr], ctx: Option[EntryCtx]): DataFrame = {
    val sc = new SetAggScope(sac.set, s"the ${sac.fn}(set) of measure " +
      s"[$name]", axisDims, slicer, withSets, ctx)
    val members = sc.frame.members.select(sc.setKeys.map(col): _*)
      .distinct()
    if (sac.fn == "COUNT" && sac.includeEmpty) {
      // member count is axis-independent: no fact scan at all. Joined
      // in as a lazy broadcast scalar — not a driver-side count() —
      // so building the query plan never runs a job.
      return acc.crossJoin(broadcast(members.agg(count(lit(1)).as(name))))
    }
    val restricted = sc.cells.join(broadcast(members), sc.setKeys,
      "left_semi")
    val m = cube.measures.find(_.name == sac.measure)
    // the measure slot may carry a lowered EXPRESSION
    // (Aggregate(set, [Measures].[m] * 2), mondrian_test.rb:224-229):
    // evaluated per member over the restricted subcube's measure
    // columns; a plain name resolves to its column either way
    lazy val valueCol = current.column(sac.measure,
      siteOf(sc.keptAxis ++ sc.frame.dims, slicer, ctx))
    val aggCol = (sac.fn match {
      case "SUM" => sum(valueCol)
      case "AVG" => avg(valueCol)
      case "MIN" => min(valueCol)
      case "MAX" => max(valueCol)
      case "COUNT" => count(if (sac.measure.isEmpty) lit(1) else valueCol)
      // tuple calc member ([Measures].[m], member...): the set pins one
      // coordinate per dimension, so the fold sees at most one row —
      // first() is the identity for every measure type
      case "CELL" => first(valueCol, ignoreNulls = false)
      case "AGGREGATE" => m.map(_.agg) match {
        case Some(Agg.Sum) | Some(Agg.SumExact) | Some(Agg.Count) =>
          sum(valueCol)
        case Some(Agg.Min) => min(valueCol)
        case Some(Agg.Max) => max(valueCol)
        // an EXPRESSION argument (not a declared measure) aggregates
        // additively over the per-member values — the reference's
        // Aggregate(set, expr) semantics on sum-backed measures
        case None if !cube.measures.exists(_.name == sac.measure) =>
          sum(valueCol)
        case other => throw new IllegalArgumentException(
          s"Aggregate(set) needs a decomposable measure, got $other")
      }
      case other => throw new IllegalArgumentException(
        s"unknown set aggregate '$other'")
    }).as(name)
    sc.attach(acc,
      if (sc.keptKeys.isEmpty) restricted.agg(aggCol)
      else restricted.groupBy(sc.keptKeys.map(col): _*).agg(aggCol))
  }

  /** Left-join a per-cell frame back onto the axis frame (broadcast):
    * through the fused dim-calc context's null-safe join when present.
    */
  private def joinLeft(acc: DataFrame, side: DataFrame, keys: Seq[String],
      ctx: Option[EntryCtx]): DataFrame =
    ctx.fold(acc.join(broadcast(side), keys, "left"))(
      _.join(acc, side, keys, true))

  /** Per-query memo of LinReg moment folds: the common WITH block
    * declares several statistics over the SAME (set, y, x) series
    * (slope + intercept + R2 together), and each would otherwise
    * re-aggregate the subcube — one fact pass per statistic. The fold
    * is keyed by the kept grain too (the same series under different
    * axes folds differently) and pinned, so every statistic reads the
    * one persisted moments frame.
    */
  private val lrMoments = scala.collection.mutable.HashMap
    .empty[(SetExpr, String, String, Seq[String], Seq[SlicerItem],
      Map[String, SetExpr], Option[EntryCtx]), DataFrame]

  /** Each member of `f` with its 1-based position in `f`'s order as
    * `name`, keyed by its level columns: a single window for
    * dimension-bounded sets, the distributed numbering when the dim is
    * flagged high_cardinality ([[Ords]]).
    */
  private def seriesRank(f: AxisFrame, name: String): DataFrame = {
    val ordBy = axisSort(f)
    val cols = f.dims.flatMap(fd => memberCols(fd.d, fd.depth)) ++
      (if (f.hasOrd) Seq(OrdCol) else Nil)
    Ords.rowNumber(f.members.select(cols.distinct.map(col): _*).distinct(),
        ordBy, name, hintOf(f.dims))
      .select((groupCols(f.dims) :+ name).map(col): _*)
  }

  /** MDX LinRegSlope/Intercept/R2/Variance(set, y, x) per axis cell:
    * one (x, y) point per SET MEMBER — the series rank
    * ([[Scalar.SeriesRank]]) is the member's 1-based position in the
    * set's order,
    * measure refs are the member's cell value — then a single-pass OLS
    * moment fold (n, Σx, Σy, Σxx, Σyy, Σxy) per axis cell. Like
    * [[setAggColumn]], the member frame stays dimension-side
    * (broadcast-sized by design, so its rank window is fine) and the
    * fact is touched once at (axis × set) grain. NULL points are
    * skipped; an empty point set or a zero denominator yields NaN
    * (reference mondrian_test.rb:673-686 pins NULL-series → NaN).
    * VARIANCE is the residual SUM of squares — the reference's golden
    * 266.67/104.17 values (mondrian_test.rb:689-766) are Σ(y-ŷ)², not
    * the /n variance.
    */
  private def linRegColumn(acc: DataFrame, name: String, lrc: LinRegCalc,
      axisDims: Seq[AxisDim], slicer: Seq[SlicerItem],
      withSets: Map[String, SetExpr], ctx: Option[EntryCtx]): DataFrame = {
    val sc = new SetAggScope(lrc.set,
      s"the LinReg series set of measure [$name]", axisDims, slicer,
      withSets, ctx)
    val (setKeys, keptKeys) = (sc.setKeys, sc.keptKeys)
    // The slicer, the WITH-set bindings and the fused dim-calc entry
    // context parameterize evalSet and the inner aggregate, so all
    // belong in the key, or one query reads another's moments (stale
    // slope/intercept/R2 cells).
    val moments = lrMoments.getOrElseUpdate(
      (lrc.set, lrc.yExpr + lrc.rankSet.fold("")("#" + _), lrc.xExpr,
        keptKeys, slicer, withSets, ctx), {
    val ranked = seriesRank(sc.frame, "__lr_rank")
    val inner = sc.cells
    // every set member contributes a point even without fact rows (the
    // reference's rank-only CASE series span members with no data), so
    // the ranked members LEFT-join their cell values — per axis cell
    // when the axis keeps other dims
    val series0 =
      if (keptKeys.isEmpty) ranked.join(inner, setKeys, "left")
      else {
        val grid = inner.select(keptKeys.map(col): _*).distinct()
          .crossJoin(broadcast(ranked))
        ctx.fold(grid.join(inner, keptKeys ++ setKeys, "left"))(
          _.join(grid, inner, keptKeys ++ setKeys, false))
      }
    // Rank over a DIFFERENT set — Mondrian member-identity semantics:
    // the position when the series member IS in that set (same level
    // ⇒ identical key columns, keyed join), 0 when absent, and 0
    // structurally when the sets enumerate different levels (a member
    // of one level is never a member of another)
    val series = lrc.rankSet match {
      case None => series0
      case Some(rs) =>
        val rf = evalSet(rs, slicer, withSets)
        if (groupCols(rf.dims) != setKeys)
          series0.withColumn("__lr_xrank", lit(0))
        else
          series0.join(broadcast(seriesRank(rf, "__lr_xrank")), setKeys,
              "left")
            .withColumn("__lr_xrank", coalesce(col("__lr_xrank"), lit(0)))
    }
    val seriesSite = Scalar.Site(sc.keptAxis ++ sc.frame.dims, slicer, {
      case Scalar.SeriesRank => col("__lr_rank")
      case Scalar.OtherRank  => col("__lr_xrank")
    })
    def lower(e: String): Column =
      current.column(e, seriesSite).cast("double")
    val pts = series
      .withColumn("__lr_y", lower(lrc.yExpr))
      .withColumn("__lr_x", lower(lrc.xExpr))
      .filter(col("__lr_x").isNotNull && col("__lr_y").isNotNull)
    val nC = count(lit(1)).cast("double").as("__n")
    val folds = Seq(nC, sum(col("__lr_x")).as("__sx"),
      sum(col("__lr_y")).as("__sy"),
      sum(col("__lr_x") * col("__lr_x")).as("__sxx"),
      sum(col("__lr_y") * col("__lr_y")).as("__syy"),
      sum(col("__lr_x") * col("__lr_y")).as("__sxy"))
    Pins.pin((
      if (keptKeys.isEmpty) pts.agg(folds.head, folds.tail: _*)
      else pts.groupBy(keptKeys.map(col): _*).agg(folds.head, folds.tail: _*)
    ).persist())
    })
    def safeDiv(a: Column, b: Column): Column =
      when(b === 0.0, lit(Double.NaN)).otherwise(a / b)
    val n = col("__n"); val sx = col("__sx"); val sy = col("__sy")
    val covN = col("__sxy") * n - sx * sy          // n² · cov(x,y)
    val varXN = col("__sxx") * n - sx * sx         // n² · var(x)
    val varYN = col("__syy") * n - sy * sy         // n² · var(y)
    val slope = safeDiv(covN, varXN)
    val intercept = safeDiv(sy - slope * sx, n)
    if (lrc.fn == "POINT") {
      // the fitted line evaluated at xSlice, which lowers in the OUTER
      // cell context (it may reference axis measures) — so slope and
      // intercept join back first and the prediction is a plain column
      // over the axis frame
      val mC = s"__lr_m_$name"; val bC = s"__lr_b_$name"
      val o = moments.select((keptKeys.map(col) ++ Seq(
        when(n === 0.0, lit(Double.NaN)).otherwise(slope).as(mC),
        when(n === 0.0, lit(Double.NaN)).otherwise(intercept).as(bC))): _*)
      val joined = sc.attach(acc, o)
      val px = current.column(lrc.pointX.getOrElse(
          throw new IllegalArgumentException(
            "LinRegPoint requires the x-slice argument")),
        siteOf(axisDims, slicer, ctx)).cast("double")
      return joined
        .withColumn(name,
          coalesce(col(mC) * px + col(bC), lit(Double.NaN)))
        .drop(mC, bC)
    }
    val stat = when(n === 0.0, lit(Double.NaN)).otherwise(lrc.fn match {
      case "SLOPE" => slope
      case "INTERCEPT" => intercept
      case "R2" => safeDiv(covN * covN, varXN * varYN)
      // residual sum of squares: Syy_c - slope · Sxy_c
      case "VARIANCE" =>
        (col("__syy") - safeDiv(sy * sy, n)) -
          slope * (col("__sxy") - safeDiv(sx * sy, n))
      case other => throw new IllegalArgumentException(
        s"unknown LinReg statistic '$other'")
    })
    val joined = sc.attach(acc,
      moments.select((keptKeys.map(col) :+ stat.as(name)): _*))
    if (keptKeys.isEmpty) joined
    else joined.withColumn(name, coalesce(col(name), lit(Double.NaN)))
  }

  private def windowColumn(e: Column, kind: WinKind, ad: AxisDim,
      axisDims: Seq[AxisDim], resetLevel: Option[String],
      entryCols: Seq[String]): Column = {
    val others = entryCols ++ axisDims.filterNot(_.d.name == ad.d.name)
      .flatMap(o => levelCols(o.d, o.depth))
    val resetDepth = resetLevel.map(ad.d.levelIndex).getOrElse(-1)
    val partCols = others ++
      ad.d.levelsTo(ad.depth).take(resetDepth + 1).map(_.col)
    val ordCols = ad.d.levelsTo(ad.depth).drop(resetDepth + 1)
      .map(l => col(l.ordinal).asc)
    val part =
      if (partCols.isEmpty) Window.partitionBy()
      else Window.partitionBy(partCols.map(col): _*)
    kind match {
      case WinKind.LagK(k)  => lag(e, k).over(part.orderBy(ordCols: _*))
      case WinKind.LeadK(k) => lead(e, k).over(part.orderBy(ordCols: _*))
      case WinKind.RunningSum =>
        sum(e).over(part.orderBy(ordCols: _*)
          .rowsBetween(Window.unboundedPreceding, 0))
      case WinKind.MovingSum(n) =>
        sum(e).over(part.orderBy(ordCols: _*).rowsBetween(-(n - 1), 0))
      case WinKind.FirstVal =>
        first(e).over(part.orderBy(ordCols: _*)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
      case WinKind.LastVal =>
        last(e).over(part.orderBy(ordCols: _*)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
      case WinKind.RankDesc =>
        rank().over(part.orderBy(e.desc))
    }
  }

  // ------------------------------------------------- incremental merge

  /** Reconstruct the (dim, depth) grain from a segment key's column
    * list: for each dimension take the deepest level whose key columns
    * are all present; the chosen dims must cover the grain exactly.
    */
  private def axisDimsForGrain(grain: Seq[String]): Option[Seq[AxisDim]] = {
    val want = grain.toSet
    var covered = Set.empty[String]
    val dims = Vector.newBuilder[AxisDim]
    cube.dims.foreach { d =>
      val depths = d.levels.indices
        .filter(dep => levelCols(d, dep).forall(want.contains))
      if (depths.nonEmpty) {
        val dep = depths.max
        dims += AxisDim(d, dep)
        covered ++= levelCols(d, dep)
      }
    }
    if (covered == want) Some(dims.result()) else None
  }

  /** An INSERT-delta batch's rows at a cached segment's exact (grain,
    * slicer, measures), one raw partial per measure and row
    * ([[Planner.rowPartial]]), so the segment can be merged in place
    * instead of evicted — the streaming-maintenance analog of the
    * reference's segment update after fact inserts. The rows are not
    * aggregated here: the merge folds them into the segment with one
    * union re-aggregate by each measure's [[Agg.partialMerge]], so each
    * merge costs one exchange. None when the segment holds a
    * non-decomposable measure (avg, distinct count, stats): those must
    * recompute. Min/Max merge is insert-only
    * (a delete could shift them) — deletes should evict.
    */
  def deltaSegment(grain: Seq[String], slicer: Seq[SlicerItem],
      measureNames: Seq[String], delta: DataFrame): Option[DataFrame] = {
    val ms = measureNames.flatMap(n => cube.measures.find(_.name == n))
    if (ms.length != measureNames.length) return None
    if (!ms.forall(m => Agg.partialMerge(m.agg).isDefined)) return None
    axisDimsForGrain(grain).map { axisDims =>
      val p2 = new Planner(
        cube.copy(fact = delta, factPruner = None, aggTables = Nil))
      val star = p2.joinStar(p2.neededJoins(axisDims, slicer), slicer)
      star.filter(p2.slicerPredicate(slicer)).select(grain.map(col) ++
        ms.map(m => Planner.rowPartial(m.agg, m.expr).as(m.name)): _*)
    }
  }

  /** Merge plan for a segment's measures: measure → partial-merge fn. */
  def mergePlanFor(measureNames: Seq[String])
      : Seq[(String, Column => Column)] =
    measureNames.flatMap(n => cube.measures.find(_.name == n)
      .flatMap(m => Agg.partialMerge(m.agg)).map(n -> _))

  // --------------------------------------------------------- drill-through

  /** Cell → detail rows (SURVEY §2.11): keep the cell predicate, join the
    * needed dims, project the return fields. Pure DataFrame composition —
    * no SQL string surgery.
    */
  def drillThrough(slicer: Seq[SlicerItem], returnCols: Seq[String],
      dims: Map[String, String] = Map.empty,
      nonEmptyCol: Option[String] = None,
      maxRows: Option[Int] = None,
      groupByFields: Boolean = false,
      withMembers: Seq[CalcMember] = Nil,
      withSets: Map[String, SetExpr] = Map.empty): DataFrame = {
    // computed (EvalSlice) entries resolve here too — DRILLTHROUGH
    // with a computed WHERE arrives unresolved (Mdx drillThrough path).
    // Dim-hosted Aggregate calc members in WHERE expand to their
    // compound set first: drilling the calc cell returns the rows of
    // its aggregated region (the execute() WHERE convention) — the
    // synthetic name would otherwise filter to zero rows silently.
    val expanded = new DimCalcLowering(withMembers, withSets)
      .expandSlicer(slicer)
    val allSlicer = resolveSlicer(expanded) ++ roleSlicer
    val depths = dims.map { case (d, lvl) => d -> cube.dim(d).levelIndex(lvl) }
    val needed = neededJoins(Nil, allSlicer) ++ depths
    val star = joinStar(needed, allSlicer, returnCols)
    val sliced = star.filter(slicerPredicate(allSlicer))
    val ne = nonEmptyCol.map(c => sliced.filter(col(c).isNotNull))
      .getOrElse(sliced)
    val base =
      // no RETURN clause → the full drill row (reference default)
      if (returnCols.isEmpty && !groupByFields) ne
      else if (!groupByFields) ne.select(returnCols.map(col): _*)
      else {
        val (mCols, dCols) = returnCols.partition(c =>
          cube.measures.exists(_.name == c))
        val aggCols = mCols.map { n =>
          val m = cube.measure(n); Agg.toColumn(m.agg, m.expr).as(n)
        }
        ne.groupBy(dCols.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
      }
    maxRows.map(base.limit).getOrElse(base)
  }
}

object Planner {
  val OrdCol = "__ord"

  /** Post-evaluation ops a calc-bearing axis factor carries ABOVE its
    * literal entry list (the evaluate-then-prune pattern, same shape as
    * NON EMPTY): the fused single pass aggregates every entry first,
    * then Filter prunes the N-row result by the cell predicate, Order
    * re-ranks it, Head/Tail/Subset slice the surviving order. Upstream
    * Mondrian's set functions iterate calc members like any member
    * (FilterFunDef/OrderFunDef/HeadTailFunDef; query_test.rb:282-299
    * Filter, :473-484 Head) — this reproduces that on the aggregated
    * axis rows instead of per-member cell reads.
    */
  private[olap] sealed trait EntryOp
  private[olap] final case class EntryFilter(cond: String) extends EntryOp
  private[olap] final case class EntryOrder(expr: String, dir: SortDir)
      extends EntryOp
  private[olap] final case class EntryHead(n: Int) extends EntryOp
  private[olap] final case class EntryTail(n: Int) extends EntryOp
  private[olap] final case class EntrySubset(start: Int, n: Int)
      extends EntryOp

  /** Entry-list hierarchy metadata for NON-breaking Order (Mondrian
    * `Sorter.sortMembers` with brk=false: ancestors always precede
    * descendants; SIBLINGS compare by the sort expression's value —
    * `FunUtil.compareHierarchicallyButSiblingsByValue`). Keyed by SET
    * POSITION (the stable entry id every lowering carries): `chainOf`
    * is each entry's ancestor-entry chain root-first ending at itself,
    * `parentOf` its parent entry (-1 = hierarchy root), `isCalcOf`
    * breaks value ties stored-before-calc (compareSiblingMembers'
    * calc-collates-last). Ancestors missing from the set are injected
    * as `hidden` entries (aggregated and ranked, never rendered), so
    * the comparisons resolve entirely within the N aggregated rows.
    */
  private[olap] final case class EntryHier(entryCol: String,
      parentOf: Map[Int, Int], chainOf: Map[Int, Seq[Int]],
      isCalcOf: Map[Int, Boolean], hidden: Set[Int] = Set.empty)

  /** SQL literal for a member-path segment (role deny predicates):
    * numbers raw, strings single-quoted with quotes doubled.
    */
  def sqlLiteral(v: Any): String = v match {
    case n: Int    => n.toString
    case n: Long   => n.toString
    case n: Double => n.toString
    case s         => "'" + String.valueOf(s).replace("'", "''") + "'"
  }

  /** Depth marker column of a mixed-depth axis frame (union of members
    * at different levels of one hierarchy — reference
    * query_test.rb:231-260: rows('[Customers].[Country].Members',
    * '[Customers].[City].Members')). Frames are padded to the deepest
    * level with typed nulls; __depth records each member's own level.
    */
  val DepthCol = "__depth"

  final case class AxisDim(d: BoundDim, depth: Int)

  /** A sort by a cell value in which an empty cell is -infinity
    * (FunUtil.compareValues): first ascending, last descending — Spark's
    * default null order. A TOP op sorts descending, a BOTTOM one
    * ascending.
    */
  def cellSort(v: Column, desc: Boolean): Column =
    if (desc) v.desc_nulls_last else v.asc_nulls_first

  /** An axis frame's presentation order: its explicit order column
    * (`ordCol`, for a caller that renamed [[OrdCol]]) when it has one,
    * else every dim's level ordinals root-first.
    */
  def axisSort(a: AxisFrame, ordCol: String = OrdCol): Seq[Column] =
    if (a.hasOrd) Seq(col(ordCol).asc)
    else a.dims.flatMap(ad =>
      ad.d.levelsTo(ad.depth).map(l => col(l.ordinal).asc))

  /** Cardinality hint for an axis frame's ordering ops: a frame is
    * dimension-bounded (single-window cheap path) unless one of its
    * dims carries the reference's high_cardinality hint.
    */
  private[olap] def hintOf(dims: Seq[AxisDim]): Ords.SizeHint =
    if (dims.exists(_.d.highCardinality)) Ords.Large else Ords.Small

  /** A rendered axis result in its presentation order `sort`. Rows of a
    * dimension-bounded axis (by [[hintOf]] over `dims`) gather into one
    * partition and sort there: a global sort would spend a range-sampling
    * job and a shuffle job ordering a member-count-sized frame. An axis
    * over a high_cardinality dimension keeps the range-partitioned sort.
    */
  private[olap] def presented(df: DataFrame, sort: Seq[Column],
      dims: Seq[AxisDim]): DataFrame =
    if (hintOf(dims) == Ords.Small)
      df.coalesce(1).sortWithinPartitions(sort: _*)
    else df.orderBy(sort: _*)

  /** The per-entry cell context of a fused dim-calc frame (one row per
    * axis entry × other-factor tuple): `cols` are the entry key columns
    * a context-dependent calc also groups, partitions and joins by;
    * `cells(kept, set)` aggregates the entry-exploded scan at entry ×
    * kept × set grain (a per-entry `aggregate`); `join(left, right,
    * keys, broadcast)` left-joins a per-entry frame back (null-safe
    * where a context override or mixed-depth padding leaves null keys);
    * `bound` binds the entry hierarchy's current member to the entry
    * caption column.
    */
  private[olap] final case class EntryCtx(cols: Seq[String],
      cells: (Seq[AxisDim], Seq[AxisDim]) => DataFrame,
      join: (DataFrame, DataFrame, Seq[String], Boolean) => DataFrame,
      bound: PartialFunction[Scalar.Name, Column])

  /** One fact row's partial of a decomposable measure, in the form its
    * merge fn folds: SumExact's DECIMAL(38,10) cast, Count's 0/1, and
    * the plain expression for Sum, Min and Max.
    */
  def rowPartial(agg: Agg, e: String): Column = agg match {
    case Agg.SumExact => expr(s"CAST(($e) AS DECIMAL(38,10))")
    case Agg.Count    => when(expr(e).isNull, 0L).otherwise(1L)
    case _            => expr(e)
  }

  /** An evaluated axis set: member tuples + the dims/depths involved.
    * `members` carries the level key columns and ordinal columns; when
    * `hasOrd`, an explicit __ord column fixes the presentation order
    * (set by Order, TopCount, Head, Tail, Hierarchize).
    */
  final case class AxisFrame(members: DataFrame, dims: Seq[AxisDim],
      hasOrd: Boolean = false,
      /** Distinct member depths when the frame is mixed-depth (empty =
        * uniform). Mixed frames carry [[DepthCol]] and null-padded
        * deeper level columns; cells join per depth grain.
        */
      mixedDepths: Seq[Int] = Nil,
      /** The dimension the mixed depths belong to (one hierarchy may be
        * mixed per frame).
        */
      mixedDim: Option[String] = None) {
    /** Depths present for the mixed dim (its own uniform depth when the
      * frame is not mixed).
      */
    def depthsOf: Seq[Int] =
      if (mixedDepths.nonEmpty) mixedDepths else Seq(dims.head.depth)
  }

  /** Balanced OR over a plan-sized predicate list. A linear
    * `reduce(_ || _)` builds a list-deep Column tree, which overflows
    * the analyzer's recursive converter around ~1k terms — well under
    * the 10k entry bound the compound-slicer contract allows. The
    * balanced tree keeps expression depth at log2(n) (r16).
    */
  def orAll(cs: Seq[Column]): Column = {
    require(cs.nonEmpty, "orAll of an empty predicate list")
    if (cs.length == 1) cs.head
    else {
      val (l, r) = cs.splitAt(cs.length / 2)
      orAll(l) || orAll(r)
    }
  }

  /** `df` grouped on `keys` (none: one grand-total row), aggregated by
    * `aggCols` and projected to the keys plus the measures' `post`
    * columns ([[Agg.toColumnsFused]]).
    */
  def aggregateAt(df: DataFrame, keys: Seq[String], aggCols: Seq[Column],
      post: Seq[Column]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .select(keys.map(col) ++ post: _*)

  def groupCols(dims: Seq[AxisDim]): Seq[String] =
    dims.flatMap(ad => levelCols(ad.d, ad.depth))

  def levelCols(d: BoundDim, depth: Int): Seq[String] =
    d.levelsTo(depth).map(_.col)

  /** Level + ordinal columns (deduped) present in a member frame. */
  def memberCols(d: BoundDim, depth: Int): Seq[String] =
    d.levelsTo(depth).flatMap(l => Seq(l.col, l.ordinal)).distinct
}
