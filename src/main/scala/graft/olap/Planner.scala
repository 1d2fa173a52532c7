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

  /** Measures actually aggregated — pruned per query in execute() (the
    * analog of Catalyst column pruning at the measure level: a q1-style
    * single-measure query must not pay for the cube's 12 aggregates).
    * Defaults to all measures for direct evalSet/metadata use.
    */
  private var neededMeasures: Seq[Measure] = cube.measures
  private var neededCalcs: Seq[CalcMember] = cube.calcMembers
  // every calc member in scope (schema + WITH), unfiltered: member-path
  // LITERALS in sets don't register in pruneFor's text scan, so
  // "is this path a calc member" checks must not rely on neededCalcs
  private var allCalcMembers: Seq[CalcMember] = cube.calcMembers

  /** Expression strings referenced anywhere in a set tree (filter
    * conditions, order keys, top-k measures).
    */
  private def exprTexts(set: SetExpr): Seq[String] = set match {
    case FilterSet(s, c)          => c +: exprTexts(s)
    case OrderSet(s, e, _)        => e +: exprTexts(s)
    case TopCount(s, _, e, _)     => e +: exprTexts(s)
    case TopPercent(s, _, e, _)   => e +: exprTexts(s)
    case TopSum(s, _, e, _)       => e +: exprTexts(s)
    case HeadSet(s, _)            => exprTexts(s)
    case TailSet(s, _)            => exprTexts(s)
    case SubsetSet(s, _, _)       => exprTexts(s)
    case Hierarchize(s, _)        => exprTexts(s)
    case DistinctSet(s)           => exprTexts(s)
    case CrossJoin(l, r)          => exprTexts(l) ++ exprTexts(r)
    case NonEmptyCrossJoin(l, r)  => exprTexts(l) ++ exprTexts(r)
    case UnionSet(l, r, _)        => exprTexts(l) ++ exprTexts(r)
    case IntersectSet(l, r)       => exprTexts(l) ++ exprTexts(r)
    case ExceptSet(l, r)          => exprTexts(l) ++ exprTexts(r)
    case ExistsSet(l, r)          => exprTexts(l) ++ exprTexts(r)
    case ExtractSet(s, _)         => exprTexts(s)
    case DrilldownMember(a, b)    => exprTexts(a) ++ exprTexts(b)
    case DrilldownLevelTop(s, _, e, _) => e +: exprTexts(s)
    case ToggleDrillState(a, b)   => exprTexts(a) ++ exprTexts(b)
    case UnorderSet(s)            => exprTexts(s)
    case _                        => Nil
  }

  private def referencedIn(name: String, texts: Seq[String]): Boolean = {
    val re = ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
    texts.exists(t => re.findFirstIn(t).isDefined)
  }

  /** Fixpoint over calc-member dependencies: a calc is needed if its name
    * is referenced; its formula text then pulls in further measures/calcs.
    */
  private def pruneFor(q: QueryIR): Unit = {
    val allCalcs = cube.calcMembers ++ q.withMembers
    allCalcMembers = allCalcs
    spacedMeasureRx = buildSpacedRx(
      cube.measures.map(_.name) ++ allCalcs.map(_.name))
    var texts: Seq[String] =
      q.measures ++ q.rows.toSeq.flatMap(exprTexts) ++
        q.withSets.values.flatMap(exprTexts)
    var active = Set.empty[String]
    var changed = true
    while (changed) {
      changed = false
      allCalcs.foreach { c =>
        if (!active(c.name) && referencedIn(c.name, texts)) {
          active += c.name
          texts = texts ++ (c.calc match {
            case ExprCalc(sql)               => Seq(sql)
            case WindowCalc(base, _, _, _)   => Seq(base)
            case SetAggCalc(_, m, set, _)    => m +: exprTexts(set)
            case LinRegCalc(_, set, y, x, px, rs) =>
              Seq(y, x) ++ px.toSeq ++ exprTexts(set) ++
                rs.toSeq.flatMap(exprTexts)
            case DimAggCalc(_, set)          => exprTexts(set)
          })
          changed = true
        }
      }
    }
    neededCalcs = allCalcs.filter(c => active(c.name))
    neededMeasures = cube.measures.filter(m => referencedIn(m.name, texts))
    if (neededMeasures.isEmpty) neededMeasures = cube.measures
  }

  // ---------------------------------------------------------------- axes

  /** Distinct members of levels 0..depth of a dimension, with ordinal
    * columns for hierarchical sorting.
    */
  private def memberFrame(d: BoundDim, depth: Int): DataFrame = {
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
  private def ancestorPredicate(d: BoundDim, path: Seq[Any]): Column =
    if (path.isEmpty || path.length > d.levels.length) lit(false)
    else path.zipWithIndex
      .map { case (v, i) => col(d.levels(i).col) === lit(v) }
      .reduce(_ && _)

  /** Pad a single-dimension member frame to `target` depth: missing
    * level + ordinal columns become typed nulls (from the dimension
    * frame's schema); [[DepthCol]] records each member's own depth.
    */
  private def padFrame(f: AxisFrame, target: Int): DataFrame = {
    val ad = f.dims.head
    val types = ad.d.df.schema.map(sf => sf.name -> sf.dataType).toMap
    val missing = memberCols(ad.d, target).diff(memberCols(ad.d, ad.depth))
    val base = missing.foldLeft(f.members)((df, c) =>
      df.withColumn(c, lit(null).cast(types(c))))
    if (base.columns.contains(DepthCol)) base
    else base.withColumn(DepthCol, lit(ad.depth))
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
    * one. Falls back to one [[aggregate]] per depth only when an agg
    * table routes (each depth is then a cheap re-aggregation of the
    * registered rollup, no fact scan at all). The result is cached as
    * one segment keyed by the full key list + depth set.
    */
  private def mixedCells(others: Seq[AxisDim], md: AxisDim,
      depths: Seq[Int], slicer: Seq[SlicerItem]): DataFrame = {
    val levels = levelCols(md.d, md.depth)
    val types = md.d.df.schema.map(sf => sf.name -> sf.dataType).toMap
    val allSlicer = slicer ++ roleSlicer
    val deepDims = others :+ md
    def perDepth: DataFrame = depths.map { dep =>
      val agg = aggregate(others :+ AxisDim(md.d, dep), slicer)
      val padded = levels.drop(dep + 1).foldLeft(agg)((df, c) =>
        df.withColumn(c, lit(null).cast(types(c))))
      padded.withColumn(DepthCol, lit(dep))
    }.reduce(_ unionByName _)
    if (AggRouter.route(cube, neededJoins(deepDims, allSlicer), allSlicer,
        neededMeasures).isDefined) return perDepth
    val sortedDepths = depths.sorted
    def compute: DataFrame = {
      val star = joinStar(neededJoins(deepDims, allSlicer), allSlicer)
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
    if (!SegmentCache.enabled) compute
    else {
      val cache = SegmentCache.global
      // rawCut storage (not persist): the gs plan's Expand subtree
      // defeats Spark's cached-plan matching under self-join re-alias
      // (see getOrComputeCut) — mixed segments are the one segment
      // kind a single query joins against itself (members derived
      // from the cells side)
      cache.getOrComputeCut(cache.SegKey(cube.cubeId,
        (groupCols(others) ++ levels) :+
          s"__depths=${sortedDepths.mkString(",")}",
        allSlicer, neededMeasures.map(_.name)))(compute)
    }
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
        val pred = orAll(paths.map(p => ancestorPredicate(d, p)))
        val base = memberFrame(d, depth).filter(pred)
        if (paths.length == 1)
          AxisFrame(base, Seq(AxisDim(d, depth)))
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
          AxisFrame(renumber(base.withColumn(OrdCol, ordExpr),
              hasOrd = true, hintOf(Seq(AxisDim(d, depth)))),
            Seq(AxisDim(d, depth)), hasOrd = true)
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
      AxisFrame(memberFrame(d, depth).filter(pred), Seq(AxisDim(d, depth)))

    case Descendants(dim, path, level) =>
      val d = cube.dim(dim)
      val depth = d.levelIndex(level)
      require(depth >= path.length, "Descendants level above member level")
      // DESCENDANTS([Dim], [Level]) — descendants of the implicit All
      // root at that level = every member of the level
      val dpred = if (path.isEmpty) lit(true) else ancestorPredicate(d, path)
      AxisFrame(memberFrame(d, depth).filter(dpred),
        Seq(AxisDim(d, depth)))

    case MemberRange(dim, level, from, to) =>
      val d = cube.dim(dim)
      val depth = d.levelIndex(level)
      val l = d.levels(depth)
      AxisFrame(
        memberFrame(d, depth).filter(col(l.col).between(lit(from), lit(to))),
        Seq(AxisDim(d, depth)))

    case CousinSet(dim, mPath, aPath) =>
      // Cousin(member, ancestor): sibling positions per level below the
      // ancestor depth (dense_rank over the dimension-bounded member
      // frame — j-level siblings within their parent), then the row
      // under the NEW ancestor with the member's position vector. A
      // position gap in the target subtree yields an empty set (the
      // jar's null member).
      val d = cube.dim(dim)
      require(mPath.length <= d.levels.length,
        s"Cousin: member path deeper than [${d.name}]")
      // jar CousinFunDef edge semantics (ADVICE r5): equal levels →
      // the second argument itself; member ABOVE the "ancestor" → the
      // null member, i.e. an empty set. (Divergence: a nonexistent
      // member path yields an empty set here where the jar raises
      // member-not-found — path existence is not validated.)
      if (aPath.length == mPath.length)
        return evalSet(Members(dim, Seq(aPath)), slicer, withSets)
      if (aPath.length > mPath.length)
        return AxisFrame(
          memberFrame(d, mPath.length - 1).filter(lit(false)),
          Seq(AxisDim(d, mPath.length - 1)))
      val depth = mPath.length - 1
      val aDepth = aPath.length - 1
      val lvls = d.levels
      val posCols = (aDepth + 1 to depth).map { j =>
        val w = org.apache.spark.sql.expressions.Window
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

    case CurrentDateMember(dim, level, matchType) =>
      val d = cube.dim(dim)
      val depth = d.levelIndex(level)
      // deterministic "now": session conf, else today. The dimension's
      // date axis is its date-typed primary key (time dims) or the
      // deepest level column.
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
      val a = evalSet(l, slicer, withSets)
      val b = evalSet(r, slicer, withSets)
      val joinCols = groupCols(a.dims)
      val kept = a.members.join(
        b.members.select(joinCols.map(col): _*).distinct(),
        joinCols, "left_semi")
      a.copy(members = renumber(kept, a.hasOrd, hintOf(a.dims)))

    case ExceptSet(l, r) =>
      val a = evalSet(l, slicer, withSets)
      val b = evalSet(r, slicer, withSets)
      val joinCols = b.dims.flatMap(ad => levelCols(ad.d, ad.depth))
      val kept = a.members.join(b.members.select(joinCols.map(col): _*)
        .distinct(), joinCols, "left_anti")
      a.copy(members = renumber(kept, a.hasOrd, hintOf(a.dims)))

    case ExistsSet(l, r) =>
      val a = evalSet(l, slicer, withSets)
      val b = evalSet(r, slicer, withSets)
      val common = a.members.columns.intersect(b.members.columns)
        .filterNot(_ == OrdCol).toSeq
      val kept = a.members.join(b.members.select(common.map(col): _*)
        .distinct(), common, "left_semi")
      a.copy(members = renumber(kept, a.hasOrd, hintOf(a.dims)))

    case DistinctSet(s) =>
      val a = evalSet(s, slicer, withSets)
      if (!a.hasOrd) a.copy(members = a.members.distinct())
      else {
        // keep the first occurrence of each member tuple (DistinctFunDef)
        val wk = Window.partitionBy(groupCols(a.dims).map(col): _*)
        val kept = a.members
          .withColumn("__minOrd", min(col(OrdCol)).over(wk))
          .filter(col(OrdCol) === col("__minOrd")).drop("__minOrd")
        a.copy(members = renumber(kept, hasOrd = true,
        hintOf(a.dims)), hasOrd = true)
      }

    case NamedSetRef(name) =>
      val s = withSets.getOrElse(name,
        throw new IllegalArgumentException(s"named set '$name' not defined"))
      evalSet(s, slicer, withSets)

    case FilterSet(s, cond) =>
      // MDX Filter preserves the input set's order (FilterFunDef): keep and
      // renumber __ord when the child was explicitly ordered (ADVICE r1).
      val a0 = evalSet(s, slicer, withSets)
      // S.CurrentOrdinal needs an explicit position column
      val a = if (cond.contains("__CURRENT_ORDINAL__")) realizeOrd(a0)
              else a0
      val cells = cellsFor(a, slicer)
      var c = resolveCurrent(cond, a.dims)
      if (c.contains("__CURRENT_EMPTY__")) {
        // IsEmpty(S.Current): every measure cell of the tuple is empty
        val memberCols = a.members.columns.toSet
        val ms = cells.columns.filterNot(memberCols.contains)
        val empty =
          if (ms.isEmpty) "TRUE"
          else ms.map(m => s"(`$m` IS NULL)").mkString("(", " AND ", ")")
        c = c.replace("__CURRENT_EMPTY__", empty)
      }
      if (c.contains("__CURRENT_ORDINAL__"))
        c = c.replace("__CURRENT_ORDINAL__", s"(`$OrdCol` - 1)")
      val kept = cells.filter(sexpr(c))
        .select(a.members.columns.map(col): _*)
      a.copy(members = renumber(kept, a.hasOrd, hintOf(a.dims)))

    case OrderSet(s, e, dir) =>
      val a = evalSet(s, slicer, withSets)
      val cells = cellsFor(a, slicer)
      dir match {
        case SortDir.BAsc | SortDir.BDesc =>
          val key = sexpr(resolveCurrent(e, a.dims))
          ordered(a, cells,
            Seq(if (dir == SortDir.BAsc) key.asc else key.desc))
        case _ =>
          tupleHierOrderSet(a, cells, e, dir == SortDir.Desc, slicer)
      }

    case TopCount(s, n, e, bottom) if e.isEmpty =>
      // no sort expression (the parser's optional third arg): MDX
      // takes the set's natural order — head for TOP, tail for BOTTOM
      evalSet(if (bottom) TailSet(s, n) else HeadSet(s, n),
        slicer, withSets)

    case TopCount(s, n, e, bottom) =>
      val a = evalSet(s, slicer, withSets)
      val cells = cellsFor(a, slicer)
      val key = if (bottom) sexpr(e).asc else sexpr(e).desc
      val o = ordered(a, cells, Seq(key))
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
      val withCnt = Ords.withTotal(a.members, "__cnt")
      a.copy(members = renumber(withCnt
        .filter(col(OrdCol) > col("__cnt") - n).drop("__cnt"),
        hasOrd = true, hintOf(a.dims)))

    case SubsetSet(s, start, n) =>
      val a = realizeOrd(evalSet(s, slicer, withSets))
      a.copy(members = renumber(
        a.members.filter(col(OrdCol) > start && col(OrdCol) <= start + n),
        hasOrd = true, hintOf(a.dims)))

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
      val a = evalSet(s, slicer, withSets)
      val b = evalSet(ms, slicer, withSets)
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
        val children = memberFrame(bd.d, bd.depth + 1)
          .join(broadcast(toDrill), keys, "left_semi")
        hierarchizeFrame(unionFrames(a,
          AxisFrame(children, Seq(AxisDim(bd.d, bd.depth + 1))),
          all = false), post = false)
      }

    case DrilldownLevelTop(s, n, e, bottom) =>
      val a = evalSet(s, slicer, withSets)
      require(a.dims.length == 1 && a.mixedDim.isEmpty,
        "DrilldownLevelTop needs a uniform single-hierarchy set")
      val ad = a.dims.head
      if (ad.depth + 1 >= ad.d.levels.length) a
      else {
        val keys = levelCols(ad.d, ad.depth)
        val children = memberFrame(ad.d, ad.depth + 1)
          .join(broadcast(a.members.select(keys.map(col): _*).distinct()),
            keys, "left_semi")
        val cf = AxisFrame(children, Seq(AxisDim(ad.d, ad.depth + 1)))
        // rank children WITHIN each parent by the cell expression — the
        // window partitions on the parent keys, so no global sort
        val cells = cellsFor(cf, slicer)
        val key = if (bottom) sexpr(e).asc else sexpr(e).desc
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(key +: tieBreak(cf): _*)
        val top = cells.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= n)
          .select(cf.members.columns.map(col): _*)
        hierarchizeFrame(unionFrames(a, cf.copy(members = top),
          all = false), post = false)
      }

    case ToggleDrillState(s, ms) =>
      val a = evalSet(s, slicer, withSets)
      val b = evalSet(ms, slicer, withSets)
      val bd = singleHierarchy(a, b, "ToggleDrillState")
      if (bd.depth + 1 >= bd.d.levels.length) a
      else {
        val pd = bd.depth
        val keys = levelCols(bd.d, pd)
        val withDepth =
          if (a.members.columns.contains(DepthCol)) a.members
          else a.members.withColumn(DepthCol, lit(a.dims.head.depth))
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
        val children = memberFrame(bd.d, pd + 1)
          .join(broadcast(toOpen), keys, "left_semi")
        val keptFrame = a.copy(members =
          if (a.members.columns.contains(DepthCol)) kept
          else kept.drop(DepthCol))
        hierarchizeFrame(unionFrames(keptFrame,
          AxisFrame(children, Seq(AxisDim(bd.d, pd + 1))),
          all = false), post = false)
      }
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
        (a0.copy(members = padFrame(a0, target), dims = dims,
          mixedDepths = depths, mixedDim = Some(d.name)),
         b0.copy(members = padFrame(b0, target), dims = dims,
           mixedDepths = depths, mixedDim = Some(d.name)))
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
      val deduped =
        if (all) u
        else {
          val wk = Window.partitionBy(keyCols.map(col): _*)
          u.withColumn("__minOrd", min(col(OrdCol)).over(wk))
            .filter(col(OrdCol) === col("__minOrd")).drop("__minOrd")
        }
      a.copy(members = renumber(deduped, hasOrd = true,
        hintOf(a.dims)), hasOrd = true)
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
    a.copy(members = Ords.rowNumber(a.members, ords, OrdCol,
        hintOf(a.dims)),
      hasOrd = true)
  }

  /** TopPercent/TopSum share the cumulative-prefix shape (SURVEY §2.6):
    * sort by the expression, keep the prefix while the running sum of
    * PRIOR rows is below the threshold (so the crossing row is included).
    */
  private def topAccum(s: SetExpr, e: String, bottom: Boolean,
      slicer: Seq[SlicerItem], withSets: Map[String, SetExpr])(
      keep: (Column, Column, Column) => Column): AxisFrame = {
    val a = evalSet(s, slicer, withSets)
    val cells = cellsFor(a, slicer)
    val key = if (bottom) sexpr(e).asc else sexpr(e).desc
    // the cumulative prefix genuinely needs one ordered pass; cells are
    // at the set's post-aggregation grain (dimension-bounded), so the
    // single-partition window here is over axis-scale data, never fact
    // rows. The grand total joins in as a broadcast scalar instead of a
    // second global window.
    val wOrd = Window.orderBy(key +: tieBreak(a): _*)
    val total = cells.agg(
      sum(sexpr(e).cast("double")).as("__tot"))
    val annotated = cells.crossJoin(broadcast(total))
      .withColumn("__v", sexpr(e).cast("double"))
      .withColumn("__cum",
        sum(col("__v")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn(OrdCol, row_number().over(wOrd))
    val kept = annotated
      .filter(keep(col("__cum"), col("__tot"), col("__v")))
      .select(
        (a.members.columns.filterNot(_ == OrdCol) :+ OrdCol).map(col): _*)
    a.copy(members = kept, hasOrd = true)
  }

  /** Cardinality hint for an axis frame's ordering ops: a frame is
    * dimension-bounded (single-window cheap path) unless one of its
    * dims carries the reference's high_cardinality hint.
    */
  private def hintOf(dims: Seq[AxisDim]): Ords.SizeHint =
    if (dims.exists(_.d.highCardinality)) Ords.Large else Ords.Small

  /** Compact an explicit __ord to 1..n after row removal so downstream
    * positional ops (Head/Subset) keep working on gap-free positions; a
    * frame without __ord passes through.
    */
  private def renumber(members: DataFrame, hasOrd: Boolean,
      hint: Ords.SizeHint): DataFrame =
    if (!hasOrd) members
    else Ords.rowNumber(members, Seq(col(OrdCol).asc), OrdCol, hint)

  /** Cells at the grain of `a` with all base measures + expression calc
    * members — the working set for cell-dependent set operators.
    */
  private def cellsFor(a: AxisFrame, slicer: Seq[SlicerItem]): DataFrame =
    applyExprCalcs(joinCells(a, slicer), a.dims, slicer)

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
    * CurrentMember of a hierarchy off the axis or AFTER the position
    * being compared (Mondrian evaluates it at the hierarchy default),
    * and CurrentMember of a mixed-depth earlier position (the name
    * column differs per member depth).
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
      desc: Boolean, slicer: Seq[SlicerItem]): AxisFrame = {
    require(!e.contains("__CURRENT_ORDINAL__"),
      "CurrentOrdinal in a non-breaking Order key is not supported — " +
        "the hierarchical sort evaluates ancestors outside the live " +
        "positional order; use BASC/BDESC")
    // empty cell = -infinity (FunUtil.compareValues): ASC empties FIRST
    def rankSort(v: Column) = if (desc) v.desc_nulls_last else v.asc_nulls_first
    // a single-level set has no hierarchy to preserve: plain value sort
    if (a.dims.length == 1 && a.dims.head.depth == 0)
      return ordered(a, cells,
        Seq(rankSort(sexpr(resolveCurrent(e, a.dims)))))
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
      prevMixed.foreach { pm =>
        require(!e.contains(s"__CURRENT_NAME_${pm.d.name}__"),
          s"non-breaking Order key reads [${pm.d.name}].CurrentMember " +
            "while that tuple position mixes member depths — the name " +
            "column differs per member depth; use BASC/BDESC")
      }
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
              k -> cellsFor(frame, slicer)
            }.toMap
          case None if passDepths.length == 1 =>
            val src = if (selfMixed) a.members.filter(col(DepthCol) >= 0)
                      else a.members
            val frame = AxisFrame(
              src.select((prevCols :+ lvls.head).map(col): _*).distinct(),
              prevDims :+ AxisDim(d, 0))
            Map(0 -> cellsFor(frame, slicer))
          case None =>
            val tps = d.df.schema.map(sf => sf.name -> sf.dataType).toMap
            val pfLvls = lvls.take(passDepths.max + 1)
            val union = passDepths.map { k =>
              val src = if (selfMixed) a.members.filter(col(DepthCol) >= k)
                        else a.members
              val proj = src
                .select((prevCols ++ lvls.take(k + 1)).map(col): _*)
                .distinct()
              pfLvls.drop(k + 1).foldLeft(proj)((df2, c) =>
                df2.withColumn(c, lit(null).cast(tps(c))))
                .withColumn(DepthCol, lit(k))
            }.reduce(_ unionByName _)
            val pc = cellsFor(AxisFrame(union,
              prevDims :+ AxisDim(d, passDepths.max),
              mixedDepths = passDepths, mixedDim = Some(d.name)), slicer)
            passDepths.map(k => k -> pc.filter(col(DepthCol) === k)).toMap
        }
      for (k <- 0 to dMax) {
        val src = passCellsByDepth.getOrElse(k,
          if (selfMixed) cells.filter(col(DepthCol) === dMax) else cells)
        val resolved = resolveCurrent(e, prevDims :+ AxisDim(d, k))
        require(!resolved.contains("__CURRENT_NAME_"),
          "non-breaking Order key reads CurrentMember of a hierarchy " +
            "off the axis or AFTER the tuple position being compared — " +
            "Mondrian would evaluate it at the hierarchy default; use " +
            "BASC/BDESC")
        // an earlier mixed dim keys rank partitions and joins by its
        // depth marker too (padded vs genuine nulls)
        val depthKey = if (prevMixed.isDefined) Seq(DepthCol) else Nil
        val w = Window
          .partitionBy((depthKey ++ prevCols ++ lvls.take(k)).map(col): _*)
          .orderBy(rankSort(sexpr(resolved)), col(lvls(k)).asc)
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
    val lvls = levelCols(d, a.dims.head.depth)
    val rows = a.members.orderBy(col(OrdCol).asc)
      .select(lvls.map(col): _*).limit(10001).collect()
    if (rows.length > 10000)
      return Left(s"a set of more than 10000 members on [${d.name}] " +
        "combined with a calc-bearing set")
    // mixed-depth frames null-pad deeper levels: a member's path is
    // its level values up to the first null (same as computed slicers)
    val paths = rows.toVector.map { r =>
      val vals = lvls.indices.map(r.get)
      val cut = vals.indexWhere(_ == null)
      (if (cut < 0) vals else vals.take(cut)).toSeq
    }.filter(_.nonEmpty)
    Right((d.name, paths))
  }

  /** Ensure an explicit __ord column exists (hierarchical order default). */
  private def realizeOrd(a: AxisFrame): AxisFrame =
    if (a.hasOrd) a
    else {
      // default asc places nulls first, so a mixed-depth frame's
      // parents (null deeper ordinals) precede their children — the
      // hierarchical (PRE) default
      val ords = a.dims.flatMap(ad =>
        ad.d.levelsTo(ad.depth).map(l => col(l.ordinal).asc))
      a.copy(members = Ords.rowNumber(a.members, ords, OrdCol,
          hintOf(a.dims)),
        hasOrd = true)
    }

  // ------------------------------------------------------------ star agg

  /** Dims (with depth) that must be joined under the aggregate. */
  private def neededJoins(axisDims: Seq[AxisDim],
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
    * the fact never shuffles for the star join.
    */
  private def joinStar(needed: Map[String, Int],
      slicer: Seq[SlicerItem],
      extraCols: Seq[String] = Nil): DataFrame = {
    val base = cube.factFor(requiredFactCols(needed, slicer, extraCols))
    needed.toSeq.sortBy(_._1).foldLeft(base) { case (df, (name, depth)) =>
      val d = cube.dim(name)
      if (d.degenerate) df // level cols already on the fact
      else {
        // extraCols may name member-property columns that live on the
        // dim table (drill-through RETURN Property(...) fields)
        val cols = (d.primaryKey +: (memberCols(d, depth) ++
          extraCols.filter(d.df.columns.contains))).distinct
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

  /** One alternation over the measure AND calc-member names that are
    * not plain SQL identifiers (FoodMart's `Unit Sales`), longest
    * first: regex alternation is ordered, so at a shared start
    * position the longer name wins and — because a match consumes its
    * text — a name nested inside another (`Store Sales` in `Store
    * Sales Net`) is never re-quoted by a later pass, which the old
    * sequential replace got wrong. Optional surrounding backticks make
    * re-quoting idempotent; the lookarounds stop a name matching
    * mid-identifier. Rebuilt per query (pruneFor): WITH-declared calc
    * members are referenceable by bare name in any lowered expression,
    * exactly like stored measures.
    */
  private def buildSpacedRx(
      names: Seq[String]): Option[scala.util.matching.Regex] = {
    val spaced = names.distinct
      .filterNot(_.matches("[A-Za-z_][A-Za-z0-9_]*"))
      .sortBy(-_.length)
    if (spaced.isEmpty) None
    else Some(("(?<![A-Za-z0-9_`])`?(" +
      spaced.map(java.util.regex.Pattern.quote).mkString("|") +
      ")`?(?![A-Za-z0-9_`])").r)
  }

  private var spacedMeasureRx: Option[scala.util.matching.Regex] =
    buildSpacedRx(
      (cube.measures.map(_.name) ++ cube.calcMembers.map(_.name)))

  // a single-quoted SQL string literal ('' = escaped quote) — spaced
  // measure names inside one are DATA and must not gain backticks
  private val sqlStringLit = "'(?:[^']|'')*'".r

  /** Parse a LOWERED MDX scalar expression as a Spark SQL Column.
    * The lowered text carries measure references as bare names (the
    * canonical form the render → reparse fixpoint preserves); names
    * with non-identifier characters are backtick-quoted HERE, at the
    * SQL boundary only, so `Unit Sales > 1000` executes instead of
    * failing to resolve column `Unit`.
    */
  private def sexpr(e: String): Column = expr(spacedMeasureRx match {
    case None => e
    case Some(rx) =>
      def quote(seg: String): String = rx.replaceAllIn(seg, m =>
        java.util.regex.Matcher.quoteReplacement("`" + m.group(1) + "`"))
      val sb = new StringBuilder
      var i = 0
      for (lit <- sqlStringLit.findAllMatchIn(e)) {
        sb.append(quote(e.substring(i, lit.start))).append(lit.matched)
        i = lit.end
      }
      sb.append(quote(e.substring(i))).toString
  })

  /** Resolve `[dim].CurrentMember.Name` macros emitted by the MDX
    * parser to the set's deepest level column for that dimension.
    */
  private def resolveCurrent(cond: String, dims: Seq[AxisDim]): String =
    if (!cond.contains("__CURRENT_NAME_")) cond
    else dims.foldLeft(cond) { (c, ad) =>
      c.replace(s"__CURRENT_NAME_${ad.d.name}__",
        s"cast(${levelCols(ad.d, ad.depth).last} as string)")
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
  private def applyEntryOps(df0: DataFrame, ops: Seq[EntryOp],
      dim: String, label: String,
      hier: Option[EntryHier]): DataFrame = {
    def resolve(e: String): Column = {
      var c = e.replace(s"__CURRENT_NAME_${dim}__",
        s"cast(`$label` as string)")
      if (c.contains("__CURRENT_ORDINAL__"))
        c = c.replace("__CURRENT_ORDINAL__", "(`__pos` - 1)")
      require(!c.contains("__CURRENT_"),
        "CurrentMember macros over a calculated-member-bearing set " +
          s"support only [$dim].CurrentMember.Name and CurrentOrdinal " +
          s"(a calc member has no dimension row to read): $e")
      sexpr(c)
    }
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
        require(!e.contains("__CURRENT_ORDINAL__"),
          "CurrentOrdinal in a non-breaking Order key is not " +
            "supported — the hierarchical sort ranks entries outside " +
            "the live positional order; use BASC/BDESC")
        val key = resolve(e)
        val idc = col(h.entryCol).cast("int")
        val sortVal = // empty cell = -infinity (FunUtil.compareValues)
          if (dir == SortDir.Desc) col("__hval").desc_nulls_last
          else col("__hval").asc_nulls_first
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
        val key = resolve(e)
        // empty cell = -infinity (FunUtil.compareValues), matching the
        // ordinary OrderSet breaking path's Spark-default null order
        val sort =
          if (dir == SortDir.BDesc) key.desc_nulls_last
          else key.asc_nulls_first
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

  /** Resolve `[dim].CurrentMember.Properties('P')` macros: join the
    * dimension's property column in by the deepest level key (one
    * broadcast of a two-column dim projection), then substitute the
    * property column name into the expression.
    */
  private def resolveProps(df0: DataFrame, sql0: String,
      dims: Seq[AxisDim]): (DataFrame, String) = {
    if (!sql0.contains("__CURRENT_PROP_")) return (df0, sql0)
    var df = df0; var sql = sql0
    dims.foreach { ad =>
      val marker = s"__CURRENT_PROP_${ad.d.name}__"
      var i = sql.indexOf(marker)
      while (i >= 0) {
        val rest = sql.substring(i + marker.length)
        val end = rest.indexOf("__")
        require(end > 0, s"malformed property macro in: $sql")
        val prop = rest.substring(0, end)
        require(ad.d.df.columns.contains(prop),
          s"dimension '${ad.d.name}' has no property column '$prop'")
        val key = levelCols(ad.d, ad.depth).last
        if (!df.columns.contains(prop)) {
          // depends_on_level_value (schema.rb:277-281): a dependent
          // property needs no place in the grouping — aggregate by the
          // level key alone (any value is THE value) instead of a
          // two-column distinct
          val propFrame =
            if (ad.d.levels(ad.depth).dependentProps.contains(prop))
              ad.d.df.groupBy(col(key)).agg(first(col(prop)).as(prop))
            else ad.d.df.select(col(key), col(prop)).distinct()
          df = df.join(broadcast(propFrame), Seq(key), "left")
        }
        sql = sql.replace(marker + prop + "__", prop)
        i = sql.indexOf(marker)
      }
    }
    (df, sql)
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
      case ExprSlice(sql, _) => sexpr(sql)
      case EvalSlice(_) => throw new IllegalStateException(
        "EvalSlice must be resolved at plan entry (resolveSlicer)")
    }.reduce(_ && _)

  /** The one fact pass per grain: star join (broadcast dims) → slicer
    * filter (pushed to scan) → groupBy(grain).agg(all measures).
    *
    * Two engine-level optimizations sit in front of the fact scan
    * (SURVEY §4 #5/#6):
    *  1. aggregate-table routing — a registered rollup whose grain
    *     covers the query answers it without touching the fact;
    *  2. segment cache — the computed aggregate is persisted keyed by
    *     (cube, grain, slicer, measures) and reused until flushed.
    */
  def aggregate(axisDims: Seq[AxisDim],
      slicer: Seq[SlicerItem]): DataFrame = {
    // direct-API callers (virtual cubes, drill paths) may pass
    // computed slicers; execute() resolves before reaching here, so
    // this is a no-op on the MDX path
    val allSlicer = resolveSlicer(slicer) ++ roleSlicer
    def compute: DataFrame =
      AggRouter.route(cube, neededJoins(axisDims, allSlicer), allSlicer,
          neededMeasures) match {
        case Some(at) =>
          AggRouter.reAggregate(at, axisDims,
            slicerPredicate(allSlicer), neededMeasures)
        case None =>
          val star = joinStar(neededJoins(axisDims, allSlicer), allSlicer)
          val sliced = star.filter(slicerPredicate(allSlicer))
          val (aggCols, post) = Agg.toColumnsFused(neededMeasures)
          val keys = groupCols(axisDims)
          val agged =
            if (keys.isEmpty) sliced.agg(aggCols.head, aggCols.tail: _*)
            else sliced.groupBy(keys.map(col): _*)
              .agg(aggCols.head, aggCols.tail: _*)
          agged.select(keys.map(col) ++ post: _*)
      }
    if (!SegmentCache.enabled) compute
    else {
      val cache = SegmentCache.global
      cache.getOrCompute(cache.SegKey(cube.cubeId,
        groupCols(axisDims), allSlicer, neededMeasures.map(_.name)))(compute)
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
      mode: String = "rollup"): DataFrame = {
    neededMeasures = cube.measures.filter(m => measureNames.contains(m.name))
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
          case Agg.SumExact => sum(col(s"__pa_$i")).as(m.name)
          case Agg.Min      => min(col(s"__pa_$i")).as(m.name)
          case _            => max(col(s"__pa_$i")).as(m.name)
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
  private def roleSlicer: Seq[SlicerItem] =
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

  /** Expression calc members whose inputs resolve against `df`; calcs with
    * missing dependencies (e.g. referencing a window calc that needs a dim
    * not in this context) are skipped, mirroring Mondrian's per-context
    * member validity (ValidMeasureFunDef semantics).
    */
  /** Scalar + set-aggregate calcs at a set's own grain — used by the
    * cell-dependent set ops (Filter/Order/TopK), whose key expressions
    * can reference calc members (e.g. ORDER(set, ([Measures].[m],
    * [dim].[member]), ASC) lowers the tuple to a hidden SetAggCalc).
    * Window calcs stay post-axis (they need the final member order).
    */
  private def applyExprCalcs(df: DataFrame, dims: Seq[AxisDim],
      slicer: Seq[SlicerItem]): DataFrame =
    neededCalcs.sortBy(_.solveOrder).foldLeft(df) { (acc, cm) =>
      cm.calc match {
        case ExprCalc(sql) =>
          try {
            val (d2, s2) = resolveProps(acc, resolveCurrent(sql, dims), dims)
            d2.withColumn(cm.name, sexpr(s2))
          } catch { case _: org.apache.spark.sql.AnalysisException => acc }
        case sac: SetAggCalc =>
          try setAggColumn(acc, cm.name, sac, dims, slicer, Map.empty, None)
          catch { case _: org.apache.spark.sql.AnalysisException => acc }
        case lrc: LinRegCalc =>
          try linRegColumn(acc, cm.name, lrc, dims, slicer, Map.empty, None)
          catch { case _: org.apache.spark.sql.AnalysisException => acc }
        // dim-hosted calc members are axis members, not cell columns —
        // handled by the execute-entry rewrite
        case _ => acc
      }
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
        val lvls = levelCols(d, a.dims.head.depth)
        val rows = a.members.select(lvls.map(col): _*)
          .limit(10001).collect()
        require(rows.length <= 10000,
          s"computed slicer on [${d.name}] evaluates to more than " +
            "10000 members — slice by a set literal or level instead")
        // mixed-depth frames null-pad deeper levels: a member's path
        // is its level values up to the first null
        val paths = rows.toSeq.map { r =>
          val vals = lvls.indices.map(r.get)
          val cut = vals.indexWhere(_ == null)
          (if (cut < 0) vals else vals.take(cut)).toSeq
        }.filter(_.nonEmpty)
        if (paths.length == 1) MemberSlice(d.name, paths.head)
        else SetSlice(d.name, paths)
      case other => other
    } match { case resolved =>
      // re-apply COMPOUND grouping post-resolution (query.rb:379-386:
      // same-dim members in a slicer tuple OR together): the parser
      // groups literal paths, but a computed entry resolving to the
      // same dimension as another item would otherwise stay a second
      // item and AND into a contradiction
      val (memberish, rest) = resolved.partition {
        case _: MemberSlice | _: SetSlice => true
        case _ => false
      }
      val dims = memberish.map {
        case MemberSlice(d, _) => d
        case SetSlice(d, _) => d
        case _ => ""
      }
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
  private final class DimCalcLowering(withMembers: Seq[CalcMember],
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
    /** True when any literal path anywhere in the set tree names a
      * calc member (named-set refs chased; cycles tolerated).
      */
    def hasCalcPath(s: SetExpr, seen: Set[String]): Boolean = s match {
      case Members(d, ps) => ps.exists(p => of(d, p).isDefined)
      case NamedSetRef(n) => !seen(n) &&
        withSets.get(n).exists(hasCalcPath(_, seen + n))
      // every SetExpr is a case class: walk nested sets generically
      case other: Product => other.productIterator.exists {
        case e: SetExpr => hasCalcPath(e, seen)
        case _          => false
      }
    }
    def calcNames(s: SetExpr, seen: Set[String]): Seq[String] = s match {
      case Members(d, ps) => ps.flatMap(p => of(d, p).map(_._1.name))
      case NamedSetRef(n) =>
        if (seen(n)) Nil
        else withSets.get(n).toSeq.flatMap(calcNames(_, seen + n))
      case other: Product => other.productIterator.toSeq.flatMap {
        case e: SetExpr => calcNames(e, seen)
        case _          => Nil
      }
    }
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
      def deref(s: SetExpr, seen: Set[String]): SetExpr = s match {
        case NamedSetRef(n) if !seen(n) && withSets.contains(n) =>
          deref(withSets(n), seen + n)
        case other => other
      }
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
        deref(s, Set.empty) match {
          case Members(d, ps) => Right((d, ps.toVector, Vector.empty))
          // an entirely calc-FREE subtree — navigational OR
          // cell-dependent (Filter/Order/Top* evaluate under `slicer`)
          // — enumerates to literal entries wholesale (bounded), so
          // the set functions compose it with calc members
          case other if !hasCalcPath(other, Set.empty) =>
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
                val dims = items.flatMap {
                  case EvalSlice(set) =>
                    evalSet(set, Nil, withSets).dims.map(_.d.name)
                  case MemberSlice(d, _) => Seq(d)
                  case SetSlice(d, _)    => Seq(d)
                  case ExprSlice(_, ds)  => ds
                }.toSet
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
          if (!hasCalcPath(set, Set.empty)) Seq(es)
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

  /** Plan a statement. The one choke point for MDX and builder queries:
    * a statement whose segments are all still resident is served from
    * its persisted render (the cell-set layer, [[SegmentCache.cellSet]]).
    */
  def execute(q: QueryIR): DataFrame =
    if (!SegmentCache.enabled) render(q)
    else SegmentCache.global.cellSet(cube, q)(render(q))

  private def render(q0pre: QueryIR): DataFrame = {
    // dim-hosted Aggregate calc members in WHERE expand to their
    // compound set slicers (and unsupported slicer shapes refuse)
    // BEFORE resolution — a calc path reaching the ordinary set
    // machinery would predicate-filter to nothing silently
    val dcl = new DimCalcLowering(q0pre.withMembers, q0pre.withSets)
    val q0 = q0pre.copy(
      slicer = resolveSlicer(dcl.expandSlicer(q0pre.slicer),
        q0pre.withSets))
    // PAGES/CHAPTERS/SECTIONS lower to outer products with ROWS:
    // CrossJoin order is left-major, which is exactly Mondrian's
    // axis-ordinal iteration (higher axes vary slowest, so SECTIONS is
    // outermost). A query naming no measures gets the cube's default
    // measure (reference: queries without a COLUMNS axis still
    // evaluate cells, query_test.rb:743-746).
    val outerAxes = Seq(q0.sections, q0.chapters, q0.pages).flatten
    val q1 =
      if (outerAxes.isEmpty) q0
      else q0.copy(
        rows = Some((outerAxes ++ q0.rows.toSeq).reduceRight(CrossJoin(_, _))),
        pages = None, chapters = None, sections = None)
    val qPre = if (q1.measures.nonEmpty) q1
               else q1.copy(measures = Seq(cube.defaultMeasureName))
    val qs = qPre
    // Detect dim-hosted calc members in ANY rows-axis shape — never
    // just the bare literal Members arm. A calc path that reaches the
    // ordinary Members lowering predicate-filters to nothing and the
    // rows vanish SILENTLY (the one unacceptable failure mode), so:
    // a calc-bearing literal set — alone or CrossJoined with calc-free
    // factors (query_test.rb:157-174 pins crossjoin iteration over
    // calc members) — lowers below; every other shape refuses loudly.
    def deref(s: SetExpr, seen: Set[String]): SetExpr = s match {
      case NamedSetRef(n) if !seen(n) && qs.withSets.contains(n) =>
        deref(qs.withSets(n), seen + n)
      case other => other
    }
    // a NonEmptyCrossJoin on the path to a calc factor decomposes like
    // CrossJoin plus a tuple-existence filter: NECJ keeps exactly the
    // tuples with fact support, which the fused pass knows from a
    // count over the same single scan (calc-free NECJ subtrees stay
    // whole — the ordinary set machinery evaluates them)
    var necjTuples = false
    var necjGroupN = 0
    // each factor carries the id of the OUTERMOST calc-bearing NECJ
    // it sits under (-1 = none): tuple support is evaluated per NECJ
    // over ITS OWN factors' coordinates — an outer CrossJoin factor
    // is not in the NECJ's context, so CROSSJOIN(NECJ({calc}, years),
    // flags.Members) keeps unsupported flag combinations as null-cell
    // rows (Mondrian NonEmptyCrossJoinFunDef). An NECJ nested inside
    // another keeps the outer group: full-grain support implies the
    // inner grain's.
    def splitCross(s: SetExpr, g: Int): Seq[(SetExpr, Int)] =
      deref(s, Set.empty) match {
        case CrossJoin(a, b) => splitCross(a, g) ++ splitCross(b, g)
        case NonEmptyCrossJoin(a, b)
            if dcl.hasCalcPath(a, Set.empty) ||
              dcl.hasCalcPath(b, Set.empty) =>
          necjTuples = true
          val gid = if (g >= 0) g else { necjGroupN += 1; necjGroupN - 1 }
          splitCross(a, gid) ++ splitCross(b, gid)
        case other => Seq((other, g))
      }
    val rowsFactorsTagged =
      if (dcl.isEmpty) Nil
      else qs.rows.map(splitCross(_, -1)).getOrElse(Nil)
    val rowsFactors = rowsFactorsTagged.map(_._1)
    val factorGroup = rowsFactorsTagged.map(_._2)
    val calcFactorIdx =
      rowsFactors.indexWhere(dcl.hasCalcPath(_, Set.empty))
    if (calcFactorIdx >= 0) {
      def refuse(why: String): Nothing = throw new IllegalArgumentException(
        "calculated member(s) " +
          dcl.calcNames(qs.rows.get, Set.empty).distinct
            .mkString("[", "], [", "]") +
          s" in an unsupported axis set shape ($why): a dim-hosted " +
          "Aggregate member is supported in a literal member set — " +
          "optionally combined with enumerable same-dimension sets " +
          "via Union/Head/Tail/Subset/Distinct, filtered/ordered by " +
          "Filter or Order, and CrossJoined (or " +
          "NonEmptyCrossJoined) with calculated-member-free sets on " +
          "other dimensions — rewrite the axis set or move the " +
          "member to WHERE")
      // every calc-bearing factor flattens to ONE entry list (several
      // factors are allowed — the fused pass evaluates the full entry
      // cross product in the same single scan)
      val calcIdxs = rowsFactors.indices
        .filter(i => dcl.hasCalcPath(rowsFactors(i), Set.empty))
      case class CalcFactor(dim: String, paths: Vector[Seq[Any]],
        ops: Vector[EntryOp], label: String, entryCol: String,
        calcCol: String, hidden: Set[Int] = Set.empty)
      val qSlicerAll = resolveSlicer(qs.slicer, qs.withSets)
      // non-breaking Order needs every entry's strict ancestors' CELLS
      // for the hierarchical comparison (Mondrian evaluates them
      // whether or not they are set members): ancestors missing from
      // the set join the entry list as HIDDEN entries — aggregated in
      // the same pass, ranked like any sibling, dropped before the
      // axis renders (applyEntryOps excludes them from the live frame)
      def injectHiddenAncestors(f: CalcFactor): CalcFactor = {
        val needs = f.ops.exists {
          case EntryOrder(_, SortDir.Asc | SortDir.Desc) => true
          case _ => false
        }
        if (!needs) return f
        val norm = f.paths.map(_.map(String.valueOf))
        val have = norm.toSet
        val missing = norm.flatMap(p => (1 until p.length).map(p.take))
          .distinct.filterNot(have)
        if (missing.isEmpty) return f
        val missingOrig = missing.map { mp =>
          val src = f.paths.zip(norm)
            .find(_._2.take(mp.length) == mp).get._1
          src.take(mp.length)
        }
        f.copy(paths = f.paths ++ missingOrig,
          hidden = (f.paths.length until
            f.paths.length + missingOrig.length).toSet)
      }
      val factors = calcIdxs.zipWithIndex.map { case (fi, k) =>
        dcl.flatten(rowsFactors(fi), qSlicerAll) match {
          case Right((d, ps, ops)) =>
            if (ps.isEmpty)
              refuse("the entry list is empty after positional slicing")
            // factor 0 keeps the bare column names so the single-factor
            // plan (and the entry-op machinery) is unchanged
            val tag = if (k == 0) "" else s"_$k"
            injectHiddenAncestors(
              CalcFactor(d, ps, ops, cube.dim(d).levels.head.col,
                s"__entry$tag", s"__calc$tag"))
          case Left(why) => refuse(why)
        }
      }
      if (factors.map(_.dim.toLowerCase).distinct.length < factors.length)
        refuse("two calc-bearing factors on the same hierarchy")
      val cf0 = factors.head
      val dim = cf0.dim
      val entryOps = cf0.ops
      val otherIdxs =
        rowsFactors.indices.filterNot(calcIdxs.contains)
      val otherFactors = otherIdxs.map(rowsFactors)
      // Filter/Order and post-slicing need the entries' CELLS first
      // (evaluate-then-prune). With calc-free other factors OR a
      // second calc-bearing factor present, the fused path runs a
      // PRE-crossjoin pass per op-bearing factor at ITS OWN entry
      // grain (the MDX condition context carries no other factor's
      // coordinate — FilterFunDef evaluates its own set before the
      // crossjoin exists; r14 refused the two-calc-factor form)
      // NON-breaking Order (OrderFunDef's default ASC/DESC):
      // Mondrian's hierarchical sort puts ancestors before
      // descendants and compares SIBLING ancestors by their cells
      // (FunUtil.compareHierarchicallyButSiblingsByValue). Every
      // comparison resolves within the ENTRY LIST because ancestors
      // missing from the set were injected above as hidden entries
      def hierFor(f: CalcFactor): Option[EntryHier] =
        if (!f.ops.exists {
          case EntryOrder(_, SortDir.Asc | SortDir.Desc) => true
          case _ => false
        }) None
        else {
          val norm = f.paths.map(_.map(String.valueOf))
          // first occurrence wins for duplicated literals; hidden
          // ancestors were injected above, so every strict prefix of
          // every path resolves (the getOrElse is an invariant guard)
          val posOf = norm.zipWithIndex.reverse.toMap
          val parentOf = norm.indices.map { i =>
            i -> (if (norm(i).length <= 1) -1
              else posOf.getOrElse(norm(i).init, refuse(
                "internal: entry [" + f.paths(i).mkString("].[") +
                  "]'s ancestor missing after hidden-ancestor " +
                  "injection")))
          }.toMap
          val chainOf = norm.indices.map { i =>
            i -> ((1 until norm(i).length)
              .map(k => posOf(norm(i).take(k))) :+ i)
          }.toMap
          val isCalcOf = f.paths.indices.map { i =>
            i -> dcl.of(f.dim, f.paths(i)).isDefined
          }.toMap
          Some(EntryHier("", parentOf, chainOf, isCalcOf, f.hidden))
        }
      val entryHier: Option[EntryHier] = hierFor(factors.head)
      val otherSet = otherFactors.reduceRightOption(CrossJoin(_, _))
      // the other factors' member frames pin the extra tuple
      // coordinates; plan-building only (nothing executes here)
      val otherFrame0 = otherSet.map(s => evalSet(s, qSlicerAll, qs.withSets))
      val otherDims = otherFrame0.map(_.dims).getOrElse(Nil)
      val otherKeys = otherDims.flatMap(ad => levelCols(ad.d, ad.depth))
      factors.foreach { f =>
        if (otherDims.exists(_.d.name.equalsIgnoreCase(f.dim)))
          refuse("the calc member's own hierarchy appears in another " +
            "CrossJoin factor")
      }
      // a calc set constraining a dimension ANOTHER factor enumerates
      // executes through MDX context override since r16 (AggregateFunDef
      // evaluates each set member via Evaluator.setContext, which
      // REPLACES the current coordinate on the member's hierarchy — so
      // the cell is CONSTANT across the overridden factor's members):
      // the overriding entry groups without that factor's keys and
      // skips its semi-join and WHERE items; the frame join copies the
      // cell across the factor's members. A set constraining another
      // CALC factor's hierarchy still refuses (the override would have
      // to rewrite that factor's own entry predicates — no Mondrian
      // precedent to pin the combination against).
      def itemDims(items: Seq[SlicerItem]): Set[String] = items.flatMap {
        case MemberSlice(d, _) => Seq(d)
        case SetSlice(d, _)    => Seq(d)
        case ExprSlice(_, ds)  => ds
        case EvalSlice(set) =>
          evalSet(set, Nil, qs.withSets).dims.map(_.d.name)
      }.toSet
      val constrainedOf: Map[String, Set[String]] = factors.map { f =>
        f.dim -> f.paths.flatMap(p => dcl.of(f.dim, p).toSeq).flatMap {
          case (cm, dc) => itemDims(dcl.sliceOf(cm, dc))
        }.toSet
      }.toMap
      val otherDimsLc = otherDims.map(_.d.name.toLowerCase).toSet
      val hasOverride = factors.exists(f =>
        constrainedOf(f.dim).exists(d => otherDimsLc(d.toLowerCase)))
      factors.foreach { f =>
        val calcEnum = factors.filterNot(_ eq f).map(_.dim)
        val clash = calcEnum.filter(d => constrainedOf(f.dim)
          .exists(_.equalsIgnoreCase(d)))
        if (clash.nonEmpty)
          refuse(s"a calc member's set constrains [${clash.mkString(", ")}]" +
            ", a hierarchy another CALC factor enumerates")
      }
      val label = cf0.label
      // FUSED single-pass lowering: every axis entry — stored member or
      // dim-hosted Aggregate calc — lowers to a row predicate over
      // ONE star frame; a row satisfying several entries explodes
      // into each entry key, and one groupBy aggregates all members
      // (× the other factors' level columns when the set is a
      // crossjoin): one Exchange for N members instead of N fact
      // passes (correct for every aggregator incl. avg/distinct — the
      // group sees raw fact rows, never pre-aggregates). Calc measures
      // run on the aggregated frame through the ordinary applyCalcs
      // layer with the entry key as an extra grouping column (an
      // EntryCtx). Roles ride the fused pass too (r14): stored entries
      // are visibility-filtered against the role-restricted member
      // frame and the grant slicer ANDs into the scan. This pass reads
      // the raw fact by design — AggRouter rollups can't serve
      // avg/distinct over arbitrary member-set filters and the explode
      // key is not a grain the SegmentCache speaks.
      pruneFor(qs)
      // a context-dependent calc (window/SetAgg/LinReg, or an
      // expression reading a CurrentMember macro), a context override
      // or a mixed-depth factor is evaluated against ONE calc factor's
      // entries at the full axis grain: the multi-factor entry cross
      // product, NECJ tuple support and the pre-crossjoin op pass stay
      // refused alongside them
      val contextual = neededCalcs.exists(_.calc match {
        case ExprCalc(sql)  => sql.contains("__CURRENT_")
        case _: DimAggCalc => false
        case _             => true
      })
      val mixedOther = otherFrame0.exists(of =>
        of.mixedDim.nonEmpty || of.mixedDepths.nonEmpty)
      if (contextual || hasOverride || mixedOther) {
        val why = "alongside context-dependent (window/set-aggregating) " +
          "calc measures, a context override or mixed-depth factors"
        if (factors.length > 1)
          refuse(s"calc members in more than one CrossJoin factor $why")
        if (necjTuples)
          refuse(s"NonEmptyCrossJoin with a calc factor $why")
        if (entryOps.nonEmpty && otherFactors.nonEmpty)
          refuse("Filter/Order/positional ops over the calc factor of " +
            s"a CrossJoin $why")
      }
      // `ov`: the (lower-cased) other-factor hierarchies the entry's
      // set overrides
      case class AxisEntry(idx: Int, name: String, isCalc: Boolean,
        items: Seq[SlicerItem], ov: Set[String] = Set.empty)
      // a role hides out-of-grant STORED members from the axis
      // (memberFrame visibility, connection_role_test.rb:46-90);
      // calc members are synthetic and always render. One filtered
      // dimension-frame probe per literal depth covers all entries
      // (the collect is <= N rows — the frame filter pushes to the
      // dimension scan). With the grant slicer ANDed into the scan
      // below, both role effects ride the fused pass, so N entries
      // still cost ONE fact pass.
      def entriesOf(f: CalcFactor): Seq[AxisEntry] = {
        val es = f.paths.zipWithIndex.map { case (p, i) =>
          dcl.of(f.dim, p) match {
            case Some((cm, dc)) =>
              val items = dcl.sliceOf(cm, dc)
              AxisEntry(i, cm.name, isCalc = true,
                resolveSlicer(items, qs.withSets),
                itemDims(items).map(_.toLowerCase).intersect(otherDimsLc))
            case None =>
              AxisEntry(i, p.last.toString, isCalc = false,
                Seq(MemberSlice(f.dim, p)))
          }
        }
        if (cube.role.isEmpty) es
        else {
          val d = cube.dim(f.dim)
          val storedPaths = es.collect {
            case e if !e.isCalc =>
              e.items.head.asInstanceOf[MemberSlice].path
          }
          val visible: Set[Seq[String]] = storedPaths
            .groupBy(_.length).iterator.flatMap { case (len, ps) =>
              val cols = levelCols(d, len - 1)
              memberFrame(d, len - 1)
                .filter(orAll(ps.map(p => ancestorPredicate(d, p))))
                .select(cols.map(col): _*).distinct().collect()
                .map(r => cols.indices.map(i => String.valueOf(r.get(i))))
            }.map(_.toSeq).toSet
          // injected hidden ancestors are rank-only — aggregated for
          // the hierarchical Order's comparison, never rendered — so
          // role visibility does not apply to them (dropping one
          // would silently shorten descendants' rank chains and
          // mis-order instead of refusing; ADVICE r15)
          val kept = es.filter(e => e.isCalc || f.hidden(e.idx) ||
            visible(e.items.head.asInstanceOf[MemberSlice].path
              .map(String.valueOf)))
          // a role-hidden STORED entry that is an ancestor of a
          // surviving entry would also shorten the rank chain — the
          // non-breaking Order cannot rank through a member the role
          // removed, so refuse loudly rather than mis-order
          if (f.ops.exists {
            case EntryOrder(_, SortDir.Asc | SortDir.Desc) => true
            case _ => false
          }) {
            val keptIdx = kept.map(_.idx).toSet
            val norm = f.paths.map(_.map(String.valueOf))
            val brokenAnc = es.map(_.idx).filterNot(keptIdx).filter {
              di =>
                kept.exists(k => k.idx != di &&
                  norm(k.idx).length > norm(di).length &&
                  norm(k.idx).take(norm(di).length) == norm(di))
            }
            if (brokenAnc.nonEmpty)
              refuse("a non-breaking Order over a set whose ancestor " +
                "entry [" +
                f.paths(brokenAnc.head).mkString("].[") +
                "] is hidden by the role (its sibling rank chain " +
                "would be incomplete) — use BASC/BDESC")
          }
          kept
        }
      }
      val factorEntries: Seq[(CalcFactor, Seq[AxisEntry])] =
        factors.map(f => f -> entriesOf(f))
      val qSlicer = qSlicerAll
      // Same-dim query-slicer items: for a CALC entry they fold
      // into its predicate through resolveSlicer's compound (OR)
      // grouping — the union of the calc's own members
      // (query.rb:379-386); for a STORED entry they AND — the
      // normal axis-path semantics (the slicer restricts the
      // cells; an excluded member keeps its row, null cells).
      // Items on other dims filter globally and push to the scan.
      // With several calc factors, each overlap item folds into
      // exactly ONE factor's entry predicates (its effect reaches
      // every tuple through that factor's explode key).
      def itemDim(i: SlicerItem): Option[String] = i match {
        case MemberSlice(d, _) => Some(d)
        case SetSlice(d, _)    => Some(d)
        case _                 => None
      }
      val factorItemDims: Seq[Set[String]] = factorEntries.map {
        case (_, es) => es.flatMap(_.items).flatMap(itemDim).toSet
      }
      // a WHERE item on a hierarchy some entry overrides neither folds
      // into a calc entry nor filters the scan globally: it ANDs into
      // every NON-overriding entry's predicate
      val ovDimsAll = factorEntries.flatMap(_._2.flatMap(_.ov)).toSet
      val (sharedOv, sliceRest) = qSlicer.partition(i =>
        itemDims(Seq(i)).exists(d => ovDimsAll(d.toLowerCase)))
      val (overlap, sharedRest) = sliceRest.partition(i =>
        itemDim(i).exists(d => factorItemDims.exists(_.contains(d))))
      overlap.foreach { i =>
        if (factorItemDims.count(s => itemDim(i).exists(s)) > 1)
          refuse("a WHERE item on a dimension constrained by calc " +
            "members of more than one CrossJoin factor")
      }
      def overlapOf(k: Int): Seq[SlicerItem] =
        overlap.filter(i => itemDim(i).exists(factorItemDims(k)))
      // the grant/deny slicer (Partial rollup policy) ANDs into the
      // scan GLOBALLY — for every entry, calc or stored — never into
      // the per-entry compound OR (a grant OR-folded into a calc
      // set would WIDEN it; the role spec pins AND semantics)
      val joinItems = qSlicer ++ roleSlicer ++
        factorEntries.flatMap(_._2.flatMap(_.items))
      // AggRouter (SURVEY §4 #6) serves the fused axis too: when a
      // declared rollup covers every dimension the entries, the
      // slicer, and the other factors touch — at the depths they
      // touch — and every needed measure is a decomposable partial,
      // the single pass reads the ROLLUP rows instead of the fact
      // (the entry predicates explode level columns the rollup
      // carries; the group then MERGES partials — sum of sums and
      // counts, min of mins). avg/distinct keep the raw-fact scan.
      val routedAt = AggRouter.route(cube,
        neededJoins(otherDims, joinItems), joinItems, neededMeasures)
      val sliced0 = routedAt match {
        case Some(at) =>
          AggRouter.lastHit = Some(at.name)
          at.df.filter(slicerPredicate(sharedRest ++ roleSlicer))
        case None =>
          joinStar(neededJoins(otherDims, joinItems), joinItems)
            .filter(slicerPredicate(sharedRest ++ roleSlicer))
      }
      // a HIGH-CARDINALITY other factor (reference high_cardinality
      // opt-out) must never ride a broadcast: its member frame and
      // the (entry x member)-grained aggregate are both
      // axis-cardinality-sized, which at scale is millions of rows —
      // those joins stay shuffles; only the entry frame (N rows) is
      // always broadcast-safe
      val otherHighCard = otherDims.exists(_.d.highCardinality)
      // left-major axis rendering (r18): the final sort and the axis
      // columns interleave by each factor's ORIGINAL crossjoin
      // position — Mondrian iterates axis ordinals left-to-right
      // (query.rb:47-57; axis shapes pinned by query_test.rb:
      // 157-174,408-432), so CROSSJOIN(years, {…calc…}) renders
      // year-major, not hoisted calc-first (the last user-visible
      // divergence from the reference's axis contract, VERDICT r17).
      // PER-FACTOR member frames (not the combined otherSet product,
      // whose single renumbered __ord cannot decompose) keep each
      // stored factor's own explicit order when a calc factor sits
      // between two stored ones. Each factor's frame renames its own
      // __ord to __oord<i> and a mixed-depth frame's depth marker to
      // `depthCol`; `ovEntries` are the entries overriding the factor.
      case class OtherFactor(idx: Int, frame: AxisFrame, keys: Seq[String],
        sort: Seq[Column], depthCol: Option[String], ovEntries: Seq[Int])
      val others: Seq[OtherFactor] = otherIdxs.map { oi =>
        val rs = evalSet(rowsFactors(oi), qSlicerAll, qs.withSets)
        val keys = rs.dims.flatMap(ad => levelCols(ad.d, ad.depth))
        val oc = s"__oord$oi"
        val depthCol = rs.mixedDim.map(_ => s"__odepth$oi")
        val members = depthCol.foldLeft(
          if (rs.hasOrd) rs.members.withColumnRenamed(OrdCol, oc)
          else rs.members)((m, dc) => m.withColumnRenamed(DepthCol, dc))
        val sort =
          if (rs.hasOrd) Seq(col(oc).asc)
          else rs.dims.flatMap(ad =>
            ad.d.levelsTo(ad.depth).map(l => col(l.ordinal).asc))
        val dimsLc = rs.dims.map(_.d.name.toLowerCase).toSet
        val ovBy = factorEntries.head._2.filter(_.ov.exists(dimsLc))
        if (ovBy.exists(e => !dimsLc.subsetOf(e.ov)))
          refuse("a calc member's set overrides PART of a " +
            "multi-hierarchy CrossJoin factor — split the factor so " +
            "the overridden hierarchy stands alone")
        OtherFactor(oi, rs.copy(members = members), keys, sort, depthCol,
          ovBy.map(_.idx))
      }
      // crossjoined factors restrict the fact to THEIR members early
      // (broadcast semi-join — dimension-sized), so the groupBy
      // never aggregates tuples the axis won't show. ONE semi-join
      // PER FACTOR (r18): the combined otherSet frame is the
      // factors' cross PRODUCT — m×n rows broadcast where m+n
      // suffice (the per-factor member predicates are independent,
      // so chained semi-joins filter identically); at two mid-sized
      // dims the product broadcast is the difference between
      // kilobytes and a multi-GB build side. A high-card FACTOR
      // skips ITS semi-join (its stray groups the final join drops,
      // same opt-out as the rank-frame hint) without costing the
      // small factors theirs — pre-r18 one high-card factor
      // disabled every factor's restriction. So does an overridden
      // factor (an overriding entry reads rows outside its members); a
      // mixed-depth factor restricts at its shallowest depth, whose
      // keys every deeper member carries too.
      val sliced = others.foldLeft(sliced0) { (df, o) =>
        if (o.frame.dims.exists(_.d.highCardinality) ||
            o.ovEntries.nonEmpty) df
        else {
          val ks = o.frame.dims.flatMap(ad => levelCols(ad.d,
            if (o.frame.mixedDim.contains(ad.d.name)) o.frame.depthsOf.min
            else ad.depth))
          df.join(broadcast(o.frame.members.select(ks.map(col): _*)
            .distinct()), ks, "left_semi")
        }
      }
      val (aggCols0, post0) =
        if (routedAt.isEmpty) Agg.toColumnsFused(neededMeasures)
        else (neededMeasures.map { m =>
          (m.agg match {
            case Agg.Sum | Agg.SumExact | Agg.Count => sum(col(m.name))
            case Agg.Min => min(col(m.name))
            case Agg.Max => max(col(m.name))
            case other => throw new IllegalStateException(
              s"non-decomposable aggregator routed: $other")
          }).as(m.name)
        }, neededMeasures.map(m => col(m.name)))
      // entries are keyed by POSITION, never display name: leaf
      // captions repeat across parents (a Q1 under every year)
      // and a duplicated literal member must stay two rows, not
      // one doubled group.
      // `storedFree`: a set over the entries' own hierarchy replaces a
      // STORED entry's coordinate (only the same-dim WHERE items stay);
      // a calc entry's set stays in its context.
      def entryPreds(es: Seq[AxisEntry], ovl: Seq[SlicerItem],
          storedFree: Boolean = false): Seq[Column] =
        es.map { e =>
          val own =
            if (e.isCalc) slicerPredicate(resolveSlicer(ovl ++ e.items))
            else if (storedFree) slicerPredicate(ovl)
            else if (ovl.isEmpty) slicerPredicate(e.items)
            else slicerPredicate(e.items) && slicerPredicate(ovl)
          val where = sharedOv.filterNot(i =>
            itemDims(Seq(i)).exists(d => e.ov(d.toLowerCase)))
          if (where.isEmpty) own else own && slicerPredicate(where)
        }
      // the null slots explode through and a plain IS NOT NULL
      // filter drops them AFTER the generator: the obvious
      // `filter(arr, isNotNull)` lambda is a higher-order function
      // Spark CANNOT codegen (CodegenFallback — interpreted per fact
      // row; measured 2-3x the whole aggregation at sf1), while
      // explode + WHERE stays inside whole-stage codegen at the
      // aggregation's own floor
      def keyArrOf(es: Seq[AxisEntry], preds: Seq[Column]): Column =
        // an emptied entry list (ops pruned everything) keeps the
        // array typed with one never-matching element: the explode
        // yields nothing and the empty entry frame empties the axis
        if (es.isEmpty) array(when(lit(false), lit(0)))
        else array(es.zip(preds).map { case (e, p) =>
          when(p, lit(e.idx)) }: _*)
      // Key columns an overriding entry nulls on its rows (with the
      // entries that do), and every key that may hold a null: those,
      // plus a mixed-depth factor's padded keys and depth marker.
      val ovOfKey: Map[String, Seq[Int]] = others
        .filter(_.ovEntries.nonEmpty)
        .flatMap(o => (o.keys ++ o.depthCol).map(_ -> o.ovEntries)).toMap
      val nullableKey: Set[String] = ovOfKey.keySet ++ others
        .filter(_.depthCol.nonEmpty).flatMap(o => o.keys ++ o.depthCol)
      // left-join a per-entry aggregate back by `keys`: a key an
      // overriding entry nulls reads as null on that entry's rows of
      // `left` too, and nullable keys compare null-safely. Plain keys
      // keep the equi-join on column names.
      def joinBack(left: DataFrame, right: DataFrame, keys: Seq[String],
          bcast: Boolean): DataFrame = {
        def side(df: DataFrame) = if (bcast) broadcast(df) else df
        if (!keys.exists(nullableKey)) left.join(side(right), keys, "left")
        else {
          val r = side(keys.foldLeft(right)((df, k) =>
            df.withColumnRenamed(k, s"__jb_$k")))
          val cond = keys.map { k =>
            val l = ovOfKey.get(k).fold(left(k))(es =>
              when(left(cf0.entryCol).isin(es: _*), lit(null))
                .otherwise(left(k)))
            if (nullableKey(k)) l <=> r(s"__jb_$k") else l === r(s"__jb_$k")
          }.reduce(_ && _)
          left.join(r, cond, "left").drop(keys.map(k => s"__jb_$k"): _*)
        }
      }
      // the cell context of calc measures on the fused frame: the
      // entry key groups, partitions and joins every context-dependent
      // calc, whose inner aggregate re-reads the scan at entry × kept
      // × set grain (contextual calcs imply a single calc factor)
      def ctxOf(es: Seq[AxisEntry]): EntryCtx = EntryCtx(
        Seq(cf0.entryCol),
        (kept, set) => {
          val dims = kept ++ set
          val preds = entryPreds(es, overlapOf(0),
            storedFree = set.exists(_.d.name.equalsIgnoreCase(dim)))
          val scan = joinStar(neededJoins(dims, joinItems), joinItems)
            .filter(slicerPredicate(sharedRest ++ roleSlicer))
          val exploded = (if (preds.isEmpty) scan
            else scan.where(orAll(preds)))
            .withColumn(cf0.entryCol, explode(keyArrOf(es, preds)))
            .where(col(cf0.entryCol).isNotNull)
          val keptKeys = groupCols(kept).toSet
          val nulled = ovOfKey.filter(kv => keptKeys(kv._1))
            .foldLeft(exploded) { case (df, (k, ovEs)) =>
              df.withColumn(k, when(col(cf0.entryCol).isin(ovEs: _*),
                lit(null)).otherwise(col(k)))
            }
          val keys = cf0.entryCol +: groupCols(dims)
          val (aggCols, post) = Agg.toColumnsFused(neededMeasures)
          nulled.groupBy(keys.map(col): _*)
            .agg(aggCols.head, aggCols.tail: _*)
            .select(keys.map(col) ++ post: _*)
        },
        joinBack, qs.measures)
      // Filter/Order over the calc factor of a CrossJoin evaluates
      // PRE-crossjoin (FilterFunDef: per member of the set, in the
      // query context — the other factor's coordinate is NOT set):
      // a first fused pass at ENTRY grain over the un-semi-joined
      // scan computes each entry's context cells, the ops prune and
      // reorder the N-row result, and the surviving ordered entries
      // drive the main pass. Two scans, both rollup-servable; the
      // collect is N rows — plan-sized, same convention as the
      // computed-slicer and role-visibility probes.
      val preCross = factors.length > 1 || otherFactors.nonEmpty
      val factorEntries2 =
        if (!preCross) factorEntries
        else factorEntries.zipWithIndex.map { case ((f0, es0), k) =>
          // an entry list emptied BEFORE the pre-pass (a below-ops
          // positional slice dropped the calc and a role hid every
          // remaining stored entry): skip the pre-pass — the main
          // pass's keyArrOf already turns an empty entry list into
          // an empty axis, and reducing zero predicates would throw
          if (f0.ops.isEmpty || es0.isEmpty) (f0, es0)
          else {
            val s2 = sliced0.sparkSession
            import s2.implicits._
            val preds0 = entryPreds(es0, overlapOf(k))
            val p1 = sliced0.where(orAll(preds0))
              .withColumn(f0.entryCol, explode(keyArrOf(es0, preds0)))
              .where(col(f0.entryCol).isNotNull)
              .groupBy(col(f0.entryCol))
              .agg(aggCols0.head, aggCols0.tail: _*)
              .select(col(f0.entryCol) +: post0: _*)
            val ef = es0.map(e => (e.idx, e.name, e.isCalc))
              .toDF(f0.entryCol, f0.label, f0.calcCol)
            val j0 = ef.join(broadcast(p1), Seq(f0.entryCol), "left")
            val countishP = neededMeasures
              .filter(m =>
                m.agg == Agg.Count || m.agg == Agg.DistinctCount)
              .map(_.name).filter(j0.columns.contains)
            val j = applyCalcs(
              countishP.foldLeft(j0)((df, m) => df.withColumn(m,
                when(col(f0.calcCol) && col(m).isNull, lit(0L))
                  .otherwise(col(m)))),
              Nil, qSlicerAll, qs.withSets, Some(ctxOf(es0)))
            val kept = applyEntryOps(j.withColumn("__pos",
                (col(f0.entryCol) + 1).cast("long")),
                f0.ops, f0.dim, f0.label,
                hierFor(f0).map(_.copy(entryCol = f0.entryCol)))
              .orderBy(col("__pos").asc)
              .select(col(f0.entryCol)).collect().map(_.getInt(0))
            val byIdx = es0.map(e => e.idx -> e).toMap
            val reindexed = kept.toSeq.zipWithIndex.map {
              case (old, i) => byIdx(old).copy(idx = i)
            }
            (f0, reindexed)
          }
        }
      // ops with other factors were consumed by the pre-pass above
      val opsDownstream =
        if (!preCross) entryOps else Vector.empty[EntryOp]
      // With several calc factors the explodes CHAIN — a row
      // multiplies into every (e1, .., eK) combination it satisfies
      // — and one groupBy aggregates the whole entry cross product,
      // still in the same single scan.
      val entryCols = factors.map(_.entryCol)
      val factorPreds: Seq[Seq[Column]] =
        factorEntries2.zipWithIndex.map { case ((_, es), k) =>
          entryPreds(es, overlapOf(k)) }
      // rows matching NO entry of some factor never form a tuple:
      // the any-match disjunction filters them BEFORE the first
      // explode — a plain codegen'd predicate Catalyst pushes toward
      // the scan, which for a selective entry set (two nations of a
      // 25-nation dim) prunes the fact before any row multiplies
      val pruned = factorPreds.filter(_.nonEmpty)
        .foldLeft(sliced)((df, ps) => df.where(orAll(ps)))
      val labeled = factorEntries2.zip(factorPreds).foldLeft(pruned) {
        case (df, ((f, es), preds)) =>
          df.withColumn(f.entryCol, explode(keyArrOf(es, preds)))
            .where(col(f.entryCol).isNotNull)
      }
      // a mixed-depth factor gives each row one key tuple per depth
      // present (deeper levels null, the depth marker set — the
      // grouping sets of mixedCells, as an explode); an entry
      // overriding a factor groups with that factor's keys null
      val keyed = others.foldLeft(labeled) { (df, o) =>
        val isOv = col(cf0.entryCol).isin(o.ovEntries: _*)
        o.depthCol match {
          case Some(dc) =>
            val levels = o.frame.dims
              .filter(ad => o.frame.mixedDim.contains(ad.d.name))
              .flatMap(ad => levelCols(ad.d, ad.depth))
            def tuple(dep: Option[Int]): Column = struct(
              (dep.fold(lit(null).cast("int"))(lit(_)).as(dc) +:
                o.keys.map { k =>
                  (if (dep.exists(levels.indexOf(k) <= _)) col(k)
                   else lit(null).cast(df.schema(k).dataType)).as(k)
                }): _*)
            val perDepth = array(o.frame.depthsOf.distinct.sorted
              .map(dep => tuple(Some(dep))): _*)
            val arr =
              if (o.ovEntries.isEmpty) perDepth
              else when(isOv, array(tuple(None))).otherwise(perDepth)
            (o.keys :+ dc).foldLeft(df.withColumn("__mx", explode(arr)))(
              (x, k) => x.withColumn(k, col("__mx").getField(k)))
              .drop("__mx")
          case None if o.ovEntries.nonEmpty =>
            o.keys.foldLeft(df)((x, k) =>
              x.withColumn(k, when(isOv, lit(null)).otherwise(col(k))))
          case None => df
        }
      }
      // NECJ tuple existence = at least one fact row in the group —
      // a count over the SAME single scan, no second pass, WHEN the
      // NECJ spans the whole axis (the common shape: one group, all
      // factors in it — support grain == group grain). Over a
      // routed rollup the count is of ROLLUP rows — existence-
      // equivalent (a rollup row exists iff fact rows did). An NECJ
      // nested under an outer CrossJoin evaluates support at its
      // OWN factors' grain instead — see the support pass below.
      val necjFullGrain = necjTuples &&
        necjGroupN == 1 && factorGroup.forall(_ == 0)
      val aggCols =
        if (!necjFullGrain) aggCols0
        else aggCols0 :+ count(lit(1L)).as("__nrows")
      val post =
        if (!necjFullGrain) post0 else post0 :+ col("__nrows")
      val frameKeys = entryCols ++ otherKeys ++ others.flatMap(_.depthCol)
      val agged = keyed
        .groupBy(frameKeys.map(col): _*)
        .agg(aggCols.head, aggCols.tail: _*)
        .select(frameKeys.map(col) ++ post: _*)
      // a member (tuple) with no satisfying fact rows keeps its axis
      // row. A CALC entry's count-aggregated cells coalesce to 0
      // there (Aggregate over an empty set COUNTS zero); stored
      // entries stay null like any axis member outside the slicer.
      val s = sliced.sparkSession
      import s.implicits._
      // the N-row entry frames are the broadcast sides of the axis
      // cross product, whatever the other factor's size
      val entryFrames = factorEntries2.map { case (f, es) =>
        es.map(e => (e.idx, e.name, e.isCalc))
          .toDF(f.entryCol, f.label, f.calcCol)
      }
      val frame = others.map(_.frame.members) match {
        case Seq() => entryFrames.tail.foldLeft(entryFrames.head)(
          (acc, ef) => acc.crossJoin(broadcast(ef)))
        case oms => entryFrames.foldLeft(oms.reduce(_ crossJoin _))(
          (acc, ef) => acc.crossJoin(broadcast(ef)))
      }
      val joined0 = joinBack(frame, agged, frameKeys, bcast = !otherHighCard)
      val countish = neededMeasures
        .filter(m => m.agg == Agg.Count || m.agg == Agg.DistinctCount)
        .map(_.name).filter(joined0.columns.contains)
      // a tuple is "calc" when ANY factor coordinate is a calc
      // member — Aggregate over an empty set COUNTS zero there
      val calcAny = factors.map(f => col(f.calcCol)).reduce(_ || _)
      // calc measures in solve order, after the count coalesce (an
      // expression over a count sees the calc entry's 0)
      val joined = applyCalcs(
        countish.foldLeft(joined0) { (df, m) =>
          df.withColumn(m,
            when(calcAny && col(m).isNull, lit(0L))
              .otherwise(col(m)))
        }, otherDims, qSlicerAll, qs.withSets,
        Some(ctxOf(factorEntries2.head._2)))
      // NECJ drops axis tuples without fact support (the left join
      // leaves __nrows null there); plain CrossJoin keeps them with
      // null/zero cells. When the NECJ is NESTED under an outer
      // CrossJoin, support is evaluated at the NECJ's own grain —
      // its factors' entry/key columns only, from the scan BEFORE
      // the outer factors' member restriction (the NECJ context has
      // no outer-factor coordinate; Mondrian keeps unsupported
      // outer combinations as null-cell rows) — one small
      // distinct-support pass per NECJ group, semi-joined in.
      val tupled =
        if (!necjTuples) joined
        else if (necjFullGrain)
          joined.filter(col("__nrows") >= 1).drop("__nrows")
        else (0 until necjGroupN).foldLeft(joined) { (df, g) =>
          val gCalcKs = factors.indices
            .filter(k => factorGroup(calcIdxs(k)) == g)
          val gOtherCols =
            others.filter(o => factorGroup(o.idx) == g).flatMap(_.keys)
          val supBase = gCalcKs.map(k => factorPreds(k))
            .filter(_.nonEmpty)
            .foldLeft(sliced0)((d, ps) => d.where(orAll(ps)))
          val supLabeled = gCalcKs.foldLeft(supBase) { (d, k) =>
            val (f, es) = factorEntries2(k)
            d.withColumn(f.entryCol,
                explode(keyArrOf(es, factorPreds(k))))
              .where(col(f.entryCol).isNotNull)
          }
          val gCols =
            gCalcKs.map(k => factors(k).entryCol) ++ gOtherCols
          df.join(supLabeled.select(gCols.map(col): _*).distinct(),
            gCols, "left_semi")
        }
      // evaluate-then-prune: Filter/Order/slice ops run on the N
      // aggregated entry rows (never the fact), positions seeded
      // from the literal order (ops with other factors ran in the
      // pre-crossjoin pass instead)
      val posed =
        if (opsDownstream.isEmpty) tupled
        else applyEntryOps(
          tupled.withColumn("__pos", (col("__entry") + 1).cast("long")),
          opsDownstream, dim, label,
          entryHier.map(_.copy(entryCol = cf0.entryCol)))
      // sort keys and axis columns in factor-position order: a calc
      // factor sorts by its entry position (post-op __pos when ops
      // ran downstream — single-factor shape, nothing to interleave),
      // a stored factor by its own __oord / level ordinals
      val axisSort: Seq[Column] = rowsFactors.indices.flatMap { fi =>
        val k = calcIdxs.indexOf(fi)
        if (k < 0) others.find(_.idx == fi).get.sort
        else if (k == 0 && opsDownstream.nonEmpty) Seq(col("__pos").asc)
        else Seq(col(factors(k).entryCol).asc)
      }
      val axisCols: Seq[String] = rowsFactors.indices.flatMap { fi =>
        val k = calcIdxs.indexOf(fi)
        if (k < 0) others.find(_.idx == fi).get.keys
        else Seq(factors(k).label)
      }
      val out = posed.orderBy(axisSort: _*)
        .select((axisCols ++ qs.measures).map(col): _*)
      return if (!qs.nonEmpty) out
        else out.filter(
          qs.measures.map(col(_).isNotNull).reduce(_ || _))
    }
    val q = qs
    pruneFor(q)
    q.rows match {
      case None =>
        val cells = aggregate(Nil, q.slicer)
        val withCalcs = applyCalcs(cells, Nil, q.slicer, q.withSets)
        withCalcs.select(q.measures.map(col): _*)
      case Some(set) =>
        val axis = evalSet(set, q.slicer, q.withSets)
        val joined = joinCells(axis, q.slicer)
        val withCalcs = applyCalcs(joined, axis.dims, q.slicer, q.withSets)
        val pruned =
          if (!q.nonEmpty) withCalcs
          else {
            // NON EMPTY drops rows empty in every DISPLAYED column
            // (q.measures), not in dependency-only measures (ADVICE r1)
            val shown = q.measures.filter(withCalcs.columns.contains)
            val basis = if (shown.nonEmpty) shown
                        else neededMeasures.map(_.name)
            val anyData = basis.map(col(_).isNotNull).reduce(_ || _)
            withCalcs.filter(anyData)
          }
        val sortCols: Seq[Column] =
          if (axis.hasOrd) Seq(col(OrdCol).asc)
          else axis.dims.flatMap(ad =>
            ad.d.levelsTo(ad.depth).map(l => col(l.ordinal).asc))
        val out = axis.dims.flatMap(ad => levelCols(ad.d, ad.depth)) ++
          q.measures
        pruned.orderBy(sortCols: _*).select(out.map(col): _*)
    }
  }

  /** Calc-member layer in solve order: Expr calcs are plain column
    * expressions; Window calcs lower to Spark Window functions over the
    * member ordinals (SURVEY §2.5 — MDX relative navigation → Window).
    * With `ctx`, `df` is a fused dim-calc frame and every calc is
    * evaluated per axis entry.
    */
  private def applyCalcs(df: DataFrame,
      axisDims: Seq[AxisDim],
      slicer: Seq[SlicerItem],
      withSets: Map[String, SetExpr],
      ctx: Option[EntryCtx] = None): DataFrame =
    neededCalcs.sortBy(_.solveOrder).foldLeft(df) {
      (acc, cm) =>
        cm.calc match {
          case ExprCalc(sql) =>
            try {
              val (d2, s2) =
                resolveProps(acc, resolveCurrent(sql, axisDims), axisDims)
              d2.withColumn(cm.name, sexpr(s2))
            } catch {
              // a calc the query SELECTS must not drop silently from a
              // fused dim-calc frame: fail loudly with the calc's name
              // instead of letting the final measure select die with an
              // unrelated column-not-found (ADVICE r15)
              case ex: org.apache.spark.sql.AnalysisException
                  if ctx.exists(_.shown.exists(_.equalsIgnoreCase(cm.name))) =>
                throw new IllegalArgumentException(
                  s"calculated measure '${cm.name}' failed to resolve on " +
                    "the fused dim-calc frame: " + ex.getMessage, ex)
              case _: org.apache.spark.sql.AnalysisException => acc
            }
          case WindowCalc(base, kind, overDim, resetLevel) =>
            axisDims.find(_.d.name == overDim) match {
              case None => acc // window dim not on axis → undefined, skip
              case Some(ad) =>
                acc.withColumn(cm.name, windowColumn(base, kind, ad,
                  axisDims, resetLevel, ctx.fold(Seq.empty[String])(_.cols)))
            }
          case sac: SetAggCalc =>
            setAggColumn(acc, cm.name, sac, axisDims, slicer, withSets, ctx)
          case lrc: LinRegCalc =>
            linRegColumn(acc, cm.name, lrc, axisDims, slicer, withSets, ctx)
          case _: DimAggCalc => acc // axis member, not a cell column
        }
    }

  /** MDX Sum/Avg/Min/Max/Count/Aggregate(set[, measure]) per axis cell:
    * aggregate the subcube at (axis grain × set grain) restricted to the
    * set's members, then fold the per-member values back to the axis
    * grain. One extra aggregation + a broadcast join — the set member
    * frame stays on the dimension side, never a fact re-scan per cell.
    */
  /** Sum/Avg/Aggregate(set) and LinReg series sets iterate member
    * VALUES; a dim-hosted calc member inside one would need per-member
    * cell evaluation (its value is itself an aggregate), which the
    * subcube-fold lowering cannot express — and the ordinary set
    * machinery would silently filter the synthetic name to nothing.
    * Refuse loudly instead (the engine-wide dim-calc principle:
    * execute or refuse, never drop). Checked against ALL calc members
    * in scope — a member-path literal never registers in pruneFor's
    * text scan, so neededCalcs would miss it.
    */
  private def requireNoDimCalcMember(set: SetExpr,
      withSets: Map[String, SetExpr], ctx: String): Unit = {
    val hosted = allCalcMembers.collect {
      case CalcMember(n, dc: DimAggCalc, _, _, _, _) =>
        n.toLowerCase -> dc.dim.toLowerCase
    }.toMap
    if (hosted.isEmpty) return
    def walk(s: SetExpr, seen: Set[String]): Boolean = s match {
      case Members(d, ps) => ps.exists(p => p.lastOption.exists(n =>
        hosted.get(n.toString.toLowerCase).contains(d.toLowerCase)))
      case NamedSetRef(n) => !seen(n) &&
        withSets.get(n).exists(walk(_, seen + n))
      case other: Product => other.productIterator.exists {
        case e: SetExpr => walk(e, seen)
        case _          => false
      }
    }
    require(!walk(set, Set.empty),
      s"calculated member inside $ctx is not supported — aggregate " +
        "the member's own set there instead")
  }

  private def setAggColumn(acc: DataFrame, name: String, sac: SetAggCalc,
      axisDims: Seq[AxisDim], slicer: Seq[SlicerItem],
      withSets: Map[String, SetExpr], ctx: Option[EntryCtx]): DataFrame = {
    requireNoDimCalcMember(sac.set, withSets,
      s"the ${sac.fn}(set) of measure [$name]")
    val frame = evalSet(sac.set, slicer, withSets)
    val setKeys = frame.dims.flatMap(fd => levelCols(fd.d, fd.depth))
    if (sac.fn == "COUNT" && sac.includeEmpty) {
      // member count is axis-independent: no fact scan at all. Joined
      // in as a lazy broadcast scalar — not a driver-side count() —
      // so building the query plan never runs a job.
      val cnt = frame.members.select(setKeys.map(col): _*).distinct()
        .agg(count(lit(1)).as(name))
      return acc.crossJoin(broadcast(cnt))
    }
    // MDX context override: a set over a hierarchy that is ALSO on the
    // axis replaces that hierarchy's cell coordinate (its members carry
    // their own ancestors), so the axis dim drops out of the grain and
    // the value repeats per overridden row.
    val keptAxis = axisDims.filterNot(ad =>
      frame.dims.exists(_.d.name == ad.d.name))
    val keptKeys = ctx.fold(Seq.empty[String])(_.cols) ++ groupCols(keptAxis)
    val inner = ctx.fold(aggregate(keptAxis ++ frame.dims, slicer))(
      _.cells(keptAxis, frame.dims))
    val restricted = inner.join(
      broadcast(frame.members.select(setKeys.map(col): _*).distinct()),
      setKeys, "left_semi")
    val m = cube.measures.find(_.name == sac.measure)
    // the measure slot may carry a lowered EXPRESSION
    // (Aggregate(set, [Measures].[m] * 2), mondrian_test.rb:224-229):
    // evaluated per member over the restricted subcube's measure
    // columns; a plain name resolves to its column either way
    val valueCol = sexpr(sac.measure)
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
    val outer =
      if (keptKeys.isEmpty) restricted.agg(aggCol)
      else restricted.groupBy(keptKeys.map(col): _*).agg(aggCol)
    if (keptKeys.isEmpty) acc.crossJoin(broadcast(outer))
    else joinLeft(acc, outer, keptKeys, ctx)
  }

  /** Left-join a per-cell frame back onto the axis frame (broadcast):
    * through the fused dim-calc context's null-safe join when present.
    */
  private def joinLeft(acc: DataFrame, side: DataFrame, keys: Seq[String],
      ctx: Option[EntryCtx]): DataFrame =
    ctx.fold(acc.join(broadcast(side), keys, "left"))(
      _.join(acc, side, keys, true))

  /** MDX LinRegSlope/Intercept/R2/Variance(set, y, x) per axis cell:
    * one (x, y) point per SET MEMBER — `__LR_RANK__` in the lowered
    * expressions is the member's 1-based position in the set's order,
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

  private def linRegColumn(acc: DataFrame, name: String, lrc: LinRegCalc,
      axisDims: Seq[AxisDim], slicer: Seq[SlicerItem],
      withSets: Map[String, SetExpr], ctx: Option[EntryCtx]): DataFrame = {
    requireNoDimCalcMember(lrc.set, withSets,
      s"the LinReg series set of measure [$name]")
    val frame = evalSet(lrc.set, slicer, withSets)
    val setKeys = frame.dims.flatMap(fd => levelCols(fd.d, fd.depth))
    // context override as in setAggColumn: a series over a hierarchy
    // that is also on the axis replaces that coordinate
    val keptAxis = axisDims.filterNot(ad =>
      frame.dims.exists(_.d.name == ad.d.name))
    val keptKeys = ctx.fold(Seq.empty[String])(_.cols) ++ groupCols(keptAxis)
    // The slicer, the WITH-set bindings and the fused dim-calc entry
    // context parameterize evalSet and the inner aggregate, so all
    // belong in the key, or one query reads another's moments (stale
    // slope/intercept/R2 cells).
    val moments = lrMoments.getOrElseUpdate(
      (lrc.set, lrc.yExpr + lrc.rankSet.fold("")("#" + _), lrc.xExpr,
        keptKeys, slicer, withSets, ctx), {
    val ordBy =
      if (frame.hasOrd) Seq(col(OrdCol).asc)
      else frame.dims.flatMap(fd =>
        fd.d.levelsTo(fd.depth).map(l => col(l.ordinal).asc))
    val mCols = frame.dims.flatMap(fd => memberCols(fd.d, fd.depth)) ++
      (if (frame.hasOrd) Seq(OrdCol) else Nil)
    // series position through Ords: a single window for
    // dimension-bounded sets, the distributed range-partitioned
    // numbering when the dim is flagged high_cardinality
    val ranked = Ords.rowNumber(
        frame.members.select(mCols.distinct.map(col): _*).distinct(),
        ordBy, "__lr_rank", hintOf(frame.dims))
      .select((setKeys :+ "__lr_rank").map(col): _*)
    val inner = ctx.fold(aggregate(keptAxis ++ frame.dims, slicer))(
      _.cells(keptAxis, frame.dims))
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
        val rKeys = rf.dims.flatMap(fd => levelCols(fd.d, fd.depth))
        if (rKeys != setKeys)
          series0.withColumn("__lr_xrank", lit(0))
        else {
          val rOrd =
            if (rf.hasOrd) Seq(col(OrdCol).asc)
            else rf.dims.flatMap(fd =>
              fd.d.levelsTo(fd.depth).map(l => col(l.ordinal).asc))
          val rCols = rf.dims.flatMap(fd =>
            memberCols(fd.d, fd.depth)) ++
            (if (rf.hasOrd) Seq(OrdCol) else Nil)
          val ranked2 = Ords.rowNumber(
              rf.members.select(rCols.distinct.map(col): _*).distinct(),
              rOrd, "__lr_xrank", hintOf(rf.dims))
            .select((rKeys :+ "__lr_xrank").map(col): _*)
          series0.join(broadcast(ranked2), setKeys, "left")
            .withColumn("__lr_xrank",
              coalesce(col("__lr_xrank"), lit(0)))
        }
    }
    def lower(e: String): Column =
      sexpr(e.replace("__LR_RANK__", "__lr_rank")
        .replace("__LR_XRANK__", "__lr_xrank")).cast("double")
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
      val joined =
        if (keptKeys.isEmpty) acc.crossJoin(broadcast(o))
        else joinLeft(acc, o, keptKeys, ctx)
      val px = sexpr(lrc.pointX.getOrElse(throw new IllegalArgumentException(
        "LinRegPoint requires the x-slice argument"))).cast("double")
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
    val outer = moments.select((keptKeys.map(col) :+ stat.as(name)): _*)
    if (keptKeys.isEmpty) acc.crossJoin(broadcast(outer))
    else joinLeft(acc, outer, keptKeys, ctx)
      .withColumn(name, coalesce(col(name), lit(Double.NaN)))
  }

  private def windowColumn(base: String, kind: WinKind, ad: AxisDim,
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
    val e = sexpr(base)
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

  /** Aggregate an INSERT-delta batch at a cached segment's exact
    * (grain, slicer, measures) so the segment can be merged in place
    * instead of evicted — the streaming-maintenance analog of the
    * reference's segment update after fact inserts. None when the
    * segment holds a non-decomposable measure (avg, distinct count,
    * stats): those must recompute. Min/Max merge is insert-only (a
    * delete could shift them) — deletes should evict.
    */
  def deltaSegment(grain: Seq[String], slicer: Seq[SlicerItem],
      measureNames: Seq[String], delta: DataFrame): Option[DataFrame] = {
    val ms = measureNames.flatMap(n => cube.measures.find(_.name == n))
    if (ms.length != measureNames.length) return None
    if (!ms.forall(m => Planner.mergeFnOf(m.agg).isDefined)) return None
    axisDimsForGrain(grain).map { axisDims =>
      val p2 = new Planner(
        cube.copy(fact = delta, factPruner = None, aggTables = Nil))
      val star = p2.joinStar(p2.neededJoins(axisDims, slicer), slicer)
      val sliced = star.filter(p2.slicerPredicate(slicer))
      val aggCols = ms.map(m => Agg.toColumn(m.agg, m.expr).as(m.name))
      if (grain.isEmpty) sliced.agg(aggCols.head, aggCols.tail: _*)
      else sliced.groupBy(grain.map(col): _*)
        .agg(aggCols.head, aggCols.tail: _*)
    }
  }

  /** Merge plan for a segment's measures: measure → partial-merge fn. */
  def mergePlanFor(measureNames: Seq[String]): Seq[(String, String)] =
    measureNames.flatMap(n => cube.measures.find(_.name == n)
      .flatMap(m => Planner.mergeFnOf(m.agg)).map(n -> _))

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

  /** The per-entry cell context of a fused dim-calc frame (one row per
    * axis entry × other-factor tuple): `cols` are the entry key columns
    * a context-dependent calc also groups, partitions and joins by;
    * `cells(kept, set)` aggregates the entry-exploded scan at entry ×
    * kept × set grain (a per-entry `aggregate`); `join(left, right,
    * keys, broadcast)` left-joins a per-entry frame back (null-safe
    * where a context override or mixed-depth padding leaves null keys);
    * `shown` are the measures the query selects.
    */
  private[olap] final case class EntryCtx(cols: Seq[String],
      cells: (Seq[AxisDim], Seq[AxisDim]) => DataFrame,
      join: (DataFrame, DataFrame, Seq[String], Boolean) => DataFrame,
      shown: Seq[String])

  /** Partial-merge function per aggregator for insert-delta segment
    * merge; None = non-decomposable (must recompute).
    */
  def mergeFnOf(agg: Agg): Option[String] = agg match {
    case Agg.Sum | Agg.SumExact | Agg.Count => Some("sum")
    case Agg.Min => Some("min")
    case Agg.Max => Some("max")
    case _ => None
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

  /** All level key columns (root..depth) of the dims — the aggregation
    * grain and the axis→cells join key.
    */
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

  def groupCols(dims: Seq[AxisDim]): Seq[String] =
    dims.flatMap(ad => levelCols(ad.d, ad.depth))

  def levelCols(d: BoundDim, depth: Int): Seq[String] =
    d.levelsTo(depth).map(_.col)

  /** Level + ordinal columns (deduped) present in a member frame. */
  def memberCols(d: BoundDim, depth: Int): Seq[String] =
    d.levelsTo(depth).flatMap(l => Seq(l.col, l.ordinal)).distinct
}
