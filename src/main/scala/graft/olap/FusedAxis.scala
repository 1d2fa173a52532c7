package graft.olap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Planner._

/** The fused single-pass lowering of a rows axis that carries dim-hosted
  * `Aggregate({…})` calc members (Mondrian's AggregateFunDef, evaluated
  * per axis position; crossjoin iteration pinned by
  * query_test.rb:157-174). Every axis entry — stored member or calc —
  * lowers to a row predicate over ONE star frame; a row satisfying
  * several entries explodes into each entry key, and one groupBy
  * aggregates all members (× the other factors' level columns when the
  * set is a crossjoin): one Exchange for N members instead of N fact
  * passes (correct for every aggregator incl. avg/distinct — the group
  * sees raw fact rows, never pre-aggregates). Calc measures run on the
  * aggregated frame through the ordinary `applyCalcs` layer with the
  * entry key as an extra grouping column (an [[EntryCtx]]). Roles ride
  * the pass too: stored entries are visibility-filtered against the
  * role-restricted member frame and the grant slicer ANDs into the
  * scan. When every needed measure is decomposable the pass reads the
  * statement's cells at its scan grain through the one cuboid lookup
  * ([[Planner.aggregate]]) — a segment, or one derived from a rollup or
  * a resident segment — and explodes those rows; otherwise it reads the
  * fact.
  *
  * Stages, in order: factor split ([[FusedAxis.render]]) → entry lists
  * → scan → entry explode → aggregate → frame join and calcs → NECJ
  * support → entry ops → axis sort. Built per statement with the
  * [[Planner]] whose `neededMeasures`/`neededCalcs` it reads: the
  * constructor runs the stages up to the scan, [[render]] the rest.
  */
private[olap] final class FusedAxis private (p: Planner,
    dcl: Planner#DimCalcLowering, qs: QueryIR,
    rowsFactors: Seq[SetExpr], factorGroup: Seq[Int], necjGroups: Int) {
  import FusedAxis._

  private def refuse(why: String): Nothing = throw new IllegalArgumentException(
    "calculated member(s) " +
      dcl.calcNames(qs.rows.get).distinct
        .mkString("[", "], [", "]") +
      s" in an unsupported axis set shape ($why): a dim-hosted " +
      "Aggregate member is supported in a literal member set — " +
      "optionally combined with enumerable same-dimension sets " +
      "via Union/Head/Tail/Subset/Distinct, filtered/ordered by " +
      "Filter or Order, and CrossJoined (or " +
      "NonEmptyCrossJoined) with calculated-member-free sets on " +
      "other dimensions — rewrite the axis set or move the " +
      "member to WHERE")

  // ------------------------------------------------------- entry lists

  private val calcIdxs = rowsFactors.indices
    .filter(i => dcl.hasCalcPath(rowsFactors(i)))
  private val otherIdxs = rowsFactors.indices.filterNot(calcIdxs.contains)
  private val qSlicer = p.resolveSlicer(qs.slicer, qs.withSets)
  // every calc-bearing factor flattens to ONE entry list (several
  // factors are allowed — the pass evaluates the full entry cross
  // product in the same single scan)
  private val factors: Seq[CalcFactor] = calcIdxs.zipWithIndex.map {
    case (fi, k) =>
      dcl.flatten(rowsFactors(fi), qSlicer) match {
        case Right((d, ps, ops)) =>
          if (ps.isEmpty)
            refuse("the entry list is empty after positional slicing")
          // factor 0 keeps the bare column names so the single-factor
          // plan (and the entry-op machinery) is unchanged
          val tag = if (k == 0) "" else s"_$k"
          CalcFactor(d, ps, ops, p.cube.dim(d).levels.head.col,
            s"__entry$tag", s"__calc$tag").withHiddenAncestors
        case Left(why) => refuse(why)
      }
  }
  if (factors.map(_.dim.toLowerCase).distinct.length < factors.length)
    refuse("two calc-bearing factors on the same hierarchy")
  private val cf0 = factors.head
  // a calc set constraining a dimension ANOTHER factor enumerates
  // executes through MDX context override (AggregateFunDef evaluates
  // each set member via Evaluator.setContext, which REPLACES the
  // current coordinate on the member's hierarchy — so the cell is
  // CONSTANT across the overridden factor's members): the overriding
  // entry groups without that factor's keys and skips its semi-join
  // and WHERE items; the frame join copies the cell across the
  // factor's members. A set constraining another CALC factor's
  // hierarchy still refuses (the override would have to rewrite that
  // factor's own entry predicates — no Mondrian precedent to pin the
  // combination against).
  private val constrainedOf: Map[String, Set[String]] = factors.map { f =>
    f.dim -> f.paths.flatMap(path => dcl.of(f.dim, path).toSeq).flatMap {
      case (cm, dc) => dcl.dimsOf(dcl.sliceOf(cm, dc))
    }.toSet
  }.toMap
  factors.foreach { f =>
    val calcEnum = factors.filterNot(_ eq f).map(_.dim)
    val clash = calcEnum.filter(d => constrainedOf(f.dim)
      .exists(_.equalsIgnoreCase(d)))
    if (clash.nonEmpty)
      refuse(s"a calc member's set constrains [${clash.mkString(", ")}]" +
        ", a hierarchy another CALC factor enumerates")
  }
  // the calc-free factors' member frames, evaluated once with the
  // statement's measures; they pin the extra tuple coordinates
  private val otherFrames: Seq[AxisFrame] = otherIdxs.map(oi =>
    p.evalSet(rowsFactors(oi), qSlicer, qs.withSets))
  require(otherFrames.count(_.mixedDim.isDefined) <= 1,
    "CrossJoin of two mixed-depth sets is not supported")
  private val otherDims = otherFrames.flatMap(_.dims)
  factors.foreach { f =>
    if (otherDims.exists(_.d.name.equalsIgnoreCase(f.dim)))
      refuse("the calc member's own hierarchy appears in another " +
        "CrossJoin factor")
  }
  private val otherDimsLc = otherDims.map(_.d.name.toLowerCase).toSet
  // a context-dependent calc (window/SetAgg/LinReg, or an expression
  // reading a CurrentMember macro), a context override or a mixed-depth
  // factor is evaluated against ONE calc factor's entries at the full
  // axis grain: the multi-factor entry cross product, NECJ tuple support
  // and the pre-crossjoin op pass stay refused alongside them
  locally {
    val contextual = p.neededCalcs.exists(p.scope.contextual)
    val hasOverride = factors.exists(f =>
      constrainedOf(f.dim).exists(d => otherDimsLc(d.toLowerCase)))
    val mixedOther = otherFrames.exists(of =>
      of.mixedDim.nonEmpty || of.mixedDepths.nonEmpty)
    if (contextual || hasOverride || mixedOther) {
      val why = "alongside context-dependent (window/set-aggregating) " +
        "calc measures, a context override or mixed-depth factors"
      if (factors.length > 1)
        refuse(s"calc members in more than one CrossJoin factor $why")
      if (necjGroups > 0)
        refuse(s"NonEmptyCrossJoin with a calc factor $why")
      if (cf0.ops.nonEmpty && otherIdxs.nonEmpty)
        refuse("Filter/Order/positional ops over the calc factor of " +
          s"a CrossJoin $why")
    }
  }
  // a role hides out-of-grant STORED members from the axis (memberFrame
  // visibility, connection_role_test.rb:46-90); calc members are
  // synthetic and always render. One filtered dimension-frame probe per
  // literal depth covers all entries (the collect is <= N rows — the
  // frame filter pushes to the dimension scan). With the grant slicer
  // ANDed into the scan below, both role effects ride the fused pass,
  // so N entries still cost ONE fact pass.
  private def entriesOf(f: CalcFactor): Seq[AxisEntry] = {
    val es = f.paths.zipWithIndex.map { case (path, i) =>
      dcl.of(f.dim, path) match {
        case Some((cm, dc)) =>
          val items = dcl.sliceOf(cm, dc)
          AxisEntry(i, cm.name, isCalc = true,
            p.resolveSlicer(items, qs.withSets),
            dcl.dimsOf(items).map(_.toLowerCase).intersect(otherDimsLc))
        case None =>
          AxisEntry(i, path.last.toString, isCalc = false,
            Seq(MemberSlice(f.dim, path)))
      }
    }
    if (p.cube.role.isEmpty) es
    else {
      val d = p.cube.dim(f.dim)
      val storedPaths = es.collect {
        case e if !e.isCalc =>
          e.items.head.asInstanceOf[MemberSlice].path
      }
      val visible: Set[Seq[String]] = storedPaths
        .groupBy(_.length).iterator.flatMap { case (len, ps) =>
          val cols = levelCols(d, len - 1)
          p.memberFrame(d, len - 1)
            .filter(orAll(ps.map(path => p.ancestorPredicate(d, path))))
            .select(cols.map(col): _*).distinct().collect()
            .map(r => cols.indices.map(i => String.valueOf(r.get(i))))
        }.map(_.toSeq).toSet
      // injected hidden ancestors are rank-only — aggregated for the
      // hierarchical Order's comparison, never rendered — so role
      // visibility does not apply to them (dropping one would silently
      // shorten descendants' rank chains and mis-order instead of
      // refusing; ADVICE r15)
      val kept = es.filter(e => e.isCalc || f.hidden(e.idx) ||
        visible(e.items.head.asInstanceOf[MemberSlice].path
          .map(String.valueOf)))
      // a role-hidden STORED entry that is an ancestor of a surviving
      // entry would also shorten the rank chain — the non-breaking
      // Order cannot rank through a member the role removed, so refuse
      // loudly rather than mis-order
      if (f.hierOrder) {
        val keptIdx = kept.map(_.idx).toSet
        val norm = f.norm
        val brokenAnc = es.map(_.idx).filterNot(keptIdx).filter { di =>
          kept.exists(k => k.idx != di &&
            norm(k.idx).length > norm(di).length &&
            norm(k.idx).take(norm(di).length) == norm(di))
        }
        if (brokenAnc.nonEmpty)
          refuse("a non-breaking Order over a set whose ancestor " +
            "entry [" + f.paths(brokenAnc.head).mkString("].[") +
            "] is hidden by the role (its sibling rank chain " +
            "would be incomplete) — use BASC/BDESC")
      }
      kept
    }
  }
  private val factorEntries: Seq[(CalcFactor, Seq[AxisEntry])] =
    factors.map(f => f -> entriesOf(f))

  // Same-dim query-slicer items: for a CALC entry they fold into its
  // predicate through resolveSlicer's compound (OR) grouping — the union
  // of the calc's own members (query.rb:379-386); for a STORED entry they
  // AND — the normal axis-path semantics (the slicer restricts the cells;
  // an excluded member keeps its row, null cells). Items on other dims
  // filter globally and push to the scan. With several calc factors, each
  // overlap item folds into exactly ONE factor's entry predicates (its
  // effect reaches every tuple through that factor's explode key).
  private val factorItemDims: Seq[Set[String]] = factorEntries.map {
    case (_, es) => es.flatMap(_.items).flatMap(_.memberDim).toSet
  }
  // a WHERE item on a hierarchy some entry overrides neither folds into
  // a calc entry nor filters the scan globally: it ANDs into every
  // NON-overriding entry's predicate
  private val (sharedOv, sliceRest) = {
    val ovDimsAll = factorEntries.flatMap(_._2.flatMap(_.ov)).toSet
    qSlicer.partition(i =>
      dcl.dimsOf(Seq(i)).exists(d => ovDimsAll(d.toLowerCase)))
  }
  private val (overlap, sharedRest) = sliceRest.partition(i =>
    i.memberDim.exists(d => factorItemDims.exists(_.contains(d))))
  overlap.foreach { i =>
    if (factorItemDims.count(s => i.memberDim.exists(s)) > 1)
      refuse("a WHERE item on a dimension constrained by calc " +
        "members of more than one CrossJoin factor")
  }
  private def overlapOf(k: Int): Seq[SlicerItem] =
    overlap.filter(i => i.memberDim.exists(factorItemDims(k)))
  // the grant/deny slicer (Partial rollup policy) ANDs into the scan
  // GLOBALLY — for every entry, calc or stored — never into the
  // per-entry compound OR (a grant OR-folded into a calc set would WIDEN
  // it; the role spec pins AND semantics)
  private val joinItems = qSlicer ++ p.roleSlicer ++
    factorEntries.flatMap(_._2.flatMap(_.items))

  // -------------------------------------------------------------- scan

  // When every needed measure merges from partials (Agg.partialMerge),
  // the pass reads the statement's cells at the SCAN grain — each level
  // the entries, their folded WHERE items and the other factors touch —
  // through the cuboid lookup (Planner.aggregate under the shared WHERE
  // items): an ordinary segment, reused by later statements and merged
  // by an insert-delta. The entry predicates explode its level columns
  // and the group MERGES the partials. avg/distinct/stats, and an entry
  // predicate over fact columns (ExprSlice), read the fact.
  private def factScan(dims: Seq[AxisDim]): DataFrame =
    p.joinStar(p.neededJoins(dims, joinItems), joinItems)
      .filter(p.slicerPredicate(sharedRest ++ p.roleSlicer))
  private val rowItems = sharedOv ++ overlap ++
    factorEntries.flatMap(_._2.flatMap(_.items))
  private val merges =
    p.neededMeasures.forall(m => Agg.partialMerge(m.agg).isDefined) &&
      !rowItems.exists(_.isInstanceOf[ExprSlice])
  private val sliced0 =
    if (!merges) factScan(otherDims)
    else p.aggregate(p.neededJoins(otherDims, rowItems).toSeq.sortBy(_._1)
      .map { case (d, depth) => AxisDim(p.cube.dim(d), depth) }, sharedRest)
  private val spark = sliced0.sparkSession
  // left-major axis rendering: the final sort and the axis columns
  // interleave by each factor's ORIGINAL crossjoin position — Mondrian
  // iterates axis ordinals left-to-right (query.rb:47-57; axis shapes
  // pinned by query_test.rb:157-174,408-432), so CROSSJOIN(years,
  // {…calc…}) renders year-major, not hoisted calc-first. PER-FACTOR
  // member frames (not the combined product, whose single renumbered
  // __ord cannot decompose) keep each stored factor's own explicit order
  // when a calc factor sits between two stored ones. Each factor's frame
  // renames its own __ord to __oord<i> and a mixed-depth frame's depth
  // marker to `depthCol`; `ovEntries` are the entries overriding the
  // factor.
  private val others: Seq[OtherFactor] = otherIdxs.zip(otherFrames).map {
    case (oi, rs) =>
      val oc = s"__oord$oi"
      val depthCol = rs.mixedDim.map(_ => s"__odepth$oi")
      val members = depthCol.foldLeft(
        if (rs.hasOrd) rs.members.withColumnRenamed(OrdCol, oc)
        else rs.members)((m, dc) => m.withColumnRenamed(DepthCol, dc))
      val dimsLc = rs.dims.map(_.d.name.toLowerCase).toSet
      val ovBy = factorEntries.head._2.filter(_.ov.exists(dimsLc))
      if (ovBy.exists(e => !dimsLc.subsetOf(e.ov)))
        refuse("a calc member's set overrides PART of a " +
          "multi-hierarchy CrossJoin factor — split the factor so " +
          "the overridden hierarchy stands alone")
      OtherFactor(oi, rs.copy(members = members), groupCols(rs.dims),
        axisSort(rs, oc), depthCol, ovBy.map(_.idx))
  }
  // crossjoined factors restrict the fact to THEIR members early
  // (broadcast semi-join — dimension-sized), so the groupBy never
  // aggregates tuples the axis won't show. ONE semi-join PER FACTOR: the
  // combined frame is the factors' cross PRODUCT — m×n rows broadcast
  // where m+n suffice (the per-factor member predicates are independent,
  // so chained semi-joins filter identically). A high-card FACTOR skips
  // ITS semi-join (its stray groups the final join drops, same opt-out
  // as the rank-frame hint) without costing the small factors theirs.
  // So does an overridden factor (an overriding entry reads rows outside
  // its members); a mixed-depth factor restricts at its shallowest
  // depth, whose keys every deeper member carries too.
  private val sliced = others.foldLeft(sliced0) { (df, o) =>
    if (o.frame.dims.exists(_.d.highCardinality) || o.ovEntries.nonEmpty)
      df
    else {
      val ks = o.frame.dims.flatMap(ad => levelCols(ad.d,
        if (o.frame.mixedDim.contains(ad.d.name)) o.frame.depthsOf.min
        else ad.depth))
      df.join(broadcast(o.frame.members.select(ks.map(col): _*)
        .distinct()), ks, "left_semi")
    }
  }
  private val (aggCols0, post0) =
    if (!merges) Agg.toColumnsFused(p.neededMeasures)
    else (AggRouter.mergeColumns(p.neededMeasures),
      p.neededMeasures.map(m => col(m.name)))

  // ----------------------------------------------------- entry explode

  // entries are keyed by POSITION, never display name: leaf captions
  // repeat across parents (a Q1 under every year) and a duplicated
  // literal member must stay two rows, not one doubled group.
  // `storedFree`: a set over the entries' own hierarchy replaces a
  // STORED entry's coordinate (only the same-dim WHERE items stay); a
  // calc entry's set stays in its context.
  private def entryPreds(es: Seq[AxisEntry], ovl: Seq[SlicerItem],
      storedFree: Boolean = false): Seq[Column] =
    es.map { e =>
      val own =
        if (e.isCalc) p.slicerPredicate(p.resolveSlicer(ovl ++ e.items))
        else if (storedFree) p.slicerPredicate(ovl)
        else if (ovl.isEmpty) p.slicerPredicate(e.items)
        else p.slicerPredicate(e.items) && p.slicerPredicate(ovl)
      val where = sharedOv.filterNot(i =>
        dcl.dimsOf(Seq(i)).exists(d => e.ov(d.toLowerCase)))
      if (where.isEmpty) own else own && p.slicerPredicate(where)
    }

  /** Explode `df` by each list's entries, the lists' explodes chained (a
    * row multiplies into every (e1, .., eK) combination it satisfies).
    * Rows matching NO entry of some list never form a tuple: the
    * any-match disjunctions filter them BEFORE the first explode — a
    * plain codegen'd predicate Catalyst pushes toward the scan, which
    * for a selective entry set (two nations of a 25-nation dim) prunes
    * the fact before any row multiplies. The null slots explode through
    * and a plain IS NOT NULL filter drops them AFTER the generator: the
    * obvious `filter(arr, isNotNull)` lambda is a higher-order function
    * Spark CANNOT codegen (CodegenFallback — interpreted per fact row;
    * measured 2-3x the whole aggregation at sf1), while explode + WHERE
    * stays inside whole-stage codegen at the aggregation's own floor.
    */
  private def explodeEntries(df: DataFrame,
      lists: Seq[EntryList]): DataFrame = {
    val pruned = lists.map(_.preds).filter(_.nonEmpty)
      .foldLeft(df)((d, ps) => d.where(orAll(ps)))
    lists.foldLeft(pruned) { (d, l) =>
      // an emptied entry list (ops pruned everything) keeps the array
      // typed with one never-matching element: the explode yields
      // nothing and the empty entry frame empties the axis
      val keys =
        if (l.es.isEmpty) array(when(lit(false), lit(0)))
        else array(l.es.zip(l.preds).map { case (e, pr) =>
          when(pr, lit(e.idx)) }: _*)
      d.withColumn(l.f.entryCol, explode(keys))
        .where(col(l.f.entryCol).isNotNull)
    }
  }

  // Key columns an overriding entry nulls on its rows (with the entries
  // that do), and every key that may hold a null: those, plus a
  // mixed-depth factor's padded keys and depth marker.
  private val ovOfKey: Map[String, Seq[Int]] = others
    .filter(_.ovEntries.nonEmpty)
    .flatMap(o => (o.keys ++ o.depthCol).map(_ -> o.ovEntries)).toMap
  private val nullableKey: Set[String] = ovOfKey.keySet ++ others
    .filter(_.depthCol.nonEmpty).flatMap(o => o.keys ++ o.depthCol)

  /** A mixed-depth factor gives each row one key tuple per depth present
    * (deeper levels null, the depth marker set — the grouping sets of
    * mixedCells, as an explode); an entry overriding a factor groups
    * with that factor's keys null.
    */
  private def keyOther(df: DataFrame, o: OtherFactor): DataFrame =
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
          else when(col(cf0.entryCol).isin(o.ovEntries: _*),
            array(tuple(None))).otherwise(perDepth)
        (o.keys :+ dc).foldLeft(df.withColumn("__mx", explode(arr)))(
          (x, k) => x.withColumn(k, col("__mx").getField(k)))
          .drop("__mx")
      case None => nullOn(df, o.ovEntries, o.keys)
    }

  /** `keys` read as null on the rows of the overriding entries `es`. */
  private def nullOn(df: DataFrame, es: Seq[Int],
      keys: Seq[String]): DataFrame =
    if (es.isEmpty) df
    else keys.foldLeft(df)((x, k) => x.withColumn(k,
      when(col(cf0.entryCol).isin(es: _*), lit(null)).otherwise(col(k))))

  // ----------------------------------------- aggregate, frame join, calcs

  /** Left-join a per-entry aggregate back by `keys`: a key an overriding
    * entry nulls reads as null on that entry's rows of `left` too, and
    * nullable keys compare null-safely. Plain keys keep the equi-join on
    * column names.
    */
  private def joinBack(left: DataFrame, right: DataFrame, keys: Seq[String],
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

  /** The cell context of calc measures on the fused frame: the entry key
    * groups, partitions and joins every context-dependent calc, whose
    * inner aggregate re-reads the scan at entry × kept × set grain
    * (contextual calcs imply a single calc factor).
    */
  private def ctxOf(es: Seq[AxisEntry]): EntryCtx = EntryCtx(
    Seq(cf0.entryCol),
    (kept, set) => {
      val dims = kept ++ set
      val preds = entryPreds(es, overlapOf(0),
        storedFree = set.exists(_.d.name.equalsIgnoreCase(cf0.dim)))
      val exploded = explodeEntries(factScan(dims),
        Seq(EntryList(cf0, es, preds)))
      val keptKeys = groupCols(kept).toSet
      val nulled = ovOfKey.filter(kv => keptKeys(kv._1))
        .foldLeft(exploded) { case (df, (k, es)) => nullOn(df, es, Seq(k)) }
      val (aggCols, post) = Agg.toColumnsFused(p.neededMeasures)
      aggregateAt(nulled, cf0.entryCol +: groupCols(dims), aggCols, post)
    },
    joinBack, {
      case Scalar.CurrentName(d) if d.equalsIgnoreCase(cf0.dim) =>
        col(cf0.label).cast("string")
    })

  /** One fused pass over `base`: explode by the entry lists, key the
    * other factors' columns, aggregate at the axis-frame keys, left-join
    * onto the axis frame (the N-row entry frames are the broadcast sides
    * of the cross product, whatever the other factors' size) and
    * evaluate the calc measures. A member (tuple) with no satisfying
    * fact rows keeps its axis row: a CALC entry's count-aggregated cells
    * coalesce to 0 there (Aggregate over an empty set COUNTS zero; a
    * tuple is "calc" when ANY factor coordinate is a calc member), stored
    * entries stay null like any axis member outside the slicer. Calc
    * measures run in solve order after the coalesce (an expression over
    * a count sees the calc entry's 0). A HIGH-CARDINALITY other factor
    * (reference high_cardinality opt-out) never rides a broadcast: its
    * member frame and the (entry × member)-grained aggregate are both
    * axis-cardinality-sized, so that join stays a shuffle.
    */
  private def fusedCells(base: DataFrame, lists: Seq[EntryList],
      os: Seq[OtherFactor], aggCols: Seq[Column],
      post: Seq[Column]): DataFrame = {
    val keyed = os.foldLeft(explodeEntries(base, lists))(keyOther)
    val frameKeys = lists.map(_.f.entryCol) ++ os.flatMap(_.keys) ++
      os.flatMap(_.depthCol)
    val agged = aggregateAt(keyed, frameKeys, aggCols, post)
    val entryFrames = lists.map { l =>
      import spark.implicits._
      l.es.map(e => (e.idx, e.name, e.isCalc))
        .toDF(l.f.entryCol, l.f.label, l.f.calcCol)
    }
    val frame = os.map(_.frame.members) match {
      case Seq() => entryFrames.tail.foldLeft(entryFrames.head)(
        (acc, ef) => acc.crossJoin(broadcast(ef)))
      case oms => entryFrames.foldLeft(oms.reduce(_ crossJoin _))(
        (acc, ef) => acc.crossJoin(broadcast(ef)))
    }
    val joined = joinBack(frame, agged, frameKeys,
      bcast = !os.exists(_.frame.dims.exists(_.d.highCardinality)))
    val countish = p.neededMeasures
      .filter(m => m.agg == Agg.Count || m.agg == Agg.DistinctCount)
      .map(_.name).filter(joined.columns.contains)
    val calcAny = lists.map(l => col(l.f.calcCol)).reduce(_ || _)
    p.applyCalcs(
      countish.foldLeft(joined) { (df, m) =>
        df.withColumn(m,
          when(calcAny && col(m).isNull, lit(0L)).otherwise(col(m)))
      }, os.flatMap(_.frame.dims), qSlicer, qs.withSets,
      ctx = Some(ctxOf(lists.head.es)))
  }

  // ------------------------------------------------------- entry ops

  /** Non-breaking Order (OrderFunDef's default ASC/DESC): Mondrian's
    * hierarchical sort puts ancestors before descendants and compares
    * SIBLING ancestors by their cells
    * (FunUtil.compareHierarchicallyButSiblingsByValue). Every comparison
    * resolves within the ENTRY LIST because ancestors missing from the
    * set were injected as hidden entries.
    */
  private def hierOf(f: CalcFactor): Option[EntryHier] =
    if (!f.hierOrder) None
    else {
      val norm = f.norm
      // first occurrence wins for duplicated literals; hidden ancestors
      // were injected, so every strict prefix of every path resolves
      // (the getOrElse is an invariant guard)
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
      Some(EntryHier(f.entryCol, parentOf, chainOf, isCalcOf, f.hidden))
    }

  /** Evaluate-then-prune: Filter/Order/slice ops run on the aggregated
    * entry rows (never the fact), positions seeded from the literal
    * order.
    */
  private def entryOps(df: DataFrame, f: CalcFactor,
      ops: Seq[EntryOp]): DataFrame =
    p.applyEntryOps(df.withColumn("__pos", (col(f.entryCol) + 1).cast("long")),
      ops, f.dim, f.label, hierOf(f), qSlicer)

  /** Filter/Order over the calc factor of a CrossJoin (or over either
    * of two calc factors) evaluates PRE-crossjoin (FilterFunDef
    * evaluates its own set before the crossjoin exists: the condition
    * context carries no other factor's coordinate): a first fused pass
    * at ENTRY grain over the un-semi-joined scan computes each entry's
    * context cells, the ops prune and reorder the N-row result, and the
    * surviving ordered entries drive the main pass. Two scans of the
    * same cells; the collect is N rows — plan-sized, same convention as
    * the computed-slicer and role-visibility probes.
    */
  private def preCrossOps(): Seq[(CalcFactor, Seq[AxisEntry])] =
    factorEntries.zipWithIndex.map { case ((f0, es0), k) =>
      // an entry list emptied BEFORE the pre-pass (a below-ops
      // positional slice dropped the calc and a role hid every remaining
      // stored entry): skip the pre-pass — the main pass's explode
      // already turns an empty entry list into an empty axis, and
      // reducing zero predicates would throw
      if (f0.ops.isEmpty || es0.isEmpty) (f0, es0)
      else {
        val cells = fusedCells(sliced0,
          Seq(EntryList(f0, es0, entryPreds(es0, overlapOf(k)))), Nil,
          aggCols0, post0)
        val kept = entryOps(cells, f0, f0.ops)
          .orderBy(col("__pos").asc)
          .select(col(f0.entryCol)).collect().map(_.getInt(0))
        val byIdx = es0.map(e => e.idx -> e).toMap
        val reindexed = kept.toSeq.zipWithIndex.map {
          case (old, i) => byIdx(old).copy(idx = i)
        }
        (f0, reindexed)
      }
    }

  // ------------------------------------------------- the main pass

  /** The main pass over the semi-joined scan, NECJ support, the entry
    * ops (when no pre-crossjoin pass consumed them) and the axis sort.
    */
  def render(): DataFrame = {
    val preCross = factors.length > 1 || otherIdxs.nonEmpty
    val lists = (if (preCross) preCrossOps() else factorEntries)
      .zipWithIndex.map { case ((f, es), k) =>
        EntryList(f, es, entryPreds(es, overlapOf(k)))
      }
    // NECJ tuple existence = at least one fact row in the group — a
    // count over the SAME single scan, no second pass, WHEN the NECJ
    // spans the whole axis (one group, all factors in it — support
    // grain == group grain). Over a segment the count is of SEGMENT
    // rows — existence-equivalent (a segment row exists iff fact rows
    // did).
    val necjFullGrain = necjGroups == 1 && factorGroup.forall(_ == 0)
    val (aggCols, post) =
      if (!necjFullGrain) (aggCols0, post0)
      else (aggCols0 :+ count(lit(1L)).as("__nrows"), post0 :+ col("__nrows"))
    val joined = fusedCells(sliced, lists, others, aggCols, post)
    val tupled =
      if (necjGroups == 0) joined
      else if (necjFullGrain)
        joined.filter(col("__nrows") >= 1).drop("__nrows")
      else necjSupport(joined, lists)
    // ops with other factors were consumed by the pre-crossjoin pass
    val opsDownstream = if (preCross) Vector.empty[EntryOp] else cf0.ops
    val posed =
      if (opsDownstream.isEmpty) tupled
      else entryOps(tupled, cf0, opsDownstream)
    // sort keys and axis columns in factor-position order: a calc factor
    // sorts by its entry position (post-op __pos when ops ran
    // downstream — single-factor shape, nothing to interleave), a stored
    // factor by its own __oord / level ordinals. The entry lists are
    // already on the driver, so only an other factor's dims can make
    // the result too large for one sorting partition
    val (sortCols, axisCols) = rowsFactors.indices.map { fi =>
      val k = calcIdxs.indexOf(fi)
      if (k < 0) others.find(_.idx == fi).map(o => (o.sort, o.keys)).get
      else (Seq(col(if (k == 0 && opsDownstream.nonEmpty) "__pos"
          else factors(k).entryCol).asc), Seq(factors(k).label))
    }.unzip
    p.nonEmptyRows(qs,
      presented(posed, sortCols.flatten, others.flatMap(_.frame.dims))
      .select((axisCols.flatten ++ qs.measures).map(col): _*))
  }

  /** NECJ drops axis tuples without fact support; plain CrossJoin keeps
    * them with null/zero cells. When the NECJ is NESTED under an outer
    * CrossJoin, support is evaluated at the NECJ's own grain — its
    * factors' entry/key columns only, from the scan BEFORE the outer
    * factors' member restriction (the NECJ context has no outer-factor
    * coordinate; Mondrian keeps unsupported outer combinations as
    * null-cell rows) — one small distinct-support pass per NECJ group,
    * semi-joined in.
    */
  private def necjSupport(joined: DataFrame,
      lists: Seq[EntryList]): DataFrame =
    (0 until necjGroups).foldLeft(joined) { (df, g) =>
      val gLists = lists.indices
        .filter(k => factorGroup(calcIdxs(k)) == g).map(lists)
      val gOtherCols =
        others.filter(o => factorGroup(o.idx) == g).flatMap(_.keys)
      val gCols = gLists.map(_.f.entryCol) ++ gOtherCols
      df.join(explodeEntries(sliced0, gLists)
        .select(gCols.map(col): _*).distinct(), gCols, "left_semi")
    }
}

private[olap] object FusedAxis {

  /** A calc-bearing axis factor flattened to its literal entry list on
    * `dim`, with its post-evaluation ops. `hidden` are the positions of
    * injected ancestor entries (rank-only, never rendered).
    */
  final case class CalcFactor(dim: String, paths: Vector[Seq[Any]],
      ops: Vector[EntryOp], label: String, entryCol: String,
      calcCol: String, hidden: Set[Int] = Set.empty) {
    /** Entry paths as strings: literal paths carry parser Strings while
      * enumerated ones carry native column values (an Integer year).
      */
    def norm: Vector[Seq[String]] = paths.map(_.map(String.valueOf))
    /** A non-breaking (hierarchical) Order is among the ops. */
    def hierOrder: Boolean = ops.exists {
      case EntryOrder(_, SortDir.Asc | SortDir.Desc) => true
      case _ => false
    }
    /** Non-breaking Order needs every entry's strict ancestors' CELLS
      * for the hierarchical comparison (Mondrian evaluates them whether
      * or not they are set members): ancestors missing from the set join
      * the entry list as HIDDEN entries — aggregated in the same pass,
      * ranked like any sibling, dropped before the axis renders
      * (applyEntryOps excludes them from the live frame).
      */
    def withHiddenAncestors: CalcFactor = {
      if (!hierOrder) return this
      val norm = this.norm
      val have = norm.toSet
      val missing = norm.flatMap(p => (1 until p.length).map(p.take))
        .distinct.filterNot(have)
      if (missing.isEmpty) return this
      val missingOrig = missing.map { mp =>
        val src = paths.zip(norm).find(_._2.take(mp.length) == mp).get._1
        src.take(mp.length)
      }
      copy(paths = paths ++ missingOrig,
        hidden = (paths.length until paths.length + missingOrig.length)
          .toSet)
    }
  }

  /** One axis entry: its set position, caption, and slicer items;
    * `ov` are the (lower-cased) other-factor hierarchies its set
    * overrides.
    */
  final case class AxisEntry(idx: Int, name: String, isCalc: Boolean,
      items: Seq[SlicerItem], ov: Set[String] = Set.empty)

  /** A factor's entries with one row predicate per entry. */
  final case class EntryList(f: CalcFactor, es: Seq[AxisEntry],
      preds: Seq[Column])

  /** A calc-free CrossJoin factor: its member frame (order column renamed
    * to `__oord<idx>`), level keys, presentation sort, mixed-depth marker
    * and the entries that override it.
    */
  final case class OtherFactor(idx: Int, frame: AxisFrame, keys: Seq[String],
      sort: Seq[Column], depthCol: Option[String], ovEntries: Seq[Int])

  /** Factor split: the rows axis as its CrossJoin factors. A
    * NonEmptyCrossJoin on the path to a calc factor decomposes like
    * CrossJoin plus a tuple-existence filter: NECJ keeps exactly the
    * tuples with fact support, which the fused pass knows from a count
    * over the same single scan (calc-free NECJ subtrees stay whole — the
    * ordinary set machinery evaluates them). Each factor carries the id
    * of the OUTERMOST calc-bearing NECJ it sits under (-1 = none):
    * tuple support is evaluated per NECJ over ITS OWN factors'
    * coordinates — an outer CrossJoin factor is not in the NECJ's
    * context, so CROSSJOIN(NECJ({calc}, years), flags.Members) keeps
    * unsupported flag combinations as null-cell rows (Mondrian
    * NonEmptyCrossJoinFunDef). An NECJ nested inside another keeps the
    * outer group: full-grain support implies the inner grain's.
    *
    * None when no factor carries a calc path: the ordinary lowering
    * applies.
    */
  def render(p: Planner, dcl: Planner#DimCalcLowering,
      qs: QueryIR): Option[DataFrame] = {
    var groups = 0
    def splitCross(s: SetExpr, g: Int): Seq[(SetExpr, Int)] =
      dcl.deref(s) match {
        case CrossJoin(a, b) => splitCross(a, g) ++ splitCross(b, g)
        case NonEmptyCrossJoin(a, b)
            if dcl.hasCalcPath(a) || dcl.hasCalcPath(b) =>
          val gid = if (g >= 0) g else { groups += 1; groups - 1 }
          splitCross(a, gid) ++ splitCross(b, gid)
        case other => Seq((other, g))
      }
    val tagged =
      if (dcl.isEmpty) Nil
      else qs.rows.map(splitCross(_, -1)).getOrElse(Nil)
    if (!tagged.exists(t => dcl.hasCalcPath(t._1))) None
    else Some(new FusedAxis(p, dcl, qs, tagged.map(_._1), tagged.map(_._2),
      groups).render())
  }
}
