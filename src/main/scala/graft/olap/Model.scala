package graft.olap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Typed OLAP schema model — the Spark-native re-expression of the
  * reference's schema DSL (reference: lib/mondrian/olap/schema.rb:53-341,
  * lib/mondrian/olap/schema_element.rb). Instead of rendering Mondrian XML,
  * the model binds directly to DataFrames; queries compile to
  * join/groupBy/window plans (SURVEY.md §1, §7).
  */

/** Measure aggregator — reference schema.rb:294-295 enumerates
  * sum/count/min/max/avg/distinct-count (default sum).
  */
sealed trait Agg
object Agg {
  case object Sum extends Agg
  /** Order-independent sum of a double expression: the per-row double is
    * cast to DECIMAL(38,10) (deterministic round-to-nearest), summed
    * exactly, and cast back to double. A plain double sum's value depends
    * on partition/merge order, so at grand-total cardinality (~60k+ rows)
    * Spark and a single-threaded oracle drift in the last ulps; decimal
    * summation is associative and reproducible at any parallelism — the
    * property that matters at 1000-executor scale.
    */
  case object SumExact extends Agg
  case object Count extends Agg
  case object Min extends Agg
  case object Max extends Agg
  case object Avg extends Agg
  case object DistinctCount extends Agg
  // Statistics family — MDX set functions Stdev/StdevP/Var/VarP, Median/
  // Percentile, Correlation/Covariance, LinRegSlope/Intercept/R2
  // (SURVEY §2.4; exact expected values pinned by mondrian_test.rb:608-779).
  case object Stdev extends Agg
  case object StdevP extends Agg
  case object Variance extends Agg
  case object VarianceP extends Agg
  /** Exact interpolated percentile (Spark `percentile` ≡ DuckDB
    * `quantile_cont`); p=0.5 is Median.
    */
  final case class Percentile(p: Double) extends Agg
  final case class Corr(expr2: String) extends Agg
  final case class CovarS(expr2: String) extends Agg
  final case class CovarP(expr2: String) extends Agg
  final case class RegrSlope(expr2: String) extends Agg
  final case class RegrIntercept(expr2: String) extends Agg
  final case class RegrR2(expr2: String) extends Agg
  /** NthQuartile (the jar's extra/NthQuartileFunDef; FirstQuartile = 1,
    * ThirdQuartile = 3): exact interpolated quantile at n/4.
    */
  final case class NthQuartile(n: Int) extends Agg {
    require(n >= 1 && n <= 3, s"quartile $n out of range")
  }
  /** LinRegVariance: residual mean square of the y-on-x regression,
    * SS_res / (n - 2) = Syy·(1 − R²) / (n − 2) — unbiased residual
    * variance (the jar's LinReg Variance).
    */
  final case class RegrVariance(expr2: String) extends Agg
  /** LinRegPoint at x = `at`: slope·at + intercept. */
  final case class RegrPoint(expr2: String, at: Double) extends Agg

  /** Lower to a codegen'd Spark aggregate Column over a SQL expression
    * string. DistinctCount is non-additive and therefore always recomputed
    * from fact grain — never rolled up from cached sums (SURVEY §7.4
    * item 3).
    */
  def toColumn(agg: Agg, e: String): Column = agg match {
    case Sum               => expr(s"sum($e)")
    // result stays DECIMAL(38,10): converting back to double is itself
    // engine-dependent rounding (DuckDB's decimal→double is 1 ulp off),
    // while the decimal value is identical everywhere
    case SumExact          => expr(s"sum(CAST(($e) AS DECIMAL(38,10)))")
    case Count             => expr(s"count($e)")
    case Min               => expr(s"min($e)")
    case Max               => expr(s"max($e)")
    case Avg               => expr(s"avg($e)")
    case DistinctCount     => expr(s"count(DISTINCT $e)")
    case Stdev             => expr(s"stddev_samp($e)")
    case StdevP            => expr(s"stddev_pop($e)")
    case Variance          => expr(s"var_samp($e)")
    case VarianceP         => expr(s"var_pop($e)")
    case Percentile(p)     => expr(s"percentile($e, $p)")
    case Corr(e2)          => expr(s"corr($e, $e2)")
    case CovarS(e2)        => expr(s"covar_samp($e, $e2)")
    case CovarP(e2)        => expr(s"covar_pop($e, $e2)")
    case RegrSlope(e2)     => expr(s"regr_slope($e, $e2)")
    case RegrIntercept(e2) => expr(s"regr_intercept($e, $e2)")
    case RegrR2(e2)        => expr(s"regr_r2($e, $e2)")
    case NthQuartile(n)    => expr(s"percentile($e, ${n / 4.0})")
    case RegrVariance(e2)  => expr(
      s"regr_syy($e, $e2) * (1.0 - regr_r2($e, $e2)) " +
        s"/ (regr_count($e, $e2) - 2)")
    case RegrPoint(e2, at) => expr(
      s"regr_slope($e, $e2) * CAST($at AS DOUBLE) " +
        s"+ regr_intercept($e, $e2)")
  }

  /** How partial aggregates of a decomposable measure merge: Sum,
    * SumExact and Count by sum, Min by min, Max by max. The one rule
    * rollup routing, the fused dim-calc pass over a rollup and the
    * insert-delta segment merge all fold partials with. None = not
    * decomposable (avg, distinct count, stats): recompute from the fact.
    */
  def partialMerge(agg: Agg): Option[Column => Column] = agg match {
    case Sum | SumExact | Count => Some(c => sum(c))
    case Min                    => Some(c => min(c))
    case Max                    => Some(c => max(c))
    case _                      => None
  }

  private def pctOf(a: Agg): Option[Double] = a match {
    case Percentile(p)  => Some(p)
    case NthQuartile(n) => Some(n / 4.0)
    case _              => None
  }

  /** Lower a measure list to (aggregate columns, post-agg projections),
    * fusing percentile-family measures that share a source expression
    * into ONE `percentile(e, array(p1..pk))` aggregate. Spark's
    * Percentile builds a value→count map per aggregate instance, so k
    * separate quartile measures over one column would otherwise build k
    * identical maps per group. Callers apply the projections after the
    * groupBy to restore one named column per measure.
    */
  def toColumnsFused(ms: Seq[Measure]): (Seq[Column], Seq[Column]) = {
    val fused = ms.filter(m => pctOf(m.agg).isDefined)
      .groupBy(_.expr).filter(_._2.length > 1)
    if (fused.isEmpty)
      (ms.map(m => toColumn(m.agg, m.expr).as(m.name)),
        ms.map(m => col(m.name)))
    else {
      val slot = fused.keys.zipWithIndex.toMap
      val aggCols = fused.toSeq.map { case (e, group) =>
        val ps = group.map(m => pctOf(m.agg).get)
        expr(s"percentile($e, array(${ps.mkString(", ")}))")
          .as(s"__pct_${slot(e)}")
      } ++ ms.collect {
        case m if !(pctOf(m.agg).isDefined && fused.contains(m.expr)) =>
          toColumn(m.agg, m.expr).as(m.name)
      }
      val post = ms.map { m =>
        if (pctOf(m.agg).isDefined && fused.contains(m.expr)) {
          val i = fused(m.expr).indexWhere(_.name == m.name)
          element_at(col(s"__pct_${slot(m.expr)}"), i + 1).as(m.name)
        } else col(m.name)
      }
      (aggCols, post)
    }
  }
}

/** Presentation/annotation metadata shared by schema elements
  * (reference schema elements carry caption, description and
  * annotations — cube.rb:39-56, schema_element.rb; annotations are
  * the reference's tool-metadata escape hatch).
  */
final case class ElementMeta(
    caption: Option[String] = None,
    description: Option[String] = None,
    annotations: Map[String, String] = Map.empty)

/** A measure: named aggregate of a SQL expression over the joined star
  * (reference schema.rb:286-308; MeasureExpression MondrianTest.xml:137-143).
  * `expr` is a Spark SQL expression over fact + joined dimension columns,
  * so expression measures (e.g. CASE WHEN) come for free.
  */
final case class Measure(
    name: String,
    agg: Agg,
    expr: String,
    formatString: Option[String] = None,
    meta: ElementMeta = ElementMeta(),
    /** Named cell formatter from the cube's [[SchemaFunctions]] registry
      * (reference CellFormatter schema element; takes precedence over
      * `formatString` in Result.formattedValues).
      */
    cellFormatter: Option[String] = None) {
  def caption: String = meta.caption.getOrElse(name)
}

/** Post-aggregation window shapes backing MDX time navigation
  * (SURVEY §2.5): PrevMember/Lag/Lead, ParallelPeriod, PeriodsToDate/Xtd,
  * LastPeriods, Opening/ClosingPeriod, Rank.
  */
sealed trait WinKind
object WinKind {
  final case class LagK(k: Int) extends WinKind          // PrevMember / Lag(n) / ParallelPeriod
  final case class LeadK(k: Int) extends WinKind         // NextMember / Lead(n)
  case object RunningSum extends WinKind                 // PeriodsToDate / YTD
  final case class MovingSum(n: Int) extends WinKind     // LastPeriods(n) + Sum
  case object FirstVal extends WinKind                   // OpeningPeriod
  case object LastVal extends WinKind                    // ClosingPeriod
  case object RankDesc extends WinKind                   // Rank(m, set, expr DESC)
}

/** Calculated member on the Measures dimension
  * (reference schema.rb:314-341; WITH MEMBER query.rb:175-179).
  * Evaluated post-aggregation in solveOrder sequence, so later calcs can
  * reference earlier ones (reference SOLVE_ORDER emission query.rb:684-687).
  */
sealed trait CalcDef
/** Spark SQL expression over measure, calc and level columns, e.g.
  * "sum_sales - sum_cost"; a name that is not a plain identifier is
  * backquoted, as Spark SQL quotes it. From MDX it may read the names of
  * [[Scalar.Name]] (`[dim].CurrentMember.Name`, `.Properties('p')`),
  * which the planner's statement scope binds where the formula is
  * evaluated.
  */
final case class ExprCalc(sql: String) extends CalcDef
/** Window over the ordered members of `overDim`:
  * partition = all other grain columns + `overDim` ancestors above
  * `resetLevel` (None = partition only by other dims ⇒ window spans the
  * whole hierarchy order).
  */
final case class WindowCalc(
    baseExpr: String,
    kind: WinKind,
    overDim: String,
    resetLevel: Option[String] = None) extends CalcDef
/** Aggregate over a member-set-restricted subcube, per axis cell —
  * MDX Sum/Avg/Min/Max/Count/Aggregate(set[, measure]) (Mondrian
  * AggregateFunDef + the compound-slicer fast path the reference's
  * changelog cites). `fn` ∈ SUM|AVG|MIN|MAX|COUNT|AGGREGATE;
  * AVG/MIN/MAX/COUNT operate over the per-member aggregated VALUES
  * (MDX semantics), not fact rows. COUNT with includeEmpty counts set
  * members regardless of data.
  */
final case class SetAggCalc(
    fn: String,
    measure: String,
    set: SetExpr,
    includeEmpty: Boolean = false) extends CalcDef

/** Per-member-series linear regression over a set — MDX
  * LinRegSlope/LinRegIntercept/LinRegR2/LinRegVariance(set, y, x)
  * (Mondrian LinReg*FunDef; reference mondrian_test.rb:608-766).
  * `yExpr`/`xExpr` are Spark SQL scalar expressions evaluated once per
  * set member: the series-rank name ([[Scalar.SeriesRank]]) binds to
  * the member's 1-based position in the set's order, measure references
  * to the member's cell value. Points with a NULL x or y are skipped
  * (Mondrian's accuracy loop); an empty point set yields NaN (pinned
  * by the reference's NULL-series test). `fn` selects the statistic:
  * SLOPE / INTERCEPT of the OLS fit of y on x, R2 = corr², VARIANCE =
  * the SUM of squared residuals (the reference's golden 266.67/104.17
  * values are residual sums, not /n — matched exactly).
  */
final case class LinRegCalc(
    fn: String,
    set: SetExpr,
    yExpr: String,
    xExpr: String,
    /** POINT only — LinRegPoint(xSlice, set, y, x): the x at which the
      * fitted line is evaluated (slope·xSlice + intercept). Lowered in
      * the OUTER cell context, so it may reference axis-cell measures;
      * the series rank macro is not available inside it.
      */
    pointX: Option[String] = None,
    /** A `Rank(CurrentMember, otherSet)` inside y/x may rank the
      * series member in a DIFFERENT set (the reference's All-member
      * variance test ranks against the Country members,
      * mondrian_test.rb:765-778): Mondrian member-identity semantics —
      * the position when the member IS in that set (same level, keyed
      * join), 0 when absent or when the sets enumerate different
      * levels. Read through [[Scalar.OtherRank]].
      */
    rankSet: Option[SetExpr] = None) extends CalcDef

/** Calc member HOSTED ON a non-Measures hierarchy, defined as
  * Aggregate over a member set — the reference's "aggregate stored
  * members" family (`WITH MEMBER [Customers].[CA and OR] AS
  * 'Aggregate({...})'`, mondrian_test.rb:197-246): enumerated as a
  * single root-level axis member whose cells aggregate the fact under
  * the set's compound filter (crossjoin sets pin other dimensions;
  * member paths that themselves name dim-calcs resolve recursively).
  */
final case class DimAggCalc(dim: String, set: SetExpr) extends CalcDef

final case class CalcMember(
    name: String,
    calc: CalcDef,
    solveOrder: Int = 0,
    formatString: Option[String] = None,
    /** Named cell formatter (WITH MEMBER ... CELL_FORMATTER = 'name',
      * reference query.rb:211-216).
      */
    cellFormatter: Option[String] = None,
    /** `$`-prefixed member properties (WITH MEMBER ... , $caption =
      * 'Profit %' — reference query.rb:188-192 emission,
      * query_test.rb:679-692): presentational metadata carried on the
      * member ($caption drives display captions); stored verbatim and
      * round-tripped by toMdx.
      */
    properties: Seq[(String, String)] = Nil)

/** Ragged-hierarchy member visibility (reference schema.rb
  * hide_member_if: Never | IfBlankName | IfParentsName — the Israel-
  * has-no-state pattern): a hidden member is skipped during member
  * enumeration; its row still aggregates into ancestors.
  */
sealed trait HideIf
object HideIf {
  case object Never extends HideIf
  /** Hide when the member name is NULL or blank. */
  case object IfBlankName extends HideIf
  /** Hide when the member name equals its parent's name. */
  case object IfParentsName extends HideIf
}

/** One level of a hierarchy bound to output/ordinal columns of the
  * dimension DataFrame (reference schema.rb:176-246: column, name_column,
  * ordinal_column, level_type).
  */
final case class BoundLevel(
    name: String,
    col: String,
    ordCol: Option[String] = None,
    hideMemberIf: HideIf = HideIf.Never,
    meta: ElementMeta = ElementMeta(),
    /** Named member formatter: formats this level's member captions
      * (reference MemberFormatter on a level, schema_udf.rb:243-249).
      */
    memberFormatter: Option[String] = None,
    /** Property column → named property formatter
      * (reference PropertyFormatter on a level property).
      */
    propertyFormatters: Map[String, String] = Map.empty,
    /** The reference's `approx_row_count` (schema.rb:231-233): a
      * declared member count that short-circuits the COUNT query in
      * the metadata API (cube.rb:308-314) — an XMLA/browser perf hint,
      * never used for query answers.
      */
    approxRowCount: Option[Long] = None,
    /** Property columns declared functionally dependent on this
      * level's value — the reference's `depends_on_level_value`
      * (schema.rb:277-281): the property may be dropped from the
      * grouping, so the property join aggregates by the level key
      * alone (first() of the dependent column) instead of a
      * two-column distinct.
      */
    dependentProps: Set[String] = Set.empty,
    /** The reference's `KeyExpression` (schema.rb:248-262): a SQL
      * expression over the fact's foreign key that gives this level's
      * value. When every level of a dimension has one, the star frame
      * derives the level columns from the key instead of joining the
      * dimension table ([[BoundDim.keyDerived]]); `col` still names the
      * member frame's column, which serves enumeration.
      */
    keyExpr: Option[String] = None) {
  def ordinal: String = ordCol.getOrElse(col)
  def caption: String = meta.caption.getOrElse(name)
}

/** A dimension bound to a (possibly snowflake-joined) DataFrame.
  * `df` must contain `primaryKey` plus every level/ordinal column, with
  * names already disambiguated (two usages of the same tables — e.g.
  * customer-nation-region vs supplier-nation-region — rename on build,
  * mirroring the reference's table aliases, mondrian_test.rb:23-35).
  * Dimension tables are small ⇒ the planner broadcasts them.
  */
final case class BoundDim(
    name: String,
    foreignKey: String,
    primaryKey: String,
    levels: Seq[BoundLevel],
    df: DataFrame,
    isTime: Boolean = false,
    /** Degenerate dimension: level columns live directly on the fact (the
      * reference's private-dimension-off-the-fact pattern,
      * MondrianTest.xml:90-95) — no join needed; `df` only serves member
      * enumeration.
      */
    degenerate: Boolean = false,
    /** The reference's `high_cardinality` hint (schema.rb:100-101,
      * README high-cardinality notes): axis frames over this dimension
      * are NOT dimension-bounded — member caching is skipped and axis
      * ordering takes the distributed range-partitioned path instead of
      * a single-partition window.
      */
    highCardinality: Boolean = false,
    meta: ElementMeta = ElementMeta(),
    /** The reference's `unique_key_level_name` (schema.rb:152-156):
      * the level at (and below) whose depth every dimension row is
      * already a unique member tuple, so member enumeration needs no
      * GROUP BY/DISTINCT at all — the distinct (a full exchange over
      * the dimension, real money on a 100M-row dim) is eliminated.
      */
    uniqueKeyLevel: Option[String] = None) {

  def caption: String = meta.caption.getOrElse(name)


  /** Member cache: the distinct member frame per level depth, persisted
    * on first use (the reference's member cache — README.md
    * high-cardinality notes: Mondrian caches dimension members and only
    * `high_cardinality` opts out). Axis evaluation re-reads the same
    * level's members in nearly every query, so caching replaces a
    * distinct-aggregate subtree (scan + exchange + codegen) with an
    * InMemoryTableScan. Role grants are filtered AFTER this cache, so
    * restricted roles never poison the shared frame.
    */
  @transient private lazy val memberFrames =
    scala.collection.concurrent.TrieMap.empty[Int, DataFrame]
  def membersAt(depth: Int, cols: Seq[String]): DataFrame = {
    // unique_key_level_name: at or below the declared unique level the
    // dimension rows already ARE the member tuples — no distinct
    val unique = uniqueKeyLevel.exists(u => depth >= levelIndex(u))
    def enumerate = {
      val base =
        df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      if (unique) base else base.distinct()
    }
    if (highCardinality)
      // the reference's high_cardinality opt-out: never pin a frame
      // that may not fit in memory — recompute from the (columnar,
      // pruned) scan each time
      enumerate
    else memberFrames.get(depth) match {
      case Some(f) => f
      case None =>
        // persist only the frame that WINS the first-touch race — a
        // TrieMap getOrElseUpdate may evaluate the default on two
        // threads at once, and the loser's persist mark would stay
        // registered with the cache manager for the session (r19
        // concurrency hygiene; the race is real under servesoak's
        // 8-way first touch)
        val f = enumerate
        memberFrames.putIfAbsent(depth, f) match {
          case Some(winner) => winner
          case None         => f.persist(); f
        }
    }
  }

  def levelIndex(levelName: String): Int = {
    val i = levels.indexWhere(_.name == levelName)
    require(i >= 0, s"dimension '$name' has no level '$levelName'")
    i
  }
  def levelsTo(depth: Int): Seq[BoundLevel] = levels.take(depth + 1)
  def level(levelName: String): BoundLevel = levels(levelIndex(levelName))

  /** Every level is a key expression: the star frame computes the level
    * columns from the fact's foreign key and joins nothing. A fact row
    * belongs to the members its key's expressions give, so a key the
    * member frame does not list (a row inserted after the frame was
    * read) still counts, under the members it derives.
    */
  def keyDerived: Boolean =
    !degenerate && levels.forall(_.keyExpr.isDefined)
}

/** Role rollup policy (reference schema.rb:468-471): how totals treat
  * members outside the grant. Partial = totals re-aggregate only the
  * visible members (row filter under the aggregate); Full = totals keep
  * all data, only axis member visibility is restricted.
  */
sealed trait RollupPolicy
object RollupPolicy {
  case object Partial extends RollupPolicy
  case object Full extends RollupPolicy
}

/** Access-control role (reference schema.rb:416-489): member grants on
  * dimension subtrees. Multiple grants on one dimension are a union of
  * subtrees (never an intersection).
  */
final case class Role(name: String, grants: Seq[(String, Seq[Any])],
    policy: RollupPolicy = RollupPolicy.Partial,
    /** Per-dimension overrides (Mondrian's per-HierarchyGrant
      * rollupPolicy): a dimension absent here uses `policy`.
      */
    dimPolicies: Map[String, RollupPolicy] = Map.empty,
    /** Revoked subtrees (MemberGrant access="none",
      * connection_role_test.rb:53,135-141): a denied member and its
      * descendants disappear from axes and metadata; under the Partial
      * policy its rows also leave the totals.
      */
    denies: Seq[(String, Seq[Any])] = Nil,
    /** Per-dimension visible level ranges (HierarchyGrant topLevel /
      * bottomLevel, connection_role_test.rb:51,63): level NAMES; a
      * level is visible when ANY listed range admits it. A single role
      * carries one range; [[Role.union]] concatenates the member
      * roles' ranges, so a union is never narrower than any member
      * (ADVICE r6: Mondrian's UnionRoleImpl grants whatever any member
      * role grants — first-range-wins collapsed bounded-vs-bounded
      * conflicts to the narrower grant).
      */
    levelBounds: Map[String, Seq[(Option[String], Option[String])]] =
      Map.empty) {
  def isGranted(dim: String): Boolean = grants.exists(_._1 == dim)

  /** Effective rollup policy for a granted dimension. */
  def policyFor(dim: String): RollupPolicy =
    dimPolicies.getOrElse(dim, policy)
}

object Role {
  /** Union role (connection.rb role_names= — grants of all members).
    * Per-dimension policies merge first-role-wins on conflict, matching
    * the role-list order precedence of the reference's role_names=;
    * denies concatenate; a level range survives the union only when
    * EVERY granting role bounds that dimension (any unbounded grant
    * makes the union unbounded — the most-permissive reading of
    * Mondrian's UnionRoleImpl); when several roles bound the same
    * dimension their ranges CONCATENATE (visible = admitted by any),
    * so the union is never narrower than a member role's grant.
    */
  def union(roles: Role*): Role = {
    val bounded = roles.flatMap(_.levelBounds.keys).distinct
      .filter(dim => roles.forall(r =>
        !r.isGranted(dim) || r.levelBounds.contains(dim)))
    Role(roles.map(_.name).mkString("+"), roles.flatMap(_.grants),
      roles.head.policy,
      roles.reverse.map(_.dimPolicies).reduce(_ ++ _),
      roles.flatMap(_.denies),
      bounded.map(dim =>
        dim -> roles.flatMap(_.levelBounds.getOrElse(dim, Nil))).toMap)
  }
}

/** A cube bound to concrete DataFrames for one scale-factor directory.
  *
  * `factPruner`, when set, maps the set of fact-side columns a query
  * actually needs to a (possibly narrower) fact DataFrame — e.g. skipping
  * the lineitem⋈orders join when no orders column is referenced. Spark
  * cannot eliminate inner joins itself, so this is the engine's own
  * join-elimination rule (SURVEY §4).
  */
final case class BoundCube(
    name: String,
    fact: DataFrame,
    dims: Seq[BoundDim],
    measures: Seq[Measure],
    calcMembers: Seq[CalcMember] = Nil,
    role: Option[Role] = None,
    factPruner: Option[Set[String] => DataFrame] = None,
    /** Registered pre-aggregated rollups the router may answer from
      * (reference AggName declarations; Aggregates.scala).
      */
    aggTables: Seq[AggTable] = Nil,
    meta: ElementMeta = ElementMeta(),
    /** Measure used when a query names none (the reference's cube
      * default_measure; falls back to the first declared measure).
      */
    defaultMeasure: Option[String] = None,
    /** Schema-scope named formatters + typed UDFs (reference
      * user_defined_cell_formatter / user_defined_function elements).
      */
    funcs: SchemaFunctions = SchemaFunctions.empty) {

  def defaultMeasureName: String =
    defaultMeasure.getOrElse(measures.head.name)

  def caption: String = meta.caption.getOrElse(name)


  /** Process-unique identity for cache keys. identityHashCode is NOT
    * unique across live objects, so a collision could serve one cube's
    * cached segment for another (or flush the wrong cube's region); an
    * AtomicLong cannot collide. A body val, so every copy() (withRole,
    * withAggTables) gets a fresh id — same per-instance scoping the
    * identity hash had, minus the collisions.
    */
  val cubeId: Long = BoundCube.ids.incrementAndGet()

  def factFor(needed: Set[String]): DataFrame =
    factPruner.map(_(needed)).getOrElse(fact)

  def withAggTables(ats: AggTable*): BoundCube =
    copy(aggTables = aggTables ++ ats)

  def dim(name: String): BoundDim = {
    val d = dims.find(_.name == name)
    require(d.isDefined, s"cube '${this.name}' has no dimension '$name'")
    d.get
  }
  def measure(name: String): Measure = {
    val m = measures.find(_.name == name)
    require(m.isDefined, s"cube '${this.name}' has no measure '$name'")
    m.get
  }
  /** Attach a role, validating its paths against the cube's hierarchy
    * shapes NOW: a grant/deny path deeper than its dimension's level
    * count (possible from a hand-written XML catalog) would otherwise
    * surface as an opaque IndexOutOfBounds in the deny-slicer at query
    * time (ADVICE r6). Unknown dimensions fail here for the same
    * reason.
    */
  def withRole(r: Role): BoundCube = {
    (r.grants ++ r.denies).foreach { case (dimName, path) =>
      val d = dims.find(_.name == dimName).getOrElse(
        throw new IllegalArgumentException(
          s"role '${r.name}': no dimension '$dimName' in cube '$name'"))
      require(path.length <= d.levels.length,
        s"role '${r.name}': path ${path.mkString("[", ".", "]")} on " +
          s"dimension '$dimName' is ${path.length} deep but the " +
          s"hierarchy has ${d.levels.length} levels")
    }
    val boundDims = r.levelBounds.keys.filterNot(b => dims.exists(_.name == b))
    require(boundDims.isEmpty,
      s"role '${r.name}': level bounds on unknown dimension(s) " +
        boundDims.mkString(", "))
    copy(role = Some(r))
  }

  /** Eager schema validation (reference: connection-time schema errors,
    * schema_definition_test.rb:1477-1488 — "Must specify fact table of
    * cube 'Sales'"): every declared binding must resolve against its
    * DataFrame schema before the first query.
    */
  def validate(): Unit = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"Schema error in cube '$name': $msg")
    if (fact.columns.isEmpty) fail("must specify a fact table")
    if (measures.isEmpty) fail("must specify at least one measure")
    dims.foreach { d =>
      val cols = d.df.columns.toSet
      d.levels.foreach { l =>
        if (!cols.contains(l.col))
          fail(s"level '${d.name}.${l.name}' column '${l.col}' not found " +
            s"in dimension table (has: ${cols.mkString(", ")})")
        l.ordCol.foreach { o =>
          if (!cols.contains(o))
            fail(s"level '${d.name}.${l.name}' ordinal column '$o' " +
              "not found in dimension table")
          if (l.keyExpr.isDefined && o != l.col)
            fail(s"level '${d.name}.${l.name}' has a key expression " +
              "and a separate ordinal column")
        }
      }
      if (!d.degenerate) {
        if (!cols.contains(d.primaryKey))
          fail(s"dimension '${d.name}' primary key '${d.primaryKey}' " +
            "not found in dimension table")
        if (!fact.columns.contains(d.foreignKey))
          fail(s"dimension '${d.name}' foreign key '${d.foreignKey}' " +
            "not found in fact table")
      }
    }
    val dupes = (measures.map(_.name) ++ calcMembers.map(_.name))
      .groupBy(identity).collect { case (n, v) if v.length > 1 => n }
    if (dupes.nonEmpty)
      fail(s"duplicate measure/calc names: ${dupes.mkString(", ")}")
  }
}

object BoundCube {
  private[olap] val ids = new java.util.concurrent.atomic.AtomicLong(0L)
}
