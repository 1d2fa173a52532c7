package graft.olap

import org.apache.spark.sql.DataFrame

/** Fluent query builder — the Spark-native mirror of the reference's
  * Arel-like builder (lib/mondrian/olap/query.rb:23-249; method surface
  * listed in SURVEY §3 entry point B). Builds the typed IR directly — no
  * MDX string round-trip — and hands it to the Planner.
  *
  * Set-modifier methods (crossjoin, except, filter, order, top_count, …)
  * apply to the current rows set, matching the reference builder's
  * "last set" semantics (query.rb:47-157).
  */
final class Query private (
    cube: BoundCube,
    measures: Seq[String],
    rowsSet: Option[SetExpr],
    slicer: Seq[SlicerItem],
    nonEmptyFlag: Boolean,
    withSets: Map[String, SetExpr],
    withMembers: Seq[CalcMember],
    pagesSet: Option[SetExpr] = None,
    chaptersSet: Option[SetExpr] = None,
    sectionsSet: Option[SetExpr] = None) {

  private def copyWith(
      measures: Seq[String] = measures,
      rowsSet: Option[SetExpr] = rowsSet,
      slicer: Seq[SlicerItem] = slicer,
      nonEmptyFlag: Boolean = nonEmptyFlag,
      withSets: Map[String, SetExpr] = withSets,
      withMembers: Seq[CalcMember] = withMembers,
      pagesSet: Option[SetExpr] = pagesSet,
      chaptersSet: Option[SetExpr] = chaptersSet,
      sectionsSet: Option[SetExpr] = sectionsSet): Query =
    new Query(cube, measures, rowsSet, slicer, nonEmptyFlag, withSets,
      withMembers, pagesSet, chaptersSet, sectionsSet)

  /** Measures on the COLUMNS axis (names of measures or calc members). */
  def columns(names: String*): Query = copyWith(measures = names)

  def rows(set: SetExpr): Query = copyWith(rowsSet = Some(set))

  /** PAGES axis (reference query.rb AXIS_ALIASES): the page-major
    * outer coordinate of the result grid.
    */
  def pages(set: SetExpr): Query = copyWith(pagesSet = Some(set))

  /** CHAPTERS(3) / SECTIONS(4) — higher axes vary slower. */
  def chapters(set: SetExpr): Query = copyWith(chaptersSet = Some(set))
  def sections(set: SetExpr): Query = copyWith(sectionsSet = Some(set))

  private def mapRows(f: SetExpr => SetExpr): Query = {
    require(rowsSet.isDefined, "rows(...) must be set first")
    copyWith(rowsSet = rowsSet.map(f))
  }

  def crossjoin(set: SetExpr): Query = mapRows(CrossJoin(_, set))
  def nonemptyCrossjoin(set: SetExpr): Query =
    mapRows(NonEmptyCrossJoin(_, set))
  def except(set: SetExpr): Query = mapRows(ExceptSet(_, set))
  def union(set: SetExpr, all: Boolean = false): Query =
    mapRows(UnionSet(_, set, all))
  def intersect(set: SetExpr): Query = mapRows(IntersectSet(_, set))
  def distinct(): Query = mapRows(DistinctSet(_))
  def filter(cond: String): Query = mapRows(FilterSet(_, cond))
  /** FILTER(set AS S, NOT ISEMPTY(S.CURRENT)) shorthand (query.rb:92-95). */
  def filterNonempty(measure: String): Query =
    mapRows(FilterSet(_, s"$measure IS NOT NULL"))
  def order(expr: String, dir: SortDir): Query =
    mapRows(OrderSet(_, expr, dir))
  def topCount(n: Int, expr: String): Query = mapRows(TopCount(_, n, expr))
  def bottomCount(n: Int, expr: String): Query =
    mapRows(TopCount(_, n, expr, bottom = true))
  def topPercent(pct: Double, expr: String): Query =
    mapRows(TopPercent(_, pct, expr))
  def bottomPercent(pct: Double, expr: String): Query =
    mapRows(TopPercent(_, pct, expr, bottom = true))
  def topSum(threshold: Double, expr: String): Query =
    mapRows(TopSum(_, threshold, expr))
  def bottomSum(threshold: Double, expr: String): Query =
    mapRows(TopSum(_, threshold, expr, bottom = true))
  def head(n: Int): Query = mapRows(HeadSet(_, n))
  def tail(n: Int): Query = mapRows(TailSet(_, n))
  def subset(start: Int, n: Int): Query = mapRows(SubsetSet(_, start, n))
  /** Generate(rows, [dim].CurrentMember[, ALL]) — reference
    * query.rb:97-110: identity scan of the set; ALL keeps duplicates,
    * default dedups.
    */
  def generate(all: Boolean = false): Query =
    if (all) this else mapRows(DistinctSet(_))

  def hierarchize(post: Boolean = false): Query =
    mapRows(Hierarchize(_, post))

  /** NON EMPTY on the rows axis (query.rb:68-72). */
  def nonempty(): Query = copyWith(nonEmptyFlag = true)

  /** WHERE slicer: members/tuples/sets restrict the cube context
    * (query.rb:160-172).
    */
  def where(items: SlicerItem*): Query = copyWith(slicer = slicer ++ items)

  /** WITH SET name AS set (query.rb:181-186). */
  def withSet(name: String, set: SetExpr): Query =
    copyWith(withSets = withSets + (name -> set))

  /** WITH MEMBER [Measures].name AS expr (query.rb:175-179). */
  def withMember(cm: CalcMember): Query =
    copyWith(withMembers = withMembers :+ cm)

  def toIR: QueryIR =
    QueryIR(measures, rowsSet, slicer, nonEmptyFlag, withSets, withMembers,
      pages = pagesSet, chapters = chaptersSet, sections = sectionsSet)

  /** Render the built query as MDX text (reference to_mdx,
    * query.rb:230-237) — kept for debugging/compat; execution goes
    * straight from the IR.
    */
  def toMdx: String = Mdx.renderQuery(toIR, cube.name)

  def execute(): DataFrame = new Planner(cube).execute(toIR)

  /** Execute and materialize into the cell-set Result (axis positions,
    * value transposition, formatted values — reference result.rb).
    */
  def executeResult(): Result = Query.scoped {
    // this is the fully-scoped serving call — it both plans (segment
    // hits/misses lease here, persists pin here) and collects
    // (Result.fromDataFrame), so a concurrent budget eviction cannot
    // free a checkpointed segment under this query's jobs, and its
    // pins are released when it returns. execute() returns a lazy
    // DataFrame, so callers of THAT open their own [[Query.scoped]]
    // around build + actions (as Bench/Verify do).
    // every outer axis (sections slowest, then chapters, then pages)
    // contributes page-key columns, in grid-major order
    val pageCols = Seq(sectionsSet, chaptersSet, pagesSet).flatten
      .flatMap { p =>
        new Planner(cube).evalSet(p, slicer, withSets).dims
          .flatMap(ad => Planner.levelCols(ad.d, ad.depth))
      }
    Result.fromDataFrame(execute(), measures, cube, pageCols,
      queryCalcs = withMembers)
  }

  /** DRILLTHROUGH through the current slicer (SURVEY §2.11). */
  def executeDrillThrough(returnCols: Seq[String],
      dims: Map[String, String] = Map.empty,
      nonEmptyCol: Option[String] = None,
      maxRows: Option[Int] = None,
      groupBy: Boolean = false): DataFrame =
    new Planner(cube).drillThrough(slicer, returnCols, dims, nonEmptyCol,
      maxRows, groupBy, withMembers = withMembers, withSets = withSets)
}

object Query {
  /** One query's boundary: build the query AND run its actions inside.
    * `Pins.scoped` releases every persist the query pins when the block
    * exits, so the next query starts with this one's storage freed (the
    * r6 bench paid 5x on q_pipeline_curate with ~30 stale frames
    * resident). `withLease` holds the segments the query touches, plan
    * time through its actions, against a concurrent budget eviction.
    */
  def scoped[T](body: => T): T =
    Pins.scoped { SegmentCache.global.withLease(body) }

  /** olap.from('Sales') (connection.rb:108-110). */
  def from(cube: BoundCube): Query =
    new Query(cube, Nil, None, Nil, false, Map.empty, Nil)
}

/** Metadata navigation API — entry point C of the reference
  * (lib/mondrian/olap/cube.rb: dimensions/hierarchies/levels/members,
  * member lookup by path, children, member counts). Level members come
  * from cached distinct queries over the dimension DataFrames.
  */
final class CubeMetadata(cube: BoundCube) {
  def dimensionNames: Seq[String] = cube.dims.map(_.name)
  def measureNames: Seq[String] =
    cube.measures.map(_.name) ++ cube.calcMembers.map(_.name)
  def levelNames(dim: String): Seq[String] =
    cube.dim(dim).levels.map(_.name)

  /** All members of a level, ordered by ordinal (cube.rb:328-332). */
  def levelMembers(dim: String, level: String): DataFrame =
    new Planner(cube).evalSet(LevelMembers(dim, level), Nil).members

  /** Member count of a level; a declared `approx_row_count` answers
    * without running a count job (cube.rb:308-314).
    */
  def membersCount(dim: String, level: String): Long = {
    val d = cube.dim(dim)
    d.levels.find(_.name.equalsIgnoreCase(level))
      .flatMap(_.approxRowCount)
      .getOrElse(levelMembers(dim, level).count())
  }

  /** member('[Customers].[USA].[CA]')-style lookup: true if the path
    * resolves to an existing member (cube.rb:106-116).
    */
  def memberExists(dim: String, path: Seq[Any]): Boolean =
    new Planner(cube).evalSet(Members(dim, Seq(path)), Nil)
      .members.limit(1).count() > 0

  def children(dim: String, path: Seq[Any]): DataFrame =
    new Planner(cube).evalSet(Children(dim, path), Nil).members

  /** Member property values (reference schema.rb:272-284 property
    * columns; read API cube.rb:470-480): extra attribute columns the
    * dimension DataFrame carries beyond the level keys, for the member
    * at `path`.
    */
  def memberProperties(dim: String, path: Seq[Any]): Map[String, Any] = {
    val d = cube.dim(dim)
    val levelCols = d.levels.take(path.length).map(_.col)
    val propCols = d.df.columns.toSeq
      .filterNot(c => d.levels.exists(l => l.col == c || l.ordinal == c))
      .filterNot(_ == d.primaryKey)
    if (propCols.isEmpty) return Map.empty
    val pred = levelCols.zip(path)
      .map { case (c, v) =>
        org.apache.spark.sql.functions.col(c) ===
          org.apache.spark.sql.functions.lit(v)
      }.reduce(_ && _)
    d.df.filter(pred)
      .select(propCols.map(org.apache.spark.sql.functions.col): _*)
      .limit(1).collect().headOption
      .map(r => propCols.zip(r.toSeq).toMap)
      .getOrElse(Map.empty)
  }

  private def measureLike(fullName: String): Option[String] = {
    val segs = Mdx.lex(fullName).collect { case Mdx.TBracket(s) => s }
    val name = segs match {
      case Seq(m, n) if m.equalsIgnoreCase("Measures") => n
      case Seq(n) => n
      case _ => fullName
    }
    (cube.measures.map(_.name) ++ cube.calcMembers.map(_.name))
      .find(_.equalsIgnoreCase(name))
  }

  /** Named cell formatter of a measure/calc member, when declared
    * (reference member.cell_formatter_name,
    * schema_definition_test.rb:1237-1243).
    */
  def cellFormatterName(fullName: String): Option[String] =
    measureLike(fullName).flatMap(n =>
      cube.measures.find(_.name == n).flatMap(_.cellFormatter)
        .orElse(cube.calcMembers.find(_.name == n).flatMap(_.cellFormatter)))

  /** The resolved cell formatter function (reference member.cell_formatter). */
  def cellFormatter(fullName: String): Option[Any => String] =
    cellFormatterName(fullName).flatMap(cube.funcs.cellFormatter)

  /** VB format string of a measure (reference member.format_string). */
  def formatString(fullName: String): Option[String] =
    measureLike(fullName).flatMap(n =>
      cube.measures.find(_.name == n).flatMap(_.formatString)
        .orElse(cube.calcMembers.find(_.name == n).flatMap(_.formatString)))

  /** Member caption through the level's member formatter (reference
    * member.caption with a MemberFormatter declared on the level).
    */
  def memberCaption(dim: String, path: Seq[Any]): String = {
    val d = cube.dim(dim)
    val name = path.last
    val l = d.levels(path.length - 1)
    l.memberFormatter.flatMap(cube.funcs.memberFormatter)
      .map(f => f(MemberView(d.name, l.name, name)))
      .getOrElse(String.valueOf(name))
  }

  /** Property value through the level's property formatter (reference
    * member.property_formatted_value('City')).
    */
  def memberPropertyFormatted(dim: String, path: Seq[Any],
      property: String): Option[String] = {
    val d = cube.dim(dim)
    val l = d.levels(path.length - 1)
    memberProperties(dim, path).get(property).map { v =>
      l.propertyFormatters.get(property)
        .flatMap(cube.funcs.propertyFormatter)
        .map(f => f(MemberView(d.name, l.name, path.last), property, v))
        .getOrElse(String.valueOf(v))
    }
  }

  /** member('[customer].[EUROPE].[NATION_3]')-style lookup by full MDX
    * name (cube.rb:106-116): parses the bracketed identifier and
    * resolves the path; None when no such member exists.
    */
  def member(fullName: String): Option[Seq[Any]] = {
    val segs = Mdx.lex(fullName).collect { case Mdx.TBracket(s) => s }
    if (segs.isEmpty) return None
    val dim = cube.dims.find(_.name.equalsIgnoreCase(segs.head))
    dim.flatMap { d =>
      val path = segs.tail.map(s =>
        if (s.nonEmpty && s.forall(_.isDigit)) (s.toInt: Any) else (s: Any))
      if (path.nonEmpty && memberExists(d.name, path)) Some(path) else None
    }
  }
}
