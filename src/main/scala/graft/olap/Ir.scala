package graft.olap

/** The query IR — a typed re-expression of the reference builder's
  * nested-array set IR (reference lib/mondrian/olap/query.rb:23-157; shapes
  * asserted in test/query_test.rb:157-311). Axis sets are trees of SetExpr;
  * the planner lowers them to DataFrames of member tuples (SURVEY §3 entry
  * point B — we build the IR directly, no MDX string round-trip).
  */
sealed trait SetExpr

/** All members of a level: [Dim].[Level].Members (LevelMembersFunDef). */
final case class LevelMembers(dim: String, level: String) extends SetExpr
/** Literal member set {m1, m2, ...}, paths from the root level down. */
final case class Members(dim: String, paths: Seq[Seq[Any]]) extends SetExpr
/** member.Children (DescendantsFunDef family). */
final case class Children(dim: String, path: Seq[Any]) extends SetExpr
/** Descendants(member, level). */
final case class Descendants(dim: String, path: Seq[Any], level: String)
    extends SetExpr
/** Member range a : b at one level (RangeFunDef) — closed interval in
  * ordinal order.
  */
final case class MemberRange(dim: String, level: String, from: String,
    to: String) extends SetExpr
/** CurrentDateMember([Time], format|level[, match]) — the member of
  * `level` containing "now" (reference CurrentDateMemberFunDef,
  * schema_definition_test.rb:577-597). `now` comes from the session
  * conf `spark.graft.now` (ISO date) so results are deterministic;
  * matchType ∈ EXACT | BEFORE | AFTER (BEFORE = closest earlier
  * member, the reference's fallback behavior).
  */
/** Cousin(member, ancestor): the member at the same relative position
  * under `ancestorPath` that `memberPath` occupies under ITS ancestor
  * at that depth (CousinFunDef) — e.g. Cousin(1995-Q2, 1996) = 1996-Q2.
  * Positions are sibling ordinals per level, resolved from data, so
  * ragged position gaps yield an empty set (same as the jar's null).
  */
final case class CousinSet(dim: String, memberPath: Seq[Any],
    ancestorPath: Seq[Any]) extends SetExpr

final case class CurrentDateMember(dim: String, level: String,
    matchType: String = "BEFORE") extends SetExpr

/** Parse-time marker for `{[Measures].[m]}` crossjoined inside
  * `Aggregate({set} * {[Measures].[m]})` (the reference's "aggregate
  * stored members and a measure", mondrian_test.rb:215-222): unwrapped
  * to the `Aggregate(set, measure)` form before the IR is stored —
  * never survives into a planned set.
  */
final case class MeasuresSet(measures: Seq[String]) extends SetExpr

/** CrossJoin(s1, s2) — sets over distinct dimensions. */
final case class CrossJoin(left: SetExpr, right: SetExpr) extends SetExpr
/** NonEmptyCrossJoin — combinations that actually occur in the fact. */
final case class NonEmptyCrossJoin(left: SetExpr, right: SetExpr)
    extends SetExpr
final case class UnionSet(left: SetExpr, right: SetExpr, all: Boolean = false)
    extends SetExpr
final case class IntersectSet(left: SetExpr, right: SetExpr) extends SetExpr
final case class ExceptSet(left: SetExpr, right: SetExpr) extends SetExpr
final case class DistinctSet(set: SetExpr) extends SetExpr
/** Exists(s1, s2): tuples of s1 present in s2 (left-semi). */
final case class ExistsSet(left: SetExpr, right: SetExpr) extends SetExpr

/** Filter(set, cond) — cond is a Spark SQL predicate over measure, calc
  * and level columns, evaluated against cells at the set's grain (HAVING
  * semantics). Its current-member, ordinal and emptiness names
  * ([[Scalar.Name]]) bind to the set's own tuple.
  */
final case class FilterSet(set: SetExpr, cond: String) extends SetExpr
/** Order(set, expr, direction). B-variants break the hierarchy (pure value
  * sort); non-B sort within parents (reference query.rb:110-119,
  * fun/sort comparators).
  */
final case class OrderSet(set: SetExpr, expr: String, dir: SortDir)
    extends SetExpr
/** TopCount / BottomCount / TopPercent / TopSum family
  * (reference query.rb:121-139).
  */
final case class TopCount(set: SetExpr, n: Int, expr: String,
    bottom: Boolean = false) extends SetExpr
final case class TopPercent(set: SetExpr, pct: Double, expr: String,
    bottom: Boolean = false) extends SetExpr
final case class TopSum(set: SetExpr, threshold: Double, expr: String,
    bottom: Boolean = false) extends SetExpr
/** Head/Tail/Subset positional slicing over the set's current order. */
final case class HeadSet(set: SetExpr, n: Int) extends SetExpr
final case class TailSet(set: SetExpr, n: Int) extends SetExpr
final case class SubsetSet(set: SetExpr, start: Int, n: Int) extends SetExpr
/** Hierarchize(set[, POST]) — hierarchical order, parents before (or after)
  * children.
  */
final case class Hierarchize(set: SetExpr, post: Boolean = false)
    extends SetExpr
/** Reference to a WITH SET named set (query.rb:181-186). */
final case class NamedSetRef(name: String) extends SetExpr
/** DrilldownMember(set, members): members of `set`, with the children
  * of every member that is also in `members` inserted after it
  * (DrilldownMemberFunDef; SURVEY §2.8 drilldown family).
  */
final case class DrilldownMember(set: SetExpr, members: SetExpr)
    extends SetExpr
/** DrilldownLevelTop/Bottom(set, n[, level], expr): each member plus
  * its top/bottom-n children ranked by `expr`.
  */
final case class DrilldownLevelTop(set: SetExpr, n: Int, expr: String,
    bottom: Boolean = false) extends SetExpr
/** ToggleDrillState(set, members): per toggle member — collapse its
  * descendants when already drilled, expand its children when not.
  */
final case class ToggleDrillState(set: SetExpr, members: SetExpr)
    extends SetExpr
/** Unorder(set) — semantic no-op (UnorderFunDef releases ordering
  * constraints; this planner never orders unless forced).
  */
final case class UnorderSet(set: SetExpr) extends SetExpr
/** Extract(set, dim...) — project the tuple set onto the given
  * dimensions and dedup (ExtractFunDef).
  */
final case class ExtractSet(set: SetExpr, dims: Seq[String]) extends SetExpr

sealed trait SortDir
object SortDir {
  case object Asc extends SortDir
  case object Desc extends SortDir
  case object BAsc extends SortDir   // breaking-hierarchy ascending
  case object BDesc extends SortDir  // breaking-hierarchy descending
}

/** Slicer (WHERE clause) items — reference query.rb:160-172,377-394:
  * single member, tuple of members from different dims, or a same-dim set
  * (compound slicer = aggregate over the union, SURVEY §4 #12).
  */
sealed trait SlicerItem {
  /** The dimension a member-path item (a member or a same-dim set)
    * slices; None for a predicate or a computed set.
    */
  def memberDim: Option[String] = this match {
    case MemberSlice(d, _) => Some(d)
    case SetSlice(d, _)    => Some(d)
    case _                 => None
  }
}
final case class MemberSlice(dim: String, path: Seq[Any]) extends SlicerItem
final case class SetSlice(dim: String, paths: Seq[Seq[Any]])
    extends SlicerItem
/** Raw predicate over star columns — the analog of the reference's inline
  * fact `<SQL>` condition (schema.rb:71-79).
  */
final case class ExprSlice(sql: String, dims: Seq[String] = Nil)
    extends SlicerItem
/** A COMPUTED slicer entry: a set expression in WHERE position
  * (`WHERE (Head([Customers].Members).Item(0), ...)`, reference
  * query_test.rb:288-300). The planner evaluates the set to its
  * member rows at plan time and applies the equivalent member-path
  * slicer; the set must cover a single dimension and evaluate to a
  * bounded member list.
  */
final case class EvalSlice(set: SetExpr) extends SlicerItem

/** A complete query: measures on columns, one set on rows, slicer,
  * NON EMPTY flag, named sets, extra WITH MEMBER calc members.
  */
final case class QueryIR(
    measures: Seq[String],
    rows: Option[SetExpr],
    slicer: Seq[SlicerItem] = Nil,
    nonEmpty: Boolean = false,
    withSets: Map[String, SetExpr] = Map.empty,
    withMembers: Seq[CalcMember] = Nil,
    /** PAGES axis (reference query.rb AXIS_ALIASES): lowered as the
      * page-major outer product with the rows axis — pages(2) is the
      * slowest-varying coordinate of the grid, matching Mondrian's
      * axis ordinal semantics.
      */
    pages: Option[SetExpr] = None,
    /** CHAPTERS(3) / SECTIONS(4) — the remaining reference axis
      * aliases; higher ordinals vary slower, so they fold as further
      * outer products above PAGES.
      */
    chapters: Option[SetExpr] = None,
    sections: Option[SetExpr] = None)
