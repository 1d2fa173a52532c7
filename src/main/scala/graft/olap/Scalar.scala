package graft.olap

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.{broadcast, col, first, lit}
import org.apache.spark.sql.graft.Catalyst

import Mdx.MdxException
import Planner.{AxisDim, levelCols}

/** The one scalar lowering. An IR expression (a calc formula, a Filter
  * condition, a sort or rank key, a LinReg series term, a slicer
  * predicate) is Spark SQL text whose MDX names the parser wrote as
  * identifiers: measures and calc members by name, and the [[Name]]s
  * only an evaluation site can bind. A [[Scope]] parses each text once
  * with the session's SQL parser into Catalyst's unresolved expression
  * tree, reads its names from that tree, and gives a site its Column by
  * replacing each such name with what the [[Site]] binds it to (Mondrian
  * resolves every name of a statement once and looks each function up in
  * one table: ValidatorImpl with BuiltinFunTable, SURVEY §3 entry point
  * A, steps 3-4).
  */
private[olap] object Scalar {

  /** A name a formula reads: a measure, calc member or frame column
    * ([[Ref]]); `[dim].CurrentMember.Name` and `.Properties('prop')`;
    * `S.CurrentOrdinal` (0-based) and `IsEmpty(S.Current)` of
    * `Filter(S AS alias, …)`; and a LinReg term's
    * `Rank([d].CurrentMember, set)` — the member's 1-based position in
    * the series set, or in another set (0 when absent).
    */
  sealed trait Name
  final case class Ref(name: String) extends Name
  final case class CurrentName(dim: String) extends Name
  final case class CurrentProp(dim: String, prop: String) extends Name
  case object CurrentOrdinal extends Name
  case object CurrentEmpty extends Name
  case object SeriesRank extends Name
  case object OtherRank extends Name

  /** The identifier the MDX parser writes into IR text for `n`,
    * backquoted (as Spark SQL quotes it) when not a plain identifier.
    */
  def text(n: Name): String = {
    val raw = n match {
      case Ref(m)            => m
      case CurrentName(d)    => s"__CURRENT_NAME_${d}__"
      case CurrentProp(d, p) => s"__CURRENT_PROP_${d}__${p}__"
      case CurrentOrdinal    => "__CURRENT_ORDINAL__"
      case CurrentEmpty      => "__CURRENT_EMPTY__"
      case SeriesRank        => "__LR_RANK__"
      case OtherRank         => "__LR_XRANK__"
    }
    if (raw.matches("[A-Za-z_][A-Za-z0-9_]*")) raw else s"`$raw`"
  }

  private val fixed: Map[String, Name] =
    Seq(CurrentOrdinal, CurrentEmpty, SeriesRank, OtherRank)
      .map(n => text(n) -> n).toMap
  private val NameRx = "__CURRENT_NAME_(.+)__".r
  private val PropRx = "__CURRENT_PROP_(.+?)__(.+)__".r

  def nameOf(parts: Seq[String]): Name = parts match {
    case Seq(one) => fixed.getOrElse(one, one match {
      case PropRx(d, p) => CurrentProp(d, p)
      case NameRx(d)    => CurrentName(d)
      case _            => Ref(one)
    })
    case _ => Ref(parts.mkString("."))
  }

  /** A parsed text, with the names it reads in text order. */
  final class Formula(val tree: Expression) {
    val names: Seq[Name] = tree.collect {
      case a: UnresolvedAttribute => nameOf(a.nameParts)
    }.distinct
    def refs: Set[String] = names.collect { case Ref(n) => n.toLowerCase }.toSet
  }

  /** What one evaluation site binds names to: `bound` are its own columns
    * (an ordinal, an emptiness test, a series rank, an entry caption);
    * the current member of a hierarchy in `dims` is the frame row's (its
    * deepest level column), of any other the `slicer`'s one member of it,
    * else its default member.
    */
  final case class Site(dims: Seq[AxisDim] = Nil,
      slicer: Seq[SlicerItem] = Nil,
      bound: PartialFunction[Name, Column] = PartialFunction.empty)

  /** The Filter conditions and sort and rank keys of a set tree. */
  def keysOf(s: SetExpr): Seq[String] = (s match {
    case FilterSet(_, c)               => Seq(c)
    case OrderSet(_, e, _)             => Seq(e)
    case TopCount(_, _, e, _)          => Seq(e)
    case TopPercent(_, _, e, _)        => Seq(e)
    case TopSum(_, _, e, _)            => Seq(e)
    case DrilldownLevelTop(_, _, e, _) => Seq(e)
    case _                             => Nil
  }).filter(_.nonEmpty) ++ (s match {
    case p: Product =>
      p.productIterator.collect { case c: SetExpr => c }.flatMap(keysOf).toSeq
    case _ => Nil
  })
}

/** One statement's scalar names, resolved once: the cube `measures` it
  * reads, the calc members it reads (`calcs`, by solve order) and its
  * `withMembers`. [[Scope.statement]] validates every WITH member and set
  * key before anything is evaluated: an unknown function fails with the
  * reference's wording and the member's name. The schema scope (every
  * measure and calc member) serves direct-API use outside a statement.
  */
private[olap] final class Scope private (cube: BoundCube,
    val withMembers: Seq[CalcMember],
    roots: Option[(Seq[String], Seq[String])],
    defaultMember: BoundDim => Any) {
  import Scalar._

  private val allCalcs = cube.calcMembers ++ withMembers
  private val calcsByName = allCalcs.groupBy(_.name.toLowerCase)
  private val measureNames = cube.measures.map(_.name.toLowerCase).toSet
  private val parsed = mutable.HashMap.empty[String, Formula]
  private val reads = mutable.HashMap.empty[CalcMember, Set[String]]
  private val owners = mutable.HashMap.empty[String, String]
  private val defaults = mutable.HashMap.empty[String, Column]
  private lazy val spark = cube.fact.sparkSession

  /** `text` parsed once; a text that is exactly a measure or calc name
    * (a set aggregate's measure slot) refers to it.
    */
  def formula(text: String): Formula = parsed.getOrElseUpdate(text,
    new Formula(
      if (measureNames(text.toLowerCase) || calcsByName.contains(text.toLowerCase))
        UnresolvedAttribute(Seq(text))
      else spark.sessionState.sqlParser.parseExpression(text)))

  private def textsOf(c: CalcDef): Seq[String] = (c match {
    case ExprCalc(sql)                    => Seq(sql)
    case WindowCalc(base, _, _, _)        => Seq(base)
    case SetAggCalc(_, m, set, _)         => m +: keysOf(set)
    case LinRegCalc(_, set, y, x, px, rs) =>
      Seq(y, x) ++ px ++ (set +: rs.toSeq).flatMap(keysOf)
    case DimAggCalc(_, set)               => keysOf(set)
  }).filter(_.nonEmpty)

  private def refsOf(texts: Seq[String]): Set[String] =
    texts.flatMap(formula(_).refs).toSet

  private def readsOf(cm: CalcMember): Set[String] = reads.getOrElseUpdate(cm,
    refsOf(textsOf(cm.calc)).filter(calcsByName.contains))

  /** The calc names `names` reach, themselves included. */
  private def closure(names: Set[String]): Set[String] = {
    var active = names.filter(calcsByName.contains)
    var frontier = active
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(n => calcsByName(n).flatMap(readsOf)) -- active
      active ++= frontier
    }
    active
  }

  private lazy val rootRefs: Set[String] = roots.fold(Set.empty[String]) {
    case (names, keys) => names.map(_.toLowerCase).toSet ++ refsOf(keys)
  }

  lazy val calcs: Seq[CalcMember] = {
    val active =
      if (roots.isEmpty) cube.calcMembers.map(_.name.toLowerCase).toSet
      else closure(rootRefs)
    allCalcs.filter(c => active(c.name.toLowerCase)).sortBy(_.solveOrder)
  }

  lazy val measures: Seq[Measure] = {
    val names = rootRefs ++ calcs.flatMap(c => refsOf(textsOf(c.calc)))
    val ms = cube.measures.filter(m => names(m.name.toLowerCase))
    if (roots.isEmpty || ms.isEmpty) cube.measures else ms
  }

  /** The calcs `texts` read, directly or through other calcs, in order:
    * what a set operation's cells need for its keys.
    */
  def calcsFor(texts: Seq[String]): Seq[CalcMember] = {
    val need = closure(refsOf(texts.filter(_.nonEmpty)))
    calcs.filter(c => need(c.name.toLowerCase))
  }

  /** `cm` reads the cell's context beyond its measures: a window,
    * set-aggregating or regression calc, or a formula reading a current
    * member, an ordinal or an emptiness test.
    */
  def contextual(cm: CalcMember): Boolean = cm.calc match {
    case ExprCalc(sql)  => formula(sql).names.exists {
      case _: Ref | SeriesRank | OtherRank => false
      case _                               => true
    }
    case _: DimAggCalc => false
    case _             => true
  }

  private def dimOf(name: String): Option[BoundDim] =
    cube.dims.find(_.name.equalsIgnoreCase(name))

  /** Every function of every WITH member, needed calc and set key must
    * be in the session's registry. A hidden member the parser lowered
    * from a WITH member's formula is reported as that member.
    */
  private def validate(): Unit = {
    val registry = spark.sessionState.functionRegistry
    def check(text: String, owner: String): Unit = {
      def fail(msg: String): Nothing = throw MdxException(msg + owner)
      formula(text).tree.collect { case u: UnresolvedFunction => u.nameParts }
        .foreach {
          case Seq(fn) if !registry.functionExists(FunctionIdentifier(fn)) =>
            fail(s"No function matches signature '$fn(...)'")
          case _ => ()
        }
    }
    (withMembers ++ calcs).distinct.foreach { cm =>
      val host = if (!cm.name.startsWith("__")) Some(cm)
        else withMembers.find(w => !w.name.startsWith("__") &&
          closure(readsOf(w))(cm.name.toLowerCase))
      val owner = host.fold("")(h => h.calc match {
        case DimAggCalc(d, _) => s" in calculated member [$d].[${h.name}]"
        case _ => s" in calculated member [Measures].[${h.name}]"
      })
      textsOf(cm.calc).foreach { t =>
        owners.getOrElseUpdate(t, owner)
        check(t, owner)
      }
    }
    roots.toSeq.flatMap(_._2).foreach(check(_, ""))
  }

  /** `text` as a Column at `site`. */
  def column(text: String, site: Site): Column = {
    val f = formula(text)
    if (f.names.forall(_.isInstanceOf[Ref])) Catalyst.column(f.tree)
    else Catalyst.column(f.tree.transformUp {
      case a: UnresolvedAttribute if !nameOf(a.nameParts).isInstanceOf[Ref] =>
        Catalyst.expression(bind(nameOf(a.nameParts), site, text))
    })
  }

  /** `df` with the property columns `text` reads joined in (a broadcast
    * of each site hierarchy's key and property columns), and `text` as a
    * Column over it.
    */
  def lowerOn(df: DataFrame, text: String,
      site: Site): (DataFrame, Column) = {
    val props = formula(text).names.collect { case p: CurrentProp => p }
    val joined = site.dims.foldLeft(df) { (acc, ad) =>
      props.filter(_.dim.equalsIgnoreCase(ad.d.name)).map(_.prop)
        .foldLeft(acc) { (cur, prop) =>
          require(ad.d.df.columns.contains(prop),
            s"dimension '${ad.d.name}' has no property column '$prop'")
          val key = levelCols(ad.d, ad.depth).last
          // depends_on_level_value (schema.rb:277-281): a dependent
          // property needs no place in the grouping — aggregate by the
          // level key alone (any value is THE value)
          def propFrame =
            if (ad.d.levels(ad.depth).dependentProps.contains(prop))
              ad.d.df.groupBy(col(key)).agg(first(col(prop)).as(prop))
            else ad.d.df.select(col(key), col(prop)).distinct()
          if (cur.columns.contains(prop)) cur
          else cur.join(broadcast(propFrame), Seq(key), "left")
        }
    }
    (joined, column(text, site))
  }

  private def bind(n: Name, site: Site, src: String): Column = {
    def fail(what: String): Nothing = throw new IllegalArgumentException(
      owners.get(src).filter(_.nonEmpty).fold(s"'$src'")(_.stripPrefix(" in ")) +
        s" reads $what")
    def current(d: BoundDim): Column = site.slicer.filter {
      case ExprSlice(_, ds) => ds.exists(_.equalsIgnoreCase(d.name))
      case i                => i.memberDim.exists(_.equalsIgnoreCase(d.name))
    } match {
      case Seq(MemberSlice(_, path)) => lit(String.valueOf(path.last))
      case Seq() => defaults.getOrElseUpdate(d.name, Option(defaultMember(d))
        .fold(lit(null).cast("string"))(v => lit(String.valueOf(v))))
      case _ => fail(s"[${d.name}].CurrentMember, which is on no axis, " +
        s"while the slicer pins a compound set of [${d.name}]: put the " +
        "hierarchy on an axis or slice one member of it")
    }
    site.bound.lift(n).getOrElse(n match {
      case CurrentName(d) => site.dims.find(_.d.name.equalsIgnoreCase(d))
        .fold(current(dimOf(d).getOrElse(throw MdxException(
          s"MDX object '[$d]' not found in cube '${cube.name}'"))))(ad =>
          col(levelCols(ad.d, ad.depth).last).cast("string"))
      case CurrentProp(d, p) if site.dims.exists(_.d.name.equalsIgnoreCase(d)) =>
        col(p)
      case CurrentProp(d, p) => fail(s"[$d].CurrentMember.Properties('$p') " +
        s"while [$d] is not a hierarchy of the set or axis it is evaluated over")
      case other => fail(s"${text(other)}, which is defined only in " +
        "Filter(set AS alias, …) conditions and LinReg series terms")
    })
  }
}

private[olap] object Scope {

  def schema(cube: BoundCube, defaultMember: BoundDim => Any): Scope =
    new Scope(cube, Nil, None, defaultMember)

  /** The scope of statement `q`, whose evaluated sets are `sets`: the
    * measures and calcs its COLUMNS and the keys of its sets and of its
    * dim-hosted calc members' sets reach.
    */
  def statement(cube: BoundCube, q: QueryIR, sets: Seq[SetExpr],
      defaultMember: BoundDim => Any): Scope = {
    val dimCalcSets = (cube.calcMembers ++ q.withMembers).collect {
      case CalcMember(_, DimAggCalc(_, s), _, _, _, _) => s
    }
    val s = new Scope(cube, q.withMembers,
      Some((q.measures, (sets ++ dimCalcSets).flatMap(Scalar.keysOf))),
      defaultMember)
    s.validate()
    s
  }
}
