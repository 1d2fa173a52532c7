package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.xml.{Elem, Node, XML}

import graft.olap._

/** Mondrian XML catalog reader — the third schema entry surface
  * alongside the Scala DSL binding (reference: `connection.rb:459-475`
  * loads a schema from an XML file path, XML string, or the Ruby DSL;
  * the DSL itself just renders this XML, `schema.rb:30-54`). A
  * reference user can point their existing `<Schema>` catalog at this
  * engine; only the physical layer changes — a `tables` resolver maps
  * `<Table name="...">` to DataFrames (parquet, JDBC, views) instead
  * of JDBC identifiers.
  *
  * Supported subset (the fixture-exercised surface,
  * `MondrianTest.xml`):
  *  - `<Cube><Table/>` fact binding
  *  - inline `<Dimension foreignKey>` with `<Hierarchy primaryKey
  *    uniqueKeyLevelName>` over a `<Table/>` or snowflake `<Join
  *    leftKey rightKey>` (nested joins allowed); degenerate
  *    dimensions (hierarchy without a table: level columns live on
  *    the fact)
  *  - schema-level shared `<Dimension>` + `<DimensionUsage source
  *    foreignKey>`
  *  - `<Level name column ordinalColumn hideMemberIf approxRowCount>`
  *    with `<Property column dependsOnLevelValue>`
  *  - `<Measure aggregator column|MeasureExpression formatString>`
  *  - `<CalculatedMember>` whose `<Formula>` is arithmetic over
  *    `[Measures].[x]` references (rewritten to measure columns;
  *    richer formulas belong in per-query WITH MEMBER MDX)
  *  - `<VirtualCube>` with `<VirtualCubeMeasure cubeName
  *    name="[Measures].[x]">` (conformed dims come from the base
  *    cubes, as in the engine's VirtualCube)
  *  - `<Role>` with `SchemaGrant/CubeGrant/HierarchyGrant/
  *    MemberGrant access="all"` member grants and the
  *    HierarchyGrant's rollupPolicy (full | partial); revocation
  *    grants (access="none" below schema level) are not modeled.
  */
object XmlSchema {

  /** Everything a catalog declares: cubes, virtual cubes over them,
    * and named roles (attach with `cube.withRole(...)` / pass to
    * Connection, mirroring the reference's `role_name:` option).
    */
  final case class Catalog(cubes: Seq[BoundCube],
      virtualCubes: Seq[VirtualCube], roles: Map[String, Role]) {
    def cube(name: String): BoundCube =
      cubes.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"catalog has no cube '$name' (have: ${cubes.map(_.name).mkString(", ")})"))
  }

  /** Load every `<Cube>` of a Mondrian XML catalog string. */
  def load(xml: String, tables: String => DataFrame): Seq[BoundCube] =
    loadCatalog(xml, tables).cubes

  /** Load the full catalog: cubes + virtual cubes + roles. */
  def loadCatalog(xml: String, tables: String => DataFrame): Catalog =
    catalogOf(XML.loadString(xml), tables)

  /** Load from a file path (the reference's `catalog:` option). */
  def loadFile(path: String, tables: String => DataFrame): Catalog =
    catalogOf(XML.loadFile(path), tables)

  /** Convenience resolver over a directory of parquet tables
    * (`<Table name="x">` → `dir/x.parquet`).
    */
  def parquetResolver(spark: SparkSession, dir: String): String => DataFrame =
    name => spark.read.parquet(s"$dir/$name.parquet")

  private def catalogOf(root: Elem,
      tables: String => DataFrame): Catalog = {
    require(root.label == "Schema", s"expected <Schema>, got <${root.label}>")
    val shared = (root \ "Dimension").map(d => attr(d, "name") -> d).toMap
    val cubes = (root \ "Cube").map(cube => bindCube(cube, shared, tables))
    val virtuals = (root \ "VirtualCube").map { vc =>
      val byCube = (vc \ "VirtualCubeMeasure").map { m =>
        attr(m, "cubeName") -> stripMeasure(attr(m, "name"))
      }
      val bases = byCube.map(_._1).distinct.map { cn =>
        val base = cubes.find(_.name == cn).getOrElse(
          throw new IllegalArgumentException(
            s"virtual cube '${attr(vc, "name")}': unknown base cube '$cn'"))
        base -> byCube.collect { case (`cn`, m) => m }
      }
      new VirtualCube(attr(vc, "name"), bases)
    }
    val roles = (root \ "Role").map { r =>
      val hierarchyGrants = r \\ "HierarchyGrant"
      // rollupPolicy binds PER HierarchyGrant (Mondrian semantics); the
      // DEFAULT is "full" (totals keep all data, only axis visibility
      // restricted) — an absent attribute must not silently change
      // totals
      def toPolicy(p: String): RollupPolicy = p match {
        case "partial" => RollupPolicy.Partial
        case "full"    => RollupPolicy.Full
        // Mondrian's third value: totals become the null member. The
        // engine models two policies; "hidden" binds as Partial — the
        // conservative divergence (totals reflect only granted members,
        // never MORE data than Mondrian would show) — rather than
        // failing to load a legal catalog
        case "hidden"  => RollupPolicy.Partial
        case other => throw new IllegalArgumentException(
          s"role '${attr(r, "name")}': unknown rollupPolicy '$other'")
      }
      val dimPolicies = hierarchyGrants.flatMap { h =>
        attrOpt(h, "rollupPolicy").map(p =>
          bracketPath(attr(h, "hierarchy")).head -> toPolicy(p))
      }.toMap
      def memberGrants(access: String) = hierarchyGrants.flatMap { h =>
        (h \ "MemberGrant").filter(g => (g \@ "access") == access)
          .map { g =>
            val segs = bracketPath(attr(g, "member"))
            segs.head -> segs.tail.map(pathValue)
          }
      }
      hierarchyGrants.flatMap(_ \ "MemberGrant").foreach { g =>
        require(Set("all", "none")((g \@ "access")),
          s"member grant '${attr(g, "member")}': access must be " +
            "\"all\" or \"none\"")
      }
      // topLevel/bottomLevel restrict the visible level range; the
      // LEVEL name is the path's last segment ([dim].[Level] or the
      // Mondrian [dim].[hier].[Level] form)
      val bounds = hierarchyGrants.flatMap { h =>
        val dim = bracketPath(attr(h, "hierarchy")).head
        val top = attrOpt(h, "topLevel").map(p => bracketPath(p).last)
        val bottom = attrOpt(h, "bottomLevel").map(p => bracketPath(p).last)
        if (top.isEmpty && bottom.isEmpty) None
        else Some(dim -> Seq((top, bottom)))
      }.toMap
      attr(r, "name") -> Role(attr(r, "name"), memberGrants("all"),
        policy = RollupPolicy.Full, dimPolicies = dimPolicies,
        denies = memberGrants("none"), levelBounds = bounds)
    }.toMap
    Catalog(cubes, virtuals, roles)
  }

  /** `[Measures].[Store Sales]` → `Store Sales`. */
  private def stripMeasure(s: String): String =
    bracketPath(s) match {
      case Seq("Measures", m) => m
      case _ => s
    }

  /** `[customer].[EUROPE].[NATION_3]` → Seq(customer, EUROPE, NATION_3). */
  private def bracketPath(s: String): Seq[String] = {
    val segs = "\\[([^\\]]*)\\]".r.findAllMatchIn(s).map(_.group(1)).toSeq
    require(segs.nonEmpty, s"expected a [bracketed] member path, got '$s'")
    segs
  }

  /** Numeric path segments bind as ints (the MDX parser's convention,
    * so `[time].[1995]` grants match Seq(1995) slicer paths).
    */
  private def pathValue(s: String): Any =
    if (s.nonEmpty && s.forall(_.isDigit)) s.toInt else s

  private def attr(n: Node, name: String): String = {
    val v = n \@ name
    require(v.nonEmpty, s"<${n.label}> requires attribute '$name'")
    v
  }
  private def attrOpt(n: Node, name: String): Option[String] =
    Option(n \@ name).filter(_.nonEmpty)

  private def bindCube(cube: Node, shared: Map[String, Node],
      tables: String => DataFrame): BoundCube = {
    val cubeName = attr(cube, "name")
    val factTables = cube \ "Table"
    require(factTables.nonEmpty, s"cube '$cubeName' has no <Table>")
    val fact = tables(attr(factTables.head, "name"))
    val dims = (cube \ "_").collect {
      case d if d.label == "Dimension" =>
        // real Mondrian catalogs omit foreignKey on degenerate
        // dimensions (level columns live on the fact); require it only
        // when the hierarchy actually joins a table
        bindDim(d, attrOpt(d, "foreignKey"), fact, tables)
      case u if u.label == "DimensionUsage" =>
        val src = attr(u, "source")
        val node = shared.getOrElse(src, throw new IllegalArgumentException(
          s"cube '$cubeName': DimensionUsage source '$src' not declared"))
        bindDim(node, Some(attr(u, "foreignKey")), fact, tables,
          nameOverride = attrOpt(u, "name"))
    }
    val measures = (cube \ "Measure").map(bindMeasure)
    val calcs = (cube \ "CalculatedMember").map(bindCalc)
    val bound = BoundCube(cubeName, fact, dims, measures,
      calcMembers = calcs,
      defaultMeasure = attrOpt(cube, "defaultMeasure"))
    bound.validate()
    bound
  }

  /** `<Table/>` or recursive `<Join leftKey rightKey>` → one flat
    * (snowflake-prejoined) dimension frame. Column names must be
    * unambiguous across the join — the usual star-schema convention
    * (and the reference's, where Level@table disambiguates; a flat
    * DataFrame needs unique names instead).
    */
  private def joinTree(n: Node, tables: String => DataFrame): DataFrame =
    n.label match {
      case "Table" => tables(attr(n, "name"))
      case "Join" =>
        val kids = (n \ "_").filter(c =>
          c.label == "Table" || c.label == "Join")
        require(kids.length == 2, "<Join> needs exactly two children")
        val left = joinTree(kids(0), tables)
        val right = joinTree(kids(1), tables)
        left.join(right,
          left(attr(n, "leftKey")) === right(attr(n, "rightKey")))
      case other =>
        throw new IllegalArgumentException(s"unexpected <$other> in join")
    }

  private def bindDim(d: Node, foreignKey: Option[String], fact: DataFrame,
      tables: String => DataFrame,
      nameOverride: Option[String] = None): BoundDim = {
    val dimName = nameOverride.getOrElse(attr(d, "name"))
    val h = (d \ "Hierarchy").headOption.getOrElse(
      throw new IllegalArgumentException(
        s"dimension '$dimName' has no <Hierarchy>"))
    val levelNodes = h \ "Level"
    require(levelNodes.nonEmpty, s"dimension '$dimName' has no levels")
    val levels = levelNodes.map { l =>
      val dependent = (l \ "Property")
        .filter(p => (p \@ "dependsOnLevelValue") == "true")
        .map(p => attr(p, "column")).toSet
      BoundLevel(attr(l, "name"), attr(l, "column"),
        ordCol = attrOpt(l, "ordinalColumn"),
        hideMemberIf = (l \@ "hideMemberIf") match {
          case "IfBlankName"   => HideIf.IfBlankName
          case "IfParentsName" => HideIf.IfParentsName
          case _               => HideIf.Never
        },
        approxRowCount = attrOpt(l, "approxRowCount").map(_.toLong),
        dependentProps = dependent)
    }
    val joinNodes = (h \ "_").filter(c =>
      c.label == "Table" || c.label == "Join")
    if (joinNodes.isEmpty) {
      // degenerate: level columns live on the fact (the reference's
      // private-dimension-off-the-fact pattern)
      val cols = levels.flatMap(l => Seq(l.col) ++ l.ordCol).distinct
      BoundDim(dimName,
        foreignKey = levels.last.col, primaryKey = levels.last.col,
        levels = levels,
        df = fact.select(cols.map(col): _*).distinct(),
        degenerate = true,
        uniqueKeyLevel = attrOpt(h, "uniqueKeyLevelName"))
    } else {
      val df = joinTree(joinNodes.head, tables)
      BoundDim(dimName,
        foreignKey = foreignKey.getOrElse(
          throw new IllegalArgumentException(
            s"dimension '$dimName' joins a table and needs foreignKey")),
        primaryKey = attr(h, "primaryKey"),
        levels = levels, df = df,
        uniqueKeyLevel = attrOpt(h, "uniqueKeyLevelName"))
    }
  }

  private def bindMeasure(m: Node): Measure = {
    val agg = (m \@ "aggregator") match {
      case "" | "sum"      => Agg.Sum
      case "count"         => Agg.Count
      case "min"           => Agg.Min
      case "max"           => Agg.Max
      case "avg"           => Agg.Avg
      case "distinct-count" => Agg.DistinctCount
      case other => throw new IllegalArgumentException(
        s"unsupported aggregator '$other'")
    }
    val sql = (m \ "MeasureExpression" \ "SQL").headOption
      .map(_.text.trim)
      .orElse(attrOpt(m, "column"))
      .getOrElse(throw new IllegalArgumentException(
        s"measure '${attr(m, "name")}' needs column or MeasureExpression"))
    Measure(attr(m, "name"), agg, sql,
      formatString = attrOpt(m, "formatString"))
  }

  /** `[Measures].[x]` references rewrite to the measure's column name;
    * the rest of the formula passes through as Spark SQL arithmetic —
    * covers the schema-level arithmetic calc members the fixture
    * declares (Profit = sales - cost). Formulas that navigate
    * dimensions belong in per-query WITH MEMBER MDX.
    */
  private def bindCalc(c: Node): CalcMember = {
    val formula = (c \ "Formula").headOption.map(_.text.trim)
      .orElse(attrOpt(c, "formula"))
      .getOrElse(throw new IllegalArgumentException(
        s"calculated member '${attr(c, "name")}' has no formula"))
    val sql = "\\[Measures\\]\\.\\[([^\\]]+)\\]".r
      .replaceAllIn(formula,
        m => scala.util.matching.Regex.quoteReplacement(s"`${m.group(1)}`"))
    CalcMember(attr(c, "name"), ExprCalc(sql),
      formatString = attrOpt(c, "formatString"))
  }
}
