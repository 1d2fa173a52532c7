package graft.olap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Connection façade — the reference's top-level entry
  * (lib/mondrian/olap/connection.rb): one object that owns the session
  * + schema binding and exposes the four query surfaces (raw MDX,
  * builder, metadata, drill-through) plus cache control. Where the
  * reference wraps a JDBC/olap4j connection, this wraps a SparkSession
  * and a set of bound cubes; `close` drops only this connection's
  * cached state, never the shared session.
  */
final class Connection private (
    val spark: SparkSession,
    cubes: Map[String, BoundCube]) {

  @volatile private var open = true
  private def ensureOpen(): Unit =
    if (!open) throw new IllegalStateException("connection is closed")

  def connected: Boolean = open

  def cubeNames: Seq[String] = cubes.keys.toSeq.sorted

  def cube(name: String): BoundCube = {
    ensureOpen()
    cubes.getOrElse(name, throw new IllegalArgumentException(
      s"MDX cube '$name' not found " +
        s"(have: ${cubeNames.mkString(", ")})"))
  }

  /** Entry point B: builder rooted at a cube (connection.from). */
  def from(cubeName: String): Query = Query.from(cube(cubeName))

  /** Entry point A: raw MDX (FROM [Cube] names the target cube;
    * optional statement parameters).
    */
  def execute(mdx: String,
      parameters: Map[String, Any] = Map.empty): DataFrame = {
    ensureOpen()
    Mdx.execute(mdx, cubeFor(mdx), parameters)
  }

  /** Entry point D: DRILLTHROUGH statement. */
  def executeDrillThrough(mdx: String): DataFrame = execute(mdx)

  /** Entry point C: metadata for a cube. */
  def metadata(cubeName: String): CubeMetadata =
    new CubeMetadata(cube(cubeName))

  // ------------------------------------------------------ cache control

  /** Flush every cached segment of one cube (reference
    * flush_schema_cache / CacheControl).
    */
  def flushCube(cubeName: String): Unit =
    SegmentCache.global.flushCube(cube(cubeName).cubeId)

  /** Flush segments intersecting one member region (reference
    * flush_region_cache_with_full_names).
    */
  def flushRegion(cubeName: String, dim: String, path: Seq[Any]): Unit =
    SegmentCache.global.flushRegion(cube(cubeName).cubeId, dim, path)

  /** Close: flush this connection's cube segments and refuse further
    * queries. The SparkSession is shared infrastructure and stays up.
    */
  def close(): Unit = {
    cubes.values.foreach(c => SegmentCache.global.flushCube(c.cubeId))
    open = false
  }

  /** FROM [name] of the statement, resolved against the registry (any
    * DRILLTHROUGH/WITH prefix is handled by keyword scan over tokens).
    */
  private def cubeFor(mdx: String): BoundCube = {
    val toks = Mdx.lex(mdx)
    val fromIdx = toks.indexWhere {
      case Mdx.TIdent(s) => s.equalsIgnoreCase("FROM")
      case _ => false
    }
    val name = toks.lift(fromIdx + 1) match {
      case Some(Mdx.TBracket(s)) => s
      case Some(Mdx.TIdent(s)) => s
      case _ => throw Mdx.MdxException(
        "Syntax error: missing FROM [Cube]")
    }
    cubes.collectFirst {
      case (n, c) if n.equalsIgnoreCase(name) => c
    }.getOrElse(throw Mdx.MdxException(
      s"MDX cube '$name' not found (have: ${cubeNames.mkString(", ")})"))
  }
}

object Connection {
  /** Create over an explicit cube registry. Every cube is interned
    * through the content-checksum [[SchemaPool]], so two Connections
    * built from equal-content definitions share one resolved cube
    * instance — and with it the member caches and segment-cache
    * identity (the reference's RolapSchemaPool,
    * connection.rb:112-181,325-326: schemas are pooled by a checksum of
    * the schema content unless an explicit schema key is given).
    */
  def create(spark: SparkSession, cubes: Seq[BoundCube]): Connection =
    new Connection(spark,
      cubes.map(SchemaPool.intern).map(c => c.name -> c).toMap)

  /** Create over the standard testdata cubes of one scale-factor dir
    * (the analog of connecting to one database).
    */
  def create(spark: SparkSession, sfDir: String): Connection =
    create(spark, Seq(
      graft.Cubes.sales(spark, sfDir),
      graft.Cubes.events(spark, sfDir)))

  /** The reference's `catalog:`/`catalog_content:` + `role_name:`
    * connection options (connection.rb:459-475): bind a Mondrian XML
    * catalog through [[graft.sources.XmlSchema]] and optionally attach
    * one of its declared roles to every cube.
    */
  def createFromCatalog(spark: SparkSession, xml: String,
      tables: String => org.apache.spark.sql.DataFrame,
      roleName: Option[String] = None): Connection =
    createFromCatalog(spark, xml, tables, roleName.toSeq)

  /** Multiple role names union their grants (the reference's
    * `role_name: [a, b]` array form, connection.rb role_names=).
    */
  def createFromCatalog(spark: SparkSession, xml: String,
      tables: String => org.apache.spark.sql.DataFrame,
      roleNames: Seq[String]): Connection = {
    val cat = graft.sources.XmlSchema.loadCatalog(xml, tables)
    val roles = roleNames.map(n => cat.roles.getOrElse(n,
      throw new IllegalArgumentException(
        s"catalog declares no role '$n' " +
          s"(have: ${cat.roles.keys.mkString(", ")})")))
    val role =
      if (roles.isEmpty) None
      else if (roles.length == 1) Some(roles.head)
      else Some(Role.union(roles: _*))
    create(spark, cat.cubes.map(c => role.fold(c)(c.withRole)))
  }

  /** Drop every pooled schema (reference flush_schema_cache: the next
    * connection re-resolves its cubes from scratch).
    */
  def flushSchemaPool(): Unit = SchemaPool.flush()

  def schemaPoolSize: Int = SchemaPool.size
}

/** Content-checksum schema pool (reference RolapSchemaPool via
  * connection.rb:112-181: `schema.checksum` of the generated XML keys
  * the pool, so equal-content schemas resolve once). The checksum here
  * covers the MODEL (dims/levels/measures/calcs/role/registered
  * function names) plus the identity of the bound DataFrames
  * (`semanticHash` of their logical plans — two cubes over different
  * data directories never pool together).
  */
private[olap] object SchemaPool {
  private val pool =
    scala.collection.concurrent.TrieMap.empty[String, BoundCube]

  def intern(c: BoundCube): BoundCube =
    pool.getOrElseUpdate(checksum(c), c)

  def size: Int = pool.size
  def flush(): Unit = pool.clear()

  def checksum(c: BoundCube): String = {
    val sb = new StringBuilder(c.name)
    def app(parts: Any*): Unit =
      parts.foreach(p => sb.append('|').append(p))
    c.dims.foreach { d =>
      app(d.name, d.foreignKey, d.primaryKey, d.degenerate, d.isTime,
        d.df.semanticHash())
      d.levels.foreach(l => app(l.name, l.col, l.ordCol, l.hideMemberIf,
        l.memberFormatter, l.propertyFormatters.toSeq.sorted, l.keyExpr))
    }
    c.measures.foreach(m =>
      app(m.name, m.agg, m.expr, m.formatString, m.cellFormatter))
    c.calcMembers.foreach(cm =>
      app(cm.name, cm.calc, cm.solveOrder, cm.formatString,
        cm.cellFormatter))
    c.role.foreach(r =>
      app(r.name, r.grants, r.policy, r.dimPolicies.toSeq.sortBy(_._1),
        r.denies, r.levelBounds.toSeq.sortBy(_._1)))
    app(c.defaultMeasure)
    app(c.fact.semanticHash())
    app(c.aggTables.map(_.name).sorted)
    // function registries hold closures: names + declared signatures
    // are the content (the reference hashes the generated XML, which
    // also carries only names/classes)
    app(c.funcs.cellFormatters.keys.toSeq.sorted,
      c.funcs.memberFormatters.keys.toSeq.sorted,
      c.funcs.propertyFormatters.keys.toSeq.sorted,
      c.funcs.udfs.values.toSeq.sortBy(_.name)
        .map(u => (u.name, u.parameters, u.returns, u.syntax)))
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(sb.toString.getBytes("UTF-8"))
    digest.map("%02x".format(_)).mkString
  }
}
