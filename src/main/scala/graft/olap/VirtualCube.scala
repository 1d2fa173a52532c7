package graft.olap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Virtual cube (reference schema.rb:343-372; fixture
  * MondrianTest.xml:146-159; semantics pinned by
  * query_test.rb:1060-1098): measures from several base cubes aligned
  * on conformed dimensions. Cells for (member, measure) combinations
  * the measure's base cube does not cover are empty (NULL) — the
  * ValidMeasure semantics.
  *
  * Spark-native: each base cube aggregates at the conformed grain
  * independently (its own one-pass fact aggregation, broadcast star
  * joins, segment cache), then the per-cube aggregates full-outer-join
  * on the conformed level keys. The join inputs are grain-sized, so
  * the virtual-cube overhead is dimension-scale regardless of fact
  * sizes.
  */
final class VirtualCube(
    val name: String,
    bases: Seq[(BoundCube, Seq[String])]) { // cube -> its measure names

  require(bases.nonEmpty, s"virtual cube '$name' needs base cubes")

  def measureNames: Seq[String] = bases.flatMap(_._2)

  /** Resolve computed ([[EvalSlice]]) entries BEFORE the per-base-cube
    * applicability filter: a computed set names its dimension only
    * after evaluation, so it is evaluated against the first base cube
    * that knows the dimension, and the resulting literal slicer then
    * filters per base cube like any other (a base cube lacking the
    * dimension skips it instead of crashing on an unknown dim).
    */
  // one planner per base, reused across slicer items and calls —
  // expandDimCalcSlicer/resolveSlicer leave no per-query residue: a
  // cell-valued computed set runs a self-contained sub-query, and a
  // planner holds a statement's scope only while it renders it, so
  // sharing stays safe
  private lazy val basePlanners: Seq[(BoundCube, Planner)] =
    bases.map { case (bc, _) => bc -> new Planner(bc) }

  /** Dim-hosted calc members defined on a base cube expand to their
    * compound set; the conformed-dimension result then applies to
    * every base sharing the dimension (Mondrian virtual cubes import
    * calculated members). Without this, the synthetic member name
    * would predicate-filter every base to zero rows silently. When
    * SEVERAL bases define a same-named member, their expansions must
    * agree — silently using whichever base iterates first could
    * aggregate the wrong set; refuse loudly instead. Refusals
    * (cross-dim compound mixes, calc in a computed set) propagate.
    */
  private def expandCalcs(slicer: Seq[SlicerItem]): Seq[SlicerItem] =
    slicer.flatMap { item =>
      val expansions = basePlanners
        .map { case (bc, p) => bc.name -> p.expandDimCalcSlicer(Seq(item)) }
        .filter(_._2 != Seq(item))
      expansions.map(_._2).distinct match {
        case Seq()    => Seq(item)
        case Seq(one) => one
        case _ => throw new IllegalArgumentException(
          "calculated member in a virtual-cube slicer is defined " +
            s"differently by base cubes [${expansions.map(_._1)
              .mkString(", ")}] of '$name' — the expansions disagree; " +
            "rename one of the members or align their sets")
      }
    }

  private def resolveComputed(slicer0: Seq[SlicerItem]): Seq[SlicerItem] = {
    val slicer = expandCalcs(slicer0)
    slicer.map {
      case e @ EvalSlice(_) =>
        // try each base cube; keep every failure so a GENUINE error
        // (oversized set, multi-dimension set, analysis failure) is
        // not masked behind "no base cube knows the dimension"
        val errs = Seq.newBuilder[String]
        basePlanners.iterator.flatMap { case (bc, p) =>
          try p.resolveSlicer(Seq(e))
          catch { case ex: Exception =>
            errs += s"[${bc.name}] ${ex.getMessage}"
            Nil
          }
        }.nextOption().getOrElse(throw new IllegalArgumentException(
          s"computed slicer set resolves in no base cube of virtual " +
            s"cube '$name':\n  " + errs.result().mkString("\n  ")))
      case other => other
    }
  }

  /** Aggregate every base cube at the conformed (dim, level) grain and
    * align on the shared level key columns.
    */
  def aggregate(dimLevels: Seq[(String, String)],
      slicer0: Seq[SlicerItem] = Nil): DataFrame = {
    val slicer = resolveComputed(slicer0)
    val parts = bases.map { case (cube0, measures) =>
      // prune to the requested measures BEFORE planning: the virtual
      // cube must not pay for the base cube's full measure battery
      val cube = cube0.copy(measures =
        cube0.measures.filter(m => measures.contains(m.name)))
      val planner = new Planner(cube)
      val axisDims = dimLevels.map { case (dn, ln) =>
        Planner.AxisDim(cube.dim(dn), cube.dim(dn).levelIndex(ln))
      }
      // only slicer items whose dimension the base cube shares apply
      val applicable = slicer.filter(_.memberDim.forall(d =>
        cube.dims.exists(_.name == d)))
      val keys = Planner.groupCols(axisDims)
      (planner.aggregate(axisDims, applicable)
        .select((keys.map(col) ++ measures.map(col)): _*), keys)
    }
    val keys = parts.head._2
    parts.map(_._1).reduce((a, b) => a.join(b, keys, "full_outer"))
  }

  /** Drill-through on a virtual-cube cell: detail rows come from the
    * base cube that OWNS `measure`; requested return fields that exist
    * only in other base cubes come back as empty (null) columns — the
    * reference's virtual-cube drill-through contract
    * (result.rb:421-506, query_test.rb:1060-1098).
    */
  def drillThrough(measure: String, slicer0: Seq[SlicerItem],
      returnCols: Seq[String], dims: Map[String, String] = Map.empty,
      maxRows: Option[Int] = None): DataFrame = {
    val slicer = resolveComputed(slicer0)
    val (owner, _) = bases.find(_._2.contains(measure)).getOrElse(
      throw new IllegalArgumentException(
        s"measure '$measure' not found in virtual cube '$name' " +
          s"(have: ${measureNames.mkString(", ")})"))
    def resolvable(c: String): Boolean =
      owner.measures.exists(_.name == c) ||
        owner.fact.columns.contains(c) ||
        owner.dims.exists(d => d.df.columns.contains(c))
    val (own, foreign) = returnCols.partition(resolvable)
    val ownerDims = dims.filter { case (d, _) =>
      owner.dims.exists(_.name == d)
    }
    val ownerSlicer = slicer.filter(_.memberDim.forall(d =>
      owner.dims.exists(_.name == d)))
    val base = new Planner(owner)
      .drillThrough(ownerSlicer, own, ownerDims, maxRows = maxRows)
    // foreign fields keep their OWNING cube's type (ADVICE r5): a
    // numeric column of another base cube must union/compare cleanly
    // with that cube's own drill-through schema — string only when no
    // base cube can resolve it
    def typeOf(c: String): org.apache.spark.sql.types.DataType =
      bases.map(_._1).flatMap { bc =>
        bc.fact.schema.find(_.name == c).map(_.dataType) ++
          bc.dims.flatMap(_.df.schema.find(_.name == c).map(_.dataType))
      }.headOption.getOrElse(org.apache.spark.sql.types.StringType)
    foreign.foldLeft(base)((df, c) =>
      df.withColumn(c, lit(null).cast(typeOf(c))))
      .select(returnCols.map(col): _*)
  }
}
