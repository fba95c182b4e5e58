package graft.plans

import graft.cells.{CellOf, CellScheme, CellsOf}
import graft.functions.{STContains, STDWithin, STIntersects, STWithin, SimHash64}
import graft.geom.Extent
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Catalyst optimizer rule: rewrites
  * `a JOIN b ON st_intersects(ax0, ax1, ay0, ay1, bx0, bx1, by0, by1) [AND …]`
  * — which Catalyst would otherwise plan as a broadcast-nested-loop /
  * cartesian θ-join — into the PBSM cell plan: both sides are exploded into
  * grid cells (`Generate(Explode(CellsOf(...)))`), equi-joined on the cell
  * id, re-filtered with the intersect predicate, and deduplicated with the
  * reference-point ownership test (`CellOf`) — the same two expressions over
  * the same `CellScheme` arithmetic as the DataFrame plans. Identical
  * semantics, shuffle-partitioned execution.
  *
  * The grid is a *fixed global scheme* (the H3/S2-style index of this engine)
  * read from session conf:
  *   `spark.graft.extent = "xmin,xmax,ymin,ymax"` (default 0,10000,0,10000)
  *   `spark.graft.grid.n = <cells per axis>`       (default 128)
  */
object SpatialJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  val ExtentKey = "spark.graft.extent"
  val GridKey = "spark.graft.grid.n"

  private def scheme: CellScheme = {
    val c = SparkSession.active.conf
    val ext = c.get(ExtentKey, "0,10000,0,10000").split(',').map(_.trim.toDouble)
    val n = c.get(GridKey, "128").toInt
    CellScheme(Extent(ext(0), ext(1), ext(2), ext(3)), n, n)
  }

  private def lit(d: Double): Expression = Literal(d)

  /** Explode a side into its overlapped cells; returns (plan, cellAttr). */
  private def withCells(s: CellScheme, child: LogicalPlan,
                        coords: Seq[Expression]): (LogicalPlan, Attribute) = {
    val cell = AttributeReference("__graft_cell", LongType, nullable = false)()
    (Generate(Explode(CellsOf(s, coords)), Nil, outer = false, None, Seq(cell), child), cell)
  }

  /** Point-side cell assignment: a single projection, no generators (the
    * plan-time analogue of `SpatialJoins.gridJoinPIP` — a point overlaps
    * exactly one cell).
    */
  private def withCellPoint(s: CellScheme, child: LogicalPlan,
                            x: Expression, y: Expression): (LogicalPlan, Attribute) = {
    val cell = Alias(CellOf(s, Seq(x, y)), "__graft_cell")()
    (Project(child.output :+ cell, child), cell.toAttribute)
  }

  /** Structural point detection — ZERO data passes: the side is a point set
    * when the query passes the SAME expression for its min and max on both
    * axes (`st_intersects(p.x, p.x, p.y, p.y, …)`, the natural call shape
    * for a raw (x, y) point table). Distinct min/max columns that happen to
    * hold equal values are NOT detected (value equality is a data property;
    * `intersectJoin`'s aggregation-based detection covers that path).
    */
  private def isPointSide(c: Seq[Expression]): Boolean =
    c(0).semanticEquals(c(1)) && c(2).semanticEquals(c(3))

  /** Matched spatial predicate, normalized: 8 coordinate args (predicate-a
    * first), the candidate-phase expansion radius (st_dwithin), and the
    * refinement to re-apply after the candidate join (None for intersects —
    * the candidate filter IS the predicate).
    */
  private def matchSpatial(e: Expression): Option[(Expression, Seq[Expression], Double)] =
    e match {
      case st: STIntersects => Some((st, st.children, 0.0))
      case st: STWithin => Some((st, st.children, 0.0))
      case st: STContains => Some((st, st.children, 0.0))
      case st: STDWithin if st.children(8).foldable =>
        val r = st.children(8).eval(null) match {
          case d: Double => d
          case f: Float => f.toDouble
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case n: Number => n.doubleValue()
          case _ => return None
        }
        if (r < 0) None else Some((st, st.children.take(8), r))
      case _ => None
    }

  /** The refinement expression of a matched predicate over its (coerced)
    * 8 coordinate args in predicate order.
    */
  private def refinement(st: Expression, a: Seq[Expression], b: Seq[Expression],
                         r: Double): Option[Expression] = st match {
    case _: STIntersects => None
    case _: STWithin =>
      Some(Seq(GreaterThanOrEqual(a(0), b(0)), LessThanOrEqual(a(1), b(1)),
               GreaterThanOrEqual(a(2), b(2)), LessThanOrEqual(a(3), b(3))).reduce(And))
    case _: STContains =>
      Some(Seq(GreaterThanOrEqual(b(0), a(0)), LessThanOrEqual(b(1), a(1)),
               GreaterThanOrEqual(b(2), a(2)), LessThanOrEqual(b(3), a(3))).reduce(And))
    case _: STDWithin =>
      val dx = Greatest(Seq(Subtract(b(0), a(1)), Subtract(a(0), b(1)), lit(0.0)))
      val dy = Greatest(Seq(Subtract(b(2), a(3)), Subtract(a(2), b(3)), lit(0.0)))
      // sqrt form, bit-identical to SpatialJoins.minDistCol / the oracle SQL
      Some(LessThanOrEqual(Sqrt(Add(Multiply(dx, dx), Multiply(dy, dy))), lit(r)))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint) =>
      val conjuncts = splitConjunctivePredicates(cond)
      conjuncts.flatMap(matchSpatial(_)).headOption match {
        case Some((st, args, r)) =>
          val rest = conjuncts.filterNot(_ eq st)
          val firstLeft = args.take(4).forall(_.references.subsetOf(left.outputSet)) &&
            args.drop(4).forall(_.references.subsetOf(right.outputSet))
          val firstRight = args.take(4).forall(_.references.subsetOf(right.outputSet)) &&
            args.drop(4).forall(_.references.subsetOf(left.outputSet))
          if (!firstLeft && !firstRight) j
          else {
            // post-analysis: no implicit casts are inserted for us — coerce
            // non-double coordinate expressions (FLOAT/DECIMAL columns) here
            def dbl(e: Expression): Expression =
              if (e.dataType == org.apache.spark.sql.types.DoubleType) e
              else Cast(e, org.apache.spark.sql.types.DoubleType)
            val pa = args.take(4).map(dbl) // predicate-a coords
            val pb = args.drop(4).map(dbl)
            // candidate phase: expand predicate-a's MBR by r (st_dwithin);
            // everything downstream (cells, intersect, ownership) uses the
            // expanded coords, mirroring SpatialJoins.distanceJoin
            val ca =
              if (r == 0.0) pa
              else Seq(Subtract(pa(0), lit(r)), Add(pa(1), lit(r)),
                       Subtract(pa(2), lit(r)), Add(pa(3), lit(r)))
            // map candidate coords onto plan sides
            val (la, ra) = if (firstLeft) (ca, pb) else (pb, ca)
            val Seq(ax0, ax1, ay0, ay1) = la
            val Seq(bx0, bx1, by0, by1) = ra
            val s = scheme
            // a structural point side needs no replication (one cell) and —
            // because a pair can then only meet in the point's own cell —
            // no reference-point ownership dedup either. st_dwithin's
            // expanded side is Subtract/Add expressions, so it can never
            // false-positive here; its UNexpanded opposite side still can.
            val lPt = isPointSide(la)
            val rPt = isPointSide(ra)
            val (lp, lcell) =
              if (lPt) withCellPoint(s, left, ax0, ay0)
              else withCells(s, left, la)
            val (rp, rcell) =
              if (rPt) withCellPoint(s, right, bx0, by0)
              else withCells(s, right, ra)
            val intersect = And(And(LessThanOrEqual(ax0, bx1), GreaterThanOrEqual(ax1, bx0)),
                                And(LessThanOrEqual(ay0, by1), GreaterThanOrEqual(ay1, by0)))
            val owns =
              if (lPt || rPt) Nil
              else Seq(EqualTo(
                CellOf(s, Seq(Greatest(Seq(ax0, bx0)), Greatest(Seq(ay0, by0)))), lcell))
            val newCond = (Seq(EqualTo(lcell, rcell), intersect) ++ owns ++
              refinement(st, pa, pb, r) ++ rest).reduce(And)
            Project(j.output, Join(lp, rp, Inner, Some(newCond), hint))
          }
        case None => j
      }
  }
}

/** Installs the graft SQL surface on an existing session (idempotent):
  * the SQL functions + the spatial-join rewrite rule. Also usable through
  * `SparkSessionExtensions` at session build time via [[GraftExtensions]].
  */
object GraftSql {
  /** The ONE table of SQL functions (name, expression class, builder) that
    * both [[install]] and [[GraftExtensions]] register.
    */
  private[plans] val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("st_intersects", classOf[STIntersects], STIntersects(_)),
    ("st_within", classOf[STWithin], STWithin(_)),
    ("st_contains", classOf[STContains], STContains(_)),
    ("st_dwithin", classOf[STDWithin], STDWithin(_)),
    ("simhash64", classOf[SimHash64], exprs => SimHash64(exprs.head)))

  def install(spark: SparkSession): SparkSession = {
    functions.foreach { case (name, _, build) =>
      org.apache.spark.sql.graftbridge.Bridge.registerFunction(spark, name, build)
    }
    val extra = spark.experimental.extraOptimizations
    if (!extra.contains(SpatialJoinRule))
      spark.experimental.extraOptimizations = extra :+ SpatialJoinRule
    spark
  }
}

/** `SparkSession.builder().withExtensions(new GraftExtensions)` — the
  * canonical extension entry point for cluster deployments
  * (`spark.sql.extensions=graft.plans.GraftExtensions`).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => SpatialJoinRule)
    GraftSql.functions.foreach { case (name, cls, build) =>
      e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
  }
}
