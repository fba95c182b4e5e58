package graft.plans

import graft.functions.{STContains, STDWithin, STIntersects, STWithin, SimHash64}
import graft.join.{Side, SpatialJoins}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DoubleType

/** Catalyst optimizer rule: recognizes
  * `a JOIN b ON st_intersects(ax0, ax1, ay0, ay1, bx0, bx1, by0, by1) [AND …]`
  * (or `st_within` / `st_contains` / `st_dwithin`), which Catalyst would
  * otherwise plan as a broadcast-nested-loop / cartesian θ-join, and hands it
  * to the planner of `SpatialJoins.intersectJoin` ([[SpatialJoins.planJoin]]).
  * One evidence job over the two children sizes the grid from the data,
  * picks the route (point sides are detected by value) and maps the occupied
  * cells that filter the other side; the plan is the DataFrame API's
  * cell-join body. The predicate's refinement and the remaining conjuncts go
  * on top. Identical semantics, shuffle-partitioned execution.
  *
  * The evidence job runs when the query is optimized, so `explain()` runs it
  * too. No evidence is cached across queries: stale point flags or a stale
  * occupancy filter would give wrong pairs, not only a slower plan. A join
  * with a streaming child is left to Spark (a batch job cannot read one), as
  * is one with no coordinate on either side (the broadcast route).
  */
object SpatialJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private def lit(d: Double): Expression = Literal(d)

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
    case j @ Join(left, right, Inner, Some(cond), hint) if !left.isStreaming && !right.isStreaming =>
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
              if (e.dataType == DoubleType) e else Cast(e, DoubleType)
            val pa = args.take(4).map(dbl) // predicate-a coords
            val pb = args.drop(4).map(dbl)
            def side(child: LogicalPlan, c: Seq[Expression]): Side = {
              val Seq(x0, x1, y0, y1) = c.map(Bridge.column)
              Side(Bridge.dataFrame(SparkSession.active, child), x0, x1, y0, y1)
            }
            // a join hint rides on its child down to the cell equi-join
            def hinted(p: LogicalPlan, h: Option[HintInfo]) = h.fold(p)(ResolvedHint(p, _))
            val (l, rt) = (hinted(left, hint.leftHint), hinted(right, hint.rightHint))
            val (aChild, bChild) = if (firstLeft) (l, rt) else (rt, l)
            // candidate phase: predicate-a's MBR grown by r (st_dwithin), as
            // in SpatialJoins.distanceJoin; the refinement reads the originals
            val sa = if (r == 0.0) side(aChild, pa) else side(aChild, pa).expanded(r)
            val sb = side(bChild, pb)
            val (ls, rs) = if (firstLeft) (sa, sb) else (sb, sa)
            // intersectJoin's planner past its broadcast check (as at
            // broadcastThreshold = 0), with no id columns: every column of
            // both children survives for the refinement, the other conjuncts
            // and the join's output. Dense cells therefore take the
            // declarative body, not the keyed reduce (which carries only
            // ids); at 16 rows per cell and at most 8192² cells the sweep
            // route needs more than ~1.7·10¹⁰ rows.
            SpatialJoins.planJoin(ls, rs, ids = None).fold(j: LogicalPlan) { df =>
              val planned = df.queryExecution.optimizedPlan
              Project(j.output, (refinement(st, pa, pb, r) ++ rest).reduceOption(And)
                .fold(planned)(Filter(_, planned)))
            }
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
