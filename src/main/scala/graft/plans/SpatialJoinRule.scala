package graft.plans

import graft.functions.{STContains, STDWithin, STIntersects, STPredicate, STWithin, SimHash64}
import graft.join.{Side, SpatialJoins}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.Bridge

/** Catalyst optimizer rule: recognizes
  * `a JOIN b ON st_intersects(ax0, ax1, ay0, ay1, bx0, bx1, by0, by1) [AND …]`
  * (or `st_within` / `st_contains` / `st_dwithin`), which Catalyst would
  * otherwise plan as a broadcast-nested-loop / cartesian θ-join, and hands the
  * predicate's candidate boxes ([[STPredicate.candidates]]) to the planner of
  * `SpatialJoins.intersectJoin` ([[SpatialJoins.planJoin]]). One evidence job
  * over the two children sizes the grid from the data, picks the route
  * (point sides are detected by value) and maps the occupied cells that
  * filter the other side; the plan is the DataFrame API's cell-join body.
  * The predicate's body and the remaining conjuncts go on top. Identical
  * semantics, shuffle-partitioned execution.
  *
  * The evidence job runs when the query is optimized, so `explain()` runs it
  * too. No evidence is cached across queries: stale point flags or a stale
  * occupancy filter would give wrong pairs, not only a slower plan. A join
  * with a streaming child is left to Spark (a batch job cannot read one), as
  * is one with no coordinate on either side (the broadcast route) and one
  * whose candidate box reads both children (an `st_dwithin` radius over b).
  */
object SpatialJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint) if !left.isStreaming && !right.isStreaming =>
      // a join hint rides on its child down to the cell equi-join
      def hinted(p: LogicalPlan, h: Option[HintInfo]) = h.fold(p)(ResolvedHint(p, _))
      val (l, r) = (hinted(left, hint.leftHint), hinted(right, hint.rightHint))
      def side(p: LogicalPlan, box: Seq[Expression]): Option[Side] =
        if (!box.forall(_.references.subsetOf(p.outputSet))) None
        else {
          val Seq(x0, x1, y0, y1) = box.map(Bridge.column)
          Some(Side(Bridge.dataFrame(SparkSession.active, p), x0, x1, y0, y1))
        }
      val conjuncts = splitConjunctivePredicates(cond)
      // the first st_* conjunct whose candidate boxes each read one child
      // (predicate-a's on either); the other conjuncts go on top
      conjuncts.iterator.collect { case st: STPredicate => st }.flatMap { st =>
        val (ca, cb) = st.candidates
        (for (ls <- side(l, ca); rs <- side(r, cb)) yield (st, ls, rs))
          .orElse(for (ls <- side(l, cb); rs <- side(r, ca)) yield (st, ls, rs))
      }.nextOption().flatMap { case (st, ls, rs) =>
        // intersectJoin's planner past its broadcast check (as at
        // broadcastThreshold = 0), with no id columns: every column of both
        // children survives for the body, the other conjuncts and the join's
        // output. A Sweep route (dense cells: many rows, or wide rows that
        // replicate into many cells, at any size) therefore runs on the
        // declarative body, not on the keyed reduce (which carries only ids)
        val ev = SpatialJoins.evidenceWithOccupancy(ls, rs)
        SpatialJoins.planJoin(ls, rs, ev, ids = false).map { df =>
          Project(j.output, Filter((st.body +: conjuncts.filterNot(_ eq st)).reduce(And),
            df.queryExecution.optimizedPlan))
        }
      }.getOrElse(j)
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
