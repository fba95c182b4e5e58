package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, ImplicitCastInputTypes,
  Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, EmptyBlock, ExprCode}
import org.apache.spark.sql.types.DoubleType

/** The SQL functions `st_intersects`, `st_within`, `st_contains` (predicate-a's
  * `xmin, xmax, ymin, ymax`, then predicate-b's) and `st_dwithin` (the same
  * and a radius): the reference's MBR predicates (`cpp/Region.h:59-66`,
  * `SpatialJoinApp.scala:128-136`). The arguments are cast to double, and
  * the value is the predicate's [[Mbr]] body, interpreted or in generated
  * code. [[graft.plans.SpatialJoinRule]] rewrites an inner join on one into
  * the cell-partitioned join of its candidate boxes, with the body on top.
  */
sealed abstract class STPredicate extends Predicate with ImplicitCastInputTypes {
  protected def a: Seq[Expression] = children.take(4)
  protected def b: Seq[Expression] = children.slice(4, 8)

  /** The predicate over the arguments. */
  def body: Expression

  /** Predicate-a's and predicate-b's candidate boxes: every pair the
    * predicate holds for meets ([[Mbr.intersects]]) in them.
    */
  def candidates: (Seq[Expression], Seq[Expression])

  override def inputTypes: Seq[DoubleType] = children.map(_ => DoubleType)
  override def nullable: Boolean = body.nullable
  override def eval(input: InternalRow): Any = body.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the body may read an argument twice, while whole-stage code declares
    // an input where it is first read: declare the inputs the arguments read
    // that are not yet declared, once, before the body
    val pending = Option(ctx.currentVars).toSeq.flatMap { vars =>
      children.flatMap(_.collect { case r: BoundReference => vars(r.ordinal) })
        .filter(v => v != null && v.code.nonEmpty).distinct
    }
    val declared = pending.map(_.code).foldLeft(EmptyBlock: Block)(_ + _)
    pending.foreach(_.code = EmptyBlock)
    val b = body.genCode(ctx)
    b.copy(code = declared + b.code)
  }
}

/** `st_intersects(a..., b...)`: the MBRs meet, boundary touch included. */
case class STIntersects(children: Seq[Expression]) extends STPredicate {
  require(children.length == 8, "st_intersects takes 8 coordinate arguments")
  @transient lazy val body: Expression = Mbr.intersects(a, b)
  def candidates: (Seq[Expression], Seq[Expression]) = (a, b)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): STIntersects =
    copy(children = c)
}

/** `st_within(a..., b...)`: a's MBR inside b's (inclusive). */
case class STWithin(children: Seq[Expression]) extends STPredicate {
  require(children.length == 8, "st_within takes 8 coordinate arguments")
  @transient lazy val body: Expression = Mbr.within(a, b)
  def candidates: (Seq[Expression], Seq[Expression]) = (Mbr.ordered(a), b)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): STWithin =
    copy(children = c)
}

/** `st_contains(a..., b...)`: b's MBR inside a's (inclusive). */
case class STContains(children: Seq[Expression]) extends STPredicate {
  require(children.length == 8, "st_contains takes 8 coordinate arguments")
  @transient lazy val body: Expression = Mbr.within(b, a)
  def candidates: (Seq[Expression], Seq[Expression]) = (a, Mbr.ordered(b))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): STContains =
    copy(children = c)
}

/** `st_dwithin(a..., b..., r)`: the MBRs lie within `r` of each other
  * ([[Mbr.dwithin]], the reference's `withind`).
  */
case class STDWithin(children: Seq[Expression]) extends STPredicate {
  require(children.length == 9, "st_dwithin takes 8 coordinates and a radius")
  @transient lazy val body: Expression = Mbr.dwithin(a, b, children(8))
  def candidates: (Seq[Expression], Seq[Expression]) = (Mbr.grown(a, children(8)), b)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): STDWithin =
    copy(children = c)
}
