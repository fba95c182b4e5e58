package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.graftbridge.Bridge

/** The engine's MBR predicates, each defined ONCE as a Catalyst expression
  * over two boxes `(xmin, xmax, ymin, ymax)` of double expressions. The st_*
  * functions ([[STPredicate]]), the SQL rule's refinement, the DataFrame
  * predicates of `SpatialJoins` and the cell-join candidate filter all build
  * from these, so every route compares in SQL order (NaN above every value
  * and equal to itself) and follows SQL three-valued logic on nulls.
  */
object Mbr {
  /** a meets b, boundary touch included (`cpp/Region.h:59-66`), as a
    * left-nested `And`.
    */
  def intersects(a: Seq[Expression], b: Seq[Expression]): Expression =
    Seq(LessThanOrEqual(a(0), b(1)), GreaterThanOrEqual(a(1), b(0)),
        LessThanOrEqual(a(2), b(3)), GreaterThanOrEqual(a(3), b(2))).reduce(And)

  /** a inside b, inclusive (SpatialSpark's within; contains is within with
    * the sides swapped).
    */
  def within(a: Seq[Expression], b: Seq[Expression]): Expression =
    Seq(GreaterThanOrEqual(a(0), b(0)), LessThanOrEqual(a(1), b(1)),
        GreaterThanOrEqual(a(2), b(2)), LessThanOrEqual(a(3), b(3))).reduce(And)

  /** Minimum Euclidean distance between a and b, 0 when they meet. */
  def minDist(a: Seq[Expression], b: Seq[Expression]): Expression = {
    val dx = Greatest(Seq(Subtract(b(0), a(1)), Subtract(a(0), b(1)), Literal(0.0)))
    val dy = Greatest(Seq(Subtract(b(2), a(3)), Subtract(a(2), b(3)), Literal(0.0)))
    Sqrt(Add(Multiply(dx, dx), Multiply(dy, dy)))
  }

  /** SpatialSpark's `withind`: a grown by `r` meets b, and the two lie
    * within `r` of each other. The second implies the first on non-null
    * coordinates up to rounding; the first is what a cell join finds (its
    * candidates), so a null coordinate, which no cell join can key, never
    * holds.
    */
  def dwithin(a: Seq[Expression], b: Seq[Expression], r: Expression): Expression =
    And(intersects(grown(a, r), b), LessThanOrEqual(minDist(a, b), r))

  /** a grown by `r` on every edge. */
  def grown(a: Seq[Expression], r: Expression): Seq[Expression] =
    Seq(Subtract(a(0), r), Add(a(1), r), Subtract(a(2), r), Add(a(3), r))

  /** a's box with each axis's two ends in order: an inverted row's box spans
    * the cells between its ends. Every box a is within meets a's ordered box
    * in SQL order, so it is the candidate box of within.
    */
  def ordered(a: Seq[Expression]): Seq[Expression] =
    Seq(Least(Seq(a(0), a(1))), Greatest(Seq(a(0), a(1))),
        Least(Seq(a(2), a(3))), Greatest(Seq(a(2), a(3))))

  /** `f` over two boxes of Columns, as a Column. */
  def column(f: (Seq[Expression], Seq[Expression]) => Expression)(a: Seq[Column],
                                                                  b: Seq[Column]): Column =
    Bridge.column(f(a.map(Bridge.expression), b.map(Bridge.expression)))
}
