package graft.join

import graft.cells.CellScheme
import graft.geom.{Extent, Geom}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.funsuite.AnyFunSuite

/** Route choice is a pure function of the evidence and the scheme: every
  * branch is asserted directly, with no Spark session and no plan strings.
  */
class RouteSpec extends AnyFunSuite {
  import SpatialJoins.{chooseStripeAxis, route}

  private val ext = Extent(0, 100, 0, 100)
  private val s = CellScheme(ext, 10, 10) // 100 cells

  /** Evidence with mean edges of 0, so a row is one replica. */
  private def ev(countA: Long, countB: Long, aEdge: Double = 2.0,
                 bEdge: Double = 2.0): JoinEvidence =
    JoinEvidence(Some(ext), countA, countB, aEdge, bEdge, 0.0, 0.0, 0.0, 0.0)

  /** A side's max edge, through the aggregation's own edge expression. */
  private def maxEdge(rows: Seq[Geom]): Double = rows.map { g =>
    JoinEvidence.edge(Literal(g.xmin), Literal(g.xmax), Literal(g.ymin), Literal(g.ymax))
      .eval().asInstanceOf[Double]
  }.max

  test("exactly 256 rows per cell stays declarative, 257 goes to the sweep") {
    assert(route(ev(25600, 10), s) == Route.Grid)
    assert(route(ev(10, 25600), s) == Route.Grid)
    assert(route(ev(25700, 10), s) == Route.Sweep(aPoints = false, bPoints = false))
    assert(route(ev(10, 25700), s) == Route.Sweep(aPoints = false, bPoints = false))
  }

  test("rows count in every cell they are expected to overlap") {
    // mean edges of 2 on 10-wide cells: 1.2 replicas per axis, 1.44 per row
    def wide(countA: Long) = ev(countA, 10).copy(aMeanW = 2.0, aMeanH = 2.0)
    assert(route(wide(17700), s) == Route.Grid)   // 254.9 replicas per cell
    assert(route(wide(17800), s) == Route.Sweep(aPoints = false, bPoints = false)) // 256.3
    // NaN or negative (inverted) mean edges count a row once
    assert(route(ev(25600, 10).copy(aMeanW = Double.NaN, aMeanH = -3.0), s) == Route.Grid)
  }

  test("the larger side's rows replicate by its own mean edges, not the other side's") {
    // points (a, the larger side) under wide boxes (b): a point is one replica
    val pts = ev(25600, 1000, aEdge = 0.0).copy(bMeanW = 50.0, bMeanH = 50.0)
    assert(route(pts, s) == Route.PointsA)
    assert(route(pts.copy(countA = 25700), s) == Route.Sweep(aPoints = true, bPoints = false))
    // the same boxes on the larger side do replicate: 25,600 rows × 36 replicas
    assert(route(pts.copy(countA = 1000, countB = 25600), s) ==
      Route.Sweep(aPoints = true, bPoints = false))
  }

  test("a point side on a or on b takes the point plan") {
    assert(route(ev(1000, 1000, aEdge = 0.0), s) == Route.PointsA)
    assert(route(ev(1000, 1000, bEdge = 0.0), s) == Route.PointsB)
    assert(route(ev(1000, 1000, aEdge = 0.0, bEdge = 0.0), s) == Route.PointsA)
  }

  test("dense cells take the sweep and carry the point flags to its map side") {
    assert(route(ev(25700, 10, aEdge = 0.0), s) == Route.Sweep(aPoints = true, bPoints = false))
    assert(route(ev(10, 25700, bEdge = 0.0), s) == Route.Sweep(aPoints = false, bPoints = true))
  }

  test("an inverted row keeps its side off the point plan") {
    val points = (0 until 5).map(i => Geom.point(i, i * 10.0, i * 5.0))
    assert(maxEdge(points) == 0.0)
    // xmax < xmin with zero height: a signed edge would be max(-1, 0) = 0
    val inverted = Geom(9, 5, 4, 3, 3)
    assert(maxEdge(Seq(inverted)) == 1.0)
    assert(route(ev(1000, 1000, aEdge = maxEdge(points :+ inverted)), s) == Route.Grid)
    assert(route(ev(1000, 1000, bEdge = maxEdge(inverted +: points)), s) == Route.Grid)
  }

  test("an empty side (NaN max edge) is not a point side") {
    assert(route(ev(0, 1000, aEdge = Double.NaN), s) == Route.Grid)
    assert(route(ev(1000, 0, aEdge = 0.0, bEdge = Double.NaN), s) == Route.PointsA)
  }

  test("no extent (both inputs empty) falls back to broadcastNL") {
    val empty = JoinEvidence(None, 0, 0, Double.NaN, Double.NaN, 0.0, 0.0, 0.0, 0.0)
    assert(route(empty, s) == Route.Broadcast)
  }

  test("stripe axis: the smaller expected replication wins, ties go to x") {
    def withMeans(w: Double, h: Double) =
      ev(10, 10).copy(aMeanW = w, aMeanH = h, bMeanW = w, bMeanH = h)
    assert(chooseStripeAxis(withMeans(1.0, 5.0), ext, 10) == 'x')
    assert(chooseStripeAxis(withMeans(5.0, 1.0), ext, 10) == 'y')
    assert(chooseStripeAxis(withMeans(2.0, 2.0), ext, 10) == 'x')
    // a wide extent makes x-stripes wider, so equal mean edges favour x
    assert(chooseStripeAxis(withMeans(3.0, 2.0), Extent(0, 400, 0, 100), 10) == 'x')
  }
}
