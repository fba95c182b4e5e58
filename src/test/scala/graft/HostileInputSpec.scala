package graft

import graft.cells.CellScheme
import graft.geom.{Extent, Geom}
import graft.join.{Side, SpatialJoins}
import graft.plans.GraftSql
import org.apache.spark.sql.{DataFrame, Dataset}
import org.scalatest.funsuite.AnyFunSuite

/** Hostile inputs through every join route, each checked against the
  * broadcast nested loop (`broadcastNL`, the oracle) as a multiset of
  * pairs: NaN and ±∞ coordinates, inverted rectangles, an empty side, every
  * row in one cell, points exactly on cell edges, duplicate rows, rows
  * straddling the extent, sparse squares over dense points and one far
  * outlier. `intersectJoin` runs with `broadcastThreshold = 0`, so it
  * always takes its evidence → route path, and with it the occupancy
  * filter; the `sql` route is an `st_intersects` join through the same
  * planner.
  */
class HostileInputSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import SpatialJoins._

  private val ext = Extent(0, 100, 0, 100)

  private def ds(gs: Seq[Geom]): Dataset[Geom] = {
    import spark.implicits._
    gs.toDS().repartition(3)
  }

  private def rects(seed: Int, n: Int, off: Long, maxEdge: Double): Seq[Geom] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val x = rnd.nextDouble() * 95; val y = rnd.nextDouble() * 95
      Geom(off + i, x, x + rnd.nextDouble() * maxEdge, y, y + rnd.nextDouble() * maxEdge)
    }
  }

  /** A join's pairs as a multiset (sorted), so a pair emitted twice shows. */
  private def pairs(df: DataFrame): Vector[(Long, Long)] =
    df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toVector.sorted

  private def diff(got: Vector[(Long, Long)], want: Vector[(Long, Long)]): String =
    s"${got.diff(want).take(5)} extra, ${want.diff(got).take(5)} missing of ${want.size}"

  /** Every route's pair set equals the oracle's; returns the oracle size. */
  private def allRoutesMatch(a: Dataset[Geom], b: Dataset[Geom]): Int = {
    val want = pairs(broadcastNL(a, b))
    val routes: Seq[(String, () => DataFrame)] = Seq(
      "intersectJoin" -> (() => intersectJoin(a, b, broadcastThreshold = 0L)),
      "gridJoinSweep" -> (() => gridJoinSweep(a, b, CellScheme(ext, 10, 10))),
      "stripesJoin" -> (() => stripesJoin(a, b, ext, 10)),
      "sortTileJoin" -> (() => sortTileJoin(a, b, ext, 3, 3)),
      "binarySplitJoin" -> (() => binarySplitJoin(a, b, ext, 3)),
      // a 16-pair budget splits the hot cells of these inputs into sub-cells
      "gridJoinAdaptive" -> (() => gridJoinAdaptive(a, b, CellScheme(ext, 4, 4),
        budgetPairs = 16)),
      // SQL plans through intersectJoin's planner, over the whole rows
      "sql" -> (() => {
        GraftSql.install(spark)
        a.createOrReplaceTempView("hostile_a")
        b.createOrReplaceTempView("hostile_b")
        val df = spark.sql(
          """SELECT a.id AS a_id, b.id AS b_id FROM hostile_a a JOIN hostile_b b
            | ON st_intersects(a.xmin, a.xmax, a.ymin, a.ymax,
            |                  b.xmin, b.xmax, b.ymin, b.ymax)""".stripMargin)
        // only two empty sides leave the join to Spark's nested loop
        assert(!df.queryExecution.executedPlan.toString.contains("NestedLoopJoin") ||
          a.isEmpty && b.isEmpty, "sql: the rewrite did not fire")
        df
      }))
    routes.foreach { case (name, run) =>
      val got = pairs(run())
      assert(got == want, s"$name: ${diff(got, want)}")
    }
    want.size
  }

  test("NaN coordinates in any position match the oracle on every route") {
    val nan = Double.NaN
    val bad = Seq(Geom(900, nan, 50, 40, 60), Geom(901, 40, nan, 40, 60),
                  Geom(902, 40, 60, nan, 60), Geom(903, 40, 60, 40, nan))
    val a = ds(rects(1, 300, 0, 8.0) ++ bad)
    val b = ds(rects(2, 300, 1000, 8.0))
    assert(graft.skew.AdaptiveCells.plan(a, b, CellScheme(ext, 4, 4), budgetPairs = 16)
      .splits.nonEmpty)
    assert(allRoutesMatch(a, b) > 0)
    assert(allRoutesMatch(b, a) > 0)
  }

  test("±∞ coordinates match the oracle on every route") {
    val inf = Double.PositiveInfinity
    val bad = Seq(Geom(900, -inf, 10, 40, 45), Geom(901, 40, inf, 40, 45),
                  Geom(902, 40, 45, -inf, 10), Geom(903, 40, 45, 40, inf),
                  Geom(904, -inf, inf, -inf, inf))
    val a = ds(rects(3, 300, 0, 8.0) ++ bad)
    val b = ds(rects(4, 300, 1000, 8.0))
    assert(allRoutesMatch(a, b) > 0)
    assert(allRoutesMatch(b, a) > 0)
  }

  test("inverted rectangles match the oracle on every route") {
    // an inverted row intersects exactly the rows whose interval spans its
    // inverted one: (xmin 50, xmax 45) meets b iff b.xmin <= 45 and b.xmax >= 50
    val bad = Seq(Geom(900, 50, 45, 40, 60), Geom(901, 40, 60, 50, 45),
                  Geom(902, 50, 45, 50, 45), Geom(903, 30, 29.5, 30, 30))
    val a = ds(rects(5, 300, 0, 8.0) ++ bad)
    val b = ds(rects(6, 300, 1000, 8.0) :+ Geom(1900, 0, 100, 0, 100))
    assert(allRoutesMatch(a, b) > 0)
    assert(allRoutesMatch(b, a) > 0)
  }

  test("an empty side matches the oracle (no pairs) on every route") {
    val full = ds(rects(7, 200, 0, 8.0))
    val empty = ds(Seq.empty)
    assert(allRoutesMatch(full, empty) == 0)
    assert(allRoutesMatch(empty, full) == 0)
    assert(allRoutesMatch(empty, empty) == 0)
  }

  test("every row in one cell matches the oracle on every route") {
    // 600 rows a side in one grid cell: the sweep route's cell takes the
    // STR-indexed loop (≥ IndexMinRows on both sides)
    val rnd = new scala.util.Random(8)
    def tiny(off: Long) = (0 until 600).map { i =>
      val x = 51 + rnd.nextDouble() * 3; val y = 51 + rnd.nextDouble() * 3
      Geom(off + i, x, x + rnd.nextDouble() * 2, y, y + rnd.nextDouble() * 2)
    }
    assert(allRoutesMatch(ds(tiny(0)), ds(tiny(1000))) > 0)
  }

  test("the STR-indexed cell loop matches the oracle on NaN, ±∞ and inverted rows") {
    val nan = Double.NaN; val inf = Double.PositiveInfinity
    val bad = Seq(Geom(900, nan, 50, 40, 60), Geom(901, 40, nan, 40, 60),
                  Geom(902, 40, 60, nan, 60), Geom(903, 40, 60, 40, nan),
                  Geom(904, -inf, 10, 40, 45), Geom(905, 40, 45, 40, inf),
                  Geom(906, 50, 45, 40, 60), Geom(907, 40, 60, 50, 45))
    val as = rects(9, 600, 0, 10.0) ++ bad
    val bs = rects(10, 600, 1000, 10.0) ++ bad.map(g => g.copy(id = g.id + 1000))
    assert(math.min(as.size, bs.size) >= IndexMinRows)
    val got = joinCellOwned(as.toArray, bs.toArray, (_, _) => true)
      .map(p => (p.a_id, p.b_id)).toVector.sorted
    val want = pairs(broadcastNL(ds(as), ds(bs)))
    assert(got == want, diff(got, want))
  }

  test("duplicate rows match the oracle on every route") {
    // the same rows twice (same ids: every pair twice), and copies of them
    // under new ids
    val base = rects(11, 200, 0, 8.0)
    val a = ds(base ++ base ++ base.take(50).map(g => g.copy(id = g.id + 500)))
    val b = ds(rects(12, 200, 1000, 8.0) ++ base.take(30).map(g => g.copy(id = g.id + 2000)))
    assert(allRoutesMatch(a, b) > 0)
    assert(allRoutesMatch(b, a) > 0)
  }

  test("rows straddling the extent match the oracle on every route") {
    // the fixed-extent routes clamp these into their edge cells; the
    // others see a wider extent than the rows inside
    val straddle = Seq(Geom(900, -5, 5, 40, 45), Geom(901, 95, 105, 40, 45),
      Geom(902, 40, 45, -5, 5), Geom(903, 40, 45, 95, 130), Geom(904, -20, 120, -20, 120),
      Geom(905, 110, 115, 110, 115), Geom(906, -30, -25, 50, 52), Geom(907, 99, 100, 99, 100))
    val a = ds(rects(13, 300, 0, 8.0) ++ straddle)
    val b = ds(rects(14, 300, 1000, 8.0) ++ straddle.map(g => g.copy(id = g.id + 1000)))
    assert(allRoutesMatch(a, b) > 0)
    assert(allRoutesMatch(b, a) > 0)
  }

  test("sparse squares over dense points match the oracle; the filter drops ≥ 90% of points") {
    val rnd = new scala.util.Random(15)
    val pts = ds((0 until 20000).map(i => Geom.point(i, rnd.nextDouble() * 100, rnd.nextDouble() * 100)))
    val squares = ds(rects(16, 30, 100000, 0.0).map(g => g.copy(xmax = g.xmin + 1, ymax = g.ymin + 1)))
    assert(allRoutesMatch(pts, squares) > 0)
    assert(allRoutesMatch(squares, pts) > 0)
    for ((a, b) <- Seq((pts, squares), (squares, pts))) {
      val ev = evidenceWithOccupancy(Side.of(a, "a"), Side.of(b, "b"))
      val occ = ev.occupiedA.orElse(ev.occupiedB)
      assert(occ.exists(_.selective), s"squares' occupancy: $occ")
      val kept = dropUnoccupied(Side.of(pts, "a"), occ, points = true).df.count()
      assert(kept <= 2000, s"the filter kept $kept of 20000 points ($occ)")
      // the stripes route plans through the same planner, filter included.
      // The optimizer evaluates a filter over local rows into the relation,
      // so the filter shows in the analyzed plan, not the executed one.
      val stripes = stripesJoin(a, b, ext, 10).queryExecution.analyzed.toString
      assert(stripes.contains("occupied("), stripes)
    }
  }

  test("one far outlier in the smaller side matches the oracle on every route") {
    val a = ds(rects(17, 1000, 0, 8.0))
    val b = ds(rects(18, 100, 1000, 8.0) :+ Geom(1900, 1e12, 1e12 + 1, 1e12, 1e12 + 1))
    val ev = evidenceWithOccupancy(Side.of(a, "a"), Side.of(b, "b"))
    assert(ev.occupiedB.isDefined, "b is the side estimated smaller")
    assert(allRoutesMatch(a, b) > 0)
    assert(allRoutesMatch(b, a) > 0)
  }

  test("points and rectangles exactly on cell edges match the oracle on every route") {
    val pts = for (i <- 0 to 10; j <- 0 to 10) yield Geom.point(i * 11 + j, i * 10.0, j * 10.0)
    val boxes = for (i <- 0 until 5; j <- 0 until 5)
      yield Geom(1000 + i * 5 + j, i * 20.0, i * 20.0 + 10, j * 20.0, j * 20.0 + 10)
    assert(allRoutesMatch(ds(pts), ds(boxes)) > 0)
    assert(allRoutesMatch(ds(boxes), ds(pts)) > 0)
    assert(allRoutesMatch(ds(boxes), ds(boxes)) > 0)
  }
}
