package graft.join

import graft.geom.Geom
import graft.geom.SqlOrder.le
import org.scalatest.funsuite.AnyFunSuite

/** The occupancy bitmap and its probe, without Spark: rows of S are split
  * into partitions, each partition is rasterized on its own grid, the
  * rasters are merged into F, and every row of the other side that
  * intersects some row of S must pass the probe.
  */
class OccupancySpec extends AnyFunSuite {

  /** One of `partitions` partitions of S, streamed through a [[Rasterizer]]. */
  private def raster(gs: Seq[Geom], partitions: Int): Option[Raster] = {
    val r = new Rasterizer(partitions)
    gs.foreach(g => r.add(g.xmin, g.xmax, g.ymin, g.ymax))
    r.result()
  }

  private def occupancy(parts: Seq[Seq[Geom]]): Option[Occupancy] =
    Occupancy.merge(parts.map(raster(_, parts.size)))

  /** The SQL intersect predicate (NaN above every value). */
  private def meets(a: Geom, b: Geom): Boolean =
    le(a.xmin, b.xmax) && le(b.xmin, a.xmax) && le(a.ymin, b.ymax) && le(b.ymin, a.ymax)

  private def keeps(o: Occupancy, g: Geom) = o.keeps(g.xmin, g.xmax, g.ymin, g.ymax)

  /** Random rows of `n` at `scale` around `offset`: coordinates on a lattice
    * of quarter units (so many sit on dyadic cell edges), some inverted,
    * some points, some repeated.
    */
  private def rows(rnd: scala.util.Random, n: Int, scale: Double, offset: Double): Seq[Geom] = {
    def v = offset + scale * (rnd.nextInt(400) / 4.0 - 50)
    val gs = (0 until n).map { i =>
      val x = v; val y = v
      rnd.nextInt(5) match {
        case 0 => Geom.point(i, x, y)
        case 1 => Geom(i, x + scale, x, y, y + scale * rnd.nextInt(3)) // inverted on x
        case 2 => Geom(i, x, x + scale * rnd.nextInt(4), y + scale / 2, y) // inverted on y
        case _ => Geom(i, x, x + scale * rnd.nextInt(6) / 4.0, y, y + scale * rnd.nextInt(6) / 4.0)
      }
    }
    gs ++ gs.take(n / 10)
  }

  private def split(rnd: scala.util.Random, gs: Seq[Geom], p: Int): Seq[Seq[Geom]] =
    gs.groupBy(_ => rnd.nextInt(p)).values.toSeq

  test("every row that meets a row of S passes the probe") {
    val nan = Double.NaN; val inf = Double.PositiveInfinity
    for (seed <- 1 to 40) {
      val rnd = new scala.util.Random(seed)
      val (scale, offset) = Seq((1.0, 0.0), (1e-3, 0.0), (7.0, -300.0), (0.5, 1e9), (1e6, 0.0))(seed % 5)
      val s = rows(rnd, 20 + rnd.nextInt(150), scale, offset)
      val o = occupancy(split(rnd, s, 1 + rnd.nextInt(5))).get
      // the other side: random rows, S's own rows, and non-finite rows
      val others = rows(rnd, 600, scale, offset) ++ s ++ Seq(
        Geom(1, nan, offset, offset, offset), Geom(2, offset, nan, offset, offset),
        Geom(3, -inf, inf, -inf, inf), Geom(4, offset, inf, offset, offset + scale),
        Geom(5, -inf, offset, offset, offset))
      val missed = others.filter(g => s.exists(meets(g, _)) && !keeps(o, g))
      assert(missed.isEmpty, s"seed $seed: $o dropped ${missed.take(3)}")
    }
  }

  test("the probe drops rows far from every row of S") {
    val s = (0 until 50).map(i => Geom(i, i * 20.0, i * 20.0 + 1, 0, 1))
    val o = occupancy(Seq(s.take(20), s.drop(20))).get
    assert(o.selective && o.fill < 0.1, o.toString)
    assert(!keeps(o, Geom(0, 10.5, 11, 0, 1)))
    assert(!keeps(o, Geom(0, 510, 510, 510, 510)))
    assert(keeps(o, Geom(0, 40.5, 40.5, 0.5, 0.5)))
  }

  test("the merge of two partitions' rasters covers each of them") {
    for (seed <- 1 to 30) {
      val rnd = new scala.util.Random(seed)
      // two partitions with different frames, so their grids differ
      val p1 = rows(rnd, 80, 1.0, 0.0)
      val p2 = rows(rnd, 5 + rnd.nextInt(200), Seq(0.01, 3.0, 40.0)(seed % 3), 30.0)
      val r1 = raster(p1, 2).get
      val r2 = raster(p2, 2).get
      val both = Occupancy.merge(Seq(Some(r1), Some(r2))).get
      for (r <- Seq(r1, r2)) {
        val g = r.grid
        val bits = r.bits
        assert(!bits.isEmpty)
        var c = bits.nextSetBit(0)
        while (c >= 0) {
          // the lower corner of each set cell lies inside that cell
          val x = Math.scalb((g.ox + c % g.nx).toDouble, g.k)
          val y = Math.scalb((g.oy + c / g.nx).toDouble, g.k)
          assert(both.keeps(x, x, y, y), s"seed $seed: cell at ($x, $y) of $g lost in $both")
          c = bits.nextSetBit(c + 1)
        }
      }
    }
  }

  test("many partitions send the driver a bounded raster") {
    val rnd = new scala.util.Random(7)
    val p = 256
    // every partition spans about the whole frame; uncapped, each would get
    // 32 cells per row of S, 3.3M cells, and a run per point
    val parts = Seq.fill(p)(Seq.fill(400)(Geom.point(0, rnd.nextDouble() * 1e4, rnd.nextDouble() * 1e4)))
    val rs = parts.map(raster(_, p).get)
    assert(rs.forall(_.grid.cells <= Occupancy.MaxSentCells / p))
    assert(rs.map(_.words.length.toLong).sum <= Occupancy.MaxSentCells / 64 + p)
    val o = Occupancy.merge(rs.map(Some(_))).get
    assert(parts.flatten.forall(keeps(o, _)))
  }

  test("a partition larger than a chunk is marked as its rows stream in") {
    // the frame widens with every chunk, so the partition's grid moves
    val n = 2 * Occupancy.ChunkRows + 100
    val s = (0 until n).map(i => Geom.point(i, i.toDouble, (i % 3).toDouble))
    val r = raster(s, 1).get
    assert(r.rows == n && r.grid.cells <= Occupancy.MaxCells)
    val o = Occupancy.merge(Seq(Some(r))).get
    assert(s.forall(keeps(o, _)))
    assert(!keeps(o, Geom.point(0, 10.5, 0)) && !keeps(o, Geom.point(0, n - 10.5, 1.5)), o.toString)
  }

  test("a non-finite coordinate turns the filter off") {
    val ok = Seq(Geom(0, 1, 2, 1, 2), Geom(1, 5, 6, 5, 6))
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      val parts = Seq(ok, Seq(Geom(2, 1, 2, bad, 3)))
      assert(raster(parts(1), 2).isEmpty)
      assert(occupancy(parts).isEmpty)
    }
    assert(occupancy(Seq(ok, Nil)).isDefined)
    assert(occupancy(Seq(Nil, Nil)).isEmpty)
  }

  test("dyadic cells nest exactly across levels, negative and tiny values included") {
    val rnd = new scala.util.Random(3)
    val vs = Seq(0.0, -0.0, -1e-300, 1e-300, -Double.MinPositiveValue, 3.75, -3.75) ++
      Seq.fill(500)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(30) - 15))
    for (v <- vs; k <- Seq(-60, -3, 0, 2, 40, 1000); d <- Seq(1, 5, 62, 70)) {
      val fine = Dyadic.abs(v, k)
      val coarse = Dyadic.abs(v, k + d)
      assert(coarse == math.floor(Math.scalb(fine, -d)), s"v=$v k=$k d=$d: $fine -> $coarse")
    }
  }
}
