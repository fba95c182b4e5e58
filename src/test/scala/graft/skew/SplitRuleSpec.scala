package graft.skew

import graft.cells.CellScheme
import graft.geom.{Extent, Geom}
import org.scalatest.funsuite.AnyFunSuite

/** The hot-cell split rule is a pure function of the sampled rows: every
  * case is asserted directly, with no Spark session.
  */
class SplitRuleSpec extends AnyFunSuite {
  import AdaptiveCells.splitsOf

  private val base = CellScheme(Extent(0, 1001, 0, 1001), 16, 16) // ~62.6-unit cells
  private val hotCell = base.cellOf(100.0, 100.0)

  /** `n` squares of edge `edge` at uniform positions in `[x0, x0 + w)²`. */
  private def rects(seed: Int, n: Int, idBase: Long, x0: Double, w: Double,
                    edge: Double): Array[Geom] = {
    val rnd = new scala.util.Random(seed)
    Array.tabulate(n) { i =>
      val x = x0 + rnd.nextDouble() * w; val y = x0 + rnd.nextDouble() * w
      Geom(idBase + i, x, x + edge, y, y + edge)
    }
  }

  /** Half the rows in a 2-unit hot corner inside one cell, half spread. */
  private def hotCorner(seed: Int, idBase: Long): Array[Geom] =
    rects(seed, 2000, idBase, 99.0, 2.0, 0.05) ++
      rects(seed + 1, 2000, idBase + 2000, 0.0, 1000.0, 0.05)

  test("even density plans zero splits even far over budget") {
    // every cell's |A|·|B| (~78² ≈ 6k) is 6× the budget, but no cell holds
    // more than 1/(SpreadFactor·parallelism) of the total work
    val a = rects(1, 20000, 0L, 0.0, 1000.0, 1.0)
    val b = rects(2, 20000, 100000L, 0.0, 1000.0, 1.0)
    val s = splitsOf(base, a, b, scale = 1.0, parallelism = 4, budgetPairs = 1000)
    assert(s.splits.isEmpty, s"${s.splits}")
  }

  test("a hot corner splits at least 2 ways") {
    val s = splitsOf(base, hotCorner(3, 0L), hotCorner(4, 100000L), 1.0, 4, 10000)
    assert(s.splits.getOrElse(hotCell, 1) >= 2, s"${s.splits}")
    assert(s.splits.keySet == Set(hotCell))
  }

  test("70% tiny + 30% cell-sized residents still split (the median clamp)") {
    // the mean extent is ~0.3 cell widths (cap 1), the median a tiny one
    def side(seed: Int, idBase: Long) = Array.tabulate(1000) { i =>
      val rnd = new scala.util.Random(seed * 100003 + i)
      val cx = 63.0 + rnd.nextDouble() * 55.0
      val cy = 63.0 + rnd.nextDouble() * 55.0
      if (i % 10 < 7) Geom(idBase + i, cx, cx + 0.05, cy, cy + 0.05)
      else Geom(idBase + i, 63.0, 118.0, 63.0, 118.0)
    }
    val s = splitsOf(base, side(7, 0L), side(8, 1000000L), 1.0, 4, 10000)
    assert(s.splits.getOrElse(hotCell, 1) >= 2, s"${s.splits}")
  }

  test("map-spanning giants elsewhere do not veto a split") {
    // 40 giants per side cover most of the map but not the hot corner; they
    // replicate into ~169 cells each, so a median over all replicas would be
    // a giant's extent and veto the split
    def giants(idBase: Long) =
      Array.tabulate(40)(i => Geom(idBase + i, 200.0 + i, 990.0, 200.0 + i, 990.0))
    val a = hotCorner(5, 0L) ++ giants(1000000L)
    val b = hotCorner(6, 100000L) ++ giants(2000000L)
    val s = splitsOf(base, a, b, 1.0, 4, 10000)
    assert(s.splits.getOrElse(hotCell, 1) >= 2, s"${s.splits}")
  }

  test("MaxSplit caps the split factor") {
    // points (zero extent, no clamp) with 10^8 pairs over a budget of 1:
    // (prod/budget)^¼ + 1 = 101 is capped at 32
    def pts(seed: Int, idBase: Long) = rects(seed, 10000, idBase, 70.0, 50.0, 0.0)
    val s = splitsOf(base, pts(9, 0L), pts(10, 100000L), 1.0, 4, budgetPairs = 1)
    assert(s.splits == Map(hotCell -> 32))
  }

  test("a sample at fraction 0.5 plans as the full rows doubled") {
    val a = hotCorner(11, 0L); val b = hotCorner(12, 100000L)
    val sampled = splitsOf(base, a, b, scale = 2.0, parallelism = 4, budgetPairs = 10000)
    val full = splitsOf(base, a ++ a, b ++ b, scale = 1.0, parallelism = 4, budgetPairs = 10000)
    assert(sampled.splits.nonEmpty)
    assert(sampled == full)
  }

  test("per-cell counts are CellScheme.cellsOf's, incl. inverted, NaN and ±∞ rows") {
    // a budget of one pair: a cell splits iff its product exceeds 1/(4·4)
    // of the total, which a brute-force count over cellsOf must reproduce
    val small = CellScheme(Extent(0, 100, 0, 100), 7, 5)
    val rnd = new scala.util.Random(13)
    def side(idBase: Long) = Array.tabulate(400) { i =>
      val x = rnd.nextDouble() * 120 - 10; val y = rnd.nextDouble() * 120 - 10
      val w = if (i % 50 == 0) 90.0 else rnd.nextDouble() * 5
      i % 40 match {
        case 1 => Geom(idBase + i, x + w, x, y + w, y) // inverted
        case 2 => Geom(idBase + i, Double.NaN, x, y, y + w)
        case 3 => Geom(idBase + i, x, Double.PositiveInfinity, Double.NegativeInfinity, y)
        case _ => Geom(idBase + i, 30 + x / 10, 30 + (x + w) / 10, 40 + y / 10, 40 + (y + w) / 10)
      }
    }
    val a = side(0L); val b = side(100000L)
    def count(rows: Array[Geom]) = rows.flatMap(small.cellsOf).groupBy(identity).map {
      case (c, cs) => c -> cs.length.toDouble }
    val (ca, cb) = (count(a), count(b))
    val prods = ca.keySet.map(c => c -> ca(c) * cb.getOrElse(c, 0.0)).toMap
    val hot = prods.filter(_._2 > prods.values.sum / 16).keySet
    val s = splitsOf(small, a, b, 1.0, 4, budgetPairs = 1)
    assert(hot.nonEmpty)
    assert(s.splits.keySet == hot)
  }
}
