package graft

import graft.cells.CellScheme
import graft.geom.{Extent, Geom}
import graft.ingest.Workloads
import graft.join.SpatialJoins
import graft.skew.{AdaptiveCells, AdaptiveScheme}
import org.scalatest.funsuite.AnyFunSuite

class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("adaptive scheme: exactly-once ownership on hot-cell boundaries") {
    val base = CellScheme(Extent(0, 100, 0, 100), 4, 4)
    val scheme = AdaptiveScheme(base, Map(0L -> 3, 5L -> 2))
    val rnd = new scala.util.Random(3)
    for (_ <- 1 to 3000) {
      def g() = {
        val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 100
        Geom(rnd.nextLong(), x, x + rnd.nextDouble() * 30, y, y + rnd.nextDouble() * 30)
      }
      val a = g(); val b = g()
      if (a.intersects(b)) {
        val owners = (scheme.cellsOf(a).toSet intersect scheme.cellsOf(b).toSet)
          .count(k => scheme.owns(k, a, b))
        assert(owners == 1, s"$a x $b")
      }
    }
  }

  test("gridJoinAdaptive == oracle on skewed gaussian workload, splits trigger") {
    val a = Workloads.gaussianPolygons(spark, 4000, seed = 1, mapEdge = 1000.0, meanEdge = 8.0)
    val b = Workloads.gaussianPolygons(spark, 4000, seed = 2, mapEdge = 1000.0, meanEdge = 8.0)
    val ext = Extent(0, 1012, 0, 1012)
    val base = CellScheme(ext, 8, 8)
    val planned = AdaptiveCells.plan(a, b, base, budgetPairs = 10000)
    assert(planned.splits.nonEmpty, "expected hot cells on a gaussian mixture")
    val got = pairs(SpatialJoins.gridJoinAdaptive(a, b, base, budgetPairs = 10000))
    val want = pairs(SpatialJoins.broadcastNL(a, b))
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("hot-corner regime: adaptive == grid-sweep == salted, splits trigger") {
    val a = Workloads.hotspotPolygons(spark, 20000, seed = 11, mapEdge = 1000.0,
      hotFrac = 0.5, hotX = 100, hotY = 100, hotW = 2.0, meanEdge = 0.05)
    val b = Workloads.hotspotPolygons(spark, 20000, seed = 12, mapEdge = 1000.0,
      hotFrac = 0.5, hotX = 100, hotY = 100, hotW = 2.0, meanEdge = 0.05)
    val ext = Extent(0, 1001, 0, 1001)
    val base = CellScheme(ext, 10, 10)
    val planned = AdaptiveCells.plan(a, b, base, budgetPairs = 100000)
    assert(planned.splits.nonEmpty, "the hot corner must exceed the pair budget")
    val adaptive = pairs(SpatialJoins.gridJoinAdaptive(a, b, base, budgetPairs = 100000))
    val sweep = pairs(SpatialJoins.gridJoinSweep(a, b, base))
    val salted = pairs(SpatialJoins.gridJoinSalted(a, b, base, salt = 4))
    assert(adaptive == sweep && adaptive == salted && adaptive.nonEmpty)
  }

  test("split plan reads its evidence: point side projected, occupancy filter on") {
    // 20k points (half in the hot corner) x 2k small squares: the hot cell
    // splits, the points are a point side and the squares' occupancy is
    // selective, so the keyed reduce must key the points by projection (the
    // squares' explode is the one generator) and drop the points that touch
    // no occupied cell of the squares
    val a = Workloads.hotspotPolygons(spark, 20000, seed = 61, mapEdge = 1000.0,
      hotFrac = 0.5, hotX = 100, hotY = 100, hotW = 2.0, meanEdge = 0.0)
    val b = Workloads.hotspotPolygons(spark, 2000, seed = 62, mapEdge = 1000.0,
      hotFrac = 0.5, hotX = 100, hotY = 100, hotW = 2.0, meanEdge = 0.05)
    val base = CellScheme(Extent(0, 1001, 0, 1001), 10, 10)
    val planned = AdaptiveCells.plan(a, b, base, budgetPairs = 100000)
    assert(planned.splits.nonEmpty, "the hot corner must exceed the pair budget")
    val joined = SpatialJoins.gridJoinAdaptive(a, b, base, budgetPairs = 100000)
    val gens = joined.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }.size
    assert(gens == 1, s"the point side must not be exploded (got $gens generators)")
    val analyzed = joined.queryExecution.analyzed.toString
    assert(analyzed.contains("occupied("), analyzed)
    val want = pairs(SpatialJoins.broadcastNL(a, b))
    assert(pairs(joined) == want && want.nonEmpty)
  }

  test("concentration gate: evenly dense cells plan ZERO splits even far over budget") {
    // every cell's |A|·|B| (~312² ≈ 97k) is ~100× the budget — the r4 rule
    // split them all (measured 8× slower than the plain sweep on the
    // OSM-PP-class bench); the gate must see that NO cell dominates the
    // total work (max share ~1/64 ≪ 1/(spread·parallelism)) and plan none
    val a = Workloads.uniformPolygons(spark, 20000, seed = 31, mapEdge = 1000.0)
    val b = Workloads.uniformPolygons(spark, 20000, seed = 32, mapEdge = 1000.0)
    val base = CellScheme(Extent(0, 1001, 0, 1001), 8, 8)
    val planned = AdaptiveCells.plan(a, b, base, budgetPairs = 1000)
    assert(planned.splits.isEmpty,
      s"even density must not split (got ${planned.splits.size} splits)")
    // and the join (routed to the plain-grid plan) stays exact
    val got = pairs(SpatialJoins.gridJoinAdaptive(a, b, base, budgetPairs = 1000))
    val want = pairs(SpatialJoins.broadcastNL(a, b))
    assert(got == want && want.nonEmpty)
  }

  test("split clamp is per cell: map-spanning outliers elsewhere don't veto hot-cell splits") {
    // a hot district of SMALL objects must still split when the corpus also
    // contains a few map-sized objects: those replicate into thousands of
    // cells, and any replica-weighted GLOBAL size statistic would be dragged
    // up to their extent, collapsing the split cap to 1 everywhere. The
    // per-cell clamp reads only the hot cell's own median extent.
    import spark.implicits._
    val hotA = Workloads.hotspotPolygons(spark, 4000, seed = 51, mapEdge = 1000.0,
      hotFrac = 0.6, hotX = 100, hotY = 100, hotW = 1.0, meanEdge = 0.05)
    val hotB = Workloads.hotspotPolygons(spark, 4000, seed = 52, mapEdge = 1000.0,
      hotFrac = 0.6, hotX = 100, hotY = 100, hotW = 1.0, meanEdge = 0.05)
    // 8 giants per side, each covering most of the map but NOT the hot corner
    def giants(idBase: Long) = spark.createDataset((0 until 8).map { i =>
      Geom(idBase + i, 200.0 + i, 990.0, 200.0 + i, 990.0)
    })
    val a = hotA.unionByName(giants(1000000L))
    val b = hotB.unionByName(giants(2000000L))
    val base = CellScheme(Extent(0, 1001, 0, 1001), 16, 16)
    val planned = AdaptiveCells.plan(a, b, base, budgetPairs = 100000)
    val hotCell = base.cellOf(100.5, 100.5)
    assert(planned.splits.getOrElse(hotCell, 1) >= 2,
      s"hot cell $hotCell must split despite outliers (splits=${planned.splits})")
    // and the join stays exact with the outliers in play
    val want = pairs(SpatialJoins.broadcastNL(a, b))
    assert(pairs(SpatialJoins.gridJoinAdaptive(a, b, base, budgetPairs = 100000)) == want)
    assert(want.nonEmpty)
  }

  test("split clamp is a per-cell MEDIAN: an oversized minority inside the hot cell doesn't veto") {
    // 70% tiny objects + 30% near-cell-sized ones in the SAME hot cell: the
    // cell's mean extent is ~0.3 cell widths (cap 1 — split vetoed) while
    // the median tracks the tiny majority, so the clamp must still allow a
    // split. The join stays exact either way (splits are performance-only).
    import spark.implicits._
    val base = CellScheme(Extent(0, 1001, 0, 1001), 16, 16) // ~62.6-unit cells
    // hot cell around (100, 100): cell [62.56..125.1)²
    def mk(id: Long, cx: Double, cy: Double, edge: Double) =
      Geom(id, cx, math.min(cx + edge, 125.0), cy, math.min(cy + edge, 125.0))
    def side(idBase: Long, seed: Int) = spark.createDataset((0 until 1000).map { i =>
      val rnd = new scala.util.Random(seed * 100003 + i)
      val cx = 63.0 + rnd.nextDouble() * 55.0
      val cy = 63.0 + rnd.nextDouble() * 55.0
      if (i % 10 < 7) mk(idBase + i, cx, cy, 0.05)     // 70% tiny
      else mk(idBase + i, 63.0, 63.0, 55.0)            // 30% ~cell-sized
    })
    val a = side(0L, 7)
    val b = side(1000000L, 8)
    val planned = AdaptiveCells.plan(a, b, base, budgetPairs = 10000)
    val hotCell = base.cellOf(100.0, 100.0)
    assert(planned.splits.getOrElse(hotCell, 1) >= 2,
      s"median clamp must let the 70%-tiny hot cell split (splits=${planned.splits})")
    val want = pairs(SpatialJoins.broadcastNL(a, b))
    assert(pairs(SpatialJoins.gridJoinAdaptive(a, b, base, budgetPairs = 10000)) == want)
    assert(want.nonEmpty)
  }

  test("large grids (numCells > 2^20) still split the hot corner, join exact") {
    // the split rule keeps one count per base cell on the driver: a grid
    // past 2^20 cells must still find the hot corner and join oracle-equal
    val a = Workloads.hotspotPolygons(spark, 8000, seed = 41, mapEdge = 1000.0,
      hotFrac = 0.5, hotX = 100, hotY = 100, hotW = 1.0, meanEdge = 0.05)
    val b = Workloads.hotspotPolygons(spark, 8000, seed = 42, mapEdge = 1000.0,
      hotFrac = 0.5, hotX = 100, hotY = 100, hotW = 1.0, meanEdge = 0.05)
    val ext = Extent(0, 1001, 0, 1001)
    val small = CellScheme(ext, 1024, 1024)       // = 2^20 cells
    val large = CellScheme(ext, 2048, 1024)       // > 2^20 cells
    val ps = AdaptiveCells.plan(a, b, small, budgetPairs = 100000)
    val pl = AdaptiveCells.plan(a, b, large, budgetPairs = 100000)
    // both grids must find the hot corner (it sits inside one cell on both)
    assert(ps.splits.nonEmpty && pl.splits.nonEmpty)
    val want = pairs(SpatialJoins.broadcastNL(a, b))
    assert(pairs(SpatialJoins.gridJoinAdaptive(a, b, large, budgetPairs = 100000)) == want)
    assert(want.nonEmpty)
  }

  test("zero-splits gate: even-density input routes to the plain-grid plan") {
    val a = Workloads.uniformPolygons(spark, 3000, seed = 21, mapEdge = 1000.0)
    val b = Workloads.uniformPolygons(spark, 3000, seed = 22, mapEdge = 1000.0)
    val base = CellScheme(Extent(0, 1001, 0, 1001), 8, 8)
    // huge budget -> no splits planned -> the planner's route over the base
    // grid: ~47 rows per cell is the declarative cell join, not the keyed
    // reduce's mapPartitions over KeyedGeom rows (the generator's own
    // mapPartitions stays)
    val planned = SpatialJoins.gridJoinAdaptive(a, b, base, budgetPairs = Long.MaxValue)
    val phys = planned.queryExecution.executedPlan.toString
    assert(phys.contains("explode(cells_of") && !phys.contains("KeyedGeom"), phys)
    val want = pairs(SpatialJoins.broadcastNL(a, b))
    assert(pairs(planned) == want && want.nonEmpty)
  }
}
