package graft.cells

import graft.TestSpark
import graft.geom.Geom
import graft.ingest.Workloads
import org.apache.spark.sql.Dataset
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[SchemeSampling.sample]] is the one draw STP, BSP and the adaptive split
  * rule plan from: a Bernoulli sample at `1.2·MaxSample / n` of both
  * inputs, taken whole (never the first partitions' rows), whether `n` is
  * the stats estimate or an exact count.
  */
class SchemeSamplingSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  private val n = 150000L

  private lazy val cached: (Dataset[Geom], Dataset[Geom]) = {
    val a = Workloads.uniformPolygons(spark, n, 123L).cache()
    val b = Workloads.uniformPolygons(spark, n, 456L).cache()
    a.count(); b.count()
    (a, b)
  }

  override def afterAll(): Unit = { cached._1.unpersist(); cached._2.unpersist() }

  /** Each side's sample is a Bernoulli draw at `fraction` over ids
    * `0 until rows`: its size within 5σ of `fraction·rows`, its ids
    * spanning the whole range.
    */
  private def drawnWhole(side: Array[Geom], rows: Long, fraction: Double): Unit = {
    val mean = fraction * rows
    val sigma = math.sqrt(rows * fraction * (1 - fraction))
    assert(math.abs(side.length - mean) <= 5 * sigma + 1e-9,
      s"${side.length} rows drawn, expected $mean ± ${5 * sigma}")
    val ids = side.map(_.id)
    assert(ids.min < rows / 100 && ids.max > rows * 99 / 100,
      s"ids ${ids.min}..${ids.max} of 0..$rows")
  }

  test("estimate, cap not reached: the draw is the whole Bernoulli sample") {
    val (a, b) = cached
    val (sa, sb, fraction) = SchemeSampling.sample(a, b, seed = 7L)
    drawnWhole(sa, n, fraction)
    drawnWhole(sb, n, fraction)
  }

  test("estimate, cap filled: the fraction comes from the true row count") {
    // generator frames: the stats estimate a few rows per side, 500k are there
    val rows = 250000L
    val a = Workloads.uniformPolygons(spark, rows, 11L)
    val b = Workloads.uniformPolygons(spark, rows, 12L)
    assert(graft.join.SpatialJoins.estRowsFromStats(a) < 100)
    val (sa, sb, fraction) = SchemeSampling.sample(a, b, seed = 7L)
    assert(fraction == 1.2 * SchemeSampling.MaxSample / (2 * rows))
    drawnWhole(sa, rows, fraction)
    drawnWhole(sb, rows, fraction)
  }

  test("exact count: the fraction comes from the caller's count") {
    val (a, b) = cached
    val (sa, sb, fraction) = SchemeSampling.sample(a, b, seed = 7L, rows = 2 * n)
    assert(fraction == 1.2 * SchemeSampling.MaxSample / (2 * n))
    drawnWhole(sa, n, fraction)
    drawnWhole(sb, n, fraction)
  }
}
