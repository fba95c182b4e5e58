package graft

import graft.cells.CellScheme
import graft.geom.{Extent, Geom}
import graft.ingest.{MT19937, Workloads}
import graft.join.SpatialJoins
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
}

class GeomSpec extends AnyFunSuite {
  test("inclusive intersects: boundary touch counts (Region.h:59-66)") {
    val a = Geom(0, 0, 1, 0, 1)
    assert(a.intersects(Geom(1, 1, 2, 1, 2)))      // corner touch
    assert(a.intersects(Geom(2, 1, 2, 0, 1)))      // edge touch
    assert(!a.intersects(Geom(3, 1.01, 2, 0, 1)))  // gap
    assert(a.intersects(Geom(4, 0.25, 0.75, 0.25, 0.75))) // containment
  }

  test("cell scheme: replication covers owner cell; ownership is unique") {
    val s = CellScheme(Extent(0, 100, 0, 100), 7, 5)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 2000) {
      def g() = {
        val x = rnd.nextDouble() * 110 - 5; val y = rnd.nextDouble() * 110 - 5
        Geom(rnd.nextLong(), x, x + rnd.nextDouble() * 20, y, y + rnd.nextDouble() * 20)
      }
      val a = g(); val b = g()
      if (a.intersects(b)) {
        val owners = (s.cellsOf(a).toSet intersect s.cellsOf(b).toSet)
          .count(c => s.owns(c, a, b))
        assert(owners == 1, s"expected exactly one owner cell for $a × $b")
      }
    }
  }
}

class MT19937Spec extends AnyFunSuite {
  test("matches numpy RandomState(123).random_sample exactly") {
    val g = new MT19937(123)
    val got = Array.fill(5)(g.nextDouble())
    val want = Array(0.6964691855978616, 0.28613933495037946, 0.2268514535642031,
                     0.5513147690828912, 0.7194689697855631)
    (got zip want).foreach { case (a, b) => assert(a == b, s"$a != $b") }
    val g2 = new MT19937(124)
    assert(g2.nextDouble() == 0.10606490595473272)
  }

  test("%.2f round-trip uses HALF_EVEN like CPython") {
    assert(Workloads.roundTrip2f(1060.625) == "1060.62".toFloat.toDouble)
    assert(Workloads.roundTrip2f(1060.375) == "1060.38".toFloat.toDouble)
  }

  test("uniform generator reproduces reference values (data_gen.py, seed 123)") {
    val spark = TestSpark.spark
    val rows = Workloads.uniformPolygons(spark, 3, 123).collect().sortBy(_.id)
    assert(rows(0).xmin == 6964.68994140625 && rows(0).ymin == 1060.6500244140625)
    assert(rows(1).xmin == 2861.389892578125 && rows(1).ymax == 7455.7099609375)
    val pts = Workloads.uniformPoints(spark, 2, 789).collect().sortBy(_.id)
    assert(pts(0).xmin == 3233.35009765625 && pts(0).ymin == 5397.85009765625)
    assert(pts(1).xmin == 2302.469970703125)
  }
}

class SpatialJoinSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import SpatialJoins._

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def randomSet(seed: Int, n: Int, edge: Double, mapLen: Double = 100.0) = {
    import TestSpark.spark.implicits._
    val rnd = new scala.util.Random(seed)
    val data = (0 until n).map { i =>
      val x = math.floor(rnd.nextDouble() * mapLen * 100) / 100
      val y = math.floor(rnd.nextDouble() * mapLen * 100) / 100
      val w = math.floor(rnd.nextDouble() * edge * 100) / 100
      val h = math.floor(rnd.nextDouble() * edge * 100) / 100
      Geom(i.toLong, x, x + w, y, y + h)
    }
    spark.createDataset(data)
  }

  test("gridJoin == broadcastNL oracle == sweep == stripes (pair sets)") {
    val a = randomSet(1, 800, 6.0)
    val b = randomSet(2, 600, 6.0)
    val ext = Extent(0, 106, 0, 106)
    val oracle = pairs(broadcastNL(a, b))
    assert(oracle.nonEmpty)
    for (n <- Seq(1, 3, 8, 17)) {
      val s = CellScheme(ext, n, n)
      assert(pairs(gridJoin(a, b, s)) == oracle, s"gridJoin grid=$n")
      assert(pairs(gridJoinSweep(a, b, s)) == oracle, s"sweep grid=$n")
    }
    assert(pairs(stripesJoin(a, b, ext, 13)) == oracle)
  }

  test("gridJoinSweep: empty / one-sided / disjoint inputs yield empty") {
    val ext = Extent(0, 106, 0, 106)
    val s = CellScheme(ext, 5, 5)
    val none = randomSet(7, 100, 2.0).filter(_.id < -1)
    val some = randomSet(8, 100, 2.0)
    assert(gridJoinSweep(none, none, s).count() == 0L)
    assert(gridJoinSweep(some, none, s).count() == 0L)
    assert(gridJoinSweep(none, some, s).count() == 0L)
    // spatially disjoint halves: cells hold only one side each
    import TestSpark.spark.implicits._
    val left = randomSet(9, 200, 1.0, mapLen = 40.0)
    val right = randomSet(10, 200, 1.0, mapLen = 40.0)
      .map(g => g.copy(xmin = g.xmin + 60, xmax = g.xmax + 60))(
        org.apache.spark.sql.Encoders.product[Geom])
    assert(gridJoinSweep(left, right, s).count() == 0L)
  }

  test("exactly-once: no duplicate pairs at any grid size") {
    val a = randomSet(3, 500, 10.0)
    val b = randomSet(4, 500, 10.0)
    val s = CellScheme(Extent(0, 110, 0, 110), 9, 9)
    val df = gridJoin(a, b, s)
    assert(df.count() == df.distinct().count())
    val dfS = gridJoinSweep(a, b, s)
    assert(dfS.count() == dfS.distinct().count())
  }

  test("boundary-touching rectangles join exactly once across cell borders") {
    import TestSpark.spark.implicits._
    // rectangles that share edges exactly on cell boundaries of a 10x10 grid over [0,100]
    val a = spark.createDataset(Seq(
      Geom(1, 0, 10, 0, 10), Geom(2, 10, 20, 10, 20), Geom(3, 30, 50, 30, 50)))
    val b = spark.createDataset(Seq(
      Geom(1, 10, 15, 10, 15), Geom(2, 20, 30, 20, 30), Geom(3, 50, 60, 50, 60)))
    val s = CellScheme(Extent(0, 100, 0, 100), 10, 10)
    val oracle = pairs(broadcastNL(a, b))
    assert(pairs(gridJoin(a, b, s)) == oracle)
    assert(pairs(gridJoinSweep(a, b, s)) == oracle)
    assert(gridJoin(a, b, s).count() == oracle.size)
  }

  test("gridJoinPIP == gridJoin == broadcastNL on points × polygons (incl. cell-boundary points)") {
    import TestSpark.spark.implicits._
    val pts = randomSet(11, 500, 0.0)                       // edge 0 → points
    val boundary = spark.createDataset(Seq(                 // exactly on 10×10 cell borders
      Geom.point(9001, 10.0, 10.0), Geom.point(9002, 0.0, 50.0),
      Geom.point(9003, 100.0, 100.0), Geom.point(9004, 50.0, 0.0)))
    val a = pts.unionByName(boundary).as[Geom]
    val b = randomSet(12, 400, 8.0)
    val oracle = pairs(broadcastNL(a, b))
    assert(oracle.nonEmpty)
    for (n <- Seq(1, 4, 10, 23)) {
      val s = CellScheme(Extent(0, 108, 0, 108), n, n)
      assert(pairs(gridJoinPIP(a, b, s)) == oracle, s"gridJoinPIP grid=$n")
    }
    // documented non-point semantics: an extended a-side row is treated as
    // its (xmin, ymin) corner point
    val rects = randomSet(13, 200, 5.0)
    val corners = rects.map(g => Geom.point(g.id, g.xmin, g.ymin))(
      org.apache.spark.sql.Encoders.product[Geom])
    val s = CellScheme(Extent(0, 106, 0, 106), 7, 7)
    assert(pairs(gridJoinPIP(rects, b, s)) == pairs(gridJoin(corners, b, s)))
  }

  test("intersectJoin broadcast threshold past the Int range confirms, not overflows") {
    // limit(t + 1) at t = 3e9 wrapped to a negative limit and threw
    val a = randomSet(26, 300, 8.0)
    val b = randomSet(27, 200, 8.0)
    val want = pairs(broadcastNL(a, b))
    assert(want.nonEmpty)
    for (t <- Seq(10000L, 3000000000L, 5000000000L, Long.MaxValue))
      assert(pairs(intersectJoin(a, b, broadcastThreshold = t)) == want, s"threshold $t")
  }

  test("intersectJoin auto-routes a point side to the PIP plan (1 generator, not 2)") {
    val pts = randomSet(14, 30000, 0.0)
    val polys = randomSet(15, 30000, 4.0)
    def generates(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }.size
    val viaA = intersectJoin(pts, polys, broadcastThreshold = 100)
    assert(generates(viaA) == 1, "point a-side must skip the a-side explode")
    val viaB = intersectJoin(polys, pts, broadcastThreshold = 100)
    assert(generates(viaB) == 1, "point b-side must route through the swapped PIP plan")
    val oracle = pairs(broadcastNL(pts, polys))
    assert(pairs(viaA) == oracle)
    assert(pairs(viaB) == oracle.map { case (x, y) => (y, x) })
    // no point side → generic replicate+own plan (both sides exploded)
    assert(generates(intersectJoin(polys, randomSet(16, 30000, 4.0),
      broadcastThreshold = 100)) == 2)
  }

  test("sweep point specialization: projection-only point side, identical pairs (grid + stripes)") {
    // the planner's Sweep route reads the point flag off its evidence: 2,000
    // points on 3 or 7 stripes make dense cells (over 256 rows per stripe)
    val pts = randomSet(24, 2000, 0.0)
    val polys = randomSet(25, 1500, 5.0)
    val ext = Extent(0, 106, 0, 106)
    val oracle = pairs(broadcastNL(pts, polys))
    assert(oracle.nonEmpty)
    def generates(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }.size
    for (n <- Seq(3, 7)) {
      val viaA = stripesJoin(pts, polys, ext, n)
      val viaB = stripesJoin(polys, pts, ext, n)
      for ((df, order) <- Seq(viaA -> "points on a", viaB -> "points on b")) {
        val phys = df.queryExecution.executedPlan.toString
        assert(phys.contains("KeyedGeom"), s"$order, $n stripes: the keyed reduce\n$phys")
        assert(generates(df) == 1,
          s"$order, $n stripes: point side must be a projection (only the poly side's generator remains)")
      }
      assert(pairs(viaA) == oracle, s"$n stripes, points on a")
      assert(pairs(viaB) == oracle.map(_.swap), s"$n stripes, points on b")
    }
    // the forced keyed reduce plans nothing: each point explodes to its one key
    for (s <- Seq(CellScheme(ext, 9, 9), CellScheme.stripesY(ext, 11),
                  CellScheme.stripesX(ext, 7))) {
      val forced = gridJoinSweep(pts, polys, s)
      assert(generates(forced) == 2, s"gridJoinSweep explodes both sides, scheme $s")
      assert(pairs(forced) == oracle, s"gridJoinSweep pair set, scheme $s")
    }
  }

  test("distanceJoin matches brute force") {
    import TestSpark.spark.implicits._
    val a = randomSet(5, 300, 2.0)
    val b = randomSet(6, 300, 2.0)
    val s = CellScheme(Extent(0, 102, 0, 102), 8, 8)
    val r = 3.0
    val got = pairs(distanceJoin(a, b, s, r).select("a_id", "b_id"))
    val want = (for {
      ga <- a.collect(); gb <- b.collect() if ga.minDist(gb) <= r
    } yield (ga.id, gb.id)).toSet
    assert(got == want)
  }

  test("distanceJoin boundary dist == r is kept (regression: coord restore perturbation)") {
    import TestSpark.spark.implicits._
    val a = spark.createDataset(Seq(Geom.point(1, 0.1, 50.0)))
    val b = spark.createDataset(Seq(Geom.point(2, 5.1, 50.0)))
    val r = 5.1 - 0.1 // the exact double distance between the two points
    val s = CellScheme(Extent(0, 100, 0, 100), 10, 10)
    assert(pairs(distanceJoin(a, b, s, r).select("a_id", "b_id")) == Set((1L, 2L)))
  }

  test("knnJoin is exact vs brute force") {
    import TestSpark.spark.implicits._
    val a = randomSet(7, 120, 0.0)   // points
    val b = randomSet(8, 400, 0.0)
    val ext = Extent(0, 100, 0, 100)
    val k = 3
    val got = knnJoin(a, b, ext, k, 400).select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bArr = b.collect()
    val want = a.collect().flatMap { ga =>
      bArr.map(gb => (gb.id, ga.minDist(gb))).sortBy(t => (t._2, t._1)).take(k)
        .map(t => (ga.id, t._1))
    }.toSet
    assert(got == want)
  }
}
