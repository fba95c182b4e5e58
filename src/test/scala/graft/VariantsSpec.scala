package graft

import graft.cells.CellScheme
import graft.geom.{Extent, Geom}
import graft.join.{Side, SpatialJoins}
import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VariantsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def randomSet(seed: Int, n: Int, edge: Double) = {
    val rnd = new scala.util.Random(seed)
    spark.createDataset((0 until n).map { i =>
      val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 100
      Geom(i.toLong, x, x + rnd.nextDouble() * edge, y, y + rnd.nextDouble() * edge)
    })
  }

  test("within / contains / overlaps variants match brute force") {
    val a = randomSet(21, 400, 8.0)
    val b = randomSet(22, 400, 8.0)
    val s = CellScheme(Extent(0, 108, 0, 108), 7, 7)
    val aArr = a.collect(); val bArr = b.collect()
    def bf(p: (Geom, Geom) => Boolean) =
      (for (ga <- aArr; gb <- bArr if ga.intersects(gb) && p(ga, gb)) yield (ga.id, gb.id)).toSet
    val within = bf((ga, gb) => ga.xmin >= gb.xmin && ga.xmax <= gb.xmax && ga.ymin >= gb.ymin && ga.ymax <= gb.ymax)
    val contains = bf((ga, gb) => gb.xmin >= ga.xmin && gb.xmax <= ga.xmax && gb.ymin >= ga.ymin && gb.ymax <= ga.ymax)
    assert(pairs(SpatialJoins.gridJoinPred(a, b, s, SpatialJoins.withinPred)) == within)
    assert(pairs(SpatialJoins.gridJoinPred(a, b, s, SpatialJoins.containsPred)) == contains)
    val inter = bf((_, _) => true)
    assert(pairs(SpatialJoins.gridJoinPred(a, b, s, SpatialJoins.overlapsPred)) ==
      inter -- within -- contains)
    assert(within.nonEmpty && contains.nonEmpty)
  }

  /** `gridJoinPred` with within (also inside a compound predicate), with
    * contains on the sides swapped, and with overlaps gives the broadcast
    * nested loop's pairs on the rows `inner` within `outer`, among random
    * rows.
    */
  private def withinMatchesOracle(inner: Geom, outer: Geom): Unit = {
    val a = spark.createDataset(randomSet(23, 200, 8.0).collect() :+ inner).repartition(3)
    val b = spark.createDataset(randomSet(24, 200, 8.0).collect() :+ outer).repartition(3)
    def oracle(x: Dataset[Geom], y: Dataset[Geom], pred: Column) =
      pairs(Side.of(x, "a").df.join(broadcast(Side.of(y, "b").df), pred).select("a_id", "b_id"))
    val s = CellScheme(Extent(0, 108, 0, 108), 7, 7)
    val within = oracle(a, b, SpatialJoins.withinPred)
    assert(within.contains((inner.id, outer.id)))
    assert(pairs(SpatialJoins.gridJoinPred(a, b, s, SpatialJoins.withinPred)) == within)
    assert(oracle(b, a, SpatialJoins.containsPred) == within.map(_.swap))
    assert(pairs(SpatialJoins.gridJoinPred(b, a, s, SpatialJoins.containsPred)) ==
      within.map(_.swap))
    assert(pairs(SpatialJoins.gridJoinPred(a, b, s, SpatialJoins.withinPred && lit(true))) ==
      within)
    assert(pairs(SpatialJoins.gridJoinPred(a, b, s, SpatialJoins.overlapsPred)) ==
      oracle(a, b, SpatialJoins.overlapsPred))
  }

  test("within / contains: an inverted row within a box it does not meet as it stands") {
    withinMatchesOracle(Geom(900, 50, 45, 40, 60), Geom(1900, 40, 48, 35, 65))
  }

  test("within / contains: a NaN-min row within a box") {
    withinMatchesOracle(Geom(900, Double.NaN, 50, 40, 60), Geom(1900, 0, 100, 0, 100))
  }

  test("salted join: identical results on a degenerate hot cell (all-same point)") {
    val hotA = spark.createDataset((0L until 500L).map(i => Geom.point(i, 50.0, 50.0)) ++
      (500L until 600L).map(i => Geom.point(i, i.toDouble % 100, i.toDouble % 97)))
    val hotB = spark.createDataset((1000L until 1400L).map(i => Geom(i, 49.5, 50.5, 49.5, 50.5)) ++
      (1400L until 1500L).map(i => Geom(i, i.toDouble % 90, i % 90 + 2.0, 3.0, 5.0)))
    val s = CellScheme(Extent(0, 100, 0, 100), 10, 10)
    val want = pairs(SpatialJoins.broadcastNL(hotA, hotB))
    for (salt <- Seq(1, 3, 8)) {
      val got = pairs(SpatialJoins.gridJoinSalted(hotA, hotB, s, salt))
      assert(got == want, s"salt=$salt")
    }
    assert(want.size >= 500L * 400L) // the hot cell really is hot
  }

  test("pipeline runner: snapshots commit once, resume skips recompute, invariant holds") {
    val root = java.nio.file.Files.createTempDirectory("runner").toString
    val runner = new graft.pipeline.Runner(spark, root, SparkEntry.grid)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pages = graft.pipeline.Pages.pagesFromDocuments(docs)
    val rects = graft.api.Derived.partRects.load(spark, "/root/testdata/sf0.001")
    val out1 = runner.run(pages, rects).collect()
    assert(out1.nonEmpty)
    assert(out1.forall(r => r.getAs[String]("text_md5_in") == r.getAs[String]("text_md5_out")))
    val ids = Seq("ingest", "skeleton", "join", "metrics").map(st => st -> runner.snaps.latest(st))
    assert(ids.forall(_._2.contains(1L)), s"expected one committed snapshot per stage: $ids")
    // resume: second run reuses all snapshots (no new ids), same output
    val runner2 = new graft.pipeline.Runner(spark, root, SparkEntry.grid)
    val out2 = runner2.run(pages, rects).collect()
    assert(out2.map(r => (r.getLong(1), r.getLong(2))).toSet ==
      out1.map(r => (r.getLong(1), r.getLong(2))).toSet)
    assert(Seq("ingest", "skeleton", "join", "metrics").forall(st =>
      runner2.snaps.latest(st).contains(1L)))
    // metrics snapshot carries per-cell candidates/results
    val metrics = runner2.snaps.read("metrics").get
    assert(metrics.columns.toSet == Set("cell", "candidates", "results"))
    assert(metrics.agg(sum("results")).head().getLong(0) == out1.length)
  }
}
