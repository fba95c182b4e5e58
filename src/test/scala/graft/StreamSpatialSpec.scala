package graft

import graft.join.SpatialJoins
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamSpatialSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("stream-static spatial join == batch result (AvailableNow)") {
    import graft.streaming.PagesStream
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pages = graft.pipeline.Pages.pagesFromDocuments(docs)
    val rects = graft.api.Derived.partRects.load(spark, "/root/testdata/sf0.001")
    val batch = PagesStream.geoJoinStream(pages, rects, SparkEntry.grid)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)
    // stage the pages as parquet and stream them through the same transform
    val dir = java.nio.file.Files.createTempDirectory("pages_stream").toString
    pages.write.mode("overwrite").parquet(dir)
    val stream = PagesStream.geoJoinStream(
      PagesStream.readPagesStream(spark, dir), rects, SparkEntry.grid)
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("geo_stream_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("select a_id, b_id from geo_stream_test")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch)
    // PIP plan shape: the geocoded point side must NOT be exploded — only
    // the static rect side carries the cell generator, and no
    // reference-point ownership recompute survives in the join condition
    val opt = PagesStream.geoJoinStream(pages, rects, SparkEntry.grid)
      .queryExecution.optimizedPlan
    val gens = opt.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }.size
    assert(gens == 1, s"stream point side must not be exploded (got $gens)")
  }

  test("intersectJoin auto-picks a strategy and stays oracle-equal") {
    import TestSpark.spark.implicits._
    val rnd = new scala.util.Random(9)
    def mk(n: Int, off: Long) = spark.createDataset((0 until n).map { i =>
      val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 100
      graft.geom.Geom(off + i, x, x + 3, y, y + 3)
    })
    val small = mk(50, 0); val big = mk(3000, 100000)
    val oracle = SpatialJoins.broadcastNL(big, small)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // b tiny → broadcast b
    assert(SpatialJoins.intersectJoin(big, small, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == oracle)
    // a tiny → swapped broadcast, orientation restored
    val swapped = SpatialJoins.intersectJoin(small, big, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(swapped == oracle.map { case (x, y) => (y, x) })
    // both big → grid path
    assert(SpatialJoins.intersectJoin(big, small, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == oracle)
  }

  test("snapshot manifest carries per-partition lineage hashes") {
    val root = java.nio.file.Files.createTempDirectory("snap_hash").toString
    val snaps = new graft.pipeline.Snapshots(spark, root)
    snaps.commit("s", spark.range(100).toDF("id"))
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "s", "1", "_manifest.json"))
    assert(manifest.contains("\"rows\": 100"))
    assert(manifest.contains("\"hash\":"))
  }
}
