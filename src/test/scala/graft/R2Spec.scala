package graft

import graft.functions.{HyperplaneBands, MinHashSig, OracleHash}
import graft.join.SpatialJoins
import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-2 additions: native signature expressions, STR per-cell index,
  * LSH near-dup recall, transitive survivors, stripe-direction choice.
  */
class SignatureExprSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("hash60: JVM == Spark column == first-15-hex-of-md5") {
    import spark.implicits._
    val vals = Seq("", "a", "abc", "hello world", "héllo", "x y z")
    val got = vals.toDF("s").select(OracleHash.hash60(col("s"))).collect().map(_.getLong(0))
    val jvm = vals.map(OracleHash.hash60)
    assert(got.toSeq == jvm)
    // independent reference: BigInteger parse of the md5 hex prefix
    val md = java.security.MessageDigest.getInstance("MD5")
    val ref = vals.map { s =>
      val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(15)
      new java.math.BigInteger(hex, 16).longValue()
    }
    assert(jvm == ref)
  }

  test("native shingles == declarative shingles (hash60), incl. edge cases") {
    import spark.implicits._
    val texts = Seq("a b c d e", "a b", "", "   ", "x x x x", "one two three",
      "a  b\tc d", " padded text here ")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = Dedup.shingleFrame(df, 3, "doc_id", "text", useHash60 = true)
      .select(col("id"), explode_outer(col("shs")).as("h"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val declarative = df.select(col("doc_id").as("id"),
        Dedup.shingles(col("text"), 3, OracleHash.hash60).as("shs"))
      .select(col("id"), explode_outer(col("shs")).as("h"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(native == declarative)
  }

  test("tokenizers are RE2-exact: \\f splits, \\x0B does NOT (DuckDB \\s+ semantics)") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.{ShingleHashes, SimHash}
    // RE2 \s = [\t\n\f\r ] — vertical tab is NOT whitespace there
    def shingleSet(t: String) = {
      val arr = ShingleHashes.shingles(UTF8String.fromString(t), 1, true)
      (0 until arr.numElements()).map(arr.getLong).toSet
    }
    assert(shingleSet("x\fy") == shingleSet("x y"), "form feed must split")
    assert(shingleSet("x\u000By").size == 1 &&
      shingleSet("x\u000By") != shingleSet("x y"), "vertical tab must NOT split")
    assert(SimHash.hash64(UTF8String.fromString("x\fy"), md5Tokens = true) ==
      SimHash.hash64(UTF8String.fromString("x y"), md5Tokens = true))
    assert(SimHash.hash64(UTF8String.fromString("x\u000By"), md5Tokens = true) !=
      SimHash.hash64(UTF8String.fromString("x y"), md5Tokens = true))
  }

  test("winnow is code-point based: matches an independent code-point reference") {
    import graft.ops.TextOps
    // independent reimplementation over code points with 1:1 lowercase —
    // would DIVERGE if winnowFingerprint regressed to UTF-16 charAt indexing
    // (grams shifting after an astral char) or locale toLowerCase (İ → 2 chars)
    def reference(text: String, k: Int = 8, window: Int = 16): Long = {
      val cps = text.codePoints().toArray.map(Character.toLowerCase)
      if (cps.length < k) return OracleHash.hash60(new String(cps, 0, cps.length))
      val n = cps.length - k + 1
      val hs = Array.tabulate(n)(i => OracleHash.hash60(new String(cps, i, k)))
      val win = math.min(window, n)
      val sel = scala.collection.mutable.LinkedHashSet.empty[Int]
      for (j <- 0 to n - win)
        sel += (j until j + win).maxBy(i => (hs(i) == (j until j + win).map(hs).min, i))
      sel.foldLeft(0L)((acc, p) => acc ^ hs(p))
    }
    val t1 = "𝕊" + "abcdefghij klmnop qrstuv wxyz0123" // astral prefix
    val t2 = "İSTANBUL IS A CITY WITH HISTORY"        // 1:1 lowercase case
    val t3 = "plain ascii body with several words in it"
    Seq(t1, t2, t3).foreach { t =>
      assert(TextOps.winnowFingerprint(t) == reference(t), t)
    }
    assert(TextOps.winnowFingerprint(t2) !=
      TextOps.winnowFingerprint("entirely different words compose this other document"))
  }

  test("MinHashSig == per-permutation array_min chain") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f g"), (2L, "h i j k l m n o p")).toDF("doc_id", "text")
    val perms = Dedup.minhashPerms(8)
    val p = Dedup.MinHashP
    val sh = Dedup.shingleFrame(df, 3, "doc_id", "text", useHash60 = true)
    val native = sh.select(col("id"),
        MinHashSig(col("shs"), perms.map(_._1), perms.map(_._2), p).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val chain = sh.select((col("id") +: perms.zipWithIndex.map { case ((a, b), i) =>
        array_min(transform(col("shs"),
          h => pmod(pmod(h, lit(p)) * lit(a) + lit(b), lit(p)))).as(s"m$i")
      }): _*).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong(_))).toMap
    native.foreach { case (id, sig) => assert(sig == chain(id), s"doc $id") }
  }

  test("HyperplaneBands == aggregate/zip_with sign-bit chain") {
    import spark.implicits._
    val dim = 8
    val df = Seq((1L, Array(0.1, -0.2, 0.3, 0.0, 1.5, -2.0, 0.7, 0.25)),
                 (2L, Array(-1.0, 2.0, -3.0, 4.0, -5.0, 6.0, -7.0, 8.0))).toDF("vec_id", "embedding")
    val planes = Similarity.hyperplanes(4, dim, 7L)
    val native = df.select(col("vec_id"),
        HyperplaneBands(col("embedding"), planes, dim, 2).as("pieces"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // reference: quantize, dot per plane, pack 2 bits per band
    val rows = df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    rows.foreach { case (id, emb) =>
      val q = emb.map(v => graft.functions.QuantizedDot.q(v * 1000.0))
      val pieces = (0 until 2).map { band =>
        (0 until 2).map { j =>
          val pl = band * 2 + j
          val dot = (0 until dim).map(i => q(i) * planes(pl * dim + i)).sum
          if (dot >= 0) 1L << j else 0L
        }.sum
      }
      assert(native(id) == pieces, s"vec $id")
    }
  }
}

class R2OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.01"
  private def haveData = java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sfDir))

  test("lshNearDupPairs == exact cosineNearDupPairs on the planted sf0.01 corpus (recall gate)") {
    assume(haveData)
    val embs = Similarity.withPlantedDups(
      spark.read.parquet(s"$sfDir/embeddings.parquet"))
    val exact = Similarity.cosineNearDupPairs(embs, 950)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Similarity.lshNearDupPairs(embs, 950, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "planted dups must produce pairs")
    assert(banded == exact)
  }

  test("neardup scale route (LSH) has no cartesian/BNL; router picks exact at oracle size") {
    assume(haveData)
    val embs = Similarity.withPlantedDups(
      spark.read.parquet(s"$sfDir/embeddings.parquet"))
    // the scale route must never plan a cartesian
    val lshPlan = Similarity.nearDupPairsAuto(embs, 950, 64, bands = 16,
        rowsPerBand = 12, exactBytesThreshold = 0L)
      .queryExecution.executedPlan.toString
    assert(!lshPlan.contains("CartesianProduct") && !lshPlan.contains("BroadcastNestedLoop"),
      lshPlan)
    // at oracle-verified sizes the driver query routes to the exact
    // cross-join (recall exactly 1 — the gate compares against the exact
    // oracle, and banding recall at the threshold boundary is < 1)
    val autoPlan = SparkEntry.queries("embed_neardup")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(autoPlan.contains("CartesianProduct") || autoPlan.contains("BroadcastNestedLoop"),
      autoPlan)
  }

  test("ivfTrainCentroids is deterministic and keeps emptied centroids") {
    assume(haveData)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val c1 = Similarity.ivfTrainCentroids(e, 16, 2)
    val c2 = Similarity.ivfTrainCentroids(e, 16, 2)
    assert(c1.length == 16 && c1.forall(_.length == 64))
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) },
      "training must be bit-deterministic (the oracle replays it)")
    // trained IVF returns a full ranked top-k per query
    val out = Similarity.ivfTopKTrained(e.filter(org.apache.spark.sql.functions.col("vec_id") < 5),
        e, 5, nCentroids = 16, nProbe = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(out.length == 25 && out.groupBy(_._1).forall(_._2.map(_._2).sorted.sameElements(1L to 5L)))
  }

  test("jaccardPairsPrefix == jaccardPairs on the sf0.01 corpus") {
    assume(haveData)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plain = Dedup.jaccardPairs(docs, 3, 1, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val prefix = Dedup.jaccardPairsPrefix(docs, 3, 1, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prefix == plain)
  }

  test("connectedComponents collapses transitive chains (vs union-find)") {
    import spark.implicits._
    val nodes = (0L to 20L).toDF("doc_id")
    // chains: 0-1-2-3, 5-6, 7-8-9 (via 8), star: 10-{11,12,13}
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L),
      (10L, 11L), (10L, 12L), (10L, 13L)).toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // union-find reference
    val parent = scala.collection.mutable.Map((0L to 20L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    Seq((0L, 1L), (1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L),
      (10L, 11L), (10L, 12L), (10L, 13L)).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0L to 20L).foreach(i => assert(got(i) == find(i), s"node $i"))
    // survivors = component minima
    assert(got.count { case (id, comp) => id == comp } == 21 - 3 - 1 - 2 - 3)
  }

  test("sortTileJoin == gridJoin pair set on skewed data (STP partitioner)") {
    import spark.implicits._
    val ext = graft.geom.Extent(0, 100, 0, 100)
    val rnd = new scala.util.Random(11)
    def mk(n: Int, off: Long) = (0 until n).map { i =>
      // hot corner: quadratic skew
      val u = rnd.nextDouble(); val v = rnd.nextDouble()
      val x = u * u * 95; val y = v * v * 95
      graft.geom.Geom(off + i, x, x + rnd.nextDouble() * 4, y, y + rnd.nextDouble() * 4)
    }.toDS()
    val a = mk(400, 0); val b = mk(400, 10000)
    val grid = SpatialJoins.gridJoin(a, b, graft.cells.CellScheme(ext, 16, 16))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val stp = SpatialJoins.sortTileJoin(a, b, ext, 4, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stp == grid && grid.nonEmpty)
    // scheme sanity: boundaries are data quantiles, denser near the hot corner
    val s = graft.cells.SortTileScheme.build(a, b, ext, 4, 4)
    assert(s.xBounds.length == 3 && s.yBounds.length == 4)
    assert(s.xBounds(0) < 50.0, s"quantile cut should hug the hot corner: ${s.xBounds.toSeq}")
  }

  test("binarySplitJoin == gridJoin pair set; leaves partition the plane") {
    import spark.implicits._
    val ext = graft.geom.Extent(0, 100, 0, 100)
    val rnd = new scala.util.Random(13)
    def mk(n: Int, off: Long) = (0 until n).map { i =>
      val u = rnd.nextDouble(); val x = u * u * 95; val y = rnd.nextDouble() * 95
      graft.geom.Geom(off + i, x, x + rnd.nextDouble() * 4, y, y + rnd.nextDouble() * 4)
    }.toDS()
    val a = mk(300, 0); val b = mk(300, 10000)
    val grid = SpatialJoins.gridJoin(a, b, graft.cells.CellScheme(ext, 16, 16))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bsp = SpatialJoins.binarySplitJoin(a, b, ext, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bsp == grid && grid.nonEmpty)
    // every point owned by exactly one leaf, and the leaf is in cellsOf
    val s = graft.cells.BinarySplitScheme.build(a, b, ext, 4)
    (1 to 500).foreach { _ =>
      val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 100
      val c = s.cellOf(x, y)
      assert(c >= 0 && c < s.numLeaves)
      assert(s.cellsOf(graft.geom.Geom(0, x, x, y, y)) == Seq(c))
    }
  }

  test("sortTileJoin and binarySplitJoin == gridJoin pair set from a strict subsample") {
    // 160k rows in all, above 1.2·MaxSample: the schemes are planned from a
    // Bernoulli draw at fraction < 1, not from every row
    val ext = graft.geom.Extent(0, 10000, 0, 10000)
    def gen(seed: Long) = graft.ingest.Workloads.gaussianPolygons(spark, 80000L, seed).cache()
    val a = gen(71L); val b = gen(72L)
    try {
      a.count(); b.count()
      assert(graft.cells.SchemeSampling.sample(a, b, seed = 17L)._3 < 1.0)
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val grid = pairs(SpatialJoins.gridJoin(a, b, graft.cells.CellScheme(ext, 64, 64)))
      assert(grid.nonEmpty)
      assert(pairs(SpatialJoins.sortTileJoin(a, b, ext, 8, 8)) == grid)
      assert(pairs(SpatialJoins.binarySplitJoin(a, b, ext, 6)) == grid)
    } finally { a.unpersist(); b.unpersist() }
  }

  test("stripesJoinAuto matches stripesX output and picks a direction") {
    import spark.implicits._
    val ext = graft.geom.Extent(0, 100, 0, 100)
    val rnd = new scala.util.Random(5)
    def mk(n: Int, off: Long) = (0 until n).map { i =>
      val x = rnd.nextDouble() * 95; val y = rnd.nextDouble() * 95
      graft.geom.Geom(off + i, x, x + rnd.nextDouble() * 5, y, y + rnd.nextDouble() * 5)
    }.toDS()
    val a = mk(200, 0); val b = mk(200, 1000)
    val x = SpatialJoins.stripesJoin(a, b, ext, 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = SpatialJoins.stripesJoinAuto(a, b, ext, 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val y = SpatialJoins.gridJoin(a, b, graft.cells.CellScheme.stripesY(ext, 16)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(x == y && auto == x)
    assert(Set('x', 'y').contains(SpatialJoins.chooseStripeAxis(SpatialJoins.evidenceOf(a, b), ext, 16)))
  }

  test("parentCell nests children exactly (coarsen == cellOf on the coarse grid)") {
    val fine = graft.cells.CellScheme(graft.geom.Extent(0, 1000, 0, 1000), 64, 64)
    val coarse = fine.coarsen(4)
    val rnd = new scala.util.Random(9)
    (1 to 2000).foreach { _ =>
      val x = rnd.nextDouble() * 1100 - 50 // include out-of-extent clamping
      val y = rnd.nextDouble() * 1100 - 50
      assert(fine.parentCell(fine.cellOf(x, y), 4) == coarse.cellOf(x, y), s"($x,$y)")
    }
  }

  test("raster focalSum: interior 3x3 sums and edge clipping vs brute force") {
    import spark.implicits._
    val s = graft.cells.CellScheme(graft.geom.Extent(0, 10, 0, 10), 10, 10)
    // occupied cells from a handful of small rects (degenerate points)
    val rnd = new scala.util.Random(3)
    val pts = (0 until 200).map { i =>
      val x = rnd.nextDouble() * 10; val y = rnd.nextDouble() * 10
      graft.geom.Geom(i, x, x, y, y)
    }.toDS()
    val raster = graft.ops.Raster.rasterize(pts, s)
    val cells = raster.collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    val got = graft.ops.Raster.focalSum(raster, s).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(got.keySet == cells.keySet)
    got.foreach { case ((cx, cy), v) =>
      val want = (for (dx <- -1 to 1; dy <- -1 to 1)
        yield cells.getOrElse((cx + dx, cy + dy), 0L)).sum
      assert(v == want, s"cell ($cx,$cy)")
    }
  }

  test("slidingCounts: streaming == batch (AvailableNow memory sink)") {
    assume(haveData)
    import graft.streaming.EventsStream
    val batch = EventsStream.slidingCounts(
        spark.read.parquet(s"$sfDir/events.parquet"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("part-0.parquet"))
    val q = EventsStream.slidingCounts(EventsStream.readEventsStream(spark, dir.toString))
      .writeStream.format("memory").queryName("sliding_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("sliding_stream")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming exact dedup == batch distinct content count (AvailableNow)") {
    assume(haveData)
    val batch = spark.read.parquet(s"$sfDir/documents.parquet")
    val expect = batch.select(md5(col("text"))).distinct().count()
    // the file stream source needs a DIRECTORY of files
    val dir = java.nio.file.Files.createTempDirectory("docs_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      dir.resolve("part-0.parquet"))
    val stream = graft.streaming.DocsStream.dedupedDocs(
      graft.streaming.DocsStream.readDocsStream(spark, dir.toString))
    val q = stream.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.table("dedup_stream").count() == expect)
  }

  test("snapshot lineage: id 1 must not match recorded 11; extra inputs mismatch") {
    val root = java.nio.file.Files.createTempDirectory("snap_r2").toString
    val snaps = new graft.pipeline.Snapshots(spark, root)
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("id", "v")
    snaps.commit("stage", df, Map("up" -> 11L))
    val m = snaps.latestManifest("stage").get
    assert(graft.pipeline.Snapshots.parseInputs(m) == Map("up" -> 11L))
    var computed = 0
    def compute = { computed += 1; df }
    snaps.getOrCompute("stage", Map("up" -> 1L))(compute)   // 1 != 11 → recompute
    assert(computed == 1)
    snaps.getOrCompute("stage", Map("up" -> 1L))(compute)   // now matches
    assert(computed == 1)
    snaps.getOrCompute("stage", Map("up" -> 1L, "extra" -> 2L))(compute) // superset → recompute
    assert(computed == 2)
  }
}
