package graft

import graft.functions.SimHash
import graft.ops._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimHashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("simhash: identical text identical hash; near-dup within small hamming") {
    import org.apache.spark.unsafe.types.UTF8String
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val near = base + " zz"
    val far  = "completely different words nothing shared at all whatsoever ok"
    val h1 = SimHash.hash64(UTF8String.fromString(base))
    val h2 = SimHash.hash64(UTF8String.fromString(base))
    val h3 = SimHash.hash64(UTF8String.fromString(near))
    val h4 = SimHash.hash64(UTF8String.fromString(far))
    assert(h1 == h2)
    assert(java.lang.Long.bitCount(h1 ^ h3) <= 8)
    assert(java.lang.Long.bitCount(h1 ^ h4) > 8)
  }

  test("simhash expression works under codegen and matches eval") {
    import spark.implicits._
    val df = Seq((1L, "hello world"), (2L, "hello world"), (3L, "other text here")).toDF("id", "text")
    val rows = df.select(col("id"), SimHash.simhash64(col("text")).as("h")).collect()
    import org.apache.spark.unsafe.types.UTF8String
    assert(rows.find(_.getLong(0) == 1L).get.getLong(1) ==
      SimHash.hash64(UTF8String.fromString("hello world")))
    assert(rows.find(_.getLong(0) == 1L).get.getLong(1) == rows.find(_.getLong(0) == 2L).get.getLong(1))
  }

  test("simhashPairs == brute-force hamming pairs") {
    import spark.implicits._
    val docs = (0L until 60L).map { i =>
      val base = s"doc $i " + (0 to 20).map(j => s"w${(i * 7 + j * 13) % 50}").mkString(" ")
      (i, if (i % 5 == 0) base + " tail" else base)
    }
    // plant near-dups: 100+i is a light mutation of i
    val all = docs ++ docs.take(10).map { case (i, t) => (100 + i, t + " zz") }
    val df = all.toDF("doc_id", "text")
    val got = Dedup.simhashPairs(df, 3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    import org.apache.spark.unsafe.types.UTF8String
    val hs = all.map { case (i, t) => (i, SimHash.hash64(UTF8String.fromString(t))) }
    val want = (for {
      (ia, ha) <- hs; (ib, hb) <- hs
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ia, ib)).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }
}

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def jaccard(a: String, b: String, k: Int): Double = {
    def sh(s: String) = s.trim.split("\\s+").sliding(k).filter(_.length == k).map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(a), sh(b))
    if (sa.isEmpty || sb.isEmpty) 0.0
    else (sa intersect sb).size.toDouble / (sa union sb).size
  }

  private val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(11)
    val base = (0L until 40L).map { i =>
      (i, (0 to 15).map(_ => s"w${rnd.nextInt(30)}").mkString(" "))
    }
    base ++ base.take(8).map { case (i, t) => (i + 1000, t + " extra") } ++
      base.take(3).map { case (i, t) => (i + 2000, t) } // exact dups
  }

  test("exactDedup keeps min id per text") {
    val df = corpus.toDF("doc_id", "text")
    val kept = Dedup.exactDedup(df).collect().map(_.getLong(0)).toSet
    val want = corpus.groupBy(_._2).values.map(_.map(_._1).min).toSet
    assert(kept == want)
  }

  test("jaccardPairs matches brute-force jaccard") {
    val df = corpus.toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(df, 3, 1, 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus
      if ia < ib && jaccard(ta, tb, 3) >= 0.5
    } yield (ia, ib)).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("prefix-filtered jaccard == plain jaccard on randomized corpora") {
    for (seed <- Seq(3, 17)) {
      val rnd = new scala.util.Random(seed)
      val c = (0L until 60L).map { i =>
        (i, (0 to 5 + rnd.nextInt(25)).map(_ => s"w${rnd.nextInt(20)}").mkString(" "))
      } ++ (0L until 12L).map(i => (i + 500, corpus(i.toInt)._2 + " tail"))
      val df = c.toDF("doc_id", "text")
      for ((num, den) <- Seq((1, 2), (3, 10), (4, 5))) {
        val plain = Dedup.jaccardPairs(df, 2, num, den).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val pref = Dedup.jaccardPairsPrefix(df, 2, num, den).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(pref == plain, s"seed=$seed t=$num/$den")
      }
    }
  }

  test("minhash pipeline: exact-verified subset, finds exact dups") {
    val df = corpus.toDF("doc_id", "text")
    val jac = Dedup.jaccardPairs(df, 3, 1, 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashDedupPairs(df, 3, 64, 16, 1, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(jac))           // verify step guarantees precision 1
    val exactDupPairs = (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus if ia < ib && ta == tb
    } yield (ia, ib)).toSet
    assert(exactDupPairs.subsetOf(mh)) // identical signatures always collide
  }
}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 16
  private val vecs: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(5)
    (0L until 50L).map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1))) ++
      Seq((100L, Array.fill(dim)(0.5f))) ++ Seq((101L, Array.fill(dim)(0.5f)))
  }
  private def df = vecs.toDF("vec_id", "embedding")

  // mirror QuantizedDot.q exactly (round half AWAY from zero, not
  // math.round's half-toward-+inf) so the oracle can't mask a regression
  private def qdotLocal(a: Array[Float], b: Array[Float]): Long =
    (a zip b).map { case (x, y) =>
      graft.functions.QuantizedDot.q(x.toDouble * 1000) *
        graft.functions.QuantizedDot.q(y.toDouble * 1000)
    }.sum

  test("QuantizedDot.q: decimal HALF_UP away from zero, boundary-safe") {
    import graft.functions.QuantizedDot.q
    assert(q(0.49999999999999994) == 0L) // floor(v+0.5) alone would give 1
    assert(q(0.5) == 1L && q(-0.5) == -1L)
    assert(q(2.5) == 3L && q(-2.5) == -3L)
    assert(q(12.4999) == 12L && q(-12.4999) == -12L)
  }

  test("bruteForceTopK matches local computation") {
    val got = Similarity.bruteForceTopK(df.filter($"vec_id" < 5), df, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = (for ((qi, qv) <- vecs if qi < 5) yield {
      vecs.map { case (ci, cv) => (ci, qdotLocal(qv, cv)) }
        .sortBy(t => (-t._2, t._1)).take(3).zipWithIndex
        .map { case ((ci, d), r) => (qi, ci, d, (r + 1).toLong) }
    }).flatten.toSet
    assert(got == want)
  }

  test("lshTopK finds identical vectors (same bucket) and ranks like brute force on candidates") {
    val got = Similarity.lshTopK(df.filter($"vec_id" === 100L), df, 3, dim)
      .collect().map(r => (r.getLong(1), r.getLong(3))).toList.sortBy(_._2)
    // the identical vector 101 (and 100 itself) must be in the top results
    assert(got.map(_._1).contains(101L))
    assert(got.map(_._1).contains(100L))
  }

  test("multi-probe lshTopK finds the identical vector and ranks at least as high as single-probe") {
    val queries = df.filter($"vec_id" < 5 || $"vec_id" === 100L)
    def run(multi: Boolean): Map[(Long, Long), (Long, Long)] =
      Similarity.lshTopK(queries, df, 3, dim, multiProbe = multi).collect()
        .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getLong(2))).toMap
    val single = run(multi = false)
    val multi = run(multi = true)
    assert(multi.exists { case ((qi, _), (ci, _)) => qi == 100L && ci == 101L })
    // the flip fan-out keeps every exact-bucket candidate, so the top-k of
    // the superset is at least as good at every (query, rank)
    single.foreach { case (key, (_, dot)) =>
      assert(multi.get(key).exists(_._2 >= dot), s"$key: single $dot, multi ${multi.get(key)}")
    }
  }

  test("ivfTopKTrained at iters = 0 == local first-nCentroids IVF replay") {
    val (nCentroids, nProbe, k) = (6, 2, 4)
    val got = Similarity.ivfTopKTrained(df.filter($"vec_id" < 5 || $"vec_id" === 100L), df, k,
        nCentroids = nCentroids, nProbe = nProbe, iters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def qv(v: Array[Float]) = v.map(x => graft.functions.QuantizedDot.q(x.toDouble * 1000))
    val cents = vecs.sortBy(_._1).take(nCentroids).map(c => qv(c._2))
    def cdots(v: Array[Float]) = cents.map(c => (qv(v) zip c).map { case (x, y) => x * y }.sum)
    // argmax with ties -> smaller centroid id; probes: dot desc, then id
    def byDot(ds: Seq[Long]) = ds.zipWithIndex.sortBy { case (d, i) => (-d, i) }.map(_._2)
    val listOf = vecs.map { case (ci, cv) => ci -> byDot(cdots(cv)).head }.toMap
    val want = (for ((qi, qvec) <- vecs if qi < 5 || qi == 100L) yield {
      val probes = byDot(cdots(qvec)).take(nProbe).toSet
      vecs.filter { case (ci, _) => probes(listOf(ci)) }
        .map { case (ci, cv) => (ci, qdotLocal(qvec, cv)) }
        .sortBy(t => (-t._2, t._1)).take(k).zipWithIndex
        .map { case ((ci, d), r) => (qi, ci, d, (r + 1).toLong) }
    }).flatten.toSet
    assert(got == want)
  }

  /** Planted boundary corpus: 300 pairs at cosine exactly 0.96 (orthogonal-
    * complement construction), just above the 0.95 threshold — the regime
    * where banding recall < 1 and the probe/band knobs matter.
    */
  private lazy val boundaryCorpus: (org.apache.spark.sql.DataFrame, Set[(Long, Long)]) = {
    val d = 64
    val rnd = new scala.util.Random(99)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    var planted = Set.empty[(Long, Long)]
    for (i <- 0 until 300) {
      val v = Array.fill(d)(rnd.nextDouble() * 2 - 1)
      val u0 = Array.fill(d)(rnd.nextDouble() * 2 - 1)
      val nv2 = v.map(x => x * x).sum
      val proj = v.zip(u0).map { case (a, b) => a * b }.sum / nv2
      val u = u0.zip(v).map { case (b, a) => b - proj * a } // ⊥ v exactly
      val nu = math.sqrt(u.map(x => x * x).sum)
      val c = 0.96
      val w = v.zip(u).map { case (a, b) =>
        c * a + math.sqrt(1 - c * c) * math.sqrt(nv2) * b / nu }
      rows += ((i.toLong, v.map(_.toFloat)))
      rows += ((1000L + i, w.map(_.toFloat)))
      planted += ((i.toLong, 1000L + i))
    }
    (rows.toSeq.toDF("vec_id", "embedding"), planted)
  }

  test("multi-probe near-dup banding lifts boundary-cosine recall (planted 0.96 pairs)") {
    // single-probe at 4 bands × 16 bits: per-band collision p^16 ≈ 0.22,
    // expect ~0.63; the 1-bit flip fan-out roughly halves the miss mass per
    // band (expect ~0.96)
    val d = 64
    val (embs, planted) = boundaryCorpus
    def found(multi: Boolean): Set[(Long, Long)] =
      Similarity.lshNearDupPairs(embs, 950, d, bands = 4, rowsPerBand = 16,
          multiProbe = multi)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotSingle = found(multi = false)
    val gotMulti = found(multi = true)
    // the flip fan-out only ADDS probes: every exact-collision pair must
    // survive (flip = -1 keeps the unflipped piece), so multi ⊇ single
    assert(gotSingle.subsetOf(gotMulti),
      s"multi-probe lost pairs: ${(gotSingle -- gotMulti).take(5)}")
    def recall(got: Set[(Long, Long)]): Double =
      planted.count(got.contains).toDouble / planted.size
    val single = recall(gotSingle)
    val multi = recall(gotMulti)
    assert(multi >= single + 0.1,
      s"expected a measurable boundary-recall uplift: single=$single multi=$multi")
  }

  test("cosineNearDupPairs finds the planted identical pair") {
    val got = Similarity.cosineNearDupPairs(df, 950).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((100L, 101L)))
    got.foreach { case (a, b) =>
      val va = vecs.find(_._1 == a).get._2; val vb = vecs.find(_._1 == b).get._2
      val dot = qdotLocal(va, vb).toDouble
      val na = math.sqrt(qdotLocal(va, va).toDouble); val nb = math.sqrt(qdotLocal(vb, vb).toDouble)
      assert(dot / (na * nb) >= 0.9499, s"pair ($a,$b) cos=${dot / (na * nb)}")
    }
  }
}

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tokenCount and quality metrics") {
    val df = Seq((1L, "the quick brown fox! 123"), (2L, "")).toDF("doc_id", "text")
    val m = TextOps.qualityMetrics(df, col("text")).collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getAs[Long]("n_tokens") == 5L)
    assert(m(2L).getAs[Long]("n_tokens") == 0L)
    assert(!m(2L).getAs[Boolean]("quality_ok"))
  }

  test("langId picks the language with most stopword hits") {
    val df = Seq(
      (1L, "the cat and the dog of the house is in that town for sure with style"),
      (2L, "der hund und die katze ist nicht mit der maus und das haus zu gross"),
      (3L, "xyzzy qwerty plugh")).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextOps.langId($"text").as("l")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en"); assert(got(2L) == "de"); assert(got(3L) == "und")
  }

  test("winnow fingerprint: deterministic, content-sensitive") {
    val a = TextOps.winnowFingerprint("the quick brown fox jumps over the lazy dog")
    val b = TextOps.winnowFingerprint("the quick brown fox jumps over the lazy dog")
    val c = TextOps.winnowFingerprint("a completely different document body here")
    assert(a == b); assert(a != c)
  }

  test("winnow fingerprint handles multibyte UTF-8 (regression: byte-len sizing)") {
    val a = TextOps.winnowFingerprint("héllo wörld of thíngs and ümlauts everywhere")
    val b = TextOps.winnowFingerprint("héllo wörld of thíngs and ümlauts everywhere")
    assert(a == b)
    assert(TextOps.winnowFingerprint("日本語のテキスト — short") ==
           TextOps.winnowFingerprint("日本語のテキスト — short"))
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("media plumbing: schema, deterministic stub features") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val media = Multimodal.mediaFromDocuments(docs)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == docs.count())
    assert(feats.forall(_.histogram.length == 16))
    assert(feats.forall(f => f.histogram.sum == f.n_bytes)) // every byte bucketed
    val again = Multimodal.extractFeatures(media).collect()
    assert(feats.map(f => (f.doc_id, f.checksum)).toSet == again.map(f => (f.doc_id, f.checksum)).toSet)
  }
}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("pages pipeline preserves text byte-identically per url") {
    import graft.pipeline.Pages
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pages = Pages.pagesFromDocuments(docs)
    val rects = graft.api.Derived.partRects.load(spark, "/root/testdata/sf0.001")
    val out = Pages.geoJoin(pages, rects, SparkEntry.grid)
    val checked = out.join(pages.select(col("url"), md5(col("text")).as("orig_md5")), "url")
      .filter(col("text_md5") =!= col("orig_md5"))
    assert(checked.count() == 0)
    assert(out.count() > 0)
  }

  test("snapshots: commit, manifest, resume skips recompute") {
    import graft.pipeline.Snapshots
    val root = java.nio.file.Files.createTempDirectory("snap").toString
    val snaps = new Snapshots(spark, root)
    var computeCount = 0
    def make() = { computeCount += 1
      spark.range(10).toDF("id") }
    val a = snaps.getOrCompute("stage1")(make())
    assert(a.count() == 10 && computeCount == 1)
    val b = snaps.getOrCompute("stage1")(make())
    assert(b.count() == 10 && computeCount == 1) // resumed, not recomputed
    assert(snaps.latest("stage1").contains(1L))
    val id2 = snaps.commit("stage1", spark.range(5).toDF("id"), Map("stage0" -> 1L))
    assert(id2 == 2L && snaps.read("stage1").get.count() == 5)
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "stage1", "2", "_manifest.json"))
    assert(manifest.contains("\"stage0\": 1"))
    // stale-lineage guard: requesting different inputs must recompute,
    // not silently reuse the stale snapshot
    val before = snaps.latest("stage1").get
    val fresh = snaps.getOrCompute("stage1", Map("stage0" -> 2L))(spark.range(7).toDF("id"))
    assert(fresh.count() == 7 && snaps.latest("stage1").contains(before + 1))
    // matching lineage reuses without recompute
    val again = snaps.getOrCompute("stage1", Map("stage0" -> 2L))(spark.range(99).toDF("id"))
    assert(again.count() == 7 && snaps.latest("stage1").contains(before + 1))
  }
}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming windowed agg == batch windowed agg (AvailableNow over parquet)") {
    import graft.streaming.EventsStream
    val dir = "/root/testdata/sf0.001"
    val batch = EventsStream.windowedCounts(spark.read.parquet(s"$dir/events.parquet"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    // file-source streaming needs a directory; stage the single parquet file
    val streamDir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val sq = EventsStream.startMemorySink(
      EventsStream.windowedCounts(EventsStream.readEventsStream(spark, streamDir.toString)),
      "win_agg_test")
    sq.awaitTermination(120000)
    val got = spark.sql("select * from win_agg_test")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("sessionize emits gap-split sessions") {
    import graft.streaming.EventsStream
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val sessions = EventsStream.sessionize(spark, events, gapMinutes = 60)
    val n = sessions.count()
    assert(n > 0)
    // every user's event count equals the sum over (emitted + in-state) sessions:
    // emitted sessions only cover closed ones in batch mode; check bounds
    assert(n <= events.count())
  }

  test("sessionize(flushOpen) == declarative gaps-and-islands (the DuckDB oracle shape)") {
    import graft.streaming.EventsStream
    import org.apache.spark.sql.expressions.Window
    val gapMin = 30
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
      df.select(col("user_id"), col("start_s"), col("end_s"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = rows(EventsStream.sessionize(spark, events, gapMin, flushOpen = true))
    // declarative island ids: brk = gap > gapMin (or first row), island = running sum
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
    val e = events.select(col("user_id"), col("ts").cast("timestamp").cast("long").as("ts_s"))
      .withColumn("brk",
        when(lag(col("ts_s"), 1).over(w).isNull ||
          col("ts_s") - lag(col("ts_s"), 1).over(w) > gapMin * 60L, 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val want = rows(e.groupBy(col("user_id"), col("grp"))
      .agg(min(col("ts_s")).as("start_s"), max(col("ts_s")).as("end_s"),
        count(lit(1)).as("n_events")))
    assert(got == want && got.nonEmpty)
    // the streaming (no-flush) output is exactly the flushed set minus each
    // user's LAST session (that one stays parked in state awaiting its gap)
    val closed = rows(EventsStream.sessionize(spark, events, gapMin))
    val lastPerUser = want.groupBy(_._1).values.map(_.maxBy(_._2)).toSet
    assert(closed == want -- lastPerUser)
  }

  test("sessionize(evictAtWatermark): parked sessions emit at the watermark, state stays bounded") {
    import graft.streaming.EventsStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val events = mem.toDF().toDF("user_id", "ts")
    val out = EventsStream.sessionize(spark, events, gapMinutes = 30,
      evictAtWatermark = true, watermarkDelay = "10 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sess_evict").start()
    try {
      val baseMs = 1700000000000L
      def t(min: Long) = new java.sql.Timestamp(baseMs + min * 60000L)
      val baseS = baseMs / 1000L
      def s(min: Long) = baseS + min * 60L
      // batch 1: user 1 (events at min 0 and 5) and user 2 (min 3) — both
      // sessions park in state, nothing can be emitted yet
      mem.addData((1L, t(0)), (1L, t(5)), (2L, t(3)))
      q.processAllAvailable()
      assert(spark.sql("select * from sess_evict").count() == 0)
      // batch 2: one user-2 event at min 300. It closes user 2's first
      // session by gap (> 30 min) AND advances the watermark to min 290 —
      // far past user 1's parked close (min 5 + gap) — so the follow-up
      // no-data batch must TIMEOUT-EMIT user 1's session (the r5 NoTimeout
      // version parked it forever: unbounded state for idle users)
      mem.addData((2L, t(300)))
      q.processAllAvailable()
      // batch 3: an out-of-order event (min 295 < max seen 300, but inside
      // the watermark) still opens fresh state normally
      mem.addData((3L, t(295)))
      q.processAllAvailable()
      val got = spark.sql("select user_id, start_s, end_s, n_events from sess_evict")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == Set((1L, s(0), s(5), 2L), (2L, s(3), s(3), 1L)),
        s"expected the timeout-evicted user-1 session and user 2's gap-closed one, got $got")
      // state-size boundedness: only the two live open sessions (user 2 at
      // min 300, user 3 at min 295) remain in the state store
      val stateRows = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).map(_.stateOperators.head.numRowsTotal)
      assert(stateRows.contains(2L), s"state rows: $stateRows")
    } finally q.stop()
  }

  test("sessionize(evictAtWatermark): an admissible out-of-order event bridges two islands") {
    // the r5 fold emitted in-batch-closed islands eagerly and regressed
    // `end = t` on an out-of-order extend — either defect mis-splits this
    // scenario. gap=30m, delay=20m: batch 1 has events at min 0 and 40 (two
    // islands, held because the in-batch watermark is still 0); batch 2's
    // event at min 22 is admissible (watermark = 40-20 = min 20) and within
    // the gap of BOTH islands, so batch semantics give ONE session 0..40.
    import graft.streaming.EventsStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val events = mem.toDF().toDF("user_id", "ts")
    val out = EventsStream.sessionize(spark, events, gapMinutes = 30,
      evictAtWatermark = true, watermarkDelay = "20 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sess_bridge").start()
    try {
      val baseMs = 1700000000000L
      def t(min: Long) = new java.sql.Timestamp(baseMs + min * 60000L)
      val baseS = baseMs / 1000L
      def s(min: Long) = baseS + min * 60L
      mem.addData((1L, t(0)), (1L, t(40)))
      q.processAllAvailable()
      assert(spark.sql("select * from sess_bridge").count() == 0,
        "no island's close is past the watermark yet")
      mem.addData((1L, t(22))) // out-of-order bridge
      q.processAllAvailable()
      // a later event drives the watermark past the merged session's close
      // (40 + 30 = min 70): 120 - 20 = min 100 > 70 -> timeout-emit
      mem.addData((1L, t(120)))
      q.processAllAvailable()
      val got = spark.sql("select user_id, start_s, end_s, n_events from sess_bridge")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == Set((1L, s(0), s(40), 3L)),
        s"expected the bridged session (0..40, 3 events), got $got")
    } finally q.stop()
  }
}
