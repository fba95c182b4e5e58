package graft

import graft.api.Derived._
import graft.cells.CellScheme
import graft.geom.Extent
import graft.join.SpatialJoins
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query reads the driver's parquet tables at `dir`, derives
  * deterministic spatial inputs from integer keys (see [[graft.api.Derived]]),
  * and runs one engine operator; `oracleSql` holds the byte-equivalent ANSI
  * SQL for DuckDB, generated from the same specs.
  */
object SparkEntry {

  /** Map extent of the table-derived workloads (see [[graft.api.Derived]]). */
  val mapExtent: Extent = Extent(0.0, 1000.0, 0.0, 1000.0)

  /** Default grid: 64×64 cells over the map — #cells (4096) ≫ #cores. */
  val grid: CellScheme = CellScheme(mapExtent, 64, 64)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("spatial_grid_join_pp")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J6: PBSM grid join, polygon × polygon (declarative Catalyst plan)
    "spatial_grid_join_pp" -> ((s, dir) =>
      SpatialJoins.gridJoin(partRects.load(s, dir), ordersRects.load(s, dir), grid)),
    // J6 over points: point-in-polygon (point-specialized plan — no a-side
    // replication, no ownership filter; same pair set as gridJoin)
    "spatial_grid_join_pip" -> ((s, dir) =>
      SpatialJoins.gridJoinPIP(customerPoints.load(s, dir), partRects.load(s, dir), grid)),
    // strategy selector: broadcast below threshold, grid/sweep above —
    // picks per-SF (sf0.01 broadcasts the 2k-row side; sf0.1 goes grid)
    "spatial_auto_join" -> ((s, dir) =>
      SpatialJoins.intersectJoin(partRects.load(s, dir), ordersRects.load(s, dir))),
    // J9 STP: sort-tile partitioning (data-quantile tile boundaries)
    "spatial_sorttile_join" -> ((s, dir) =>
      SpatialJoins.sortTileJoin(partRects.load(s, dir), ordersRects.load(s, dir),
        mapExtent, 8, 8)),
    // J9 BSP: binary-split (kd-tree) partitioning from sampled medians
    "spatial_bsp_join" -> ((s, dir) =>
      SpatialJoins.binarySplitJoin(partRects.load(s, dir), ordersRects.load(s, dir),
        mapExtent, 6)),
    // J5: 1-D stripes plan (n×1 grid), same semantics
    "spatial_stripes_join" -> ((s, dir) =>
      SpatialJoins.stripesJoin(supplierRects.load(s, dir), partRects.load(s, dir), mapExtent, 256)),
    // J6 with the keyed reduce + plane-sweep inner loop
    "spatial_sweep_join" -> ((s, dir) =>
      SpatialJoins.gridJoinSweep(partRects.load(s, dir), ordersRects.load(s, dir), grid)),
    // J12: broadcast nested-loop join (small build side)
    "spatial_broadcast_join" -> ((s, dir) =>
      SpatialJoins.broadcastNL(supplierRects.load(s, dir), customerPoints.load(s, dir))),
    // A1+A2: result count and global extent (integer cents — fp-exact oracle)
    "spatial_extent" -> ((s, dir) =>
      partRects.load(s, dir).agg(
        count(lit(1)).as("n"),
        round(min(col("xmin")) * 100).cast("long").as("xmin_c"),
        round(max(col("xmax")) * 100).cast("long").as("xmax_c"),
        round(min(col("ymin")) * 100).cast("long").as("ymin_c"),
        round(max(col("ymax")) * 100).cast("long").as("ymax_c"))),
    // A3: per-cell candidate stats over the replicated a-side
    "spatial_cell_stats" -> ((s, dir) =>
      SpatialJoins.withCells(
          partRects.load(s, dir).toDF("a_id", "a_xmin", "a_xmax", "a_ymin", "a_ymax"),
          grid, "a")
        .groupBy(col("cell")).agg(count(lit(1)).as("n_objs"))),
    // A3 (result side): result pairs per owning cell
    "spatial_cell_result_stats" -> ((s, dir) =>
      SpatialJoins.cellResultStats(partRects.load(s, dir), ordersRects.load(s, dir), grid)),
    // W5: deterministic capped output (order-by + limit — exact top-k cap)
    "spatial_topk_capped" -> ((s, dir) =>
      SpatialJoins.gridJoin(partRects.load(s, dir), ordersRects.load(s, dir), grid)
        .orderBy(col("a_id"), col("b_id")).limit(100)),
    // J10 `withind`: distance join (exact MBR min-distance <= r)
    "spatial_distance_join" -> ((s, dir) =>
      SpatialJoins.distanceJoin(customerPoints.load(s, dir), partRects.load(s, dir), grid, 5.0)
        .select(col("a_id"), col("b_id"))),
    // J10 `nearestd` generalized: exact kNN (k=3), ring expansion
    "spatial_knn_join" -> ((s, dir) =>
      SpatialJoins.knnJoin(customerPoints.load(s, dir), orderPoints.load(s, dir),
          mapExtent, 3)
        .select(col("a_id"), col("b_id"), col("rank").cast("long").as("rank"))),
    // P6: self-join with id filter
    "spatial_self_join" -> ((s, dir) => {
      val p = partRects.load(s, dir)
      SpatialJoins.gridJoin(p, p, grid).filter(col("a_id") =!= col("b_id"))
    }),
    // golden-workload join (reference generator; published count 378, also
    // asserted in GoldenSpec). The generated workloads are dumped to parquet
    // so the DuckDB oracle re-proves the golden count from the same bytes.
    "spatial_golden_uniform_pp" -> ((s, _) => {
      import s.implicits._
      graft.ingest.Workloads.uniformPolygons(s, 100000, 123)
        .write.mode("overwrite").parquet(s"$GoldenDumpDir/a")
      graft.ingest.Workloads.uniformPolygons(s, 100000, 456)
        .write.mode("overwrite").parquet(s"$GoldenDumpDir/b")
      SpatialJoins.gridJoin(
        s.read.parquet(s"$GoldenDumpDir/a").as[graft.geom.Geom],
        s.read.parquet(s"$GoldenDumpDir/b").as[graft.geom.Geom],
        CellScheme(Extent(0, 10001, 0, 10001), 128, 128))
    }),
    // J6 + adaptive hot-cell refinement on a skewed (hot-corner) derived
    // input — the reference's quadtree-budget skew mechanism, driver-checked
    "spatial_adaptive_join" -> ((s, dir) =>
      SpatialJoins.gridJoinAdaptive(partRectsSkew.load(s, dir),
        ordersRectsSkew.load(s, dir), CellScheme(mapExtent, 8, 8),
        budgetPairs = 2048L)),
    // J5 with cost-based stripe-direction choice (reference
    // `best_join_direction`)
    "spatial_stripes_auto" -> ((s, dir) =>
      SpatialJoins.stripesJoinAuto(supplierRects.load(s, dir), partRects.load(s, dir),
        mapExtent, 256)),

    // ---- training-data pipeline operators --------------------------------
    "dedup_exact" -> ((s, dir) => Dedup.exactDedup(docs(s, dir))),
    // size-routed: plain shingle join below 64 MB of text, PPJoin prefix
    // filter above (the scale-safe default — r2 verdict item 2); identical
    // output either way, and the choice reads Catalyst stats (no scan)
    "dedup_jaccard" -> ((s, dir) => Dedup.jaccardPairsAuto(docs(s, dir), 3, 1, 2)),
    // AllPairs/PPJoin prefix-filtered variant — identical output, candidate
    // set cut to rare-prefix collisions (the web-scale Jaccard plan)
    "dedup_jaccard_prefix" -> ((s, dir) => Dedup.jaccardPairsPrefix(docs(s, dir), 3, 1, 2)),
    // substring-level dedup: pairs sharing an exact 8-token span (counted),
    // hash-bucketed candidates + exact string-array verify
    "dedup_spans" -> ((s, dir) => Dedup.duplicateSpanPairs(docs(s, dir), 8)),
    "dedup_minhash" -> ((s, dir) => Dedup.minhashDedupPairs(docs(s, dir), 3, 64, 16, 1, 2)),
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(withNearDups(docs(s, dir)), maxHam = 3, oracleHash = true)),
    // transitive survivors: min-id connected components over jaccard pairs
    "dedup_survivors" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.connectedComponents(d, Dedup.jaccardPairsAuto(d, 3, 1, 2))
    }),
    // transitive span-sharing groups: the same min-id CC over the
    // substring-dedup pairs (composition — pairs frames are interchangeable)
    "dedup_span_groups" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.connectedComponents(d, Dedup.duplicateSpanPairs(d, 8))
    }),
    "embed_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 20), e, 5)
    }),
    "embed_lsh_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.lshTopK(e.filter(col("vec_id") < 20), e, 5, 64)
    }),
    // multi-probe LSH (1-bit bucket flips: recall knob without index growth)
    "embed_lsh_multiprobe" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.lshTopK(e.filter(col("vec_id") < 20), e, 5, 64, multiProbe = true)
    }),
    // deterministic hash-based corpus downsampling (reproducible 30% sample
    // — the split every training-data pipeline needs to be restart-stable)
    "corpus_sample" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"))
        .filter(pmod(graft.functions.OracleHash.hash60(col("doc_id").cast("string")), lit(100L)) < 30)),
    // IVF inverted-list ANN (coarse-quantizer buckets + nProbe re-rank)
    // under the untrained quantizer: the first 16 corpus vectors
    "embed_ivf_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfTopKTrained(e.filter(col("vec_id") < 20), e, 5, iters = 0)
    }),
    // IVF with a TRAINED (2-iteration Lloyd) coarse quantizer — the oracle
    // replays the training itself (unrolled CTE chain), not just the probe
    "embed_ivf_trained" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfTopKTrained(e.filter(col("vec_id") < 20), e, 5,
        nCentroids = 16, nProbe = 4, iters = 2)
    }),
    // Near-dup pairs over planted dups. The driver gate compares against the
    // EXACT all-pairs oracle, and LSH banding recall at the 0.95 threshold
    // BOUNDARY is < 1 for any finite banding — an unplanted boundary pair in
    // a future corpus would silently fail the gate. The router therefore runs
    // the exact cross-join at oracle-verified sizes (recall exactly 1) and
    // the LSH-banded plan (recall trade documented at lshNearDupPairs) only
    // above 32 MB of input, where n² is no longer an option anyway.
    "embed_neardup" -> ((s, dir) =>
      Similarity.nearDupPairsAuto(Similarity.withPlantedDups(embs(s, dir)), 950, 64,
        bands = 16, rowsPerBand = 12)),
    "text_quality" -> ((s, dir) =>
      TextOps.qualityMetrics(docs(s, dir).select("doc_id", "text"), col("text")).drop("text")),
    "text_lang_id" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.langId(col("text")).as("lang_guess"))),
    "text_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.contentFingerprint(col("text")).as("fp"))),
    "text_signatures" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id"),
          graft.functions.SimHash.simhash60(col("text")).as("simhash"), col("text"))
        .as[(Long, Long, String)]
        .map { case (id, sh, t) => (id, sh, TextOps.winnowFingerprint(t)) }
        .toDF("doc_id", "simhash", "winnow_fp")
    }),
    // fixed-stride frame sampling + per-frame fingerprint over the payload
    "media_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(docs(s, dir), Multimodal.payloadCol)),
    // stride "resize" plumbing (nearest-neighbor downsample shape)
    "media_resize" -> ((s, dir) =>
      Multimodal.resizeStride(docs(s, dir), Multimodal.payloadCol)),
    "media_features" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col => c}
      Multimodal.extractFeatures(Multimodal.mediaFromDocuments(docs(s, dir)))
        .toDF().select(c("doc_id"), c("kind"), c("n_bytes"), c("checksum"))
    }),
    "pages_geo_join" -> ((s, dir) =>
      graft.pipeline.Pages.geoJoin(
        graft.pipeline.Pages.pagesFromDocuments(docs(s, dir)),
        partRects.load(s, dir), grid)
        .select(col("a_id"), col("b_id"), col("text_md5"))),
    "events_window_agg" -> ((s, dir) =>
      graft.streaming.EventsStream.windowedCounts(
        s.read.parquet(s"$dir/events.parquet"))),
    "events_sliding_agg" -> ((s, dir) =>
      graft.streaming.EventsStream.slidingCounts(
        s.read.parquet(s"$dir/events.parquet"))),
    // stateful sessionization (flatMapGroupsWithState) with the batch flush —
    // oracle is the standard gaps-and-islands rewrite
    "events_sessions" -> ((s, dir) =>
      graft.streaming.EventsStream.sessionize(s,
        s.read.parquet(s"$dir/events.parquet"), gapMinutes = 30, flushOpen = true)),
    // tile assignments (north rule: "emit identical tile assignments"):
    // the full id -> cell replication set of the a-side
    "spatial_tile_assignments" -> ((s, dir) =>
      SpatialJoins.withCells(
          partRects.load(s, dir).toDF("a_id", "a_xmin", "a_xmax", "a_ymin", "a_ymax"),
          grid, "a")
        .select(col("a_id").as("id"), col("cell"))),
    // H3/S2-style resolution change: tile assignments coarsened one level
    // (4x4 children -> parent) by pure cell arithmetic — no re-scan of the
    // geometry, the hierarchy IS the grid
    "spatial_tile_coarsen" -> ((s, dir) => {
      val f = 4L
      SpatialJoins.withCells(
          partRects.load(s, dir).toDF("a_id", "a_xmin", "a_xmax", "a_ymin", "a_ymax"),
          grid, "a")
        .select(col("a_id").as("id"),
          expr(s"((cell DIV ${grid.nx}) DIV $f) * ${grid.nx / f} + ((cell % ${grid.nx}) DIV $f)")
            .as("parent_cell"))
        .distinct()
    }),
    // Z-order (Morton) keys over the tile assignments — the storage-layout
    // sort key that clusters spatially-near cells into the same files
    "spatial_zorder_keys" -> ((s, dir) => {
      val zBits = (0 until 16).map { b =>
        shiftleft(shiftrightunsigned(col("cx"), b).bitwiseAND(lit(1L)), 2 * b)
          .bitwiseOR(shiftleft(shiftrightunsigned(col("cy"), b).bitwiseAND(lit(1L)), 2 * b + 1))
      }.reduce(_ bitwiseOR _)
      SpatialJoins.withCells(
          partRects.load(s, dir).toDF("a_id", "a_xmin", "a_xmax", "a_ymin", "a_ymax"),
          grid, "a")
        .select(col("a_id").as("id"), col("cell"),
          (col("cell") % grid.nx).as("cx"), expr(s"cell DIV ${grid.nx}").as("cy"))
        .select(col("id"), col("cell"), zBits.as("z"))
    }),
    // per-host web stats over the synthesized page table (URL parsing —
    // the host-level aggregation every crawl pipeline runs)
    "pages_host_stats" -> ((s, dir) => {
      val pages = graft.pipeline.Pages.pagesFromDocuments(docs(s, dir))
      pages.select(regexp_extract(col("url"), "://([^/]+)", 1).as("host"), col("doc_id"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"), min(col("doc_id")).as("min_doc"))
    }),
    // composed training-data pipeline: quality filter -> exact dedup -> lang
    // filter, returning surviving doc ids (the canonical corpus-clean chain)
    "corpus_clean" -> ((s, dir) => {
      val d = docs(s, dir)
      val quality = TextOps.qualityMetrics(d.select("doc_id", "text", "lang"), col("text"))
        .filter(col("quality_ok") && col("lang").isin("en", "de", "es", "fr"))
      Dedup.exactDedup(quality)
    }),
    // kNN over rectangles (MBR min-distance), k=2
    "spatial_knn_rect_join" -> ((s, dir) =>
      SpatialJoins.knnJoin(supplierRects.load(s, dir), partRects.load(s, dir),
          mapExtent, 2)
        .select(col("a_id"), col("b_id"), col("rank").cast("long").as("rank"))),
    // raster <-> vector: coverage rasterization, vectorization, zonal stats
    "raster_coverage" -> ((s, dir) =>
      graft.ops.Raster.rasterize(partRects.load(s, dir), grid)),
    "raster_vectorize" -> ((s, dir) =>
      graft.ops.Raster.vectorize(
        graft.ops.Raster.rasterize(partRects.load(s, dir), grid), grid, 2L).toDF()),
    "raster_zonal_stats" -> ((s, dir) =>
      graft.ops.Raster.zonalStats(
        graft.ops.Raster.rasterize(customerPoints.load(s, dir), grid),
        supplierRects.load(s, dir), grid)),
    "raster_focal_sum" -> ((s, dir) =>
      graft.ops.Raster.focalSum(
        graft.ops.Raster.rasterize(partRects.load(s, dir), grid), grid)),
    // J10 predicate variants: within / contains / overlaps
    "spatial_within_join" -> ((s, dir) =>
      SpatialJoins.gridJoinPred(partRects.load(s, dir), ordersRects.load(s, dir), grid,
        SpatialJoins.withinPred)),
    "spatial_contains_join" -> ((s, dir) =>
      SpatialJoins.gridJoinPred(partRects.load(s, dir), ordersRects.load(s, dir), grid,
        SpatialJoins.containsPred)),
    "spatial_overlaps_join" -> ((s, dir) =>
      SpatialJoins.gridJoinPred(partRects.load(s, dir), ordersRects.load(s, dir), grid,
        SpatialJoins.overlapsPred)),
    // salting path for degenerate hot cells (same result set as gridJoin)
    "spatial_salted_join" -> ((s, dir) =>
      SpatialJoins.gridJoinSalted(partRects.load(s, dir), ordersRects.load(s, dir), grid, 4)),
    // full resumable pipeline with snapshots + per-cell metrics
    "pipeline_full" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_pipeline").toString
      val runner = new graft.pipeline.Runner(s, root, grid)
      runner.run(
        graft.pipeline.Pages.pagesFromDocuments(docs(s, dir)),
        partRects.load(s, dir))
        .filter(col("text_md5_in") === col("text_md5_out")) // invariant witness
        .select(col("a_id"), col("b_id"), col("text_md5_out").as("text_md5"))
    }),
    // S4: WKT format + parse round-trip (identity on the derived rects)
    "source_wkt_roundtrip" -> ((s, dir) => {
      val g = partRects.load(s, dir)
      val wkt = g.select(col("id"),
        graft.sources.Traces.toWkt(col("xmin"), col("xmax"), col("ymin"), col("ymax")).as("w"))
      wkt.select(col("id"), graft.sources.Traces.parseWktMbr(col("w")).as("m"))
        .select(col("id"), col("m.xmin").as("xmin"), col("m.xmax").as("xmax"),
                col("m.ymin").as("ymin"), col("m.ymax").as("ymax"))
    }),
    // OSM-dump ingest with the reference's skip rules (process_OSM.py:50-116)
    // — id \t WKT \t tags lines, tag noise never reaches the coordinates
    "source_osm_ingest" -> ((s, dir) => {
      val g = partRects.load(s, dir)
      val lines = g.select(concat_ws("\t", col("id"),
        graft.sources.Traces.toWkt(col("xmin"), col("xmax"), col("ymin"), col("ymax")),
        lit("[building#yes,addr:postcode#01067,contact:phone#+49 351 86420]")).as("value"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_osm_${dir.hashCode}"
      lines.write.mode("overwrite").text(path)
      graft.sources.Traces.readOsmWkt(s, path).toDF()
    }),
    // External-interchange `gid;geom` CSV sink (data_gen.py:77-81) + reader
    "source_gid_geom_csv" -> ((s, dir) => {
      val g = partRects.load(s, dir)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_gidgeom_${dir.hashCode}"
      graft.sources.Traces.writeGidGeomCsv(g, path)
      graft.sources.Traces.readGidGeomCsv(s, path).toDF()
    }),
    // §1.2 partition-meta page format (`partition_meta_t` — 5 × 12-B entries
    // per 64-B page): per occupied cell (count, bottom-left cell corner) of
    // the replicated a side, written in the reference layout and scanned
    // back as a distributed binaryRecords source — the last §1.2 format row
    "source_partition_meta" -> ((s, dir) => {
      val meta = graft.ops.Raster.rasterize(partRects.load(s, dir), grid)
        .select(col("cell"), col("value").as("count"),
          (col("cx").cast("double") * grid.cellW + grid.extent.xmin).as("x"),
          (col("cy").cast("double") * grid.cellH + grid.extent.ymin).as("y"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_meta_${dir.hashCode}.bin"
      val n = graft.sources.Traces.writeMetaPages(meta, path)
      graft.sources.Traces.readMetaPages(s, path, n)
    }),
    // S2: reference 64-B-page binary object trace, write + distributed scan
    "source_binary_trace" -> ((s, dir) => {
      val g = customerPoints.load(s, dir)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_bintrace_${dir.hashCode}.bin"
      graft.sources.Traces.writeBinaryTrace(g, path)
      graft.sources.Traces.readBinaryTrace(s, path).toDF()
    }),
    // S3 LITERAL: the reference's serialized R-tree format (`tree_A.bin`,
    // cpp/Tree_generation.hpp:150-410) — STR-pack the derived rects,
    // serialize in the 4096-B node-page layout, scan the leaf OBJECTS back
    // as a distributed binaryRecords source. (The scale path for a static
    // side is the bucketed layout — spatial_bucketed_join; this closes the
    // format itself.)
    "source_tree_scan" -> ((s, dir) => {
      val g = partRects.load(s, dir).collect() // index build is per-static-side, bounded
      val tree = graft.join.STRTree.build(g)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_treebin_${dir.hashCode}.bin"
      graft.sources.TreeBin.writeTreeBin(s, tree, path)
      graft.sources.TreeBin.readTreeBinObjects(s, path).toDF()
    }),
    // S1: reference text-trace write + distributed scan (float32 semantics)
    "source_text_trace" -> ((s, dir) => {
      val g = customerPoints.load(s, dir)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_trace_${dir.hashCode}.txt"
      graft.sources.Traces.writeTextTrace(g, path)
      graft.sources.Traces.readTextTrace(s, path).toDF()
    }),
    // S3 (serialized-index persistence, reference
    // `cpp/Tree_generation.hpp:148-293` serialize / `:296-410` deserialize):
    // the lakehouse-native answer is PERSISTED cell-bucketed tables — the
    // replicated, bucket-sorted-by-cell layout IS the on-disk index, built
    // once and reused by every later join with ZERO shuffle (the scan is the
    // only data movement; plan asserted Exchange-free in BucketedJoinSpec).
    "spatial_bucketed_join" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_" +
        s"${ProcessHandle.current().pid()}"
      // repartition(16, cell) uses the same murmur3 hash as bucketBy, so
      // each write task holds exactly one bucket → ONE sorted file per
      // bucket (scan-side sorted bucketed reads; without it every task
      // writes a sliver of every bucket — 16× the files, and the join must
      // re-sort)
      def persist(spec: graft.api.RectSpec, p: String, name: String): Unit =
        SpatialJoins.withCells(
            spec.load(s, dir).toDF(s"${p}_id", s"${p}_xmin", s"${p}_xmax",
              s"${p}_ymin", s"${p}_ymax"), grid, p)
          .repartition(16, col("cell"))
          .write.mode("overwrite").bucketBy(16, "cell").sortBy("cell")
          .option("path", s"$wh/$name").saveAsTable(name)
      persist(partRects, "a", "graft_bkt_a")
      persist(ordersRects, "b", "graft_bkt_b")
      val ac = s.table("graft_bkt_a")
      val bc = s.table("graft_bkt_b").withColumnRenamed("cell", "b_cell")
      // hint("merge") forces the sort-merge path even at oracle-test sizes
      // (a broadcast would also be shuffle-free but proves nothing about the
      // bucketed layout a 100 TB static side relies on)
      ac.hint("merge").join(bc,
          col("cell") === col("b_cell") && SpatialJoins.intersectPred &&
            SpatialJoins.cellOfCol(grid, greatest(col("a_xmin"), col("b_xmin")),
              greatest(col("a_ymin"), col("b_ymin"))) === col("cell"))
        .select(col("a_id"), col("b_id"))
    }),
    // SQL surface: st_within / st_dwithin joins, same rewrite (predicate
    // refinement rides on the cell candidate phase)
    "spatial_sql_within_join" -> ((s, dir) => {
      graft.plans.GraftSql.install(s)
      partRects.load(s, dir).createOrReplaceTempView("graft_wa")
      ordersRects.load(s, dir).createOrReplaceTempView("graft_wb")
      s.sql("""SELECT a.id AS a_id, b.id AS b_id FROM graft_wa a JOIN graft_wb b
              | ON st_within(a.xmin, a.xmax, a.ymin, a.ymax,
              |              b.xmin, b.xmax, b.ymin, b.ymax)""".stripMargin)
    }),
    "spatial_sql_dwithin_join" -> ((s, dir) => {
      graft.plans.GraftSql.install(s)
      customerPoints.load(s, dir).createOrReplaceTempView("graft_da")
      partRects.load(s, dir).createOrReplaceTempView("graft_db")
      s.sql("""SELECT a.id AS a_id, b.id AS b_id FROM graft_da a JOIN graft_db b
              | ON st_dwithin(a.xmin, a.xmax, a.ymin, a.ymax,
              |               b.xmin, b.xmax, b.ymin, b.ymax, 5.0D)""".stripMargin)
    }),
    // SQL surface: st_intersects join, rewritten by SpatialJoinRule into the
    // cell-partitioned equi-join (no cartesian product in the physical plan)
    "spatial_sql_join" -> ((s, dir) => {
      graft.plans.GraftSql.install(s)
      partRects.load(s, dir).createOrReplaceTempView("graft_a")
      ordersRects.load(s, dir).createOrReplaceTempView("graft_b")
      s.sql("""SELECT a.id AS a_id, b.id AS b_id FROM graft_a a JOIN graft_b b
              | ON st_intersects(a.xmin, a.xmax, a.ymin, a.ymax,
              |                  b.xmin, b.xmax, b.ymin, b.ymax)""".stripMargin)
    }),
    // SQL surface over a raw (x, y) POINT table: the evidence job finds the
    // point side by value and plans PIP-style (no point-side generator, no
    // ownership conjunct)
    "spatial_sql_pip_join" -> ((s, dir) => {
      graft.plans.GraftSql.install(s)
      customerPoints.load(s, dir).toDF()
        .selectExpr("id", "xmin AS x", "ymin AS y")
        .createOrReplaceTempView("graft_p")
      partRects.load(s, dir).createOrReplaceTempView("graft_r")
      s.sql("""SELECT p.id AS a_id, r.id AS b_id FROM graft_p p JOIN graft_r r
              | ON st_intersects(p.x, p.x, p.y, p.y,
              |                  r.xmin, r.xmax, r.ymin, r.ymax)""".stripMargin)
    }),
  )

  /** Where the golden workload is dumped so DuckDB can re-prove the count.
    * Pid-unique: the oracle SQL generated by THIS JVM embeds the same path,
    * and concurrent runs on one host cannot overwrite each other's dump.
    */
  val GoldenDumpDir: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_golden_pp_${ProcessHandle.current().pid()}"

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Mix deterministic near-duplicates into the documents (append a marker
    * token to every 7th doc under a shifted id) so near-dup detectors have
    * planted positives regardless of the corpus.
    */
  private def withNearDups(d: DataFrame): DataFrame = {
    val mutated = d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
    d.select(col("doc_id"), col("text")).unionByName(mutated)
  }

  /** DuckDB subquery mirroring [[withNearDups]]. */
  private val withNearDupsSql: String =
    "(SELECT doc_id, text FROM documents " +
      "UNION ALL SELECT doc_id + 10000000, text || ' zz' FROM documents WHERE doc_id % 7 = 0)"

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "spatial_grid_join_pp"   -> joinOracle(partRects, ordersRects),
    "spatial_grid_join_pip"  -> joinOracle(customerPoints, partRects),
    "spatial_stripes_join"   -> joinOracle(supplierRects, partRects),
    "spatial_sweep_join"     -> joinOracle(partRects, ordersRects),
    "spatial_auto_join"      -> joinOracle(partRects, ordersRects),
    "spatial_sorttile_join"  -> joinOracle(partRects, ordersRects),
    "spatial_bsp_join"       -> joinOracle(partRects, ordersRects),
    "spatial_broadcast_join" -> joinOracle(supplierRects, customerPoints),
    "spatial_extent" ->
      s"""SELECT count(*) AS n,
         | CAST(round(min(xmin) * 100) AS BIGINT) AS xmin_c,
         | CAST(round(max(xmax) * 100) AS BIGINT) AS xmax_c,
         | CAST(round(min(ymin) * 100) AS BIGINT) AS ymin_c,
         | CAST(round(max(ymax) * 100) AS BIGINT) AS ymax_c
         | FROM (${partRects.sqlSelect})""".stripMargin.replace("\n", ""),
    "spatial_cell_stats" -> cellStatsOracle,
    "spatial_cell_result_stats" -> {
      def cc(v: String, len: Double, nn: Int): String =
        s"least(greatest(CAST(floor($v / $len) AS BIGINT), 0), ${nn - 1})"
      val gx = cc("greatest(a.xmin, b.xmin)", grid.cellW, grid.nx)
      val gy = cc("greatest(a.ymin, b.ymin)", grid.cellH, grid.ny)
      s"SELECT $gy * ${grid.nx} + $gx AS cell, count(*) AS n_pairs " +
        s"FROM (${partRects.sqlSelect}) a JOIN (${ordersRects.sqlSelect}) b " +
        s"ON $intersectSql GROUP BY 1"
    },
    "spatial_topk_capped" ->
      (s"SELECT a.id AS a_id, b.id AS b_id FROM (${partRects.sqlSelect}) a " +
        s"JOIN (${ordersRects.sqlSelect}) b ON $intersectSql ORDER BY 1, 2 LIMIT 100"),
    "spatial_tile_assignments" -> tileAssignOracle,
    "spatial_tile_coarsen" ->
      (s"SELECT DISTINCT id, ((cell // ${grid.nx}) // 4) * ${grid.nx / 4} + " +
        s"((cell % ${grid.nx}) // 4) AS parent_cell FROM (${cellRepSql(partRects)})"),
    "spatial_zorder_keys" ->
      (s"SELECT id, cell, CAST(sum((((cell % ${grid.nx}) >> b) & 1) * (CAST(1 AS BIGINT) << (2 * b)) + " +
        s"(((cell // ${grid.nx}) >> b) & 1) * (CAST(1 AS BIGINT) << (2 * b + 1))) AS BIGINT) AS z " +
        s"FROM (${cellRepSql(partRects)}), range(0, 16) r(b) GROUP BY 1, 2"),
    "pages_host_stats" ->
      ("SELECT regexp_extract('https://host-' || (doc_id % 100) || '.example/p/' || doc_id, '://([^/]+)', 1) AS host, " +
        "count(*) AS n_pages, min(doc_id) AS min_doc FROM documents GROUP BY 1"),
    "raster_coverage" -> coverageSql(partRects),
    "corpus_clean" ->
      (s"SELECT min(doc_id) AS doc_id FROM documents " +
        s"WHERE ${TextOps.qualityOkSql} AND lang IN ('en','de','es','fr') " +
        s"GROUP BY md5(text)"),
    "spatial_knn_rect_join" -> {
      val dx = "greatest(b.xmin - a.xmax, a.xmin - b.xmax, 0)"
      val dy = "greatest(b.ymin - a.ymax, a.ymin - b.ymax, 0)"
      s"SELECT a_id, b_id, rank FROM (SELECT a.id AS a_id, b.id AS b_id, " +
        s"row_number() OVER (PARTITION BY a.id ORDER BY sqrt($dx * $dx + $dy * $dy), b.id) AS rank " +
        s"FROM (${supplierRects.sqlSelect}) a CROSS JOIN (${partRects.sqlSelect}) b) WHERE rank <= 2"
    },
    "raster_vectorize" ->
      (s"SELECT cell AS id, cx * ${grid.cellW} AS xmin, (cx + 1) * ${grid.cellW} AS xmax, " +
        s"cy * ${grid.cellH} AS ymin, (cy + 1) * ${grid.cellH} AS ymax " +
        s"FROM (${coverageSql(partRects)}) WHERE value >= 2"),
    "raster_focal_sum" ->
      (s"SELECT r.cell, r.cx, r.cy, CAST(sum(n.value) AS BIGINT) AS focal_sum " +
        s"FROM (${coverageSql(partRects)}) r JOIN (${coverageSql(partRects)}) n " +
        s"ON abs(r.cx - n.cx) <= 1 AND abs(r.cy - n.cy) <= 1 " +
        s"GROUP BY 1, 2, 3"),
    "raster_zonal_stats" ->
      (s"SELECT z.id AS zone_id, count(*) AS n_pixels, CAST(sum(r.value) AS BIGINT) AS total " +
        s"FROM (${coverageSql(customerPoints)}) r JOIN (${supplierRects.sqlSelect}) z " +
        s"ON (r.cx + 0.5) * ${grid.cellW} >= z.xmin AND (r.cx + 0.5) * ${grid.cellW} <= z.xmax " +
        s"AND (r.cy + 0.5) * ${grid.cellH} >= z.ymin AND (r.cy + 0.5) * ${grid.cellH} <= z.ymax " +
        s"GROUP BY 1"),
    "spatial_distance_join" -> {
      val dx = "greatest(b.xmin - a.xmax, a.xmin - b.xmax, 0)"
      val dy = "greatest(b.ymin - a.ymax, a.ymin - b.ymax, 0)"
      s"SELECT a.id AS a_id, b.id AS b_id FROM (${customerPoints.sqlSelect}) a " +
        s"JOIN (${partRects.sqlSelect}) b ON sqrt($dx * $dx + $dy * $dy) <= 5.0"
    },
    "spatial_knn_join" ->
      (s"SELECT a_id, b_id, rank FROM (SELECT a.id AS a_id, b.id AS b_id, " +
        "row_number() OVER (PARTITION BY a.id ORDER BY " +
        "sqrt((a.xmin - b.xmin) * (a.xmin - b.xmin) + (a.ymin - b.ymin) * (a.ymin - b.ymin)), b.id) AS rank " +
        s"FROM (${customerPoints.sqlSelect}) a CROSS JOIN (${orderPoints.sqlSelect}) b) WHERE rank <= 3"),
    "spatial_self_join" ->
      (s"SELECT a.id AS a_id, b.id AS b_id FROM (${partRects.sqlSelect}) a " +
        s"JOIN (${partRects.sqlSelect}) b ON $intersectSql AND a.id <> b.id"),
    "dedup_exact"   -> Dedup.exactDedupSql,
    "dedup_jaccard" -> Dedup.jaccardPairsSql(3, 1, 2),
    "dedup_jaccard_prefix" -> Dedup.jaccardPairsSql(3, 1, 2),
    "dedup_spans" -> Dedup.duplicateSpansSql(8),
    "dedup_minhash" -> Dedup.minhashDedupSql(3, 64, 16, 1, 2),
    "dedup_simhash_pairs" -> Dedup.simhashPairsSql(3, withNearDupsSql),
    "dedup_survivors" -> Dedup.connectedComponentsSql(Dedup.jaccardPairsSql(3, 1, 2)),
    // DuckDB nests the spans WITH inside the recursive CTE's pr(...) body
    "dedup_span_groups" -> Dedup.connectedComponentsSql(Dedup.duplicateSpansSql(8)),
    "embed_topk"    -> Similarity.bruteForceTopKSql(20, 5, 64),
    "embed_lsh_topk" -> Similarity.lshTopKSql(20, 5, 64),
    "embed_ivf_topk" -> Similarity.ivfTopKSql(20, 5, 64),
    "embed_ivf_trained" -> Similarity.ivfTopKTrainedSql(20, 5, 64,
      nCentroids = 16, nProbe = 4, iters = 2),
    "embed_lsh_multiprobe" -> Similarity.lshTopKSql(20, 5, 64, multiProbe = true),
    "corpus_sample" ->
      (s"SELECT doc_id FROM documents WHERE " +
        s"${graft.functions.OracleHash.hash60Sql("CAST(doc_id AS VARCHAR)")} % 100 < 30"),
    "embed_neardup" -> Similarity.cosineNearDupSql(950, 64),
    "spatial_golden_uniform_pp" ->
      (s"SELECT a.id AS a_id, b.id AS b_id FROM read_parquet('$GoldenDumpDir/a/*.parquet') a " +
        s"JOIN read_parquet('$GoldenDumpDir/b/*.parquet') b ON $intersectSql"),
    "spatial_adaptive_join" -> joinOracle(partRectsSkew, ordersRectsSkew),
    "spatial_stripes_auto"  -> joinOracle(supplierRects, partRects),
    "text_signatures" ->
      (s"WITH ${graft.functions.SimHash.simhash60Sql("documents")}, ${TextOps.winnowSql("documents")} " +
        "SELECT s.doc_id, s.f AS simhash, w.winnow_fp FROM shfp s JOIN wfp w ON w.doc_id = s.doc_id"),
    "media_frames" -> Multimodal.sampleFramesSql(),
    "media_resize" -> Multimodal.resizeStrideSql(),
    "media_features" -> {
      val payload = Multimodal.payloadSql
      s"SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind, " +
        s"CAST(octet_length(encode($payload)) AS BIGINT) AS n_bytes, md5($payload) AS checksum FROM documents"
    },
    "text_quality"  -> TextOps.qualityMetricsSql("documents"),
    "text_lang_id"  -> s"SELECT doc_id, ${TextOps.langIdSql} AS lang_guess FROM documents",
    "text_fingerprint" -> "SELECT doc_id, md5(text) AS fp FROM documents",
    "pages_geo_join" -> {
      val px = graft.pipeline.Pages.geocodeSqlX
      val py = graft.pipeline.Pages.geocodeSqlY
      s"SELECT d.doc_id AS a_id, b.id AS b_id, md5(d.text) AS text_md5 " +
        s"FROM documents d JOIN (${partRects.sqlSelect}) b " +
        s"ON $px >= b.xmin AND $px <= b.xmax AND $py >= b.ymin AND $py <= b.ymax"
    },
    "events_window_agg" -> graft.streaming.EventsStream.windowedCountsSql,
    "events_sliding_agg" -> graft.streaming.EventsStream.slidingCountsSql,
    "events_sessions" -> graft.streaming.EventsStream.sessionsSql(30),
    "spatial_sql_join"  -> joinOracle(partRects, ordersRects),
    "spatial_sql_pip_join" -> joinOracle(customerPoints, partRects),
    "spatial_sql_within_join" ->
      (s"SELECT a.id AS a_id, b.id AS b_id FROM (${partRects.sqlSelect}) a " +
        s"JOIN (${ordersRects.sqlSelect}) b ON ${SpatialJoins.withinSql}"),
    "spatial_sql_dwithin_join" -> {
      val dx = "greatest(b.xmin - a.xmax, a.xmin - b.xmax, 0)"
      val dy = "greatest(b.ymin - a.ymax, a.ymin - b.ymax, 0)"
      s"SELECT a.id AS a_id, b.id AS b_id FROM (${customerPoints.sqlSelect}) a " +
        s"JOIN (${partRects.sqlSelect}) b ON sqrt($dx * $dx + $dy * $dy) <= 5.0"
    },
    "spatial_salted_join" -> joinOracle(partRects, ordersRects),
    "spatial_bucketed_join" -> joinOracle(partRects, ordersRects),
    "spatial_within_join" ->
      (s"SELECT a.id AS a_id, b.id AS b_id FROM (${partRects.sqlSelect}) a " +
        s"JOIN (${ordersRects.sqlSelect}) b ON ${SpatialJoins.withinSql}"),
    "spatial_contains_join" ->
      (s"SELECT a.id AS a_id, b.id AS b_id FROM (${partRects.sqlSelect}) a " +
        s"JOIN (${ordersRects.sqlSelect}) b ON ${SpatialJoins.containsSql}"),
    "spatial_overlaps_join" ->
      (s"SELECT a.id AS a_id, b.id AS b_id FROM (${partRects.sqlSelect}) a " +
        s"JOIN (${ordersRects.sqlSelect}) b ON $intersectSql " +
        s"AND NOT (${SpatialJoins.withinSql}) AND NOT (${SpatialJoins.containsSql})"),
    "pipeline_full" -> {
      val px = graft.pipeline.Pages.geocodeSqlX
      val py = graft.pipeline.Pages.geocodeSqlY
      s"SELECT d.doc_id AS a_id, b.id AS b_id, md5(d.text) AS text_md5 " +
        s"FROM documents d JOIN (${partRects.sqlSelect}) b " +
        s"ON $px >= b.xmin AND $px <= b.xmax AND $py >= b.ymin AND $py <= b.ymax"
    },
    // %.2f round-trips: HALF_UP at 2 decimals == round(x, 2) in both engines
    "source_wkt_roundtrip" ->
      (s"SELECT id, round(xmin, 2) AS xmin, round(xmax, 2) AS xmax, " +
        s"round(ymin, 2) AS ymin, round(ymax, 2) AS ymax FROM (${partRects.sqlSelect})"),
    // OSM ingest: %.2f WKT text round-trip (all derived rects are valid
    // 5-pair polygons, so none of the skip rules fire on this input)
    "source_osm_ingest" ->
      (s"SELECT id, round(xmin, 2) AS xmin, round(xmax, 2) AS xmax, " +
        s"round(ymin, 2) AS ymin, round(ymax, 2) AS ymax FROM (${partRects.sqlSelect})"),
    // gid;geom CSV: %.2f text + float32 read-back narrowing
    "source_gid_geom_csv" ->
      (s"SELECT id, CAST(CAST(round(xmin, 2) AS REAL) AS DOUBLE) AS xmin, " +
        s"CAST(CAST(round(xmax, 2) AS REAL) AS DOUBLE) AS xmax, " +
        s"CAST(CAST(round(ymin, 2) AS REAL) AS DOUBLE) AS ymin, " +
        s"CAST(CAST(round(ymax, 2) AS REAL) AS DOUBLE) AS ymax FROM (${partRects.sqlSelect})"),
    // serialized-tree scan: leaf objects = input set under float32 narrowing
    "source_tree_scan" ->
      (s"SELECT id, CAST(CAST(xmin AS REAL) AS DOUBLE) AS xmin, " +
        s"CAST(CAST(xmax AS REAL) AS DOUBLE) AS xmax, " +
        s"CAST(CAST(ymin AS REAL) AS DOUBLE) AS ymin, " +
        s"CAST(CAST(ymax AS REAL) AS DOUBLE) AS ymax FROM (${partRects.sqlSelect})"),
    // partition-meta pages: per-cell counts + cell corners (corners are
    // exact multiples of cellW = 15.625 — float32-lossless at this extent)
    "source_partition_meta" ->
      (s"SELECT value AS meta_count, cx * ${grid.cellW} AS x, cy * ${grid.cellH} AS y " +
        s"FROM (${coverageSql(partRects)})"),
    // binary trace: raw float32 narrowing (no %.2f text round-trip)
    "source_binary_trace" ->
      (s"SELECT id, CAST(CAST(xmin AS REAL) AS DOUBLE) AS xmin, " +
        s"CAST(CAST(xmax AS REAL) AS DOUBLE) AS xmax, " +
        s"CAST(CAST(ymin AS REAL) AS DOUBLE) AS ymin, " +
        s"CAST(CAST(ymax AS REAL) AS DOUBLE) AS ymax FROM (${customerPoints.sqlSelect})"),
    "source_text_trace" ->
      (s"SELECT id, CAST(CAST(round(xmin, 2) AS REAL) AS DOUBLE) AS xmin, " +
        s"CAST(CAST(round(xmax, 2) AS REAL) AS DOUBLE) AS xmax, " +
        s"CAST(CAST(round(ymin, 2) AS REAL) AS DOUBLE) AS ymin, " +
        s"CAST(CAST(round(ymax, 2) AS REAL) AS DOUBLE) AS ymax FROM (${customerPoints.sqlSelect})"),
  )

  /** DuckDB SQL for the id → cell replication set of a derived input
    * (mirrors `SpatialJoins.withCells`).
    */
  private def cellRepSql(spec: graft.api.RectSpec): String = {
    val w = grid.cellW; val h = grid.cellH; val n = grid.nx
    def cc(v: String, lo: Double, len: Double, nn: Int): String =
      s"least(greatest(CAST(floor(($v - $lo) / $len) AS BIGINT), 0), ${nn - 1})"
    s"""SELECT id, cy * $n + cx AS cell FROM (
       | SELECT id, unnest(range(${cc("xmin", 0.0, w, n)}, ${cc("xmax", 0.0, w, n)} + 1)) AS cx, cy
       | FROM (
       |   SELECT id, xmin, xmax, unnest(range(${cc("ymin", 0.0, h, n)}, ${cc("ymax", 0.0, h, n)} + 1)) AS cy
       |   FROM (${spec.sqlSelect})
       | )
       |)""".stripMargin.replace("\n", "")
  }

  private def tileAssignOracle: String = cellRepSql(partRects)

  private def coverageSql(spec: graft.api.RectSpec): String =
    s"SELECT cell, cell % ${grid.nx} AS cx, cell // ${grid.nx} AS cy, " +
      s"count(*) AS value FROM (${cellRepSql(spec)}) GROUP BY 1, 2, 3"

  /** Cell replication as SQL: cross join with the two cell-range sequences.
    * Must mirror `SpatialJoins.withCells` (clamped floor arithmetic).
    */
  private def cellStatsOracle: String = {
    val w = grid.cellW; val h = grid.cellH; val n = grid.nx
    def cc(v: String, lo: Double, len: Double, nn: Int): String =
      s"least(greatest(CAST(floor(($v - $lo) / $len) AS BIGINT), 0), ${nn - 1})"
    s"""SELECT cy * $n + cx AS cell, count(*) AS n_objs FROM (
       | SELECT unnest(range(${cc("xmin", 0.0, w, n)}, ${cc("xmax", 0.0, w, n)} + 1)) AS cx,
       |        cy
       | FROM (
       |   SELECT xmin, xmax, unnest(range(${cc("ymin", 0.0, h, n)}, ${cc("ymax", 0.0, h, n)} + 1)) AS cy
       |   FROM (${partRects.sqlSelect})
       | )
       |) GROUP BY 1""".stripMargin.replace("\n", "")
  }
}
