package graft

import graft.cells.CellScheme
import graft.geom.Geom
import graft.join.{Route, SpatialJoins}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

/** Strategy choice must not pay data passes (r2 verdict: `intersectJoin`
  * eagerly ran `a.count(); b.count()` — two full input scans before any join
  * work). The broadcast decision reads Catalyst plan statistics (ZERO Spark
  * jobs); every cell-partitioned entry point that plans a route
  * (`intersectJoin`, SQL `st_*` joins, `stripesJoin`, `stripesJoinAuto`,
  * `gridJoinAdaptive`) runs ONE evidence job for the joint extent, both row
  * counts and the edges. The STP and BSP planners run no evidence job: they
  * take the one bounded sample (`SchemeSampling.sample`), sized from the
  * stats estimate and checked by its own size. `gridJoinSweep`, the forced
  * keyed reduce over the caller's grid, plans nothing and runs no job. This
  * spec counts actual jobs via a SparkListener.
  */
class StatsPlanningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def mk(n: Int, off: Long): org.apache.spark.sql.Dataset[Geom] = {
    import spark.implicits._
    val rnd = new scala.util.Random(off + 3)
    (0 until n).map { i =>
      val x = rnd.nextDouble() * 90; val y = rnd.nextDouble() * 90
      Geom(off + i, x, x + 5, y, y + 5)
    }.toDS()
  }

  /** Runs `f`, returns the number of Spark jobs started while it ran.
    * Listener delivery is async: poll until the count is stable.
    */
  private def jobsDuring(f: => Unit): Int = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { counter.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 5000) {
        Thread.sleep(100); waited += 100
        if (counter.get == last) stable += 1 else { stable = 0; last = counter.get }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    counter.get
  }

  test("broadcast path: at most one BOUNDED (limit) job, BNL plan") {
    val a = mk(200, 0); val b = mk(50, 1000)
    var planned: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring { planned = SpatialJoins.intersectJoin(a, b) }
    // a small stats estimate is confirmed by limit(t+1).count() — reads at
    // most t+1 rows regardless of input size; never a full scan. Spark's
    // limit executes as up to two incremental partition probes (one per
    // side here, both bounded).
    assert(jobs <= 2, s"strategy choice ran $jobs job(s); must be stats + bounded counts")
    val phys = planned.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastNestedLoopJoin"), phys)
  }

  /** Planning `join` (by default intersectJoin on the evidence path) runs
    * exactly one job, and the plan returns broadcastNL's pair set.
    */
  private def onePlanningJob(a: Dataset[Geom], b: Dataset[Geom],
                             join: (Dataset[Geom], Dataset[Geom]) => DataFrame =
                               SpatialJoins.intersectJoin(_, _, broadcastThreshold = 0L)): Unit = {
    var planned: DataFrame = null
    val jobs = jobsDuring { planned = join(a, b) }
    // the evidence (extent, counts, edges, the smaller side's occupied
    // cells) is ONE job with one stage and no exchange; a zero threshold
    // skips intersectJoin's bounded limit-confirm jobs — the r2-era version
    // ran 3 separate FULL-scan actions (count, count, extent agg)
    assert(jobs == 1, s"planning must run exactly one job, got $jobs jobs")
    val want = SpatialJoins.broadcastNL(a, b)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = planned.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && want.nonEmpty)
  }

  test("grid path runs exactly ONE fused extent+count job, result unchanged") {
    val a = mk(400, 0); val b = mk(400, 1000)
    val ev = SpatialJoins.evidenceOf(a, b)
    assert(SpatialJoins.route(ev, CellScheme.forSize(ev.extent.get, 400, 16, maxN = 8192)) ==
      Route.Grid)
    onePlanningJob(a, b)
  }

  test("point path runs exactly ONE planning job, result unchanged") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val pts = (0 until 2000).map(i => Geom.point(i, rnd.nextDouble() * 95, rnd.nextDouble() * 95)).toDS()
    val rects = mk(400, 10000)
    val ev = SpatialJoins.evidenceOf(pts, rects)
    assert(SpatialJoins.route(ev, CellScheme.forSize(ev.extent.get, 2000, 16, maxN = 8192)) ==
      Route.PointsA)
    onePlanningJob(pts, rects)
  }

  test("optimizing a SQL st_intersects join runs exactly ONE job, the evidence") {
    graft.plans.GraftSql.install(spark)
    val a = mk(400, 0); val b = mk(400, 1000)
    a.createOrReplaceTempView("stats_sql_a"); b.createOrReplaceTempView("stats_sql_b")
    val df = spark.sql(
      """SELECT a.id AS a_id, b.id AS b_id FROM stats_sql_a a JOIN stats_sql_b b
        | ON st_intersects(a.xmin, a.xmax, a.ymin, a.ymax,
        |                  b.xmin, b.xmax, b.ymin, b.ymax)""".stripMargin)
    val jobs = jobsDuring { df.queryExecution.optimizedPlan }
    assert(jobs == 1, s"optimizing must run exactly one job, got $jobs jobs")
    val want = SpatialJoins.broadcastNL(a, b)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == want && want.nonEmpty)
  }

  test("scheme sampling plans from stats: no full count() pass before the sample") {
    // r4 ran u.count() — a FULL read of both inputs — before sizing the
    // sample fraction for STP/BSP boundary building. The estimate now comes
    // from Catalyst stats (zero jobs) and the draw checks it, so scheme
    // build is exactly the one sample+head action.
    val a = mk(400, 0); val b = mk(400, 1000)
    a.count(); b.count() // settle any lazy session init outside the window
    var stp: graft.cells.SortTileScheme = null
    val jobs = jobsDuring {
      stp = graft.cells.SortTileScheme.build(a, b, graft.geom.Extent(0, 100, 0, 100), 4, 4)
    }
    // head() escalates through up to ~3 incremental partition-probe jobs;
    // the r4 count()-first version added a full-scan job on top of these
    assert(jobs <= 3, s"scheme build must be stats + one bounded sample, got $jobs jobs")
    // the data-quantile boundaries must actually come from the sample
    // (non-degenerate: not all equal to the uniform fallback is not required,
    // only that the scheme is usable and the join it drives stays exact)
    val got = SpatialJoins.sortTileJoin(a, b, stp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = SpatialJoins.broadcastNL(a, b)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && want.nonEmpty)
  }

  test("bsp scheme build small estimate: bounded confirm only (≤ 3 jobs)") {
    // parquet inputs, so the scans report the rows they read
    val dir = java.nio.file.Files.createTempDirectory("bsp-sample").toString
    mk(300, 0).write.parquet(s"$dir/a"); mk(300, 1000).write.parquet(s"$dir/b")
    import spark.implicits._
    val a = spark.read.parquet(s"$dir/a").as[Geom]
    val b = spark.read.parquet(s"$dir/b").as[Geom]
    val read = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) read.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    var bsp: graft.cells.BinarySplitScheme = null
    spark.sparkContext.addSparkListener(l)
    val jobs = try jobsDuring {
      // a small estimate → fraction 1 → ONE head(4·MaxSample) draw, which
      // returns fewer rows than its cap: it read every partition once, and
      // its rows are the sample
      bsp = graft.cells.BinarySplitScheme.build(a, b, graft.geom.Extent(0, 100, 0, 100), 4)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs <= 3, s"bsp build must be one bounded draw, got $jobs jobs")
    // the draw IS the sample: no input row is read twice
    assert(read.get > 0 && read.get <= 600, s"planning read ${read.get} rows of 600")
    val got = SpatialJoins.binarySplitJoin(a, b, bsp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = SpatialJoins.broadcastNL(a, b)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && want.nonEmpty)
  }

  /** A Filter keeps its child's sizeInBytes: millions of estimated rows,
    * 400 real ones. Planning must not read the estimate's size: small and
    * large estimates run the same one evidence job.
    */
  private def big(off: Long, mx: Long, my: Long): Dataset[Geom] = {
    import spark.implicits._
    spark.range(0L, 10000000L, 1L, 4).filter(col("id") < 400)
      .select((col("id") + off).as("id"),
        pmod(col("id") * mx, lit(90L)).cast("double").as("xmin"),
        (pmod(col("id") * mx, lit(90L)) + 5).cast("double").as("xmax"),
        pmod(col("id") * my, lit(90L)).cast("double").as("ymin"),
        (pmod(col("id") * my, lit(90L)) + 5).cast("double").as("ymax"))
      .as[Geom]
  }

  private val ext = graft.geom.Extent(0, 100, 0, 100)

  /** The entry points that plan from the one evidence job besides intersectJoin. */
  private val evidencePlanned: Seq[(String, (Dataset[Geom], Dataset[Geom]) => DataFrame)] = Seq(
    "stripesJoin" -> (SpatialJoins.stripesJoin(_, _, ext, 16)),
    "stripesJoinAuto" -> (SpatialJoins.stripesJoinAuto(_, _, ext, 16)))

  test("stripes joins run exactly ONE planning job on small inputs") {
    val a = mk(400, 0); val b = mk(400, 1000)
    for ((name, join) <- evidencePlanned) withClue(s"$name: ")(onePlanningJob(a, b, join))
  }

  test("stripesJoin on a large estimate runs exactly ONE planning job") {
    val a = big(0, 37, 53); val b = big(1000, 29, 61)
    assert(SpatialJoins.estRowsFromStats(a) >= 1e6)
    onePlanningJob(a, b, SpatialJoins.stripesJoin(_, _, ext, 16))
  }

  test("stripesJoinAuto on a large estimate measures ONCE for both axis and route") {
    val a = big(0, 37, 53); val b = big(1000, 29, 61)
    assert(SpatialJoins.estRowsFromStats(a) >= 1e6)
    // the axis choice, the route and the occupancy filter read the same
    // single aggregation
    onePlanningJob(a, b, SpatialJoins.stripesJoinAuto(_, _, ext, 16))
  }

  test("gridJoinSweep runs NO planning job") {
    // the forced keyed reduce is a pure function of its grid: building it
    // reads no input, on small and on large estimates alike
    for ((a, b) <- Seq(mk(400, 0) -> mk(400, 1000), big(0, 37, 53) -> big(1000, 29, 61))) {
      var planned: DataFrame = null
      val jobs = jobsDuring { planned = SpatialJoins.gridJoinSweep(a, b, CellScheme(ext, 8, 8)) }
      assert(jobs == 0, s"gridJoinSweep ran $jobs planning job(s)")
      val want = SpatialJoins.broadcastNL(a, b)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = planned.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want && want.nonEmpty)
    }
  }

  test("a draw far under the estimate's expected size re-counts: the sample is all 800 rows") {
    val a = big(0, 37, 53); val b = big(1000, 29, 61)
    assert(SpatialJoins.estRowsFromStats(a) >= 1e6)
    // the estimate's fraction would keep about ten of the 800 real rows, so
    // the plan would be cut from ten points; the draw's own size shows the
    // estimate wrong and one count sizes the sample instead
    val (sa, sb, fraction) = graft.cells.SchemeSampling.sample(a, b, seed = 17L)
    assert(fraction == 1.0)
    assert(sa.map(_.id).toSet == (0L until 400L).toSet)
    assert(sb.map(_.id).toSet == (1000L until 1400L).toSet)
  }

  test("gridJoinAdaptive on a large estimate plans from the bounded sample") {
    val a = big(0, 37, 53); val b = big(1000, 29, 61)
    assert(SpatialJoins.estRowsFromStats(a) >= 1e6)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    var planned: DataFrame = null
    val jobs = jobsDuring {
      planned = SpatialJoins.gridJoinAdaptive(a, b, CellScheme(ext, 8, 8), budgetPairs = 1000)
    }
    // the one evidence job first: its exact counts size the sample, which
    // is then one collect (no estimate, no bounded confirm, no head()
    // probes), and the split rule runs on the driver. The sparse sample
    // plans no splits, so the base grid's route comes from the same
    // evidence, as every planned route's does. Nothing is persisted.
    assert(jobs == 2, s"adaptive planning ran $jobs job(s)")
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
    val want = SpatialJoins.broadcastNL(a, b)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = planned.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && want.nonEmpty)
  }

  test("grid path forced onto EMPTY inputs returns empty, no NPE") {
    // stats over-estimate filtered scans, so small() can be false for an
    // empty input — the min/max extent agg then returns nulls; the guard
    // must route to broadcastNL instead of constructing Extent from nulls
    val a = mk(400, 0).filter(_.id < -1)
    val b = mk(400, 1000).filter(_.id < -1)
    assert(SpatialJoins.intersectJoin(a, b, broadcastThreshold = 0L).count() == 0L)
    // one side empty, forced past the broadcast check as well
    assert(SpatialJoins.intersectJoin(a, mk(400, 1000), broadcastThreshold = 0L).count() == 0L)
  }
}
