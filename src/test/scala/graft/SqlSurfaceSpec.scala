package graft

import graft.cells.CellScheme
import graft.plans.GraftSql
import org.scalatest.funsuite.AnyFunSuite

class SqlSurfaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("st_intersects join is rewritten to the cell plan and matches the oracle") {
    GraftSql.install(spark)
    val dir = "/root/testdata/sf0.001"
    val a = graft.api.Derived.partRects.load(spark, dir)
    val b = graft.api.Derived.ordersRects.load(spark, dir)
    a.createOrReplaceTempView("sql_a")
    b.createOrReplaceTempView("sql_b")
    val df = spark.sql(
      """SELECT a.id AS a_id, b.id AS b_id FROM sql_a a JOIN sql_b b
        | ON st_intersects(a.xmin, a.xmax, a.ymin, a.ymax,
        |                  b.xmin, b.xmax, b.ymin, b.ymax)""".stripMargin)
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"),
      s"rewrite did not fire:\n$phys")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.join.SpatialJoins.broadcastNL(a, b)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(want.nonEmpty)
    // a join hint reaches the cell equi-join
    val hinted = spark.sql(
      """SELECT /*+ SHUFFLE_HASH(b) */ a.id AS a_id, b.id AS b_id FROM sql_a a JOIN sql_b b
        | ON st_intersects(a.xmin, a.xmax, a.ymin, a.ymax,
        |                  b.xmin, b.xmax, b.ymin, b.ymax)""".stripMargin)
    val hPhys = hinted.queryExecution.executedPlan.toString
    assert(hPhys.contains("ShuffledHashJoin") && !phys.contains("ShuffledHashJoin"), hPhys)
    assert(hinted.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == want)
  }

  test("st_within / st_contains / st_dwithin joins rewrite and match brute force") {
    GraftSql.install(spark)
    val dir = "/root/testdata/sf0.001"
    val a = graft.api.Derived.partRects.load(spark, dir)
    val b = graft.api.Derived.ordersRects.load(spark, dir)
    a.createOrReplaceTempView("sqlv_a")
    b.createOrReplaceTempView("sqlv_b")
    import org.apache.spark.sql.functions._
    val coords = "a.xmin, a.xmax, a.ymin, a.ymax, b.xmin, b.xmax, b.ymin, b.ymax"
    def run(fn: String, extra: String = "") = {
      val df = spark.sql(
        s"SELECT a.id AS a_id, b.id AS b_id FROM sqlv_a a JOIN sqlv_b b ON $fn($coords$extra)")
      val phys = df.queryExecution.executedPlan.toString
      assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"),
        s"$fn rewrite did not fire:\n$phys")
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def pref(ds: org.apache.spark.sql.Dataset[graft.geom.Geom], p: String) =
      ds.toDF(s"${p}_id", s"${p}_xmin", s"${p}_xmax", s"${p}_ymin", s"${p}_ymax")
    def brute(p: org.apache.spark.sql.Column) =
      pref(a, "a").join(broadcast(pref(b, "b")), p)
        .select(col("a_id"), col("b_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    import graft.join.SpatialJoins.{withinPred, containsPred, minDistCol}
    assert(run("st_within") == brute(withinPred))
    assert(run("st_contains") == brute(containsPred))
    assert(run("st_dwithin", ", 8.0D") == brute(minDistCol <= 8.0))
    assert(run("st_within").nonEmpty && run("st_contains").nonEmpty)
  }

  test("FLOAT, DECIMAL and INT coordinates and a non-double radius rewrite and match the oracle") {
    GraftSql.install(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    def side(idBase: Long) = (0 until 1000).map { i =>
      val x = rnd.nextDouble() * 95; val y = rnd.nextDouble() * 95
      graft.geom.Geom(idBase + i, x, x + rnd.nextDouble() * 8, y, y + rnd.nextDouble() * 8)
    }.toDS()
    val (a, b) = (side(0L), side(10000L))
    import graft.join.SpatialJoins.{containsPred, intersectPred, minDistCol, withinPred}
    import org.apache.spark.sql.functions._
    def typed(df: org.apache.spark.sql.DataFrame, t: String) =
      df.select(col("id") +: Seq("xmin", "xmax", "ymin", "ymax").map(c => col(c).cast(t).as(c)): _*)
    def pref(df: org.apache.spark.sql.DataFrame, p: String) = df.toDF(df.columns.map(c => s"${p}_$c"): _*)
    for ((t, r) <- Seq("FLOAT" -> "CAST(8 AS FLOAT)", "DECIMAL(10,2)" -> "CAST(8 AS DECIMAL(10,2))",
        "INT" -> "8")) {
      val (ta, tb) = (typed(a.toDF(), t), typed(b.toDF(), t))
      ta.createOrReplaceTempView("typed_a"); tb.createOrReplaceTempView("typed_b")
      // the st_* args are cast to double, so the oracle reads the typed
      // coordinates as doubles too
      val (da, db) = (pref(typed(ta, "double"), "a"), pref(typed(tb, "double"), "b"))
      for ((fn, extra, oracle) <- Seq(("st_intersects", "", intersectPred),
          ("st_within", "", withinPred), ("st_contains", "", containsPred),
          ("st_dwithin", s", $r", minDistCol <= 8.0))) {
        val df = spark.sql(s"SELECT a.id, b.id FROM typed_a a JOIN typed_b b ON $fn(" +
          s"a.xmin, a.xmax, a.ymin, a.ymax, b.xmin, b.xmax, b.ymin, b.ymax$extra)")
        val phys = df.queryExecution.executedPlan.toString
        assert(!phys.contains("NestedLoopJoin") && !phys.contains("CartesianProduct"),
          s"$fn over $t: the rewrite did not fire\n$phys")
        val want = da.join(broadcast(db), oracle).select("a_id", "b_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == want, s"$fn over $t")
        assert(want.nonEmpty || fn != "st_intersects", s"$fn over $t: no pairs")
      }
    }
  }

  test("structural point side: PIP rewrite (no point-side generator, no ownership), oracle-equal") {
    GraftSql.install(spark)
    val dir = "/root/testdata/sf0.001"
    val p = graft.api.Derived.customerPoints.load(spark, dir)
    val b = graft.api.Derived.partRects.load(spark, dir)
    // a raw (x, y) point table — the min/max coordinate args are the SAME
    // column; the evidence job finds the point side by value
    p.toDF().selectExpr("id", "xmin AS x", "ymin AS y").createOrReplaceTempView("sqlp_p")
    b.createOrReplaceTempView("sqlp_b")
    val df = spark.sql(
      """SELECT p.id AS a_id, b.id AS b_id FROM sqlp_p p JOIN sqlp_b b
        | ON st_intersects(p.x, p.x, p.y, p.y,
        |                  b.xmin, b.xmax, b.ymin, b.ymax)""".stripMargin)
    val opt = df.queryExecution.optimizedPlan
    val gens = opt.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }.size
    assert(gens == 1, s"point side must not be exploded (got $gens generators)")
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.join.SpatialJoins.broadcastNL(p, b)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && want.nonEmpty)
    // distinct min/max COLUMNS holding equal values are points too: the
    // evidence reads values, not the shape of the call
    p.toDF().createOrReplaceTempView("sqlp_p4")
    val generic = spark.sql(
      """SELECT p.id FROM sqlp_p4 p JOIN sqlp_b b
        | ON st_intersects(p.xmin, p.xmax, p.ymin, p.ymax,
        |                  b.xmin, b.xmax, b.ymin, b.ymax)""".stripMargin)
    val gGens = generic.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }.size
    assert(gGens == 1, "equal min/max values must take the point plan")
    assert(generic.count() == want.size)
  }

  test("data far outside 0..10000 plans on intersectJoin's grid and matches the oracle") {
    GraftSql.install(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    def side(idBase: Long) = (0 until 2000).map { i =>
      val x = 1e6 + rnd.nextDouble() * 1000; val y = 1e6 + rnd.nextDouble() * 1000
      graft.geom.Geom(idBase + i, x, x + rnd.nextDouble() * 4, y, y + rnd.nextDouble() * 4)
    }.toDS()
    val (a, b) = (side(0L), side(10000L))
    a.createOrReplaceTempView("far_a"); b.createOrReplaceTempView("far_b")
    val df = spark.sql(
      """SELECT a.id AS a_id, b.id AS b_id FROM far_a a JOIN far_b b
        | ON st_intersects(a.xmin, a.xmax, a.ymin, a.ymax,
        |                  b.xmin, b.xmax, b.ymin, b.ymax)""".stripMargin)
    // every cell mapping the plan keys rows through: one planner means the
    // SQL plan's is the one intersectJoin picks on the same frames
    def mappings(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case c: graft.cells.CellsOf => c.mapping
        case c: graft.cells.CellOf => c.mapping
      })).toSet
    val api = mappings(graft.join.SpatialJoins.intersectJoin(a, b, broadcastThreshold = 0L))
    assert(mappings(df) == api && api.size == 1, s"SQL ${mappings(df)} vs intersectJoin $api")
    val grid = api.head.asInstanceOf[graft.cells.CellScheme]
    assert(grid.nx > 1 && grid.ny > 1 && grid.extent.xmin >= 1e6, s"grid $grid")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.join.SpatialJoins.broadcastNL(a, b)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && want.nonEmpty)
  }

  test("wide rectangles take the Sweep route at any size: SQL on the declarative body, oracle-equal") {
    GraftSql.install(spark)
    import graft.join.{Route, SpatialJoins}
    // 1,000 rows whose edges reach 700 on a 1000-wide map: each replicates
    // into many cells, so even an 8 x 8 grid has dense cells
    val a = graft.ingest.Workloads.uniformPolygons(spark, 1000, seed = 1, mapEdge = 1000.0, objEdge = 700.0)
    val b = graft.ingest.Workloads.uniformPolygons(spark, 1000, seed = 2, mapEdge = 1000.0, objEdge = 700.0)
    val ev = SpatialJoins.evidenceOf(a, b)
    val grid = CellScheme.forSize(ev.extent.get, math.max(ev.countA, ev.countB), 16, maxN = 8192)
    assert(SpatialJoins.route(ev, grid).isInstanceOf[Route.Sweep], s"route on $grid")
    a.createOrReplaceTempView("wide_a"); b.createOrReplaceTempView("wide_b")
    val df = spark.sql(
      """SELECT a.id AS a_id, b.id AS b_id FROM wide_a a JOIN wide_b b
        | ON st_intersects(a.xmin, a.xmax, a.ymin, a.ymax,
        |                  b.xmin, b.xmax, b.ymin, b.ymax)""".stripMargin)
    // the SQL sides carry every column, so the Sweep route runs on the
    // declarative body; the DataFrame API's id pairs take the keyed reduce
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("cells_of") && !phys.contains("KeyedGeom"), phys)
    val want = SpatialJoins.broadcastNL(a, b)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == want && want.nonEmpty)
    val api = SpatialJoins.intersectJoin(a, b, broadcastThreshold = 0L)
    val apiPhys = api.queryExecution.executedPlan.toString
    assert(apiPhys.contains("KeyedGeom"), apiPhys)
    assert(api.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == want)
  }

  test("st_intersects evaluates standalone (marker expression fallback)") {
    GraftSql.install(spark)
    val r = spark.sql(
      "SELECT st_intersects(0.0, 1.0, 0.0, 1.0, 1.0, 2.0, 1.0, 2.0) AS touch, " +
      "st_intersects(0.0, 1.0, 0.0, 1.0, 1.5, 2.0, 0.0, 1.0) AS gap").head()
    assert(r.getBoolean(0) && !r.getBoolean(1))
  }

  test("simhash64 is available in SQL") {
    GraftSql.install(spark)
    val r = spark.sql("SELECT simhash64('hello world') AS h").head().getLong(0)
    import org.apache.spark.unsafe.types.UTF8String
    assert(r == graft.functions.SimHash.hash64(UTF8String.fromString("hello world")))
  }

  test("a session built withExtensions(new GraftExtensions) has the functions and the rewrite") {
    import org.apache.spark.sql.SparkSession
    GraftSql.install(spark)
    // st_within holds, st_contains does not, st_dwithin holds at 0.5 apart
    val fns = "SELECT st_intersects(0.0, 1.0, 0.0, 1.0, 1.0, 2.0, 1.0, 2.0), " +
      "st_within(0.2, 0.8, 0.2, 0.8, 0.0, 1.0, 0.0, 1.0), " +
      "st_contains(0.2, 0.8, 0.2, 0.8, 0.0, 1.0, 0.0, 1.0), " +
      "st_dwithin(0.0, 1.0, 0.0, 1.0, 1.5, 2.0, 0.0, 1.0, 0.5D), simhash64('hello world')"
    val want = spark.sql(fns).head()
    assert(want.getBoolean(0) && want.getBoolean(1) && !want.getBoolean(2) && want.getBoolean(3))
    // extensions apply only when a session is created: build a second one on
    // the shared SparkContext, then hand the shared session back
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder().withExtensions(new graft.plans.GraftExtensions).getOrCreate()
      assert(ext ne spark)
      assert(ext.sql(fns).head() == want)
      import ext.implicits._
      val rnd = new scala.util.Random(21)
      def side(idBase: Long) = (0 until 300).map { i =>
        val x = rnd.nextDouble() * 95; val y = rnd.nextDouble() * 95
        graft.geom.Geom(idBase + i, x, x + 5, y, y + 5)
      }.toDS()
      val (a, b) = (side(0L), side(1000L))
      a.createOrReplaceTempView("ext_a"); b.createOrReplaceTempView("ext_b")
      val df = ext.sql(
        """SELECT a.id AS a_id, b.id AS b_id FROM ext_a a JOIN ext_b b
          | ON st_intersects(a.xmin, a.xmax, a.ymin, a.ymax,
          |                  b.xmin, b.xmax, b.ymin, b.ymax)""".stripMargin)
      val phys = df.queryExecution.executedPlan.toString
      assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"),
        s"rewrite did not fire:\n$phys")
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val oracle = graft.join.SpatialJoins.broadcastNL(a, b)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == oracle && oracle.nonEmpty)
    } finally {
      SparkSession.setActiveSession(spark); SparkSession.setDefaultSession(spark)
    }
  }
}
