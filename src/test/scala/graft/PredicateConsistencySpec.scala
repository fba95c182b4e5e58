package graft

import graft.join.SpatialJoins.{containsPred, intersectPred, minDistCol, withinPred}
import graft.plans.GraftSql
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Each st_* predicate gives the DataFrame predicate's pairs (the oracle, a
  * broadcast nested loop on `intersectPred`, `withinPred`, …) in every SQL
  * form, on rows with NaN, ±∞, inverted and null coordinates:
  *  (a) the join the rule rewrites into the cell join, either side first;
  *  (b) the same join with `OR a.id < 0`, which Spark plans as a nested loop
  *      (a broadcast one, or a cartesian product with the condition);
  *  (c) the predicate's projected value over the cross product.
  */
class PredicateConsistencySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val schema = StructType(StructField("id", LongType, nullable = false) +:
    Seq("xmin", "xmax", "ymin", "ymax").map(StructField(_, DoubleType, nullable = true)))

  /** Rows `(id, xmin, xmax, ymin, ymax)`; None is a null coordinate. */
  private def frame(rows: Seq[(Long, Seq[Option[Double]])]): DataFrame = {
    val rs = rows.map { case (id, c) => Row.fromSeq(id +: c.map(_.map(Double.box).orNull)) }
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 3), schema)
  }

  private def rects(seed: Int, n: Int, off: Long): Seq[(Long, Seq[Option[Double]])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val x = rnd.nextDouble() * 95; val y = rnd.nextDouble() * 95
      (off + i, Seq(x, x + rnd.nextDouble() * 15, y, y + rnd.nextDouble() * 15).map(Some(_)))
    }
  }

  private val (nan, inf) = (Double.NaN, Double.PositiveInfinity)

  /** NaN, ±∞, inverted and null coordinates, and boxes large enough that
    * the hostile rows lie within them (an inverted row within (40, 48, 35,
    * 65) does not meet it as it stands).
    */
  private def hostile(off: Long): Seq[(Long, Seq[Option[Double]])] = (Seq[Seq[Double]](
    Seq(nan, 50, 40, 60), Seq(40, nan, 40, 60), Seq(40, 60, nan, 60), Seq(40, 60, 40, nan),
    Seq(-inf, 10, 40, 45), Seq(40, inf, 40, 45), Seq(40, 45, -inf, 10), Seq(-inf, inf, -inf, inf),
    Seq(50, 45, 40, 60), Seq(40, 60, 50, 45), Seq(30, 29.5, 30, 30),
    Seq(0, 100, 0, 100), Seq(30, 70, 30, 70), Seq(40, 48, 35, 65), Seq(40, 40, 40, 40)
  ).map(_.map(Option(_))) ++ Seq(
    Seq(None, Some(50.0), Some(40.0), Some(60.0)), Seq(Some(40.0), None, Some(40.0), Some(60.0)),
    Seq(Some(40.0), Some(60.0), None, Some(60.0)), Seq(Some(40.0), Some(60.0), Some(40.0), None),
    Seq(None, None, None, None))
  ).zipWithIndex.map { case (c, i) => (off + i, c) }

  private def pairs(df: DataFrame): Vector[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toVector.sorted

  private val Radius = 3.0

  /** Each st_* function, its extra SQL argument and its DataFrame oracle.
    * A null coordinate has no distance, so st_dwithin's oracle skips it.
    */
  private val predicates: Seq[(String, String, Column)] = Seq(
    ("st_intersects", "", intersectPred),
    ("st_within", "", withinPred),
    ("st_contains", "", containsPred),
    ("st_dwithin", s", ${Radius}D", minDistCol <= Radius &&
      Seq("a", "b").flatMap(p => Seq("xmin", "xmax", "ymin", "ymax").map(c => col(s"${p}_$c")))
        .map(_.isNotNull).reduce(_ && _)))

  private def consistent(a: DataFrame, b: DataFrame, points: Boolean = false): Unit = {
    GraftSql.install(spark)
    a.createOrReplaceTempView("cons_a"); b.createOrReplaceTempView("cons_b")
    def pref(df: DataFrame, p: String) = df.toDF(df.columns.map(c => s"${p}_$c"): _*)
    val coords = "a.xmin, a.xmax, a.ymin, a.ymax, b.xmin, b.xmax, b.ymin, b.ymax"
    for ((fn, extra, oracle) <- predicates) {
      val want = pairs(pref(a, "a").join(broadcast(pref(b, "b")), oracle).select("a_id", "b_id"))
      val call = s"$fn($coords$extra)"
      def sql(from: String, on: String) = spark.sql(s"SELECT a.id, b.id FROM $from ON $on")
      for (from <- Seq("cons_a a JOIN cons_b b", "cons_b b JOIN cons_a a")) {
        val joined = sql(from, call)
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
          s"$fn over $from: the rewrite did not fire\n$plan")
        // st_dwithin's candidate box is the point grown by the radius
        if (points && fn != "st_dwithin") {
          val gens = joined.queryExecution.optimizedPlan.collect {
            case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }.size
          assert(gens == 1, s"$fn over $from: the point side must not be exploded")
        }
        assert(pairs(joined) == want, s"(a) $fn over $from")
      }
      val nested = sql("cons_a a JOIN cons_b b", s"$call OR a.id < 0")
      val loop = nested.queryExecution.executedPlan.toString
      assert(loop.contains("NestedLoopJoin") || loop.contains("CartesianProduct"), loop)
      assert(pairs(nested) == want, s"(b) $fn OR a.id < 0")
      val projected = spark.sql(s"SELECT a.id, b.id, $call FROM cons_a a CROSS JOIN cons_b b")
        .collect().filter(r => !r.isNullAt(2) && r.getBoolean(2))
        .map(r => (r.getLong(0), r.getLong(1))).toVector.sorted
      assert(projected == want, s"(c) projected $fn")
      assert(want.nonEmpty, s"$fn: no pairs")
    }
  }

  test("NaN, ±∞, inverted and null coordinates: every st_* form gives the oracle's pairs") {
    consistent(frame(rects(1, 300, 0) ++ hostile(900)), frame(rects(2, 300, 1000) ++ hostile(1900)))
  }

  test("a point side with null coordinates takes the point plan and gives the oracle's pairs") {
    val rnd = new scala.util.Random(3)
    val pts = (0 until 2000).map { i =>
      val (x, y) = (rnd.nextDouble() * 100, rnd.nextDouble() * 100)
      (i.toLong, Seq(x, x, y, y).map(Some(_)))
    }
    // a null max reads as the point (xmin, ymin) in the plan; the st_* call
    // still sees the null
    val nulls = Seq(Seq(Some(40.0), Some(40.0), Some(40.0), Some(40.0)),
      Seq(Some(40.0), None, Some(40.0), Some(40.0)),
      Seq(Some(40.0), Some(40.0), Some(40.0), None), Seq(None, Some(40.0), Some(40.0), Some(40.0)),
      Seq(None, None, None, None)).zipWithIndex.map { case (c, i) => (5000L + i, c) }
    consistent(frame(pts ++ nulls), frame(rects(4, 200, 10000) ++ hostile(20000)), points = true)
  }
}
