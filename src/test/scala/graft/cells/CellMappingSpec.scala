package graft.cells

import graft.TestSpark
import graft.geom.{Extent, Geom}
import graft.join.SpatialJoins
import graft.skew.AdaptiveScheme
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, ElementAt, Expression,
  GenericInternalRow, Literal, Size}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

/** [[CellsOf]] and [[CellOf]] are the only way plans key rows, so they must
  * give exactly the Scala mapping's keys, interpreted and in generated code,
  * for every scheme and on every hostile coordinate.
  */
class CellMappingSpec extends AnyFunSuite {
  private val ext = Extent(0, 100, 0, 100)

  private val schemes: Seq[(String, CellMapping)] = Seq(
    "grid" -> CellScheme(ext, 7, 5),
    "adaptive" -> AdaptiveScheme(CellScheme(ext, 4, 4), Map(0L -> 3, 5L -> 2, 10L -> 7, 15L -> 4)),
    "sort-tile" -> SortTileScheme(ext, Array(20.0, 55.0, 80.0),
      Array(Array(10.0, 50.0), Array(30.0, 60.0), Array(25.0, 75.0), Array(40.0, 90.0))),
    "binary-split" -> BinarySplitScheme(ext, 3,
      Array(true, false, false, true, true, true, true),
      Array(50.0, 30.0, 70.0, 20.0, 80.0, 25.0, 60.0)))

  private val coords: Seq[Expression] = (0 until 4).map(BoundReference(_, DoubleType, nullable = true))
  private def exprs(m: CellMapping): Seq[Expression] =
    Seq(CellsOf(m, coords), CellOf(m, Seq(coords(0), coords(2))))

  /** Coordinates on cell, sub-cell and boundary edges, NaN, ±∞, outside the extent. */
  private val edges: Seq[Double] = Seq(0.0, 100.0, 100.0 / 7, 300.0 / 7, 20.0, 25.0, 100.0 / 12,
    50.0, 55.0, 60.0, 75.0, 80.0, -1.0, 101.0, Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, -0.0)

  private def rows: Seq[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    def v() = if (rnd.nextInt(3) == 0) edges(rnd.nextInt(edges.size)) else rnd.nextDouble() * 110 - 5
    // a random order of the two ends gives inverted rows as well
    Seq.fill(3000)(Array(v(), v(), v(), v())) ++
      (for (x <- edges; y <- edges) yield Array(x, x, y, y)) ++
      (for (x <- edges; y <- edges) yield Array(x, y, y, x))
  }

  private def row(v: Array[Double]): InternalRow = new GenericInternalRow(v.map(d => d: Any))

  test("CellsOf/CellOf equal the Scala mapping: interpreted and generated, all four schemes") {
    for ((name, m) <- schemes) {
      val unsafe = GenerateUnsafeProjection.generate(exprs(m))
      for (v <- rows) {
        val Array(x0, x1, y0, y1) = v
        val keys = m.cellsOf(x0, x1, y0, y1).toArray
        val owner = m.cellOf(x0, y0)
        val Seq(cs, c) = exprs(m).map(_.eval(row(v)))
        assert(cs.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq ==
          keys.toSeq, s"$name interpreted cells of ${v.toSeq}")
        assert(c == owner, s"$name interpreted cell of ${v.toSeq}")
        val u = unsafe(row(v))
        assert(u.getArray(0).toLongArray().toSeq == keys.toSeq, s"$name generated cells of ${v.toSeq}")
        assert(u.getLong(1) == owner, s"$name generated cell of ${v.toSeq}")
        assert(keys.nonEmpty && keys.distinct.length == keys.length, s"$name keys of ${v.toSeq}")
      }
    }
  }

  test("a null coordinate: no CellsOf keys; CellOf keys it as NaN") {
    for ((name, m) <- schemes) {
      val unsafe = GenerateUnsafeProjection.generate(exprs(m))
      for (i <- 0 until 4) {
        val in = new GenericInternalRow(Array[Any](1.0, 2.0, 3.0, 4.0))
        in.setNullAt(i)
        val nan = row(Array(1.0, 2.0, 3.0, 4.0).updated(i, Double.NaN))
        val owner = exprs(m)(1).eval(nan)
        val Seq(cs, c) = exprs(m).map(_.eval(in))
        assert(cs == null, s"$name interpreted cells, null at $i")
        assert(c == owner, s"$name interpreted cell, null at $i")
        val u = unsafe(in)
        assert(u.isNullAt(0), s"$name generated cells, null at $i")
        assert(!u.isNullAt(1) && u.getLong(1) == owner, s"$name generated cell, null at $i")
      }
    }
  }

  test("withCells replicates exactly the Scala keys in a Spark plan, all four schemes") {
    val spark = TestSpark.spark
    import spark.implicits._
    val gs = rows.zipWithIndex.map { case (Array(x0, x1, y0, y1), i) => Geom(i, x0, x1, y0, y1) }
    val df = gs.toDS().toDF("a_id", "a_xmin", "a_xmax", "a_ymin", "a_ymax")
    for ((name, m) <- schemes) {
      val got = SpatialJoins.withCells(df, m, "a").select("a_id", "cell").as[(Long, Long)].collect()
      val want = gs.flatMap(g => m.cellsOf(g).map(k => (g.id, k)))
      assert(got.sorted.toSeq == want.sorted, name)
    }
  }

  test("a map-spanning row of an 8192×8192 grid streams 67,108,864 keys in O(1) memory") {
    val s = CellScheme(Extent(0, 8192, 0, 8192), 8192, 8192)
    val n = 8192L * 8192
    val in = row(Array(-1.0, Double.PositiveInfinity, Double.NaN, -5.0))
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def allocated = threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum
    // a materialized key array alone would be 8·n = 512 MiB
    val bound = 128L << 20
    // interpreted: every key read through the array, none stored
    var before = allocated
    val keys = CellsOf(s, coords).eval(in).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(keys.numElements() == n)
    var sum = 0L
    var i = 0
    while (i < n) { sum += keys.getLong(i); i += 1 }
    assert(sum == n * (n - 1) / 2)
    assert(allocated - before < bound, "interpreted")
    // generated: the size and the first and last keys, read in generated code
    before = allocated
    val ends = GenerateUnsafeProjection.generate(Seq(Size(CellsOf(s, coords)),
      ElementAt(CellsOf(s, coords), Literal(1)), ElementAt(CellsOf(s, coords), Literal(n.toInt))))(in)
    assert(ends.getInt(0) == n && ends.getLong(1) == 0L && ends.getLong(2) == n - 1)
    assert(allocated - before < bound, "generated")
    // and explode streams them into the count in one whole-stage generated
    // stage (a stage that ends in an exchange instead buffers one input
    // row's exploded rows before the writer sees them, however they are keyed)
    val spark = TestSpark.spark
    import spark.implicits._
    def exploded(g: Geom) = SpatialJoins.withCells(
      Seq(g).toDS().toDF("a_id", "a_xmin", "a_xmax", "a_ymin", "a_ymax"), s, "a")
    assert(exploded(Geom(0, 1, 2, 1, 2)).count() == 4) // plans and compiles the same code
    before = allocated
    assert(exploded(Geom(0, -1, Double.PositiveInfinity, Double.NaN, -5)).count() == n)
    assert(allocated - before < bound, "explode")
  }
}
