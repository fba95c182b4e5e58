package graft.join

import graft.geom.{Geom, SqlOrder}
import graft.geom.SqlOrder.le

/** Array-packed STR R-tree over one cell's rectangles — the Spark-side
  * re-expression of the reference's per-partition index (STR packing
  * `spatial-join-baseline/cpp/Tree_generation.hpp:595-641`, query traversal
  * `cpp/RTree.h:114-165`). Built per cell over the SMALLER side and
  * probed with the other side's rectangles; `gridJoinSweep` switches to it
  * when a cell is dense enough that the plane sweep's y-overlap runs
  * degenerate toward |A|·|B|.
  *
  * Layout: leaves are consecutive `leafSize` runs of the STR-ordered item
  * array (sort by x-center → √L vertical slices → sort each slice by
  * y-center); internal levels group `leafSize` consecutive child nodes.
  * Everything lives in primitive arrays — no per-node objects, cache-friendly
  * probes, zero allocation per query.
  */
final class STRTree private (
    val items: Array[Geom],
    nx0: Array[Double], nx1: Array[Double], ny0: Array[Double], ny1: Array[Double],
    childStart: Array[Int], childEnd: Array[Int], leafNode: Array[Boolean],
    root: Int) {

  // reusable traversal stack: trees are task-local (built per cell),
  // so probe calls are single-threaded — one buffer serves every probe with
  // zero per-call allocation. NOT safe to share one tree across threads.
  private var stack = new Array[Int](32)

  /** Structural view for serialization ([[graft.sources.TreeBin]]):
    * (x0, x1, y0, y1, childStart, childEnd, isLeaf, rootIdx). Children of
    * internal node n are NODE indices cs(n) until ce(n); of a leaf, ITEM
    * indices into `items`.
    */
  private[graft] def structure: (Array[Double], Array[Double], Array[Double],
      Array[Double], Array[Int], Array[Int], Array[Boolean], Int) =
    (nx0, nx1, ny0, ny1, childStart, childEnd, leafNode, root)

  /** Visit every item whose MBR intersects the (inclusive) query rect,
    * compared in SQL order ([[graft.geom.SqlOrder]]).
    */
  def foreachIntersecting(qx0: Double, qx1: Double, qy0: Double, qy1: Double)
                         (f: Geom => Unit): Unit = {
    if (items.isEmpty) return
    var top = 0
    stack(top) = root; top += 1
    while (top > 0) {
      top -= 1
      val n = stack(top)
      if (SqlOrder.intersects(qx0, qx1, qy0, qy1, nx0(n), nx1(n), ny0(n), ny1(n))) {
        var i = childStart(n)
        val end = childEnd(n)
        if (leafNode(n)) {
          while (i < end) {
            val g = items(i)
            if (SqlOrder.intersects(qx0, qx1, qy0, qy1, g.xmin, g.xmax, g.ymin, g.ymax)) f(g)
            i += 1
          }
        } else {
          while (i < end) {
            if (top == stack.length) stack = java.util.Arrays.copyOf(stack, stack.length * 2)
            stack(top) = i; top += 1
            i += 1
          }
        }
      }
    }
  }
}

object STRTree {

  def build(input: Array[Geom], leafSize: Int = 16): STRTree = {
    val items = input.clone()
    val n = items.length
    if (n == 0)
      return new STRTree(items, Array(0.0), Array(0.0), Array(0.0), Array(0.0),
        Array(0), Array(0), Array(true), 0)
    // ---- STR packing of the item array --------------------------------------
    val nLeaves = (n + leafSize - 1) / leafSize
    val slices = math.ceil(math.sqrt(nLeaves.toDouble)).toInt
    val sliceLen = slices * leafSize
    // primitive comparators (Ordering.by boxes a Double per comparison —
    // these sorts run once per dense cell on the hot path)
    val byXc = new java.util.Comparator[Geom] {
      def compare(a: Geom, b: Geom): Int =
        java.lang.Double.compare(a.xmin + a.xmax, b.xmin + b.xmax)
    }
    val byYc = new java.util.Comparator[Geom] {
      def compare(a: Geom, b: Geom): Int =
        java.lang.Double.compare(a.ymin + a.ymax, b.ymin + b.ymax)
    }
    java.util.Arrays.sort(items, byXc)
    var s = 0
    while (s * sliceLen < n) {
      val from = s * sliceLen
      val until = math.min(from + sliceLen, n)
      java.util.Arrays.sort(items, from, until, byYc)
      s += 1
    }
    // ---- bottom-up node packing ---------------------------------------------
    val x0 = scala.collection.mutable.ArrayBuffer.empty[Double]
    val x1 = scala.collection.mutable.ArrayBuffer.empty[Double]
    val y0 = scala.collection.mutable.ArrayBuffer.empty[Double]
    val y1 = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cs = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ce = scala.collection.mutable.ArrayBuffer.empty[Int]
    val lf = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    // leaf level over items. A NaN max must reach its node's bound (NaN tops
    // SQL order), hence `!le`; a skipped NaN min only widens the bound.
    var i = 0
    while (i < n) {
      val end = math.min(i + leafSize, n)
      var ax0 = Double.MaxValue; var ax1 = Double.MinValue
      var ay0 = Double.MaxValue; var ay1 = Double.MinValue
      var j = i
      while (j < end) {
        val g = items(j)
        if (g.xmin < ax0) ax0 = g.xmin; if (!le(g.xmax, ax1)) ax1 = g.xmax
        if (g.ymin < ay0) ay0 = g.ymin; if (!le(g.ymax, ay1)) ay1 = g.ymax
        j += 1
      }
      x0 += ax0; x1 += ax1; y0 += ay0; y1 += ay1; cs += i; ce += end; lf += true
      i += leafSize
    }
    // internal levels over consecutive child nodes until a single root
    var levelStart = 0
    var levelEnd = x0.length
    while (levelEnd - levelStart > 1) {
      var c = levelStart
      while (c < levelEnd) {
        val end = math.min(c + leafSize, levelEnd)
        var ax0 = Double.MaxValue; var ax1 = Double.MinValue
        var ay0 = Double.MaxValue; var ay1 = Double.MinValue
        var j = c
        while (j < end) {
          if (x0(j) < ax0) ax0 = x0(j); if (!le(x1(j), ax1)) ax1 = x1(j)
          if (y0(j) < ay0) ay0 = y0(j); if (!le(y1(j), ay1)) ay1 = y1(j)
          j += 1
        }
        x0 += ax0; x1 += ax1; y0 += ay0; y1 += ay1; cs += c; ce += end; lf += false
        c += leafSize
      }
      levelStart = levelEnd
      levelEnd = x0.length
    }
    new STRTree(items, x0.toArray, x1.toArray, y0.toArray, y1.toArray,
      cs.toArray, ce.toArray, lf.toArray, x0.length - 1)
  }
}
