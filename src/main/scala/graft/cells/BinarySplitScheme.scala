package graft.cells

import graft.geom.{Extent, Geom, SqlOrder}
import org.apache.spark.sql.Dataset

/** Binary-split partitioning (the reference's SpatialSpark BSP method,
  * `spark_scripts/PartitionedSpatialJoin.scala:166-175`): a kd-tree built by
  * recursively splitting the extent at the sampled MEDIAN of the longer
  * axis, `depth` levels → `2^depth` leaves with ~equal sampled load. The
  * third partitioner family next to the uniform grid (FGP) and sort-tile
  * (STP) — unlike STP the splits adapt PER SUBTREE, so elongated skew
  * (rivers, coastlines) gets axis-appropriate cuts at every level.
  *
  * Packed as three parallel arrays (implicit heap layout, node i's children
  * at 2i+1/2i+2): a broadcastable value, O(depth) point lookups. Ownership
  * is the engine-wide reference-point rule, so the pair set is identical to
  * every other scheme — and that is exactly what the driver oracle checks.
  */
final case class BinarySplitScheme(extent: Extent, depth: Int,
                                   splitAxisX: Array[Boolean], splitAt: Array[Double])
    extends CellMapping {
  require(splitAxisX.length == (1 << depth) - 1 && splitAt.length == splitAxisX.length)

  def numLeaves: Int = 1 << depth

  /** Unique owning leaf of a point (half-open: >= split in SQL order goes right). */
  def cellOf(x: Double, y: Double): Long = {
    var node = 0
    var level = 0
    while (level < depth) {
      val right = SqlOrder.le(splitAt(node), if (splitAxisX(node)) x else y)
      node = 2 * node + 1 + (if (right) 1 else 0)
      level += 1
    }
    (node - (numLeaves - 1)).toLong
  }

  /** All leaves overlapped by an MBR — stack descent pruning by the split.
    * An inverted MBR spans the leaves between its two ends.
    */
  def cellsOf(xmin: Double, xmax: Double, ymin: Double, ymax: Double): CellKeys = {
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    def walk(node: Int, level: Int): Unit =
      if (level == depth) out += (node - (numLeaves - 1)).toLong
      else {
        val s = splitAt(node)
        val (v0, v1) = if (splitAxisX(node)) (xmin, xmax) else (ymin, ymax)
        val (lo, hi) = if (SqlOrder.le(v0, v1)) (v0, v1) else (v1, v0)
        if (!SqlOrder.le(s, lo)) walk(2 * node + 1, level + 1)
        if (SqlOrder.le(s, hi)) walk(2 * node + 2, level + 1)
      }
    walk(0, 0)
    new CellKeys.Listed(out.result())
  }
}

object BinarySplitScheme {
  private val Seed = 19L

  /** Build from the one bounded uniform sample of both inputs' centers
    * (`SchemeSampling.sample`: a Bernoulli draw from the stats estimate,
    * checked by its own size): at each node split the current point set at
    * the median of its wider spread axis.
    */
  def build(a: Dataset[Geom], b: Dataset[Geom], extent: Extent, depth: Int): BinarySplitScheme = {
    val (sa, sb, _) = SchemeSampling.sample(a, b, Seed)
    val nNodes = (1 << depth) - 1
    val axisX = new Array[Boolean](nNodes)
    val at = new Array[Double](nNodes)
    def median(vs: Array[Double]): Double = {
      java.util.Arrays.sort(vs); vs(vs.length / 2) // unboxed, in Double.compare's order like `sorted`
    }
    def fill(node: Int, level: Int, ps: Array[Geom],
             ext: Extent): Unit = if (level < depth) {
      val useX = ext.width >= ext.height
      axisX(node) = useX
      val s =
        if (ps.isEmpty) (if (useX) (ext.xmin + ext.xmax) else (ext.ymin + ext.ymax)) / 2
        else median(ps.map(p => if (useX) p.centerX else p.centerY))
      at(node) = s
      val (l, r) = ps.partition(p => (if (useX) p.centerX else p.centerY) < s)
      val (le, re) =
        if (useX) (Extent(ext.xmin, s, ext.ymin, ext.ymax), Extent(s, ext.xmax, ext.ymin, ext.ymax))
        else (Extent(ext.xmin, ext.xmax, ext.ymin, s), Extent(ext.xmin, ext.xmax, s, ext.ymax))
      fill(2 * node + 1, level + 1, l, le)
      fill(2 * node + 2, level + 1, r, re)
    }
    fill(0, 0, sa ++ sb, extent)
    BinarySplitScheme(extent, depth, axisX, at)
  }
}
