package graft.cells

import graft.geom.{Extent, Geom, SqlOrder}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.lit

/** Sort-tile partitioning (the reference's SpatialSpark STP method,
  * `spark_scripts/PartitionedSpatialJoin.scala:151-165`): tile boundaries
  * come from the DATA, not a uniform lattice — a sample is cut into `sx`
  * vertical slabs at x-quantiles, and each slab is cut independently at its
  * own y-quantiles, so every tile holds ~the same number of sampled objects
  * even under heavy spatial skew. The classic STR-flavored alternative to
  * uniform grids and to reactive hot-cell splitting ([[graft.skew.AdaptiveCells]]).
  *
  * The scheme is a small broadcastable value (sx + sx·sy doubles); cell
  * lookups are binary searches over the boundary arrays. Exactly-once output
  * uses the same reference-point ownership rule as every other scheme here —
  * a correct partitioner never changes the pair set, which is exactly how the
  * driver oracle checks it (plain intersect SQL, boundaries never replayed).
  *
  * Tile id layout: `slab * sy + tile` (row-major within slab).
  */
final case class SortTileScheme(extent: Extent, xBounds: Array[Double],
                                yBounds: Array[Array[Double]]) extends CellMapping {
  require(yBounds.length == xBounds.length + 1, "one y-boundary vector per slab")
  require(yBounds.forall(_.length == yBounds(0).length),
    "ragged y-boundaries would collide tile ids across slabs (cell = slab*sy + tile)")
  val sx: Int = xBounds.length + 1
  val sy: Int = yBounds(0).length + 1

  /** Index of v in a sorted boundary array: #bounds ≤ v in SQL order
    * (half-open cells, clamped by construction — index ∈ [0, bounds.length]).
    */
  @inline private def slot(bounds: Array[Double], v: Double): Int = {
    var lo = 0; var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (SqlOrder.le(bounds(mid), v)) lo = mid + 1 else hi = mid
    }
    lo
  }

  @inline def slabOf(x: Double): Int = slot(xBounds, x)
  @inline def tileOf(slab: Int, y: Double): Int = slot(yBounds(slab), y)

  /** Unique owning tile of a point. */
  def cellOf(x: Double, y: Double): Long = {
    val s = slabOf(x)
    s.toLong * sy + tileOf(s, y)
  }

  /** All tiles overlapped by an MBR (per-slab y-ranges differ — the
    * replication loop is per slab, unlike the uniform grid's rectangle). An
    * inverted MBR spans the tiles between its two ends.
    */
  def cellsOf(xmin: Double, xmax: Double, ymin: Double, ymax: Double): CellKeys = {
    val (s0, s1) = CellScheme.span(slabOf(xmin), slabOf(xmax))
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    var s = s0
    while (s <= s1) {
      val (t0, t1) = CellScheme.span(tileOf(s, ymin), tileOf(s, ymax))
      var t = t0
      while (t <= t1) { out += s.toLong * sy + t; t += 1 }
      s += 1
    }
    new CellKeys.Listed(out.result())
  }
}

/** The shared bounded-uniform sample of both inputs, for every planner that
  * plans from a sample (STP, BSP, [[graft.skew.AdaptiveCells]]): the
  * fraction is sized from a count so the expected sample fits `maxSample` —
  * `sample(f).head(max)` would keep the FIRST partitions' rows and bias the
  * plan spatially on range-partitioned/clustered inputs (exactly the skew
  * these planners exist to absorb).
  */
private[graft] object SchemeSampling {
  /** The default `maxSample`: rows the sample aims for. */
  val MaxSample = 100000

  /** Each side's sampled rows and the fraction both were sampled at.
    * `rows`, when the caller knows it (else -1), is both inputs' exact row
    * count: the fraction is then sized from it, and the sample is one
    * collect of at most about `1.2·maxSample` rows.
    */
  def sample(a: Dataset[Geom], b: Dataset[Geom], maxSample: Int, seed: Long,
             rows: Long = -1L): (Array[Geom], Array[Geom], Double) = {
    import a.sparkSession.implicits._
    def tagged(d: Dataset[Geom], side: Int) =
      d.select($"id", $"xmin", $"xmax", $"ymin", $"ymax", lit(side).as("side"))
    val u = tagged(a, 0).unionByName(tagged(b, 1))
      .as[(Long, Double, Double, Double, Double, Int)]
    // Row count from Catalyst plan statistics — ZERO jobs (the r4 version ran
    // a full `u.count()` before sampling: a complete read of both inputs at
    // 100× scale just to size a boundary sample). A small estimate is
    // CONFIRMED by a bounded read (`limit(4·maxSample+1)` reads at most that
    // many rows however large the input — the intersectJoin pattern); when
    // it does not saturate, that read IS both inputs, so it is subsampled
    // here on the driver and nothing is read twice. A large estimate only
    // needs to be large, not exact: the fraction is a sampling heuristic and
    // the plan is a performance choice, never a correctness input
    // (reference-point ownership dedups identically under any boundaries or
    // splits). An exact `rows` replaces both the estimate and its confirm.
    val exact = rows >= 0
    val est = if (exact) rows.toDouble else math.max(1.0,
      graft.join.SpatialJoins.estRowsFromStats(a) + graft.join.SpatialJoins.estRowsFromStats(b))
    val cap = 4 * maxSample + 1
    val large = est > 4.0 * maxSample
    val all = if (large || exact) None else Some(u.limit(cap).collect()).filter(_.length < cap)
    // a SATURATED bounded read means the stats estimate lied small and the
    // true size is unknown — sizing the fraction from the cap would
    // oversample and re-introduce the first-partitions head() bias (the
    // exact failure mode this sampler exists to avoid). Only in that
    // contradiction case pay one exact count.
    val n = all.fold(if (large || exact) est else u.count().toDouble)(_.length.toDouble)
    val fraction = math.min(1.0, 1.2 * maxSample / math.max(1.0, n))
    val picked = all match {
      case Some(rs) =>
        val rnd = new scala.util.Random(seed)
        if (fraction >= 1.0) rs else rs.filter(_ => rnd.nextDouble() < fraction)
      // an exact count bounds the collect
      case None if exact => (if (fraction >= 1.0) u else u.sample(fraction, seed)).collect()
      // head() keeps 4× headroom over the expected sample so a stats
      // UNDER-estimate (compressed column-pruned scans) must be off by >3× of
      // the 1.2× margin before the first-partitions bias can appear; a bigger
      // sample than maxSample only sharpens the plan.
      case None => u.sample(fraction, seed).head(4 * maxSample)
    }
    def side(s: Int) = picked.collect { case (id, x0, x1, y0, y1, `s`) => Geom(id, x0, x1, y0, y1) }
    (side(0), side(1), fraction)
  }
}

object SortTileScheme {
  private val Seed = 17L

  /** Build boundaries from a bounded uniform sample of both inputs: sort the
    * sampled x centers, cut into sx equal-count slabs; within each slab sort
    * the y centers and cut into sy tiles (`SortTilePartition`'s shape). The
    * sample is collected — it is bounded (`maxSample`) and the scheme must be
    * a broadcastable value anyway.
    */
  def build(a: Dataset[Geom], b: Dataset[Geom], extent: Extent, sx: Int, sy: Int,
            maxSample: Int = SchemeSampling.MaxSample): SortTileScheme = {
    val (sa, sb, _) = SchemeSampling.sample(a, b, maxSample, Seed)
    val pts = sa ++ sb
    if (pts.isEmpty)
      return SortTileScheme(extent, Array.tabulate(sx - 1)(i =>
          extent.xmin + (i + 1) * extent.width / sx),
        Array.fill(sx)(Array.tabulate(sy - 1)(j => extent.ymin + (j + 1) * extent.height / sy)))
    val xs = pts.map(_.centerX).sorted
    def cuts(sorted: Array[Double], n: Int): Array[Double] =
      Array.tabulate(n - 1) { i =>
        sorted(math.min(sorted.length - 1, ((i + 1).toLong * sorted.length / n).toInt))
      }
    val xb = cuts(xs, sx)
    // per-slab y cuts from the same sample
    val bySlab = Array.fill(sx)(scala.collection.mutable.ArrayBuffer.empty[Double])
    val probe = SortTileScheme(extent, xb, Array.fill(sx)(Array.empty[Double]))
    pts.foreach(g => bySlab(probe.slabOf(g.centerX)) += g.centerY)
    val yb = bySlab.map { ys =>
      if (ys.isEmpty) Array.tabulate(sy - 1)(j => extent.ymin + (j + 1) * extent.height / sy)
      else cuts(ys.toArray.sorted, sy)
    }
    SortTileScheme(extent, xb, yb)
  }
}
