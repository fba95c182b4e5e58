package graft.cells

import graft.geom.{Extent, Geom, SqlOrder}
import graft.join.SpatialJoins
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
  * plans from a sample (STP, BSP, [[graft.skew.AdaptiveCells]]): ONE
  * Bernoulli draw at `f = min(1, 1.2·MaxSample / n)`, sized from a row
  * count `n` so the expected sample fits `MaxSample`. A plain
  * `head(max)` of the inputs would keep the FIRST partitions' rows and
  * bias the plan spatially on range-partitioned/clustered inputs (exactly
  * the skew these planners exist to absorb); a Bernoulli draw keeps every
  * row with the same probability wherever it sits.
  */
private[graft] object SchemeSampling {
  /** Rows the sample aims for. */
  val MaxSample = 100000

  /** Each side's sampled rows and the fraction both were sampled at.
    * `rows`, when the caller knows it (else -1), is both inputs' exact row
    * count: the draw is then one collect, bounded by it to about
    * `1.2·MaxSample` rows.
    *
    * Otherwise `n` is the Catalyst-stats estimate (zero jobs) and the draw
    * is one `head(4·MaxSample)`, which checks the estimate itself. `head`
    * scans partitions in order until it holds the cap, so a draw that
    * returns FEWER rows than the cap has read every partition: it is the
    * complete Bernoulli sample, unbiased, and is the result. A draw that
    * fills the cap (the estimate was at least ~3× too small), or at `f < 1`
    * returns under a quarter of the expected `f·n` rows (the estimate was
    * ~4× too large, e.g. a filter the stats do not see through), contradicts
    * the estimate: one `count()` replaces it and the exact-count collect
    * follows. The fraction is a sampling heuristic and the plan a
    * performance choice, never a correctness input (reference-point
    * ownership dedups identically under any boundaries or splits).
    */
  def sample(a: Dataset[Geom], b: Dataset[Geom], seed: Long,
             rows: Long = -1L): (Array[Geom], Array[Geom], Double) = {
    import a.sparkSession.implicits._
    def tagged(d: Dataset[Geom], side: Int) =
      d.select($"id", $"xmin", $"xmax", $"ymin", $"ymax", lit(side).as("side"))
    val u = tagged(a, 0).unionByName(tagged(b, 1))
      .as[(Long, Double, Double, Double, Double, Int)]
    def fractionOf(n: Double) = math.min(1.0, 1.2 * MaxSample / math.max(1.0, n))
    def draw(f: Double) = if (f >= 1.0) u else u.sample(f, seed)
    def exact(n: Long) = { val f = fractionOf(n.toDouble); (draw(f).collect(), f) }
    val (picked, fraction) = if (rows >= 0) exact(rows) else {
      val est = SpatialJoins.estRowsFromStats(a) + SpatialJoins.estRowsFromStats(b)
      val f = fractionOf(est)
      val got = draw(f).head(4 * MaxSample)
      if (got.length == 4 * MaxSample || (f < 1.0 && got.length < f * est / 4)) exact(u.count())
      else (got, f)
    }
    def side(s: Int) = picked.collect { case (id, x0, x1, y0, y1, `s`) => Geom(id, x0, x1, y0, y1) }
    (side(0), side(1), fraction)
  }
}

object SortTileScheme {
  private val Seed = 17L

  /** Build boundaries from the one bounded uniform sample of both inputs
    * (`SchemeSampling.sample`: a Bernoulli draw from the stats estimate,
    * checked by its own size): sort the sampled x centers, cut into sx
    * equal-count slabs; within each slab sort the y centers and cut into sy
    * tiles (`SortTilePartition`'s shape). The sample is collected — it is
    * bounded (at most `4·SchemeSampling.MaxSample` rows) and the scheme must
    * be a broadcastable value anyway.
    */
  def build(a: Dataset[Geom], b: Dataset[Geom], extent: Extent, sx: Int, sy: Int): SortTileScheme = {
    val (sa, sb, _) = SchemeSampling.sample(a, b, Seed)
    val pts = sa ++ sb
    if (pts.isEmpty)
      return SortTileScheme(extent, Array.tabulate(sx - 1)(i =>
          extent.xmin + (i + 1) * extent.width / sx),
        Array.fill(sx)(Array.tabulate(sy - 1)(j => extent.ymin + (j + 1) * extent.height / sy)))
    def cuts(vs: Array[Double], n: Int): Array[Double] = {
      java.util.Arrays.sort(vs) // unboxed, in Double.compare's order like `sorted`
      Array.tabulate(n - 1)(i => vs(math.min(vs.length - 1, ((i + 1).toLong * vs.length / n).toInt)))
    }
    val xb = cuts(pts.map(_.centerX), sx)
    // per-slab y cuts from the same sample
    val bySlab = Array.fill(sx)(scala.collection.mutable.ArrayBuffer.empty[Double])
    val probe = SortTileScheme(extent, xb, Array.fill(sx)(Array.empty[Double]))
    pts.foreach(g => bySlab(probe.slabOf(g.centerX)) += g.centerY)
    val yb = bySlab.map { ys =>
      if (ys.isEmpty) Array.tabulate(sy - 1)(j => extent.ymin + (j + 1) * extent.height / sy)
      else cuts(ys.toArray, sy)
    }
    SortTileScheme(extent, xb, yb)
  }
}
