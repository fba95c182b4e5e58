package graft.skew

import graft.cells.{CellKeys, CellMapping, CellScheme, SchemeSampling}
import graft.cells.CellScheme.{coord, span}
import graft.geom.Geom
import org.apache.spark.sql.Dataset

/** Adaptive refinement of hot cells — the Spark re-expression of the
  * reference's quadtree cell splitting under a comparison budget
  * (`partition_multi.hpp:106-189`, budget `constants.hpp:4`).
  *
  * A coarse grid is planned first; cells whose |A|·|B| candidate product
  * exceeds the budget are split into an `s × s` local subgrid (one-shot,
  * `s` sized so the expected per-subcell product lands under budget). The
  * final join key packs (base cell, subcell) into one Long, so the downstream
  * plan is still a single equi-join/keyed reduce — skew handling never adds a
  * shuffle. Min subcell size is clamped to the sampled median object extent
  * (`partition_utils.hpp:226-277` semantics) to bound replication blow-up.
  */
final case class AdaptiveScheme(base: CellScheme, splits: Map[Long, Int]) extends CellMapping {
  import AdaptiveScheme.SubBits
  require(splits.values.forall(s => s * s < (1 << SubBits) - 1), "split factor too large")

  // the split lookup sits on the PER-PAIR hot path (ownership test of every
  // emitted candidate): a scala Map[Long, Int] boxes the key on every get —
  // primitive sorted-array binary search instead (splits are few by
  // construction: only over-budget cells)
  @transient private lazy val splitCells: Array[Long] = splits.keys.toArray.sorted
  @transient private lazy val splitFactors: Array[Int] =
    splitCells.map(splits) // aligned with splitCells
  @inline private def splitOf(c: Long): Int = {
    val i = java.util.Arrays.binarySearch(splitCells, c)
    if (i >= 0) splitFactors(i) else 0
  }

  /** The clamped sub-cell coordinate of `v` in an `s`-way split of the base
    * cell whose low edge is cell coordinate `cc` on an axis of `len`-wide cells.
    */
  @inline private def subCoord(v: Double, lo: Double, cc: Long, len: Double, s: Int): Int =
    coord(v, lo + cc * len, len / s, s)

  def cellOf(x: Double, y: Double): Long = {
    val c = base.cellOf(x, y)
    splitOf(c) match {
      case 0 => c << SubBits
      case s =>
        val sx = subCoord(x, base.extent.xmin, c % base.nx, base.cellW, s)
        val sy = subCoord(y, base.extent.ymin, c / base.nx, base.cellH, s)
        (c << SubBits) | (1L + sy.toLong * s + sx)
    }
  }

  /** The base cells' slot-0 keys, computed on demand; when the MBR meets a
    * split cell, listed one by one with that cell's sub-cell keys instead.
    */
  def cellsOf(xmin: Double, xmax: Double, ymin: Double, ymax: Double): CellKeys = {
    val cells = base.cellsOf(xmin, xmax, ymin, ymax)
    // the first split cell at or after the rectangle's first cell in id
    // order that lies in the rectangle's columns
    val last = cells(cells.length - 1)
    var i = java.util.Arrays.binarySearch(splitCells, cells(0))
    if (i < 0) i = -i - 1
    while (i < splitCells.length && splitCells(i) <= last &&
           (splitCells(i) % base.nx < cells.x0 || splitCells(i) % base.nx > cells.x1)) i += 1
    if (i == splitCells.length || splitCells(i) > last)
      return cells.copy(stride = base.nx.toLong << SubBits, step = 1L << SubBits)
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    cells.foreach { c =>
      splitOf(c) match {
        case 0 => out += c << SubBits
        case s =>
          def sub(lo: Double, cc: Long, len: Double, v0: Double, v1: Double) =
            span(subCoord(v0, lo, cc, len, s), subCoord(v1, lo, cc, len, s))
          val (x0, x1) = sub(base.extent.xmin, c % base.nx, base.cellW, xmin, xmax)
          val (y0, y1) = sub(base.extent.ymin, c / base.nx, base.cellH, ymin, ymax)
          out ++= CellKeys.Rect((c << SubBits) + 1, s, 1L, x0, x1, y0, y1)
      }
    }
    new CellKeys.Listed(out.result())
  }
}

object AdaptiveScheme {
  /** Key layout: base cell id << SubBits | (1 + subIdx); plain cells use subIdx slot 0. */
  private val SubBits = 12
}

object AdaptiveCells {

  /** Upper bound on a hot cell's split factor `s` (an s×s subgrid). */
  private val MaxSplit = 32

  /** A cell is hot when its pair product exceeds 1/(SpreadFactor ·
    * parallelism) of the total (see [[splitsOf]]).
    */
  private val SpreadFactor = 4.0

  /** The planning sample's seed. */
  private val Seed = 42L

  /** Plan splits from the one bounded sample of both inputs that the STP
    * and BSP planners also take (`SchemeSampling.sample`): one Bernoulli
    * draw sized from the stats estimate, whose own size confirms it (an
    * unfilled `head` has read every partition, so it is the whole unbiased
    * sample) or replaces it by one exact count. Inputs of up to
    * 1.2·`SchemeSampling.MaxSample` rows are read whole, so their counts are
    * exact; larger ones are sampled and scaled back up. Splits are a
    * performance heuristic only; exactly-once correctness never depends on
    * the estimate (reference-point ownership is local arithmetic).
    */
  def plan(a: Dataset[Geom], b: Dataset[Geom], base: CellScheme,
           budgetPairs: Long = 4L * 1024 * 1024): AdaptiveScheme =
    plan(a, b, base, budgetPairs, rows = -1L)

  /** [[plan]] given both inputs' exact row count `rows` (-1: unknown), which
    * sizes the sample with no estimate: the draw is one bounded collect.
    */
  private[graft] def plan(a: Dataset[Geom], b: Dataset[Geom], base: CellScheme,
                          budgetPairs: Long, rows: Long): AdaptiveScheme = {
    val (sa, sb, fraction) = SchemeSampling.sample(a, b, Seed, rows)
    splitsOf(base, sa, sb, 1.0 / fraction,
      math.max(1, a.sparkSession.sparkContext.defaultParallelism), budgetPairs)
  }

  /** The split rule, on the driver: a hot cell gets an s×s subgrid with
    * s ≈ (|A|·|B| / budget)^(1/4) (each side shrinks ~s², the product ~s⁴
    * under uniformity), clamped by the cell's own MEDIAN object size so a
    * subcell never drops below ~2 typical object extents (replication
    * bound robust to an oversized minority inside the cell). Each sampled
    * row counts `scale` times in every base cell it overlaps
    * (`CellScheme.cellsOf`).
    *
    * "Hot" is a CONCENTRATION criterion, not an absolute one: a cell is
    * split only when its pair product exceeds
    * `sumProd / (SpreadFactor · parallelism)` — i.e. the cell alone holds
    * more work than a balanced schedule would hand one worker, so leaving it
    * whole serializes the join (the reference splits to fix *skew*,
    * `partition_multi.hpp:106-189`, not density). On evenly dense inputs many
    * cells exceed any absolute budget yet none dominates — splitting there
    * only multiplies replication and map-side work for zero tail-latency win
    * (measured 8× slower than the plain sweep on a gaussian 197×197-cell
    * workload where the old `|A|·|B| > budget` rule fired everywhere).
    * `budgetPairs` remains the floor of the threshold and sizes `s`.
    *
    * Memory is O(sample + base cells), whatever the rows' extents.
    */
  def splitsOf(base: CellScheme, sampleA: Array[Geom], sampleB: Array[Geom],
               scale: Double, parallelism: Int, budgetPairs: Long): AdaptiveScheme = {
    val nx = base.nx; val ny = base.ny
    val rows = sampleA ++ sampleB
    // each row's clamped cell rectangle
    val boxes = rows.map(g => base.cellsOf(g.xmin, g.xmax, g.ymin, g.ymax))
    // per-cell row counts of one side: a 2-D difference array, prefix-summed,
    // so a map-spanning row costs O(1), not O(its cells)
    def counts(from: Int, until: Int): Array[Int] = {
      val d = new Array[Int](Math.toIntExact(base.numCells))
      def add(cx: Int, cy: Int, v: Int): Unit = if (cx < nx && cy < ny) d(cy * nx + cx) += v
      boxes.slice(from, until).foreach { r =>
        add(r.x0, r.y0, 1); add(r.x1 + 1, r.y0, -1); add(r.x0, r.y1 + 1, -1); add(r.x1 + 1, r.y1 + 1, 1)
      }
      for (cy <- 0 until ny; cx <- 1 until nx) d(cy * nx + cx) += d(cy * nx + cx - 1)
      for (cy <- 1 until ny; cx <- 0 until nx) d(cy * nx + cx) += d((cy - 1) * nx + cx)
      d
    }
    val ca = counts(0, sampleA.length); val cb = counts(sampleA.length, rows.length)
    // products in double: at scale they overflow int64 and would silently
    // skip hot cells
    def prod(c: Int): Double = ca(c) * scale * (cb(c) * scale)
    val sumProd = ca.indices.iterator.map(prod).sum
    // split threshold: the larger of the absolute budget and the balanced
    // per-worker share of total candidate work — a cell below the share can
    // never be the straggler, so splitting it buys nothing. At most
    // SpreadFactor·parallelism cells can exceed the share.
    val threshold = math.max(budgetPairs.toDouble, sumProd / (SpreadFactor * parallelism))
    // split clamp: a subcell must stay ≥ ~2 MEDIAN object extents OF THE
    // CELL BEING SPLIT (reference stop rule `partition_utils.hpp:226-277`
    // samples a global median; per-cell is strictly more targeted). Per-cell
    // matters under mixed sizes: a handful of map-spanning objects replicate
    // into thousands of cells and would drag any replica-weighted GLOBAL
    // statistic up to their own size, vetoing splits of hot cells full of
    // small objects. MEDIAN (not mean) matters INSIDE a hot cell: a 30%
    // minority of cell-sized residents pulls the mean to ~0.3 cell widths
    // (cap 1 — split vetoed) while the majority is tiny and splits fine; the
    // median tracks the majority and only vetoes when most residents really
    // span the cell. sCap < 2 means the cell is already ~2 median extents:
    // no split at all.
    def median(vs: Array[Double]): Double = vs.sorted.apply((vs.length - 1) / 2)
    val splits = ca.indices.filter(c => prod(c) > threshold).map { c =>
      val (cx, cy) = (c % nx, c / nx)
      val residents = rows.indices.filter { i =>
        val r = boxes(i)
        r.x0 <= cx && cx <= r.x1 && r.y0 <= cy && cy <= r.y1
      }.map(rows).toArray
      val mw = median(residents.map(_.width))
      val mh = median(residents.map(_.height))
      val sCapW = math.max(1, (base.cellW / (2 * math.max(mw, 1e-12))).toInt)
      val sCapH = math.max(1, (base.cellH / (2 * math.max(mh, 1e-12))).toInt)
      val sCap = math.min(MaxSplit, math.min(sCapW, sCapH))
      val s = math.ceil(math.pow(prod(c) / budgetPairs, 0.25)).toInt + 1
      c.toLong -> math.min(s, sCap)
    }.filter(_._2 >= 2).toMap
    AdaptiveScheme(base, splits)
  }
}
