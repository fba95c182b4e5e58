package graft.join

import graft.cells.{CellScheme, MappingCall}
import graft.geom.Extent
import java.lang.Double.isFinite
import java.util.BitSet
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{BooleanType, DataType}

/** A dyadic grid: square cells of side `2^k` whose edges sit on the
  * multiples of `2^k`, numbered from the absolute cell `(ox, oy)`. A value's
  * absolute cell is `floor(v · 2^-k)`; scaling by a power of two is exact, so
  * two dyadic grids nest exactly (the cell at level `k + d` is the cell at
  * level `k` shifted right by `d`), with no rounding between them. That is
  * what lets each partition rasterize on its own grid and the driver merge
  * the rasters without slack.
  */
private[graft] final case class Dyadic(k: Int, ox: Long, oy: Long, nx: Int, ny: Int) {
  def cells: Long = nx.toLong * ny
  /** Clamped cell coordinates: monotone in SQL order (NaN to the last cell, like +∞). */
  def cx(v: Double): Int = Dyadic.index(v, k, ox, nx)
  def cy(v: Double): Int = Dyadic.index(v, k, oy, ny)
}

private[graft] object Dyadic {
  /** Absolute cell of `v` at level `k`, `floor(v / 2^k)`: exact for every
    * finite `v` whose quotient stays below 2^53 ([[over]] picks such
    * levels). A negative quotient that underflows to -0.0 is still cell -1.
    */
  def abs(v: Double, k: Int): Double = {
    val q = Math.scalb(v, -k)
    if (q == 0.0 && v < 0) -1.0 else Math.floor(q)
  }

  /** [[CellScheme.coord]] of the absolute cell: the cell on an axis of `n`
    * cells from the absolute cell `o`, clamped, NaN to the last cell.
    */
  def index(v: Double, k: Int, o: Long, n: Int): Int = CellScheme.coord(abs(v, k), o.toDouble, 1.0, n)

  /** The finest dyadic grid over a finite `frame` with about `target` to
    * `4 · target` cells, and at most `cap`. Its level keeps the frame's
    * absolute cells below 2^53, so [[abs]] is exact on it.
    */
  def over(frame: Extent, target: Long, cap: Long): Dyadic = {
    val w = frame.width; val h = frame.height
    val side =
      if (w > 0 && h > 0) math.sqrt(w / target * h)
      else math.max(w, h) / target
    val maxAbs = Seq(frame.xmin, frame.xmax, frame.ymin, frame.ymax).map(math.abs).max
    var k = math.max(math.max(Math.getExponent(side), Math.getExponent(maxAbs) - 52), -1000)
    def n(lo: Double, hi: Double): Long = (abs(hi, k) - abs(lo, k)).toLong + 1
    // ends: past level 1024 every finite value is in cell -1 or 0
    while (n(frame.xmin, frame.xmax) * n(frame.ymin, frame.ymax) > cap) k += 1
    Dyadic(k, abs(frame.xmin, k).toLong, abs(frame.ymin, k).toLong,
      n(frame.xmin, frame.xmax).toInt, n(frame.ymin, frame.ymax).toInt)
  }

  /** `floor(a / 2^d)` for `d >= 0`. */
  private def floorShift(a: Long, d: Int): Long = if (d >= 63) (if (a < 0) -1L else 0L) else a >> d

  /** The first cell of a level-`kf` grid (relative to its first absolute
    * cell `o`; `n` when past its `n` cells) under the absolute cell `a` of
    * level `kg` on one axis. With [[high]]: the grid's cells under a run of
    * cells of the other level, none when `low > high`.
    */
  def low(a: Long, kg: Int, kf: Int, o: Long, n: Int): Int = {
    val c = if (kg <= kf) floorShift(a, kf - kg).toDouble else Math.scalb(a.toDouble, kg - kf)
    math.max(0.0, math.min(c - o, n.toDouble)).toInt
  }

  /** The last cell of a level-`kf` grid under the absolute cell `a` of
    * level `kg`; -1 when before the grid.
    */
  def high(a: Long, kg: Int, kf: Int, o: Long, n: Int): Int = {
    val c = if (kg <= kf) floorShift(a, kf - kg).toDouble
            else Math.scalb((a + 1).toDouble, kg - kf) - 1
    math.max(-1.0, math.min(c - o, n - 1.0)).toInt
  }

  /** Sets in `to`, a bitmap over `f`, every cell of `f` under a set cell of
    * `from`, a bitmap over `g` (cell `y · nx + x`), a run of set cells
    * within a grid row at a time.
    */
  def project(from: BitSet, g: Dyadic, to: BitSet, f: Dyadic): Unit = {
    var c = from.nextSetBit(0)
    while (c >= 0) {
      val e = math.min(from.nextClearBit(c), (c / g.nx + 1) * g.nx)
      val gx = g.ox + c % g.nx; val gy = g.oy + c / g.nx
      val x0 = low(gx, g.k, f.k, f.ox, f.nx)
      val x1 = high(gx + (e - c) - 1, g.k, f.k, f.ox, f.nx)
      var y = low(gy, g.k, f.k, f.oy, f.ny)
      val y1 = high(gy, g.k, f.k, f.oy, f.ny)
      if (x0 <= x1) while (y <= y1) { to.set(y * f.nx + x0, y * f.nx + x1 + 1); y += 1 }
      c = from.nextSetBit(e)
    }
  }
}

/** One partition's occupied cells: `rows` rows inside `frame`, as the
  * words of a bitmap over `grid` (cell `y · nx + x`).
  */
private[graft] final case class Raster(rows: Long, frame: Extent, grid: Dyadic, words: Array[Long]) {
  def bits: BitSet = BitSet.valueOf(words)
}

/** Rasterizes one of S's `partitions` partitions as its rows stream in
  * ([[add]], then [[result]]). It holds at most [[Occupancy.ChunkRows]]
  * rows and a bitmap of at most [[Occupancy.MaxSentCells]] / `partitions`
  * cells, so neither a task's memory nor the rasters all partitions send
  * the driver grow with S. Rows are marked a chunk at a time on a dyadic
  * grid over the frame seen so far; when a chunk widens the frame past that
  * grid, the bitmap moves onto the grid over the wider frame, every cell
  * under a set cell set (exact when the level stays or coarsens). A
  * partition that fits in one chunk gets the grid F would have if S's
  * partitions were even; a larger one the finest grid under the cap. An
  * inverted row spans the cells between its two ends, as the grid join's
  * replication does. The result is None when a coordinate is not finite.
  */
private[graft] final class Rasterizer(partitions: Int) {
  import Occupancy._
  private val cap = math.max(4L, math.min(MaxCells, MaxSentCells / math.max(1, partitions)))
  private var buf = new Array[Double](256)
  private var n = 0
  private var big = false
  private var finite = true
  private var rows = 0L
  private var frame: Extent = null
  private var grid: Dyadic = null
  private var bits: BitSet = null
  /** Cells marked on `grid` since its fill was last checked. */
  private var marked = 0L

  def add(xmin: Double, xmax: Double, ymin: Double, ymax: Double): Unit = if (finite) {
    if (!(isFinite(xmin) && isFinite(xmax) && isFinite(ymin) && isFinite(ymax))) {
      finite = false; buf = null; bits = null
    } else {
      if (n == ChunkRows) { big = true; mark() }
      if (4 * n == buf.length) buf = java.util.Arrays.copyOf(buf, 2 * buf.length)
      buf(4 * n) = xmin; buf(4 * n + 1) = xmax; buf(4 * n + 2) = ymin; buf(4 * n + 3) = ymax
      n += 1
    }
  }

  def result(): Option[Raster] =
    if (!finite) None
    else {
      if (n > 0) mark()
      if (rows == 0) Some(Raster(0, Extent(0, 0, 0, 0), Dyadic(0, 0, 0, 1, 1), Array.emptyLongArray))
      else Some(Raster(rows, frame, grid, bits.toLongArray))
    }

  /** Marks the buffered rows and empties the buffer. */
  private def mark(): Unit = {
    var x0 = Double.PositiveInfinity; var x1 = Double.NegativeInfinity
    var y0 = Double.PositiveInfinity; var y1 = Double.NegativeInfinity
    var i = 0
    while (i < 4 * n) {
      val v = buf(i)
      if ((i & 2) == 0) { x0 = math.min(x0, v); x1 = math.max(x1, v) }
      else { y0 = math.min(y0, v); y1 = math.max(y1, v) }
      i += 1
    }
    frame = if (frame == null) Extent(x0, x1, y0, y1) else frame union Extent(x0, x1, y0, y1)
    rows += n
    val g = Dyadic.over(frame, if (big) cap else math.min(cap, CellsPerRow * rows * partitions), cap)
    if (g != grid) {
      val moved = new BitSet(g.cells.toInt)
      if (grid != null) Dyadic.project(bits, grid, moved, g)
      grid = g; bits = moved; marked = 0
    }
    // a grid more than half set is marked whole: sound, and it bounds the
    // cost of many wide rows (the fill is checked after every `cells`
    // marked cells)
    var r = 0
    while (r < n) {
      val (lx, hx) = CellScheme.span(g.cx(buf(4 * r)), g.cx(buf(4 * r + 1)))
      val (ly, hy) = CellScheme.span(g.cy(buf(4 * r + 2)), g.cy(buf(4 * r + 3)))
      var y = ly
      while (y <= hy) { bits.set(y * g.nx + lx, y * g.nx + hx + 1); y += 1 }
      marked += (hx - lx + 1).toLong * (hy - ly + 1)
      if (marked > g.cells) {
        marked = 0
        if (bits.cardinality() > g.cells / 2) { bits.set(0, g.cells.toInt); r = n }
      }
      r += 1
    }
    n = 0
  }
}

/** The occupied cells of one join side (S) on a dyadic grid F over S's
  * frame: a cell is set when some row of S spans it. A row of the other side
  * that intersects a row of S shares a cell with it (the cell of their
  * reference point, as in the grid join, because the clamped cell
  * coordinates are monotone in SQL order), so [[keeps]] keeps every row
  * that can produce a pair — the data-induced predicate of "Pushing
  * Data-Induced Predicates Through Joins in Big-Data Clusters" (VLDB 2019).
  */
final class Occupancy private[graft] (private[graft] val grid: Dyadic,
                                     words: Array[Long]) extends Serializable {
  /** Set cells of F. */
  val setCells: Long = words.iterator.map(w => java.lang.Long.bitCount(w).toLong).sum
  /** Cells of F. */
  def cells: Long = grid.cells
  /** Share of F's cells that are set. */
  def fill: Double = setCells.toDouble / cells
  /** Worth filtering with: at most [[Occupancy.MaxFill]] of F is set. */
  def selective: Boolean = fill <= Occupancy.MaxFill

  private def isSet(i: Int): Boolean = (words(i >>> 6) & (1L << i)) != 0

  /** Whether some cell of F in the row's clamped cell range is set; a row
    * spanning more than [[Occupancy.MaxProbeCells]] cells is kept unchecked.
    */
  def keeps(xmin: Double, xmax: Double, ymin: Double, ymax: Double): Boolean = {
    val (x0, x1) = CellScheme.span(grid.cx(xmin), grid.cx(xmax))
    val (y0, y1) = CellScheme.span(grid.cy(ymin), grid.cy(ymax))
    if ((x1 - x0 + 1).toLong * (y1 - y0 + 1) > Occupancy.MaxProbeCells) return true
    var y = y0
    while (y <= y1) {
      var i = y * grid.nx + x0
      val end = y * grid.nx + x1
      while (i <= end) { if (isSet(i)) return true; i += 1 }
      y += 1
    }
    false
  }

  override def toString: String = f"Occupancy(${grid.nx}x${grid.ny}, fill ${fill}%.4f)"
}

private[graft] object Occupancy {
  /** F cells per row of S (then rounded to a dyadic level: 1–4× this). */
  val CellsPerRow = 32L
  /** Cap on the cells of F and of each partition's grid (a 2 MiB bitmap). */
  val MaxCells: Long = 1L << 24
  /** Cap on the cells of all S's partitions' grids together (8 MiB of
    * bitmaps collected on the driver): each partition gets its share.
    */
  val MaxSentCells: Long = 1L << 26
  /** Rows a partition buffers before marking them (2 MiB of coordinates). */
  val ChunkRows = 1 << 16
  /** Above this share of set cells F keeps nearly every row; the filter is off. */
  val MaxFill = 0.5
  /** Rows spanning more cells of F than this pass the probe unchecked. */
  val MaxProbeCells = 64L

  /** Merges the partitions' rasters of S onto F, a dyadic grid of about
    * [[CellsPerRow]] cells per row of S over the union of their frames.
    * None — no filter — when some partition is not finite or none has rows.
    */
  def merge(parts: Seq[Option[Raster]]): Option[Occupancy] = {
    if (parts.exists(_.isEmpty)) return None
    val rs = parts.flatten.filter(_.rows > 0)
    if (rs.isEmpty) return None
    val f = Dyadic.over(rs.map(_.frame).reduce(_ union _),
      math.min(MaxCells, CellsPerRow * rs.map(_.rows).sum), MaxCells)
    val bits = new BitSet(f.cells.toInt)
    rs.foreach(r => Dyadic.project(r.bits, r.grid, bits, f))
    Some(new Occupancy(f, java.util.Arrays.copyOf(bits.toLongArray, ((f.cells + 63) / 64).toInt)))
  }
}

/** [[Occupancy.keeps]] over `xmin, xmax, ymin, ymax` as a Catalyst
  * predicate, a [[MappingCall]]: its generated code calls `keeps` with the
  * four primitive doubles. A null coordinate makes it null, as it makes
  * [[graft.cells.CellsOf]], so a filter on it drops the row (such a row
  * meets no row anyway).
  */
private[graft] final case class OccupancyProbe(occupancy: Occupancy, children: Seq[Expression])
    extends MappingCall(classOf[Occupancy]) {
  require(children.size == 4)
  protected def target: AnyRef = occupancy
  protected def nullAsNaN: Boolean = false
  override def dataType: DataType = BooleanType
  override def prettyName: String = "occupied"
  protected def call(v: Seq[Double]): Any = occupancy.keeps(v(0), v(1), v(2), v(3))
  protected def callCode(t: String, v: Seq[String]): String = s"$t.keeps(${v.mkString(", ")})"
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
