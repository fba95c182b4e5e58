package graft.cells

import graft.geom.Extent

/** Uniform `nx × ny` grid over an extent — the engine's deterministic cell
  * index (the planar analogue of an H3/S2 cell scheme). Every MBR is
  * replicated into each cell it overlaps; a candidate pair is *owned* by
  * exactly one cell (the one containing the bottom-left corner of the
  * intersection), which gives exactly-once output without a global distinct.
  *
  * Reference semantics: grid assignment `partition_multi.hpp:25-102` with
  * `cell_id = y * num_partitions_1d + x`, clamped floor cell arithmetic
  * (`partition_multi.hpp:55-63`), reference-point dedup
  * (`designs/pbsm/dynamic/16/src/join.hpp:56-71`). We diverge from the
  * reference's inclusive-upper-bound ownership test (which double-counts a
  * pair whose reference point lies exactly on a shared cell boundary, see
  * SURVEY.md §7.4): ownership here is "the unique cell `cellOf(refPoint)`",
  * i.e. half-open cells with the top/right global edge closed via clamping —
  * exactly-once *by construction*.
  */
final case class CellScheme(extent: Extent, nx: Int, ny: Int) extends CellMapping {
  require(nx > 0 && ny > 0, s"grid must be positive, got ${nx}x$ny")

  // degenerate extents (all points on a line) get unit cells: everything
  // clamps into column/row 0, which is still correct, just unpartitioned.
  val cellW: Double = if (extent.width > 0) extent.width / nx else 1.0
  val cellH: Double = if (extent.height > 0) extent.height / ny else 1.0

  def numCells: Long = nx.toLong * ny.toLong

  @inline def cellX(x: Double): Int = CellScheme.coord(x, extent.xmin, cellW, nx)
  @inline def cellY(y: Double): Int = CellScheme.coord(y, extent.ymin, cellH, ny)

  /** The unique owning cell of a point (clamped into the grid). */
  def cellOf(x: Double, y: Double): Long = cellY(y).toLong * nx + cellX(x)

  /** All cells overlapped by an MBR — the replication set, a rectangle of
    * cell ids computed on demand. An inverted MBR (max < min) spans the cells
    * between its two ends.
    */
  def cellsOf(xmin: Double, xmax: Double, ymin: Double, ymax: Double): CellKeys.Rect = {
    val (x0, x1) = CellScheme.span(cellX(xmin), cellX(xmax))
    val (y0, y1) = CellScheme.span(cellY(ymin), cellY(ymax))
    CellKeys.Rect(0L, nx, 1L, x0, x1, y0, y1)
  }

  /** Parent cell id at a `factor`× coarser resolution (H3/S2-style
    * resolution change: the grid is its own hierarchy — parent(cx,cy) =
    * (cx/f, cy/f) on the (nx/f)×(ny/f) grid). Requires factor to divide
    * both axes so children nest exactly.
    */
  def parentCell(cell: Long, factor: Int): Long = {
    require(nx % factor == 0 && ny % factor == 0, s"$factor must divide ${nx}x$ny")
    val cx = cell % nx; val cy = cell / nx
    (cy / factor) * (nx / factor) + (cx / factor)
  }

  /** The coarser scheme itself (same extent, nx/f × ny/f). */
  def coarsen(factor: Int): CellScheme = {
    require(nx % factor == 0 && ny % factor == 0, s"$factor must divide ${nx}x$ny")
    CellScheme(extent, nx / factor, ny / factor)
  }
}

object CellScheme {
  /** The clamped cell coordinate `clamp(floor((v - lo) / len), 0, n - 1)`.
    * NaN orders above every value in Spark SQL, so it clamps to the last
    * cell like +∞. That keeps the map monotone in SQL order, which
    * replication and ownership need to agree with the SQL predicate.
    */
  @inline private[graft] def coord(v: Double, lo: Double, len: Double, n: Int): Int = {
    val d = (v - lo) / len
    if (d != d) n - 1 else math.max(0L, math.min(math.floor(d).toLong, n - 1L)).toInt
  }

  /** The cell range between two ends, in either order. */
  private[graft] def span(i: Int, j: Int): (Int, Int) = (math.min(i, j), math.max(i, j))

  /** Pick a grid so the average cell holds ~`targetPerCell` objects of the
    * larger side — the analogue of the reference's "BFS until ≥ 10×threads
    * tasks" granularity rule (`cpp/RTree.h:506-508`): #cells ≫ #cores.
    */
  def forSize(extent: Extent, rowsLarger: Long, targetPerCell: Long = 512L,
              maxN: Int = 4096): CellScheme = {
    val cells = math.max(1L, rowsLarger / math.max(1L, targetPerCell))
    val n = math.min(maxN, math.ceil(math.sqrt(cells.toDouble)).toInt)
    CellScheme(extent, n, n)
  }

  /** 1-D stripes along x (a `n × 1` grid) — the reference's PBSM-lite plan
    * (`cpp/1d_stripes.hpp:126-204`).
    */
  def stripesX(extent: Extent, n: Int): CellScheme = CellScheme(extent, n, 1)

  /** 1-D stripes along y (the transposed join direction — the reference
    * tries both and records `best_join_direction`).
    */
  def stripesY(extent: Extent, n: Int): CellScheme = CellScheme(extent, 1, n)
}
