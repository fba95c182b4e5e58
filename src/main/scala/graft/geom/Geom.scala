package graft.geom

/** A 2-D axis-aligned rectangle (MBR) with an id — the engine's only spatial
  * record shape. Points are degenerate rectangles (`xmin == xmax`,
  * `ymin == ymax`).
  *
  * Mirrors the reference data model: `spatial-join-baseline/cpp/Region.h:5-15`
  * and `spatial-join-on-FPGA-PBSM/designs/pbsm/dynamic/16/src/types.hpp:17-25`
  * (20-byte `obj_t {int id; float low0, high0, low1, high1}`). Coordinates are
  * `Double` here (Spark/DuckDB-native); golden-count workloads feed values that
  * are exact in float32, so widening preserves the reference semantics.
  */
final case class Geom(id: Long, xmin: Double, xmax: Double, ymin: Double, ymax: Double) {

  /** Inclusive MBR intersection — boundary touch counts.
    * Reference: `spatial-join-baseline/cpp/Region.h:59-66` (the strict variant
    * is present there but commented out; the inclusive form is what every
    * published golden count uses).
    */
  def intersects(o: Geom): Boolean =
    xmin <= o.xmax && xmax >= o.xmin && ymin <= o.ymax && ymax >= o.ymin

  /** Bottom-left corner of the intersection rectangle — the "reference point"
    * used for exactly-once duplicate elimination across space partitions.
    * Reference: `designs/pbsm/dynamic/16/src/join.hpp:60-61`.
    */
  def refPoint(o: Geom): (Double, Double) =
    (math.max(xmin, o.xmin), math.max(ymin, o.ymin))

  def width: Double  = xmax - xmin
  def height: Double = ymax - ymin

  def centerX: Double = (xmin + xmax) / 2
  def centerY: Double = (ymin + ymax) / 2

  /** Minimum Euclidean distance between two MBRs (0 when they intersect). */
  def minDist(o: Geom): Double = {
    val dx = math.max(0.0, math.max(o.xmin - xmax, xmin - o.xmax))
    val dy = math.max(0.0, math.max(o.ymin - ymax, ymin - o.ymax))
    math.sqrt(dx * dx + dy * dy)
  }
}

object Geom {
  def point(id: Long, x: Double, y: Double): Geom = Geom(id, x, x, y, y)
}

/** Double comparison in Spark SQL's order, where NaN sits above every other
  * value and equals itself. The Scala-side cell lookups and join loops
  * compare with it, so their pair sets match the SQL intersect predicate's
  * (and `broadcastNL`'s) on NaN coordinates.
  */
object SqlOrder {
  @inline def le(x: Double, y: Double): Boolean = x <= y || y != y

  /** Box a meets box b, inclusive: [[graft.functions.Mbr.intersects]] in Scala. */
  @inline def intersects(ax0: Double, ax1: Double, ay0: Double, ay1: Double,
                         bx0: Double, bx1: Double, by0: Double, by1: Double): Boolean =
    le(ax0, bx1) && le(bx0, ax1) && le(ay0, by1) && le(by0, ay1)
}

/** Global bounding box of a dataset (the reference tracks this inline during
  * the scan, `cpp/singlethread.cpp:68-87`; we compute it with a min/max agg).
  */
final case class Extent(xmin: Double, xmax: Double, ymin: Double, ymax: Double) {
  def width: Double  = xmax - xmin
  def height: Double = ymax - ymin
  def union(o: Extent): Extent =
    Extent(math.min(xmin, o.xmin), math.max(xmax, o.xmax),
           math.min(ymin, o.ymin), math.max(ymax, o.ymax))
}
