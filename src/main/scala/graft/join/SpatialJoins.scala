package graft.join

import graft.cells.{CellMapping, CellOf, CellScheme, CellsOf}
import graft.functions.Mbr
import graft.geom.{Extent, Geom, SqlOrder}
import graft.geom.SqlOrder.le
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Abs, Expression, Greatest, Literal, Subtract}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Result pair — the reference's `std::pair<int,int>` / FPGA `result_t`
  * (`cpp/RTree.h:114`, `designs/pbsm/dynamic/16/src/types.hpp:27-31`).
  */
final case class Pair(a_id: Long, b_id: Long)

/** Reduce-side row of the repartition+sort join — all-primitive fields so the
  * codegen'd Dataset deserializer constructs it with ONE allocation per row
  * (the r6 DataFrame `mapPartitions` decoded to `GenericRowWithSchema`: an
  * Object[7] plus a boxed object per field per row — ~9 allocations and
  * virtual getters on the hottest path of every sweep/adaptive join).
  */
private[graft] final case class KeyedGeom(key: Long, side: Int, id: Long,
                                          xmin: Double, xmax: Double,
                                          ymin: Double, ymax: Double)

/** What the ONE planning job ([[SpatialJoins.evidenceOf]]) measures
  * about a join's two inputs; route and stripe-axis choice read nothing else.
  *
  *  - `extent`: the joint extent, None when both inputs are empty (no
  *    non-null coordinate to take a min or max of).
  *  - `aMaxEdge` / `bMaxEdge`: `max(|xmax − xmin|, |ymax − ymin|)` over the
  *    side's rows; NaN for an empty side. A side whose max edge is 0 is a
  *    POINT side. abs() so an INVERTED row (xmax < xmin — it meets only
  *    rows that span its whole inverted interval) cannot hide behind a zero
  *    other edge and smuggle its side into the point plan, which would treat
  *    it as its (xmin, ymin) corner and emit pairs the generic plan never
  *    would.
  *  - `aMeanW` / `aMeanH`, `bMeanW` / `bMeanH`: the side's mean signed edge
  *    per axis (0 for an empty side).
  *  - `occupiedA` / `occupiedB`: the side's occupied cells ([[Occupancy]]:
  *    size and fill of its bitmap F), when the pass was asked to rasterize
  *    that side and every row of it is finite.
  */
final case class JoinEvidence(extent: Option[Extent], countA: Long, countB: Long,
                              aMaxEdge: Double, bMaxEdge: Double,
                              aMeanW: Double, aMeanH: Double,
                              bMeanW: Double, bMeanH: Double,
                              occupiedA: Option[Occupancy] = None,
                              occupiedB: Option[Occupancy] = None) {
  def aPoints: Boolean = aMaxEdge == 0.0
  def bPoints: Boolean = bMaxEdge == 0.0

  /** Rows of the larger side per cell of `s`, each counted in the cells it
    * is expected to overlap: `1 + its side's mean edge / cell edge` per
    * axis (NaN or negative mean edges count once). A cell's nested loop
    * runs over its replicas, not only the rows it owns.
    */
  def rowsPerCell(s: CellScheme): Double = {
    def replicas(edge: Double, cell: Double) = { val r = edge / cell; if (r > 0) 1 + r else 1.0 }
    val (n, w, h) = if (countA >= countB) (countA, aMeanW, aMeanH) else (countB, bMeanW, bMeanH)
    n * replicas(w, s.cellW) * replicas(h, s.cellH) / s.numCells
  }
}

object JoinEvidence {
  /** A share of the evidence — one partition's, or merged — with SQL
    * aggregate semantics: nulls are skipped, and NaN orders above every
    * value ([[graft.geom.SqlOrder]]). `raster` holds the partition's
    * occupied cells when its side was asked to rasterize them and all its
    * coordinates are finite.
    */
  private[join] final class Part(val side: Int) extends Serializable {
    var rows = 0L
    /** min xmin, max xmax, min ymin, max ymax, max edge; and whether each was seen. */
    val ext = new Array[Double](5)
    val seen = new Array[Boolean](5)
    var sumW = 0.0; var nW = 0L
    var sumH = 0.0; var nH = 0L
    var raster: Option[Raster] = None

    def extend(i: Int, v: Double): Unit = {
      if (!seen(i) || (if (i == 0 || i == 2) le(v, ext(i)) else le(ext(i), v))) ext(i) = v
      seen(i) = true
    }

    def absorb(o: Part): Unit = {
      rows += o.rows
      for (i <- 0 until 5 if o.seen(i)) extend(i, o.ext(i))
      sumW += o.sumW; nW += o.nW; sumH += o.sumH; nH += o.nH
    }

    def maxEdge: Double = if (seen(4)) ext(4) else Double.NaN
  }

  private[join] object Part {
    /** Reads rows `xmin, xmax, ymin, ymax, edge`; `rasterOf > 0` also
      * rasterizes this partition as one of `rasterOf` partitions.
      */
    def of(rows: Iterator[InternalRow], side: Int, rasterOf: Int): Part = {
      val p = new Part(side)
      val raster = if (rasterOf > 0) new Rasterizer(rasterOf) else null
      rows.foreach { r =>
        p.rows += 1
        var i = 0
        while (i < 5) { if (!r.isNullAt(i)) p.extend(i, r.getDouble(i)); i += 1 }
        if (!r.isNullAt(0) && !r.isNullAt(1)) { p.sumW += r.getDouble(1) - r.getDouble(0); p.nW += 1 }
        if (!r.isNullAt(2) && !r.isNullAt(3)) { p.sumH += r.getDouble(3) - r.getDouble(2); p.nH += 1 }
        // a row with a null coordinate meets no row, so S's occupancy skips it
        if (raster != null && !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(3))
          raster.add(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
      }
      if (raster != null) p.raster = raster.result()
      p
    }
  }

  /** A row's edge, `max(|xmax − xmin|, |ymax − ymin|)`, as the Catalyst
    * expression the evidence aggregation takes its per-side max over.
    */
  def edge(xmin: Expression, xmax: Expression, ymin: Expression, ymax: Expression): Expression =
    Greatest(Seq(Abs(Subtract(xmax, xmin)), Abs(Subtract(ymax, ymin))))
}

/** One input of a cell join: its rows and the four MBR coordinate columns of
  * each row, any double expressions over `df` (the distance joins' are the
  * MBR grown by r). A POINT side is read as the point `(xmin, ymin)`: it
  * maps to its one cell, and no plan over it reads `xmax` or `ymax`.
  */
private[graft] final case class Side(df: DataFrame, xmin: Column, xmax: Column,
                                     ymin: Column, ymax: Column, points: Boolean = false) {
  /** The MBR every plan reads; a point side's is the point itself. */
  def coords: Seq[Column] =
    if (points) Seq(xmin, xmin, ymin, ymin) else Seq(xmin, xmax, ymin, ymax)

  private def box: Seq[Expression] = Seq(xmin, xmax, ymin, ymax).map(Bridge.expression)

  /** This side with its MBR grown by `r` on every edge ([[Mbr.grown]]). */
  def expanded(r: Double): Side = boxed(Mbr.grown(box, Literal(r)))

  /** This side with each axis's ends in order ([[Mbr.ordered]]). */
  def ordered: Side = boxed(Mbr.ordered(box))

  /** This side with the MBR `box`, four expressions over `df`. */
  def boxed(box: Seq[Expression]): Side = {
    val Seq(x0, x1, y0, y1) = box.map(Bridge.column)
    copy(xmin = x0, xmax = x1, ymin = y0, ymax = y1)
  }
}

private[graft] object Side {
  /** The columns `p_xmin` … `p_ymax`. */
  def box(p: String): Seq[Column] = Seq("xmin", "xmax", "ymin", "ymax").map(c => col(s"${p}_$c"))

  /** The side whose coordinates are the columns `p_xmin` … `p_ymax` of `df`. */
  def prefixed(df: DataFrame, p: String): Side = {
    val Seq(x0, x1, y0, y1) = box(p)
    Side(df, x0, x1, y0, y1)
  }

  /** `d` with its columns prefixed `p_`. */
  def of(d: Dataset[Geom], p: String): Side =
    prefixed(d.toDF(Seq("id", "xmin", "xmax", "ymin", "ymax").map(c => s"${p}_$c"): _*), p)
}

/** The physical plan of one cell-partitioned join, chosen from the evidence
  * by [[SpatialJoins.route]]. Every route emits the identical pair set.
  */
sealed trait Route

object Route {
  /** Both inputs empty: the broadcast nested loop, trivially correct. */
  case object Broadcast extends Route
  /** The declarative cell equi-join ([[SpatialJoins.gridJoin]]). */
  case object Grid extends Route
  /** The a side is all points: the cell equi-join over a point a side
    * ([[SpatialJoins.gridJoinPIP]]).
    */
  case object PointsA extends Route
  /** The b side is all points: the cell equi-join over a point b side. */
  case object PointsB extends Route
  /** Dense cells: the keyed repartition+sort reduce with the sweep/STR inner
    * loop ([[SpatialJoins.keyedPartitionJoin]]) when the caller wants only
    * the id pairs, else the declarative body; a point side maps as a plain
    * projection instead of a generator.
    */
  final case class Sweep(aPoints: Boolean, bPoints: Boolean) extends Route
}

/** Spatial θ-join (inclusive rectangle-intersect) with several physical
  * strategies, all producing the identical pair set:
  *
  *  - `broadcastNL`   — broadcast nested-loop (small side broadcast); also the
  *                      correctness oracle (reference J1,
  *                      `cpp/Tree_generation.hpp:707-718`).
  *  - `gridJoin`      — PBSM as a declarative Catalyst plan: replicate each MBR
  *                      into overlapped grid cells (`explode(cells_of)`), then a
  *                      plain *equi-join on cell id* + intersect predicate +
  *                      reference-point ownership filter. Catalyst plans a
  *                      shuffled hash/sort-merge join, AQE handles residual
  *                      skew; the whole pipeline is whole-stage-codegen'd.
  *  - `gridJoinSweep` — the same replication, but the per-cell inner loop is
  *                      a plane sweep over y-sorted arrays (reference J5/J6
  *                      inner loop, `cpp/1d_stripes.hpp:16-68`) in the keyed
  *                      repartition+sort reduce, cutting per-cell work from
  *                      |A|·|B| to sorted-overlap. Used when cells are dense.
  *  - `stripesJoin`   — 1-D stripes = `n × 1` grid (reference J5).
  *
  * Planning is evidence → scheme → route → plan, in ONE planner
  * ([[planJoin]]) behind `intersectJoin`, SQL's st_* joins, both stripes
  * joins and `gridJoinAdaptive`'s zero-split case: ONE fused aggregation
  * ([[evidenceOf]]), the caller's cell scheme as a function of it, and a
  * pure route choice ([[route]]). There are two join bodies: the
  * declarative cell equi-join ([[cellJoin]]) and the keyed reduce
  * ([[keyedPartitionJoin]]).
  *
  * Exactly-once semantics: a pair is emitted only in the cell that contains
  * the bottom-left corner of its intersection (`join.hpp:56-71`), so no
  * `distinct()` shuffle is ever needed (contrast with the SpatialSpark
  * baseline's `.distinct()`, `PartitionedSpatialJoin.scala:258-264`).
  */
object SpatialJoins {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass.getName.stripSuffix("$"))

  /** The [[Mbr]] predicates over the columns `a_xmin` … `b_ymax`. */
  val intersectPred: Column = Mbr.column(Mbr.intersects)(Side.box("a"), Side.box("b"))

  /** Predicate variants over MBRs (the reference's SpatialSpark surface,
    * `SpatialJoinApp.scala:128-136`): `within` = a inside b (inclusive),
    * `contains` = b inside a, `overlaps` = intersect but neither contains
    * the other. All are refinements of intersect on rows with ordered ends,
    * so they run as a post-join filter on the same cell-partitioned plan
    * with unchanged dedup.
    */
  val withinPred: Column = Mbr.column(Mbr.within)(Side.box("a"), Side.box("b"))

  val containsPred: Column = Mbr.column(Mbr.within)(Side.box("b"), Side.box("a"))

  val overlapsPred: Column = intersectPred && !withinPred && !containsPred

  /** SQL texts of the variant predicates (a/b-aliased), for oracles. */
  val withinSql =
    "a.xmin >= b.xmin AND a.xmax <= b.xmax AND a.ymin >= b.ymin AND a.ymax <= b.ymax"
  val containsSql =
    "b.xmin >= a.xmin AND b.xmax <= a.xmax AND b.ymin >= a.ymin AND b.ymax <= a.ymax"

  private def prefixed(ds: Dataset[Geom], p: String): DataFrame = Side.of(ds, p).df

  /** A join's pairs with the a/b roles swapped back (for plans run b-first). */
  private def swapSides(df: DataFrame): DataFrame =
    df.select(col("b_id").as("a_id"), col("a_id").as("b_id"))

  /** Broadcast nested-loop join — correct for any input, efficient when one
    * side fits in memory (reference J12 / oracle J1).
    */
  def broadcastNL(a: Dataset[Geom], b: Dataset[Geom]): DataFrame =
    prefixed(a, "a").join(broadcast(prefixed(b, "b")), intersectPred)
      .select(col("a_id"), col("b_id"))

  /** Estimated Tungsten row width of a Geom (int64 id + 4 doubles + header) —
    * used to turn Catalyst `sizeInBytes` into a row-count estimate.
    */
  private val GeomRowBytes = 48.0

  /** Row-count estimate from Catalyst plan statistics — ZERO Spark jobs.
    * `sizeInBytes` propagates through the optimized plan for free (scans take
    * it from file sizes, projections rescale by row width), so strategy
    * choice never pays a data pass. It is an estimate; every strategy below
    * returns the identical pair set, so a misestimate costs time, not
    * correctness.
    */
  private[graft] def estRowsFromStats(d: Dataset[Geom]): Double =
    statsBytes(d.toDF()) / GeomRowBytes

  private def statsBytes(df: DataFrame): Double =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble

  // ---- evidence → route → plan ----------------------------------------------

  /** Above this many rows of the larger side per cell, the declarative
    * join's per-cell nested loop (inside the SMJ group) loses to the
    * sweep/STR inner loop of the keyed reduce.
    */
  private[graft] val DenseCellRows = 256.0

  /** The ONE planning job: extent, per-side counts, per-side max edge and
    * per-axis mean edge of both inputs. Each input's partitions, coalesced
    * to one group per core, fold their rows into a [[JoinEvidence.Part]] per
    * group and the driver merges them — one stage, no exchange.
    */
  def evidenceOf(a: Dataset[Geom], b: Dataset[Geom]): JoinEvidence =
    measure(Side.of(a, "a"), Side.of(b, "b"), rasterA = false, rasterB = false)

  /** [[evidenceOf]] over two sides that also maps the occupied cells
    * ([[Occupancy]]) of the side Catalyst stats estimate smaller, in the
    * same job.
    */
  private[graft] def evidenceWithOccupancy(a: Side, b: Side): JoinEvidence = {
    val aSmaller = statsBytes(a.df) <= statsBytes(b.df)
    measure(a, b, rasterA = aSmaller, rasterB = !aSmaller)
  }

  private def measure(a: Side, b: Side, rasterA: Boolean, rasterB: Boolean): JoinEvidence = {
    def parts(d: Side, side: Int, raster: Boolean) = {
      val c = Seq(d.xmin, d.xmax, d.ymin, d.ymax)
      val Seq(x0, x1, y0, y1) = c.map(Bridge.expression)
      val scan = d.df.select(c :+ Bridge.column(JoinEvidence.edge(x0, x1, y0, y1)): _*)
        .queryExecution.toRdd
      // a task per core, not per input partition: on inputs of many small
      // partitions the job's time is mostly per-task overhead
      val rows = scan.coalesce(scan.sparkContext.defaultParallelism)
      val n = if (raster) rows.getNumPartitions else 0
      rows.mapPartitions(it => Iterator(JoinEvidence.Part.of(it, side, n)))
    }
    val ps = parts(a, 0, rasterA).union(parts(b, 1, rasterB)).collect()
    def merged(f: JoinEvidence.Part => Boolean) = {
      val m = new JoinEvidence.Part(-1)
      ps.filter(f).foreach(m.absorb)
      m
    }
    val (pa, pb, all) = (merged(_.side == 0), merged(_.side == 1), merged(_ => true))
    def occupied(side: Int, asked: Boolean) =
      if (asked) Occupancy.merge(ps.filter(_.side == side).map(_.raster).toSeq) else None
    def mean(sum: Double, n: Long) = if (n == 0) 0.0 else sum / n
    JoinEvidence(
      if (all.seen.take(4).contains(false)) None
      else Some(Extent(all.ext(0), all.ext(1), all.ext(2), all.ext(3))),
      pa.rows, pb.rows, pa.maxEdge, pb.maxEdge,
      mean(pa.sumW, pa.nW), mean(pa.sumH, pa.nH), mean(pb.sumW, pb.nW), mean(pb.sumH, pb.nH),
      occupied(0, rasterA), occupied(1, rasterB))
  }

  /** Route choice — a pure function of the evidence and the cell scheme. */
  def route(ev: JoinEvidence, s: CellScheme): Route =
    if (ev.extent.isEmpty) Route.Broadcast
    else if (ev.rowsPerCell(s) > DenseCellRows) Route.Sweep(ev.aPoints, ev.bPoints)
    else if (ev.aPoints) Route.PointsA
    else if (ev.bPoints) Route.PointsB
    else Route.Grid

  /** The plan of route `r` over scheme `s` and the [[evidenced]] sides;
    * None for the broadcast. With `ids` the sides are [[Side.of]]'s and the
    * caller wants only the id pairs, so dense cells take the keyed reduce,
    * which carries only ids. Without it every column of both sides
    * survives, so dense cells take the declarative body.
    */
  private def planSides(a: Side, b: Side, s: CellScheme, r: Route, ids: Boolean): Option[DataFrame] =
    r match {
      case Route.Broadcast => None
      case Route.Sweep(_, _) if ids => Some(keyedJoin(a, b, s))
      case _ => Some(cellJoin(a, b, s))
    }

  /** `a` and `b` as the evidence finds them: each takes the evidence's
    * point flag and drops its rows that touch no occupied cell of the other
    * side ([[dropUnoccupied]]). A point side maps to its one cell under any
    * [[CellMapping]]: `cellsOf` of a zero-extent row is the one key
    * `cellOf` gives.
    */
  private def evidenced(a: Side, b: Side, ev: JoinEvidence): (Side, Side) =
    (dropUnoccupied(a, ev.occupiedB, ev.aPoints).copy(points = ev.aPoints),
      dropUnoccupied(b, ev.occupiedA, ev.bPoints).copy(points = ev.bPoints))

  /** The grid of about 16 rows of the larger side per cell over the
    * evidence's extent. When its cap binds (rows ≫ 16·maxN²) cells run dense
    * and the route turns to the sweep.
    */
  private val SizedGrid: JoinEvidence => CellScheme = ev =>
    CellScheme.forSize(ev.extent.getOrElse(Extent(0, 0, 0, 0)),
      math.max(ev.countA, ev.countB), targetPerCell = 16, maxN = 8192)

  /** The ONE planner of every cell-partitioned entry point that picks its
    * own route: [[intersectJoin]] and SQL's st_* joins
    * ([[graft.plans.SpatialJoinRule]]) past the broadcast check, both
    * stripes joins and [[gridJoinAdaptive]] when it plans no split. `ev`,
    * the ONE evidence job over `a` and `b`, which also maps the occupied
    * cells of the side stats estimate smaller ([[evidenceWithOccupancy]]) → the
    * caller's cell scheme, a function of that evidence (by default
    * [[SizedGrid]]) → [[route]] → each side takes its point flag and drops
    * its rows that touch no occupied cell of the other ([[evidenced]]) →
    * the route's plan ([[planSides]]; `ids`: the sides are [[Side.of]]'s
    * and only their id pairs are wanted). The pair set is that of every
    * route. One INFO line logs the route, the body a Sweep route runs on
    * sides with every column (the declarative one), the counts and the
    * occupancy.
    */
  private[graft] def planJoin(a: Side, b: Side, ev: JoinEvidence, ids: Boolean,
                              scheme: JoinEvidence => CellScheme = SizedGrid): Option[DataFrame] = {
    val s = scheme(ev)
    val r = route(ev, s)
    if (log.isInfoEnabled) {
      val occ = Seq("a" -> ev.occupiedA, "b" -> ev.occupiedB).collectFirst {
        case (side, Some(o)) =>
          f"occupancy of $side ${o.cells} cells, fill ${o.fill}%.4f, filter ${if (o.selective) "on" else "off"}"
      }
      val body = r match { case Route.Sweep(_, _) if !ids => " on the declarative body"; case _ => "" }
      log.info(s"spatial join: route $r$body, rows ${ev.countA} x ${ev.countB}, " +
        occ.getOrElse("no occupancy, filter off"))
    }
    val (ea, eb) = evidenced(a, b, ev)
    planSides(ea, eb, s, r, ids)
  }

  /** The pairs `(a_id, b_id)` of [[planJoin]] over `a` and `b` under
    * `scheme`; `broadcastNL` for the broadcast route. `ev` is the one
    * evidence job over them, when the caller has already run it.
    */
  private def planPairs(a: Dataset[Geom], b: Dataset[Geom],
                        scheme: JoinEvidence => CellScheme,
                        ev: Option[JoinEvidence] = None): DataFrame = {
    val (sa, sb) = (Side.of(a, "a"), Side.of(b, "b"))
    planJoin(sa, sb, ev.getOrElse(evidenceWithOccupancy(sa, sb)), ids = true, scheme)
      .fold(broadcastNL(a, b))(_.select(col("a_id"), col("b_id")))
  }

  /** Single entry point with automatic physical-strategy choice (the
    * reference's join-direction / index-side heuristics, SURVEY §4): tiny
    * side → broadcast nested loop (built on the smaller side); otherwise
    * the one planner, [[planJoin]].
    *
    * Planning cost (the r2 verdict flagged an eager `a.count(); b.count()`
    * here — two full input passes before any join work): the broadcast
    * decision reads Catalyst statistics (no job at all); only the grid
    * path runs the ONE evidence job, which also gives the joint extent the
    * grid needs.
    */
  def intersectJoin(a: Dataset[Geom], b: Dataset[Geom],
                    broadcastThreshold: Long = 10000L): DataFrame = {
    // the stats estimate UNDER-counts rows on compressed column-pruned scans
    // (sizeInBytes is source bytes), and broadcastNL is O(|A|·|B|) work — a
    // false "small" is catastrophic (a 20k×150k misroute measured 30 s where
    // the grid join takes 0.6 s). So a small estimate is CONFIRMED by a
    // bounded count: limit(t+1).count() reads at most t+1 rows no matter how
    // large the input — never a full scan. The confirm's threshold is
    // clamped to the Int range: past it, (t+1).toInt wraps to a negative or
    // tiny limit.
    val t = math.min(broadcastThreshold, Int.MaxValue - 1L)
    def small(d: Dataset[Geom]): Boolean =
      estRowsFromStats(d) <= broadcastThreshold && d.limit((t + 1).toInt).count() <= t
    if (small(b)) broadcastNL(a, b)
    else if (small(a)) swapSides(broadcastNL(b, a))
    // stats can OVER-estimate filtered scans, so both inputs may be empty
    // here: the evidence then has no extent and routes to broadcastNL
    else planPairs(a, b, SizedGrid)
  }

  /** The rows of `d` that touch some occupied cell of the other side; all
    * of `d` when there is no selective occupancy. A point side is probed
    * at `(xmin, ymin)`, the point every route takes it for, so the scan
    * reads no `xmax`/`ymax`.
    */
  private[graft] def dropUnoccupied(d: Side, occ: Option[Occupancy], points: Boolean): Side =
    occ.filter(_.selective).fold(d) { o =>
      val probe = OccupancyProbe(o, d.copy(points = points).coords.map(Bridge.expression))
      d.copy(df = d.df.filter(Bridge.column(probe)))
    }

  // ---- declarative grid PBSM ------------------------------------------------

  /** Owning key of a point `(x, y)` under `m`, as a column ([[CellOf]]). */
  def cellOfCol(m: CellMapping, x: Column, y: Column): Column =
    Bridge.column(CellOf(m, Seq(x, y).map(Bridge.expression)))

  /** The key columns of the cell-join body's a and b sides. */
  private val CellA = "__graft_cell_a"
  private val CellB = "__graft_cell_b"

  /** `d`'s rows keyed by `m` in the new column `key`: replicated to every
    * key their MBR overlaps (one `explode` over [[CellsOf]], which streams a
    * row's keys in generated code), or, for a point side, projected to the
    * point's one key ([[CellOf]]).
    */
  private def keyed(d: Side, m: CellMapping, key: String): DataFrame =
    d.df.withColumn(key,
      if (d.points) cellOfCol(m, d.xmin, d.ymin)
      else explode(Bridge.column(CellsOf(m, d.coords.map(Bridge.expression)))))

  /** Replicate the `p`-prefixed rows into every key of `m` they overlap,
    * keyed `cell`.
    */
  def withCells(df: DataFrame, m: CellMapping, p: String): DataFrame =
    keyed(Side.prefixed(df, p), m, "cell")

  /** Reference-point dedup as a column predicate: the joined `cell` must be
    * the owner of the bottom-left corner of the pair's intersection
    * (`join.hpp:56-71`).
    */
  private def ownsPred(a: Side, b: Side, s: CellScheme, cell: Column): Column =
    cellOfCol(s, greatest(a.xmin, b.xmin), greatest(a.ymin, b.ymin)) === cell

  /** The b side replicated to its cells — split out so iterating callers
    * ([[knnJoinWithRounds]]) can build it ONCE per scheme, pre-partition it
    * on the join key and cache it across rounds.
    */
  private[graft] def bReplicated(b: Dataset[Geom], s: CellScheme): DataFrame =
    keyed(Side.of(b, "b"), s, CellB)

  /** The ONE declarative cell-join body: both sides keyed by `s`
    * ([[keyed]]), equi-joined on the key, keeping the intersecting pairs
    * owned by the joined cell. Every column of both sides survives, so
    * callers select, filter or group on top.
    */
  private[graft] def cellJoin(a: Side, b: Side, s: CellScheme): DataFrame =
    cellJoinKeyed(a, keyed(a, s, CellA), b, keyed(b, s, CellB), s)

  /** [[cellJoin]] over sides already keyed: `ak` is `a.df` keyed in `CellA`,
    * `bk` is `b.df` keyed in `CellB`. A pair with a POINT side can meet only
    * in the point's own cell (cell coordinates are monotone in the
    * coordinate, so a rectangle holding the point covers that cell), which
    * makes it exactly-once with no ownership test.
    */
  private def cellJoinKeyed(a: Side, ak: DataFrame, b: Side, bk: DataFrame,
                            s: CellScheme): DataFrame = {
    val owns = if (a.points || b.points) Nil else Seq(ownsPred(a, b, s, col(CellA)))
    ak.join(bk, (Seq(col(CellA) === col(CellB),
      Mbr.column(Mbr.intersects)(a.coords, b.coords)) ++ owns).reduce(_ && _))
  }

  /** PBSM grid join as a pure Catalyst plan (equi-join on cell). */
  def gridJoin(a: Dataset[Geom], b: Dataset[Geom], s: CellScheme): DataFrame =
    cellJoin(Side.of(a, "a"), Side.of(b, "b"), s).select(col("a_id"), col("b_id"))

  /** Per-cell result-pair counts (the north rule's per-cell result metrics —
    * the candidate-side counterpart is `spatial_cell_stats`): each pair
    * appears exactly once, in its owner cell, so the counts need no dedup.
    */
  def cellResultStats(a: Dataset[Geom], b: Dataset[Geom], s: CellScheme): DataFrame =
    cellJoin(Side.of(a, "a"), Side.of(b, "b"), s)
      .groupBy(col(CellA).as("cell")).agg(count(lit(1)).as("n_pairs"))

  /** Point-in-polygon specialization of [[gridJoin]] (the reference's PIP
    * workload reads its point side as native points, `cpp/join.hpp` /
    * `data_gen` point files — this is the Spark-plan analogue): the cell join
    * over a POINT a side. Each a-side row is treated as the point
    * `(xmin, ymin)`; for genuine point rows (`xmin == xmax ∧ ymin == ymax`,
    * e.g. `Workloads.uniformPoints`) the pair set is identical to
    * [[gridJoin]]'s. Three structural savings over the generic plan: no
    * a-side replication (the cell id is a projection, not an `explode`), no
    * ownership filter, and a narrower shuffle row (`id, xmin, ymin, cell`).
    */
  def gridJoinPIP(pts: Dataset[Geom], polys: Dataset[Geom], s: CellScheme): DataFrame =
    cellJoin(Side.of(pts, "a").copy(points = true), Side.of(polys, "b"), s)
      .select(col("a_id"), col("b_id"))

  /** [[gridJoin]] restricted by an additional predicate variant (within /
    * contains / overlaps), a refinement filter on top of the cell join.
    * The candidate phase keys both sides' ordered boxes ([[Mbr.ordered]]):
    * in SQL order an ordered box contains the raw one, so its candidates
    * cover every intersecting pair, and every pair one of whose rows lies
    * within the other, inverted or NaN-min rows included.
    */
  def gridJoinPred(a: Dataset[Geom], b: Dataset[Geom], s: CellScheme,
                   pred: Column): DataFrame =
    cellJoin(Side.of(a, "a").ordered, Side.of(b, "b").ordered, s).filter(pred)
      .select(col("a_id"), col("b_id"))

  /** Salted grid join for degenerate hot cells (e.g. many identical points):
    * the a-side of every cell is hashed into `salt` buckets; the b-side is
    * replicated into all buckets. Each (a, b) candidate pair meets in exactly
    * one (cell, bucket), so reference-point dedup is unchanged. One shuffle,
    * `salt`× more b-side rows, `salt`× more parallelism inside hot cells.
    */
  def gridJoinSalted(a: Dataset[Geom], b: Dataset[Geom], s: CellScheme,
                     salt: Int): DataFrame = {
    require(salt >= 1)
    val (as, bs) = (Side.of(a, "a"), Side.of(b, "b"))
    val ac = keyed(as, s, CellA)
      .withColumn("skey", col(CellA) * salt + pmod(xxhash64(col("a_id")), lit(salt.toLong)))
    val bc = keyed(bs, s, CellB)
      .withColumn("bucket", explode(sequence(lit(0L), lit(salt - 1L))))
      .withColumn("b_skey", col(CellB) * salt + col("bucket"))
    ac.join(bc, col("skey") === col("b_skey") && intersectPred && ownsPred(as, bs, s, col(CellA)))
      .select(col("a_id"), col("b_id"))
  }

  // ---- keyed repartition+sort reduce with the sweep/STR inner loop ----------

  /** Per-cell inner-loop switch: plane sweep for ordinary cells; for DENSE
    * cells (≥ `IndexMinRows` on each side) an STR-packed R-tree over the
    * smaller side, probed by the larger (the reference's J2 sync-traversal
    * analogue, `cpp/RTree.h:114-165`). The sweep's cost is
    * O(n log n + y-overlap pairs); in a dense cell nearly everything
    * y-overlaps and it degenerates toward |A|·|B|, which is exactly where a
    * packed index prunes by BOTH axes at once.
    */
  private[graft] val IndexMinRows = 512

  /** Dispatch between the sweep and the STR-indexed loop. */
  private[graft] def joinCellOwned(as: Array[Geom], bs: Array[Geom],
                                   ownsRef: (Double, Double) => Boolean): Iterator[Pair] =
    if (math.min(as.length, bs.length) >= IndexMinRows) strOwned(as, bs, ownsRef)
    else sweepOwned(as, bs, ownsRef)

  /** STR-indexed per-cell join: build on the smaller side, probe with the
    * larger; emits the same (intersect ∧ owns) pair set as [[sweepOwned]].
    */
  private[graft] def strOwned(as: Array[Geom], bs: Array[Geom],
                              ownsRef: (Double, Double) => Boolean): Iterator[Pair] =
    if (as.isEmpty || bs.isEmpty) Iterator.empty else new StrProbes(as, bs, ownsRef)

  /** [[strOwned]]'s pairs, STREAMED probe by probe: materializing the whole
    * per-cell pair set would buffer O(result) Pairs in one task, while one
    * probe's pairs are bounded by the build side. The iterator owns one
    * buffer and one sink closure, reused across probes (per-probe ones cost
    * 10M+ allocations in a dense-stripe task), and refills the buffer only
    * after handing out every pair in it, so no consumer can see it reused.
    */
  private final class StrProbes(as: Array[Geom], bs: Array[Geom],
                                ownsRef: (Double, Double) => Boolean) extends Iterator[Pair] {
    private val buildA = as.length <= bs.length
    private val tree = STRTree.build(if (buildA) as else bs)
    private val probes = if (buildA) bs else as
    private var nextProbe = 0
    private var probe: Geom = null
    private var buf = new Array[Pair](16)
    private var n = 0
    private var i = 0
    private val sink: Geom => Unit = { g =>
      val p = probe
      if (ownsRef(math.max(p.xmin, g.xmin), math.max(p.ymin, g.ymin))) {
        if (n == buf.length) buf = java.util.Arrays.copyOf(buf, 2 * n)
        buf(n) = if (buildA) Pair(g.id, p.id) else Pair(p.id, g.id)
        n += 1
      }
    }
    def hasNext: Boolean = {
      while (i == n && nextProbe < probes.length) {
        i = 0; n = 0
        probe = probes(nextProbe); nextProbe += 1
        tree.foreachIntersecting(probe.xmin, probe.xmax, probe.ymin, probe.ymax)(sink)
      }
      i < n
    }
    def next(): Pair = {
      if (!hasNext) throw new NoSuchElementException
      i += 1
      buf(i - 1)
    }
  }

  /** Per-cell plane sweep over ymin-sorted arrays with a pluggable
    * reference-point ownership test: each intersecting pair is found exactly
    * once, anchored at the rectangle with the smaller ymin. O(n log n +
    * overlaps) per cell instead of |A|·|B| (reference sweep
    * `cpp/1d_stripes.hpp:16-68`, event order `cpp/Event.h:37-45`). All
    * comparisons are in SQL order ([[graft.geom.SqlOrder]]), and a candidate is checked
    * on both axes, so NaN coordinates and inverted rows give the SQL
    * predicate's pairs.
    */
  private[graft] def sweepOwned(as: Array[Geom], bs: Array[Geom],
                                ownsRef: (Double, Double) => Boolean): Iterator[Pair] = {
    if (as.isEmpty || bs.isEmpty) return Iterator.empty
    // primitive comparator: Ordering.by boxes a Double per comparison —
    // pure overhead in a sort that runs once per cell on the hot path
    val byYmin = new java.util.Comparator[Geom] {
      def compare(a: Geom, b: Geom): Int = java.lang.Double.compare(a.ymin, b.ymin)
    }
    java.util.Arrays.sort(as, byYmin)
    java.util.Arrays.sort(bs, byYmin)
    new Iterator[Pair] {
      private var i = 0; private var j = 0
      private var anchorA = true          // which side the current anchor is on
      private var k = 0                    // scan cursor on the opposite side
      private var pending: Pair = null
      private def hitOwned(a: Geom, b: Geom): Boolean =
        SqlOrder.intersects(a.xmin, a.xmax, a.ymin, a.ymax, b.xmin, b.xmax, b.ymin, b.ymax) &&
          ownsRef(math.max(a.xmin, b.xmin), math.max(a.ymin, b.ymin))
      private def advance(): Unit = {
        while (pending == null && i < as.length && j < bs.length) {
          if (anchorA && le(as(i).ymin, bs(j).ymin)) {
            // anchor = as(i); scan bs from k while bs(k).ymin <= anchor.ymax
            if (k < j) k = j
            var found = false
            while (!found && k < bs.length && le(bs(k).ymin, as(i).ymax)) {
              if (hitOwned(as(i), bs(k))) { pending = Pair(as(i).id, bs(k).id); found = true }
              k += 1
            }
            if (!found) { i += 1; k = 0; anchorA = true } else return
          } else {
            anchorA = false
            if (k < i) k = i
            var found = false
            while (!found && k < as.length && le(as(k).ymin, bs(j).ymax)) {
              if (hitOwned(as(k), bs(j))) { pending = Pair(as(k).id, bs(j).id); found = true }
              k += 1
            }
            if (!found) { j += 1; k = 0; anchorA = true } else return
          }
        }
      }
      def hasNext: Boolean = { if (pending == null) advance(); pending != null }
      def next(): Pair = { if (!hasNext) throw new NoSuchElementException; val p = pending; pending = null; p }
    }
  }

  /** The ONE reduce body, shared by the sweep, adaptive, sort-tile and
    * binary-split joins: every row of `a` and `b` replicated to the keys of
    * `m` its MBR overlaps (a point row's `cellsOf` is its one `cellOf` key),
    * then [[keyedJoin]]. A pure function of the scheme: no planning job.
    */
  private[graft] def keyedPartitionJoin(a: Dataset[Geom], b: Dataset[Geom], m: CellMapping): DataFrame =
    keyedJoin(Side.of(a, "a"), Side.of(b, "b"), m)

  /** The keyed reduce over two of [[Side.of]]'s sides (their `a_id` and
    * `b_id` columns ride along). Each side is keyed by `m` — replicated to
    * its keys, or, for a POINT side, projected to its one key ([[keyed]]) —
    * and the union of the keyed MBR rows is hash-partitioned on the key,
    * sorted partition-locally on it, and consumed by a run-grouping
    * iterator that splits each key's run into its two sides for the
    * sweep/STR inner loop. `m.cellOf` maps a reference point to its owning
    * key — pairs are kept exactly once, in their owner key's run.
    */
  private def keyedJoin(a: Side, b: Side, m: CellMapping): DataFrame = {
    val spark = a.df.sparkSession
    import spark.implicits._
    def side(d: Side, id: String, i: Int): DataFrame = {
      val Seq(x0, x1, y0, y1) = d.coords
      keyed(d, m, "key").select(col("key"), lit(i).as("side"), col(id).as("id"),
        x0.as("xmin"), x1.as("xmax"), y0.as("ymin"), y1.as("ymax"))
    }
    val u = side(a, "a_id", 0).unionByName(side(b, "b_id", 1))
      .repartition(col("key")).sortWithinPartitions("key")
      .as[KeyedGeom]
    u.mapPartitions { rows =>
      new Iterator[Pair] {
        private var cur: KeyedGeom = null
        private var started = false
        private var inner: Iterator[Pair] = Iterator.empty
        private def fill(): Unit = {
          if (!started) { started = true; cur = if (rows.hasNext) rows.next() else null }
          while (!inner.hasNext && cur != null) {
            val cellKey = cur.key
            val as = scala.collection.mutable.ArrayBuffer.empty[Geom]
            val bs = scala.collection.mutable.ArrayBuffer.empty[Geom]
            while (cur != null && cur.key == cellKey) {
              val g = Geom(cur.id, cur.xmin, cur.xmax, cur.ymin, cur.ymax)
              if (cur.side == 0) as += g else bs += g
              cur = if (rows.hasNext) rows.next() else null
            }
            inner = joinCellOwned(as.toArray, bs.toArray,
              (rx, ry) => m.cellOf(rx, ry) == cellKey)
          }
        }
        def hasNext: Boolean = { fill(); inner.hasNext }
        def next(): Pair = { if (!hasNext) throw new NoSuchElementException; inner.next() }
      }
    }.toDF("a_id", "b_id")
  }

  /** PBSM grid join with the plane-sweep/STR inner loop: the forced keyed
    * reduce over `s` ([[keyedPartitionJoin]]), with no planning job, no
    * route choice and no occupancy filter, so it stays an independent check
    * on the planned routes. The replication is DECLARATIVE (the same
    * codegen'd `explode` generator as [[gridJoin]]), followed by the keyed
    * reduce — object construction happens ONCE per row, on the reduce side.
    * A point row explodes to its one key; only [[planJoin]]'s Sweep route
    * maps a point side as a plain projection.
    */
  def gridJoinSweep(a: Dataset[Geom], b: Dataset[Geom], s: CellScheme): DataFrame =
    keyedPartitionJoin(a, b, s)

  /** 1-D stripes plan (reference J5): [[planJoin]] over an `n × 1` grid —
    * the point plan, the sweep when stripes run dense, and the occupancy
    * filter, as [[intersectJoin]] plans its own grid.
    */
  def stripesJoin(a: Dataset[Geom], b: Dataset[Geom], extent: Extent, n: Int): DataFrame =
    planPairs(a, b, _ => CellScheme.stripesX(extent, n))

  /** Stripe-direction choice (the reference records `best_join_direction` per
    * workload and picks the better of partition-dim0 vs the transpose,
    * `cpp/1d_multithread.cpp:168-174`): the axis with the smaller expected
    * replication of both sides' rows, `1 + mean edge / stripe width` each,
    * read off the evidence.
    */
  def chooseStripeAxis(ev: JoinEvidence, extent: Extent, n: Int): Char = {
    def extra(a: Double, b: Double, len: Double) =
      (ev.countA * a + ev.countB * b) / math.max(len / n, 1e-12)
    if (extra(ev.aMeanW, ev.bMeanW, extent.width) <= extra(ev.aMeanH, ev.bMeanH, extent.height)) 'x'
    else 'y'
  }

  /** [[stripesJoin]] with the axis chosen by [[chooseStripeAxis]]; the one
    * evidence aggregation serves the axis, the route and the occupancy
    * filter.
    */
  def stripesJoinAuto(a: Dataset[Geom], b: Dataset[Geom], extent: Extent, n: Int): DataFrame =
    planPairs(a, b, ev =>
      if (chooseStripeAxis(ev, extent, n) == 'x') CellScheme.stripesX(extent, n)
      else CellScheme.stripesY(extent, n))

  /** Sort-tile-partitioned join (the reference's SpatialSpark STP method,
    * `PartitionedSpatialJoin.scala:151-165`): data-quantile tile boundaries
    * ([[graft.cells.SortTileScheme]]) instead of a uniform lattice — equal
    * per-tile load under skew by construction rather than by reactive
    * splitting. Same keyed reduce and reference-point exactly-once rule, so
    * the pair set is identical to every other scheme.
    */
  def sortTileJoin(a: Dataset[Geom], b: Dataset[Geom],
                   scheme: graft.cells.SortTileScheme): DataFrame =
    keyedPartitionJoin(a, b, scheme)

  /** Convenience: build the scheme from a sample, then join. For benchmarks
    * or repeated joins build once and call the scheme overload.
    */
  def sortTileJoin(a: Dataset[Geom], b: Dataset[Geom], extent: Extent,
                   sx: Int, sy: Int): DataFrame =
    sortTileJoin(a, b, graft.cells.SortTileScheme.build(a, b, extent, sx, sy))

  /** Binary-split-partitioned join (the reference's SpatialSpark BSP method):
    * kd-tree leaves from sampled medians ([[graft.cells.BinarySplitScheme]]);
    * same keyed reduce and exactly-once rule as every scheme.
    */
  def binarySplitJoin(a: Dataset[Geom], b: Dataset[Geom],
                      scheme: graft.cells.BinarySplitScheme): DataFrame =
    keyedPartitionJoin(a, b, scheme)

  def binarySplitJoin(a: Dataset[Geom], b: Dataset[Geom], extent: Extent,
                      depth: Int): DataFrame =
    binarySplitJoin(a, b, graft.cells.BinarySplitScheme.build(a, b, extent, depth))

  /** PBSM with adaptive hot-cell refinement (reference J6's quadtree budget
    * rule, see [[graft.skew.AdaptiveCells]]): the one evidence job, then
    * splits planned from per-cell counts of one bounded sample sized by the
    * evidence's exact row counts, then one keyed reduce on the packed
    * two-level key over the sides as [[planJoin]] takes them
    * ([[evidenced]]: point flags and occupancy filter from the same
    * evidence). With no hot cell the two-level key is the plain grid, so
    * the join is [[planJoin]] over `base` and the same evidence.
    */
  def gridJoinAdaptive(a: Dataset[Geom], b: Dataset[Geom], base: CellScheme,
                       budgetPairs: Long = 4L * 1024 * 1024): DataFrame = {
    val (sa, sb) = (Side.of(a, "a"), Side.of(b, "b"))
    val ev = evidenceWithOccupancy(sa, sb)
    val scheme = graft.skew.AdaptiveCells.plan(a, b, base, budgetPairs, ev.countA + ev.countB)
    if (scheme.splits.isEmpty) planPairs(a, b, _ => base, Some(ev))
    else {
      val (ea, eb) = evidenced(sa, sb, ev)
      keyedJoin(ea, eb, scheme)
    }
  }

  // ---- distance join --------------------------------------------------------

  /** Minimum Euclidean distance between two MBRs as a column. */
  val minDistCol: Column = Mbr.column(Mbr.minDist)(Side.box("a"), Side.box("b"))

  /** "within distance r" join (reference J10 `withind`): expand the a-side MBR
    * by r for the grid candidate phase, then exact distance filter.
    */
  def distanceJoin(a: Dataset[Geom], b: Dataset[Geom], s: CellScheme, r: Double): DataFrame =
    distanceJoinPre(a, bReplicated(b, s), s, r)

  private[graft] def distanceJoinPre(a: Dataset[Geom], bc: DataFrame,
                                     s: CellScheme, r: Double): DataFrame = {
    // the candidate phase (cells, intersect, ownership) reads a's MBR grown
    // by r; a's own columns ride along untouched for the exact distance
    // check — restoring them arithmetically ((x - r) + r) would perturb them
    // by ulps and flip boundary dist == r decisions vs the oracle
    val ax = Side.of(a, "a").expanded(r)
    cellJoinKeyed(ax, keyed(ax, s, CellA), Side.prefixed(bc, "b"), bc, s)
      .withColumn("dist", minDistCol)
      .filter(col("dist") <= lit(r))
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  // ---- kNN join --------------------------------------------------------------

  /** Exact k-nearest-neighbours join (generalizes the reference's `nearestd`
    * k=1 min-by, `PartitionedSpatialJoin.scala:250-256`): grid ring expansion —
    * distance-join at radius r, keep a-rows with ≥ k candidates (their true
    * kNN is then within r), double r for the rest. Deterministic tie-break by
    * (dist, b_id). Driver iterations: O(log(extent/r0)).
    */
  def knnJoin(a: Dataset[Geom], b: Dataset[Geom], extent: Extent, k: Int,
              bCountHint: Long = -1L): DataFrame =
    knnJoinWithRounds(a, b, extent, k, bCountHint)._1

  /** [[knnJoin]] also returning the number of ring-expansion rounds the
    * driver loop ran — benchmarks report it as evidence the loop converges
    * in O(log(extent/r0)) rounds with bounded driver work.
    */
  def knnJoinWithRounds(a: Dataset[Geom], b: Dataset[Geom], extent: Extent, k: Int,
                        bCountHint: Long = -1L): (DataFrame, Int) = {
    val spark = a.sparkSession
    import org.apache.spark.sql.expressions.Window
    // the static b side is scanned in every ring-expansion round — persist it.
    // RESPECT a caller-held cache: persisting an already-cached frame is a
    // no-op, but the tail's unpersist would EVICT the caller's corpus (same
    // plan → same cache entry), so a caller timing two back-to-back kNN runs
    // over a warm corpus had run 2 silently regenerate and re-cache the full
    // corpus inside its timer (the r5 min-of-2 kNN samples: 11.8 s vs 17.0 s)
    val bOwned = b.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val bCached =
      if (bOwned) b.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else b
    // the REPLICATED corpus is also cached, per scheme, PRE-PARTITIONED on
    // the join key: `repartition` on its cell gives the cached frame the hash
    // partitioning the cell equi-join requires, so every round ≥ 2 under the
    // same scheme (schemes repeat as soon as the ring-driven maxN cap stops
    // binding) reads the b side exchange-FREE — without this each round
    // re-replicated AND re-shuffled the full static corpus (the dominant
    // per-round cost at scale; the a-side `remaining` shrinks geometrically;
    // the per-round rebuild shuffled 145 MB on a run where this shuffles
    // 91 MB). Only the CURRENT scheme's replica is kept: r doubles
    // monotonically, so once the ring-driven maxN cap binds, every later
    // round's scheme is new and a changed scheme can never recur — caching
    // them all would accumulate a dead full-corpus replica per tail round
    // (48-round worst case).
    var bRepScheme: CellScheme = null
    var bRepCached: DataFrame = null
    def bRep(s: CellScheme): DataFrame = {
      if (s != bRepScheme) {
        if (bRepCached != null) bRepCached.unpersist(blocking = false)
        bRepScheme = s
        bRepCached = bReplicated(bCached, s).repartition(col(CellB))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      bRepCached
    }
    // counting the persisted side is one cheap action and primes the cache —
    // callers should NOT pre-count with a second scan of the source
    val bCount = if (bCountHint >= 0) bCountHint else bCached.count()
    val area = math.max(extent.width * extent.height, 1e-12)
    var r = math.max(1e-9, 2.0 * math.sqrt(k * area / (math.Pi * math.max(bCount, 1L))))
    val diag = math.sqrt(extent.width * extent.width + extent.height * extent.height)
    // localCheckpoint truncates lineage each round — otherwise iteration i
    // re-evaluates every previous round's distance join through the growing
    // anti-join chain (quadratic recompute)
    var remaining = a.localCheckpoint()
    var acc: DataFrame = null
    var iter = 0
    while (iter < 48 && !remaining.isEmpty) {
      val last = r >= 2 * diag
      val s = CellScheme.forSize(extent, bCount, targetPerCell = 512L,
        maxN = math.max(1, math.min(4096, (extent.width / math.max(r, 1e-9)).toInt)))
      // the candidate frame feeds THREE consumers per round (rank window,
      // resolved-count agg, anti-join) — persist it once or the distance
      // join recomputes per consumer
      val cand = distanceJoinPre(remaining, bRep(s), s, r)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val w = Window.partitionBy(col("a_id")).orderBy(col("dist"), col("b_id"))
      val ranked = cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      val resolvedIds =
        if (last) remaining.select(col("id").as("a_id"))
        else cand.groupBy("a_id").count().filter(col("count") >= k).select("a_id")
      val resolved = ranked.join(resolvedIds, "a_id")
        .select(col("a_id"), col("b_id"), col("dist"), col("rank"))
      acc = if (acc == null) resolved.localCheckpoint()
            else acc.unionByName(resolved).localCheckpoint()
      import spark.implicits._
      remaining = if (last) spark.emptyDataset[Geom]
                  else remaining.join(resolvedIds, remaining("id") === resolvedIds("a_id"), "left_anti")
                    .as[Geom].localCheckpoint()
      cand.unpersist() // both checkpoints above are eager — safe to drop
      r *= 2; iter += 1
    }
    if (bRepCached != null) bRepCached.unpersist(blocking = false)
    if (bOwned) bCached.unpersist()
    val out =
      if (acc == null) prefixed(a, "a").limit(0)
        .select(col("a_id"), col("a_id").as("b_id"), lit(0.0).as("dist"), lit(1).as("rank"))
      else acc
    (out, iter)
  }
}
