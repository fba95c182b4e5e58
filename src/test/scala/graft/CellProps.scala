package graft

import graft.cells.CellScheme
import graft.geom.{Extent, Geom}
import graft.skew.AdaptiveScheme
import org.scalacheck.{Gen, Prop, Properties}

/** Property-based invariants of the cell index (pure JVM, no Spark):
  * for every intersecting pair, exactly one candidate cell owns it, and the
  * owner is always in both replication sets — the exactly-once contract the
  * whole engine rests on (reference-point dedup, SURVEY.md §7.4).
  */
object CellProps extends Properties("cells") {

  private val coord = Gen.chooseNum(-20.0, 120.0)
  private val len = Gen.chooseNum(0.0, 40.0)

  private val geomGen: Gen[Geom] = for {
    x <- coord; y <- coord; w <- len; h <- len; id <- Gen.chooseNum(0L, 1L << 40)
  } yield Geom(id, x, x + w, y, y + h)

  private val schemeGen: Gen[CellScheme] = for {
    nx <- Gen.chooseNum(1, 19); ny <- Gen.chooseNum(1, 19)
  } yield CellScheme(Extent(0, 100, 0, 100), nx, ny)

  property("exactly-once ownership among shared candidate cells") =
    Prop.forAll(geomGen, geomGen, schemeGen) { (a, b, s) =>
      !a.intersects(b) || {
        val shared = s.cellsOf(a).toSet intersect s.cellsOf(b).toSet
        shared.count(c => s.owns(c, a, b)) == 1
      }
    }

  property("owner cell of any point is in the replication set") =
    Prop.forAll(geomGen, schemeGen) { (g, s) =>
      val cx = math.min(math.max(g.centerX, g.xmin), g.xmax)
      val cy = math.min(math.max(g.centerY, g.ymin), g.ymax)
      s.cellsOf(g).contains(s.cellOf(cx, cy))
    }

  private val splitsGen: Gen[Map[Long, Int]] = Gen.mapOf(for {
    c <- Gen.chooseNum(0L, 24L); f <- Gen.chooseNum(2, 5)
  } yield (c, f))

  property("adaptive scheme keeps exactly-once under arbitrary splits") =
    Prop.forAll(geomGen, geomGen, splitsGen) { (a, b, splits) =>
      val scheme = AdaptiveScheme(CellScheme(Extent(0, 100, 0, 100), 5, 5), splits)
      !a.intersects(b) || {
        val shared = scheme.cellsOf(a).toSet intersect scheme.cellsOf(b).toSet
        shared.count(k => scheme.owns(k, a, b)) == 1
      }
    }
}
