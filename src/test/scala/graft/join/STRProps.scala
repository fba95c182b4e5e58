package graft.join

import graft.geom.Geom
import org.scalacheck.{Gen, Prop, Properties, Test}

/** STR-packed per-cell index vs brute force, and the STR-indexed owned join
  * vs the plane sweep (they must emit identical pair sets — the cogroup
  * switch between them is purely a cost decision), also when two STR
  * iterators are read in alternation.
  */
object STRProps extends Properties("str") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(150)

  private val geomGen: Gen[Geom] = for {
    x <- Gen.chooseNum(0.0, 50.0); y <- Gen.chooseNum(0.0, 50.0)
    w <- Gen.oneOf(Gen.const(0.0), Gen.chooseNum(0.0, 25.0))
    h <- Gen.oneOf(Gen.const(0.0), Gen.chooseNum(0.0, 25.0))
    id <- Gen.chooseNum(0L, 1000000L)
  } yield Geom(id, x, x + w, y, y + h)

  property("query == brute-force intersect set") =
    Prop.forAll(Gen.listOfN(150, geomGen), Gen.listOfN(40, geomGen)) { (items, probes) =>
      val tree = STRTree.build(items.toArray, leafSize = 4)
      probes.forall { p =>
        val got = scala.collection.mutable.ArrayBuffer.empty[Long]
        tree.foreachIntersecting(p.xmin, p.xmax, p.ymin, p.ymax)(g => got += g.id)
        val want = items.filter(g => p.xmin <= g.xmax && p.xmax >= g.xmin &&
          p.ymin <= g.ymax && p.ymax >= g.ymin).map(_.id)
        got.sorted == want.sorted.toBuffer
      }
    }

  property("strOwned == sweepOwned (identical owned pair sets)") =
    Prop.forAll(Gen.listOfN(120, geomGen), Gen.listOfN(120, geomGen)) { (as, bs) =>
      val owns = (rx: Double, ry: Double) => (rx + ry) % 2.0 < 1.0 // arbitrary splitter
      val sweep = SpatialJoins.sweepOwned(as.toArray, bs.toArray, owns)
        .map(p => (p.a_id, p.b_id)).toVector.sorted
      val str = SpatialJoins.strOwned(as.toArray, bs.toArray, owns)
        .map(p => (p.a_id, p.b_id)).toVector.sorted
      str == sweep
    }

  property("two strOwned iterators read in alternation == sweepOwned") =
    Prop.forAll(Gen.listOfN(100, geomGen), Gen.listOfN(100, geomGen), Gen.listOfN(100, geomGen)) {
      (as, bs, cs) =>
        val owns = (rx: Double, ry: Double) => (rx + ry) % 2.0 < 1.0
        def sweep(xs: List[Geom], ys: List[Geom]) =
          SpatialJoins.sweepOwned(xs.toArray, ys.toArray, owns).map(p => (p.a_id, p.b_id)).toVector.sorted
        val (i1, i2) = (SpatialJoins.strOwned(as.toArray, bs.toArray, owns),
                        SpatialJoins.strOwned(as.toArray, cs.toArray, owns))
        val (o1, o2) = (Vector.newBuilder[(Long, Long)], Vector.newBuilder[(Long, Long)])
        while (i1.hasNext || i2.hasNext) {
          if (i1.hasNext) { val p = i1.next(); o1 += ((p.a_id, p.b_id)) }
          if (i2.hasNext) { val p = i2.next(); o2 += ((p.a_id, p.b_id)) }
        }
        o1.result().sorted == sweep(as, bs) && o2.result().sorted == sweep(as, cs)
    }
}
