package graft.join

import graft.geom.Geom
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Direct property check of the hand-written plane-sweep inner loop against
  * brute force — pure JVM, no Spark. This is the one piece of imperative
  * algorithmic code in the join path; everything else is declarative.
  */
object SweepProps extends Properties("sweep") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(300)

  private val geomGen: Gen[Geom] = for {
    x <- Gen.chooseNum(0.0, 50.0); y <- Gen.chooseNum(0.0, 50.0)
    w <- Gen.oneOf(Gen.const(0.0), Gen.chooseNum(0.0, 25.0))
    h <- Gen.oneOf(Gen.const(0.0), Gen.chooseNum(0.0, 25.0))
    id <- Gen.chooseNum(0L, 1000000L)
  } yield Geom(id, x, x + w, y, y + h)

  private val sideGen: Gen[List[Geom]] = Gen.listOfN(40, geomGen)

  private def intersects(a: Geom, b: Geom): Boolean =
    a.xmin <= b.xmax && a.xmax >= b.xmin && a.ymin <= b.ymax && a.ymax >= b.ymin

  property("emits exactly the intersecting pairs, each exactly once") =
    Prop.forAll(sideGen, sideGen) { (as, bs) =>
      // ids may repeat across generated rows; pair multiset must still match,
      // so compare as sorted sequences of (a_idx-identity via reference) —
      // use unique synthetic ids to make pairs identifiable
      val a = as.zipWithIndex.map { case (g, i) => g.copy(id = i.toLong) }.toArray
      val b = bs.zipWithIndex.map { case (g, i) => g.copy(id = i.toLong) }.toArray
      val got = SpatialJoins.sweepOwned(a.clone(), b.clone(), (_, _) => true)
        .map(p => (p.a_id, p.b_id)).toList.sorted
      val want = (for (ga <- a; gb <- b if intersects(ga, gb)) yield (ga.id, gb.id))
        .toList.sorted
      got == want
    }

  property("ownership filter drops exactly the non-owned pairs") =
    Prop.forAll(sideGen, sideGen, Gen.chooseNum(1.0, 60.0)) { (as, bs, split) =>
      val a = as.zipWithIndex.map { case (g, i) => g.copy(id = i.toLong) }.toArray
      val b = bs.zipWithIndex.map { case (g, i) => g.copy(id = i.toLong) }.toArray
      def owns(rx: Double, ry: Double): Boolean = rx < split
      val got = SpatialJoins.sweepOwned(a.clone(), b.clone(), owns)
        .map(p => (p.a_id, p.b_id)).toList.sorted
      val want = (for {
        ga <- a; gb <- b
        if intersects(ga, gb) && owns(math.max(ga.xmin, gb.xmin), math.max(ga.ymin, gb.ymin))
      } yield (ga.id, gb.id)).toList.sorted
      got == want
    }
}
