package graft

import graft.geom.Geom
import graft.join.STRTree
import graft.sources.TreeBin
import org.scalatest.funsuite.AnyFunSuite

/** Reference S3 — the serialized R-tree page format
  * (`cpp/Tree_generation.hpp:150-264` serialize, `:296-410` deserialize).
  * Locks: 4096-B page framing, level-order node ids with the root at page 0,
  * directory MBRs = union of children, leaf-set round-trip, and query
  * equivalence of a tree REBUILT from the file against brute force.
  */
class TreeBinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def mk(n: Int): Array[Geom] = {
    val rnd = new scala.util.Random(29)
    Array.tabulate(n) { i =>
      val x = rnd.nextDouble() * 950; val y = rnd.nextDouble() * 950
      Geom(i.toLong, x, x + rnd.nextDouble() * 40, y, y + rnd.nextDouble() * 40)
    }
  }

  private def f32(g: Geom): (Long, Float, Float, Float, Float) =
    (g.id, g.xmin.toFloat, g.xmax.toFloat, g.ymin.toFloat, g.ymax.toFloat)

  test("round-trip: leaf objects == input set (float32), 4096-B page framing") {
    val geoms = mk(3000)
    val path = java.nio.file.Files.createTempDirectory("treebin").toString + "/tree_A.bin"
    TreeBin.writeTreeBin(spark, STRTree.build(geoms), path)
    val len = new java.io.File(path).length()
    assert(len > 0 && len % TreeBin.NodeBytes == 0, s"file length $len not page-aligned")
    val back = TreeBin.readTreeBinObjects(spark, path).collect()
    assert(back.map(f32).toSet == geoms.map(f32).toSet)
    assert(back.length == geoms.length) // ids unique -> no silent dup/loss
  }

  test("round-trip holds across fanouts (leafSize 3, 5, 64, and > one page group)") {
    val geoms = mk(500)
    for (leafSize <- Seq(3, 5, 64, 150)) {
      val path = java.nio.file.Files.createTempDirectory("treebin").toString + "/t.bin"
      TreeBin.writeTreeBin(spark, STRTree.build(geoms, leafSize), path)
      val back = TreeBin.readTreeBinObjects(spark, path).collect()
      assert(back.map(f32).toSet == geoms.map(f32).toSet, s"leafSize=$leafSize")
    }
  }

  test("structure: root is page 0, level-order ids, directory MBR = union of children") {
    val geoms = mk(3000)
    val path = java.nio.file.Files.createTempDirectory("treebin").toString + "/tree_A.bin"
    TreeBin.writeTreeBin(spark, STRTree.build(geoms), path)
    val nodes = TreeBin.readTreeBinNodes(spark, path).collect().sortBy(_.nodeId)
    assert(nodes.map(_.nodeId).toSeq == nodes.indices.toSeq, "node ids must be 0..n-1")
    val byId = nodes.map(n => n.nodeId -> n).toMap
    val root = byId(0)
    assert(!root.isLeaf || nodes.length == 1)
    // level-order: every directory's children have LARGER ids than the parent
    // and the reference loader resolves them by index — check they exist
    nodes.filterNot(_.isLeaf).foreach { n =>
      val kids = n.entryIds.map(byId.apply)
      kids.foreach(k => assert(k.nodeId > n.nodeId))
      assert(n.xmin.toFloat == kids.map(_.xmin).min.toFloat)
      assert(n.xmax.toFloat == kids.map(_.xmax).max.toFloat)
      assert(n.ymin.toFloat == kids.map(_.ymin).min.toFloat)
      assert(n.ymax.toFloat == kids.map(_.ymax).max.toFloat)
    }
    // the leaf population partitions the input
    assert(nodes.filter(_.isLeaf).map(_.count).sum == geoms.length)
  }

  test("query over the DESERIALIZED tree == brute force (reference loader semantics)") {
    val geoms = mk(2000)
    val path = java.nio.file.Files.createTempDirectory("treebin").toString + "/tree_A.bin"
    TreeBin.writeTreeBin(spark, STRTree.build(geoms), path)
    val byId = TreeBin.readTreeBinNodes(spark, path).collect().map(n => n.nodeId -> n).toMap
    // recursive traversal exactly like RTree.h sync traversal on loaded nodes
    def query(q: (Float, Float, Float, Float)): Set[Long] = {
      val out = scala.collection.mutable.Set.empty[Long]
      def visit(id: Int): Unit = {
        val n = byId(id)
        if (q._1 <= n.xmax && q._2 >= n.xmin && q._3 <= n.ymax && q._4 >= n.ymin) {
          var j = 0
          while (j < n.count) {
            if (n.isLeaf) {
              if (q._1 <= n.ex1(j) && q._2 >= n.ex0(j) && q._3 <= n.ey1(j) && q._4 >= n.ey0(j))
                out += n.entryIds(j).toLong
            } else visit(n.entryIds(j))
            j += 1
          }
        }
      }
      visit(0)
      out.toSet
    }
    val rnd = new scala.util.Random(31)
    for (_ <- 1 to 50) {
      val qx = rnd.nextDouble().toFloat * 900; val qy = rnd.nextDouble().toFloat * 900
      val q = (qx, qx + 60f, qy, qy + 60f)
      val want = geoms.filter(g => q._1 <= g.xmax.toFloat && q._2 >= g.xmin.toFloat &&
        q._3 <= g.ymax.toFloat && q._4 >= g.ymin.toFloat).map(_.id).toSet
      assert(query(q) == want)
    }
  }
}
