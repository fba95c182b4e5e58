package graft.sources

import graft.geom.Geom
import graft.join.STRTree
import org.apache.spark.sql.{Dataset, SparkSession}

/** The reference's serialized R-tree format (`tree_A.bin`) — reference S3.
  *
  * Layout (`spatial-join-baseline/cpp/Tree_generation.hpp:150-264` serialize,
  * `:296-410` deserialize; mirrored from `Index/Tree_generation.py`):
  * the file is a sequence of fixed-size node pages ordered by `node_id`
  * (level-order from the root, so the root is page 0). Each page is
  *
  *   64-B header: `is_leaf:int32-LE` (only byte 0 meaningful), `count:int32`,
  *     `node_id:int32`, node MBR `4×float32` (low0, high0, low1, high1),
  *     zero-padded to 64 B
  *   ⌈count/3⌉ 64-B groups: 3 entries × 20 B (`id:int32` + MBR `4×float32`)
  *     + 4 pad bytes. Leaf entries carry object ids; directory entries carry
  *     child `node_id`s (resolved after load by sorting on node_id).
  *
  * The reference's loader (`load_serialized_index`) assumes 4096-B pages
  * (max_entries ≤ 189): 64 + 63·64 = 4096. We write that page size.
  *
  * Role in this engine: the SCALE path for a static join side is persisted
  * cell-bucketed tables (`spatial_bucketed_join` — zero-shuffle repeated
  * joins); this literal format exists for fidelity and interchange with the
  * reference's tooling, and the distributed scan below parses pages in
  * parallel (`binaryRecords`), so reading a big tree is still a parallel
  * scan, not a driver load.
  */
object TreeBin {

  val NodeBytes = 4096
  val MaxEntries = 189 // 64 + ceil(189/3)*64 == 4096

  private def order = java.nio.ByteOrder.LITTLE_ENDIAN

  /** Serialize a packed [[STRTree]] to the reference page format. BFS node
    * numbering from the root reproduces the reference's level-order ids
    * (root = node_id 0 = page 0). Driver-side interchange utility — the tree
    * itself is an in-memory per-cell/per-side index.
    */
  def writeTreeBin(spark: SparkSession, tree: STRTree, path: String): Unit = {
    val (x0, x1, y0, y1, cs, ce, leaf, root) = tree.structure
    val items = tree.items
    // BFS numbering: packedIdx -> node_id
    val orderIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
    val bfsId = new java.util.HashMap[Integer, Integer]()
    val queue = new java.util.ArrayDeque[Integer]()
    queue.add(root)
    while (!queue.isEmpty) {
      val n = queue.poll()
      bfsId.put(n, orderIdx.length); orderIdx += n
      if (!leaf(n)) { var c = cs(n); while (c < ce(n)) { queue.add(c); c += 1 } }
    }
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try {
      orderIdx.zipWithIndex.foreach { case (n, id) =>
        val count = ce(n) - cs(n)
        require(count <= MaxEntries, s"node fanout $count > $MaxEntries (page 4096B)")
        val bb = java.nio.ByteBuffer.allocate(NodeBytes).order(order)
        bb.putInt(if (leaf(n)) 1 else 0)
        bb.putInt(count)
        bb.putInt(id)
        bb.putFloat(x0(n).toFloat); bb.putFloat(x1(n).toFloat)
        bb.putFloat(y0(n).toFloat); bb.putFloat(y1(n).toFloat)
        var j = 0
        while (j < count) {
          // entries live in 64-B groups of 3: group g starts at 64 + 64*g
          bb.position(64 + 64 * (j / 3) + 20 * (j % 3))
          val c = cs(n) + j
          if (leaf(n)) {
            val g = items(c)
            require(g.id == g.id.toInt.toLong, s"obj id ${g.id} is not int32")
            bb.putInt(g.id.toInt)
            bb.putFloat(g.xmin.toFloat); bb.putFloat(g.xmax.toFloat)
            bb.putFloat(g.ymin.toFloat); bb.putFloat(g.ymax.toFloat)
          } else {
            bb.putInt(bfsId.get(c))
            bb.putFloat(x0(c).toFloat); bb.putFloat(x1(c).toFloat)
            bb.putFloat(y0(c).toFloat); bb.putFloat(y1(c).toFloat)
          }
          j += 1
        }
        out.write(bb.array())
      }
    } finally out.close()
  }

  /** One parsed node page: header + raw entries (object OR child refs). */
  final case class TreeNode(nodeId: Int, isLeaf: Boolean, count: Int,
                            xmin: Double, xmax: Double, ymin: Double, ymax: Double,
                            entryIds: Array[Int],
                            ex0: Array[Double], ex1: Array[Double],
                            ey0: Array[Double], ey1: Array[Double])

  private def parsePage(bytes: Array[Byte]): TreeNode = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(order)
    val isLeaf = bb.getInt() != 0
    val count = bb.getInt()
    val nodeId = bb.getInt()
    val xmin = bb.getFloat().toDouble; val xmax = bb.getFloat().toDouble
    val ymin = bb.getFloat().toDouble; val ymax = bb.getFloat().toDouble
    val ids = new Array[Int](count)
    val e0 = new Array[Double](count); val e1 = new Array[Double](count)
    val e2 = new Array[Double](count); val e3 = new Array[Double](count)
    var j = 0
    while (j < count) {
      bb.position(64 + 64 * (j / 3) + 20 * (j % 3))
      ids(j) = bb.getInt()
      e0(j) = bb.getFloat().toDouble; e1(j) = bb.getFloat().toDouble
      e2(j) = bb.getFloat().toDouble; e3(j) = bb.getFloat().toDouble
      j += 1
    }
    TreeNode(nodeId, isLeaf, count, xmin, xmax, ymin, ymax, ids, e0, e1, e2, e3)
  }

  /** Distributed node-page scan: each 4096-B page parses independently. */
  def readTreeBinNodes(spark: SparkSession, path: String): Dataset[TreeNode] = {
    import spark.implicits._
    spark.sparkContext.binaryRecords(path, NodeBytes).map(parsePage).toDS()
  }

  /** Distributed scan of the LEAF OBJECTS in a serialized tree — the
    * "use the persisted index as a data source" path (float32 coordinates,
    * like the reference's in-memory MBRs).
    */
  def readTreeBinObjects(spark: SparkSession, path: String): Dataset[Geom] = {
    import spark.implicits._
    spark.sparkContext.binaryRecords(path, NodeBytes).flatMap { bytes =>
      val n = parsePage(bytes)
      if (!n.isLeaf) Iterator.empty
      else (0 until n.count).iterator.map(j =>
        Geom(n.entryIds(j).toLong, n.ex0(j), n.ex1(j), n.ey0(j), n.ey1(j)))
    }.toDS()
  }
}
