package perfbench

import graft.geom.Geom
import graft.ingest.Workloads
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}

/** One benchmark workload: two generated MBR inputs, and whether the query
  * writes its pairs to parquet or only counts them. Every generator seed is
  * derived from the benchmark seed, and seed 0 gives the generators' own
  * reference seeds. `scale` multiplies the row counts (1.0 in measured runs;
  * the smoke test uses tiny scales).
  */
sealed abstract class Workload(val name: String, val writesPairs: Boolean) {
  def rows(scale: Double): (Long, Long)
  def generatorSeeds(seed: Long): (Long, Long)
  /** Both inputs as one frame of `Geom` rows with a `side` column, "a" or
    * "b", so that set-up writes them in a single job.
    */
  def inputs(spark: SparkSession, seed: Long, scale: Double): DataFrame
  /** A published pair count, where one exists for these inputs. */
  def golden(seed: Long, scale: Double): Option[Long] = None
}

object Workload {

  private def n(base: Long, scale: Double): Long = math.max(64L, math.round(base * scale))

  private def sides(a: Dataset[Geom], b: Dataset[Geom]): DataFrame =
    a.toDF().withColumn("side", lit("a")).unionByName(b.toDF().withColumn("side", lit("b")))

  /** Uniform points × uniform unit squares, the reference's PIP shape.
    * `intersectJoin` routes it to the point plan (no point-side replication,
    * tiny output), so driver-side planning is its largest share. At seed 0
    * the inputs are the reference's (points 789, squares 123), and 1M points
    * × 100K squares has the published count 1,007.
    */
  object UniformPip extends Workload("uniform-pip", writesPairs = false) {
    val Points = 1000000L
    val Squares = 100000L
    def rows(scale: Double): (Long, Long) = (n(Points, scale), n(Squares, scale))
    def generatorSeeds(seed: Long): (Long, Long) = (789L + 1000L * seed, 123L + 1000L * seed)
    def inputs(spark: SparkSession, seed: Long, scale: Double) = {
      val (sa, sb) = generatorSeeds(seed)
      val (na, nb) = rows(scale)
      sides(Workloads.uniformPoints(spark, na, sa), Workloads.uniformPolygons(spark, nb, sb))
    }
    override def golden(seed: Long, scale: Double): Option[Long] =
      if (seed == 0L && rows(scale) == (Points, Squares)) Some(1007L) else None
  }

  /** Clustered polygons × clustered polygons with the pairs written to
    * parquet: the output-heavy OSM-PP class, and the only workload whose
    * output layer does work. Both sides are halves (by id) of one generated
    * set, so they share cluster centres whatever the seed and the pair count
    * stays steady across seeds. The mean edge grows as the row count shrinks
    * (8 at 4M rows per side) so that the replication factor stays about 2.
    */
  object GaussianPpWrite extends Workload("gaussian-pp-write", writesPairs = true) {
    val Base = 150000L
    val Clusters = 256
    def rows(scale: Double): (Long, Long) = (n(Base, scale), n(Base, scale))
    def generatorSeeds(seed: Long): (Long, Long) = (1L + seed, 1L + seed)
    def inputs(spark: SparkSession, seed: Long, scale: Double) = {
      val (na, nb) = rows(scale)
      Workloads.gaussianPolygons(spark, na + nb, generatorSeeds(seed)._1,
        meanEdge = 8.0 * math.sqrt(4e6 / na), clusters = Clusters)
        .withColumn("side", when(col("id") < na, "a").otherwise("b"))
    }
  }

  /** A dense district (15% of rows in a 100 × 100 box) inside a uniform map.
    * `intersectJoin` sizes its grid from mean rows per cell, so the
    * district's cells stay on the declarative nested loop and one or two
    * reduce tasks carry most of the work: the skew case.
    */
  object HotDistrict extends Workload("hot-district", writesPairs = false) {
    val Base = 150000L
    def rows(scale: Double): (Long, Long) = (n(Base, scale), n(Base, scale))
    def generatorSeeds(seed: Long): (Long, Long) = (31L + 2L * seed, 32L + 2L * seed)
    def inputs(spark: SparkSession, seed: Long, scale: Double) = {
      val (sa, sb) = generatorSeeds(seed)
      val (na, nb) = rows(scale)
      def gen(rows: Long, s: Long) = Workloads.hotspotPolygons(spark, rows, s,
        hotFrac = 0.15, hotX = 990.0, hotY = 990.0, hotW = 100.0, meanEdge = 1.0)
      sides(gen(na, sa), gen(nb, sb))
    }
  }

  val all: Seq[Workload] = Seq(UniformPip, GaussianPpWrite, HotDistrict)

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name'; expected one of ${all.map(_.name).mkString(", ")}"))
}
