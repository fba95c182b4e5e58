package graft.streaming

import graft.cells.CellScheme
import graft.geom.Geom
import graft.join.{Side, SpatialJoins}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming ingestion of the web-page table: a stream of pages is geocoded,
  * cell-encoded, and stream-static joined against a static rectangle set —
  * the same cell-partitioned plan as the batch `gridJoin`, expressed as a
  * Structured Streaming stream-static equi-join on the cell id. The static
  * side's replicated form is computed once; each micro-batch shuffles only
  * its own skeleton rows.
  */
object PagesStream {

  val pagesSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("url", StringType),
    StructField("warc_ts", TimestampType), StructField("html", BinaryType),
    StructField("text", StringType), StructField("lang", StringType)))

  def readPagesStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(pagesSchema).parquet(dir)

  /** Stream-static spatial join: emits `(a_id, b_id, url, text_md5)` per
    * matched page/rect pair. Works identically on a batch frame (the
    * transformation is engine-agnostic — write-once semantics).
    *
    * The stream side is geocoded POINTS, so it is the cell join's point side
    * (see `SpatialJoins.gridJoinPIP`): the cell id is a plain projection
    * (no per-micro-batch explode), the pair can only meet in the point's
    * own cell (no reference-point ownership filter), and each batch
    * shuffles `(id, url, text_md5, x, y, cell)` rows, not a replicated MBR.
    */
  def geoJoinStream(pages: DataFrame, rects: Dataset[Geom], s: CellScheme): DataFrame = {
    val (x, y) = graft.pipeline.Pages.geocode(col("doc_id"))
    val pts = pages.select(col("doc_id").as("a_id"), col("url"),
      md5(col("text")).as("text_md5"), x.as("a_x"), y.as("a_y"))
    SpatialJoins.cellJoin(Side(pts, col("a_x"), col("a_x"), col("a_y"), col("a_y"), points = true),
        Side.of(rects, "b"), s)
      .select(col("a_id"), col("b_id"), col("url"), col("text_md5"))
  }
}
