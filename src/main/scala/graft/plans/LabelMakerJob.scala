package graft.plans

import graft.core.BBox
import graft.model.{ClassSpec, MlType}
import graft.operators.{Labels, Segmentation, TileEnumeration}
import graft.sources.TileSources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** The reference's job API (`LabelMakerJob`, `main.py:69-111`) re-expressed
  * as a lazy Dataset plan (P1-P6, SURVEY §2.4).
  *
  * Differences by design (documented in SURVEY §3/§4):
  *  - the tile list is never materialized on the driver — S1 is a
  *    partitioned `spark.range` projection (`main.py:89` builds a client-RAM
  *    list);
  *  - filters compile once at plan time (the reference re-compiles + evals
  *    per feature x class, `label.py:18,28,40`);
  *  - imagery dispatch resolves once at plan time (`utils.py:121-127` probes
  *    per task);
  *  - results go to a parquet sink or a Dataset, not a driver gather
  *    (`main.py:111` returns every image to the client).
  */
final case class LabelMakerJob(
    zoom: Int,
    bounds: BBox,
    classes: Seq[ClassSpec],
    imagery: Option[String],
    labelSource: String,
    mlType: String) {

  require(Seq(MlType.Classification, MlType.ObjectDetection, MlType.Segmentation).contains(mlType),
    s"unknown ml_type: $mlType")

  /** P5 — closed-form tile count (no action, unlike `main.py:101-107`). */
  def nTiles: Long = TileEnumeration.count(bounds, zoom)

  /** S1 — the tile keyspace. */
  def tiles(spark: SparkSession): DataFrame =
    TileEnumeration.tiles(spark, bounds, zoom)

  /** P2/P3 — the full labeled-tile plan: (z, x, y, label[, image cols]).
    * Lazy; `explain` it for the reference's `dask.visualize` equivalent. */
  def build(spark: SparkSession): DataFrame = plan(spark)._1

  /** One pass per tile, shuffle-free: the tile keyspace feeds one fetch
    * stage that emits each tile's features (and image) as one row, and the
    * label is a per-row projection over that row's features — every tile
    * gets a label by construction (A4), and label and image pair up
    * without the reference's implicit tile-key join (`main.py:90-97`).
    * Also returns the accumulator counting label fetch/decode failures. */
  private def plan(spark: SparkSession): (DataFrame, LongAccumulator) = {
    val failures = spark.sparkContext.longAccumulator("label_fetch_failures")
    val inputs = TileSources.tileInputs(tiles(spark), Some(labelSource), imagery,
      failures = Some(failures))
    val features = col("features")
    val label = mlType match {
      case MlType.Classification => Labels.classificationLabel(features, classes)
      case MlType.ObjectDetection => Labels.objectDetectionLabel(features, classes)
      case MlType.Segmentation => Segmentation.segmentationLabel(features, classes)
    }
    val imageCols = if (imagery.isEmpty) Nil else Seq("height", "width", "bands", "image").map(col)
    (inputs.select(Seq(col("z"), col("x"), col("y"), label.as("label")) ++ imageCols: _*), failures)
  }

  /** P6 — execute into a parquet sink (the scale path). Returns the number
    * of tiles whose label failed to fetch or decode (they carry the empty
    * label). */
  def writeParquet(spark: SparkSession, path: String): Long = {
    val (df, failures) = plan(spark)
    df.write.mode("overwrite").parquet(path)
    failures.value
  }

  /** P6 — notebook-style gather (small jobs only). */
  def collect(spark: SparkSession): Array[org.apache.spark.sql.Row] =
    build(spark).collect()
}

object LabelMakerJob {
  /** Convenience constructor mirroring the reference's signature
    * (`main.py:71-85`): bounds as [west, south, east, north]. */
  def apply(zoom: Int, bounds: Seq[Double], classesJson: String,
      imagery: String, labelSource: String, mlType: String): LabelMakerJob =
    LabelMakerJob(zoom, BBox(bounds(0), bounds(1), bounds(2), bounds(3)),
      ClassSpec.parseJson(classesJson), Option(imagery).filter(_.nonEmpty),
      labelSource, mlType)
}
