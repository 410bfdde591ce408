package graft.operators

import graft.SparkSpec
import graft.model.{ClassSpec, Coord, FeatureRow}
import org.apache.spark.sql.{DataFrame, Row}

/** Golden label tests per FIXTURES.md §A (mirroring label.py semantics). */
class LabelsSpec extends SparkSpec {
  import spark.implicits._

  // FIXTURES.md A1 classes
  private val classes = ClassSpec.parseJson(
    """[
      |  {"name": "Roads",     "filter": ["has", "highway"]},
      |  {"name": "Buildings", "filter": ["has", "building"]},
      |  {"name": "Wide",      "filter": ["all", [">", "width", 10], ["!in", "surface", "dirt", "grass"]]}
      |]""".stripMargin)

  private def square(x0: Double, y0: Double, x1: Double, y1: Double): Seq[Seq[Coord]] =
    Seq(Seq(Coord(x0, y0), Coord(x0, y1), Coord(x1, y1), Coord(x1, y0), Coord(x0, y0)))

  // FIXTURES.md A2 features on tile (13,0,0); tile (13,1,0) stays empty
  private val features = Seq(
    FeatureRow(13, 0, 0, 0, "Polygon", multi = false, square(0, 0, 4096, 4096),
      Map("building" -> "yes", "height" -> "12"), Some(1L)),
    FeatureRow(13, 0, 0, 1, "LineString", multi = false,
      Seq(Seq(Coord(0, 2048), Coord(4096, 2048))),
      Map("highway" -> "primary", "width" -> "14", "surface" -> "asphalt"), Some(2L)),
    FeatureRow(13, 0, 0, 2, "Point", multi = false, Seq(Seq(Coord(2048, 2048))), Map(), Some(3L)))

  private def tilesDf: DataFrame = Seq((13, 0, 0), (13, 1, 0)).toDF("z", "x", "y")
  private def featuresDf: DataFrame = features.toDF()

  test("A1 classification: fixture tile -> [0,1,1,1]; empty tile -> [1,0,0,0]") {
    val out = Labels.classification(tilesDf, featuresDf, classes)
      .orderBy("x").collect()
    assert(out(0).getSeq[Int](out(0).fieldIndex("label")) == Seq(0, 1, 1, 1))
    assert(out(1).getSeq[Int](out(1).fieldIndex("label")) == Seq(1, 0, 0, 0))
  }

  test("A2 object-detection: full-extent polygon -> [0,0,255,255]; labels in feature-class order") {
    val out = Labels.objectDetection(tilesDf, featuresDf, classes).orderBy("x").collect()
    val bbs = out(0).getSeq[Row](out(0).fieldIndex("label"))
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    // building polygon (class 2), then highway line (classes 1 and 3)
    // line y: round(2048*255/4096) = round(127.5) -> 128 (banker's)
    assert(bbs == Seq(
      (0, 0, 255, 255, 2), // polygon, Buildings
      (0, 123, 255, 131, 1), // line, Roads
      (0, 123, 255, 131, 3))) // line, Wide
    assert(out(1).getSeq[Row](out(1).fieldIndex("label")).isEmpty)
  }

  test("A2 pixel bbox: interior polygon with banker's rounding") {
    val tiles = Seq((13, 0, 0)).toDF("z", "x", "y")
    val f = Seq(FeatureRow(13, 0, 0, 0, "Polygon", multi = false,
      square(1024, 1024, 2048, 2048), Map("building" -> "yes"), None)).toDF()
    val out = Labels.objectDetection(tiles, f, classes).collect()
    val Seq(bb) = out(0).getSeq[Row](out(0).fieldIndex("label"))
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toList
    // round(63.75)=64, round(127.5)=128 (half-even); y-flip then +/-4 pad
    assert(bb == ((64 - 4, 255 - 128 - 4, 128 + 4, 255 - 64 + 4, 2)))
  }

  test("A2 class buffer expands bounds before conversion") {
    val cls = ClassSpec.parseJson(
      """[{"name": "B", "filter": ["has", "building"], "buffer": 100.0}]""")
    val tiles = Seq((13, 0, 0)).toDF("z", "x", "y")
    val f = Seq(FeatureRow(13, 0, 0, 0, "Polygon", multi = false,
      square(1024, 1024, 2048, 2048), Map("building" -> "yes"), None)).toDF()
    val out = Labels.objectDetection(tiles, f, cls).collect()
    val Seq(bb) = out(0).getSeq[Row](out(0).fieldIndex("label"))
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toList
    // bounds 924..2148: round(924*255/4096)=round(57.52..)=58, round(2148*255/4096)=round(133.72..)=134
    assert(bb == ((58 - 4, 255 - 134 - 4, 134 + 4, 255 - 58 + 4, 1)))
  }

  test("A2 negative class buffer shrinks via real geometry (JTS), not bounds arithmetic") {
    val cls = ClassSpec.parseJson(
      """[{"name": "B", "filter": ["has", "building"], "buffer": -500.0},
        |  {"name": "P", "filter": ["has", "building"], "buffer": 100.0}]""".stripMargin)
    val tiles = Seq((13, 0, 0)).toDF("z", "x", "y")
    val f = Seq(FeatureRow(13, 0, 0, 0, "Polygon", multi = false,
      square(1000, 1000, 3000, 3000), Map("building" -> "yes"), None)).toDF()
    val out = Labels.objectDetection(tiles, f, cls).collect()
    val bbs = out(0).getSeq[Row](out(0).fieldIndex("label"))
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    // shrink -500: bounds 1500..2500 -> round(93.38..)=93, round(155.63..)=156
    // (reference formula: shapely .buffer(-500, 4).bounds then _pixel_bbox)
    val shrunk = (93 - 4, 255 - 156 - 4, 156 + 4, 255 - 93 + 4, 1)
    // expand +100: bounds 900..3100 -> round(56.03..)=56, round(192.99..)=193
    val grown = (56 - 4, 255 - 193 - 4, 193 + 4, 255 - 56 + 4, 2)
    assert(bbs == Seq(shrunk, grown))
  }

  test("A2 negative buffer that consumes the geometry emits no box") {
    val cls = ClassSpec.parseJson(
      """[{"name": "B", "filter": ["has", "building"], "buffer": -2000.0}]""")
    val tiles = Seq((13, 0, 0)).toDF("z", "x", "y")
    val f = Seq(FeatureRow(13, 0, 0, 0, "Polygon", multi = false,
      square(1000, 1000, 3000, 3000), Map("building" -> "yes"), None)).toDF()
    val out = Labels.objectDetection(tiles, f, cls).collect()
    assert(out(0).getSeq[Row](out(0).fieldIndex("label")).isEmpty)
  }

  test("empty class list: background-only / zero-row labels") {
    val cls = Labels.classification(tilesDf, featuresDf, Seq.empty).orderBy("x").collect()
    assert(cls(0).getSeq[Int](cls(0).fieldIndex("label")) == Seq(1))
    val od = Labels.objectDetection(tilesDf, featuresDf, Seq.empty).orderBy("x").collect()
    assert(od(0).getSeq[org.apache.spark.sql.Row](od(0).fieldIndex("label")).isEmpty)
  }

  test("A5 class_match on classification and object-detection labels") {
    val cls = Labels.classification(tilesDf, featuresDf, classes)
    import org.apache.spark.sql.functions.col
    val m = cls.orderBy("x")
      .select(Labels.classMatch("classification", col("label"), 1)).collect()
    assert(m(0).getBoolean(0) && !m(1).getBoolean(0))
    val od = Labels.objectDetection(tilesDf, featuresDf, classes)
    val m2 = od.orderBy("x")
      .select(Labels.classMatch("object-detection", col("label"), 2)).collect()
    assert(m2(0).getBoolean(0) && !m2(1).getBoolean(0))
  }

  test("per-tile label columns equal the relational operators, empty tile and buffers included") {
    import org.apache.spark.sql.functions.col
    val perTile = Seq((13, 0, 0, features), (13, 1, 0, Seq.empty[FeatureRow]))
      .toDF("z", "x", "y", "features").orderBy("x")
    val buffered = ClassSpec.parseJson(
      """[{"name": "B", "filter": ["has", "building"], "buffer": -500.0},
        |  {"name": "R", "filter": ["has", "highway"], "buffer": 30.0},
        |  {"name": "G", "filter": ["has", "building"], "buffer": -5000.0},
        |  {"name": "P", "filter": ["!has", "building"], "buffer": -1.0}]""".stripMargin)
    def labels(df: DataFrame, label: org.apache.spark.sql.Column): Seq[Any] =
      df.select(label).collect().toSeq.map(_.get(0) match {
        case b: Array[Byte] => b.toSeq
        case other => other
      })
    val f = col("features")
    for (cls <- Seq(classes, buffered, Seq.empty[ClassSpec])) {
      def relational(df: DataFrame) = labels(df.orderBy("x"), col("label"))
      assert(labels(perTile, Labels.classificationLabel(f, cls)) ==
        relational(Labels.classification(tilesDf, featuresDf, cls)))
      assert(labels(perTile, Labels.objectDetectionLabel(f, cls)) ==
        relational(Labels.objectDetection(tilesDf, featuresDf, cls)))
      assert(labels(perTile, Segmentation.segmentationLabel(f, cls)) ==
        relational(Segmentation.segmentation(tilesDf, features.toDS(), cls)))
    }
  }
}
