package perfbench

import graft.core.{BBox, Tiles}
import graft.filters.{FilterCompiler, GLFilter}
import graft.model.{ClassSpec, Coord, FeatureRow, MlType}
import graft.operators.{Labels, Segmentation, TileEnumeration}
import graft.plans.LabelMakerJob
import graft.sources.{Mvt, TileSources}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One labeling workload: the stub's shape, and whether jobs fetch
  * imagery. Jobs with imagery materialize every output column into a
  * no-op sink; jobs without write through `writeParquet`. */
final case class PipeConfig(stub: StubConfig, imagery: Boolean)

object Pipeline {
  /** The reference's README job: the Rio bbox at zoom 13, 312 tiles. */
  val Rio: BBox = BBox(-44.4836, -23.0266, -43.4127, -22.5856)
  val Zoom = 13
  val tiles: Long = TileEnumeration.count(Rio, Zoom)

  val MlTypes: Seq[String] = Seq(MlType.Classification, MlType.ObjectDetection, MlType.Segmentation)

  /** FIXTURES A1 classes. */
  val classes: Seq[ClassSpec] = ClassSpec.parseJson(
    """[
      |  {"name": "Roads",     "filter": ["has", "highway"]},
      |  {"name": "Buildings", "filter": ["has", "building"]},
      |  {"name": "Wide",      "filter": ["all", [">", "width", 10], ["!in", "surface", "dirt", "grass"]], "buffer": 2.0}
      |]""".stripMargin)

  def job(cfg: PipeConfig, stub: Stub, ml: String, imagery: Boolean): LabelMakerJob =
    LabelMakerJob(Zoom, Rio, classes, if (imagery) Some(stub.imageUrl) else None, stub.labelUrl, ml)

  /** Full materialization of every column: never `count()`, which lets
    * Catalyst prune columns and aggregates away. */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def outPath(dir: java.io.File, ml: String): String = new java.io.File(dir, s"out-$ml").getPath

  /** Runs one job through the workload's sink: the no-op sink, or
    * `writeParquet`, whose files the output check reads back. */
  def run(spark: SparkSession, cfg: PipeConfig, stub: Stub, ml: String, outDir: java.io.File): Unit = {
    val j = job(cfg, stub, ml, cfg.imagery)
    if (cfg.imagery) materialize(j.build(spark)) else j.writeParquet(spark, outPath(outDir, ml))
  }

  // ---- output check ----

  /** Mirrors `TileSources.vectorFeatures` for one payload, outside Spark. */
  def featureRows(bytes: Option[Array[Byte]]): Seq[FeatureRow] =
    bytes.map(Mvt.decode).getOrElse(Map.empty).getOrElse("osm", Seq.empty).zipWithIndex.map { case (f, i) =>
      FeatureRow(0, 0, 0, i, if (f.multi) "Multi" + f.geomType else f.geomType, f.multi,
        f.parts.map(_.map { case (px, py) => Coord(px, py) }.toSeq).toSeq, f.props, f.id)
    }

  private def px(c: Double): Int = BigDecimal(c * 255.0 / 4096.0).setScale(0, BigDecimal.RoundingMode.HALF_EVEN).toInt
  private def clamp(v: Int): Int = math.max(0, math.min(255, v))

  private def md5hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map(x => f"${x & 0xff}%02x").mkString

  /** Expected label of a tile with features `fs`, in the digest form
    * [[digest]] renders the program's output to. */
  def expectedLabel(ml: String, fs: Seq[FeatureRow]): String = ml match {
    case MlType.Classification =>
      val hits = classes.map(c => if (fs.exists(f => GLFilter.eval(c.filter, f.props, f.geomType, f.id))) 1 else 0)
      ((if (hits.sum == 0) 1 else 0) +: hits).mkString(",")
    case MlType.ObjectDetection =>
      val boxes = for {
        f <- fs
        flat = f.parts.flatten if flat.nonEmpty
        (c, i) <- classes.zipWithIndex if GLFilter.eval(c.filter, f.props, f.geomType, f.id)
      } yield {
        val b = c.buffer.getOrElse(0.0)
        val (minx, maxx) = (flat.map(_.x).min - b, flat.map(_.x).max + b)
        val (miny, maxy) = (flat.map(_.y).min - b, flat.map(_.y).max + b)
        s"""{"xmin":${clamp(px(minx) - 4)},"ymin":${clamp(255 - px(maxy) - 4)},""" +
          s""""xmax":${clamp(px(maxx) + 4)},"ymax":${clamp(255 - px(miny) + 4)},"cls":${i + 1}}"""
      }
      boxes.mkString("[", ",", "]")
    case MlType.Segmentation => md5hex(Segmentation.labelForTile(fs, classes))
  }

  def expectedImage(bytes: Array[Byte]): String = {
    val (h, w, b, data) = TileSources.decodeImage(bytes)
    s"${h}x${w}x$b:${md5hex(data)}"
  }

  /** The output rendered to (tile, label digest, image digest, bytes):
    * bytes are the label's and the image's. */
  def digest(ml: String, df: DataFrame, imagery: Boolean): DataFrame = {
    val labelBytes = ml match {
      case MlType.Segmentation => octet_length(col("label"))
      case MlType.Classification => size(col("label")) * 4
      case _ => size(col("label")) * 20
    }
    val bytes = labelBytes + (if (imagery) octet_length(col("image")) else lit(0))
    val label = ml match {
      case MlType.Classification => concat_ws(",", col("label").cast("array<string>"))
      case MlType.ObjectDetection => to_json(col("label"))
      case _ => md5(col("label"))
    }
    val image =
      if (imagery) concat_ws("", col("height"), lit("x"), col("width"), lit("x"), col("bands"), lit(":"), md5(col("image")))
      else lit("")
    df.select(col("z"), col("x"), col("y"), label.as("label"), image.as("image"), bytes.cast("long").as("bytes"))
  }

  /** Problems found comparing the output to the expected labels: a tile
    * missing, duplicated or unexpected, or a label or image that differs. */
  def problems(expected: Map[(Int, Int, Int), (String, String)],
      got: Seq[((Int, Int, Int), (String, String))]): Seq[String] = {
    val byKey = got.groupBy(_._1)
    val dup = byKey.collect { case (k, rows) if rows.size > 1 => s"tile $k: ${rows.size} rows" }
    val extra = byKey.keys.filterNot(expected.contains).map(k => s"tile $k: not enumerated")
    val bad = expected.toSeq.flatMap { case (k, want) =>
      byKey.get(k) match {
        case None => Some(s"tile $k: missing")
        case Some(rows) if rows.head._2 != want => Some(s"tile $k: got ${rows.head._2.toString.take(80)}")
        case _ => None
      }
    }
    (dup ++ extra ++ bad).toSeq
  }

  /** One untimed run of the job rendered to [[digest]] rows, for the
    * output check of jobs whose timed sink writes nothing. */
  def digests(spark: SparkSession, cfg: PipeConfig, stub: Stub, ml: String): Array[Row] =
    digest(ml, job(cfg, stub, ml, imagery = true).build(spark), imagery = true).collect()

  /** Checks one job's output against an evaluation of every tile outside
    * Spark, through the public functions: the parquet files of the last
    * timed job, or the `digests` of an untimed run of the same job in the
    * same session. Returns the problems found and the output bytes per
    * tile: parquet file bytes, or the rows' label and image bytes. */
  def check(spark: SparkSession, cfg: PipeConfig, payloads: Payloads, ml: String,
      outDir: java.io.File, digests: Option[Array[Row]]): (Seq[String], Double) = {
    val labelCache = scala.collection.mutable.Map[Option[Int], String]()
    val imageCache = scala.collection.mutable.Map[Int, String]()
    val expected = Tiles.enumerate(Rio, Zoom).map { t =>
      val li = payloads.labelIndex(t.z, t.x, t.y)
      val label = labelCache.getOrElseUpdate(li, expectedLabel(ml, featureRows(li.map(payloads.labels))))
      val image = if (!cfg.imagery) "" else {
        val ii = payloads.imageIndex(t.z, t.x, t.y)
        imageCache.getOrElseUpdate(ii, expectedImage(payloads.images(ii)))
      }
      (t.z, t.x, t.y) -> (label, image)
    }.toMap
    val out = new java.io.File(outPath(outDir, ml))
    val rows = if (cfg.imagery) digests.getOrElse(sys.error("no digests: the job failed"))
      else digest(ml, spark.read.parquet(out.getPath), imagery = false).collect()
    val got = rows.toSeq.map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> (r.getString(3), r.getString(4)))
    val bytes = if (cfg.imagery) rows.map(_.getLong(5)).sum.toDouble else dirBytes(out).toDouble
    (problems(expected, got), bytes / expected.size)
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  // ---- traced run: stage prefixes and kernels ----

  private def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }

  /** Self time of each pipeline layer, from full materializations of the
    * plan's prefixes: tiles -> vectorFeatures -> label op -> images ->
    * build -> writeParquet. A layer's time is its prefix minus the prefix
    * before it. Returns the layer times and the prefix times. */
  def prefixTimes(spark: SparkSession, cfg: PipeConfig, stub: Stub, outDir: java.io.File,
      tracer: Tracer): (Map[String, Double], Map[String, Double]) = {
    def prefix(name: String)(body: => Unit): Double = tracer.span(s"prefix.$name", "run")(timed(body))
    def t = TileEnumeration.tiles(spark, Rio, Zoom)
    def features = TileSources.vectorFeatures(t, stub.labelUrl)
    val tTiles = prefix("tiles")(materialize(t))
    val tFeatures = prefix("vectorFeatures")(materialize(features.toDF()))
    val labelOps = Map[String, () => DataFrame](
      MlType.Classification -> (() => Labels.classification(t, features.toDF(), classes)),
      MlType.ObjectDetection -> (() => Labels.objectDetection(t, features.toDF(), classes)),
      MlType.Segmentation -> (() => Segmentation.segmentation(t, features, classes)))
    val tLabel = MlTypes.map(ml => ml -> prefix(s"label.$ml")(materialize(labelOps(ml)()))).toMap
    val tImages = prefix("images")(materialize(TileSources.images(t, stub.imageUrl).toDF()))
    // build and sink prefixes for one job type each: classification has
    // the cheapest label op (so the join shows), segmentation the largest sink
    val tBuild = prefix("build.classification")(materialize(
      job(cfg, stub, MlType.Classification, imagery = true).build(spark)))
    val sinkPath = new java.io.File(outDir, "prefix-sink")
    val tSink = prefix("writeParquet.segmentation")(
      job(cfg, stub, MlType.Segmentation, imagery = false).writeParquet(spark, sinkPath.getPath))
    val sinkBytes = dirBytes(sinkPath).toDouble
    val images = tImages - tTiles
    val layers = Map(
      "sources.TileSources.vectorFeatures_s" -> (tFeatures - tTiles),
      "operators.Labels.classification_s" -> (tLabel(MlType.Classification) - tFeatures),
      "operators.Labels.objectDetection_s" -> (tLabel(MlType.ObjectDetection) - tFeatures),
      "operators.Segmentation.segmentation_s" -> (tLabel(MlType.Segmentation) - tFeatures),
      "sources.TileSources.images_s" -> images,
      "plans.LabelMakerJob.join_s" -> (tBuild - tLabel(MlType.Classification) - images),
      "plans.LabelMakerJob.writeParquet_sink_s" -> (tSink - tLabel(MlType.Segmentation)),
      "plans.sink_bytes" -> sinkBytes)
    val prefixes = Map("tiles" -> tTiles, "vectorFeatures" -> tFeatures, "images" -> tImages,
      "build.classification" -> tBuild, "writeParquet.segmentation" -> tSink) ++
      tLabel.map { case (ml, v) => s"label.$ml" -> v }
    (layers, prefixes)
  }

  /** Median per-call time of `f` over `xs`, single-threaded, in rounds
    * of one pass each until `minSeconds` have passed. */
  def perCallUs[A](xs: Seq[A], minSeconds: Double)(f: A => Any): Double = {
    val rounds = scala.collection.mutable.ArrayBuffer[Double]()
    val end = System.nanoTime() + (minSeconds * 1e9).toLong
    while (rounds.size < 3 || System.nanoTime() < end) {
      val t0 = System.nanoTime()
      xs.foreach(f)
      rounds += (System.nanoTime() - t0) / 1e3 / xs.size
    }
    Stats.median(rounds.toSeq)
  }

  def kernelTimes(spark: SparkSession, cfg: PipeConfig, stub: Stub): Map[String, Double] = {
    val p = stub.payloads
    val nonEmpty = p.labels.toSeq.drop(1)
    val featureSets = nonEmpty.map(b => featureRows(Some(b)))
    val j = job(cfg, stub, MlType.Segmentation, cfg.imagery)
    Map(
      "sources.Mvt.decode_us_per_tile" -> perCallUs(nonEmpty, 0.5)(Mvt.decode),
      "sources.TileSources.decodeImage_us_per_tile" -> perCallUs(p.images.toSeq, 0.5)(TileSources.decodeImage),
      "operators.Segmentation.labelForTile_us" -> perCallUs(featureSets, 0.5)(Segmentation.labelForTile(_, classes)),
      "filters.FilterCompiler.compile_ms" -> perCallUs(classes, 0.2)(c => FilterCompiler.compile(c.filter)) / 1e3,
      "plans.LabelMakerJob.build_s" -> perCallUs(Seq(j), 0.2)(_.build(spark)) / 1e6)
  }
}
