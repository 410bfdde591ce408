package graft.plans

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.SparkSpec
import graft.core.BBox
import graft.model.MlType
import graft.sources.Mvt
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.RangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec

import java.net.InetSocketAddress

/** Pipeline e2e (SURVEY §5.3): local HTTP stub serving fixture MVT + PNG
  * tiles -> full LabelMakerJob on local[4] -> per-tile records. */
class LabelMakerJobSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val classesJson =
    """[
      |  {"name": "Roads",     "filter": ["has", "highway"]},
      |  {"name": "Buildings", "filter": ["has", "building"]}
      |]""".stripMargin

  // 2x2 tiles at z13 (x 3083..3084, y 4633..4634; Rio bbox corner)
  private val bbox = BBox(-44.4836, -23.0266, -44.44, -22.99)

  private def fixtureTile: Array[Byte] = Mvt.encode(Seq(
    Mvt.EncFeature("Polygon",
      Seq(Seq((0L, 0L), (0L, 4096L), (4096L, 4096L), (4096L, 0L))),
      Map("building" -> "yes"), id = Some(1L)),
    Mvt.EncFeature("LineString",
      Seq(Seq((0L, 2048L), (4096L, 2048L))),
      Map("highway" -> "primary"), id = Some(2L))))

  private def pngBytes: Array[Byte] = {
    val img = new java.awt.image.BufferedImage(256, 256, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(10, 200, 30))
    g.fillRect(0, 0, 256, 256)
    g.dispose()
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private def withServer[T](f: Int => T): T = {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    @volatile var wmsHits = 0
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val path = ex.getRequestURI.getPath
        val body: Array[Byte] =
          if (path.endsWith(".pbf")) {
            if (path.contains("bad")) "garbage".getBytes else fixtureTile
          } else if (path.endsWith(".png") || path.startsWith("/wms")) {
            if (path.startsWith("/wms")) wmsHits += 1
            pngBytes
          } else Array.emptyByteArray
        if (body.isEmpty) { ex.sendResponseHeaders(404, -1) }
        else {
          ex.sendResponseHeaders(200, body.length.toLong)
          ex.getResponseBody.write(body)
        }
        ex.close()
      }
    })
    server.start()
    try f(server.getAddress.getPort)
    finally server.stop(0)
  }

  test("classification e2e over stub TMS imagery") {
    withServer { port =>
      val job = LabelMakerJob(13, Seq(bbox.west, bbox.south, bbox.east, bbox.north),
        classesJson,
        imagery = s"http://localhost:$port/img/{z}/{x}/{y}.png",
        labelSource = s"http://localhost:$port/labels/{z}/{x}/{y}.pbf",
        mlType = "classification")
      assert(job.nTiles == 4)
      val rows = job.collect(spark)
      assert(rows.length == 4)
      rows.foreach { r =>
        assert(r.getSeq[Int](r.fieldIndex("label")) == Seq(0, 1, 1))
        assert(r.getInt(r.fieldIndex("height")) == 256)
        assert(r.getInt(r.fieldIndex("bands")) == 3)
        val img = r.getAs[Array[Byte]](r.fieldIndex("image"))
        assert(img.length == 256 * 256 * 3)
        // solid color (10, 200, 30)
        assert(img(0) == 10.toByte && img(1) == 200.toByte && img(2) == 30.toByte)
      }
    }
  }

  test("object-detection e2e; failed label fetch degrades to empty label") {
    withServer { port =>
      val job = LabelMakerJob(13, Seq(bbox.west, bbox.south, bbox.east, bbox.north),
        classesJson, imagery = null,
        labelSource = s"http://localhost:$port/bad/{z}/{x}/{y}.pbf",
        mlType = "object-detection")
      val rows = job.collect(spark)
      assert(rows.length == 4)
      rows.foreach(r => assert(r.getSeq[Row](r.fieldIndex("label")).isEmpty))

      val good = job.copy(labelSource = s"http://localhost:$port/ok/{z}/{x}/{y}.pbf")
      val rows2 = good.collect(spark)
      rows2.foreach { r =>
        val bbs = r.getSeq[Row](r.fieldIndex("label"))
          .map(b => (b.getInt(0), b.getInt(1), b.getInt(2), b.getInt(3), b.getInt(4)))
        assert(bbs == Seq((0, 0, 255, 255, 2), (0, 123, 255, 131, 1)))
      }
    }
  }

  test("segmentation e2e with WMS imagery (bbox substitution)") {
    withServer { port =>
      val job = LabelMakerJob(13, Seq(bbox.west, bbox.south, bbox.east, bbox.north),
        classesJson,
        imagery = s"http://localhost:$port/wms?version=1.1.1&srs=EPSG:3857&bbox={bbox}&request=GetMap",
        labelSource = s"http://localhost:$port/labels/{z}/{x}/{y}.pbf",
        mlType = "segmentation")
      val rows = job.collect(spark)
      assert(rows.length == 4)
      rows.foreach { r =>
        val label = r.getAs[Array[Byte]](r.fieldIndex("label"))
        assert(label.length == 256 * 256)
        // line (class 1) painted over polygon (class 2) at row 127
        assert(label(127 * 256 + 100) == 1.toByte)
        assert(label(10 * 256 + 10) == 2.toByte)
      }
    }
  }

  test("classification e2e with COG imagery (S5 windowed reads)") {
    withServer { port =>
      // a COG covering the whole 2x2 job bbox: z10 tile (385,579) spans
      // z13 x 3080..3087, y 4632..4639
      val b = graft.core.Tiles.tileBounds3857(graft.core.TileKey(10, 385, 579))
      val size = 1024
      val res = (b.east - b.west) / size
      val dir = java.nio.file.Files.createTempDirectory("cogjob")
      val cogPath = dir.resolve("imagery.tif").toString
      graft.sources.TiffWriter.write(cogPath,
        Seq(graft.sources.TiffWriter.Level(size, size, (x, y) => (42, 84, 126))),
        tileSize = 128, originX = b.west, originY = b.north, resX = res, resY = res)
      val job = LabelMakerJob(13, Seq(bbox.west, bbox.south, bbox.east, bbox.north),
        classesJson,
        imagery = cogPath,
        labelSource = s"http://localhost:$port/labels/{z}/{x}/{y}.pbf",
        mlType = "classification")
      val rows = job.collect(spark)
      assert(rows.length == 4)
      rows.foreach { r =>
        assert(r.getInt(r.fieldIndex("height")) == 256)
        val img = r.getAs[Array[Byte]](r.fieldIndex("image"))
        assert(img.length == 256 * 256 * 3)
        assert(img(0) == 42.toByte && img(1) == 84.toByte && img(2) == 126.toByte)
      }
    }
  }

  test("classification e2e with a JPEG-compressed COG (shared JPEGTables)") {
    withServer { port =>
      val b = graft.core.Tiles.tileBounds3857(graft.core.TileKey(10, 385, 579))
      val size = 1024
      val res = (b.east - b.west) / size
      val dir = java.nio.file.Files.createTempDirectory("jpegcogjob")
      val cogPath = dir.resolve("imagery.tif").toString
      graft.sources.TiffWriter.write(cogPath,
        Seq(graft.sources.TiffWriter.Level(size, size, (x, y) => (42, 84, 126))),
        tileSize = 128, originX = b.west, originY = b.north, resX = res, resY = res,
        jpeg = true)
      val job = LabelMakerJob(13, Seq(bbox.west, bbox.south, bbox.east, bbox.north),
        classesJson,
        imagery = cogPath,
        labelSource = s"http://localhost:$port/labels/{z}/{x}/{y}.pbf",
        mlType = "classification")
      val rows = job.collect(spark)
      assert(rows.length == 4)
      rows.foreach { r =>
        assert(r.getSeq[Int](r.fieldIndex("label")) == Seq(0, 1, 1))
        val img = r.getAs[Array[Byte]](r.fieldIndex("image"))
        assert(img.length == 256 * 256 * 3)
        // lossy codec: solid color within a small tolerance
        val want = Array(42, 84, 126)
        for (i <- 0 until 9)
          assert(math.abs((img(i) & 0xff) - want(i % 3)) <= 3,
            s"byte $i = ${img(i) & 0xff}, want ~${want(i % 3)}")
      }
    }
  }

  test("imagery fetch failure fails the job (reference parity: uncaught image errors)") {
    withServer { port =>
      val job = LabelMakerJob(13, Seq(bbox.west, bbox.south, bbox.east, bbox.north),
        classesJson,
        imagery = s"http://localhost:$port/missing/{z}/{x}/{y}.gif", // 404s
        labelSource = s"http://localhost:$port/labels/{z}/{x}/{y}.pbf",
        mlType = "classification")
      val e = intercept[org.apache.spark.SparkException] { job.collect(spark) }
      assert(e.getMessage != null)
    }
  }

  test("plan is lazy and explainable (P2 visualize equivalent)") {
    val job = LabelMakerJob(13, Seq(bbox.west, bbox.south, bbox.east, bbox.north),
      classesJson, imagery = null,
      labelSource = "http://localhost:1/never/{z}/{x}/{y}.pbf", // never fetched
      mlType = "classification")
    val plan = job.build(spark).queryExecution.toString
    assert(plan.nonEmpty) // building the plan must not touch the network
  }

  // ---- the one-pass plan ----

  private val bounds = Seq(bbox.west, bbox.south, bbox.east, bbox.north)
  private val mlTypes = Seq(MlType.Classification, MlType.ObjectDetection, MlType.Segmentation)
  private def tms(port: Int) = s"http://localhost:$port/img/{z}/{x}/{y}.png"

  private def assertSolidImage(r: Row): Unit = {
    assert(r.getInt(r.fieldIndex("height")) == 256 && r.getInt(r.fieldIndex("width")) == 256)
    val img = r.getAs[Array[Byte]](r.fieldIndex("image"))
    assert(img.length == 256 * 256 * 3)
    assert(img(0) == 10.toByte && img(1) == 200.toByte && img(2) == 30.toByte)
  }

  /** The label every tile gets when it has no features (A4). */
  private def assertEmptyLabel(ml: String, r: Row, nClasses: Int): Unit = ml match {
    case MlType.Classification =>
      assert(r.getSeq[Int](r.fieldIndex("label")) == (1 +: Seq.fill(nClasses)(0)))
    case MlType.ObjectDetection => assert(r.getSeq[Row](r.fieldIndex("label")).isEmpty)
    case _ => assert(r.getAs[Array[Byte]](r.fieldIndex("label")).forall(_ == 0))
  }

  test("one pass per tile: no shuffle, no join, one Range scan (every ml_type, +/- imagery)") {
    withServer { port =>
      for (ml <- mlTypes; imagery <- Seq(null, tms(port))) {
        val df = LabelMakerJob(13, bounds, classesJson, imagery,
          s"http://localhost:$port/labels/{z}/{x}/{y}.pbf", ml).build(spark)
        df.write.format("noop").mode("overwrite").save()
        val plan = df.queryExecution.executedPlan
        val what = s"$ml, imagery=${imagery != null}:\n$plan"
        assert(collect(plan) { case e: ShuffleExchangeLike => e }.isEmpty, what)
        assert(collect(plan) { case e: BroadcastExchangeLike => e }.isEmpty, what)
        assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, what)
        assert(collect(plan) { case r: RangeExec => r }.size == 1, what)
      }
    }
  }

  test("writeParquet returns the label fetch failures: 4 on bad/, 0 on a good source") {
    withServer { port =>
      val dir = java.nio.file.Files.createTempDirectory("failures").toString
      val job = LabelMakerJob(13, bounds, classesJson, imagery = null,
        labelSource = s"http://localhost:$port/bad/{z}/{x}/{y}.pbf", mlType = "object-detection")
      assert(job.writeParquet(spark, dir + "/bad") == 4)
      assert(spark.read.parquet(dir + "/bad").count() == 4)
      val good = job.copy(labelSource = s"http://localhost:$port/ok/{z}/{x}/{y}.pbf")
      assert(good.writeParquet(spark, dir + "/good") == 0)
    }
  }

  test("a 404 or a garbage label tile gives the empty label, with the image present") {
    withServer { port =>
      for (ml <- mlTypes; labels <- Seq("labels/{z}/{x}/{y}.mvt", "bad/{z}/{x}/{y}.pbf")) {
        val job = LabelMakerJob(13, bounds, classesJson, tms(port),
          s"http://localhost:$port/$labels", ml)
        val dir = java.nio.file.Files.createTempDirectory("labelfail").toString
        assert(job.writeParquet(spark, dir) == 4, s"$ml $labels")
        val rows = spark.read.parquet(dir).collect()
        assert(rows.length == 4)
        rows.foreach { r => assertEmptyLabel(ml, r, nClasses = 2); assertSolidImage(r) }
      }
    }
  }

  test("empty classes with imagery: background-only / zero-box / all-zero labels") {
    withServer { port =>
      for (ml <- mlTypes) {
        val rows = LabelMakerJob(13, bounds, "[]", tms(port),
          s"http://localhost:$port/labels/{z}/{x}/{y}.pbf", ml).collect(spark)
        assert(rows.length == 4)
        rows.foreach { r => assertEmptyLabel(ml, r, nClasses = 0); assertSolidImage(r) }
      }
    }
  }

  test("object-detection with imagery: negative buffer shrinks, a shrunk-away class emits no box") {
    withServer { port =>
      val classes =
        """[
          |  {"name": "Roads",     "filter": ["has", "highway"], "buffer": -10.0},
          |  {"name": "Buildings", "filter": ["has", "building"], "buffer": -500.0},
          |  {"name": "Gone",      "filter": ["has", "building"], "buffer": -3000.0},
          |  {"name": "Grown",     "filter": ["has", "building"], "buffer": 100.0}
          |]""".stripMargin
      val rows = LabelMakerJob(13, bounds, classes, tms(port),
        s"http://localhost:$port/labels/{z}/{x}/{y}.pbf", "object-detection").collect(spark)
      assert(rows.length == 4)
      rows.foreach { r =>
        val bbs = r.getSeq[Row](r.fieldIndex("label"))
          .map(b => (b.getInt(0), b.getInt(1), b.getInt(2), b.getInt(3), b.getInt(4)))
        // polygon 0..4096 shrunk by 500: 500..3596 -> round(31.13)=31,
        // round(223.87)=224; grown by 100 clamps to the full tile. The line
        // and the -3000 class shrink away.
        assert(bbs == Seq((31 - 4, 255 - 224 - 4, 224 + 4, 255 - 31 + 4, 2), (0, 0, 255, 255, 4)))
        assertSolidImage(r)
      }
    }
  }

  test("segmentation over COG imagery, label requests async beside the synchronous COG read") {
    withServer { port =>
      val b = graft.core.Tiles.tileBounds3857(graft.core.TileKey(10, 385, 579))
      val size = 1024
      val res = (b.east - b.west) / size
      val cogPath = java.nio.file.Files.createTempDirectory("cogfused").resolve("imagery.tif").toString
      graft.sources.TiffWriter.write(cogPath,
        Seq(graft.sources.TiffWriter.Level(size, size, (x, y) => (42, 84, 126))),
        tileSize = 128, originX = b.west, originY = b.north, resX = res, resY = res)
      for (labels <- Seq("labels/{z}/{x}/{y}.pbf", "labels/{z}/{x}/{y}.mvt")) {
        val rows = LabelMakerJob(13, bounds, classesJson, cogPath,
          s"http://localhost:$port/$labels", "segmentation").collect(spark)
        assert(rows.length == 4)
        rows.foreach { r =>
          val label = r.getAs[Array[Byte]](r.fieldIndex("label"))
          if (labels.endsWith(".pbf")) assert(label(127 * 256 + 100) == 1.toByte && label(10 * 256 + 10) == 2.toByte)
          else assert(label.forall(_ == 0))
          val img = r.getAs[Array[Byte]](r.fieldIndex("image"))
          assert(img.length == 256 * 256 * 3 && img(0) == 42.toByte && img(2) == 126.toByte)
        }
      }
    }
  }
}
