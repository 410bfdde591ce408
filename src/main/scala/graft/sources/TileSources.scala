package graft.sources

import graft.core.Tiles
import graft.model.{Coord, FeatureRow}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** HTTP tile sources (SURVEY §2.1 S2/S4/S6/S7).
  *
  * Executor-side fetches run in one `mapPartitions` pass per tile
  * ([[TileSources.tileInputs]]) with one shared `HttpClient` per JVM (the
  * reference builds a session per task via `requests.get`,
  * `main.py:39`/`utils.py:50`).
  */
object TileSources {

  /** One pooled client per executor JVM (shared with CogReader). */
  @transient private[sources] lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10))
    .followRedirects(HttpClient.Redirect.NORMAL)
    .build()

  private def httpGetAsync(url: String): java.util.concurrent.CompletableFuture[Array[Byte]] = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(30)).GET().build()
    client.sendAsync(req, HttpResponse.BodyHandlers.ofByteArray()).thenApply { resp =>
      if (resp.statusCode() / 100 != 2)
        throw new java.io.IOException(s"HTTP ${resp.statusCode()} for $url")
      resp.body()
    }
  }

  /** Windowed lookahead over a partition's rows: keeps `window` rows
    * started ahead of the consumer, so the latency of the async requests
    * `start` sends (network RTT, server stalls) overlaps instead of
    * serializing. Order-preserving. This is what makes HTTP-bound source
    * stages latency-tolerant at any partition count — the knob that matters
    * when the fetch, not the CPU, is the bottleneck. */
  private[sources] def prefetched[A, B](it: Iterator[A], window: Int)(start: A => B): Iterator[(A, B)] = {
    val queue = scala.collection.mutable.Queue[(A, B)]()
    new Iterator[(A, B)] {
      private def fill(): Unit =
        while (queue.size < window && it.hasNext) {
          val a = it.next()
          queue.enqueue((a, start(a)))
        }
      override def hasNext: Boolean = { fill(); queue.nonEmpty }
      override def next(): (A, B) = { fill(); queue.dequeue() }
    }
  }

  /** Tiles in flight per partition (each with its label and image request). */
  val FetchWindow = 16

  /** `str.format`-style URL templating (`utils.py:27-29`) with the
    * SafeDict ACCESS_TOKEN substitution (`utils.py:19-24,46-48`): unknown
    * placeholders survive; ACCESS_TOKEN comes from the environment. */
  def fillUrl(template: String, z: Int, x: Int, y: Int): String = {
    val withToken = sys.env.get("ACCESS_TOKEN")
      .map(t => template.replace("{ACCESS_TOKEN}", t)).getOrElse(template)
    withToken
      .replace("{z}", z.toString).replace("{x}", x.toString).replace("{y}", y.toString)
  }

  // ---- S4/S6: imagery fetch ----

  /** Decoded image: shape + raw interleaved bytes (bands-last, matching the
    * reference's `np.array(Image.open(...))` layout, `utils.py:52`). */
  final case class ImageTile(z: Int, x: Int, y: Int,
      height: Int, width: Int, bands: Int, data: Array[Byte])

  def decodeImage(bytes: Array[Byte]): (Int, Int, Int, Array[Byte]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null) throw new java.io.IOException("undecodable image")
    val w = img.getWidth
    val h = img.getHeight
    val hasAlpha = img.getColorModel.hasAlpha
    val bands = if (img.getColorModel.getNumComponents == 1) 1 else if (hasAlpha) 4 else 3
    val out = new Array[Byte](h * w * bands)
    // bulk getRGB: one color-model conversion pass, not one call per pixel
    val argb = img.getRGB(0, 0, w, h, null, 0, w)
    var p = 0
    var i = 0
    val n = h * w
    while (p < n) {
      val v = argb(p)
      if (bands == 1) { out(i) = (v & 0xff).toByte; i += 1 }
      else {
        out(i) = ((v >> 16) & 0xff).toByte
        out(i + 1) = ((v >> 8) & 0xff).toByte
        out(i + 2) = (v & 0xff).toByte
        if (bands == 4) { out(i + 3) = ((v >> 24) & 0xff).toByte; i += 4 } else i += 3
      }
      p += 1
    }
    (h, w, bands, out)
  }

  /** WMS URL construction (`utils.py:65-95`): parse version + crs/srs from
    * the query string, project the tile bounds (edges densified with 21
    * points like the reference's `transform_bounds(..., densify_pts=21)`),
    * axis-swap for 1.3.0, substitute `{bbox}`. Supported SRS families (see
    * the EPSG table in [[graft.core.Proj]]): EPSG:4326, 3857/900913, 3395,
    * UTM 326xx/327xx/258xx, LCC 2154/3347/3034, Albers 5070, British
    * National Grid 27700 (Airy + Helmert datum), polar stereographic
    * 3413/3995/3031/3976. Unknown codes throw (reference parity: pyproj
    * would too, just later). */
  def wmsUrl(template: String, z: Int, x: Int, y: Int): String = {
    val lower = template.toLowerCase
    def qparam(k: String): Option[String] =
      lower.split('?').lift(1).flatMap(_.split('&').collectFirst {
        case kv if kv.startsWith(s"$k=") => kv.substring(k.length + 1)
      })
    val version = qparam("version").getOrElse("1.1.1")
    val srs = (if (version == "1.3.0") qparam("crs") else qparam("srs")).getOrElse("epsg:3857")
    val proj = graft.core.Proj.forward(srs).getOrElse(
      throw new java.io.IOException(
        "WMS: " + graft.core.Proj.unsupportedMessage(srs)))
    val b = Tiles.tileBounds(graft.core.TileKey(z, x, y))
    val (xmin, ymin, xmax, ymax) =
      graft.core.Proj.transformBounds(proj, b.west, b.south, b.east, b.north)
    // WMS 1.3.0 flips axis order for geographic CRSes (utils.py:87-89 flips
    // unconditionally for 1.3.0, mirroring rasterio's bounds tuple).
    val bbox =
      if (version == "1.3.0") Seq(ymin, xmin, ymax, xmax) else Seq(xmin, ymin, xmax, ymax)
    template.replace("{bbox}", bbox.mkString(","))
  }

  sealed trait ImagerySource
  case object TmsSource extends ImagerySource
  case object WmsSource extends ImagerySource
  case object CogSource extends ImagerySource

  /** TIFF magic bytes: classic `II*\0` / `MM\0*`, BigTIFF `II+\0` / `MM\0+`. */
  private[sources] def isTiffMagic(b: Array[Byte]): Boolean =
    b.length >= 4 && {
      val le = b(0) == 'I'.toByte && b(1) == 'I'.toByte
      val be = b(0) == 'M'.toByte && b(1) == 'M'.toByte
      (le && b(3) == 0 && (b(2) == 42 || b(2) == 43)) ||
        (be && b(2) == 0 && (b(3) == 42 || b(3) == 43))
    }

  /** S7 dispatch, resolved ONCE at plan time (the reference re-probes the
    * imagery path on every task, `utils.py:98-127`): `{bbox}` -> WMS;
    * .tif/.tiff/.vrt suffix -> COG; otherwise TMS.
    *
    * With `probeContent` (what [[tileInputs]] passes), a concrete (placeholder-
    * free) path with no recognizable extension is probed by its first 4
    * bytes via one ranged read — the reference checks file CONTENT
    * (rasterio driver in {GTiff, VRT}, `utils.py:98-113`), so a COG behind
    * a signed URL or API endpoint without a `.tif` suffix must still
    * dispatch to the COG source. Probe failures (unreachable, no range
    * support) fall back to the extension answer — such a source couldn't
    * be range-read as a COG anyway. */
  def dispatch(imagery: String, probeContent: Boolean = false): ImagerySource =
    if (imagery.contains("{bbox}")) WmsSource
    else if (imagery.matches("(?i).*\\.(tif|tiff|vrt)(\\?.*)?$")) CogSource
    else if (probeContent && !Seq("{z}", "{x}", "{y}").exists(imagery.contains)) {
      val magic =
        try {
          val r = CogReader.readerFor(imagery)
          try Some(r.read(0, 4)) finally r.close()
        } catch { case scala.util.control.NonFatal(_) => None }
      if (magic.exists(isTiffMagic)) CogSource else TmsSource
    } else TmsSource

  // ---- S2-S7: one fetch pass per tile ----

  /** One tile's fetched inputs: its label layer's features in fidx order
    * (empty when the label tile is missing, fails to fetch or decode, or
    * lacks the layer) and, with imagery, its decoded image (else 0 x 0 x 0
    * and a null `image`). */
  final case class TileInputs(z: Int, x: Int, y: Int, features: Seq[FeatureRow],
      height: Int, width: Int, bands: Int, image: Array[Byte])

  /** Fetches every tile's label (S2 + S3 MVT decode of the layer the
    * pipeline reads, "osm", `label.py:13`) and imagery (S4 TMS / S6 WMS /
    * S5 COG windowed read) in one pass, one row per tile: a tile whose label
    * fails still emits its row (A4), and label and image pair up without a
    * join (`main.py:90-97`). A tile's label and image requests go out
    * together, [[FetchWindow]] tiles ahead; COG reads stay synchronous.
    *
    * Failures follow the reference: label fetch/decode errors degrade to an
    * empty feature set (`main.py:38-44`), counted in `failures` instead of
    * silently swallowed; image errors fail the task (Spark retries), as the
    * reference's image-path errors go uncaught (`main.py:50-63`). */
  def tileInputs(tiles: DataFrame, labelSource: Option[String], imagery: Option[String],
      layer: String = "osm", failures: Option[LongAccumulator] = None): Dataset[TileInputs] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val source = imagery.map(dispatch(_, probeContent = true))
    // a tile's image URL, for the sources fetched over HTTP
    def imageUrl(z: Int, x: Int, y: Int): Option[String] = imagery.zip(source).collect {
      case (img, WmsSource) => wmsUrl(fillUrl(img, z, x, y), z, x, y)
      case (img, TmsSource) => fillUrl(img, z, x, y)
    }
    tiles.select(col("z").cast("int"), col("x").cast("int"), col("y").cast("int"))
      .as[(Int, Int, Int)]
      .mapPartitions { it =>
        prefetched(it, FetchWindow) { case (z, x, y) =>
          (labelSource.map(src => httpGetAsync(fillUrl(src, z, x, y))),
            imageUrl(z, x, y).map(httpGetAsync))
        }.map { case ((z, x, y), (label, image)) =>
          val decoded = label.fold(Map.empty[String, Seq[Mvt.MvtFeature]]) { f =>
            scala.util.Try(Mvt.decode(f.join())).getOrElse { failures.foreach(_.add(1L)); Map.empty }
          }
          val features = decoded.getOrElse(layer, Seq.empty).zipWithIndex.map { case (f, i) =>
            FeatureRow(z, x, y, i,
              geomType = if (f.multi) "Multi" + f.geomType else f.geomType,
              multi = f.multi,
              parts = f.parts.map(_.map { case (px, py) => Coord(px, py) }.toSeq).toSeq,
              props = f.props,
              id = f.id)
          }
          val (h, w, bands, data) = (image, source) match {
            case (Some(f), _) => decodeImage(f.join()) // throws: fails the task
            case (None, Some(CogSource)) => CogReader.tile(imagery.get, graft.core.TileKey(z, x, y))
            case _ => (0, 0, 0, null)
          }
          TileInputs(z, x, y, features, h, w, bands, data)
        }
      }
  }

  /** Every tile's label-layer features, one row each: [[tileInputs]]
    * without imagery. Tiles with no features emit no rows. */
  def vectorFeatures(tiles: DataFrame, labelSource: String,
      layer: String = "osm",
      failures: Option[LongAccumulator] = None): Dataset[FeatureRow] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tileInputs(tiles, Some(labelSource), None, layer, failures)
      .select(explode(col("features")).as("f")).select("f.*").as[FeatureRow]
  }

  /** Every tile's image: [[tileInputs]] without a label source. */
  def images(tiles: DataFrame, imagery: String): Dataset[ImageTile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tileInputs(tiles, None, Some(imagery))
      .select($"z", $"x", $"y", $"height", $"width", $"bands", $"image".as("data")).as[ImageTile]
  }
}
