package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.Mvt

import java.net.InetSocketAddress
import java.util.concurrent.{ScheduledThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** Shape of one stub: how dense the label tiles are and the range of
  * the seeded latency injected into every response (0 to 0 for none). */
final case class StubConfig(featuresPerTile: Int, latencyMsMin: Int, latencyMsMax: Int)

/** Deterministic 64-bit mixing (splitmix64 finalizer): the same seed and
  * key always give the same value, independent of call order. */
object Mix {
  def apply(seed: Long, keys: Long*): Long = keys.foldLeft(seed ^ 0x9E3779B97F4A7C15L) { (h, k) =>
    var z = h + k * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def unit(seed: Long, keys: Long*): Double = (apply(seed, keys: _*) >>> 11).toDouble / (1L << 53)
}

/** Seeded payload pools: MVT label tiles and PNG/JPEG imagery. Tiles map
  * onto pool entries by a seeded hash of (z, x, y), so a tile's response
  * is a pure function of (seed, tile). */
final class Payloads(seed: Long, cfg: StubConfig) {
  private val LabelPool = 48
  private val ImagePool = 16
  private val MissingFrac = 0.02 // 404s
  private val EmptyFrac = 0.03 // tiles without features
  private val highways = Array("primary", "secondary", "residential", "track")
  private val surfaces = Array("asphalt", "dirt", "grass", "paved", "gravel")

  private def feature(rnd: scala.util.Random, i: Int): Mvt.EncFeature = {
    // coordinates run slightly past the 0-4096 extent so clipping is exercised
    def c(): Long = (rnd.nextInt(4496) - 200).toLong
    def ring(cx: Long, cy: Long, r: Int, n: Int, ccw: Boolean): Seq[(Long, Long)] = {
      val pts = (0 until n).map { k =>
        val a = 2 * math.Pi * k / n * (if (ccw) 1 else -1)
        val rr = r * (0.7 + 0.3 * rnd.nextDouble())
        ((cx + rr * math.cos(a)).round, (cy + rr * math.sin(a)).round)
      }
      pts :+ pts.head
    }
    val props: Map[String, Any] = rnd.nextInt(10) match {
      case k if k < 4 => Map("highway" -> highways(rnd.nextInt(highways.length)),
        "width" -> rnd.nextInt(20), "surface" -> surfaces(rnd.nextInt(surfaces.length)))
      case k if k < 8 => Map("building" -> "yes", "height" -> rnd.nextInt(40))
      case 8 => Map("landuse" -> "grass")
      case _ => Map.empty
    }
    val id = Some(i.toLong)
    rnd.nextInt(12) match {
      case 0 => Mvt.EncFeature("Point", Seq(Seq((c(), c()))), props, id)
      case 1 => Mvt.EncFeature("Point", Seq(Seq((c(), c()), (c(), c()), (c(), c()))), props, id)
      case k if k < 5 =>
        Mvt.EncFeature("LineString", Seq(Seq.fill(2 + rnd.nextInt(5))((c(), c()))), props, id)
      case 5 =>
        Mvt.EncFeature("LineString", Seq.fill(2)(Seq.fill(3)((c(), c()))), props, id)
      case k if k < 9 =>
        Mvt.EncFeature("Polygon", Seq(ring(c(), c(), 60 + rnd.nextInt(400), 5 + rnd.nextInt(8), ccw = true)), props, id)
      case 9 => // polygon with a hole
        val (cx, cy, r) = (c(), c(), 200 + rnd.nextInt(400))
        Mvt.EncFeature("Polygon", Seq(ring(cx, cy, r, 10, ccw = true), ring(cx, cy, r / 3, 6, ccw = false)), props, id)
      case _ => // multipolygon: two shells
        Mvt.EncFeature("Polygon", Seq(ring(c(), c(), 150, 6, ccw = true), ring(c(), c(), 150, 7, ccw = true)), props, id)
    }
  }

  /** Label pool: entry 0 is the empty tile (no features). */
  val labels: Array[Array[Byte]] = Array.tabulate(LabelPool) { p =>
    val rnd = new scala.util.Random(Mix(seed, 1, p))
    val n = if (p == 0) 0 else cfg.featuresPerTile
    Mvt.encode((0 until n).map(feature(rnd, _)))
  }

  /** Image pool: textured 256x256 tiles, even entries PNG, odd JPEG. */
  val images: Array[Array[Byte]] = Array.tabulate(ImagePool) { p =>
    val rnd = new scala.util.Random(Mix(seed, 2, p))
    val img = new java.awt.image.BufferedImage(256, 256, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val (r0, g0, b0) = (rnd.nextInt(180), rnd.nextInt(180), rnd.nextInt(180))
    for (y <- 0 until 256; x <- 0 until 256) {
      val n = rnd.nextInt(48)
      val band = ((x / 16 + y / 16) % 2) * 24
      img.setRGB(x, y, ((r0 + n + band) << 16) | ((g0 + n) << 8) | (b0 + band))
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, if (p % 2 == 0) "png" else "jpg", out)
    out.toByteArray
  }

  /** Label pool index for a tile, or None when the tile is a 404. */
  def labelIndex(z: Int, x: Int, y: Int): Option[Int] = {
    val u = Mix.unit(seed, 3, z, x, y)
    if (u < MissingFrac) None
    else if (u < MissingFrac + EmptyFrac) Some(0)
    else Some(1 + ((Mix(seed, 4, z, x, y) >>> 1) % (LabelPool - 1)).toInt)
  }

  def imageIndex(z: Int, x: Int, y: Int): Int = ((Mix(seed, 5, z, x, y) >>> 1) % ImagePool).toInt

  /** Injected latency of one response, fixed by (seed, path). */
  def latencyMs(kind: Int, z: Int, x: Int, y: Int): Long =
    if (cfg.latencyMsMax <= 0) 0L
    else cfg.latencyMsMin + (Mix(seed, 6, kind, z, x, y) >>> 1) % (cfg.latencyMsMax - cfg.latencyMsMin + 1)
}

/** Per-path counters of the stub: requests, bytes, in-flight peak. */
final class PathCounters {
  val requests = new AtomicLong
  val bytes = new AtomicLong
  val inflight = new AtomicLong
  val inflightMax = new AtomicLong
  def reset(): Unit = Seq(requests, bytes, inflight, inflightMax).foreach(_.set(0))
  def enter(): Unit = {
    requests.incrementAndGet()
    val now = inflight.incrementAndGet()
    inflightMax.accumulateAndGet(now, (a, b) => math.max(a, b))
  }
}

/** The benchmark's tile server on localhost: `/l/{z}/{x}/{y}.pbf` serves
  * the label pool, `/i/{z}/{x}/{y}.img` the image pool. Delayed responses
  * are scheduled, not slept, so latency holds no thread; request handling
  * and delayed responses share one pool of `threads` threads. */
final class Stub(val payloads: Payloads, threads: Int) {
  val labelCounters = new PathCounters
  val imageCounters = new PathCounters
  private val pool = new ScheduledThreadPoolExecutor(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
  private val TilePath = "/([li])/(\\d+)/(\\d+)/(\\d+)\\.\\w+".r

  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => ex.getRequestURI.getPath match {
    case TilePath(kind, z, x, y) =>
      val (zi, xi, yi) = (z.toInt, x.toInt, y.toInt)
      val isLabel = kind == "l"
      val counters = if (isLabel) labelCounters else imageCounters
      counters.enter()
      val body =
        if (isLabel) payloads.labelIndex(zi, xi, yi).map(payloads.labels)
        else Some(payloads.images(payloads.imageIndex(zi, xi, yi)))
      val delay = payloads.latencyMs(if (isLabel) 0 else 1, zi, xi, yi)
      val respond: Runnable = () => reply(ex, body, counters)
      if (delay == 0) respond.run() else pool.schedule(respond, delay, TimeUnit.MILLISECONDS)
    case _ => ex.sendResponseHeaders(404, -1); ex.close()
  })
  server.start()

  private def reply(ex: HttpExchange, body: Option[Array[Byte]], c: PathCounters): Unit =
    try body match {
      case Some(b) =>
        ex.sendResponseHeaders(200, b.length.toLong)
        ex.getResponseBody.write(b)
        c.bytes.addAndGet(b.length.toLong)
      case None => ex.sendResponseHeaders(404, -1)
    } finally {
      ex.close()
      c.inflight.decrementAndGet()
    }

  val port: Int = server.getAddress.getPort
  def labelUrl: String = s"http://127.0.0.1:$port/l/{z}/{x}/{y}.pbf"
  def imageUrl: String = s"http://127.0.0.1:$port/i/{z}/{x}/{y}.img"

  def reset(): Unit = { labelCounters.reset(); imageCounters.reset() }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
