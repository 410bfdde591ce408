package perfbench

import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

class StubSpec extends AnyFunSuite {
  private val cfg = Workloads.imagery.stub

  private def get(url: String): HttpResponse[Array[Byte]] =
    HttpClient.newHttpClient().send(HttpRequest.newBuilder(URI.create(url)).build(),
      HttpResponse.BodyHandlers.ofByteArray())

  test("the same seed gives the same payload bytes and the same tile mapping") {
    val (a, b) = (new Payloads(7, cfg), new Payloads(7, cfg))
    assert(a.labels.zip(b.labels).forall { case (x, y) => x.sameElements(y) })
    assert(a.images.zip(b.images).forall { case (x, y) => x.sameElements(y) })
    for (x <- 0 until 40; y <- 0 until 40) {
      assert(a.labelIndex(13, x, y) == b.labelIndex(13, x, y))
      assert(a.imageIndex(13, x, y) == b.imageIndex(13, x, y))
      assert(a.latencyMs(1, 13, x, y) == b.latencyMs(1, 13, x, y))
    }
  }

  test("another seed gives other payloads") {
    val (a, b) = (new Payloads(7, cfg), new Payloads(8, cfg))
    assert(!a.labels.zip(b.labels).forall { case (x, y) => x.sameElements(y) })
  }

  test("the server returns the pool bytes, 404s missing tiles and counts requests") {
    val stub = new Stub(new Payloads(7, cfg), 2)
    try {
      val tiles = for (x <- 0 until 30; y <- 0 until 10) yield (x, y)
      tiles.foreach { case (x, y) =>
        val r = get(graft.sources.TileSources.fillUrl(stub.labelUrl, 13, x, y))
        stub.payloads.labelIndex(13, x, y) match {
          case None => assert(r.statusCode == 404)
          case Some(i) => assert(r.statusCode == 200 && r.body.sameElements(stub.payloads.labels(i)))
        }
      }
      val img = get(graft.sources.TileSources.fillUrl(stub.imageUrl, 13, 3, 4))
      assert(img.body.sameElements(stub.payloads.images(stub.payloads.imageIndex(13, 3, 4))))
      assert(stub.labelCounters.requests.get == tiles.size)
      assert(stub.imageCounters.requests.get == 1)
      assert(stub.labelCounters.inflight.get == 0 && stub.imageCounters.inflightMax.get == 1)
    } finally stub.stop()
  }
}
