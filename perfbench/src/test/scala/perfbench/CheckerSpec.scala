package perfbench

import graft.model.MlType
import org.scalatest.funsuite.AnyFunSuite

class CheckerSpec extends AnyFunSuite {
  private val payloads = new Payloads(3, Workloads.dense.stub)
  private val tiles = for (x <- 0 until 5; y <- 0 until 4) yield (13, x, y)

  private def expected(ml: String): Map[(Int, Int, Int), (String, String)] = tiles.map { case t @ (z, x, y) =>
    t -> (Pipeline.expectedLabel(ml, Pipeline.featureRows(payloads.labelIndex(z, x, y).map(payloads.labels))), "")
  }.toMap

  test("the expected output passes") {
    for (ml <- Pipeline.MlTypes) assert(Pipeline.problems(expected(ml), expected(ml).toSeq).isEmpty)
  }

  test("a corrupted label is rejected") {
    val want = expected(MlType.Classification)
    val (k, (label, image)) = want.head
    val got = want.updated(k, (label.reverse + ",9", image)).toSeq
    assert(Pipeline.problems(want, got) == Seq(s"tile $k: got (${label.reverse},9,)"))
  }

  test("a missing tile is rejected") {
    val want = expected(MlType.Segmentation)
    val gone = want.keys.head
    assert(Pipeline.problems(want, want.removed(gone).toSeq) == Seq(s"tile $gone: missing"))
  }

  test("a duplicated or unexpected tile is rejected") {
    val want = expected(MlType.ObjectDetection)
    val row = want.head
    assert(Pipeline.problems(want, want.toSeq :+ row).nonEmpty)
    assert(Pipeline.problems(want, want.toSeq :+ ((13, 99, 99) -> row._2)).nonEmpty)
  }

  test("an empty tile has the background-only classification label") {
    assert(Pipeline.expectedLabel(MlType.Classification, Pipeline.featureRows(None)) == "1,0,0,0")
    assert(Pipeline.expectedLabel(MlType.ObjectDetection, Pipeline.featureRows(None)) == "[]")
  }
}
