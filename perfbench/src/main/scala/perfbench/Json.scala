package perfbench

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

object Json {
  private implicit val formats: Formats = DefaultFormats

  def write(f: java.io.File, value: AnyRef): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, Serialization.write(value).getBytes("UTF-8"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
