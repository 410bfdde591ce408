package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Runs registered queries closed-loop, one at a time, timing each from
  * the registered function's call to the end of a full `collect()` of its
  * result (never `count()`). */
object Queries {
  /** One line naming an exception. */
  def describe(e: Throwable): String =
    e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(300)
}

final class Queries(spark: SparkSession, dataDir: String, names: Seq[String]) {
  val samples: Map[String, collection.mutable.ArrayBuffer[Double]] =
    names.map(_ -> collection.mutable.ArrayBuffer[Double]()).toMap
  val buildSeconds = collection.mutable.ArrayBuffer[Double]()
  val errors = collection.mutable.LinkedHashMap[String, String]()
  private val registry = SparkEntry.queries
  private val last = collection.mutable.Map[String, (Array[Row], org.apache.spark.sql.types.StructType)]()

  private def once(name: String, tracer: Tracer): Option[(Double, Double)] =
    if (errors.contains(name)) None
    else try {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val df = tracer.span(s"query.$name.build", "round.queries")(registry(name)(spark, dataDir))
      val t1 = System.nanoTime()
      val rows = tracer.span(s"query.$name.collect", "round.queries")(df.collect())
      val t2 = System.nanoTime()
      last(name) = (rows, df.schema)
      Some(((t2 - t0) / 1e9, (t1 - t0) / 1e9))
    } catch {
      case NonFatal(e) =>
        errors(name) = Queries.describe(e)
        None
    }

  /** Drops the samples taken so far (a warm-up round's). */
  def clearSamples(): Unit = { samples.values.foreach(_.clear()); buildSeconds.clear() }

  /** One timed pass over all queries in `order`; the caller collects
    * garbage between passes. */
  def round(order: Seq[String], tracer: Tracer): Unit = order.foreach { n =>
    once(n, tracer).foreach { case (total, build) => samples(n) += total; buildSeconds += build }
  }

  /** Writes each query's last result as parquet, plus the oracle SQL, for
    * the DuckDB comparison. */
  def writeResults(dir: java.io.File): Unit = {
    last.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(new java.io.File(dir, name).getPath)
    }
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Json.write(new java.io.File(dir, "oracle_sql.json"), oracle)
  }
}
