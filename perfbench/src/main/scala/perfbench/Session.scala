package perfbench

import org.apache.spark.sql.SparkSession

/** The session `graft.Bench` times with, with every scratch path kept
  * under the run's own directory. */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def create(workDir: java.io.File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(workDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(workDir, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.range(100).selectExpr("sum(id)").collect()
    s
  }
}
