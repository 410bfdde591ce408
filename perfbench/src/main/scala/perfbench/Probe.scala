package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, RangeExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._

/** Plan walks through adaptive plans and their query stages. */
object Plans extends AdaptiveSparkPlanHelper {
  def exchanges(p: SparkPlan): Int = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size
  def rangeScans(p: SparkPlan): Int = collectWithSubqueries(p) { case r: RangeExec => r }.size
}

/** Live heap: heap in use after a full GC, once Spark's listeners have
  * taken every queued event and its cleaner has released what the GC
  * found unreachable (broadcasts, shuffles). */
object Heap {
  def liveMb(spark: SparkSession): Double = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** One timed span of a traced run. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long)

/** Spans of one run, recorded only while `on`; they stay in memory until
  * [[write]] at the end of the run. */
final class Tracer(runId: String) {
  @volatile var on = false
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def span[T](name: String, parent: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body finally spans.add(Span(name, parent, t0, System.nanoTime()))
    }

  def write(f: java.io.File): Unit = Json.write(f, spans.asScala.toSeq.map(s => Map(
    "run" -> runId, "name" -> s.name, "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}

/** Listeners the benchmark registers for a traced run: Spark jobs, stages
  * and tasks, SQL executions, and streaming progress. Everything is kept
  * in memory; the caller writes it out when the run ends. */
final class Probe(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()
  private val maxima = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  def add(k: String, v: Double): Unit = counts.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  def max(k: String, v: Long): Unit =
    maxima.computeIfAbsent(k, _ => new AtomicLong).accumulateAndGet(v, (a, b) => math.max(a, b))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_run_ms", m.executorRunTime.toDouble)
        add("spark.gc_s", m.jvmGCTime / 1000.0)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("spark.scan_bytes", m.inputMetrics.bytesRead.toDouble)
        add("spark.scan_rows", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.tracker.phases.values.map(_.durationMs).sum
      add("spark.plan_s", plan / 1000.0)
      add("spark.execute_s", durationNs / 1e9)
      add("spark.exchanges", Plans.exchanges(qe.executedPlan))
      add("operators.TileEnumeration.range_scans", Plans.rangeScans(qe.executedPlan))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("streaming.batches", 1)
      add("streaming.commit_ms", Option(p.durationMs.get("commitOffsets")).map(_.doubleValue).getOrElse(0.0))
      p.stateOperators.foreach { s =>
        max("streaming.state_rows", s.numRowsTotal)
        max("streaming.state_memory_bytes", s.memoryUsedBytes)
      }
    }
  }

  @volatile private var sampling = false
  private val sampler = new Thread(() => while (sampling) {
    max("spark.cached_bytes_peak", sc.getRDDStorageInfo.map(_.memSize).sum)
    Thread.sleep(100)
  }, "perfbench-cache-sampler")
  sampler.setDaemon(true)

  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
    sampling = true
    sampler.start()
  }

  /** Stops the sampler, lets the listener buses drain, unregisters. */
  def remove(): Unit = {
    sampling = false
    sampler.join()
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }

  def value(k: String): Double =
    Option(counts.get(k)).map(_.sum).orElse(Option(maxima.get(k)).map(_.get.toDouble)).getOrElse(0.0)
}
