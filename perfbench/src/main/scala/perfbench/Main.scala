package perfbench

import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** A workload: one labeling-job shape plus one set of registered queries,
  * run one after the other by a single closed-loop client. */
final case class Workload(pipe: PipeConfig, queries: Seq[String])

object Workloads {
  val dense = PipeConfig(StubConfig(featuresPerTile = 50, latencyMsMin = 0, latencyMsMax = 0), imagery = false)
  val imagery = PipeConfig(StubConfig(featuresPerTile = 10, latencyMsMin = 20, latencyMsMax = 100), imagery = true)

  val core: Seq[String] = Seq(
    "q01_pricing_summary", "q03_join_topk", "q06_window_topn", "q15_json_extract",
    "qa06_markov", "qw01_trending", "qf01_gl_all_cmp", "ql02_objdet_bbox")

  val heavy: Seq[String] = Seq("qd29_streaming_neardup", "qd63_shingle_reuse", "qq40_spearman")

  val all: Map[String, Workload] = Map(
    "dense-heavy" -> Workload(dense, heavy),
    "imagery-core" -> Workload(imagery, core))
}

/** One benchmark run inside one JVM. Writes raw samples as JSON; the
  * Python side (`run.py`) turns them into metrics and adds the DuckDB check.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> */
object Main {
  private def now: Long = System.nanoTime()

  /** Seeded permutation of `xs`, different for every round. */
  private def shuffled[A](xs: Seq[A], seed: Long, round: Int): Seq[A] =
    new scala.util.Random(Mix(seed, 7, round)).shuffle(xs)

  /** Everything the program needs before its first job or query: the
    * session, the seeded stub with its payload pools, and the input
    * tables' footers. */
  private def setUp(w: Workload, seed: Long, dataDir: String, workDir: java.io.File): (SparkSession, Stub) = {
    val spark = Session.create(workDir)
    val stub = new Stub(new Payloads(seed, w.pipe.stub), Session.cores)
    Option(new java.io.File(dataDir).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
      .foreach(f => spark.read.parquet(f.getPath).schema)
    (spark, stub)
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, dataDir, workDirS) = args
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val w = Workloads.all.getOrElse(name, sys.error(s"unknown workload $name"))
    val workDir = new java.io.File(workDirS)
    val result = collection.mutable.LinkedHashMap[String, Any]()

    // set-up, several times; the last one stays up for the run
    val setupSeconds = collection.mutable.ArrayBuffer[Double]()
    def timedSetUp(): (SparkSession, Stub) = {
      val t0 = now
      try setUp(w, seed, dataDir, workDir) finally setupSeconds += (now - t0) / 1e9
    }
    val (spark, stub) = (1 until 3).foldLeft(timedSetUp()) { case ((s, st), _) =>
      st.stop(); s.stop(); timedSetUp()
    }
    result("setup_s") = setupSeconds.toSeq
    val tiles = Pipeline.tiles
    result("tiles") = tiles

    val phases = collection.mutable.LinkedHashMap[String, Double]()
    var mark = now
    def phase(name: String): Unit = { phases(name) = (now - mark) / 1e9; mark = now }
    try {
      val queries = new Queries(spark, dataDir, w.queries)
      val jobSamples = Pipeline.MlTypes.map(_ -> collection.mutable.ArrayBuffer[Double]()).toMap
      val jobErrors = collection.mutable.LinkedHashMap[String, String]()
      val digests = collection.mutable.Map[String, Array[org.apache.spark.sql.Row]]()
      val stubPerJob = collection.mutable.ArrayBuffer[Map[String, Double]]()
      val tracer = new Tracer(s"$name-$seed")
      // a full GC before each job and before each round of queries, so
      // earlier garbage is not billed to what runs next
      def pipeRound(r: Int): Unit = shuffled(Pipeline.MlTypes, seed, r).foreach { ml =>
        System.gc()
        stub.reset()
        val t0 = now
        try {
          tracer.span(s"job.$ml", "round.jobs")(Pipeline.run(spark, w.pipe, stub, ml, workDir))
          jobSamples(ml) += (now - t0) / 1e9
        } catch {
          case NonFatal(e) => jobErrors(s"$ml round $r") = Queries.describe(e)
        }
        stubPerJob += Map(
          "stub.label_requests_per_tile" -> stub.labelCounters.requests.get.toDouble / tiles,
          "stub.image_requests_per_tile" -> stub.imageCounters.requests.get.toDouble / tiles,
          "stub.inflight_max" -> math.max(stub.labelCounters.inflightMax.get, stub.imageCounters.inflightMax.get).toDouble,
          "stub.bytes_served" -> (stub.labelCounters.bytes.get + stub.imageCounters.bytes.get).toDouble)
      }
      def queryRound(r: Int): Unit = { System.gc(); queries.round(shuffled(w.queries, seed, 1000 + r), tracer) }

      // untimed warm-up: one round of jobs and one of queries. Jobs whose
      // sink writes nothing keep the digests of their warm-up output for
      // the output check.
      if (w.pipe.imagery) shuffled(Pipeline.MlTypes, seed, -1).foreach { ml =>
        try digests(ml) = Pipeline.digests(spark, w.pipe, stub, ml)
        catch { case NonFatal(e) => jobErrors(s"$ml warm-up") = Queries.describe(e) }
      }
      else pipeRound(-1)
      phase("warmup.jobs")
      queryRound(-1)
      phase("warmup.queries")
      jobSamples.values.foreach(_.clear())
      queries.clearSamples()
      stubPerJob.clear()
      val liveHeap = collection.mutable.ArrayBuffer[Double]()
      if (!trace) {
        // 40% of the window for jobs, 60% for queries, at least two rounds
        // each; a further round starts only if the last one would still fit.
        // The live heap is taken after the first two rounds of each, so it
        // follows the same work on every run.
        def rounds(share: Double)(round: Int => Unit): Unit = {
          val end = now + (seconds * share * 1e9).toLong
          var (r, last) = (0, 0L)
          while (r < 2 || now + last < end) {
            val t0 = now
            round(r)
            last = now - t0
            r += 1
            if (r == 2) liveHeap += Heap.liveMb(spark)
          }
        }
        rounds(0.4)(pipeRound)
        phase("timed.jobs")
        rounds(0.6)(queryRound)
        phase("timed.queries")
      } else {
        val (perLayer, split) = traced(spark, w, stub, workDir, tracer, () => pipeRound(0), () => queryRound(0),
          jobSamples, queries, stubPerJob)
        result("per_layer") = perLayer
        result("split") = split
        phase("traced")
      }
      // the larger live heap of the two after the jobs' and the queries' rounds
      if (liveHeap.isEmpty) liveHeap += Heap.liveMb(spark)
      result("heap_live_mb") = liveHeap.max
      result("jobs") = jobSamples.map { case (k, v) => k -> v.toSeq }
      result("queries") = queries.samples.map { case (k, v) => k -> v.toSeq }
      result("query_build_s") = queries.buildSeconds.toSeq

      // output check, outside every timed window
      val checks = Pipeline.MlTypes.map { ml =>
        ml -> (try Pipeline.check(spark, w.pipe, stub.payloads, ml, workDir, digests.get(ml))
          catch { case NonFatal(e) => (Seq(s"check failed: ${Queries.describe(e)}"), Double.NaN) })
      }.toMap
      result("job_problems") = checks.map { case (k, v) => k -> (v._1.take(5) ++ jobErrors.collect {
        case (at, msg) if at.startsWith(k + " ") => s"$at threw $msg" }) }
      result("job_failed") = checks.count(_._2._1.nonEmpty) + jobErrors.size
      result("job_errors") = jobErrors.size
      result("out_bytes_per_tile") = checks.values.map(_._2).filterNot(_.isNaN).sum / checks.size
      result("query_errors") = queries.errors.toMap
      queries.writeResults(new java.io.File(workDir, "results"))
      phase("check")
      result("phases") = phases
    } finally {
      stub.stop()
      spark.stop()
    }
    Json.write(new java.io.File(workDir, "jvm.json"), result)
  }

  /** The traced run: one untraced and one traced round of the workload
    * (their ratio is the tracing overhead), then the pipeline's stage
    * prefixes and single-thread kernels. Returns the per-layer metrics,
    * and for diagnostics the traced round's counters split into its jobs
    * and its queries, plus the raw prefix times. */
  private def traced(spark: SparkSession, w: Workload, stub: Stub, workDir: java.io.File, tracer: Tracer,
      pipeRound: () => Unit, queryRound: () => Unit,
      jobSamples: Map[String, collection.mutable.ArrayBuffer[Double]], queries: Queries,
      stubPerJob: collection.mutable.ArrayBuffer[Map[String, Double]])
      : (Map[String, Double], Map[String, Map[String, Double]]) = {
    def total = jobSamples.values.flatten.sum + queries.samples.values.flatten.sum
    pipeRound(); queryRound()
    val untraced = total
    val (pipeProbe, queryProbe) = (new Probe(spark), new Probe(spark))
    tracer.on = true
    def probed(probe: Probe, name: String)(round: () => Unit): Double = {
      val t0 = now
      probe.install()
      tracer.span(name, "run")(round())
      probe.remove()
      (now - t0) / 1e9
    }
    val pipeWall = probed(pipeProbe, "round.jobs")(pipeRound)
    val queryWall = probed(queryProbe, "round.queries")(queryRound)
    val traced = total - untraced
    val both = Seq(pipeProbe, queryProbe)
    def sum(k: String) = both.map(_.value(k)).sum
    val sparkKeys = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.gc_s", "spark.plan_s",
      "spark.execute_s", "spark.exchanges", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
      "spark.spill_bytes", "spark.scan_bytes", "spark.scan_rows")
    def busy(taskMs: Double, wall: Double) = taskMs / 1000.0 / (wall * Session.cores)
    val buildSeconds = queries.buildSeconds.takeRight(w.queries.size).sum
    def half(probe: Probe, wall: Double) = sparkKeys.map(k => k -> probe.value(k)).toMap ++ Map(
      "wall_s" -> wall, "spark.task_busy_frac" -> busy(probe.value("task_run_ms"), wall))
    val streaming = Seq("streaming.batches", "streaming.commit_ms", "streaming.state_rows",
      "streaming.state_memory_bytes").map(k => k -> queryProbe.value(k))
    val stubLast = stubPerJob.takeRight(Pipeline.MlTypes.size)
    val stubMetrics = stubLast.head.keys.map(k => k -> stubLast.map(_(k)).sum / stubLast.size)
    val (layers, prefixes) = Pipeline.prefixTimes(spark, w.pipe, stub, workDir, tracer)
    val kernels = Pipeline.kernelTimes(spark, w.pipe, stub)
    tracer.write(new java.io.File(workDir, "spans.json"))
    val perLayer = (sparkKeys.map(k => k -> sum(k)) ++ streaming ++ stubMetrics ++ layers ++ kernels ++ Seq(
      "operators.TileEnumeration.range_scans" -> pipeProbe.value("operators.TileEnumeration.range_scans") / Pipeline.MlTypes.size,
      "spark.cached_bytes_peak" -> both.map(_.value("spark.cached_bytes_peak")).max,
      "spark.task_busy_frac" -> busy(sum("task_run_ms"), pipeWall + queryWall),
      "queries.build_s" -> buildSeconds,
      "trace.overhead_frac" -> (traced / untraced - 1))).toMap
    val split = Map(
      "jobs" -> half(pipeProbe, pipeWall),
      "queries" -> (half(queryProbe, queryWall) + ("queries.build_s" -> buildSeconds)),
      "prefixes" -> prefixes)
    (perLayer, split)
  }
}
