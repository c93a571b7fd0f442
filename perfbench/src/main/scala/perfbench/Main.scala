package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark of the engine: one process, one client, the next
  * job starts when the previous one ends.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--cpus <n>]
  *
  * Prints human-readable lines, then one JSON object as the last line of
  * stdout. Exits 1 when a correctness gate fails. */
object Main {
  /** Sessions built per run; set-up time is their median. */
  val Setups = 3
  /** Untimed jobs before the timed loop, for at least `WarmupS` seconds and
    * `WarmupJobs` jobs: per-job CPU keeps falling for the first few jobs
    * while the JIT compiles the engine's hot paths. */
  val WarmupS = 4.0
  val WarmupJobs = 5

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path, cpus: Int)

  val EndToEnd = Seq("setup_s" -> "s", "rows_per_s" -> "rows/s", "cpu_s_per_job" -> "s")

  /** Every layer metric, reported on every workload; see [[traced]] for
    * the layers a workload never calls. */
  val PerLayer: Seq[(String, String)] = Seq(
    "setup.first_s" -> "s", "host.peak_rss_mb" -> "MiB",
    "pipeline.imagegen_s" -> "s",
    "index.cover_cells" -> "count", "index.hex_cell_ns" -> "ns", "index.s2_share" -> "ratio",
    "join.pip_candidates" -> "count", "join.pip_hits" -> "count", "join.pip_refine_ratio" -> "ratio",
    "join.pip_s" -> "s", "join.tiles_s" -> "s", "join.knn_jobs" -> "count",
    "algo.contains_ns" -> "ns",
    "codec.parse_ns" -> "ns", "codec.render_ns" -> "ns",
    "sql.parse_s" -> "s", "sql.fastparse_ns" -> "ns",
    "sql.ops_outside_codegen" -> "count", "sql.fallback_exprs" -> "count",
    "sources.read_s" -> "s", "sources.write_s" -> "s", "sources.out_in_ratio" -> "ratio",
    "streams.map_s" -> "s",
    "query.analysis_s" -> "s", "query.optimization_s" -> "s", "query.planning_s" -> "s",
    "query.jobs" -> "count", "query.stages" -> "count", "query.tasks" -> "count",
    "query.in_jobs_s" -> "s", "query.driver_gap_s" -> "s",
    "query.executor_run_s" -> "s", "query.executor_cpu_s" -> "s", "query.gc_s" -> "s",
    "query.shuffle_write_bytes" -> "bytes", "query.shuffle_read_bytes" -> "bytes",
    "query.spill_bytes" -> "bytes", "query.task_skew" -> "ratio",
    "host.canary_s" -> "s", "host.steal_frac" -> "ratio", "host.jit_s" -> "s",
    "trace.delta_rows_per_s" -> "rows/s")

  def parseArgs(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, m.get("cpus").map(_.toInt).getOrElse(4))
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class JobSample(wallS: Double, cpuS: Double, jitS: Double, spanId: Long)

  /** Run jobs back to back until `seconds` have passed (at least `minJobs`). */
  def loop(spark: SparkSession, wl: Workload, t: Tracer, seconds: Double, minJobs: Int,
           canaries: ArrayBuffer[Double]): (Seq[JobSample], Int) = {
    val out = ArrayBuffer.empty[JobSample]
    var failed = 0
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || out.size + failed < minJobs) {
      if (t.enabled) canaries += Host.canaryS()
      val c0 = Host.cpuS(); val j0 = Host.jitS(); val t0 = System.nanoTime()
      try {
        val id = t.span("job") { wl.job(spark, t); t.current }
        out += JobSample((System.nanoTime() - t0) / 1e9, Host.cpuS() - c0, Host.jitS() - j0, id)
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"job failed: $e")
      }
      if (t.enabled) canaries += Host.canaryS()
    }
    (out.toSeq, failed)
  }

  def fmt(v: Double): String = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def main(args: Array[String]): Unit = {
    val o = parseArgs(args)
    val code = try run(o) catch {
      case e: Throwable =>
        e.printStackTrace()
        2
    }
    System.exit(code)
  }

  def run(o: Opts): Int = {
    val wl = Workload.named(o.workload, o.seed, o.cpus, o.work)
    val tracer = new Tracer(s"${o.workload}-${o.seed}-${if (o.trace) "traced" else "untraced"}")
    val prepareS = Host.timeS(wl.prepare())

    // set-up: session, function registration, per-session inputs, cold job
    var spark: SparkSession = null
    val setups = (1 to Setups).map { _ =>
      if (spark != null) spark.stop()
      Host.timeS {
        spark = session(o)
        graft.geo.sql.GeoFunctions.register(spark)
        wl.open(spark)
        wl.job(spark, tracer)
      }
    }

    var problems = Seq.empty[String]
    val checkS = Host.timeS { problems = wl.check(spark) }
    problems.foreach(p => System.err.println(s"CORRECTNESS: $p"))

    val canaries = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val (warm, warmFailed) = loop(spark, wl, tracer, WarmupS, minJobs = WarmupJobs, canaries)
    val warmS = (System.nanoTime() - t0) / 1e9
    val (jobs, failed, layerMetrics) =
      if (!o.trace) {
        val (js, f) = loop(spark, wl, tracer, o.seconds, minJobs = 3, canaries)
        (js, f, Map.empty[String, Double])
      } else traced(spark, wl, tracer, o, canaries, setups.head)

    val rowsPerS = Host.median(jobs.map(j => wl.rowsPerJob / j.wallS))
    val e2e = Map(
      "setup_s" -> Host.median(setups),
      "rows_per_s" -> rowsPerS,
      "cpu_s_per_job" -> Host.median(jobs.map(_.cpuS)))
    val attempted = warm.size + warmFailed + jobs.size + failed
    val allFailed = warmFailed + failed
    println(f"${o.workload} seed=${o.seed}: ${jobs.size} timed jobs, median ${Host.median(jobs.map(_.wallS))}%.3f s")
    println(f"  phases           prepare $prepareS%.1f s, set-ups ${setups.map(x => f"$x%.1f").mkString("/")} s, " +
      f"check $checkS%.1f s, warm-up $warmS%.1f s (${warm.size} jobs)")
    println("  job wall s       " + jobs.map(j => f"${j.wallS}%.3f").mkString(" "))
    println("  job cpu s        " + jobs.map(j => f"${j.cpuS}%.2f").mkString(" "))
    println("  job jit s        " + jobs.map(j => f"${j.jitS}%.2f").mkString(" "))
    EndToEnd.foreach { case (n, u) => println(f"  $n%-16s ${e2e(n)}%14.4f $u") }
    println(f"  peak_rss_mb      ${Host.peakRssMb()}%14.4f MiB")
    println(f"  error_rate       ${allFailed.toDouble / math.max(1, attempted)}%14.4f ($allFailed/$attempted jobs failed)")
    println(s"  correctness      ${if (problems.isEmpty) "ok" else problems.mkString("; ")}")
    spark.stop()

    val metrics =
      if (!o.trace) EndToEnd.map { case (n, u) => n -> (e2e(n), u) }
      else PerLayer.map { case (n, u) => n -> (layerMetrics.getOrElse(n, 0.0), u) }
    if (o.trace) metrics.foreach { case (n, (v, u)) => println(f"  $n%-26s ${v}%16.4f $u") }
    val body = metrics.map { case (n, (v, u)) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
    val correct = problems.isEmpty && allFailed == 0
    println(s"""{"correct": $correct, "attempted": ${math.max(1, attempted)}, "failed": $allFailed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
    if (correct) 0 else 1
  }

  /** The traced run: half the time untraced, half traced (the difference is
    * the tracing overhead), then the workload's prefix chains and kernels.
    * Time metrics of layers the workload never calls come from
    * [[Workload.probes]], so every layer has a measured reading; counts and
    * ratios of those layers read 0. */
  def traced(spark: SparkSession, wl: Workload, tracer: Tracer, o: Opts,
             canaries: ArrayBuffer[Double], firstSetupS: Double): (Seq[JobSample], Int, Map[String, Double]) = {
    val (plain, f1) = loop(spark, wl, tracer, o.seconds / 2.0, minJobs = 2, canaries)
    val probe = new QueryProbe(tracer)
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
    val sc = spark.sparkContext
    tracer.onSwitch = id => sc.setLocalProperty(QueryProbe.SpanProperty, if (id == 0L) null else id.toString)
    tracer.enabled = true
    val (steal0, total0) = Host.stealJiffies()
    val (jobs, f2) = loop(spark, wl, tracer, o.seconds / 2.0, minJobs = 2, canaries)
    val (steal1, total1) = Host.stealJiffies()
    probe.drain()
    tracer.enabled = false
    spark.listenerManager.unregister(probe)
    sc.removeSparkListener(probe)
    sc.setLocalProperty(QueryProbe.SpanProperty, null)

    val qs = jobs.map(j => j.spanId -> probe.statsFor(j.spanId)).toMap
    val perJob = math.max(1, jobs.size).toDouble
    def med(f: QueryStats => Double) = Host.median(jobs.map(j => f(qs(j.spanId))))
    val qeCount = math.max(1, probe.qeCount).toDouble
    tracer.write(o.work.resolve("traces").resolve(s"${tracer.runId}.jsonl"))
    tracer.selfTimes.toSeq.sortBy(-_._2).foreach { case (n, s) => println(f"  span self time $n%-22s $s%10.4f s") }

    val timeUnits = Set("s", "ns")
    val foreign = Workload.probes(wl.name, o.seed, o.cpus, o.work, spark, tracer)
      .filter { case (n, _) => PerLayer.exists { case (m, u) => m == n && timeUnits(u) } }
    val layer = foreign ++ wl.layers(spark, tracer)

    val rows = wl.rowsPerJob.toDouble
    val untracedRate = Host.median(plain.map(j => rows / j.wallS))
    val tracedRate = Host.median(jobs.map(j => rows / j.wallS))
    val m = Map(
      "sql.ops_outside_codegen" -> probe.opsOutsideCodegen / qeCount,
      "sql.fallback_exprs" -> probe.fallbackExprs / qeCount,
      "query.analysis_s" -> (probe.analysisS + tracer.analysisS) / perJob,
      "query.optimization_s" -> probe.optimizationS / perJob,
      "query.planning_s" -> probe.planningS / perJob,
      "setup.first_s" -> firstSetupS,
      "host.peak_rss_mb" -> Host.peakRssMb(),
      "query.jobs" -> med(_.jobs), "query.stages" -> med(_.stages), "query.tasks" -> med(_.tasks),
      "query.in_jobs_s" -> med(_.inJobsS),
      "query.driver_gap_s" -> Host.median(jobs.map(j => j.wallS - qs(j.spanId).inJobsS)),
      "query.executor_run_s" -> med(_.execRunS), "query.executor_cpu_s" -> med(_.execCpuS),
      "query.gc_s" -> med(_.gcS),
      "query.shuffle_write_bytes" -> med(_.shuffleWrite), "query.shuffle_read_bytes" -> med(_.shuffleRead),
      "query.spill_bytes" -> med(_.spill), "query.task_skew" -> med(_.taskSkew),
      "host.canary_s" -> Host.median(canaries.toSeq),
      "host.jit_s" -> Host.median(jobs.map(_.jitS)),
      "host.steal_frac" -> (if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0),
      "trace.delta_rows_per_s" -> (tracedRate - untracedRate)) ++
      (if (wl.name == "knn_rounds") Map("join.knn_jobs" -> med(_.jobs)) else Map.empty) ++ layer
    (plain ++ jobs, f1 + f2, m)
  }
}
