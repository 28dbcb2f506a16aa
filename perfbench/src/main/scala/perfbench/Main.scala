package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs one workload with one seed and prints every
  * metric by name with its unit; the last stdout line is the result JSON.
  * Launched by `perfbench/run.py`, which builds the classpath and sizes the
  * JVM from the host. Exit status 1 means an output check failed.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, out: String, cores: Int, heapMb: Long, spawnMs: Long,
      expected: String, inject: Set[String])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("out"), need("cores").toInt, need("heap-mb").toLong,
      need("spawn-ms").toLong, need("expected"),
      m.get("inject").map(_.split(",").toSet).getOrElse(Set.empty))
  }

  val Workloads = Seq("extract_resumable", "query_suite")

  /** End-to-end metrics and their units; every run reports all of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "pass_s" -> "s", "cpu_s" -> "s", "setup_s" -> "s")

  private val taskMetrics = Seq("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "gc_s", "idle_core_s", "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")

  /** Per-layer metrics; every traced run reports all of them, 0 where the
    * workload does not reach the layer. */
  val PerLayer: Seq[String] =
    KernelProbe.MetricNames ++
      Seq("pipeline.run_s", "pipeline.done_groups_s", "pipeline.overwrite_group_s",
        "pipeline.commit_group_s", "pipeline.groups", "pipeline.group_skew") ++
      taskMetrics.map("pipeline." + _) ++
      Seq("pipeline.scan_amplification", "pipeline.cached_bytes", "pipeline.output_bytes",
        "pipeline.output_files", "pipeline.output_bytes_per_doc", "pipeline.task_skew",
        "pipeline.reconcile_share") ++
      Seq("operators.query_p50_s", "operators.build_s", "operators.plan_s", "operators.exec_s",
        "operators.analysis_s",
        "operators.optimization_s", "operators.planning_s", "operators.codegen_compile_s",
        "operators.codegen_compiles", "operators.reconcile_share") ++
      taskMetrics.map("operators." + _) ++
      Seq("ExtractOps", "RetrievalOps", "EvalOps", "FeedbackOps", "RelationalOps", "DedupOps",
        "SimilarityOps", "TextAnalysisOps", "MultimodalOps", "CorpusOps")
        .flatMap(m => Seq(s"operators.$m.s", s"operators.$m.cpu_s")) ++
      Seq("trace.pass_s", "trace.spans", "jvm.peak_rss_mb")

  def unitOf(name: String): String =
    if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_bytes") || name.endsWith("_per_doc")) "B"
    else if (name.endsWith("_skew") || name.endsWith("_share") || name.endsWith("amplification")) "ratio"
    else "count"

  private def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  def processCpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => sys.error("process CPU time is not available on this JVM")
  }

  private def peakRssMb: Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    val kb = status.linesIterator.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble)
    kb.getOrElse(sys.error("no VmHWM in /proc/self/status")) / 1024.0
  }

  /** Seconds the hypervisor gave this VM's CPUs to others (/proc/stat steal). */
  private def stealSeconds: Double = {
    val cpu = new String(Files.readAllBytes(Paths.get("/proc/stat")), "UTF-8").linesIterator.next()
    cpu.split("\\s+")(8).toDouble / 100
  }

  private def loadavg1m: String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").split(" ")(0)

  private def session(o: Opts): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.ui.enabled", "false") // no web UI port; run.py sets SPARK_LOCAL_DIRS
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
    if (o.workload == "extract_resumable") {
      // the session ExtractMain builds, with the extensions the README's
      // spark-submit line passes; Spark defaults otherwise
      b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.extensions", "graft.GraftExtensions")
    } else {
      // the graft.Bench session, sized to this host
      b.withExtensions(new graft.GraftExtensions)
        .config("spark.sql.shuffle.partitions", o.cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) sys.error(s"non-finite metric value $x") else java.lang.Double.toString(x)

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}; one of ${Workloads.mkString(", ")}")
    val trace = new Trace(o.trace)
    val verdict = new Verdict
    val runSpan = trace.open("run")
    val mainMs = System.currentTimeMillis()
    val spark = session(o)
    val sessionMs = System.currentTimeMillis()
    val totals = if (o.trace) Some(new TaskTotals) else None
    val phases = if (o.trace) Some(new PhaseTotals) else None
    val scanned = if (o.trace) Some(new ScanTotals(s"${o.work}/resumable-in")) else None
    totals.foreach(spark.sparkContext.addSparkListener)
    phases.foreach(spark.listenerManager.register)
    scanned.foreach(spark.listenerManager.register)

    val w: Workload = o.workload match {
      case "extract_resumable" => new ResumableExtract(spark, o.work, o.seed, trace, verdict, o.inject)
      case _ => new QuerySuite(spark, o.work, o.seed, trace, verdict, o.inject, o.expected, totals)
    }
    val workloadSpan = trace.open("workload")
    w.inputs()
    val inputsMs = System.currentTimeMillis()
    w.warmUp()
    val setupS = (System.currentTimeMillis() - o.spawnMs) / 1e3
    println(f"setup jvm_s=${(mainMs - o.spawnMs) / 1e3}%.3f session_s=${(sessionMs - mainMs) / 1e3}%.3f " +
      f"inputs_s=${(inputsMs - sessionMs) / 1e3}%.3f warmup_s=${setupS - (inputsMs - o.spawnMs) / 1e3}%.3f")

    def setTotalsActive(on: Boolean): Unit = totals.foreach { t =>
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      t.active = on
      scanned.foreach(_.active = on)
    }
    // measured phase: passes until --seconds have been measured, at least minPasses
    totals.foreach { t => org.apache.spark.BenchBus.drain(spark.sparkContext); t.reset() }
    phases.foreach(_.reset())
    scanned.foreach(_.reset()) // the extraction warm-up scans the same table
    val compiles0 = Codegen.compiles
    val passes = mutable.ArrayBuffer.empty[(PassResult, OpTime)]
    val steal0 = stealSeconds
    while (passes.size < w.minPasses || passes.map(_._2.wallS).sum < o.seconds) {
      passes += OpTime.of("pass")(trace.span("pass")(w.pass(passes.size)))
      // checks run untimed and outside the listener totals
      setTotalsActive(false)
      trace.span("check")(w.checkPass(passes.size - 1))
      setTotalsActive(true)
    }
    val stolen = stealSeconds - steal0
    setTotalsActive(false)
    trace.close(workloadSpan)

    val attempted = passes.map(_._1.attempted).sum
    val failed = passes.map(_._1.failed).sum
    // Each operation of a pass at its fastest over the run's passes: a
    // co-tenant's burst, a GC pause or a JIT compile slows single operations.
    val byOp = passes.flatMap(_._1.ops).groupBy(_.name).values.toSeq
    val e2e = Map(
      "pass_s" -> byOp.map(_.map(_.wallS).min).sum,
      "cpu_s" -> byOp.map(_.map(_.cpuS).min).sum,
      "setup_s" -> setupS)

    val layers: Map[String, Double] = if (!o.trace) Map.empty else {
      val measured = passes.map(_._2.wallS).sum
      val t = totals.get // inactive since the checks: the probe's jobs are not counted
      val probe = if (o.workload == "query_suite") Map.empty[String, Double]
        else trace.span("probe")(KernelProbe.run(spark, s"${o.work}/resumable-in"))
      val tm = Map(
        "jobs" -> t.jobs.toDouble, "stages" -> t.stages.toDouble, "tasks" -> t.tasks.toDouble,
        "executor_run_s" -> t.runMs / 1e3, "executor_cpu_s" -> t.cpuNs / 1e9, "gc_s" -> t.gcMs / 1e3,
        "idle_core_s" -> (measured * o.cores - t.runMs / 1e3),
        "input_bytes" -> t.inputBytes.toDouble, "shuffle_write_bytes" -> t.shuffleWrite.toDouble,
        "shuffle_read_bytes" -> t.shuffleRead.toDouble, "spill_bytes" -> t.spill.toDouble)
      val self = trace.selfTimes
      val layer = if (o.workload == "query_suite") {
        val q = w.asInstanceOf[QuerySuite]
        val queryWall = trace.total("query")
        val parts = trace.total("build") + trace.total("plan") + trace.total("exec")
        tm.map { case (k, x) => s"operators.$k" -> x } ++ Map(
          // median over queries of each query's fastest latency across passes
          "operators.query_p50_s" -> median(byOp.map(_.map(_.wallS).min)),
          "operators.build_s" -> trace.total("build"), "operators.plan_s" -> trace.total("plan"),
          "operators.exec_s" -> trace.total("exec"),
          "operators.analysis_s" -> phases.get.seconds("analysis"),
          "operators.optimization_s" -> phases.get.seconds("optimization"),
          "operators.planning_s" -> phases.get.seconds("planning"),
          "operators.codegen_compile_s" -> (Codegen.compiles - compiles0) * Codegen.meanSeconds,
          "operators.codegen_compiles" -> (Codegen.compiles - compiles0).toDouble,
          "operators.reconcile_share" -> (if (queryWall > 0) parts / queryWall else 0.0)) ++
          q.modules.flatMap(m => Seq(s"operators.$m.s" -> q.moduleSeconds(m),
            s"operators.$m.cpu_s" -> q.moduleCpu(m)))
      } else {
        val run = trace.total("call")
        val parts = trace.total("done_groups") + trace.total("overwrite") + trace.total("commit")
        tm.map { case (k, x) => s"pipeline.$k" -> x } ++ probe ++ Map(
          "pipeline.run_s" -> run, "pipeline.done_groups_s" -> trace.total("done_groups"),
          "pipeline.overwrite_group_s" -> trace.total("overwrite"),
          "pipeline.commit_group_s" -> trace.total("commit"),
          "pipeline.scan_amplification" ->
            scanned.get.bytes.toDouble / dirBytes(s"${o.work}/resumable-in/documents.parquet"),
          "pipeline.cached_bytes" -> t.cachedBytes.toDouble,
          "pipeline.task_skew" -> t.taskSkew,
          "pipeline.reconcile_share" -> (if (run > 0) parts / run else 0.0)) ++
          w.asInstanceOf[ResumableExtract].layerMetrics
      }
      trace.close(runSpan)
      val all = PerLayer.map(n => n -> 0.0).toMap ++ layer ++
        Map("trace.pass_s" -> e2e("pass_s"), "trace.spans" -> trace.closed.size.toDouble,
          "jvm.peak_rss_mb" -> peakRssMb)
      require(all.keySet == PerLayer.toSet, s"undeclared per-layer metrics: ${all.keySet -- PerLayer}")
      Files.writeString(Paths.get(s"${o.out}/trace-${o.workload}-${o.seed}.json"), trace.toJson)
      self.foreach { case (n, s) => println(f"self-time  $n%-14s $s%10.3f s") }
      all
    }
    spark.stop()

    val metrics: Seq[(String, Double, String)] =
      if (o.trace) PerLayer.map(n => (n, layers(n), unitOf(n)))
      else EndToEnd.map { case (n, u) => (n, e2e(n), u) }
    val hostLine = s"host cores=${o.cores} heap_mb=${o.heapMb} loadavg_1m=$loadavg1m " +
      f"steal_s=$stolen%.2f " +
      s"workload=${o.workload} seed=${o.seed} passes=${passes.size} trace=${if (o.trace) 1 else 0}"
    println(hostLine)
    passes.zipWithIndex.foreach { case ((r, t), i) =>
      println(f"pass $i%d wall_s=${t.wallS}%.3f cpu_s=${t.cpuS}%.3f ops=${r.ops.size}%d failed=${r.failed}%d")
    }
    verdict.failureClasses.foreach { case (c, n) => println(s"failure class=$c count=$n") }
    verdict.problems.foreach(p => println(s"check FAILED: $p"))
    metrics.foreach { case (n, x, u) => println(f"metric $n%-34s ${num(x)}%s $u") }
    val json = s"""{"correct": ${verdict.correct}, "attempted": $attempted, "failed": $failed, """ +
      metrics.map { case (n, x, u) => s"${quote(n)}: {${quote("value")}: ${num(x)}, ${quote("unit")}: ${quote(u)}}" }
        .mkString("\"metrics\": {", ", ", "}}")
    Files.writeString(Paths.get(s"${o.out}/result-${o.workload}-${o.seed}-trace${if (o.trace) 1 else 0}.txt"),
      hostLine + "\n" + json + "\n")
    println(json)
    System.out.flush()
    sys.exit(if (verdict.correct) 0 else 1)
  }
}
