package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.util.GraftSession

/** Benchmark main: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`. One JVM, one session at local[N], one workload run as a
  * closed loop for `--seconds`. Prints a record line, then the result line:
  * the end-to-end metrics untraced, or with `--trace 1` the per-layer
  * metrics, from cycles that alternate untraced and traced. */
object Main {
  /** End-to-end metrics: name -> unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ref_rows_per_s" -> "rows/s", "ref_cycle_s" -> "s", "peak_rss_mb" -> "MB")

  /** Per-layer metrics: name -> unit. */
  val PerLayer: Seq[(String, String)] = Seq(
    "core.cover_ns" -> "ns", "core.contains_point_ns" -> "ns",
    "functions.shingle_hashes_ns" -> "ns", "functions.argmin_l2_ns" -> "ns",
    "operators.exec_run_s" -> "s", "operators.wait_ms" -> "ms",
    "operators.shuffle_write_bytes" -> "bytes", "operators.spill_bytes" -> "bytes",
    "operators.gc_ratio" -> "ratio", "operators.task_skew" -> "ratio",
    "operators.output_ratio" -> "ratio",
    "plans.jobs" -> "count", "plans.stages" -> "count", "plans.tasks" -> "count",
    "plans.exchanges" -> "count", "plans.planning_ms" -> "ms",
    "plans.codegen_fallback_nodes" -> "count",
    "sources.parts_read_ratio" -> "ratio", "sources.scan_jobs" -> "count",
    "sources.metadata_files_written" -> "count", "sources.metadata_bytes_written" -> "bytes",
    "sources.data_bytes_written" -> "bytes",
    "jobs.buckets_rewritten" -> "count", "jobs.buckets_skipped" -> "count",
    "jobs.spark_jobs" -> "count", "jobs.spill_bytes" -> "bytes",
    "util.cache_release_ms" -> "ms", "util.peak_storage_bytes" -> "bytes",
    "bench.input_gen_s" -> "s", "bench.trace_overhead_ratio" -> "ratio",
    "host.cpu_loop_ms" -> "ms", "host.one_stage_job_ms" -> "ms", "host.speed_probe_ms" -> "ms")

  /** Set-up repetitions; `setup_s` takes their median. */
  val Prepares = 3
  /** Full cycles run in set-up before timing starts. */
  val WarmCycles = 3
  /** Cycles measured however long they take. */
  val MinCycles = 3
  /** Host-speed probes before every set-up step and cycle; the fastest of
    * them counts, so JIT, GC or Spark cleanup still running from the step
    * before does not. */
  val ProbesPerStep = 3
  /** Untimed passes of the host-speed probe before its first timed one. */
  val ProbeWarmups = 10
  /** Probe steps whose mean gives the run's host speed: the fastest ones. */
  val ProbeFastest = 3
  /** Seconds one probe pass takes on the reference host: end-to-end times
    * are reported as they would read there, i.e. scaled by RefProbeS over
    * the run's probe time. */
  val RefProbeS = 0.05

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val workDir = Paths.get(opt("work")).toAbsolutePath
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val t0 = System.nanoTime()
    val spark = GraftSession.build("perfbench")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val cpus = spark.sparkContext.defaultParallelism
    val tracer = new Tracer(spark, t0)
    val ctx = new Ctx(spark, tracer, seed, cpus, workDir)
    val wl = Workload(workload, ctx)

    def secs(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    // the host-speed probe runs between set-up steps and before every cycle
    val probe = new Probes.SpeedProbe(cpus)
    (1 to ProbeWarmups).foreach(_ => probe())
    val probeS = ArrayBuffer[Double]()
    def probed[T](f: => T): T = { probeS += (1 to ProbesPerStep).map(_ => probe()).min; f }
    val prepareS = (1 to Prepares).map(_ => probed(secs(wl.prepare())))
    // full-size cycles, so most JIT and codegen warm-up ends inside set-up
    val warmS = (1 to WarmCycles).map(w => probed(secs(wl.cycle(-w))))
    wl.discardSamples()
    val setupS = sessionS + Stats.median(prepareS) + warmS.sum

    // closed loop; with tracing, odd cycles are traced and even ones are not
    val cycleS = new Samples
    val perCycle = ArrayBuffer[Map[String, Double]]()
    val cpuTicks0 = cpuTicks()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0
    while (k < MinCycles || System.nanoTime() < end) {
      tracer.on = trace && k % 2 == 1
      tracer.run = k
      ctx.releaseS = 0.0
      val wall = probed(secs(wl.cycle(k)))
      cycleS.add(tracer.on, wall)
      if (tracer.on) {
        val c = tracer.runCost(k)
        perCycle += Map(
          "operators.exec_run_s" -> c.runMs / 1000.0,
          "operators.wait_ms" -> (wall * 1000 * cpus - c.runMs),
          "operators.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
          "operators.spill_bytes" -> c.spillBytes.toDouble,
          "operators.gc_ratio" -> c.gcMs.toDouble / math.max(1L, c.runMs),
          "operators.task_skew" -> c.taskSkew,
          "plans.jobs" -> c.jobs.toDouble, "plans.stages" -> c.stages.toDouble,
          "plans.tasks" -> c.tasks.toDouble, "plans.exchanges" -> c.exchanges.toDouble,
          "plans.planning_ms" -> c.planningMs.toDouble,
          "plans.codegen_fallback_nodes" -> c.fallbackNodes.toDouble,
          "util.cache_release_ms" -> ctx.releaseS * 1000)
      }
      k += 1
    }
    tracer.on = false
    probe.shutdown()
    // times at the reference host's speed: scaled by how much longer than
    // RefProbeS the probe took in this run. The run's own JIT, GC and Spark
    // threads only ever slow a probe down, so the fastest steps show the
    // host's speed best.
    val probeHostS = probeS.sorted.take(ProbeFastest).sum / ProbeFastest
    val toRef = RefProbeS / probeHostS
    val stealShare = {
      val d = cpuTicks().zip(cpuTicks0).map { case (a, b) => a - b }
      d.lift(7).getOrElse(0L).toDouble / math.max(1L, d.sum)
    }

    val host = Probes.host(spark, cpus)
    val rssMb = peakRssMb()
    val endToEnd = Map(
      "setup_s" -> setupS * toRef, "ref_rows_per_s" -> wl.rowsPerS.median / toRef,
      "ref_cycle_s" -> cycleS.median * toRef, "peak_rss_mb" -> rssMb)
    val raw = Map("setup_s" -> setupS, "rows_per_s" -> wl.rowsPerS.median,
      "cycle_s" -> cycleS.median)

    // per-call breakdown of traced spans, by span name
    val calls = tracer.spans.groupBy(_.name).map { case (name, ss) =>
      val costs = ss.map(tracer.inclusive)
      name -> Map("count" -> ss.size, "median_s" -> Stats.median(ss.map(_.seconds).toSeq),
        "median_jobs" -> Stats.median(costs.map(_.jobs.toDouble).toSeq),
        "median_run_ms" -> Stats.median(costs.map(_.runMs.toDouble).toSeq),
        "median_gc_ms" -> Stats.median(costs.map(_.gcMs.toDouble).toSeq),
        "median_spill_bytes" -> Stats.median(costs.map(_.spillBytes.toDouble).toSeq),
        "median_shuffle_write_bytes" -> Stats.median(costs.map(_.shuffleWriteBytes.toDouble).toSeq),
        "median_exchanges" -> Stats.median(costs.map(_.exchanges.toDouble).toSeq),
        "median_planning_ms" -> Stats.median(costs.map(_.planningMs.toDouble).toSeq),
        "max_task_skew" -> costs.map(_.taskSkew).max)
    }
    def callMedian(name: String, field: String): Double = calls.get(name)
      .map(_(field).asInstanceOf[Double]).getOrElse(0.0)

    val perLayer: Map[String, Double] = if (!trace) Map.empty else {
      val layerVals = PerLayer.map(_._1).filter(n => perCycle.exists(_.contains(n)))
        .map(n => n -> Stats.median(perCycle.map(_(n)).toSeq)).toMap
      val defaults = PerLayer.map(_._1 -> 0.0).toMap
      defaults ++ layerVals ++ Probes.kernels(seed) ++ host ++ wl.layers ++ Map(
        "operators.output_ratio" -> wl.outputRatio,
        "sources.scan_jobs" -> callMedian("sources.scan", "median_jobs"),
        "jobs.spark_jobs" -> callMedian("jobs.ingest", "median_jobs"),
        "jobs.spill_bytes" -> callMedian("jobs.ingest", "median_spill_bytes"),
        "jobs.gc_ms" -> callMedian("jobs.ingest", "median_gc_ms"),
        "util.peak_storage_bytes" -> ctx.peakStorageBytes.toDouble,
        "bench.input_gen_s" -> Stats.median(wl.inputGenS.best),
        "host.speed_probe_ms" -> probeHostS * 1000,
        "bench.trace_overhead_ratio" -> Stats.median(cycleS.traced) / Stats.median(cycleS.plain))
    }

    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cpus" -> cpus, "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.toArray
        .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getName).mkString(","),
      "properties" -> wl.properties,
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepareS, "warm_cycle_s" -> warmS,
        "setup_s" -> setupS),
      "speed_probe" -> Map("ref_s" -> RefProbeS, "host_s" -> probeHostS, "to_ref" -> toRef,
        "samples_s" -> probeS.toSeq),
      "cycles" -> k, "cycle_s" -> Map("untraced" -> cycleS.plain, "traced" -> cycleS.traced),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "op_fail_ratio" -> ctx.failed.toDouble / ctx.attempted, "failures" -> ctx.failures,
      "end_to_end" -> endToEnd, "end_to_end_unscaled" -> raw, "workload_metrics" -> wl.details,
      "host" -> (host + ("steal_share" -> stealShare)),
      "per_layer" -> perLayer, "calls" -> calls)
    Files.createDirectories(workDir.resolve("records"))
    val tag = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    Files.write(workDir.resolve(s"records/$tag.json"), (Json.render(record) + "\n").getBytes(UTF_8))
    if (trace) Files.write(workDir.resolve(s"records/$tag-spans.jsonl"), tracer.spansJsonl.getBytes(UTF_8))
    spark.stop()

    val metrics = (if (trace) PerLayer.map { case (n, u) => (n, u, perLayer(n)) }
      else EndToEnd.map { case (n, u) => (n, u, endToEnd(n)) })
      .map { case (n, u, v) => n -> Map("value" -> v, "unit" -> u) }.toMap
    println(Json.render(Map("record" -> record)))
    println(Json.render(Map("correct" -> (ctx.failed == 0), "attempted" -> ctx.attempted,
      "failed" -> ctx.failed, "metrics" -> metrics)))
    System.out.flush()
    sys.exit(0)
  }

  /** The host's cumulative CPU ticks (user, nice, system, idle, iowait,
    * irq, softirq, steal, ...); steal is time the hypervisor gave to others. */
  def cpuTicks(): Seq[Long] =
    new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8).split("\n").head
      .split("\\s+").drop(1).map(_.toLong).toSeq

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
      .split("\n").find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }
}
