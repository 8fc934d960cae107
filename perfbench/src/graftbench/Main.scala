package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Runs one workload with one seed in one JVM and writes `result.json`
  * (and, on the traced run, `spans.jsonl`) under the work directory.
  *
  * {{{
  *   graftbench.Main --workload lake_writes --seed 1 --seconds 10 --trace 0 --work <dir>
  * }}}
  *
  * Set-up (session start, input generation, lake seeding) runs once, on a
  * fresh JVM, and its time is `setup_s`; the session stays up for the
  * timed closed loop. The loop runs unsampled for the workload's warm-up,
  * then is sampled for `--seconds`. A workload whose ops come in a fixed
  * cycle (a query mix, a statement mix) finishes the cycle it is in, so
  * warm-up touches every op of the cycle and every run samples whole
  * cycles. Warm-up ops draw from another random stream than sampled ops,
  * so no sampled op repeats one the warm-up ran.
  */
object Main {
  val workloads: Map[String, () => Workload] = Map(
    "analyst_reads" -> (() => new AnalystReads),
    "lake_writes" -> (() => new LakeWrites),
    "curation_batch" -> (() => new CurationBatch),
    "cdc_ingest" -> (() => new CdcIngest))

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workloads(a("workload"))()
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = new File(a("work")).getAbsolutePath
    val cores = math.min(Runtime.getRuntime.availableProcessors, 4)
    val loadAvg = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    Files.rm(work)
    new File(work).mkdirs()

    // ---- set-up ----
    val lakeRoot = (if (trace) "tfile://" else "file://") + s"$work/lake"
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(cores)
      .master(s"local[$cores]")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.root", lakeRoot)
      .config("spark.hadoop.fs.tfile.impl", classOf[TimingFs].getName)
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    val setupCtx = new Ctx(spark, seed, work, lakeRoot, cores, None)
    wl.inputgen(setupCtx)
    val t2 = System.nanoTime()
    wl.seedLake(setupCtx)
    val t3 = System.nanoTime()
    val setup = Map("start_ms" -> (t1 - t0) / 1e6, "inputgen_ms" -> (t2 - t1) / 1e6,
      "seed_ms" -> (t3 - t2) / 1e6, "total_s" -> (t3 - t0) / 1e9)

    // unsampled warm-up: the set-up context has no tracer and draws from the warm-up streams
    wl.run(setupCtx, 0.0, wl.warmupOps)
    val tracer = if (trace) Some(new Tracer(spark, Files.localPath(lakeRoot))) else None
    val ctx = new Ctx(spark, seed, work, lakeRoot, cores, tracer, sampled = true)

    // ---- the sampled closed loop ----
    val gc0 = JvmMeter.gcMs
    val lakeDir = Files.localPath(ctx.lakeRoot)
    val lakeBefore = Files.dataFiles(lakeDir)
    val wall0 = System.nanoTime()
    val res = wl.run(ctx, seconds)
    val wallS = (System.nanoTime() - wall0) / 1e9
    ctx.sampleHeap()
    val gcMs = JvmMeter.gcMs - gc0 - ctx.forcedGcMs
    val written = Files.dataFiles(lakeDir).filter { case (p, _) => !lakeBefore.contains(p) }

    val (p50n, tailn, raten) = wl.names
    val ms = res.primary.map(_._2)
    val p50 = Stats.median(ms)
    val mix = Stats.mixMedian(res.primary)
    val tail = Stats.pct(ms, wl.tailPct)
    // a tail is only a tail with at least ten samples beyond it
    val beyond = ms.count(_ > tail)
    val rate = res.units / (res.busyMs / 1000.0)
    val e2e = Map(
      "setup_s" -> (setup("total_s"), "s"),
      "mix_p50_ms" -> (mix, "ms"),
      "throughput_per_s" -> (rate, "1/s"),
      "heap_peak_mb" -> (ctx.heapPeakMb, "MiB"))
    val named = Map(
      p50n -> (p50, "ms"), tailn -> (tail, "ms"), raten -> (rate, "1/s"),
      "setup_s" -> (setup("total_s"), "s"), "mix_p50_ms" -> (mix, "ms"),
      s"${tailn}_samples_beyond" -> (beyond.toDouble, "count"),
      "failed_ratio" -> (res.failed.toDouble / res.attempted.max(1), "ratio"),
      "heap_peak_mb" -> (ctx.heapPeakMb, "MiB")) ++ res.named

    val layer: Map[String, (Double, String)] = tracer match {
      case None => Map.empty
      case Some(t) => layerMetrics(t, cores) ++ res.layer ++ Map(
        "sources.data_files_written" -> (written.size.toDouble, "count"),
        "sources.data_bytes_written" -> (written.values.sum.toDouble, "bytes"),
        "session.start_ms" -> (setup("start_ms"), "ms"),
        "session.inputgen_ms" -> (setup("inputgen_ms"), "ms"),
        "session.seed_ms" -> (setup("seed_ms"), "ms"),
        "jvm.gc_ms" -> (gcMs.toDouble, "ms"),
        "jvm.heap_after_gc_mb" -> (JvmMeter.heapAfterGcMb, "MiB"))
    }
    tracer.foreach(_.writeSpans(s"$work/spans.jsonl"))
    def vu(m: Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    Json.write(s"$work/result.json", Map(
      "workload" -> wl.name, "seed" -> seed, "trace" -> trace,
      "attempted" -> res.attempted, "failed" -> res.failed, "ops" -> ms.size,
      "wall_s" -> wallS, "tail_pct" -> wl.tailPct, "work" -> ctx.work, "inputs" -> ctx.inputs,
      "names" -> Map("p50" -> p50n, "tail" -> tailn, "rate" -> raten),
      "end_to_end" -> vu(e2e), "named" -> vu(named), "per_layer" -> vu(layer),
      "setup" -> setup,
      "op_ms" -> ctx.opLog.map { case (k, ms) => Seq(k, ms) },
      "host" -> Map("nproc" -> Runtime.getRuntime.availableProcessors, "master" -> s"local[$cores]",
        "heap_max_mb" -> JvmMeter.maxHeapMb, "load_avg_start" -> loadAvg,
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "loop" -> "closed, 1 client thread")))
    spark.stop()
    // non-daemon threads of a stopped session must not keep the JVM up
    System.exit(0)
  }

  /** Per-layer metrics from the traced ops. */
  private def layerMetrics(t: Tracer, cores: Int): Map[String, (Double, String)] = {
    val ops = t.ops.toSeq
    val n = ops.size.max(1).toDouble
    def mean(f: OpTrace => Double) = ops.map(f).sum / n
    def fs(o: OpTrace, k: String) = o.fs.getOrElse(s"$k", 0L).toDouble
    def log(o: OpTrace, k: String) = fs(o, s"log.driver.$k") + fs(o, s"log.exec.$k")
    val jobMs = ops.map(_.jobUnionUs / 1000.0).sum
    val runMs = ops.map(_.runMs).sum
    Map(
      "planner.analysis_ms" -> (mean(_.plannerUs.getOrElse("analysis", 0L) / 1000.0), "ms"),
      "planner.optimization_ms" -> (mean(_.plannerUs.getOrElse("optimization", 0L) / 1000.0), "ms"),
      "planner.planning_ms" -> (mean(_.plannerUs.getOrElse("planning", 0L) / 1000.0), "ms"),
      "planner.driver_ms" -> (mean(_.plannerDriverUs / 1000.0), "ms"),
      "planner.executed_plan_ms" -> (t.spans.iterator.filter(_.name == "executed_plan")
        .map(s => (s.endUs - s.startUs) / 1000.0).sum / n, "ms"),
      "scheduler.jobs_per_op" -> (mean(_.jobs), "count"),
      "scheduler.stages_per_op" -> (mean(_.stages), "count"),
      "scheduler.tasks_per_op" -> (mean(_.tasks), "count"),
      "scheduler.job_ms" -> (mean(_.jobUnionUs / 1000.0), "ms"),
      "scheduler.driver_only_ms" -> (mean(o => (o.wallUs - o.jobUnionUs) / 1000.0), "ms"),
      "exec.cpu_ms" -> (mean(_.cpuMs), "ms"),
      "exec.run_ms" -> (mean(_.runMs), "ms"),
      "exec.gc_ms" -> (mean(_.gcMs), "ms"),
      "exec.input_bytes" -> (mean(_.inputBytes.toDouble), "bytes"),
      "exec.shuffle_write_bytes" -> (mean(_.shuffleWrite.toDouble), "bytes"),
      "exec.shuffle_read_bytes" -> (mean(_.shuffleRead.toDouble), "bytes"),
      "exec.spill_bytes" -> (mean(_.spill.toDouble), "bytes"),
      "exec.peak_exec_mem_mb" -> (if (ops.isEmpty) 0.0 else ops.map(_.peakMemMb).max, "MiB"),
      "exec.slot_utilization" -> (if (jobMs > 0) runMs / (jobMs * cores) else 0.0, "ratio"),
      "sources.log_calls_per_op" -> (mean(log(_, "calls")), "count"),
      "sources.log_lists_per_op" -> (mean(log(_, "lists")), "count"),
      "sources.log_ms_per_op" -> (mean(log(_, "nanos") / 1e6), "ms"),
      "sources.log_bytes_read_per_op" -> (mean(fs(_, "log.bytes_read")), "bytes"),
      "sources.log_files_published_per_op" -> (mean(_.published.toDouble), "count"),
      "ops_traced" -> (ops.size.toDouble, "count"))
  }
}
