package graftbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** JSON for the benchmark's result and span files (Spark ships Jackson). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), apply(v) + "\n")
}

/** Epoch-microsecond clock with nanoTime resolution, so benchmark spans
  * line up with Spark's epoch-millisecond job and planner timestamps.
  */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** A traced interval: `parent` is the id of the span that caused it, and
  * every span of one op carries that op's id.
  */
final case class Span(id: Long, parent: Long, op: String, name: String, layer: String,
                      startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty) {
  def json: String = Json(Map("id" -> id, "parent" -> parent, "op" -> op, "name" -> name,
    "layer" -> layer, "start_us" -> startUs, "end_us" -> endUs, "attrs" -> attrs))
}

/** Per-op layer totals the traced run aggregates into `<layer>.<metric>`. */
final case class OpTrace(wallUs: Long, plannerUs: Map[String, Long],
                         plannerDriverUs: Long, jobs: Int, stages: Int,
                         tasks: Int, jobUnionUs: Long, cpuMs: Double, runMs: Double, gcMs: Double,
                         inputBytes: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
                         peakMemMb: Double, fs: Map[String, Long], dataOpened: Int, published: Int)

/** Records spans and per-op layer totals in memory; written when the run
  * ends. `lakeDir` is the local directory under the traced lake root.
  */
class Tracer(spark: SparkSession, lakeDir: String) {
  val jobsL = new OpListener
  val planL = new PlannerListener
  spark.sparkContext.addSparkListener(jobsL)
  spark.listenerManager.register(planL)

  val spans = mutable.ArrayBuffer[Span]()
  val ops = mutable.ArrayBuffer[OpTrace]()
  private var nextId = 0L
  def newId(): Long = { nextId += 1; nextId }

  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  /** Called before the op starts: forget listener state from outside ops. */
  def beginOp(): Map[String, Long] = {
    drain(); planL.drain(); TimingFs.drainOpened()
    TimingFs.snapshot() + ("log.published" -> Files.commitLogFiles(lakeDir).toLong)
  }

  /** Called after the op ends: attribute jobs, planner phases and FS calls. */
  def endOp(opId: String, kind: String, startUs: Long, endUs: Long, fs0: Map[String, Long],
            children: Seq[Span]): OpTrace = {
    drain()
    val root = newId()
    val wall = endUs - startUs
    val qes = planL.drain()
    val phases = qes.flatten.map(p => (p.name, p.startMs * 1000L, p.endMs * 1000L))
      .map { case (n, s, e) => (n, s.max(startUs), e.min(endUs)) }.filter(p => p._3 > p._2)
    val jobs = jobsL.jobsOf(opId)
    val jobIv = jobs.map(j => (j.startMs * 1000L, (if (j.endMs < 0) j.startMs else j.endMs) * 1000L))
      .map { case (s, e) => (s.max(startUs), e.min(endUs)) }.filter(iv => iv._2 > iv._1)
    val jobUnion = Stats.unionLen(jobIv)
    // planner time that no job of the op overlapped: driver-side planning
    val plannerDriver = Stats.unionLen(phases.map(p => (p._2, p._3)) ++ jobIv) - jobUnion
    val ts = Option(jobsL.sums.remove(opId)).getOrElse(new jobsL.TaskSums)
    // the commit protocol publishes local manifests through java.nio, which
    // TimingFs never sees: count them as new files in the `_commits/` dirs
    val fs1 = TimingFs.snapshot() + ("log.published" -> Files.commitLogFiles(lakeDir).toLong)
    val fsDelta = fs1.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) }
    val opened = TimingFs.drainOpened().size

    children.foreach(c => spans += c.copy(parent = if (c.parent == 0L) root else c.parent, op = opId))
    phases.foreach { case (n, s, e) => spans += Span(newId(), root, opId, s"planner.$n", "planner", s, e) }
    jobs.foreach { j =>
      spans += Span(newId(), root, opId, "job", "scheduler", (j.startMs * 1000L).max(startUs),
        (j.endMs * 1000L).min(endUs), Map("stages" -> j.stages.size, "tasks" -> j.tasks))
    }
    val logNs = fsDelta.getOrElse("log.driver.nanos", 0L) + fsDelta.getOrElse("log.exec.nanos", 0L)
    val published = fsDelta.getOrElse("log.published", 0L)
    // the op's wall split, computed once here; report.py only groups it
    spans += Span(root, 0L, opId, kind, "op", startUs, endUs, Map(
      "job_ms" -> jobUnion / 1000.0, "driver_only_ms" -> (wall - jobUnion) / 1000.0,
      "planner_driver_ms" -> plannerDriver / 1000.0, "log_read_ms" -> logNs / 1e6,
      "log_files_published" -> published))
    // FS aggregates carry a duration, not an interval: they start at the op start
    spans += Span(newId(), root, opId, "fs.commit_log", "sources", startUs, startUs + logNs / 1000L,
      Map("aggregate" -> true, "calls" -> (fsDelta.getOrElse("log.driver.calls", 0L) +
        fsDelta.getOrElse("log.exec.calls", 0L))))

    val byPhase = phases.groupBy(_._1).map { case (n, xs) => n -> xs.map(p => p._3 - p._2).sum }
    val t = OpTrace(wall, byPhase, plannerDriver, jobs.size,
      jobs.map(_.stages.size).sum, jobs.map(_.tasks).sum, jobUnion, ts.cpuNs / 1e6, ts.runMs.toDouble,
      ts.gcMs.toDouble, ts.inputBytes, ts.shuffleWrite, ts.shuffleRead, ts.spill,
      ts.peakMem / 1048576.0, fsDelta, opened, published.toInt)
    ops += t
    t
  }

  def writeSpans(path: String): Unit = Files.write(path, spans.iterator.map(_.json))
}

/** Shared state of one run: the session, the run's directories, the seed
  * and, on the traced run, the tracer.
  */
class Ctx(val spark: SparkSession, val seed: Long, val work: String, val lakeRoot: String,
          val cores: Int, val tracer: Option[Tracer], val sampled: Boolean = false) {
  val inputs: String = s"$work/inputs"
  /** Extra spans a workload attaches to the current op (traced run only). */
  val pendingChildren = mutable.ArrayBuffer[Span]()
  @volatile var currentOp: String = ""
  /** Seed of one of the workload's random streams. Warm-up and sampled
    * loop draw from different streams, so no sampled op repeats a warm-up op.
    */
  def streamSeed(base: Long): Long = if (sampled) base else base ^ 0x5a5a5a5a5a5aL
  /** (kind, ms) of every sampled op, in order. */
  val opLog = mutable.ArrayBuffer[(String, Double)]()

  /** Peak heap in use after a full GC, MiB. On the sampled loop a full GC
    * runs between ops every two seconds (outside every timed window), so
    * the peak is the live set, not whatever garbage the last young
    * collection happened to leave.
    */
  var heapPeakMb = 0.0
  /** GC time the forced collections took, kept out of the run's GC total. */
  var forcedGcMs = 0L
  private var lastHeapSample = System.nanoTime()
  def sampleHeap(): Unit = {
    val gc0 = JvmMeter.gcMs
    System.gc()
    forcedGcMs += JvmMeter.gcMs - gc0
    heapPeakMb = math.max(heapPeakMb, JvmMeter.heapUsedMb)
    lastHeapSample = System.nanoTime()
  }

  /** Times `body` as one closed-loop op; on the traced run it also tags the
    * op's Spark jobs with a job group and attributes every layer to it.
    */
  def op[A](kind: String)(body: => A): (A, Double, Option[OpTrace]) = {
    if (sampled && System.nanoTime() - lastHeapSample > 2e9) sampleHeap()
    val id = f"$kind-${Ctx.opSeq.incrementAndGet()}%05d"
    currentOp = id
    val fs0 = tracer.map(_.beginOp()).getOrElse(Map.empty)
    pendingChildren.clear()
    spark.sparkContext.setJobGroup(id, kind, interruptOnCancel = false)
    val s = Clock.nowUs
    val t0 = System.nanoTime()
    val out = try body finally spark.sparkContext.clearJobGroup()
    val ms = (System.nanoTime() - t0) / 1e6
    val e = Clock.nowUs
    val tr = tracer.map(_.endOp(id, kind, s, e, fs0, pendingChildren.toSeq))
    if (sampled) opLog += ((kind, ms))
    (out, ms, tr)
  }

  /** Runs an action inside an op; on the traced run the executed plan is
    * forced first under its own span, and the action gets a span too.
    */
  def collect(df: DataFrame): Array[org.apache.spark.sql.Row] = tracer match {
    case None => df.collect()
    case Some(t) =>
      val s0 = Clock.nowUs
      df.queryExecution.executedPlan
      val s1 = Clock.nowUs
      val rows = df.collect()
      val s2 = Clock.nowUs
      pendingChildren += Span(t.newId(), 0L, "", "executed_plan", "planner", s0, s1)
      pendingChildren += Span(t.newId(), 0L, "", "action", "action", s1, s2)
      rows
  }

  /** Timed sub-step of an op on the traced run (pipeline stages, DML verbs). */
  def step[A](name: String, layer: String)(body: => A): A = tracer match {
    case None => body
    case Some(t) =>
      val s = Clock.nowUs
      val out = body
      pendingChildren += Span(t.newId(), 0L, "", name, layer, s, Clock.nowUs)
      out
  }
}

object Ctx {
  /** Op ids are unique across every context of the run, warm-up included. */
  val opSeq = new java.util.concurrent.atomic.AtomicInteger
}

/** What a workload's timed loop produced. `primary` holds the kind and
  * latency of each primary op; `units` is the work those ops completed
  * (reads, statements, documents or change rows); `busyMs` is the sum of
  * the timed windows, which excludes output checks.
  */
final case class LoopResult(primary: Seq[(String, Double)], units: Double, busyMs: Double,
                            attempted: Int, failed: Int,
                            named: Map[String, (Double, String)],
                            layer: Map[String, (Double, String)] = Map.empty)

trait Workload {
  def name: String
  /** Percentile of the printed tail latency. Fixed, so runs stay
    * comparable; the summary counts the samples beyond it (a tail needs ten).
    */
  def tailPct: Int
  /** Primary ops of the unsampled warm-up before the sampled loop: enough
    * that the JIT has compiled the op's hot paths (latency stops falling).
    * A count, not a time, so every run starts sampling from the same warm
    * state however fast the host runs that day.
    */
  def warmupOps: Int
  /** The workload's own names of its primary metrics: (p50, tail, rate). */
  def names: (String, String, String)
  def inputgen(ctx: Ctx): Unit
  def seedLake(ctx: Ctx): Unit
  /** Runs the closed loop for `seconds` and at least `minOps` primary ops. */
  def run(ctx: Ctx, seconds: Double, minOps: Int = 0): LoopResult
}

object Files {
  def rm(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(c => rm(c.getPath))
    f.delete()
  }
  /** Data files (parquet, no checksums, no commit log) under `dir` with sizes. */
  def dataFiles(dir: String): Map[String, Long] = {
    val out = mutable.Map[String, Long]()
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(walk)
      else if (f.getName.endsWith(".parquet") && !f.getPath.contains("_commits"))
        out(f.getPath) = f.length()
    walk(new File(dir))
    out.toMap
  }
  def size(path: String): Long = dataFiles(path).values.sum
  /** Published files in every `_commits/` directory under `dir` (no temp files). */
  def commitLogFiles(dir: String): Int = {
    def walk(f: File): Int =
      if (!f.isDirectory) 0
      else if (f.getName == "_commits")
        Option(f.listFiles).getOrElse(Array.empty).count(c => c.isFile && !c.getName.startsWith("."))
      else Option(f.listFiles).getOrElse(Array.empty).map(walk).sum
    walk(new File(dir))
  }
  def localPath(uri: String): String = uri.replaceFirst("^[a-z]+://", "")
  def write(path: String, lines: Iterator[String]): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}
