package graftbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Local filesystem under the `tfile:` scheme that counts and times every
  * call, split into commit-log paths (`_commits/`) and data paths, and
  * into the calling side (driver threads vs executor task threads).
  * Every call is delegated unchanged to [[RawLocalFileSystem]], so the
  * create-exclusive publish the commit protocol relies on keeps its exact
  * semantics. Only traced runs root their lakes here. Because this is a
  * local filesystem, the commit protocol publishes each manifest through
  * java.nio (temp file plus hard link), which this class never sees; the
  * tracer counts those publishes as new `_commits/` files instead.
  */
class TimingFs extends RawLocalFileSystem {
  override def getScheme: String = "tfile"
  override def getUri: URI = URI.create("tfile:///")

  private def timed[A](p: Path, verb: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally TimingFs.record(p, verb, System.nanoTime() - t0)
  }

  override def open(p: Path, bufferSize: Int): FSDataInputStream = timed(p, "open") {
    val in = super.open(p, bufferSize)
    if (TimingFs.isLog(p)) TimingFs.logBytesRead.addAndGet(super.getFileStatus(p).getLen)
    in
  }
  override def create(p: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    timed(p, "create") {
      super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress)
    }
  override def create(p: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream =
    timed(p, "create") {
      super.create(p, overwrite, bufferSize, replication, blockSize, progress)
    }
  override def createNonRecursive(p: Path, permission: FsPermission, overwrite: Boolean,
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    timed(p, "create") {
      super.createNonRecursive(p, permission, overwrite, bufferSize, replication, blockSize, progress)
    }
  override def listStatus(p: Path): Array[FileStatus] = timed(p, "list") { super.listStatus(p) }
  override def getFileStatus(p: Path): FileStatus = timed(p, "stat") { super.getFileStatus(p) }
  override def rename(src: Path, dst: Path): Boolean = timed(dst, "rename") { super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = timed(p, "delete") { super.delete(p, recursive) }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = timed(p, "mkdirs") { super.mkdirs(p, permission) }
}

object TimingFs {
  /** Counters of one side (log or data) and one caller (driver or executor). */
  final class Bucket {
    val calls = new AtomicLong
    val nanos = new AtomicLong
    val lists = new AtomicLong
  }
  private val buckets = new ConcurrentHashMap[String, Bucket]()
  val logBytesRead = new AtomicLong
  private val opened = ConcurrentHashMap.newKeySet[String]()

  def isLog(p: Path): Boolean = p.toUri.getPath.contains("/_commits")
  private def isExecutor: Boolean = Thread.currentThread.getName.startsWith("Executor task launch")
  private def isDataFile(p: Path): Boolean = {
    val s = p.toUri.getPath
    !isLog(p) && s.endsWith(".parquet") && !s.contains("/_temporary/")
  }

  def bucket(log: Boolean, executor: Boolean): Bucket =
    buckets.computeIfAbsent(s"${if (log) "log" else "data"}.${if (executor) "exec" else "driver"}",
      _ => new Bucket)

  private[graftbench] def record(p: Path, verb: String, nanos: Long): Unit = {
    val b = bucket(isLog(p), isExecutor)
    b.calls.incrementAndGet(); b.nanos.addAndGet(nanos)
    verb match {
      case "list" => b.lists.incrementAndGet()
      case "open" => if (isDataFile(p)) opened.add(p.toUri.getPath)
      case _ =>
    }
  }
  /** Distinct data files opened since the last call (and forget them). */
  def drainOpened(): Set[String] = {
    val out = opened.asScala.toSet
    opened.removeAll(out.asJava)
    out
  }

  /** Flat snapshot of every counter, for per-op deltas. */
  def snapshot(): Map[String, Long] = {
    val m = mutable.Map[String, Long]()
    for (log <- Seq(true, false); ex <- Seq(true, false)) {
      val b = bucket(log, ex)
      val k = s"${if (log) "log" else "data"}.${if (ex) "exec" else "driver"}"
      m(s"$k.calls") = b.calls.get; m(s"$k.nanos") = b.nanos.get; m(s"$k.lists") = b.lists.get
    }
    m("log.bytes_read") = logBytesRead.get
    m.toMap
  }
}

/** Spark jobs, stages and task metrics, keyed by the job group each op
  * sets (`setJobGroup(opId)`). Listener events arrive on Spark's async
  * bus, so readers call [[Bus.drain]] before reading an op's totals.
  */
class OpListener extends SparkListener {
  final case class Job(group: String, startMs: Long, var endMs: Long, stages: Seq[Int], tasks: Int)
  final class TaskSums {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L; var inputBytes = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var peakMem = 0L
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val sums = new ConcurrentHashMap[String, TaskSums]()

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    e.stageIds.foreach(stageGroup.put(_, g))
    jobs.put(e.jobId, Job(g, e.time, -1L, e.stageIds, e.stageInfos.map(_.numTasks).sum))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val g = Option(stageGroup.get(e.stageId)).getOrElse("")
    val s = sums.computeIfAbsent(g, _ => new TaskSums)
    s.synchronized {
      s.tasks += 1; s.cpuNs += m.executorCpuTime; s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime; s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
    }
  }

  def jobsOf(group: String): Seq[Job] = jobs.values.asScala.filter(_.group == group).toSeq
}

/** Every QueryExecution that ran an action, with its planner phases; the
  * graft operators' own eager probes show up here as well as the op's
  * final query.
  */
class PlannerListener extends QueryExecutionListener {
  final case class Phase(name: String, startMs: Long, endMs: Long)
  private val finished = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Phase]]()
  private def record(qe: QueryExecution): Unit =
    finished.add(qe.tracker.phases.toSeq.map { case (n, s) => Phase(n, s.startTimeMs, s.endTimeMs) })
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  def drain(): Seq[Seq[Phase]] = {
    val out = mutable.ArrayBuffer[Seq[Phase]]()
    var x = finished.poll()
    while (x != null) { out += x; x = finished.poll() }
    out.toSeq
  }
}

/** JVM-wide GC time and heap in use after the most recent collection. */
object JvmMeter {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.isCollectionUsageThresholdSupported)
  def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum
  /** Heap in use right after the last GC, MiB (collection usage). */
  def heapAfterGcMb: Double =
    heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
  def heapUsedMb: Double = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
}

/** Summary statistics over op samples. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      // nearest-rank percentile
      val k = math.ceil(p / 100.0 * s.length).toInt.max(1).min(s.length)
      s(k - 1)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  /** Geometric mean over op kinds of each kind's median latency. Unlike
    * the median of a mix of kinds, it does not jump from one kind's
    * latency to another's when a run samples a few ops more or fewer.
    */
  def mixMedian(xs: Seq[(String, Double)]): Double =
    if (xs.isEmpty) 0.0
    else {
      val meds = xs.groupBy(_._1).values.map(v => median(v.map(_._2)))
      math.exp(meds.map(math.log).sum / meds.size)
    }
  /** Union length of [start, end) intervals. */
  def unionLen(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
