package graftbench

import java.nio.file.{Paths, StandardCopyOption, Files => NioFiles}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.streaming.{Cdc, LakeMerge}

/** CDC ingest: seeded Debezium-style envelope batches (hot-key updates,
  * deletes, fresh inserts) land one file at a time. A Structured
  * Streaming query decodes each batch (`Cdc.decode`) and merges it into a
  * lake through `foreachBatch` -> `LakeMerge.mergeBatch`. The next batch
  * lands once the previous one is visible at the lake head. The lake is
  * checked against the benchmark's latest-per-key model.
  */
class CdcIngest extends Workload {
  val name = "cdc_ingest"
  val tailPct = 75
  val warmupOps = 15
  val names = ("ingest_lag_p50_ms", "ingest_lag_tail_ms", "ingest_rows_per_s")

  val initialKeys = 4000
  val batchRows = 200
  val hotKeys = 50
  val checkEvery = 10

  /** Model: key -> (price, last_op, ts_ms). */
  private val model = mutable.HashMap[Long, (Double, String, Long)]()
  private var nextKey = 0L
  private var ts = 0L
  /** Batches landed so far; names landing files across warm-up and sampled loops. */
  private var landed = 0
  private def lakePath(ctx: Ctx) = s"${ctx.lakeRoot}/orders_state"

  def inputgen(ctx: Ctx): Unit = {
    val r = new Random(ctx.seed * 179424673L + 7L)
    model.clear()
    (1L to initialKeys.toLong).foreach(k => model(k) = ((100 + r.nextInt(500000)) / 100.0, "r", k))
    nextKey = initialKeys + 1L
    ts = initialKeys + 1L
  }

  def seedLake(ctx: Ctx): Unit = {
    val s = ctx.spark
    import s.implicits._
    val state = model.toSeq.map { case (k, (p, op, t)) => (k, p, op, t) }
      .toDF("o_orderkey", "price", "last_op", "ts_ms")
    LakeMerge.seed(s, lakePath(ctx), state)
  }

  private def env(op: String, t: Long, k: Long, before: Option[Double], after: Option[Double]): String = {
    def img(p: Option[Double]) = p.map(x => s"""{"o_orderkey":$k,"o_totalprice":$x}""").getOrElse("null")
    s"""{"op":"$op","ts_ms":$t,"before":${img(before)},"after":${img(after)}}"""
  }

  /** Next batch of envelopes, applied to the model as it is generated. */
  private def batch(r: Random): Seq[String] = Seq.fill(batchRows) {
    ts += 1
    val x = r.nextDouble()
    if (x < 0.45) {
      val k = 1L + r.nextInt(hotKeys)
      val p = (100 + r.nextInt(500000)) / 100.0
      val before = model.get(k).map(_._1)
      model(k) = (p, if (before.isDefined) "u" else "c", ts)
      env(model(k)._2, ts, k, before, Some(p))
    } else if (x < 0.6 && model.size > hotKeys) {
      var k = hotKeys + 1L + r.nextInt((nextKey - hotKeys - 1).toInt)
      while (!model.contains(k)) k = hotKeys + 1L + r.nextInt((nextKey - hotKeys - 1).toInt)
      val before = model(k)._1
      model.remove(k)
      env("d", ts, k, Some(before), None)
    } else {
      val k = nextKey; nextKey += 1
      val p = (100 + r.nextInt(500000)) / 100.0
      model(k) = (p, "c", ts)
      env("c", ts, k, None, Some(p))
    }
  }

  private def check(s: SparkSession, path: String): Boolean = {
    val got = LakeMerge.readState(s, path).select("o_orderkey", "price", "last_op").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    got.size == model.size && model.forall { case (k, (p, op, _)) =>
      got.get(k).exists(g => math.abs(g._1 - p) < 1e-6 && g._2 == op)
    }
  }

  def run(ctx: Ctx, seconds: Double, minOps: Int = 0): LoopResult = {
    val s = ctx.spark
    val r = new Random(ctx.streamSeed(ctx.seed * 2147483647L + 13L))
    val landing = s"${ctx.work}/landing"
    val staging = s"${ctx.work}/landing_tmp"
    Seq(landing, staging).foreach(d => NioFiles.createDirectories(Paths.get(d)))
    val path = lakePath(ctx)
    @volatile var visibleUs = 0L
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
    val pl = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progress.add(e)
    }
    if (ctx.tracer.isDefined) s.streams.addListener(pl)
    val merge = (df: DataFrame, _: Long) => {
      // tag this batch's jobs with the op that landed it
      s.sparkContext.setJobGroup(ctx.currentOp, "cdc_batch", interruptOnCancel = false)
      LakeMerge.mergeBatch(s, path, Cdc.decode(df))
      visibleUs = Clock.nowUs
    }
    val q: StreamingQuery = s.readStream.format("text").option("maxFilesPerTrigger", "1").load(landing)
      .select(col("value").as("envelope"))
      .writeStream.foreachBatch(merge)
      .option("checkpointLocation", s"${ctx.work}/checkpoint")
      .start()
    val lag = mutable.ArrayBuffer[Double]()
    val triggers = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
    val rowsPerBatch = mutable.ArrayBuffer[Double]()
    var rows = 0L
    var busy = 0.0
    var failed = 0
    var unchecked = 0
    var b = 0
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    try {
      while (System.nanoTime() < deadline || b < minOps) {
        val lines = batch(r)
        b += 1
        landed += 1
        val tmp = Paths.get(f"$staging/batch-$landed%06d.json")
        NioFiles.write(tmp, lines.asJava)
        var landedUs = 0L
        val (_, ms, _) = ctx.op("batch") {
          NioFiles.move(tmp, Paths.get(f"$landing/batch-$landed%06d.json"), StandardCopyOption.ATOMIC_MOVE)
          landedUs = Clock.nowUs
          q.processAllAvailable()
          ctx.tracer.foreach { t =>
            t.drain()
            var e = progress.poll()
            while (e != null) {
              val p = e.progress
              val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
              d.foreach { case (k, v) => triggers.getOrElseUpdate(k, mutable.ArrayBuffer()) += v }
              rowsPerBatch += p.numInputRows.toDouble
              // progress phases carry durations only: lay them out from the trigger start
              var at = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
              val trig = Span(t.newId(), 0L, "", "streaming.trigger", "streaming", at,
                at + (d.getOrElse("triggerExecution", 0.0) * 1000).toLong)
              ctx.pendingChildren += trig
              Seq("latestOffset", "walCommit", "queryPlanning", "addBatch", "commitOffsets").foreach { k =>
                d.get(k).foreach { v =>
                  ctx.pendingChildren += Span(t.newId(), trig.id, "", s"streaming.$k", "streaming", at,
                    at + (v * 1000).toLong, Map("durations_only" -> true))
                  at += (v * 1000).toLong
                }
              }
              e = progress.poll()
            }
          }
        }
        busy += ms
        lag += (visibleUs - landedUs) / 1000.0
        rows += lines.size
        unchecked += 1
        if (b % checkEvery == 0) {
          if (!check(s, path)) { failed += unchecked; System.err.println(s"state mismatch at batch $b") }
          unchecked = 0
        }
      }
    } finally {
      q.stop()
      q.awaitTermination(60000L)
      if (ctx.tracer.isDefined) s.streams.removeListener(pl)
    }
    if (unchecked > 0 && !check(s, path)) { failed += unchecked; System.err.println("final state mismatch") }
    def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def phase(k: String) = mean(triggers.getOrElse(k, Nil))
    LoopResult(lag.toSeq.map("batch" -> _), rows.toDouble, busy, b, failed,
      Map("batches" -> (b.toDouble, "count")),
      Map("streaming.latest_offset_ms" -> (phase("latestOffset"), "ms"),
        "streaming.query_planning_ms" -> (phase("queryPlanning"), "ms"),
        "streaming.add_batch_ms" -> (phase("addBatch"), "ms"),
        "streaming.wal_commit_ms" -> (phase("walCommit"), "ms"),
        "streaming.trigger_ms" -> (phase("triggerExecution"), "ms"),
        "streaming.rows_per_batch" -> (mean(rowsPerBatch), "count")))
  }
}
