package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Lake DML: one long-lived catalog table receives a seeded sequence of
  * INSERT, UPDATE, DELETE and MERGE INTO statements, each followed by a
  * read-your-write SELECT checked against the benchmark's own model of
  * the table. Every `cycle` of eight statements ends with
  * `CALL graft.system.compact`. Predicates mix narrow key ranges (one
  * file) with spread ones (a customer's rows, in every file), and MERGEs
  * insert far more rows than they update.
  */
class LakeWrites extends Workload {
  val name = "lake_writes"
  val tailPct = 75
  val warmupOps = 80
  val names = ("commit_p50_ms", "commit_tail_ms", "commits_per_s")

  val baseRows = 16000
  val baseBatches = 8
  val nCust = 500
  /** One cycle of statements; compaction closes every cycle. */
  val cycle: IndexedSeq[String] = IndexedSeq("insert", "update_narrow", "merge", "delete_narrow",
    "update_spread", "delete_spread", "insert", "compact")
  private val table = "graft.db.t"

  /** The model: key -> (custkey, price_cents, status). */
  private val model = mutable.HashMap[Long, (Long, Long, String)]()
  private var nextKey = 0L

  private def baseRow(seed: Long, k: Long): (Long, Long, String) = {
    val h = new Random(seed * 1000003L + k)
    (1L + h.nextInt(nCust), 100L + h.nextInt(100000), Seq("O", "F", "P")(h.nextInt(3)))
  }

  def inputgen(ctx: Ctx): Unit = {
    model.clear()
    (1L to baseRows.toLong).foreach(k => model(k) = baseRow(ctx.seed, k))
    nextKey = baseRows + 1L
  }

  def seedLake(ctx: Ctx): Unit = {
    val s = ctx.spark
    s.sql("CREATE NAMESPACE graft.db")
    s.sql(s"CREATE TABLE $table (o_orderkey BIGINT, o_custkey BIGINT, price_cents BIGINT, status STRING)")
    val per = baseRows / baseBatches
    (0 until baseBatches).foreach { b =>
      val keys = (b * per + 1L) to ((b + 1) * per).toLong
      view(s, "seed_rows", keys.map(k => (k, model(k))))
      s.sql(s"INSERT INTO $table SELECT * FROM seed_rows")
    }
  }

  private def view(s: SparkSession, name: String, rows: Seq[(Long, (Long, Long, String))]): Unit = {
    import s.implicits._
    rows.map { case (k, (c, p, st)) => (k, c, p, st) }
      .toDF("o_orderkey", "o_custkey", "price_cents", "status")
      .createOrReplaceTempView(name)
  }

  /** One generated statement: its verb, its SQL, the model update it
    * implies (which also notes the rows it introduces or changes), and the
    * read-your-write predicate as SQL and as a model filter.
    */
  final case class Stmt(verb: String, sql: String, apply: () => Unit, check: String,
                        inScope: ((Long, (Long, Long, String))) => Boolean)

  private def liveKey(r: Random): Long = {
    var k = 1L + (r.nextDouble() * (nextKey - 1)).toLong
    while (!model.contains(k) && k < nextKey) k += 1
    if (model.contains(k)) k else model.keysIterator.next()
  }

  private def next(s: SparkSession, r: Random, n: Int, changed: mutable.ArrayBuffer[(Long, Long, Long, String)]): Stmt = {
    def note(k: Long): Unit = { val (c, p, st) = model(k); changed += ((k, c, p, st)) }
    // a fixed verb cycle keeps every seed's statement mix the same; the seed
    // picks the keys, customers, values and sizes
    val x = cycle(n % cycle.size)
    if (x == "compact")
      return Stmt("compact", "CALL graft.system.compact('db', 't')", () => (), "TRUE", _ => true)
    if (x == "insert") {
      val keys = nextKey until nextKey + 40
      nextKey += keys.size
      val rows = keys.map(k => (k, (1L + r.nextInt(nCust), 100L + r.nextInt(100000), "N")))
      val values = rows.map { case (k, (c, p, st)) => s"($k, $c, $p, '$st')" }.mkString(", ")
      Stmt("insert", s"INSERT INTO $table VALUES $values",
        () => rows.foreach { case (k, v) => model(k) = v; note(k) },
        s"o_orderkey BETWEEN ${keys.head} AND ${keys.last}",
        { case (k, _) => k >= keys.head && k <= keys.last })
    } else if (x == "update_narrow") {
      val a = liveKey(r); val b = a + 50; val d = 1 + r.nextInt(500)
      Stmt("update", s"UPDATE $table SET price_cents = price_cents + $d, status = 'U' WHERE o_orderkey BETWEEN $a AND $b",
        () => model.keys.filter(k => k >= a && k <= b).toSeq.foreach { k =>
          val (c, p, _) = model(k); model(k) = (c, p + d, "U"); note(k) },
        s"o_orderkey BETWEEN $a AND $b", { case (k, _) => k >= a && k <= b })
    } else if (x == "update_spread") {
      val c = 1L + r.nextInt(nCust); val d = 1 + r.nextInt(500)
      Stmt("update", s"UPDATE $table SET price_cents = price_cents - $d WHERE o_custkey = $c",
        () => model.filter(_._2._1 == c).keys.toSeq.foreach { k =>
          val (cc, p, st) = model(k); model(k) = (cc, p - d, st); note(k) },
        s"o_custkey = $c", { case (_, v) => v._1 == c })
    } else if (x == "delete_narrow") {
      val a = liveKey(r); val b = a + 20
      Stmt("delete", s"DELETE FROM $table WHERE o_orderkey BETWEEN $a AND $b",
        () => model.keys.filter(k => k >= a && k <= b).toSeq.foreach(model.remove),
        s"o_orderkey BETWEEN $a AND $b", { case (k, _) => k >= a && k <= b })
    } else if (x == "delete_spread") {
      val c = 1L + r.nextInt(nCust)
      Stmt("delete", s"DELETE FROM $table WHERE o_custkey = $c",
        () => model.filter(_._2._1 == c).keys.toSeq.foreach(model.remove),
        s"o_custkey = $c", { case (_, v) => v._1 == c })
    } else {
      // insert-heavy MERGE: a few matched keys, many fresh ones
      val matched = Seq.fill(5)(liveKey(r)).distinct
      val fresh = nextKey until nextKey + 200
      nextKey += fresh.size
      val rows = matched.map(k => (k, (model(k)._1, 100L + r.nextInt(100000), "M"))) ++
        fresh.map(k => (k, (1L + r.nextInt(nCust), 100L + r.nextInt(100000), "M")))
      view(s, "merge_src", rows)
      Stmt("merge",
        s"""MERGE INTO $table t USING merge_src s ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin,
        () => rows.foreach { case (k, v) => model(k) = v; note(k) },
        s"status = 'M'", { case (_, v) => v._3 == "M" })
    }
  }

  def run(ctx: Ctx, seconds: Double, minOps: Int = 0): LoopResult = {
    val s = ctx.spark
    val r = new Random(ctx.streamSeed(ctx.seed * 104729L + 3L))
    val lakeDir = Files.localPath(ctx.lakeRoot)
    val before = Files.dataFiles(lakeDir)
    val commitLat = mutable.ArrayBuffer[(String, Double)]()
    val rawLat = mutable.ArrayBuffer[Double]()
    val byVerb = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
    val changed = mutable.ArrayBuffer[(Long, Long, Long, String)]()
    var failed = 0
    var maintBytes = 0L
    val opened = mutable.ArrayBuffer[Double]()
    val skip = mutable.ArrayBuffer[Double]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (System.nanoTime() < deadline || n < minOps || n % cycle.size != 0) {
      val st = next(s, r, n, changed)
      n += 1
      val filesBefore = if (st.verb == "compact") Files.dataFiles(lakeDir) else Map.empty[String, Long]
      val (ok, ms, _) = ctx.op(st.verb) {
        ctx.step(st.verb, "sources") {
          try { s.sql(st.sql); true } catch {
            case e: Exception => System.err.println(s"[${st.verb}] failed: ${e.getMessage}"); false
          }
        }
      }
      commitLat += ((st.verb, ms))
      byVerb.getOrElseUpdate(st.verb, mutable.ArrayBuffer()) += ms
      if (st.verb == "compact")
        maintBytes += Files.dataFiles(lakeDir).filter { case (p, _) => !filesBefore.contains(p) }.values.sum
      if (ok) st.apply()
      val live = ctx.tracer.map(_ => s.sql("SELECT count(*) FROM graft.db.`t$files`").head().getLong(0))
      val (got, rms, rtr) = ctx.op("read_after_write") {
        try Some(ctx.collect(s.sql(
          s"SELECT count(*), coalesce(sum(price_cents), 0) FROM $table WHERE ${st.check}")).head)
        catch { case e: Exception => System.err.println(s"[raw] failed: ${e.getMessage}"); None }
      }
      rawLat += rms
      for (t <- rtr; l <- live if st.check != "TRUE") {
        opened += t.dataOpened
        if (l > 0) skip += 1.0 - t.dataOpened.toDouble / l
      }
      val want = model.iterator.filter(st.inScope)
        .foldLeft((0L, 0L)) { case ((c, p), (_, v)) => (c + 1, p + v._2) }
      val good = ok && got.exists(g => g.getLong(0) == want._1 && g.getLong(1) == want._2)
      if (!good) {
        failed += 1
        System.err.println(s"[${st.verb}] read-your-write mismatch: got $got want $want for ${st.check}")
      }
    }
    // untimed: the whole table against the model
    val all = s.sql(s"SELECT count(*), coalesce(sum(price_cents), 0) FROM $table").head()
    if (all.getLong(0) != model.size || all.getLong(1) != model.values.map(_._2).sum) {
      failed += 1
      System.err.println(s"final table mismatch: $all vs ${model.size}")
    }
    val written = Files.dataFiles(lakeDir).filter { case (p, _) => !before.contains(p) }.values.sum
    val rowsDir = s"${ctx.work}/changed_rows"
    import s.implicits._
    changed.toSeq.toDF("o_orderkey", "o_custkey", "price_cents", "status")
      .coalesce(1).write.mode("overwrite").parquet(rowsDir)
    val userBytes = Files.size(rowsDir).max(1L)
    val liveFiles = s.sql("SELECT count(*) FROM graft.db.`t$files`").head().getLong(0)

    def p50(v: String) = byVerb.get(v).map(xs => Stats.median(xs.toSeq)).getOrElse(0.0)
    val busy = commitLat.map(_._2).sum + rawLat.sum
    LoopResult(commitLat.toSeq, commitLat.size.toDouble, busy, commitLat.size, failed,
      Map("read_after_write_p50_ms" -> (Stats.median(rawLat.toSeq), "ms"),
        "write_amp" -> (written.toDouble / userBytes, "ratio"),
        "statements" -> (n.toDouble, "count")),
      Map("sources.live_files" -> (liveFiles.toDouble, "count"),
        "sources.maint_ms" -> (byVerb.get("compact").map(_.sum).getOrElse(0.0), "ms"),
        "sources.maint_bytes_rewritten" -> (maintBytes.toDouble, "bytes"),
        "sources.insert_p50_ms" -> (p50("insert"), "ms"),
        "sources.update_p50_ms" -> (p50("update"), "ms"),
        "sources.delete_p50_ms" -> (p50("delete"), "ms"),
        "sources.merge_p50_ms" -> (p50("merge"), "ms"),
        "sources.data_files_opened_per_read" -> (if (opened.isEmpty) 0.0 else opened.sum / opened.size, "count"),
        "sources.skip_ratio" -> (if (skip.isEmpty) 0.0 else skip.sum / skip.size, "ratio")))
  }
}
