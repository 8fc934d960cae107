package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row

import graft.sql.{Query, SqlFrag, ToField}

/** Interactive reads: a seeded stream of pgstream-shaped queries rendered
  * through `graft.sql.Query` over views from `Catalog.register`, plus
  * head, time-travel and change-feed reads of one lake table. Templates
  * run round-robin so every seed exercises the same mix; the literals come
  * from the seed. A seeded subset of results is written out and checked
  * against DuckDB over the same parquet after the run.
  */
class AnalystReads extends Workload {
  val name = "analyst_reads"
  val tailPct = 75
  val warmupOps = 150
  val names = ("read_p50_ms", "read_tail_ms", "reads_per_s")

  /** Lake versions after each seeding step, for time travel and change windows. */
  private var vCreate = 0L
  private val vInsert = mutable.ArrayBuffer[Long]()

  private def f[A](a: A)(implicit tf: ToField[A]): String = tf.render(a)

  /** Renders graft's SQL and the DuckDB SQL that must agree with it. */
  private def render(t: String, duck: String, args: Seq[String]): (String, String) =
    (Query(t).formatRendered(args), Query(duck).formatRendered(args))

  private val headState =
    """(SELECT o_orderkey, CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2 ELSE o_totalprice END
      |   AS o_totalprice FROM orders WHERE o_orderkey % 17 <> 0)""".stripMargin

  // pgstream's `EXTRACT(EPOCH FROM ts)`: Spark 4 spells it unix_timestamp
  private def epochSpark(c: String) = s"unix_timestamp($c)"
  private def epochDuck(c: String) = s"CAST(epoch($c) AS BIGINT)"

  private def tsLiteral(sec: Long): String =
    java.time.Instant.ofEpochSecond(sec).toString.replace("T", " ").replace("Z", "")

  /** A one-year window inside the generated date span, as two literals:
    * every seed's window selects about the same share of rows.
    */
  private def year(r: Random): (String, String) = {
    val from = Gen.epoch0 + (r.nextDouble() * (Gen.dateSpanS - 365L * 86400L)).toLong
    (tsLiteral(from), tsLiteral(from + 365L * 86400L))
  }

  /** The query mix; each entry renders one instance from the rng. */
  private val templates: IndexedSeq[(String, Random => (String, String))] = IndexedSeq(
    "join4_between_epoch_limit" -> { r =>
      val lo = 1000 + r.nextInt(300000)
      val t = """SELECT o.o_orderkey, c.c_name, n.n_name, l.l_linenumber, l.l_extendedprice,
                |       {5} AS epoch_s
                |FROM orders o
                |JOIN customer c ON o.o_custkey = c.c_custkey
                |JOIN nation n ON c.c_nationkey = n.n_nationkey
                |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                |WHERE o.o_totalprice BETWEEN {1} AND {2} AND n.n_regionkey = {3}
                |ORDER BY l.l_extendedprice DESC, o.o_orderkey, l.l_linenumber
                |{4}""".stripMargin
      render(t, t.replace("{5}", epochDuck("o.o_orderdate")), Seq(f(lo.toDouble), f(lo + 20000.0), f(r.nextInt(5)), f(SqlFrag("LIMIT 25")), epochSpark("o.o_orderdate")))
    },
    "grouped_agg" -> { r =>
      val t = """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty,
                |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                |       round(avg(l_discount), 6) AS avg_disc
                |FROM lineitem WHERE l_shipdate >= TIMESTAMP {1} AND l_shipdate < TIMESTAMP {2}
                |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin
      val (from, to) = year(r)
      render(t, t, Seq(f(from), f(to)))
    },
    "window_rank" -> { r =>
      val lo = 1 + r.nextInt(Gen.nCustomer - 200)
      val t = """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
                |  SELECT o_custkey, o_orderkey, o_totalprice,
                |         rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
                |  FROM orders WHERE o_custkey BETWEEN {1} AND {2}) w
                |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin
      render(t, t, Seq(f(lo), f(lo + 150)))
    },
    "topk_spend" -> { r =>
      val t = """SELECT c.c_custkey, c.c_name, round(sum(o.o_totalprice), 2) AS spend, count(*) AS n
                |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
                |WHERE c.c_mktsegment = {1} AND o.o_orderdate >= TIMESTAMP {2} AND o.o_orderdate < TIMESTAMP {3}
                |GROUP BY c.c_custkey, c.c_name ORDER BY spend DESC, c.c_custkey LIMIT {4}""".stripMargin
      val (from, to) = year(r)
      render(t, t, Seq(f(Gen.segments(r.nextInt(Gen.segments.size))), f(from), f(to), f(20)))
    },
    "array_cosine_topk" -> { r =>
      val v = Seq.fill(Gen.vecDim)(math.round(r.nextGaussian() * 1000) / 1000.0)
      val t = """SELECT vec_id, round(cosine_sim(embedding, {1}), 4) AS sim
                |FROM embeddings WHERE label = {2} ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
      val d = """SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), {1}), 4) AS sim
                |FROM embeddings WHERE label = {2} ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
      val label = f(r.nextInt(8))
      val sparkVec = v.map(x => s"CAST(${f(x)} AS FLOAT)").mkString("array(", ", ", ")")
      val duckVec = v.map(x => s"CAST(CAST(${f(x)} AS FLOAT) AS DOUBLE)").mkString("[", ", ", "]")
      (Query(t).formatRendered(Seq(sparkVec, label)), Query(d).formatRendered(Seq(duckVec, label)))
    },
    "asof_join" -> { r =>
      val lo = 1 + r.nextInt(Gen.nEvents - 300)
      val t = """SELECT event_id, o_orderkey, {3} AS od FROM (
                |  SELECT e.event_id, o.o_orderkey, o.o_orderdate,
                |         row_number() OVER (PARTITION BY e.event_id
                |                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
                |  FROM events e JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
                |  WHERE e.event_id BETWEEN {1} AND {2}) x
                |WHERE rn = 1 ORDER BY event_id""".stripMargin
      render(t, t.replace("{3}", epochDuck("o_orderdate")), Seq(f(lo.toLong), f(lo + 200L), epochSpark("o_orderdate")))
    },
    "range_join" -> { r =>
      val lo = 1 + r.nextInt(Gen.nPart - 30)
      val band = Seq((0.5, 0.75), (1.0, 1.25), (1.5, 1.75), (2.0, 2.25))(r.nextInt(4))
      val t = """SELECT p.p_partkey, count(*) AS n, sum(l.l_quantity) AS qty
                |FROM part p JOIN lineitem l
                |  ON l.l_extendedprice BETWEEN p.p_retailprice * {1} AND p.p_retailprice * {2}
                |WHERE p.p_partkey BETWEEN {3} AND {4}
                |GROUP BY p.p_partkey ORDER BY p.p_partkey""".stripMargin
      render(t, t, Seq(f(band._1), f(band._2), f(lo.toLong), f(lo + 20L)))
    },
    "lake_head" -> { r =>
      val lo = 1 + r.nextInt(Gen.nOrders - 3000)
      val t = """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total
                |FROM graft.db.orders_lake WHERE o_orderkey BETWEEN {1} AND {2}""".stripMargin
      val d = s"""SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total
                 |FROM $headState h WHERE o_orderkey BETWEEN {1} AND {2}""".stripMargin
      render(t, d, Seq(f(lo.toLong), f(lo + 2500L)))
    },
    "lake_version_as_of" -> { r =>
      val k = r.nextInt(vInsert.size)
      val lo = 1 + r.nextInt(Gen.nOrders - 3000)
      val t = """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total
                |FROM graft.db.orders_lake VERSION AS OF {3} WHERE o_orderkey BETWEEN {1} AND {2}""".stripMargin
      val d = s"""SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total
                 |FROM orders WHERE o_orderkey BETWEEN {1} AND {2} AND o_orderkey % 3 <= $k""".stripMargin
      render(t, d, Seq(f(lo.toLong), f(lo + 2500L), f(vInsert(k))))
    },
    "lake_changes_window" -> { r =>
      val k = r.nextInt(vInsert.size)
      val from = if (k == 0) vCreate else vInsert(k - 1)
      val t = """SELECT _change, count(*) AS n, round(sum(o_totalprice), 2) AS total
                |FROM graft.db.`orders_lake$changes${1}${2}` GROUP BY _change ORDER BY _change""".stripMargin
      val d = s"""SELECT 'added' AS _change, count(*) AS n, round(sum(o_totalprice), 2) AS total
                 |FROM orders WHERE o_orderkey % 3 = $k""".stripMargin
      render(t, d, Seq(from.toString, vInsert(k).toString))
    })

  def inputgen(ctx: Ctx): Unit = Gen.tables(ctx.spark, ctx.seed, s"${ctx.inputs}/tables", ctx.cores)

  def seedLake(ctx: Ctx): Unit = {
    val s = ctx.spark
    graft.sources.Catalog.register(s, s"${ctx.inputs}/tables")
    val snap = () => new graft.sources.Snapshots(s, s"${ctx.lakeRoot}/db")
    s.sql("CREATE NAMESPACE graft.db")
    s.sql("""CREATE TABLE graft.db.orders_lake
            |(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderdate TIMESTAMP)""".stripMargin)
    vCreate = snap().currentVersion.get
    vInsert.clear()
    (0 until 3).foreach { k =>
      s.sql(s"""INSERT INTO graft.db.orders_lake
               |SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
               |WHERE o_orderkey % 3 = $k""".stripMargin)
      vInsert += snap().currentVersion.get
    }
    s.sql("UPDATE graft.db.orders_lake SET o_totalprice = o_totalprice * 2 WHERE o_orderkey % 10 = 0")
    s.sql("DELETE FROM graft.db.orders_lake WHERE o_orderkey % 17 = 0")
  }

  def run(ctx: Ctx, seconds: Double, minOps: Int = 0): LoopResult = {
    val r = new Random(ctx.streamSeed(ctx.seed * 7919L + 17L))
    val checkR = new Random(ctx.seed * 31L + 5L)
    val lat = mutable.ArrayBuffer[(String, Double)]()
    var failed = 0
    val checks = mutable.ArrayBuffer[String]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i < minOps || i % templates.size != 0) {
      val (tname, gen) = templates(i % templates.size)
      i += 1
      val (sql, duck) = gen(r)
      val (res, ms, _) = ctx.op(tname) {
        try Right(ctx.collect(ctx.spark.sql(sql))) catch { case e: Exception => Left(e) }
      }
      lat += ((tname, ms))
      res match {
        case Left(e) =>
          failed += 1
          System.err.println(s"[$tname] failed: ${e.getMessage}")
        case Right(rows) =>
          if (checks.size < AnalystReads.maxChecks && checkR.nextDouble() < 0.3)
            checks += Json(Map("id" -> i, "template" -> tname, "duck" -> duck, "sql" -> sql,
              "rows" -> rows.map(AnalystReads.cells).toSeq))
      }
    }
    Files.write(s"${ctx.work}/checks.jsonl", checks.iterator)
    LoopResult(lat.toSeq, lat.size.toDouble, lat.map(_._2).sum, lat.size, failed,
      Map("duck_checks_written" -> (checks.size.toDouble, "count")))
  }
}

object AnalystReads {
  val maxChecks = 40
  /** Row cells as JSON-friendly values. */
  def cells(row: Row): Seq[Any] = row.toSeq.map {
    case d: java.math.BigDecimal => d.doubleValue
    case f: Float => f.toDouble
    case i: Int => i.toLong
    case x => x
  }
}
