package graftbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every table, corpus and change stream the
  * benchmark hands to graft is a pure function of the seed.
  */
object Gen {

  /** Word list of the fixture corpus (the `documents` table's vocabulary). */
  val vocab: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window",
    "stage")

  val segments: Seq[String] = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** Row counts of the analyst tables. */
  val nCustomer = 2000
  val nOrders = 20000
  val linesPerOrder = 2
  val nPart = 1000
  val nSupplier = 200
  val nEvents = 10000
  val nDocs = 200
  val nVecs = 400
  val vecDim = 16
  /** 1992-01-01T00:00:00Z and the span order dates are drawn from. */
  val epoch0 = 694224000L
  val dateSpanS: Long = 2400L * 86400L

  private def u(seed: Long, id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(n))

  private def pick(seed: Long, id: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (u(seed, id, salt, xs.size.toLong) + 1).cast("int"))

  private def ts(seed: Long, id: Column, salt: Int): Column =
    timestamp_seconds(lit(epoch0) + u(seed, id, salt, dateSpanS))

  def randomText(r: Random, minWords: Int, maxWords: Int): String =
    Seq.fill(minWords + r.nextInt(maxWords - minWords + 1))(vocab(r.nextInt(vocab.size))).mkString(" ")

  /** The TPC-H-like star schema plus `events`, `documents` and
    * `embeddings`, one parquet directory per table under `dir`.
    */
  def tables(s: SparkSession, seed: Long, dir: String, cores: Int): Unit = {
    val id = col("id")
    def save(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    // one file per table, or one per core for the large ones; no shuffle
    def range(from: Long, until: Long, parts: Int = 1) = s.range(from, until, 1, parts)

    save("region", range(0, 5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name")))
    save("nation", range(0, 25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")))
    save("customer", range(1, nCustomer + 1).select(id.as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
      u(seed, id, 1, 25).cast("int").as("c_nationkey"),
      ((u(seed, id, 2, 1100000) - 100000) / 100.0).as("c_acctbal"),
      pick(seed, id, 3, segments).as("c_mktsegment")))
    save("supplier", range(1, nSupplier + 1).select(id.as("s_suppkey"),
      concat(lit("Supplier#"), id).as("s_name"), u(seed, id, 4, 25).cast("int").as("s_nationkey"),
      ((u(seed, id, 5, 1100000) - 100000) / 100.0).as("s_acctbal")))
    save("part", range(1, nPart + 1).select(id.as("p_partkey"),
      concat(lit("part "), id).as("p_name"),
      concat(lit("Brand#"), u(seed, id, 6, 5) + 1, u(seed, id, 7, 5) + 1).as("p_brand"),
      pick(seed, id, 8, Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")).as("p_type"),
      (u(seed, id, 9, 50) + 1).cast("int").as("p_size"),
      ((u(seed, id, 10, 110000) + 90000) / 100.0).as("p_retailprice")))
    save("orders", range(1, nOrders + 1, cores).select(id.as("o_orderkey"),
      (u(seed, id, 11, nCustomer) + 1).as("o_custkey"),
      pick(seed, id, 12, Seq("O", "F", "P")).as("o_orderstatus"),
      ((u(seed, id, 13, 40000000) + 100000) / 100.0).as("o_totalprice"),
      ts(seed, id, 14).as("o_orderdate"),
      pick(seed, id, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    save("lineitem", range(0, nOrders.toLong * linesPerOrder, cores).select(
      (id.divide(linesPerOrder).cast("long") + 1).as("l_orderkey"),
      (u(seed, id, 16, nPart) + 1).as("l_partkey"),
      (u(seed, id, 17, nSupplier) + 1).as("l_suppkey"),
      (id % linesPerOrder + 1).cast("int").as("l_linenumber"),
      (u(seed, id, 18, 50) + 1).cast("double").as("l_quantity"),
      ((u(seed, id, 19, 9000000) + 90000) / 100.0).as("l_extendedprice"),
      (u(seed, id, 20, 11) / 100.0).as("l_discount"),
      (u(seed, id, 21, 9) / 100.0).as("l_tax"),
      pick(seed, id, 22, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, id, 23, Seq("O", "F")).as("l_linestatus"),
      ts(seed, id, 24).as("l_shipdate")))
    save("events", range(1, nEvents + 1, cores).select(id.as("event_id"),
      ts(seed, id, 25).as("ts"), (u(seed, id, 26, nCustomer) + 1).as("user_id"),
      pick(seed, id, 27, Seq("view", "click", "cart", "buy")).as("event_type"),
      (u(seed, id, 28, 100000) / 100.0).as("value"),
      concat(lit("{\"k\":"), u(seed, id, 29, 100), lit("}")).as("props")))

    val r = new Random(seed ^ 0x5eedL)
    val docRows = (0 until nDocs).map { i =>
      val text = randomText(r, 15, 80)
      (i.toLong, text, "en", s"src${i % 20}", text.length.toLong)
    }
    save("documents", s.createDataFrame(docRows).toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1))
    val vecRows = (0 until nVecs).map { i =>
      (i.toLong, Array.fill(vecDim)((r.nextGaussian()).toFloat), r.nextInt(8))
    }
    save("embeddings", s.createDataFrame(vecRows).toDF("vec_id", "embedding", "label").coalesce(1))
  }
}
