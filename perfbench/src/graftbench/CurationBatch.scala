package graftbench

import scala.collection.mutable
import scala.util.Random

import graft.pipeline.{Dedup, TextOps}

/** Batch curation: a seeded corpus of fresh documents over the fixture
  * vocabulary, with injected exact duplicates and near-duplicates (token
  * edits, trigram Jaccard >= 0.7), split into fixed-size shards processed
  * in sequence. Each op takes the next shard, a directory no earlier op
  * read, through the public stages p01 (exact dedup, language, quality),
  * d04 (n-gram near-dup pairs) and t09 (decontamination against the
  * doc_id % 50 eval set). Shards are generated from the seed and written
  * just before their op, outside its timed window; warm-up shards are
  * numbered apart from the sampled loop's, so the sampled shards are the
  * same for a seed however many the warm-up ran. Every stage's output is
  * checked against the generator's model of the shard.
  */
class CurationBatch extends Workload {
  val name = "curation_batch"
  val tailPct = 50
  val warmupOps = 16
  val names = ("shard_p50_ms", "shard_tail_ms", "docs_per_s")

  val docsPerShard = 400
  /** Index of the first warm-up shard; sampled shards count from 0. */
  val warmupShard0 = 1000000
  private val enStops = Set("the", "a", "of", "and", "to", "in", "is")

  /** One shard: docs (id, text) and its injected near-dup pairs (a < b). */
  final case class Shard(dir: String, docs: IndexedSeq[(Long, String)], nearPairs: Set[(Long, Long)])

  private def trigrams(t: String): Set[String] =
    t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
  private def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = (a intersect b).size
    i.toDouble / (a.size + b.size - i)
  }

  /** A near-duplicate of `t`: a few token substitutions, kept only if its
    * trigram Jaccard with the original stays at or above 0.7.
    */
  private def nearDup(r: Random, t: String): String = {
    val base = trigrams(t)
    var edits = 1 + r.nextInt(3)
    while (edits >= 0) {
      val w = t.split(" ")
      (0 until edits).foreach(_ => w(r.nextInt(w.length)) = Gen.vocab(r.nextInt(Gen.vocab.size)))
      val c = w.mkString(" ")
      if (c != t && jaccard(base, trigrams(c)) >= 0.7) return c
      edits -= 1
    }
    t.split(" ").toSeq.appended("stage").mkString(" ")
  }

  private def genShard(r: Random, idx: Int): (IndexedSeq[(Long, String)], Set[(Long, Long)]) = {
    val id0 = idx.toLong * docsPerShard
    val docs = mutable.ArrayBuffer[(Long, String)]()
    val near = mutable.Set[(Long, Long)]()
    while (docs.size < docsPerShard) {
      val id = id0 + docs.size
      val x = r.nextDouble()
      if (docs.size > 10 && x < 0.04) docs += ((id, docs(r.nextInt(docs.size))._2)) // exact copy
      else if (docs.size > 10 && x < 0.12) {
        val (oid, ot) = docs(r.nextInt(docs.size))
        val c = nearDup(r, ot)
        if (jaccard(trigrams(ot), trigrams(c)) >= 0.7) near += ((oid, id))
        docs += ((id, c))
      } else docs += ((id, Gen.randomText(r, 40, 90)))
    }
    (docs.toIndexedSeq, near.toSet)
  }

  /** Shard `idx` of the seed's corpus, written to its own directory. */
  private def writeShard(ctx: Ctx, idx: Int): Shard = {
    val s = ctx.spark
    import s.implicits._
    val (docs, near) = genShard(new Random(ctx.seed * 15485863L + 11L + idx * 7919L), idx)
    val dir = s"${ctx.inputs}/shard$idx"
    docs.map { case (id, t) => (id, t, "en", s"src${id % 20}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Shard(dir, docs, near)
  }

  /** The corpus is written shard by shard, each before its own op. */
  def inputgen(ctx: Ctx): Unit = ()

  def seedLake(ctx: Ctx): Unit = ()

  /** p01's closed form over the shard: (pred_lang, split) -> (n_docs, tokens_total). */
  private def p01Model(sh: Shard): Map[(String, String), (Long, Long)] = {
    val owners = sh.docs.groupBy(_._2).values.map(_.minBy(_._1)).toSeq
    owners.flatMap { case (_, t) =>
      val toks = t.split(" ")
      val n = toks.length.toDouble
      val en = toks.count(enStops.contains)
      val q = BigDecimal(0.4 * (toks.distinct.length * 1.0 / n) + 0.4 * (1.0 - en * 1.0 / n) +
        0.2 * math.min(n / 100.0, 1.0)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (q <= 0.5) None
      else {
        val lang = if (en > 0) "en" else "und"
        val h = java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
        val b = f"${(h(0) & 0xff) >> 4}%x"
        val split = if (b < "c") "train" else if (b == "c" || b == "d") "val" else "test"
        Some(((lang, split), toks.length.toLong))
      }
    }.groupBy(_._1).map { case (k, xs) => k -> (xs.size.toLong, xs.map(_._2).sum) }
  }

  /** t09's closed form: (eval_id, train_id) -> shared distinct trigrams, >= 5. */
  private def t09Model(sh: Shard): Map[(Long, Long), Long] = {
    val sets = sh.docs.map { case (id, t) => id -> trigrams(t) }
    val evals = sets.filter(_._1 % 50 == 0)
    val index = mutable.HashMap[String, mutable.ArrayBuffer[Long]]()
    sets.filter(_._1 % 50 != 0).foreach { case (id, ts) => ts.foreach(g => index.getOrElseUpdate(g, mutable.ArrayBuffer()) += id) }
    evals.flatMap { case (e, ts) =>
      ts.toSeq.flatMap(g => index.getOrElse(g, Nil)).groupBy(identity)
        .collect { case (t, xs) if xs.size >= 5 => (e, t) -> xs.size.toLong }
    }.toMap
  }

  /** d04's closed form: every pair (a < b) with trigram Jaccard >= 0.6, with its Jaccard. */
  private def d04Model(sh: Shard): Map[(Long, Long), Double] = {
    val sets = sh.docs.map { case (id, t) => id -> trigrams(t) }
    val index = mutable.HashMap[String, mutable.ArrayBuffer[Int]]()
    sets.indices.foreach(i => sets(i)._2.foreach(g => index.getOrElseUpdate(g, mutable.ArrayBuffer()) += i))
    val shared = mutable.HashMap[(Int, Int), Int]()
    index.valuesIterator.foreach { ds =>
      for (x <- ds.indices; y <- x + 1 until ds.size) {
        val k = (ds(x), ds(y))
        shared(k) = shared.getOrElse(k, 0) + 1
      }
    }
    shared.iterator.map { case ((i, j), n) =>
      (sets(i)._1, sets(j)._1) -> n.toDouble / (sets(i)._2.size + sets(j)._2.size - n)
    }.filter(_._2 >= 0.6).toMap
  }

  def run(ctx: Ctx, seconds: Double, minOps: Int = 0): LoopResult = {
    val s = ctx.spark
    val lat = mutable.ArrayBuffer[(String, Double)]()
    val stageMs = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
    var failed = 0
    var docs = 0L
    var injected = 0L
    var found = 0L
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val shard0 = if (ctx.sampled) 0 else warmupShard0
    var i = 0
    def stage[A](n: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val out = ctx.step(s"pipeline.$n", "pipeline")(body)
      stageMs.getOrElseUpdate(n, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e6
      out
    }
    while (System.nanoTime() < deadline || i < minOps) {
      val sh = writeShard(ctx, shard0 + i)
      i += 1
      val ((p01, d04, t09), ms, _) = ctx.op("shard") {
        val a = stage("p01")(ctx.collect(TextOps.p01PipelineE2e(s, sh.dir)))
        val b = stage("neardup")(ctx.collect(Dedup.d04DedupNgram(s, sh.dir)))
        val c = stage("decontam")(ctx.collect(TextOps.t09Decontaminate(s, sh.dir)))
        (a, b, c)
      }
      lat += ("shard" -> ms)
      docs += sh.docs.size
      // untimed checks
      val p01Got = p01.map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
      val pairs = d04.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // d04 must return exactly the pairs at Jaccard >= 0.6, with their Jaccard
      val pairsModel = d04Model(sh)
      val d04Ok = pairs.keySet == pairsModel.keySet &&
        pairs.forall { case (k, j) => math.abs(pairsModel(k) - j) < 1e-4 }
      val t09Got = t09.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      injected += sh.nearPairs.size
      found += sh.nearPairs.count(pairs.contains)
      val p01Ok = p01Got == p01Model(sh)
      val t09Ok = t09Got == t09Model(sh)
      if (!(p01Ok && d04Ok && t09Ok)) {
        failed += 1
        System.err.println(s"shard ${sh.dir}: p01 $p01Ok d04 $d04Ok t09 $t09Ok")
      }
    }
    def mean(n: String) = stageMs.get(n).map(xs => xs.sum / xs.size).getOrElse(0.0)
    LoopResult(lat.toSeq, docs.toDouble, lat.map(_._2).sum, lat.size, failed,
      Map("near_dup_recall" -> (if (injected == 0) 1.0 else found.toDouble / injected, "ratio"),
        "docs" -> (docs.toDouble, "count")),
      Map("pipeline.p01_ms" -> (mean("p01"), "ms"), "pipeline.neardup_ms" -> (mean("neardup"), "ms"),
        "pipeline.decontam_ms" -> (mean("decontam"), "ms"),
        "pipeline.near_dup_found" -> (found.toDouble, "count"),
        "pipeline.near_dup_injected" -> (injected.toDouble, "count")))
  }
}
