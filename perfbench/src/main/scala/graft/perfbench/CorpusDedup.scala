package graft.perfbench

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.storage.StorageLevel
import graft.jobs.CorpusPrep
import graft.operators.Dedup

/** `corpus_dedup`: `CorpusPrep.run` over seeded synthetic corpus shards.
  * Op `i` runs shard `i mod shards` (written as parquet during setup);
  * item = input document. The ledger's `exact_dedup` and `near_dup`
  * counts must equal what the generator planted.
  *
  * Traced ops first probe the layers one public call at a time (each
  * result persisted and forced to `noop` inside its span), then run the
  * same `CorpusPrep.run` call as an untraced op.
  */
final class CorpusDedup(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val gen = CorpusGen.Spec(
    docs = if (ctx.tiny) 200 else 250,
    exactShare = 0.06, nearShare = 0.12, boilerplateShare = 0.25)
  private val shards = 2
  private val dir = ctx.work.resolve("corpus")
  private var truth = Vector.empty[CorpusGen.Truth]
  private val cfg = CorpusPrep.Config()

  def warmupOps: Int = if (ctx.tiny) 2 else 20
  def replayable: Boolean = true
  override def round: Int = shards

  def setup(): Unit = {
    import spark.implicits._
    truth = (0 until shards).map { s =>
      val (docs, t) = CorpusGen.shard(ctx.seed, s, gen)
      docs.toDF("id", "text").repartition(ctx.cores)
        .write.mode(SaveMode.Overwrite).parquet(dir.resolve(s"shard-$s").toString)
      t
    }.toVector
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** verified pairs of the traced probe, per op index */
  private val verified = scala.collection.mutable.HashMap.empty[Int, Long]
  private val ledgers = scala.collection.mutable.HashMap.empty[Int, Map[String, Long]]

  def op(i: Int): Outcome = {
    val s = i % shards
    val tr = ctx.trace
    val docs = spark.read.parquet(dir.resolve(s"shard-$s").toString)
    if (tr.recording) tr.span("probe") {
      val keep = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def pin(df: DataFrame): DataFrame = {
        val p = df.persist(StorageLevel.MEMORY_AND_DISK); keep += p; noop(p); p
      }
      try {
        val ann = tr.span("functions.annotate")(pin(CorpusPrep.annotate(docs, "text", cfg)))
        val gated = tr.span("jobs.gate")(pin(CorpusPrep.gate(ann, cfg)))
        val exact = tr.span("operators.exact_dedup")(
          pin(CorpusPrep.exactCanonical(gated, "id", "text", cfg)))
        val pairs = tr.span("operators.lsh_pairs") {
          val p = Dedup.minhashLshPairs(exact, "id", "text",
            shingleK = cfg.shingleK, minJaccard = cfg.minJaccard, maxBucket = cfg.maxLshBucket)
          verified(i) = p.count()
          p
        }
        tr.span("operators.clusters")(noop(Dedup.dupClusters(pairs)))
      } finally keep.foreach(_.unpersist(blocking = false))
    }
    val ledger = tr.span("run") {
      val f = CorpusPrep.run(docs, "id", "text", cfg)
      try f.stats.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      finally f.release()
    }
    if (tr.recording) ledgers(i) = ledger
    val t = truth(s)
    val wantExact = if (ctx.perturb) t.exactKept + 1 else t.exactKept
    val ok = ledger.get("input").contains(t.docs.toLong) &&
      ledger.get("exact_dedup").contains(wantExact.toLong) &&
      ledger.get("near_dup").contains(t.nearKept.toLong)
    Outcome(t.docs, ok,
      if (ok) "" else s"shard $s ledger $ledger, planted exact_dedup=$wantExact near_dup=${t.nearKept}")
  }

  override def layerMetrics(ops: Seq[Trace.Span]): Map[String, Double] = {
    val tr = ctx.trace
    def med(name: String): Double = Stats.median(ops.map { s =>
      tr.children(s).filter(_.name == "probe").flatMap(tr.children)
        .filter(_.name == name).map(_.durMs).sum / 1000.0 })
    val idx = ops.map(_.name.stripPrefix("op#").toInt)
    val cand = idx.flatMap(ledgers.get).map(_.getOrElse("lsh_candidate_pairs", 0L).toDouble)
    val maxB = idx.flatMap(ledgers.get).map(_.getOrElse("lsh_max_bucket", 0L).toDouble)
    val yieldFrac = idx.flatMap(i => for {
      v <- verified.get(i); l <- ledgers.get(i); c <- l.get("lsh_candidate_pairs") if c > 0
    } yield v.toDouble / c)
    Map(
      "functions.annotate_s" -> med("functions.annotate"),
      "jobs.gate_s" -> med("jobs.gate"),
      "operators.exact_dedup_s" -> med("operators.exact_dedup"),
      "operators.lsh_pairs_s" -> med("operators.lsh_pairs"),
      "operators.clusters_s" -> med("operators.clusters"),
      "operators.candidate_pairs" -> Stats.median(cand),
      "operators.lsh_max_bucket" -> Stats.median(maxB),
      "operators.pair_yield" -> Stats.median(yieldFrac))
  }
}

/** Seeded synthetic corpus with planted structure.
  *
  * Words are consonant-vowel pseudo-words of four to eight letters, so
  * none is a stopword of any `TextAnalysis` lexicon; every doc carries
  * "the"/"a" and at least 120 words, so every doc is English and clears
  * the quality gate. Planted, per shard:
  *  - exact duplicates: pairs of identical docs (same leading words,
  *    so the exact stage keeps one of each);
  *  - near duplicates: clusters of 3 docs that differ only in their
  *    first word, so the exact stage keeps them all. Each ends with all
  *    three opening five-word windows, so the three have the same
  *    5-shingle set (Jaccard 1): every band of any MinHash puts them in
  *    one bucket, and the planted clusters do not depend on the hash
  *    functions. (With the first word alone differing, Jaccard is ~0.98,
  *    but graft's eight MinHash functions are strongly correlated and
  *    such a pair was missed in a shard of seed 4.);
  *  - boilerplate: a fixed share of the singletons end with the same
  *    60-word block, one fixed text for every seed. Their pairwise Jaccard is ~0.25, below the 0.5 verify
  *    threshold, but whenever both minhashes of a band fall in the
  *    block they share a bucket: the hot buckets whose candidate volume
  *    is quadratic in their mass.
  */
object CorpusGen {
  final case class Spec(docs: Int, exactShare: Double, nearShare: Double, boilerplateShare: Double)
  final case class Truth(docs: Int, exactKept: Int, nearKept: Int)

  /** The boilerplate block is the same text for every seed: its own
    * smallest shingle hash decides how often a doc's minhash falls in it,
    * so a per-seed block made the hot-bucket mass, and with it the op's
    * cost, swing by about 40% from seed to seed.
    */
  private val Boilerplate = 20240601L

  private val Cons = "bcdfghjklmnprstvz"
  private val Vows = "aeiou"

  private def word(r: scala.util.Random): String = {
    val syl = 2 + r.nextInt(3)
    (0 until syl).map(_ => s"${Cons(r.nextInt(Cons.length))}${Vows(r.nextInt(Vows.length))}").mkString
  }

  private def text(r: scala.util.Random, words: Int): Vector[String] =
    Vector.tabulate(words)(k => if (k % 7 == 3) (if (r.nextBoolean()) "the" else "a") else word(r))

  /** Docs `(id, text)` of shard `s`, and what dedup must keep of them. */
  def shard(seed: Long, s: Int, spec: Spec): (Seq[(Long, String)], Truth) = {
    val r = new scala.util.Random(seed * 1000003L + s)
    val boiler = text(new scala.util.Random(Boilerplate), 60).mkString(" ")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var removedExact = 0
    var removedNear = 0
    val nExact = (spec.docs * spec.exactShare).toInt
    val nNear = (spec.docs * spec.nearShare).toInt
    while (out.size < nExact) {
      val t = text(r, 120 + r.nextInt(60)).mkString(" ")
      out += t
      out += t
      removedExact += 1
    }
    while (out.size < nExact + nNear) {
      val body = text(r, 120 + r.nextInt(60))
      val firsts = body.head +:
        Iterator.continually(word(r)).filter(_ != body.head).distinct.take(2).toVector
      val tail = firsts.flatMap(w => w +: body.slice(1, 5))
      firsts.foreach(w => out += (body.updated(0, w) ++ tail).mkString(" "))
      removedNear += 2
    }
    val singles = spec.docs - out.size
    val boilerplate = (singles * spec.boilerplateShare).round.toInt
    (0 until singles).foreach { k =>
      val t = text(r, 120 + r.nextInt(60)).mkString(" ")
      out += (if (k < boilerplate) s"$t $boiler" else t)
    }
    val docs = r.shuffle(out.toVector).zipWithIndex.map { case (t, k) => (s * 1000000L + k, t) }
    (docs, Truth(docs.size, docs.size - removedExact, docs.size - removedExact - removedNear))
  }
}
