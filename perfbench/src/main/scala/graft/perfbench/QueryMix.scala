package graft.perfbench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry

/** `query_mix`: one analyst session over fixed data. Op `i` runs query
  * `order(i mod 11)` of a seed-shuffled order of [[QueryMix.Subset]]
  * (eleven of the 112 registered queries) and writes its
  * result to the `noop` sink, as `graft.Bench` does. An observation on
  * the written frame fingerprints the result (row count, xor and modular
  * sum of row hashes) during that same write; it must equal the
  * fingerprint recorded for that query.
  *
  * Traced ops split into `queries.build` (calling the query function)
  * and `queries.exec` (the write); the planning time of the write's
  * query execution comes from Spark's own planning tracker, so it is
  * measured without planning twice.
  */
final class QueryMix(ctx: Ctx) extends Workload {
  import QueryMix._
  private val spark = ctx.spark
  private val dir = ctx.data.toString
  private val order: Vector[String] =
    new scala.util.Random(ctx.seed).shuffle(Subset)
  private val expected: Map[String, Set[String]] = {
    val e = loadExpected()
    // negative control: one query's recorded fingerprint is corrupted
    if (ctx.perturb) e.updated(Subset.head, Set("0:0:0")) else e
  }
  private val family: Map[String, String] = Families.flatMap { case (f, qs) =>
    qs.map(_.name -> f) }.toMap

  /** Two passes: the first compiles every plan, the second settles. */
  def warmupOps: Int = (if (ctx.tiny) 1 else 2) * order.size
  def replayable: Boolean = true
  override def round: Int = order.size
  def setup(): Unit = ()
  override def label(i: Int): String = order(i % order.size)

  def op(i: Int): Outcome = {
    val name = order(i % order.size)
    val tr = ctx.trace
    val df = tr.span("queries.build")(SparkEntry.queries(name)(spark, dir))
    val obs = Observation(s"fp$i-${System.nanoTime()}")
    tr.span("queries.exec") {
      observed(df, obs).write.mode("overwrite").format("noop").save()
    }
    val got = fingerprint(obs.get)
    // hygiene a session would also do: drop what the query persisted
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    val want = expected.getOrElse(name, Set.empty)
    val ok = want.contains(got)
    Outcome(1, ok, if (ok) "" else s"$name fingerprint $got, expected ${want.mkString(" or ")}")
  }

  /** The fingerprint of every registered query, to record them. */
  def record(): Map[String, String] =
    SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val obs = Observation(s"rec-$name-${System.nanoTime()}")
      observed(SparkEntry.queries(name)(spark, dir), obs)
        .write.mode("overwrite").format("noop").save()
      name -> fingerprint(obs.get)
    }.toMap

  private def loadExpected(): Map[String, Set[String]] = {
    val p = ctx.data.resolve("fingerprints.tsv")
    if (!java.nio.file.Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile).getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> a(1).split(",").toSet).toMap
  }

  override def layerMetrics(ops: Seq[Trace.Span]): Map[String, Double] = {
    val tr = ctx.trace
    // (query, build s, plan s, exec s) per traced op
    val rows = ops.map { s =>
      val i = s.name.stripPrefix("op#").toInt
      val kids = tr.children(s)
      def dur(n: String) = kids.filter(_.name == n).map(_.durMs).sum / 1000.0
      val plan = kids.find(_.name == "queries.exec").map(tr.planMsIn).getOrElse(0.0) / 1000.0
      (order(i % order.size), dur("queries.build"), plan, dur("queries.exec") - plan)
    }
    val byFamily = rows.groupBy(r => family(r._1)).map { case (f, rs) =>
      s"queries.${f}_s" -> rs.map(_._4).sum / rs.size }
    Map(
      "queries.build_s" -> Stats.median(rows.map(_._2)),
      "queries.plan_s" -> Stats.median(rows.map(_._3)),
      "queries.exec_s" -> Stats.median(rows.map(_._4))) ++ byFamily
  }
}

object QueryMix {
  /** One query per family, plus the two domain queries that run the
    * `agg` layer (q37 Biovolume, q38 PsdFit); each under a second warm at
    * sf0.001.
    */
  val Subset: Vector[String] = Vector(
    "q04_star_broadcast_join", "q24_interval_join", "q33_datetime_battery",
    "q90_ecotaxa_export", "q37_biovolume_rollup", "q38_psd_fit",
    "q42_minhash_lsh_dedup", "q55_feature_extract",
    "q64_taxa_cleaner_40", "q61_pii_redact", "q77_skew_join_unsalted")

  val Families: Seq[(String, Seq[graft.GraftQuery])] = Seq(
    "core_relational" -> graft.queries.CoreRelational.all,
    "ordered_non_equi" -> graft.queries.OrderedNonEqui.all,
    "scalar_battery" -> graft.queries.ScalarBattery.all,
    "domain" -> graft.queries.Domain.all,
    "training_data" -> graft.queries.TrainingData.all,
    "feature_extract" -> graft.queries.FeatureExtract.all,
    "taxonomy" -> graft.queries.TaxonomyQueries.all,
    "corpus_battery" -> graft.queries.CorpusBattery.all,
    "skew_bench" -> graft.queries.SkewBench.all)

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** xxhash64 cannot hash maps; their JSON text is hashed instead. */
  private def hashable(c: org.apache.spark.sql.Column, t: DataType) =
    if (hasMap(t)) to_json(c) else c

  /** `df` with an order-independent fingerprint of its rows observed. */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val h = xxhash64(df.schema.fields.toSeq.map(f =>
      hashable(col(s"`${f.name.replace("`", "``")}`"), f.dataType)): _*)
    df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(pmod(h, lit(1000003L))).as("s"))
  }

  def fingerprint(m: Map[String, Any]): String =
    s"${m("n")}:${m("x")}:${m("s")}"
}
