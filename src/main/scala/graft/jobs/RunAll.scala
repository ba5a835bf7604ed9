package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sinks

/** Multi-config orchestration — the reference's actual entry point
  * (`code/run_all.R:5-30`): a params_list of
  * (classifier × years × remove_flagged × multiyear_delivery) folded
  * over the delivery pipeline, one rendered output per config (and per
  * year when `multiyearDelivery = false`, mirroring the Rmd's year
  * loop vs combined delivery toggle).
  *
  * Spark-first composition: each classifier's base frames are resolved
  * ONCE and persisted across every config that names that classifier —
  * the reference re-renders the whole Rmd per config, re-reading all
  * inputs; here the scans are shared where legal (the base frames are
  * config-independent; year filters, flag filters, and the delivery
  * projection stay per-config because they change the result). The fold
  * itself is a driver loop over a handful of configs — the DATA never
  * loops; each config is one lazy DAG over the shared persisted base.
  */
object RunAll {

  /** One params_list entry (`run_all.R:6-19`).
    *
    * `f1Threshold` is carried for params_list shape parity and is
    * DELIBERATELY unused — the reference declares the parameter the
    * same way (`ifcb-data-pipeline.Rmd:11`: "not currently used"), so
    * overriding it changes nothing there either; it is not silently
    * dropped functionality (round-13 review).
    */
  final case class RunParams(
      classifier: String,
      years: Seq[Int],
      removeFlagged: Seq[String],
      multiyearDelivery: Boolean,
      f1Threshold: Double = 0.9)

  /** One classifier's input frames (the [[SharkExport.delivery]]
    * contract: per-ROI rows, sample dim, QC flags).
    */
  final case class ClassifierData(
      roi: DataFrame, sampleDim: DataFrame, flags: DataFrame)

  /** One delivery actually produced: the config, the scope (the years
    * it covers — all of `params.years` for a multiyear delivery, a
    * single year otherwise), and the frame.
    */
  final case class Delivery(
      params: RunParams, years: Seq[Int], frame: DataFrame)

  /** Folds `configs` over the delivery pipeline.
    *
    * @param data resolves a classifier name to its input frames; called
    *             once per DISTINCT classifier, results cached across
    *             that classifier's configs and released before return
    * @param adjacencyPartition the W1 run-sequence grain passed through
    *             to [[SharkExport.delivery]] (e.g. instrument + year)
    * @param sink invoked once per produced delivery (side effects:
    *             TSV write, report render); [[writeTsv]] gives the
    *             reference's output-per-config file layout
    * @return per-delivery summary rows:
    *         (classifier, years, removed_flags, n_rows, n_samples) — the
    *         driver-sized accounting the reference logs per render;
    *         removed_flags carries the config identity so two configs
    *         differing only in flag terms stay distinguishable
    */
  def run(
      spark: SparkSession,
      data: String => ClassifierData,
      configs: Seq[RunParams],
      adjacencyPartition: Column,
      sink: Delivery => Unit = _ => ()): DataFrame = {
    import spark.implicits._
    val byClassifier = configs.groupBy(_.classifier)
    val summaries = Seq.newBuilder[(String, String, String, Long, Long)]
    for ((classifier, cfgs) <- byClassifier.toSeq.sortBy(_._1)) {
      val base = data(classifier)
      // share the scans across this classifier's configs: every config
      // re-filters the same cached frames instead of re-scanning
      graft.Frames.scoped { s =>
        val roi = s.cache(base.roi)
        val dim = s.cache(base.sampleDim)
        val flags = s.cache(base.flags)
        for (cfg <- cfgs; yearSet <- scopes(cfg)) graft.Frames.scoped { sd =>
          // cache the (post-rollup, delivery-sized) frame so the sink
          // materialization and the summary aggregate below share ONE
          // execution of the delivery DAG instead of running it twice
          val d = sd.cache(
            deliveryFor(roi, dim, flags, cfg, yearSet, adjacencyPartition))
          sink(Delivery(cfg, yearSet, d))
          // two driver-sized aggregates per config — the accounting the
          // reference's render loop logs; rows/samples in one pass
          val (nRows, nSamples) = d
            .agg(count(lit(1)), countDistinct(col("SMPNO")))
            .as[(Long, Long)].head()
          summaries += ((classifier, yearSet.mkString("_"),
            cfg.removeFlagged.mkString(","), nRows, nSamples))
        }
      }
    }
    summaries.result()
      .toDF("classifier", "years", "removed_flags", "n_rows", "n_samples")
      .orderBy("classifier", "years", "removed_flags")
  }

  /** `multiyear_delivery = TRUE` → one combined delivery over all the
    * config's years; FALSE → the Rmd's year loop, one delivery each.
    */
  private def scopes(cfg: RunParams): Seq[Seq[Int]] =
    if (cfg.multiyearDelivery) Seq(cfg.years.sorted)
    else cfg.years.sorted.map(Seq(_))

  /** One config × year-scope delivery: year-filter the ROI grain (the
    * sample id carries the timestamp, as in [[SharkExport.delivery]]'s
    * MYEAR), then the shared delivery pipeline with the config's flag
    * terms. The year filter lands BEFORE the rollup shuffle — at scale
    * it prunes the fact table at the scan, not after aggregation.
    *
    * Fail-loudly: a sample id that does not parse as a timestamp cannot
    * be assigned to any year scope — silently dropping it from EVERY
    * config's delivery would be the silent-data-loss class this repo's
    * sources reject loudly, so the filter raises instead.
    */
  private[jobs] def deliveryFor(
      roi: DataFrame, sampleDim: DataFrame, flags: DataFrame,
      cfg: RunParams, yearSet: Seq[Int],
      adjacencyPartition: Column): DataFrame = {
    // SharkExport.sampleTimestamp: canonical IFCB ids AND plain
    // timestamps both parse; only ids matching neither raise below
    val yr = year(SharkExport.sampleTimestamp(col("sample")))
    val inScope = when(yr.isNull,
        raise_error(concat(
          lit("sample id not timestamp-parseable, cannot year-scope: "),
          col("sample"))).cast("boolean"))
      .otherwise(yr.isin(yearSet.map(Integer.valueOf): _*))
    // adjacency over the FULL roi universe, not the year-filtered
    // subset (round-12 review): lag/lead over a filtered frame is the
    // subset-universe bug deliveryWithManual's shared universe fixed —
    // with an adjacency partition coarser than year (the parameter
    // permits any grain), a flagged sample at a year boundary would
    // drop its neighbor in the multiyear delivery but keep it in the
    // per-year one. The W1 window must see the same neighbors
    // regardless of the year scope.
    SharkExport.delivery(
      roi.filter(inScope), sampleDim, flags, cfg.removeFlagged,
      adjacencyPartition, adjacencyUniverse = Some(roi))
  }

  /** The reference's file naming, one TSV directory per delivery:
    * `<out>/ifcb_data_export_<classifier>_<years joined by _>`
    * (`run_all.R:26-27` without the render timestamp — outputs are
    * overwrite-idempotent here, not append-versioned).
    *
    * The name omits the FLAG-TERM identity, so two configs differing
    * only in `removeFlagged` map to one directory and the second
    * overwrite silently discards the first delivery (round-14 review;
    * the reference disambiguates by render timestamp, which is
    * non-deterministic). Use [[tsvSink]] — which detects the collision
    * across the run's configs and disambiguates deterministically —
    * unless the caller guarantees distinct (classifier, years) keys.
    */
  def writeTsv(outDir: String)(d: Delivery): Unit =
    Sinks.deliveryTsv(d.frame, tsvPath(outDir, d, suffix = ""))

  private def tsvPath(outDir: String, d: Delivery, suffix: String): String =
    s"$outDir/ifcb_data_export_${sanitize(d.params.classifier)}_" +
      d.years.mkString("_") + suffix

  /** Collision-safe [[writeTsv]]: deliveries whose (classifier, years)
    * key is unique across `configs` keep the reference name; colliding
    * ones append a deterministic `_exclN`/`_exclNone` suffix derived
    * from the config's flag terms, so no configured delivery can
    * silently overwrite another.
    */
  def tsvSink(outDir: String, configs: Seq[RunParams]): Delivery => Unit = {
    val keys = for (cfg <- configs; ys <- scopes(cfg))
      yield (cfg.classifier, ys)
    val colliding = keys.groupBy(identity).filter(_._2.size > 1).keySet
    d => {
      val suffix =
        if (!colliding((d.params.classifier, d.years))) ""
        else if (d.params.removeFlagged.isEmpty) "_exclNone"
        else s"_excl${d.params.removeFlagged.size}_" +
          sanitize(d.params.removeFlagged.map(_.replace(" ", "-")).mkString("+"))
      Sinks.deliveryTsv(d.frame, tsvPath(outDir, d, suffix))
    }
  }

  private def sanitize(s: String): String =
    s.replaceAll("[^A-Za-z0-9_.-]", "_")
}
