package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.agg.Biovolume
import graft.sources.Sinks

/** The flagship end-to-end job (SURVEY.md §3.1, `ifcb-data-pipeline.Rmd`):
  * one lazy DAG from scans through enrichment joins, the biovolume
  * rollup, QC gating, the W1 adjacency filter, to the fixed-contract
  * delivery projection and TSV sink (K1).
  *
  * Inputs are abstract frames so the job runs identically over the real
  * IFCB-shaped tables or the synthetic stand-ins; the driver smoke path
  * uses [[runOnSynthetic]].
  *
  * Plan shape at scale: dims broadcast (J1 chain — no fact shuffle),
  * one groupBy shuffle for the rollup, one window partitioned by sample
  * prefix (never a global sort), projection is pure map-side.
  */
object SharkExport {

  /** Sample-id → timestamp for the MYEAR contract column: the canonical
    * IFCB id (`D20230801T120000_IFCB134`) decodes through the
    * [[graft.sources.HdrSource]] filename codec — a bare
    * `try_to_timestamp` can NEVER parse that format, which silently
    * nulled MYEAR for every real delivery row (round-11 review);
    * plain-timestamp ids (fixtures) still parse via the first branch.
    * Ids matching neither yield null, same as before.
    */
  def sampleTimestamp(sample: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(
      try_to_timestamp(sample),
      try_to_timestamp(
        regexp_extract(sample, "D(\\d{8}T\\d{6})", 1), lit("yyyyMMdd'T'HHmmss")))

  /** @param roi       per-ROI rows: sample, class_name, vol_um3, is_diatom
    * @param sampleDim sample-grain dim: sample, ml_analyzed, lat, lon
    * @param flags     QC flags per sample: sample, flag
    * @param removeFlagged flags whose samples are dropped (P4 semantics,
    *                  case-insensitive substring — Rmd:1300-1302)
    * @param adjacencyPartition REQUIRED partition for the W1 adjacency
    *                  window — pass the run-sequence grain, e.g.
    *                  (instrument, year). No default: a constant here
    *                  funnels the whole delivery through ONE task's sort
    *                  (the scale footgun VERDICT r1 flagged); callers
    *                  with a single small run can pass an explicit
    *                  constant consciously.
    */
  def delivery(
      roi: DataFrame, sampleDim: DataFrame, flags: DataFrame,
      removeFlagged: Seq[String],
      adjacencyPartition: org.apache.spark.sql.Column,
      adjacencyUniverse: Option[DataFrame] = None): DataFrame = {
    // decimal sums: per-row double arithmetic is bit-deterministic, but
    // double ADDITION is order-dependent across partitionings — a
    // delivery export must reproduce bit-identically across retries and
    // cluster layouts, so carbon rounds to 4 decimals per row and both
    // sums run exact in decimal (the q37 rollup discipline)
    import graft.GraftQuery.{dsum, D4}
    val rolled = roi
      .withColumn("carbon_pg",
        round(Biovolume.carbonPg(col("is_diatom"), col("vol_um3")), 4))
      .groupBy(col("sample"), col("class_name"))
      .agg(
        count(lit(1)).as("counts"),
        dsum(col("vol_um3"), D4).as("biovolume_um3"),
        dsum(col("carbon_pg"), D4).as("carbon_pg"))

    val flagAgg = flags.groupBy("sample")
      .agg(concat_ws(", ", sort_array(collect_list("flag"))).as("flag"))

    // P4: drop samples whose flag contains any removeFlagged term
    val lowered = lower(coalesce(col("flag"), lit("")))
    val keep = removeFlagged
      .map(t => !lowered.contains(t.toLowerCase))
      .reduceOption(_ && _).getOrElse(lit(true))

    // W1: also drop samples adjacent (±1 in sample order) to a "bubbles"
    // flag. Adjacency is meaningful within one instrument's run sequence
    // (SURVEY.md §7.4 risk 2) — callers pass e.g. (instrument, year) as
    // adjacencyPartition so the sort is distributed, never global.
    // The window runs at SAMPLE grain (one row per sample), not over the
    // (sample, class) delivery rows: class rows tie on the sample sort
    // key, and lag/lead across arbitrary tie order would make WHICH class
    // rows survive nondeterministic; a whole sample is adjacent or it
    // is not.
    // One sample-grain QC frame carries BOTH the flag string and the
    // adjacency verdict. Spark shares no subplans, so the earlier shape —
    // flag join on `rolled`, adjacency dim re-derived from `rolled` and
    // `flagAgg` — executed the ROI scan, the decimal rollup shuffle, and
    // the flag aggregation twice per action. The sample universe comes
    // from roi directly (value-identical: rolled groups roi by
    // (sample, class)), which prunes this branch to a one-column scan +
    // distinct; flagAgg and the rollup now appear exactly once in the DAG.
    // the adjacency SORT must run over the run-sequence sample universe,
    // which is not necessarily this call's roi subset: the manual branch
    // of deliveryWithManual passes only annotated samples, and lag/lead
    // over that subset would treat non-neighboring samples as adjacent
    // (round-12 review — a clean sample two slots after a bubbles sample
    // lost its ValidatedByHuman rows). `adjacencyUniverse` carries the
    // full universe; the inner join below prunes back to rolled's
    // samples, so extra universe rows only inform the sort.
    // NO broadcast() hints on sample-grain frames (round-15): the sample
    // universe SCALES WITH THE DATA — the sf1→sf10 decade run measured
    // the forced hint materializing a 2 GB broadcast (15M samples) that
    // OOM-killed the job, exactly the failure mode a 100 TB deployment
    // would hit. Size-based planning broadcasts these while they are
    // dim-like and AQE re-plans at runtime from actual sizes; only
    // FIXED-cardinality dims (the diatom class dim below) keep hints.
    val w = Window.partitionBy(adjacencyPartition).orderBy(col("sample"))
    val sampleQc = adjacencyUniverse.getOrElse(roi)
      .select(col("sample")).distinct()
      .join(flagAgg, Seq("sample"), "left")
      .withColumn("__bub",
        lower(coalesce(col("flag"), lit(""))).contains("bubbles"))
      .withColumn("__drop_adj",
        coalesce(lag(col("__bub"), 1).over(w), lit(false)) ||
          coalesce(lead(col("__bub"), 1).over(w), lit(false)))
      .select(col("sample"), col("flag"), col("__drop_adj"))

    // J1 star enrichment: sample dim + the QC frame (inner join on the
    // QC frame is lossless: its universe is exactly rolled's sample
    // set). Unhinted — see the sample-grain note above.
    rolled
      .join(sampleDim, Seq("sample"), "left")
      .join(sampleQc, Seq("sample"))
      .filter(keep && !col("__drop_adj"))
      .select(
        year(sampleTimestamp(col("sample"))).as("MYEAR"),
        col("sample").as("SMPNO"),
        col("lat").as("LATIT"),
        col("lon").as("LONGI"),
        col("class_name").as("LATNM"),
        col("counts").as("COUNTNR"),
        Biovolume.perLiter(col("counts"), col("ml_analyzed")).as("ABUND"),
        (col("biovolume_um3") / 1e9).as("BIOVOL"),
        Biovolume.perLiter(col("carbon_pg") / 1e6, col("ml_analyzed")).as("C_CONC"))
  }

  /** Manual-annotation ROI rows (ifcb_delivery_data_to_shark.R:236-254):
    * human class labels from the SQLite annotations keyed to kernel
    * features by (sample, roi_number) — class from the annotator, volume
    * from the kernel, diatom flag from the class dim. Pixel³ biovolume
    * scales to µm³ by `micronFactor`³.
    *
    * @param annotations [[graft.sources.SqliteSource.annotations]] frame
    * @param features    kernel output keyed (sample, roi_number) with
    *                    `Biovolume` in px³ (the IngestQc/Features shape)
    * @param diatomDim   (class_name, is_diatom) lookup
    */
  def manualRoi(
      annotations: DataFrame, features: DataFrame, diatomDim: DataFrame,
      micronFactor: Double = 1.0 / 2.77): DataFrame =
    annotations
      .select(col("sample_name").as("sample"), col("roi_number"),
        col("class_name"))
      .join(features.select(col("sample"), col("roi_number"),
        col("Biovolume")), Seq("sample", "roi_number"))
      .join(broadcast(diatomDim), Seq("class_name"), "left")
      .select(
        col("sample"), col("class_name"),
        (col("Biovolume") * math.pow(micronFactor, 3)).as("vol_um3"),
        coalesce(col("is_diatom"), lit(false)).as("is_diatom"))

  /** A5 last-annotation-per-sample (shark.R:268-277): each sample's
    * final annotator + analysis date, by annotation timestamp.
    */
  def manualAnalysisDates(annotations: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("sample_name"))
      .orderBy(col("timestamp").desc, col("annotator").desc)
    annotations
      .select(col("sample_name"), col("annotator"), col("timestamp"))
      .distinct()
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("sample_name").as("sample"), col("annotator"),
        to_date(col("timestamp")).as("analysis_date"))
  }

  /** Auto + manual delivery union (Rmd:1135-1139 `bind_rows`): machine
    * rows carry `PredictedByMachine`, annotation-derived rows
    * `ValidatedByHuman` with the A5 annotator/date provenance. Both
    * sides run through the same [[delivery]] contract projection.
    */
  def deliveryWithManual(
      autoRoi: DataFrame,
      annotations: DataFrame, features: DataFrame, diatomDim: DataFrame,
      sampleDim: DataFrame, flags: DataFrame,
      removeFlagged: Seq[String],
      adjacencyPartition: org.apache.spark.sql.Column,
      micronFactor: Double = 1.0 / 2.77): DataFrame = {
    // one adjacency universe for BOTH branches: the physical run
    // sequence is the union of machine-processed and annotated samples,
    // and each branch's lag/lead must see the same neighbors (round-12
    // review — the manual branch used to sort only annotated samples)
    val universe = autoRoi.select(col("sample"))
      .unionByName(annotations.select(col("sample_name").as("sample")))
      .distinct()
    val auto = delivery(autoRoi, sampleDim, flags, removeFlagged,
        adjacencyPartition, adjacencyUniverse = Some(universe))
      .withColumn("VERIF", lit("PredictedByMachine"))
      .withColumn("ANA_RESP", lit(null).cast("string"))
      .withColumn("ANADATE", lit(null).cast("date"))
    val manual = delivery(
        manualRoi(annotations, features, diatomDim, micronFactor),
        sampleDim, flags, removeFlagged, adjacencyPartition,
        adjacencyUniverse = Some(universe))
      // annotation-grain: scales with the data like the sample frames
      // above — unhinted for the same reason
      .join(manualAnalysisDates(annotations)
          .withColumnRenamed("sample", "SMPNO"),
        Seq("SMPNO"), "left")
      .withColumn("VERIF", lit("ValidatedByHuman"))
      .withColumnRenamed("annotator", "ANA_RESP")
      .withColumnRenamed("analysis_date", "ANADATE")
    auto.unionByName(manual.select(auto.columns.map(col): _*))
  }

  /** Synthetic-table instantiation of [[delivery]], shared by q73 and
    * [[runOnSynthetic]]: lineitem as ROI grain, orders as the sample dim,
    * a deterministic flag table.
    */
  def synthetic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = graft.Tables.lineitem(spark, dir)
    val or = graft.Tables.orders(spark, dir)
    val roi = li.select(
      concat(lit("S"), $"l_orderkey").as("sample"),
      $"l_returnflag".as("class_name"),
      ($"l_extendedprice" / 10.0).as("vol_um3"),
      ($"l_returnflag" === "A").as("is_diatom"))
    val dim = or.select(
      concat(lit("S"), $"o_orderkey").as("sample"),
      ($"o_totalprice" / 10000.0).as("ml_analyzed"),
      lit(57.5).as("lat"), lit(11.8).as("lon"))
    val flags = or.filter($"o_orderkey" % 97 === 0).select(
      concat(lit("S"), $"o_orderkey").as("sample"),
      when($"o_orderkey" % 2 === 0, "bubbles").otherwise("beads").as("flag"))
    // stand-in for the (instrument, year) run grain: synthetic sample ids
    // have no instrument, so partition on the id prefix — distributed
    // window, never a global single-task sort
    delivery(roi, dim, flags, removeFlagged = Seq("beads"),
        adjacencyPartition = substring($"sample", 1, 3))
      .drop("MYEAR") // synthetic sample ids carry no timestamp
  }

  /** [[synthetic]] written as a TSV delivery (driver smoke). */
  def runOnSynthetic(spark: SparkSession, dir: String, out: String): DataFrame = {
    val df = synthetic(spark, dir)
    Sinks.deliveryTsv(df, out)
    df
  }
}
